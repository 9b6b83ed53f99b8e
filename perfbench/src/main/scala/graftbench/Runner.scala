package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload: `setups` fresh sessions (each: session start,
  * store fit where the workload has one, one untimed warm-up pass),
  * `warmups` further untimed passes, then a closed loop of passes for
  * the configured seconds on the last session. In a traced run every second pass is traced, so the run
  * also measures the tracing overhead against its own untraced passes.
  */
final class Runner(c: Main.Conf, wl: Workload) {
  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var meter: Meter = _

  private def startSession(i: Int): Unit = {
    if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    spark = Main.session(c, i)
    tracer = new Tracer(spark.sparkContext)
    meter = new Meter(tracer, c.nproc)
    spark.sparkContext.addSparkListener(meter)
    wl.spark = spark
    wl.tr = tracer
  }

  def run(): Map[String, Any] = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Runner.log("start")
    val setups = (0 until c.setups).map { i =>
      val t0 = System.nanoTime()
      startSession(i)
      wl.setup(i)
      tracer.pass("warmup", -1 - i) { wl.pass(-1 - i, s"${c.work}/warmup/$i") }
      val s = (System.nanoTime() - t0) / 1e9
      Map("setup_s" -> s, "fit_s" -> wl.fitSeconds,
        "since_process_start_s" -> (System.currentTimeMillis() - jvmStart) / 1e3)
    }

    // Further untimed passes outside set-up: the JIT and Spark's codegen
    // keep finding new hot code over the first passes of a session.
    for (k <- 0 until c.warmups) {
      val i = -1 - c.setups - k
      tracer.pass("warmup", i) { wl.pass(i, s"${c.work}/warmup/$i") }
    }

    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val counters = mutable.Map[Int, Map[String, Double]]()
    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while ((elapsed < c.seconds || i < c.minPasses) && i < wl.maxPasses) {
      val traced = c.trace && i % 2 == 1
      tracer.detailed = traced
      val out = s"${c.work}/out/$i"
      val cg0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val p0 = System.nanoTime()
      val err = try { tracer.pass("pass", i) { wl.pass(i, out) }; None }
      catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(2000)) }
      val wall = (System.nanoTime() - p0) / 1e9
      val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
      tracer.detailed = false
      if (traced && err.isEmpty)
        counters(i) = try wl.counters(i, out) catch { case _: Throwable => Map.empty }
      passes += Map("index" -> i, "input" -> wl.passInput(i), "out" -> out,
        "wall_s" -> wall, "codegen_compiles" -> compiles, "traced" -> traced, "error" -> err.orNull)
      i += 1
    }
    Runner.log(s"timed loop done: $i passes")
    val probes = if (c.trace) wl.probes() else Map.empty[String, Double]
    meter.drain()
    Runner.log("listener drained")
    val rss = peakRssMb()
    val rollup = new Rollup(c, tracer, meter)
    val result = Map(
      "workload" -> c.workload,
      "nproc" -> c.nproc,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version,
      "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "session_confs" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" }.toMap,
      "setups" -> setups,
      "passes" -> passes.zipWithIndex.map { case (p, k) =>
        p ++ rollup.passTotals(k) },
      "layers" -> (if (c.trace) rollup.layers(passes.indices.filter(k =>
        c.trace && k % 2 == 1 && passes(k)("error") == null), counters.toMap, probes,
        setups.map(_("fit_s").asInstanceOf[Double])) else Map.empty),
      "spans" -> (if (c.trace) rollup.spanTable() else Nil),
      "jobs" -> (if (c.trace) rollup.jobTable() else Nil),
      "peak_rss_mb" -> rss)
    Runner.log("rolled up")
    spark.stop()
    Runner.log("session stopped")
    result
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

object Runner {
  def log(msg: String): Unit = System.err.println(s"[graftbench ${java.time.Instant.now()}] $msg")
}

/** Per-pass rollups of the listener's counters and the spans. */
final class Rollup(c: Main.Conf, tr: Tracer, m: Meter) {
  private val spansByPass = tr.spans.groupBy(_.pass)
  private val jobsBySpan = m.jobs.values().asScala.toSeq.groupBy(_.span)

  private def spansOf(p: Int) = spansByPass.getOrElse(p, mutable.ArrayBuffer.empty[Span])
  private def accsOf(p: Int) = spansOf(p).flatMap(s => Option(m.accs.get(s.id)))
  private def jobsOf(p: Int) = spansOf(p).flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
  private def sumL(p: Int)(f: Acc => Long) = accsOf(p).map(f).sum
  private def jobWall(j: JobRec) = if (j.end < 0) 0.0 else (j.end - j.start) / 1e3

  def passTotals(p: Int): Map[String, Any] = Map(
    "cpu_s" -> sumL(p)(_.cpuNs) / 1e9,
    "shuffle_mb" -> sumL(p)(_.shuffleWrite) / 1e6,
    "gc_s" -> sumL(p)(_.gcMs) / 1e3,
    "jobs" -> sumL(p)(_.jobs),
    "tasks" -> sumL(p)(_.tasks))

  /** The layer a job belongs to: the innermost graft operator module on
    * its call-site stack, else the layer of the span it ran in. */
  private def layerOf(j: JobRec): String = j.module.map(_.toLowerCase).getOrElse(
    tr.spans.find(_.id == j.span).map(_.layer).getOrElse("pass"))

  private def passLayers(p: Int): Map[String, Double] = {
    val jobs = jobsOf(p)
    val spans = spansOf(p)
    def busy(layer: String) = jobs.filter(layerOf(_) == layer).map(jobWall).sum
    def spanSec(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    val graph = jobs.filter(_.module.contains("Graph"))
    val cuts = jobs.filter(_.cut)
    val execIds = jobs.flatMap(_.exec).distinct
    val ps = execIds.flatMap(m.planStats)
    val writeSpans = spans.filter(_.name == "sinks.write").map(_.id).toSet
    val graphCpu = m.jobCpu(graph.map(_.id).toSeq)
    Map(
      "sources.scan_rows" -> sumL(p)(_.inputRows).toDouble,
      "sources.scan_mb" -> sumL(p)(_.inputBytes) / 1e6,
      "checkpoints.cuts" -> cuts.size.toDouble,
      "checkpoints.cut_mb" -> sumL(p)(_.blockBytes) / 1e6,
      "checkpoints.cut_s" -> cuts.map(jobWall).sum,
      "graph.jobs" -> graph.size.toDouble,
      "graph.busy_s" -> graph.map(jobWall).sum,
      "graph.cpu_s" -> graphCpu / 1e9,
      "collections.build_s" -> spanSec("collections.build"),
      "relational.busy_s" -> busy("relational"),
      "dedup.busy_s" -> busy("dedup"),
      "corpus.busy_s" -> busy("corpus"),
      "similarity.busy_s" -> busy("similarity"),
      "sinks.write_mb" -> writeSpans.toSeq.flatMap(id => Option(m.accs.get(id)))
        .map(_.outputBytes).sum / 1e6,
      "sinks.write_s" -> spanSec("sinks.write"),
      "sinks.load_s" -> spanSec("sinks.load"),
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> sumL(p)(_.stages).toDouble,
      "exec.stall_s" -> sumL(p)(_.stallMs) / 1e3,
      "exec.exchanges" -> ps.map(_.exchanges).sum.toDouble,
      "exec.smj" -> ps.map(_.smj).sum.toDouble,
      "exec.bhj" -> ps.map(_.bhj).sum.toDouble,
      "exec.shj" -> ps.map(_.shj).sum.toDouble,
      "exec.bnlj" -> ps.map(_.bnlj).sum.toDouble,
      "exec.broadcast_mb" -> ps.map(_.broadcastBytes).sum / 1e6,
      "exec.shuffle_read_mb" -> sumL(p)(_.shuffleRead) / 1e6,
      "exec.fetch_wait_s" -> sumL(p)(_.fetchWaitMs) / 1e3,
      "exec.partition_skew" -> (accsOf(p).map(_.maxSkew) :+ 0.0).max,
      "exec.spill_mb" -> sumL(p)(_.spill) / 1e6,
      "exec.gc_s" -> sumL(p)(_.gcMs) / 1e3,
      "exec.task_retries" -> sumL(p)(_.failedTasks).toDouble)
  }

  /** Medians over the traced passes, plus counters, probes and the
    * tracing overhead against the run's untraced passes. */
  def layers(traced: Seq[Int], counters: Map[Int, Map[String, Double]],
             probes: Map[String, Double], fits: Seq[Double]): Map[String, Double] = {
    def med(xs: Seq[Double]) = Stats.median(xs)
    val per = traced.map(passLayers)
    val keys = per.flatMap(_.keys).distinct
    val cnt = counters.values.flatMap(_.keys).toSeq.distinct
    val rootWall = tr.spans.filter(_.name == "pass").map(s => s.pass -> s.seconds).toMap
    val tracedWall = med(traced.flatMap(rootWall.get))
    val untracedWall = med(rootWall.keys.filter(k => k >= 0 && !traced.contains(k) &&
      k % 2 == 0).toSeq.flatMap(rootWall.get))
    keys.map(k => k -> med(per.map(_.getOrElse(k, 0.0)))).toMap ++
      cnt.map(k => k -> med(counters.values.map(_.getOrElse(k, 0.0)).toSeq)).toMap ++
      probes ++
      Map("sinks.fit_s" -> med(fits),
        "trace.traced_pass_s" -> tracedWall,
        "trace.untraced_pass_s" -> untracedWall,
        "trace.overhead_s" -> (tracedWall - untracedWall))
  }

  /** Every job with the span and module it is attributed to. */
  def jobTable(): Seq[Map[String, Any]] = m.jobs.values().asScala.toSeq.sortBy(_.id).map(j =>
    Map("id" -> j.id, "span" -> j.span, "module" -> j.module.orNull, "layer" -> layerOf(j),
      "cut" -> j.cut, "seconds" -> jobWall(j), "cpu_s" -> m.jobCpu(Seq(j.id)) / 1e9))

  /** Every span with its duration and self time, for the artifact. */
  def spanTable(): Seq[Map[String, Any]] = tr.spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
    "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9,
    "seconds" -> s.seconds, "self_s" -> tr.selfSeconds(s),
    "jobs" -> jobsBySpan.getOrElse(s.id, Nil).size,
    "cpu_s" -> Option(m.accs.get(s.id)).map(_.cpuNs / 1e9).getOrElse(0.0)))
}
