package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One span: a call the benchmark makes into a layer. `layer` is the
  * prefix of the name ("sinks.write" belongs to layer "sinks"). */
final case class Span(id: Long, name: String, parent: Long, pass: Int,
                      start: Long, var end: Long = -1L) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (end - start) / 1e9
}

/** Spans around the benchmark's calls. The innermost open span's id is
  * published as a Spark local property so that every job launched
  * inside it (also from threads the program starts, which inherit local
  * properties) is keyed to it by [[Meter]].
  *
  * `detailed = false` records only the per-pass root span, which is
  * all the untraced end-to-end run needs for per-pass cpu and shuffle. */
final class Tracer(sc: SparkContext) {
  val PropKey = "graftbench.span"
  private val ids = new AtomicLong(0)
  private val stack = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer[Span]()
  @volatile var detailed = false
  @volatile var current: Long = 0L

  def pass[A](name: String, pass: Int)(body: => A): A = {
    val s = open(name, pass)
    try body finally close(s)
  }

  def span[A](name: String)(body: => A): A =
    if (!detailed || stack.isEmpty) body
    else {
      val s = open(name, stack.top.pass)
      try body finally close(s)
    }

  private def open(name: String, pass: Int): Span = {
    val parent = stack.headOption.map(_.id).getOrElse(0L)
    val s = Span(ids.incrementAndGet(), name, parent, pass, System.nanoTime())
    stack.push(s)
    spans += s
    current = s.id
    sc.setLocalProperty(PropKey, s.id.toString)
    s
  }

  private def close(s: Span): Unit = {
    s.end = System.nanoTime()
    stack.pop()
    current = stack.headOption.map(_.id).getOrElse(0L)
    sc.setLocalProperty(PropKey, stack.headOption.map(_.id.toString).orNull)
  }

  /** Self time: duration minus the part covered by direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
}

/** Per-span counters filled by [[Meter]]. */
final class Acc {
  var jobs, stages, tasks, failedTasks = 0L
  var cpuNs, gcMs, fetchWaitMs, stallMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, inputRows = 0L
  var outputBytes, blockBytes = 0L
  var maxSkew = 0.0
}

/** One job as seen by the listener. `module` is the innermost graft
  * operator module on the job's call-site stack (helpers excluded);
  * `cut` marks jobs launched by a lineage cut. */
final case class JobRec(id: Int, span: Long, module: Option[String],
                        cut: Boolean, exec: Option[Long], start: Long,
                        var end: Long = -1L)

/** Plan shape of one action's final adaptive plan. */
final case class PlanStats(exchanges: Int, smj: Int, bhj: Int, shj: Int,
                           bnlj: Int, broadcastBytes: Long)

/** The benchmark's own listener: task, stage, job and block-store
  * rollups keyed to the span open when each job started. */
final class Meter(tracer: Tracer, nproc: Int) extends SparkListener {
  private val Helpers = Set("Checkpoints", "Par")
  private val FramePat = """graft\.operators\.([A-Za-z]+)\$?\.""".r
  val accs = new ConcurrentHashMap[Long, Acc]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, java.lang.Integer]()
  private val jobCpuNs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageReads = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  @volatile var lastEvent: Long = System.nanoTime()

  /** Executor cpu nanoseconds of the tasks of `ids`' stages. */
  def jobCpu(ids: Seq[Int]): Double = ids.map(i => jobCpuNs.getOrDefault(i, 0L).toDouble).sum

  def acc(span: Long): Acc = accs.computeIfAbsent(span, _ => new Acc)

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(tracer.PropKey)))
      .map(_.toLong).getOrElse(tracer.current)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEvent = System.nanoTime()
    val span = spanOf(e.properties)
    val exec = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    // Adaptive query stages run their jobs from a thread pool whose
    // stack holds no caller frames; those jobs take the call site of
    // the SQL action they belong to.
    val own = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val site = if (own.contains("graft.")) own
      else exec.flatMap(x => Option(execSites.get(x))).getOrElse(own)
    val frames = site.split("\n").toSeq
    val module = frames.iterator.flatMap(f => FramePat.findFirstMatchIn(f).map(_.group(1)))
      .find(m => !Helpers.contains(m))
    val cut = frames.exists(_.contains("graft.operators.Checkpoints"))
    jobs.put(e.jobId, JobRec(e.jobId, span, module, cut, exec, e.time))
    e.stageInfos.foreach { s =>
      stageSpan.put(s.stageId, span)
      stageJob.putIfAbsent(s.stageId, Integer.valueOf(e.jobId))
    }
    val a = acc(span)
    a.synchronized { a.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    lastEvent = System.nanoTime()
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    lastEvent = System.nanoTime()
    val si = e.stageInfo
    val span = stageSpan.getOrDefault(si.stageId, tracer.current)
    val a = acc(span)
    val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L)
    val run = si.taskMetrics.executorRunTime
    // Stage wall not covered by compute: the wall minus the run time
    // spread over the cores the stage could use.
    val cores = math.max(1, math.min(si.numTasks, nproc))
    val reads = Option(stageReads.remove(si.stageId)).map(_.toSeq).getOrElse(Nil)
    val skew = if (reads.size < 2 || reads.sum < (1L << 20)) 0.0 else {
      val sorted = reads.sorted
      val med = sorted(sorted.size / 2).toDouble
      if (med <= 0) sorted.last.toDouble / math.max(1.0, reads.sum.toDouble / reads.size)
      else sorted.last / med
    }
    a.synchronized {
      a.stages += 1
      a.stallMs += math.max(0L, wall - run / cores)
      a.maxSkew = math.max(a.maxSkew, skew)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEvent = System.nanoTime()
    val a = acc(stageSpan.getOrDefault(e.stageId, tracer.current))
    val m = e.taskMetrics
    if (m != null) Option(stageJob.get(e.stageId)).foreach(j =>
      jobCpuNs.merge(j.intValue, m.executorCpuTime, (x, y) => x + y))
    a.synchronized {
      a.tasks += 1
      if (!e.taskInfo.successful) a.failedTasks += 1
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRows += m.inputMetrics.recordsRead
        a.outputBytes += m.outputMetrics.bytesWritten
      }
    }
    if (m != null && m.shuffleReadMetrics.totalBytesRead > 0) {
      val reads = stageReads.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer[Long]())
      reads.synchronized { reads += m.shuffleReadMetrics.totalBytesRead }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    lastEvent = System.nanoTime()
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      val a = acc(tracer.current)
      a.synchronized { a.blockBytes += b.memSize + b.diskSize }
    }
  }

  /** Final plan tree and posted metric values per SQL execution. */
  val plans = new ConcurrentHashMap[Long, SparkPlanInfo]()
  private val execSites = new ConcurrentHashMap[Long, String]()
  val accumValues = new ConcurrentHashMap[Long, java.lang.Long]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      plans.put(s.executionId, s.sparkPlanInfo)
      execSites.put(s.executionId, s.details)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.put(u.executionId, u.sparkPlanInfo)
    case d: SparkListenerDriverAccumUpdates =>
      d.accumUpdates.foreach { case (id, v) => accumValues.put(id, v) }
    case _ =>
  }

  def planStats(exec: Long): Option[PlanStats] = Option(plans.get(exec)).map(p =>
    PlanWalk.stats(p, id => accumValues.getOrDefault(id, 0L).longValue))

  /** Wait until the listener bus has been quiet for `quietMs`. */
  def drain(quietMs: Long = 400L, maxMs: Long = 15000L): Unit = {
    val t0 = System.nanoTime()
    while ((System.nanoTime() - lastEvent) / 1000000L < quietMs &&
           (System.nanoTime() - t0) / 1000000L < maxMs)
      Thread.sleep(50)
  }
}

/** Plan counts from the final adaptive plan tree of every SQL action.
  * The tree is the one Spark posts for the execution (the last adaptive
  * update wins), walked node by node: query stages, reused exchanges
  * and subqueries are nodes of it. The printed plan string, whose
  * "Initial Plan" section no longer describes what ran, is never read. */
object PlanWalk {
  def stats(root: SparkPlanInfo, accum: Long => Long): PlanStats = {
    var ex, smj, bhj, shj, bnlj = 0
    var bcBytes = 0L
    def walk(p: SparkPlanInfo): Unit = {
      p.nodeName match {
        case "Exchange" => ex += 1
        case "BroadcastExchange" =>
          bcBytes += p.metrics.filter(_.name == "data size").map(m => accum(m.accumulatorId)).sum
        case "SortMergeJoin" => smj += 1
        case "BroadcastHashJoin" => bhj += 1
        case "ShuffledHashJoin" => shj += 1
        case "BroadcastNestedLoopJoin" => bnlj += 1
        case _ =>
      }
      // A reused exchange's child is the original, counted where it ran.
      if (p.nodeName != "ReusedExchange") p.children.foreach(walk)
    }
    walk(root)
    PlanStats(ex, smj, bhj, shj, bnlj, bcBytes)
  }
}
