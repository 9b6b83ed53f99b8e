package graftbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Hashes, Text}
import graft.operators.{Collections, Dedup, Relational}
import graft.queries.{GroupA3, GroupP}
import graft.sinks.ModelStore

/** The benchmark's JVM side. It drives graft's public entry points
  * from outside over seeded inputs that `run.py` generated, in one
  * process on `local[nproc]`, as a closed loop: each pass (or ingest
  * cycle) starts when the previous one has written its output.
  *
  * Usage (normally started by run.py):
  *   graftbench.Main workload=<name> inputs=<dir> work=<dir>
  *     seconds=<n> trace=<0|1> setups=<n> warmups=<n> nproc=<n>
  *     min_passes=<n> out=<json>
  *
  * Every pass writes its outputs under <work>/out/<pass>/ for run.py
  * to check against the DuckDB oracles; the oracle SQL is dumped to
  * <work>/oracles.json from SparkEntry.oracleSql.
  */
object Main {
  final case class Conf(workload: String, inputs: String, work: String,
                        seconds: Double, trace: Boolean, setups: Int,
                        warmups: Int, nproc: Int, minPasses: Int, out: String)

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val c = Conf(kv("workload"), kv("inputs"), kv("work"), kv("seconds").toDouble,
      kv("trace") == "1", kv("setups").toInt, kv("warmups").toInt, kv("nproc").toInt,
      kv("min_passes").toInt, kv("out"))
    val wl: Workload = c.workload match {
      case "collection_build" => new CollectionBuild(c)
      case "corpus_build" => new CorpusBuild(c)
      case "ingest_serving" => new IngestServing(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    dumpOracles(wl.oracles, s"${c.work}/oracles.json")
    val result = new Runner(c, wl).run()
    writeJson(result, c.out)
    Runner.log("result written")
    sys.exit(0)
  }

  def dumpOracles(names: Seq[String], path: String): Unit = {
    val all = graft.SparkEntry.oracleSql
    writeJson(names.map(n => n -> all(n)).toMap, path)
  }

  def writeJson(v: Any, path: String): Unit = {
    import org.json4s._
    import org.json4s.jackson.Serialization
    implicit val f: Formats = DefaultFormats
    val w = new PrintWriter(new File(path), "UTF-8")
    try w.write(Serialization.writePretty(v.asInstanceOf[AnyRef])) finally w.close()
  }

  def session(c: Conf, setup: Int): SparkSession = {
    val b = SparkSession.builder()
      .appName(s"graftbench-${c.workload}")
      .master(s"local[${c.nproc}]")
      .config("spark.sql.shuffle.partitions", c.nproc.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.ui.enabled", "false")
      // A pass plans a few hundred distinct whole-stage-codegen classes;
      // Spark's default cache of 100 evicts them within the pass, so
      // every pass would recompile them (Janino, then the JIT from the
      // interpreter up) inside its tasks. With room for all of them the
      // warm-up pass absorbs codegen, as it is meant to.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"${c.work}/checkpoints/$setup")
    s
  }
}

/** One workload: set up once per session, then run passes. */
abstract class Workload(val c: Main.Conf) {
  var spark: SparkSession = _
  var tr: Tracer = _
  def oracles: Seq[String]
  /** Load inputs and fit anything the passes read. */
  def setup(setupIndex: Int): Unit = ()
  /** One complete pass or cycle, writing under `out`. */
  def pass(index: Int, out: String): Unit
  /** Inputs of pass `index` (recorded for the checker). */
  def passInput(index: Int): String = "."
  /** The timed loop stops after this many passes. */
  def maxPasses: Int = 1000
  /** Traced passes only: counters read after the pass, outside its timing. */
  def counters(index: Int, out: String): Map[String, Double] = Map.empty
  /** Traced run only: isolated calls over the workload's inputs. */
  def probes(): Map[String, Double] = Map.empty
  /** Seconds the last setup spent fitting the serving store. */
  var fitSeconds = 0.0
  def in(name: String): String = s"${c.inputs}/$name"

  /** Median wall seconds of `reps` calls of `body` (a Spark action). */
  def timeIt(reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 })
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

// ------------------------------------------------------------ workloads

/** The reference's nightly collection build: p1's relation merge →
  * cone validation → rank/top-k → same-name merge → namehash, a25's
  * related collections (overlap pairs capped at df 40, top-5), and
  * p6's ES bulk render written to files. */
final class CollectionBuild(c0: Main.Conf) extends Workload(c0) {
  val oracles = Seq("p1_pipeline", "a25_related_collections", "p6_sync_render")

  def pass(index: Int, out: String): Unit = {
    val d = c.inputs
    // p1 with the registered query's arguments; the benchmark keeps the
    // namehash column that the registered projection drops, so the
    // keccak stamp is part of the pass.
    tr.span("collections.build") {
      Collections.build(GroupP.membersOf(spark, d), GroupP.entitiesOf(spark, d),
          GroupP.collectionsOf(spark, d), GroupP.typeEdgesOf(spark, d), topK = 5,
          relations = Some(GroupP.relationsOf(spark, d)), closureUniquePaths = true)
        .select(col("collection_name"), col("stable_id"), col("valid_cnt"),
          col("invalid_cnt"), round(col("rank"), 6).as("rank"),
          concat_ws(",", col("top_members")).as("top_members"),
          col("banner_number"), col("namehash"))
        .write.parquet(s"$out/p1_pipeline")
    }
    tr.span("relational.a25") {
      GroupA3.queries("a25_related_collections")(spark, d)
        .write.parquet(s"$out/a25_related_collections")
    }
    // p6 renders the snapshot diff to bulk NDJSON lines; the write is
    // the one EsBulk.write makes (one file per partition).
    tr.span("sinks.write") {
      GroupP.queries("p6_sync_render")(spark, d)
        .write.mode("overwrite").text(s"$out/p6_sync_render")
    }
  }

  /** Pairs overlapPairs emits for a25's membership (an untimed call
    * with a25's arguments) and the share of them the top-5 keeps. */
  override def counters(index: Int, out: String): Map[String, Double] = {
    val mem = Tables(spark, c.inputs, "lineitem")
      .select(col("l_orderkey").as("coll"), col("l_partkey").as("member")).distinct()
    val emitted = Relational.overlapPairs(mem, "coll", "member",
      dfCap = 40L, boundedDf = true).count().toDouble
    val kept = spark.read.parquet(s"$out/a25_related_collections").count()
    Map("relational.overlap_pairs" -> emitted,
      "relational.topk_kept_frac" -> (if (emitted == 0) 0.0 else kept / (2.0 * emitted)))
  }

  override def probes(): Map[String, Double] = {
    val names = Tables(spark, c.inputs, "part")
      .select(concat(col("p_name"), lit(".eth")).as("n")).localCheckpoint()
    val t = timeIt(3) {
      names.select(Hashes.namehash(col("n")).as("h")).write.format("noop").mode("overwrite").save()
    }
    names.unpersist()
    Map("functions.namehash_s" -> t)
  }
}

/** The training-data twin: p2's corpus pipeline over a corpus with
  * seeded near-duplicate families. */
final class CorpusBuild(c0: Main.Conf) extends Workload(c0) {
  val oracles = Seq("p2_corpus_pipeline")

  def pass(index: Int, out: String): Unit = {
    tr.span("pipeline.corpus") {
      GroupP.corpusPipeline(Tables(spark, c.inputs, "documents"))
        .write.parquet(s"$out/p2_corpus_pipeline")
    }
  }

  /** Isolated calls over the workload's documents: the tokenizer, and
    * the dedup layer's pair generator and canonical pick with the
    * pipeline's parameters (n 3, tau 0.5) over the whole corpus. */
  override def probes(): Map[String, Double] = {
    val docs = Tables(spark, c.inputs, "documents")
    val t = timeIt(3) {
      docs.select(size(Text.tokens(col("text"))).as("n"))
        .write.format("noop").mode("overwrite").save()
    }
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5)
      .localCheckpoint()
    val n = docs.count().toDouble
    val kept = Dedup.keepCanonical(docs, pairs, "doc_id").count()
    val r = Map("functions.tokens_s" -> t,
      "dedup.pairs" -> pairs.count().toDouble,
      "dedup.kept_frac" -> (if (n == 0) 0.0 else kept / n))
    pairs.unpersist()
    r
  }
}

/** The daily ingest on a fitted serving store: the store is fitted
  * once per setup (ServingStore/ModelStore), then every cycle loads the
  * dims, runs servingChain on a slice no earlier pass has seen and
  * saves its verdicts. */
final class IngestServing(c0: Main.Conf) extends Workload(c0) {
  val oracles = Seq("p4_ingest_pipeline")
  private var root: String = _
  private lazy val cycles: Seq[String] =
    new File(c.inputs).listFiles().map(_.getName).filter(_.startsWith("cycle-")).sorted.toSeq

  override def setup(setupIndex: Int): Unit = {
    // A fresh store per setup, so every setup pays the fit.
    System.setProperty("graft.model.dir", s"${c.work}/models/$setupIndex")
    val t0 = System.nanoTime()
    root = GroupP.ensureServingModels(spark, in("base"))
    fitSeconds = (System.nanoTime() - t0) / 1e9
  }

  // Warm-up passes have negative indices and slices of their own.
  override def passInput(index: Int): String =
    if (index < 0) s"warmup-${-1 - index}" else cycles(index)
  override def maxPasses: Int = cycles.size

  def pass(index: Int, out: String): Unit = {
    val slice = in(passInput(index))
    val dims = tr.span("sinks.load") {
      Seq("bloom_bits", "ex_shingles", "ex_sizes", "assignment", "centroids", "codebook")
        .map(n => n -> ModelStore.load(spark, s"$root/$n")).toMap
    }
    val verdicts = tr.span("pipeline.serving") {
      GroupP.servingChain(
        incoming = Tables(spark, slice, "documents"),
        sliceEmb = Tables(spark, slice, "embeddings"),
        bits = dims("bloom_bits"), exSh = dims("ex_shingles"), exSizes = dims("ex_sizes"),
        asg = dims("assignment"), cent = dims("centroids"), cb = dims("codebook"))
    }
    tr.span("sinks.write") { ModelStore.save(verdicts, s"$out/p4_ingest_pipeline") }
  }

  /** Bloom-gate counters from the cycle's own verdicts. */
  override def counters(index: Int, out: String): Map[String, Double] = {
    val r = spark.read.parquet(s"$out/p4_ingest_pipeline").agg(
      count(lit(1)).as("n"),
      sum(when(col("maybe_overlap"), 1L).otherwise(0L)).as("passed"),
      sum(when(col("maybe_overlap") && col("n_dup_old") > 0, 1L).otherwise(0L)).as("useful"),
      sum(col("n_dup_old")).as("pairs")).head()
    val n = r.getLong(0).toDouble; val passed = r.getLong(1).toDouble
    Map("dedup.gate_pass_frac" -> (if (n == 0) 0.0 else passed / n),
      "dedup.gate_useful_frac" -> (if (passed == 0) 0.0 else r.getLong(2) / passed),
      "dedup.pairs" -> r.getLong(3).toDouble)
  }

  override def probes(): Map[String, Double] = {
    val docs = Tables(spark, in(cycles.head), "documents")
    Map("functions.tokens_s" -> timeIt(3) {
      docs.select(size(Text.tokens(col("text"))).as("n"))
        .write.format("noop").mode("overwrite").save()
    })
  }
}
