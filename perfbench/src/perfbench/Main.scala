package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** What one run measured and checked. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  /** The metrics every workload reports under the same names. */
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** The workload's own end-to-end metrics, named for what it serves. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, Any]

  def check(name: String, ok: Boolean, info: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else info))

  /** Set-up time: the median of the repeated set-ups. */
  def setup(s: Samples): Unit = {
    endToEnd("setup_s") = (s.median, "s")
    detail("setup_samples_s") = s.values
  }

  /** A named median and tail: the tail's percentile and sample count
    * go to the artifact beside it.
    */
  def medianAndTail(name: String, s: Samples, unit: String, scale: Double): Unit = {
    val (t, pct, n) = s.tail
    named(s"${name}_p50_$unit") = (s.median * scale, unit)
    named(s"${name}_tail_$unit") = (t * scale, unit)
    detail(s"${name}_tail") = Map("percentile" -> pct, "samples" -> n)
  }

  /** Spark, JVM and Janino figures of a traced region. */
  def regionLayers(r: Region, work: SparkWork): Unit = {
    perLayer("jvm.gc_pause_ms") = (r.gcMs.toDouble, "ms")
    perLayer("codegen.compile_s") = (r.compileS, "s")
    perLayer("codegen.classes") = (r.classes.toDouble, "count")
    work.metrics("spark").foreach { case (k, v, u) => perLayer(k) = (v, u) }
  }
}

/** Every per-layer metric with its unit. A workload reports 0 for a
  * layer it does not exercise.
  */
object PerLayer {
  private val spark = new SparkWork().metrics("spark").map { case (n, _, u) => n -> u }
  val catalog: Seq[(String, String)] = Seq(
    "ingest.normalize_s" -> "s", "ingest.payload_bytes" -> "bytes", "ingest.items" -> "count",
    "ingest.events" -> "count", "ingest.dead_letters" -> "count", "ingest.useful_ratio" -> "ratio",
    "sources.commit_s" -> "s", "sources.files_per_commit" -> "count",
    "sources.bytes_per_event" -> "bytes", "sources.table_files" -> "count",
    "state.extract_s" -> "s", "streaming.fold_s" -> "s", "streaming.state_rows" -> "count",
    "streaming.persons" -> "count", "streaming.driver_collect_bytes" -> "bytes",
    "flags.lookup_us" -> "us", "flags.eval_us" -> "us", "flags.render_us" -> "us",
    "flags.flags_per_request" -> "count", "flags.match_ratio" -> "ratio",
    "queries.build_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s",
    "llm.build_s" -> "s", "llm.plan_s" -> "s", "llm.exec_s" -> "s",
    "codegen.compile_s" -> "s", "codegen.classes" -> "count",
    "jvm.gc_pause_ms" -> "ms", "leak.persisted_rdds" -> "count",
    "trace.overhead_ratio" -> "ratio") ++ spark
}

/** Inputs every workload gets: the session, the generated-input seed,
  * the measuring time and the run's own directories.
  */
final case class Ctx(
    spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
    work: File, lake: String, counters: SparkCounters)

/** GC, old-generation peak, Janino and Spark work over one timed
  * region, from its construction to [[close]].
  */
final class Region(ctx: Ctx, seconds: Double) {
  ctx.counters.reset()
  private val gc0 = Jvm.gcMillis
  private val (cc0, cs0) = Codegen.totals
  Jvm.arm()
  val start: Long = System.nanoTime()
  val deadline: Long = start + (seconds * 1e9).toLong

  var heapPeakMb = 0.0
  var gcMs = 0L
  var classes = 0L
  var compileS = 0.0
  var work: Map[String, SparkWork] = Map.empty

  def close(): Region = {
    heapPeakMb = Jvm.disarm()
    gcMs = Jvm.gcMillis - gc0
    val (cc1, cs1) = Codegen.totals
    classes = cc1 - cc0
    compileS = cs1 - cs0
    work = ctx.counters.drained
    this
  }

  /** Spark work summed over every job group. */
  def total: SparkWork = { val w = new SparkWork; work.values.foreach(w.add); w }
}

trait Workload {
  def run(ctx: Ctx, out: Outcome): Unit
}

/** Benchmark driver: one workload per JVM.
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <lake dir>
  *   perfbench.Main --oracle-sql     (the lake queries' DuckDB oracle SQL, as JSON)
  *
  * Prints the run's result as one JSON line (prefixed `PERFBENCH `) and
  * writes the full artifact to `<work dir>/artifact.json`; a traced run
  * also writes every span to `<work dir>/spans.json`.
  */
object Main {
  val workloads: Map[String, Workload] = Map(
    "ingest_pipeline" -> IngestWorkload,
    "read_path" -> ReadPathWorkload)

  /** The session conf of the repository's bench main (graft.Bench),
    * with scratch space kept inside the run directory.
    */
  def session(cpus: Int, work: File): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "checkpoints").getPath)
      .getOrCreate()

  def main(args: Array[String]): Unit =
    if (args.sameElements(Seq("--oracle-sql")))
      println(Json(Lake.queries.map { case (q, _) => q -> graft.SparkEntry.oracleSql(q) }.toMap))
    else runWorkload(args)

  private def runWorkload(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, workS, lake) = args
    val wl = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val work = new File(workS)
    val cpus = Runtime.getRuntime.availableProcessors
    val env0 = Jvm.environment
    Jvm.install()
    val spark = session(cpus, work)
    spark.sparkContext.setLogLevel("ERROR")
    Codegen.install()
    Trace.sc = spark.sparkContext
    val ctx = Ctx(spark, seedS.toLong, secondsS.toDouble, traceS == "1", work, lake,
      new SparkCounters(spark.sparkContext))
    val out = new Outcome
    val t0 = System.nanoTime()
    val error =
      try { wl.run(ctx, out); None }
      catch { case e: Throwable => e.printStackTrace(); Some(e.toString) }
    val wall = (System.nanoTime() - t0) / 1e9
    error.foreach(e => out.check("run", ok = false, e))
    val correct = out.checks.forall(_._2)
    val metrics =
      if (ctx.trace) PerLayer.catalog.map { case (k, u) => k -> out.perLayer.getOrElse(k, (0.0, u)) }
      else out.endToEnd.toSeq
    val result = Map(
      "correct" -> correct,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }: _*))
    val artifact = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> ctx.seed, "seconds" -> ctx.seconds, "trace" -> ctx.trace,
      "cpus" -> cpus, "wall_s" -> wall,
      "conf" -> spark.conf.getAll.filter(_._1.startsWith("spark.sql.")).toSeq.sorted.toMap,
      "environment" -> Map("start" -> env0, "end" -> Jvm.environment),
      "checks" -> out.checks.map { case (n, ok, info) =>
        Map("name" -> n, "ok" -> ok, "info" -> info) },
      "end_to_end" -> out.endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "named" -> out.named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> out.perLayer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "detail" -> out.detail,
      "result" -> result)
    def write(name: String, body: String): Unit = {
      val w = new java.io.PrintWriter(new File(work, name), "UTF-8")
      try w.println(body) finally w.close()
    }
    write("artifact.json", Json(artifact))
    if (ctx.trace) write("spans.json", Json(Trace.spans))
    println("PERFBENCH " + Json(result))
    spark.stop()
  }
}
