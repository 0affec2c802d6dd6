package perfbench

import java.io.File

import graft.{SparkEntry, Tables}

/** Lake queries: the read path over landed data. One client runs the
  * query set in rounds, every query once per round in a seeded order;
  * each op is timed as registry builder call, physical planning and a
  * `noop` write. Nothing writes state.
  */
object Lake {

  /** op type → registry queries. The search queries hold the top-k
    * aggregate sites (domain top-k, mix top-k) and the nearest-centroid
    * assignment (IVF search). Queries that read the synthesized person
    * dimension (`Tables.scratch`, a cache outside the run directory)
    * are left out, and so are the streaming drives, whose 5 s per
    * query would leave one sample per run.
    */
  val opTypes: Seq[(String, Seq[String])] = Seq(
    "insight" -> Seq("q_prod_funnel", "q_prod_retention", "q_prod_paths",
      "q_flag_experiment", "q_tpch_q3"),
    "search" -> Seq("q_corpus_domain_topk", "q_text_mix_topk", "q_sim_ivf_search"))

  /** Span-name prefix of each op type's layer. */
  private val layer = Map("insight" -> "queries", "search" -> "llm")

  val queries: Seq[(String, String)] = opTypes.flatMap { case (t, qs) => qs.map(_ -> t) }

  /** Set-up step: open every table of the lake (footer and schema). */
  def open(ctx: Ctx): Unit = Tables.names.foreach(n => Tables.t(ctx.spark, ctx.lake, n).schema)

  /** Warm pass (which writes every result for the oracle check), then
    * `seconds` of rounds. Returns the queries' median latencies (s) and
    * the mean over the queries of their CPU per execution (ms).
    */
  def phase(ctx: Ctx, out: Outcome, seconds: Double): (Seq[Double], Double) = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val lake = ctx.lake

    val checkDir = new File(ctx.work, "check")
    val w0 = System.nanoTime()
    out.detail("lake_warm_by_query_s") = queries.map { case (q, _) =>
      val a = System.nanoTime()
      try SparkEntry.queries(q)(spark, lake).write.mode("overwrite")
        .parquet(new File(checkDir, q).getPath)
      catch { case e: Throwable => out.check(s"$q result", ok = false, e.toString) }
      Tables.releaseCaches(spark)
      q -> (System.nanoTime() - a) / 1e9
    }.toMap
    out.detail("check_dir") = checkDir.getPath

    // one untimed round more: latencies settle only after the first
    // warm executions (JIT)
    val g = new Gen(ctx.seed)
    shuffled(g, queries).foreach { case (q, _) =>
      SparkEntry.queries(q)(spark, lake).write.format("noop").mode("overwrite").save()
      Tables.releaseCaches(spark)
    }
    out.detail("lake_warm_s") = (System.nanoTime() - w0) / 1e9

    val byType = opTypes.map { case (t, _) => t -> new Samples }.toMap
    val byQuery = queries.map { case (q, _) => q -> new Samples }.toMap
    val tracedOps = new Samples
    val untracedOps = new Samples
    var leak = 0
    val driverCpuNs = scala.collection.mutable.Map.empty[String, Long]
    // the first round always completes, so every query has a sample
    var order = shuffled(g, queries)
    var i = 0L
    val region = new Region(ctx, seconds)
    while (System.nanoTime() < region.deadline || i < queries.size) {
      if (order.isEmpty) order = shuffled(g, queries)
      val (q, t) = order.head
      order = order.tail
      val traced = ctx.trace && i % 2 == 0
      out.attempted += 1
      if (!traced) sc.setJobGroup(q, t)
      val persistedBefore = sc.getPersistentRDDs.keySet
      val a = System.nanoTime()
      val c0 = Jvm.threadCpuNs
      try {
        Trace.tracing(traced) {
          Trace.span(s"lake.$t", i, t) {
            val df = Trace.span(s"${layer(t)}.build", i, t)(SparkEntry.queries(q)(spark, lake))
            Trace.span(s"${layer(t)}.plan", i, t)(df.queryExecution.executedPlan)
            Trace.span(s"${layer(t)}.exec", i, t)(df.write.format("noop").mode("overwrite").save())
          }
        }
        val dt = (System.nanoTime() - a) / 1e9
        if (traced) tracedOps.add(dt)
        else {
          untracedOps.add(dt); byType(t).add(dt); byQuery(q).add(dt)
          driverCpuNs(q) = driverCpuNs.getOrElse(q, 0L) + Jvm.threadCpuNs - c0
        }
      } catch {
        case e: Throwable =>
          out.failed += 1
          System.err.println(s"$q failed: $e")
      }
      sc.clearJobGroup()
      // RDDs the op left persisted: releaseCaches unpersists them all,
      // so they are counted before it runs
      leak = math.max(leak, (sc.getPersistentRDDs.keySet -- persistedBefore).size)
      Tables.releaseCaches(spark)
      i += 1
    }
    region.close()

    // where the time runs out changes the query mix, so the summary
    // weighs every query once, at its median latency
    val medians = byQuery.values.filter(_.size > 0).map(_.median).toSeq
    // CPU per query execution (driver thread and tasks), each query once
    val cpuMs = byQuery.filter(_._2.size > 0).map { case (q, xs) =>
      (driverCpuNs(q) + region.work.get(q).map(_.taskCpuNs).getOrElse(0L)) / 1e6 / xs.size
    }
    opTypes.foreach { case (t, _) => out.medianAndTail(t, byType(t), "s", 1.0) }
    out.named("queries_per_min") = (60.0 * medians.size / medians.sum, "1/min")
    out.named("lake_heap_peak_mb") = (region.heapPeakMb, "MB")
    out.detail("lake_ops") = i
    out.detail("lake_median_by_query_s") = byQuery.filter(_._2.size > 0).map { case (q, s) => q -> s.median }

    if (ctx.trace) {
      val spans = Trace.spans.filter(x => x.op >= 0 && layer.contains(x.opType))
      for (l <- Seq("queries", "llm"); p <- Seq("build", "plan", "exec"))
        out.perLayer(s"$l.${p}_s") = (Report.perOp(spans, s"$l.$p").median, "s")
      out.perLayer("leak.persisted_rdds") = (leak.toDouble, "count")
      out.perLayer("codegen.compile_s") = (region.compileS, "s")
      out.perLayer("codegen.classes") = (region.classes.toDouble, "count")
      val w = new SparkWork
      opTypes.foreach { case (t, _) => w.add(Report.workOf(spans, region.work, t)) }
      w.metrics("spark").foreach { case (k, v, u) => out.perLayer(k) = (v, u) }
      out.perLayer("trace.overhead_ratio") = (tracedOps.median / untracedOps.median - 1.0, "ratio")
      out.detail("self_time") = Report.selfTime(Trace.spans.filter(_.op >= 0), region.work)
      out.detail("spark_by_op_type") = opTypes.map { case (t, _) =>
        t -> Report.workOf(spans, region.work, t).metrics("spark").map { case (k, v, _) => k -> v }.toMap
      }.toMap
    } else
      out.detail("spark_by_query") = region.work.map { case (gr, w) =>
        gr -> w.metrics("spark").map { case (k, v, _) => k -> v }.toMap }
    (medians, cpuMs.sum / cpuMs.size)
  }

  /** One round: every query once, in a seeded order. */
  private def shuffled(g: Gen, xs: Seq[(String, String)]): Vector[(String, String)] = {
    val a = xs.toArray
    for (k <- a.indices.reverse) {
      val j = g.int(k + 1)
      val tmp = a(k); a(k) = a(j); a(j) = tmp
    }
    a.toVector
  }
}
