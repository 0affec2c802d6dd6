package perfbench

import graft.flags._
import graft.flags.FlagColumns.FlagFrame
import graft.functions.GraftExtensions
import graft.state.{PersonOp, PersonRecord, Replay}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The per-request `/decide` read path. Set-up replays a seeded person
  * op log with `Replay.persons` into a driver-side snapshot keyed by
  * every distinct_id and parses a fixed flag store; then one client
  * sends requests in a closed loop. No Spark job runs in the timed
  * region.
  */
object Decide {
  val Users = 3000
  val Ops = 12000
  val Companies = 97

  final case class Serving(
      byId: Map[String, PersonRecord], ids: Array[String], flags: Seq[FeatureFlag],
      groupProps: Map[String, Map[String, String]])

  // ------------------------------------------------------------ generator

  private val countries = Array("us", "de", "fr", "es", "br", "jp")

  def opLog(seed: Long): Seq[PersonOp] = {
    val g = new Gen(seed)
    val users = Gen.zipf(Users, 1.05)
    val aliased = new Array[Boolean](Users)
    (0 until Ops).map { n =>
      val u = g.pick(users)
      val anon = !aliased(u) && u % 5 < 2
      val id = if (anon) s"a$u" else s"u$u"
      g.int(10) match {
        case 0 if u % 5 < 2 && !aliased(u) =>
          aliased(u) = true
          PersonOp(s"u$u", n, Map("email" -> s"u$u@x.com"), Map.empty, Nil, Some(s"a$u"))
        case 1 | 2 =>
          PersonOp(id, n, Map("plan" -> s"p${g.int(3)}", "age" -> (16 + g.int(50)).toString),
            Map.empty, Nil, None)
        case 3 =>
          PersonOp(id, n, Map.empty,
            Map("country" -> countries(g.int(countries.length)), "ref" -> s"r${g.int(9)}"),
            Nil, None)
        case 4 => PersonOp(id, n, Map.empty, Map.empty, Seq("ref"), None)
        case _ => PersonOp(id, n, Map("last_seen" -> n.toString), Map.empty, Nil, None)
      }
    }
  }

  /** A flag store covering boolean and multivariate flags, rollouts,
    * payloads, an inactive flag and every filter operator, including
    * regex and group-property filters. It is the same for every seed,
    * so the seed changes who asks, not how much a request costs.
    */
  def flagStore: String = {
    val rollouts = Iterator(37, 62, 25, 80, 50, 45, 70, 33, 55).buffered
    def r = rollouts.next()
    def p(key: String, op: String, value: String, group: Boolean = false) =
      s"""{"key":"$key","operator":"$op","value":$value""" +
        (if (group) ""","type":"group","group_type":"company"}""" else "}")
    Seq(
      s"""{"key":"beta","rollout_percentage":$r}""",
      s"""{"key":"pro-only","conditions":[{"properties":[${p("plan", "eq", "\"p2\"")}]}]}""",
      s"""{"key":"eu","conditions":[{"properties":[${p("country", "in", "[\"de\",\"fr\",\"es\"]")}],"rollout_percentage":$r}]}""",
      s"""{"key":"adults","conditions":[{"properties":[${p("age", "gte", "18")}]}]}""",
      s"""{"key":"young-paid","conditions":[{"properties":[${p("age", "lt", "30")},${p("plan", "is_not", "\"p0\"")}]}]}""",
      s"""{"key":"mail-7","conditions":[{"properties":[${p("email", "regex", "\"^u[0-9]*7@\"")}]}]}""",
      s"""{"key":"mail-x","conditions":[{"properties":[${p("email", "contains", "\"@x.com\"")}],"rollout_percentage":$r}]}""",
      s"""{"key":"has-ref","conditions":[{"properties":[${p("ref", "is_set", "true")}]}]}""",
      s"""{"key":"not-us","conditions":[{"properties":[${p("country", "not_in", "[\"us\"]")}]}]}""",
      s"""{"key":"senior","conditions":[{"properties":[${p("age", "gt", "55")}]},{"properties":[${p("age", "lte", "17")}]}]}""",
      s"""{"key":"exp-color","type":"multivariate","rollout_percentage":$r,"variants":[{"key":"control","rollout_percentage":34},{"key":"red","rollout_percentage":33},{"key":"blue","rollout_percentage":33}],"variant_payloads":{"red":{"hex":"#f00"}}}""",
      s"""{"key":"exp-plan","type":"multivariate","variants":[{"key":"a","rollout_percentage":50},{"key":"b","rollout_percentage":50}],"conditions":[{"properties":[${p("plan", "eq", "\"p1\"")}],"variant":"b"},{"rollout_percentage":$r}]}""",
      s"""{"key":"company-tier","group_type":"company","conditions":[{"properties":[${p("tier", "eq", "\"t1\"", group = true)}],"rollout_percentage":$r}]}""",
      s"""{"key":"company-roll","group_type":"company","rollout_percentage":$r}""",
      s"""{"key":"big-company","conditions":[{"properties":[${p("size", "gt", "50", group = true)}]}]}""",
      s"""{"key":"old","active":false,"rollout_percentage":100}""",
      s"""{"key":"promo","rollout_percentage":$r,"payload":{"discount":10},"id":7,"version":3}""",
      s"""{"key":"de-salted","salt":"s417","conditions":[{"properties":[${p("country", "eq", "\"de\"")}],"rollout_percentage":$r}]}"""
    ).mkString("""{"flags":[""", ",", "]}")
  }

  def setup(spark: SparkSession, seed: Long): Serving = {
    import spark.implicits._
    val persons = Replay.persons(spark, spark.createDataset(opLog(seed))).collect()
    val byId = persons.iterator.flatMap(p => p.distinct_ids.map(_ -> p)).toMap
    val g = new Gen(seed ^ 0xc0ffeeL)
    val groupProps = (0 until Companies).map { c =>
      s"c$c" -> Map("tier" -> s"t${g.int(3)}", "size" -> (1 + g.int(100)).toString)
    }.toMap
    Serving(byId, byId.keys.toArray.sorted, FlagStore.fromJson(flagStore), groupProps)
  }

  // -------------------------------------------------------------- request

  /** One request's inputs, drawn before its timer starts. The shares
    * are assumptions chosen so the unknown-id, override and group
    * branches each run often, not measured traffic.
    */
  final case class Request(id: String, overrides: Map[String, String], company: Option[String])

  def draw(g: Gen, s: Serving, zipf: Array[Double]): Request = {
    val id = if (g.chance(0.05)) s"x${g.int(1000000)}" else s.ids(g.pick(zipf))
    val overrides =
      if (g.chance(0.3)) Map("plan" -> s"p${g.int(3)}") ++
        (if (g.chance(0.3)) Map("country" -> countries(g.int(countries.length))) else Map.empty)
      else Map.empty[String, String]
    val company = if (g.chance(0.5)) Some(s"c${g.int(Companies)}") else None
    Request(id, overrides, company)
  }

  def context(s: Serving, r: Request): (Map[String, String], FlagContext) = {
    val props = s.byId.get(r.id).map(Replay.mergedProperties).getOrElse(Map.empty) ++ r.overrides
    val groups = r.company.map(c => Map("company" -> c)).getOrElse(Map.empty)
    val gp = r.company.map(c => Map("company" ->
      s.groupProps(c).view.mapValues(JStr(_): JsonV).toMap)).getOrElse(Map.empty)
    (props, FlagContext(r.id, props.view.mapValues(JStr(_): JsonV).toMap, groups, gp))
  }

  /** The served request: lookup, evaluation, response rendering. */
  def serve(s: Serving, r: Request, op: Long): (Map[String, String], Seq[FlagResult], String) = {
    val (props, ctx) = Trace.span("flags.lookup", op, "request", spark = false)(context(s, r))
    val results = Trace.span("flags.eval", op, "request", spark = false)(FlagEval.evaluate(s.flags, ctx))
    val body = Trace.span("flags.render", op, "request", spark = false)(
      FlagResponse.render(FlagResponse.decideResponse(results, 3, Some("phc_bench"), None)))
    (props, results, body)
  }

  // ------------------------------------------------------------------ run

  final case class Sampled(r: Request, props: Map[String, String], results: Seq[FlagResult])

  /** Warm-up, then `seconds` of closed-loop requests; checks a sample
    * of the responses against the vectorized evaluator.
    */
  def phase(ctx: Ctx, out: Outcome, s: Serving, seconds: Double): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val zipf = Gen.zipf(s.ids.length, 1.05)

    // warm pass: the same request mix on a different stream
    val wg = new Gen(ctx.seed ^ 0xabcdL)
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < 2e9) serve(s, draw(wg, s, zipf), -1L)

    val lat = new Samples
    val tracedLat = new Samples
    var attempted = 0L
    var failed = 0L
    var matched = 0L
    var evaluated = 0L
    val sampled = scala.collection.mutable.ArrayBuffer.empty[Sampled]
    val region = new Region(ctx, seconds)
    // completed requests per 250 ms window: the throughput is the median
    // window, so a stall in one window does not set the figure
    val windowNs = 250000000L
    val windows = new Array[Long]((seconds * 4).toInt + 8)
    val g = new Gen(ctx.seed * 31)
    val c0 = Jvm.threadCpuNs
    var op = 0L
    while (System.nanoTime() < region.deadline) {
      val r = draw(g, s, zipf)
      val traced = ctx.trace && op % 16 == 0
      attempted += 1
      val a = System.nanoTime()
      try {
        val (props, results, body) = Trace.tracing(traced)(serve(s, r, op))
        val us = (System.nanoTime() - a) / 1e3
        if (body.isEmpty) throw new IllegalStateException("empty response")
        (if (traced) tracedLat else lat).add(us)
        windows(((System.nanoTime() - region.start) / windowNs).toInt) += 1
        evaluated += results.size
        matched += results.count(_.reason == "match")
        if (op % 64 == 0 && sampled.size < 1000) sampled += Sampled(r, props, results)
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"request $op failed: $e")
      }
      op += 1
    }
    val cpuNs = Jvm.threadCpuNs - c0
    region.close()

    out.attempted += attempted
    out.failed += failed
    val full = (region.deadline - region.start) / windowNs
    val perS = Samples.median((0L until full).map(w => windows(w.toInt) * 1e9 / windowNs))
    out.named("decide_per_s") = (perS, "1/s")
    out.medianAndTail("decide", lat, "us", 1.0)
    out.named("decide_heap_peak_mb") = (region.heapPeakMb, "MB")
    out.detail("decide_requests") = lat.size + tracedLat.size

    // check: sampled scalar responses == FlagColumns over the same contexts
    val samples = sampled.toVector
    GraftExtensions.register(spark)
    val df = samples.zipWithIndex.map { case (x, i) =>
      (i, x.r.id, x.props, x.r.company.orNull, x.r.company.map(s.groupProps).orNull)
    }.toDF("i", "distinct_id", "props", "gkey", "gprops")
    val frame = FlagFrame(col("distinct_id"), col("props"),
      groupKeys = Map("company" -> col("gkey")), groupProps = Map("company" -> col("gprops")))
    val cols = FlagColumns.resultCols(frame, s.flags)
    val vec = df.select(col("i") +: cols: _*).collect().map { row =>
      row.getInt(0) -> s.flags.indices.map { k =>
        val st = row.getStruct(k + 1)
        (st.getBoolean(0), Option(st.getString(1)))
      }
    }.toMap
    val mismatches = samples.zipWithIndex.flatMap { case (x, i) =>
      x.results.zip(vec(i)).filter { case (r, v) =>
        val scalar = r.value match {
          case JStr(variant) => (true, Some(variant))
          case JBool(b) => (b, None)
          case other => (false, Some(other.toString))
        }
        scalar != v
      }.map { case (r, v) => s"${x.r.id}/${r.key}: ${r.value} vs $v" }
    }
    out.check("sampled /decide responses == FlagColumns.resultCols",
      samples.nonEmpty && mismatches.isEmpty,
      s"${mismatches.size} mismatches of ${samples.size} sampled: ${mismatches.take(3).mkString("; ")}")
    val jobs = region.total.jobs
    out.check("no Spark job in the /decide timed region", jobs == 0, s"$jobs jobs ran")

    if (ctx.trace) {
      val spans = Trace.spans.filter(x => x.op >= 0 && x.opType == "request")
      def us(n: String) = Report.perOp(spans, n).median * 1e6
      out.perLayer("flags.lookup_us") = (us("flags.lookup"), "us")
      out.perLayer("flags.eval_us") = (us("flags.eval"), "us")
      out.perLayer("flags.render_us") = (us("flags.render"), "us")
      out.perLayer("flags.flags_per_request") =
        (evaluated.toDouble / (lat.size + tracedLat.size), "count")
      out.perLayer("flags.match_ratio") = (matched.toDouble / evaluated, "ratio")
      out.perLayer("jvm.gc_pause_ms") = (region.gcMs.toDouble, "ms")
      out.detail("decide_trace_overhead_ratio") = tracedLat.median / lat.median - 1.0
    }
    out.named("decide_cpu_us") = (cpuNs / 1e3 / attempted, "us")
  }
}
