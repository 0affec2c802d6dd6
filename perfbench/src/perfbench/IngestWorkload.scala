package perfbench

import java.io.File
import java.net.URLEncoder
import java.util.Base64

import graft.ingest.{Codecs, Normalizer}
import graft.sources.Snapshots
import graft.state.{PersonOp, PersonOpExtract, PersonRecord, Replay}
import graft.streaming.IdentityMergeState
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** `ingest_pipeline`: the write path. A seeded landing zone of raw
  * PostHog payloads goes batch by batch through decode → normalize →
  * lake commit → person-op extraction → streaming identity merge. The
  * next batch starts only after the previous one committed (a closed
  * loop, foreachBatch semantics).
  */
object IngestWorkload extends Workload {
  /** Batches of one pass over the landing zone: enough that the
    * figures average over the seed's batch contents, few enough that a
    * run completes a pass.
    */
  val Batches = 8
  /** Payloads per batch. About 10k would match a production micro-batch,
    * but a 10k batch took 3.3 s on a 4-vCPU machine, so a run could not
    * time every batch of a pass even once; a 1500-payload batch takes
    * about 1.4 s.
    */
  val PayloadsPerBatch = 1500
  val Users = 4000
  val WarmPasses = 1

  /** One landing-zone batch: its directory and what it must yield. */
  final case class Landing(dir: String, items: Long, bytes: Long)

  // ------------------------------------------------------------ generator

  private val captureEvents = Array("view", "click", "purchase", "signup")
  private def zlib(s: String) = Codecs.zlibCompress(s.getBytes("UTF-8"))
  private def b64(b: Array[Byte]) = URLEncoder.encode(Base64.getEncoder.encodeToString(b), "UTF-8")

  /** Writes the landing zone; returns its batches. Users are
    * Zipf-skewed; 40% of them browse under an anonymous id until an
    * identify or alias merges it into their user id. The mixes are
    * assumptions chosen so every decoder and person-op path works in
    * every batch, not measured traffic (perfbench/README.md).
    */
  def land(spark: SparkSession, seed: Long, root: File): Seq[Landing] = {
    import spark.implicits._
    val g = new Gen(seed)
    val users = Gen.zipf(Users, 1.1)
    val kinds = Gen.mix(55, 10, 5, 8, 7, 15) // capture identify alias engage group batch
    val encodings = Gen.mix(40, 20, 15, 15, 10) // plain gzip zlib form gzip-js
    val aliasable = Array.tabulate(Users)(u => (u * 2654435761L % 100) < 40)
    val merged = new Array[Boolean](Users)
    var seq = 0L
    def id(u: Int) = if (aliasable(u) && !merged(u)) s"a$u" else s"u$u"
    def ts = f"2024-06-${1 + (seq / 20000) % 28}%02dT${(seq / 800) % 24}%02d:${(seq / 13) % 60}%02d:${seq % 60}%02dZ"
    def capture(u: Int): String = {
      val ev = captureEvents(g.int(captureEvents.length))
      val set = if (g.chance(0.3)) s""","$$set":{"last_event":"$ev"}""" else ""
      val once = if (g.chance(0.1)) s""","$$set_once":{"first_path":"/p${g.int(50)}"}""" else ""
      val grp = if (g.chance(0.2)) s""","$$groups":{"company":"c${u % 97}"}""" else ""
      s"""{"event":"$ev","distinct_id":"${id(u)}","properties":{"path":"/p${g.int(50)}","eid":$seq$set$once$grp},"timestamp":"$ts"}"""
    }
    def identify(u: Int): String =
      if (aliasable(u) && !merged(u)) {
        merged(u) = true
        s"""{"type":"identify","distinct_id":"u$u","$$anon_distinct_id":"a$u","properties":{"email":"u$u@x.com","plan":"p${g.int(3)}"},"timestamp":"$ts"}"""
      } else s"""{"type":"identify","distinct_id":"${id(u)}","properties":{"plan":"p${g.int(3)}","eid":"$seq"},"timestamp":"$ts"}"""
    def alias(u: Int): String =
      if (aliasable(u) && !merged(u)) {
        merged(u) = true
        s"""{"distinct_id":"u$u","alias":"a$u","timestamp":"$ts"}"""
      } else capture(u)
    def engage(u: Int): String =
      s"""{"distinct_id":"${id(u)}","$$set":{"plan":"p${g.int(3)}"},"$$unset":["first_path"],"eid":"$seq"}"""
    def group(u: Int): String =
      s"""{"type":"groupidentify","group_type":"company","group_key":"c${u % 97}","properties":{"tier":"t${g.int(3)}","eid":"$seq"}}"""
    def item(u: Int): String = g.int(3) match {
      case 0 => identify(u)
      case 1 => engage(u)
      case _ => capture(u)
    }

    val batches = (0 until Batches).map { b =>
      var items = 0L
      var bytes = 0L
      val rows = (0 until PayloadsPerBatch).map { _ =>
        val u = g.pick(users)
        val (json, n) = g.pick(kinds) match {
          case 0 => (capture(u), 1)
          case 1 => (identify(u), 1)
          case 2 => (alias(u), 1)
          case 3 => (engage(u), 1)
          case 4 => (group(u), 1)
          case _ =>
            val k = 2 + g.int(5)
            ((0 until k).map(_ => item(g.pick(users))).mkString("""{"batch":[""", ",",
              """],"api_key":"phc_batch"}"""), k)
        }
        val (payload, method, form) = g.pick(encodings) match {
          case 0 => (json.getBytes("UTF-8"), null, false)
          case 1 => (Codecs.gzipCompress(json.getBytes("UTF-8")), "gzip", false)
          case 2 => (zlib(json), null, false)
          case 3 => (s"data=${b64(json.getBytes("UTF-8"))}&api_key=phc_form".getBytes("UTF-8"), null, true)
          case _ => (s"data=${b64(zlib(json))}&compression=gzip-js".getBytes("UTF-8"), null, true)
        }
        items += n
        bytes += payload.length
        seq += 1
        (b, seq - 1, payload, method, form)
      }
      (rows, Landing(new File(root, s"batch=$b").getPath, items, bytes))
    }
    batches.flatMap(_._1).toDF("batch", "seq", "payload", "method", "is_form")
      .repartition(col("batch")).write.partitionBy("batch").parquet(root.getPath)
    batches.map(_._2)
  }

  // ------------------------------------------------------------- pipeline

  private def canonical(spark: SparkSession, l: Landing): DataFrame = {
    val raw = spark.read.parquet(l.dir)
    val decoded = raw.withColumn("body", Codecs.decodeToString(col("payload"), col("method")))
    Normalizer.ingest(decoded, col("body"), Normalizer.detContext, col("is_form"))
      .withColumn("ord", col("seq") * 100 + col("item_idx"))
      .drop("payload", "method", "is_form", "body", "envelope", "item")
  }

  /** One closed-loop op. Traced batches materialize each lazy layer
    * inside its own span before the next starts.
    */
  def batch(spark: SparkSession, lake: String, st: IdentityMergeState, l: Landing,
      batchId: Long, op: Long, before: Set[String],
      traced: Boolean): Snapshots.Snapshot = {
    import spark.implicits._
    Trace.span("ingest.batch", op, "batch") {
      val canon = Trace.span("ingest.normalize", op, "batch") {
        val c = canonical(spark, l)
        if (traced) { val p = c.persist(StorageLevel.MEMORY_ONLY); p.count(); p }
        else c
      }
      val snap = Trace.span("sources.commit", op, "batch")(Snapshots.commit(spark, lake, canon))
      canon.unpersist()
      val newFiles = snap.files.filterNot(before)
      val ops = Trace.span("state.extract", op, "batch") {
        val committed = spark.read.parquet(newFiles.map(f => new File(lake, f).getPath): _*)
        val o = PersonOpExtract.fromCanonical(committed, col("ord")).as[PersonOp]
        if (traced) { val p = o.persist(StorageLevel.MEMORY_ONLY); p.count(); p } else o
      }
      Trace.span("streaming.fold", op, "batch")(st.processBatch(ops, batchId))
      ops.unpersist()
      snap
    }
  }

  // ------------------------------------------------------------------ run

  private def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def personKey(p: PersonRecord): String =
    Seq(p.canonical_id, p.person_seq_id, p.version, p.distinct_ids.sorted.mkString(","),
      p.properties.toSeq.sorted.mkString(","), p.properties_set_once.toSeq.sorted.mkString(","),
      p.first_ord).mkString("|")

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val landingRoot = new File(ctx.work, "landing")
    val lakeRoot = new File(ctx.work, "lake")

    // set-up: write the seeded landing zone into an empty run directory
    val setups = new Samples
    var landing: Seq[Landing] = Nil
    for (_ <- 0 until 3) {
      val t0 = System.nanoTime()
      rm(landingRoot); rm(lakeRoot)
      landing = land(spark, ctx.seed, landingRoot)
      setups.add((System.nanoTime() - t0) / 1e9)
    }
    out.setup(setups)

    // warm passes through throwaway lakes and states: batch times keep
    // falling for the first several batches (JIT)
    val w0 = System.nanoTime()
    for (p <- 0 until WarmPasses) {
      val warmLake = new File(ctx.work, s"warm-lake-$p").getPath
      val warmState = new IdentityMergeState(spark)
      var warmFiles = Set.empty[String]
      for (b <- 0 until Batches)
        warmFiles = batch(spark, warmLake, warmState, landing(b), b.toLong, -1L,
          warmFiles, traced = false).files.toSet
      warmState.close()
    }
    out.detail("warm_s") = (System.nanoTime() - w0) / 1e9

    // closed loop in passes: the next batch starts when the previous one
    // committed, and each pass commits batches 0, 1, ... into a fresh
    // lake and a fresh identity-merge state, so batch b does the same
    // work in every pass. The first pass always completes.
    final case class Op(b: Int, i: Long, wall: Double, driverCpuNs: Long, rows: Long, traced: Boolean)
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    var lake: String = null
    var st: IdentityMergeState = null
    var events = 0L
    var expected = 0L
    var files = Set.empty[String]
    var leak = 0
    graft.HeapWatermark.reset()
    val region = new Region(ctx, ctx.seconds)
    var i = 0L
    while (System.nanoTime() < region.deadline || i < Batches) {
      val b = (i % Batches).toInt
      if (b == 0) {
        if (st != null) st.close()
        lake = new File(lakeRoot, s"pass=${i / Batches}").getPath
        st = new IdentityMergeState(spark)
        events = 0L; expected = 0L; files = Set.empty
      }
      val l = landing(b)
      // alternate traced batches across passes, so every index has both
      val traced = ctx.trace && (i / Batches + b) % 2 == 0
      out.attempted += 1
      spark.sparkContext.setJobGroup(s"batch-$i", "batch")
      val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      val c0 = Jvm.threadCpuNs
      try {
        val snap = Trace.tracing(traced)(
          batch(spark, lake, st, l, b.toLong, i, files, traced))
        val rows = snap.rowCount - events
        ops += Op(b, i, (System.nanoTime() - t0) / 1e9, Jvm.threadCpuNs - c0, rows, traced)
        events = snap.rowCount
        files = snap.files.toSet
        expected += l.items
        if (rows != l.items) out.check(s"batch $i rows", ok = false, s"$rows != ${l.items}")
        // the state keeps one RDD persisted on purpose, its new epoch;
        // anything else the batch left persisted is a leak
        leak = math.max(leak, (spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore).size - 1)
      } catch {
        case e: Throwable =>
          out.failed += 1
          System.err.println(s"batch $i failed: $e")
      }
      i += 1
    }
    region.close()
    spark.sparkContext.clearJobGroup()
    val done = ops.toVector

    // every batch index weighs once, at its median over the passes, so
    // the figures do not depend on how far the last pass got
    val untraced = done.filterNot(_.traced)
    def byIndex(xs: Seq[Op], f: Op => Double): Seq[(Int, Double)] =
      xs.groupBy(_.b).toSeq.sortBy(_._1).map { case (b, os) => b -> Samples.median(os.map(f)) }
    val wallByIndex = byIndex(untraced, _.wall)
    // CPU of an untraced batch: the driver thread's and its Spark tasks'
    val cpuByIndex = byIndex(untraced, o =>
      (o.driverCpuNs + region.work.get(s"batch-${o.i}").map(_.taskCpuNs).getOrElse(0L)) / 1e6)
    val throughput = byIndex(untraced, _.rows.toDouble).map(_._2).sum / wallByIndex.map(_._2).sum
    val walls = new Samples
    untraced.foreach(o => walls.add(o.wall))

    out.endToEnd("throughput_per_s") = (throughput, "1/s")
    out.endToEnd("op_p50_ms") = (Samples.median(wallByIndex.map(_._2)) * 1e3, "ms")
    out.endToEnd("op_cpu_ms") = (Samples.median(cpuByIndex.map(_._2)), "ms")
    out.named("heap_live_mb") = (Jvm.liveMb(), "MB")
    out.named("ingest_events_per_s") = (throughput, "1/s")
    out.medianAndTail("ingest_batch", walls, "s", 1.0)
    out.named("heap_peak_mb") = (region.heapPeakMb, "MB")
    out.detail("batches") = done.size
    out.detail("passes") = (i + Batches - 1) / Batches
    out.detail("batch_s_by_index") = done.groupBy(_.b).toSeq.sortBy(_._1).map { case (b, os) =>
      b.toString -> os.map(o => Map("pass" -> o.i / Batches, "s" -> o.wall, "traced" -> o.traced))
    }.toMap

    // checks, outside the timers, on the last pass's lake and state
    val log = Snapshots.read(spark, lake)
    val landed = log.count()
    out.check("committed rows == generated items", landed == expected, s"$landed != $expected")
    val batchPersons = Replay.persons(spark,
      PersonOpExtract.fromCanonical(log, col("ord")).as[PersonOp]).collect().map(personKey).sorted
    val streamPersons = st.persons().collect().map(personKey).sorted
    out.check("identity-merge persons == Replay.persons",
      batchPersons.sameElements(streamPersons),
      s"${streamPersons.length} streamed vs ${batchPersons.length} replayed persons")

    if (ctx.trace) {
      val spans = Trace.spans.filter(_.op >= 0)
      def med(n: String) = Report.perOp(spans, n).median
      val dead = Normalizer.deadLetters(
        spark.read.parquet(landingRoot.getPath).withColumn("body",
          Codecs.decodeToString(col("payload"), col("method"))),
        col("body"), col("is_form")).count()
      val snaps = Snapshots.snapshots(spark, lake)
      val perCommit = snaps.zip(None +: snaps.map(Some(_))).map { case (s, p) =>
        s.files.size - p.map(_.files.size).getOrElse(0) }
      val tableFiles = snaps.last.files
      val tableBytes = tableFiles.map(f => new File(lake, f).length()).sum
      out.perLayer("ingest.normalize_s") = (med("ingest.normalize"), "s")
      out.perLayer("ingest.payload_bytes") = (Samples.median(landing.map(_.bytes.toDouble)), "bytes")
      out.perLayer("ingest.items") = (Samples.median(landing.map(_.items.toDouble)), "count")
      out.perLayer("ingest.events") = (Samples.median(done.map(_.rows.toDouble)), "count")
      out.perLayer("ingest.dead_letters") = (dead.toDouble, "count")
      out.perLayer("ingest.useful_ratio") = (events.toDouble / expected, "ratio")
      out.perLayer("sources.commit_s") = (med("sources.commit"), "s")
      out.perLayer("sources.files_per_commit") = (Samples.median(perCommit.map(_.toDouble)), "count")
      out.perLayer("sources.bytes_per_event") = (tableBytes.toDouble / landed, "bytes")
      out.perLayer("sources.table_files") = (tableFiles.size.toDouble, "count")
      out.perLayer("state.extract_s") = (med("state.extract"), "s")
      out.perLayer("streaming.fold_s") = (med("streaming.fold"), "s")
      out.perLayer("streaming.state_rows") = (st.records.count().toDouble, "count")
      out.perLayer("streaming.persons") = (streamPersons.length.toDouble, "count")
      out.perLayer("streaming.driver_collect_bytes") =
        (graft.HeapWatermark.snapshot.values.foldLeft(0L)(math.max).toDouble, "bytes")
      out.perLayer("leak.persisted_rdds") = (leak.toDouble, "count")
      out.regionLayers(region, Report.workOf(spans, region.work, "batch"))
      val tracedByIndex = byIndex(done.filter(_.traced), _.wall).toMap
      val both = wallByIndex.filter { case (b, _) => tracedByIndex.contains(b) }
      out.perLayer("trace.overhead_ratio") =
        (both.map { case (b, _) => tracedByIndex(b) }.sum / both.map(_._2).sum - 1.0, "ratio")
      out.detail("self_time") = Report.selfTime(spans, region.work)
    }
    val batchWork = new SparkWork
    region.work.collect { case (g, w) if g.startsWith("batch-") => batchWork.add(w) }
    out.detail("spark_batch_groups") = batchWork.metrics("spark").map { case (k, v, _) => k -> v }.toMap
    st.close()
  }
}
