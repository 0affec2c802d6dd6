package perfbench

/** `read_path`: what hogflare serves from landed state, in two timed
  * phases of one run. First `/decide` requests, with no Spark job in
  * the timed region (a quarter of the time); then lake queries over the
  * landed data (the rest). The end-to-end metrics come from the lake
  * phase; the `/decide` figures are named metrics, because its median
  * latency settled in one of two modes per JVM (about 20 or 33 µs on a
  * 4-vCPU machine), too far apart to gate.
  */
object ReadPathWorkload extends Workload {

  def run(ctx: Ctx, out: Outcome): Unit = {
    // set-up: replay the person log into the serving snapshot, parse the
    // flag store, open the lake
    val setups = new Samples
    var serving: Decide.Serving = null
    for (_ <- 0 until 3) {
      val t0 = System.nanoTime()
      serving = Decide.setup(ctx.spark, ctx.seed)
      Lake.open(ctx)
      setups.add((System.nanoTime() - t0) / 1e9)
    }
    out.setup(setups)

    Decide.phase(ctx, out, serving, ctx.seconds / 4)
    val (medians, queryCpuMs) = Lake.phase(ctx, out, ctx.seconds * 3 / 4)
    out.endToEnd("throughput_per_s") = (medians.size / medians.sum, "1/s")
    out.endToEnd("op_p50_ms") = (math.exp(medians.map(math.log).sum / medians.size) * 1e3, "ms")
    out.endToEnd("op_cpu_ms") = (queryCpuMs, "ms")
    out.named("heap_live_mb") = (Jvm.liveMb(), "MB")
    out.named("heap_peak_mb") =
      (math.max(out.named("decide_heap_peak_mb")._1, out.named("lake_heap_peak_mb")._1), "MB")
  }
}
