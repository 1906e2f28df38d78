package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** One benchmark run in one JVM. Writes the run's measurements, checks and
  * output hashes as JSON to `--out`; `perfbench/run.py` turns that into the
  * command's result line.
  *
  * Arguments: --workload stream_cep|batch_ops --seed N --seconds S
  * --trace 0|1 --work DIR --data DIR --warm-data DIR --out FILE --nproc N. */
object Main {
  def main(args: Array[String]): Unit = {
    Common.log("jvm started")
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("work"), a("data"), a("nproc").toInt)
    try {
      ctx.workload match {
        case "stream_cep" => StreamCep.run(ctx, Live.Params(ctx.seconds))
        case "batch_ops" => BatchOps.run(ctx, a("warm-data"))
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      Common.log("workload done")
      hostAndLayers(ctx)
      ctx.e2e("peak_rss_mb") = Common.peakRssMb()
      ctx.report("peak_rss_mb", ctx.e2e("peak_rss_mb"), "MB")
      if (ctx.traced) Files.write(Paths.get(a("out") + ".spans.json"),
        ctx.tracer.toJson.getBytes(StandardCharsets.UTF_8))
      Files.write(Paths.get(a("out")), Common.json(Map(
        "workload" -> ctx.workload, "seed" -> ctx.seed,
        "e2e" -> ctx.e2e.toMap, "layers" -> ctx.layers.toMap,
        "named" -> ctx.named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
        "attempted" -> ctx.attempted, "failed" -> ctx.failed,
        "checks" -> ctx.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
        "hashes" -> ctx.hashes.map { case (k, (n, h)) => k -> Seq(n.toString, h) }.toMap
      )).getBytes(StandardCharsets.UTF_8))
    } finally ctx.stop()
  }

  /** Host stamp and the layer figures every workload reads the same way:
    * shuffle and JVM totals over the timed section's stages, and span self
    * time per layer. */
  private def hostAndLayers(ctx: Ctx): Unit = {
    val L = ctx.layers
    L("host.spin_ms") = Common.spinMs()
    ctx.report("host_spin_ms", L("host.spin_ms"), "ms")
    ctx.report("host_steal_frac", L("host.steal_frac"), "ratio")
    if (ctx.traced) {
      val st = ctx.stages.stages.filter(s => s.startMs >= ctx.timedFrom && s.startMs <= ctx.timedTo)
      L("shuffle.write_bytes") = st.map(_.shuffleWriteBytes).sum.toDouble
      L("shuffle.read_bytes") = st.map(_.shuffleReadBytes).sum.toDouble
      L("shuffle.fetch_wait_ms") = st.map(_.fetchWaitMs).sum
      L("shuffle.spill_bytes") = st.map(_.spillBytes).sum.toDouble
      // shuffle has no span of its own: its self time is task time spent
      // writing shuffle output and waiting on fetches
      L("shuffle.self_ms") = st.map(s => s.fetchWaitMs + s.shuffleWriteMs).sum
      val cpu = st.map(_.cpuMs).sum
      L("jvm.run_cpu_ratio") = if (cpu > 0) st.map(_.runMs).sum / cpu else 0.0
      ctx.tracer.selfMsByLayer().foreach { case (layer, ms) =>
        if (layer != "workload") L(s"$layer.self_ms") = ms
      }
    }
  }
}
