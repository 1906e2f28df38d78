package perfbench

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.util.LongAccumulator

import graft.TranscriptQueries
import graft.flow.FlowSource
import graft.gen.TranscriptGen
import graft.model.Turn
import graft.sources.TranscriptTable

/** The replay phase: bulk drains of a pre-written, time-sliced transcript
  * table with AvailableNow. Big triggers put the work in scan, shuffle and
  * state; a fixed share of turns lands one slice late and exercises the gap
  * buffer. */
object Replay {
  val SliceMinutes = 60
  val FilesPerSlice = 1
  /** Two slice widths plus margin: a turn landing one slice late is still
    * above the watermark, and so are the turns held behind it. */
  val Watermark = "150 minutes"
  val IdleGapMs: Long = 30 * 60 * 1000L
  /** Turns landing one slice after their event-time slice, per mille. */
  val DelayedPerMille = 10
  /** About 760k turns: enough that per-turn work (scan, shuffle, state
    * updates) is close to half of the drain's wall, the rest being start-up
    * and per-trigger cost (printed as replay_fixed_cost_share). */
  val Convs = 12000L

  def config(seed: Long): TranscriptGen.Config =
    TranscriptGen.Config(nConvs = Convs, seed = seed, meanLen = 60, maxLen = 300,
      hotConvs = 3, hotLen = 400, convStartSpreadSec = 2 * 3600L)

  /** Writes the stream input through `TranscriptTable.writeTimeSliced`, then
    * lands the delayed share with the slice after its own, then the two
    * end-of-stream sentinels. Returns the number of turns. */
  def writeInput(spark: SparkSession, dir: String, cfg: TranscriptGen.Config): Long = {
    import spark.implicits._
    val width = SliceMinutes * 60L
    val sliceOf = floor(unix_timestamp(col("ts")) / width)
    val all = TranscriptGen.dataset(spark, cfg).toDF()
      .withColumn("late", pmod(xxhash64(col("conv_id"), col("turn_idx"), lit(cfg.seed)),
        lit(1000L)) < DelayedPerMille)
      .cache()
    val onTime = all.filter(!col("late")).drop("late").as[Turn]
    TranscriptTable.writeTimeSliced(onTime, dir, SliceMinutes, FilesPerSlice)
    val slices = onTime.select(sliceOf.as("s")).distinct().as[Long].collect().sorted
    val staged = s"${dir}__late"
    all.filter(col("late")).drop("late").withColumn("slice", sliceOf)
      .repartition(col("slice")).write.mode("overwrite").partitionBy("slice").parquet(staged)
    // writeTimeSliced names slice k's files slice<k>_... and stamps them
    // with increasing mtimes; a delayed turn joins the next slice's group
    val groupMtime = Common.listDir(Paths.get(dir)).groupBy(_.getFileName.toString.take(10))
      .map { case (k, fs) => k -> fs.map(f => Files.getLastModifiedTime(f).toMillis).max }
    val lastMtime = if (groupMtime.isEmpty) 0L else groupMtime.values.max
    Common.listDir(Paths.get(staged)).filter(_.getFileName.toString.startsWith("slice=")).foreach { sd =>
      val s = sd.getFileName.toString.stripPrefix("slice=").toLong
      val k = slices.indexWhere(_ > s) match { case -1 => slices.length; case i => i }
      val mtime = groupMtime.getOrElse(f"slice$k%05d", lastMtime + 1000L) + 1L
      Common.listDir(sd).filter(_.getFileName.toString.endsWith(".parquet")).foreach { f =>
        // two late slices can join one group, and one writer task can
        // write both under the same file name
        val dst = Paths.get(dir, f"slice$k%05d_late_${s}_${f.getFileName}")
        Files.move(f, dst)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime))
      }
    }
    Common.rmTree(Paths.get(staged))
    TranscriptQueries.appendSentinel(spark, dir)
    val n = all.count()
    all.unpersist()
    n
  }

  /** About 10 hours of event time in one-hour slices, one file each plus
    * one of delayed turns, then the two sentinel files: half the files per
    * trigger makes two data triggers, the second carrying the sentinels,
    * and one no-data trigger that moves the watermark past every turn. */
  def filesPerTrigger(in: String): Int =
    (Common.listDir(Paths.get(in)).count(_.getFileName.toString.endsWith(".parquet")) + 1) / 2

  /** One drain; latency of a row = its epoch's commit time minus the query
    * start, when all of the input is due. */
  final case class Pass(wallMs: Double, run: StreamRun, ps: Seq[StreamingQueryProgress],
      latencies: Seq[(Double, Long)])

  def drain(ctx: Ctx, inDir: String, dir: String, maxFiles: Option[Int],
      compactEvery: Int = 0, calls: Option[LongAccumulator] = None): Pass = {
    Common.freshDir(dir)
    val src = FlowSource.stream(ctx.spark, inDir, maxFiles)
    val (run, wall) = Common.timed {
      val r = Streams.start(ctx, src, dir, Trigger.AvailableNow(), Watermark, IdleGapMs,
        compactEvery, calls)
      r.q.awaitTermination()
      r
    }
    val ps = ctx.triggers.of(run.q)
    Common.log(f"drain $dir: ${ps.size} triggers, ${wall / 1000}%.2f s; " + Streams.phaseSummary(ps))
    val perEpoch = run.sink.readCommitted(ctx.spark).groupBy("epoch").count().collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getLong(1)).toMap
    val lat = run.epochs.flatMap(e => perEpoch.get(e.epoch).map(n => (e.addEnd - run.startMs, n)))
    Pass(wall, run, ps, lat)
  }

  /** The timed drain at local[nproc]: one, since the set-up's warm-up
    * already drains the first slice of the same turns and a second drain
    * does not fit the run-time budget. */
  def measure(ctx: Ctx, in: String, turns: Long, calls: Option[LongAccumulator]): Pass = {
    val p = drain(ctx, in, s"${ctx.work}/replay", Some(filesPerTrigger(in)), calls = calls)
    ctx.e2e("throughput_per_s") = turns / (p.wallMs / 1000.0)
    ctx.report("replay_turns_per_s", ctx.e2e("throughput_per_s"), "1/s")
    // the fixed part of the wall: query start-up and tear-down (wall minus
    // the triggers) plus, per trigger, what the final no-data trigger costs
    val noData = p.ps.filter(_.numInputRows == 0L).map(TriggerLedger.phase(_, "triggerExecution"))
    val fixedMs = p.wallMs - p.ps.map(TriggerLedger.phase(_, "triggerExecution")).sum +
      p.ps.size * Common.median(noData)
    ctx.report("replay_fixed_cost_share", fixedMs / p.wallMs, "ratio")
    ctx.report("replay_emit_p50_ms", Weighted.quantile(p.latencies, 0.5), "ms")
    ctx.report("replay_emit_p99_ms", Weighted.quantile(p.latencies, 0.99), "ms")
    ctx.report("replay_turns", turns.toDouble, "count")
    ctx.report("replay_triggers", p.ps.size.toDouble, "count")
    p
  }

  /** The drain's committed rows against the batch fold, no late drops,
    * every turn admitted. */
  def check(ctx: Ctx, name: String, in: String, p: Pass, turns: Long): Unit = {
    val expected = Streams.expected(ctx, in)
    Streams.checkOutput(ctx, s"$name committed rows", p.run.sink.readCommitted(ctx.spark),
      expected, Ctx.contentHash(expected))
    val dropped = Streams.lateDropped(p.ps)
    ctx.check(s"$name late drops", dropped == 0L, s"$dropped dropped", 0L, dropped)
    // the two end-of-stream sentinel rows are source input but not turns
    val admitted = p.ps.map(_.numInputRows).sum - 2L
    ctx.check(s"$name turns admitted", admitted == turns,
      s"$admitted admitted of $turns", 0L, math.abs(turns - admitted))
  }
}

/** Quantiles of (value, weight) samples, e.g. per-epoch latency weighted by
  * the epoch's row count, with the same interpolation as Common.quantile. */
object Weighted {
  def quantile(xs: Seq[(Double, Long)], q: Double): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    val n = s.map(_._2).sum
    if (n == 0) Double.NaN
    else {
      val pos = q * (n - 1)
      def at(rank: Long): Double = {
        var acc = 0L
        s.find { case (_, w) => acc += w; acc > rank }.map(_._1).getOrElse(s.last._1)
      }
      val lo = math.floor(pos).toLong
      val a = at(lo); val b = at(math.min(lo + 1, n - 1))
      a + (b - a) * (pos - lo)
    }
  }
}

/** `stream_cep`: the replay phase (bulk drains) and the live phase (an open
  * loop at three fixed rates) of the CEP pipeline, after a shared set-up. */
object StreamCep {
  def run(ctx: Ctx, params: Live.Params): Unit = {
    val in = s"${ctx.work}/replay_in/t"
    val warmIn = s"${ctx.work}/warm_in/t"
    // set-up starts with the session build, the first call into the engine
    val (_, sessionMs) = Common.timed(ctx.session(ctx.nproc))
    Common.log("session built")
    // input generation: harness work, outside the set-up clock
    val (turns, live) = Common.both(
      Replay.writeInput(ctx.spark, in, Replay.config(ctx.seed)),
      Live.prepare(ctx, params))
    Common.freshDir(warmIn)
    // the warm-up drains a copy of the first half of the replay input's
    // slices, without the end-of-stream sentinels
    val groups = Common.listDir(Paths.get(in)).map(_.getFileName.toString)
      .filter(_.startsWith("slice")).groupBy(_.take(10)).toSeq.sortBy(_._1)
    groups.take(1).flatMap(_._2)
      .foreach(f => Files.copy(Paths.get(in, f), Paths.get(warmIn, f)))
    Common.log("inputs written")

    // set-up, continued: a warm-up drain of the same pipeline (one data
    // trigger, one watermark trigger, a compaction). One round per run: a
    // second round would cost a session build and a drain (~15 s) of the
    // run-time budget
    val (_, warmMs) = Common.timed(
      Replay.drain(ctx, warmIn, s"${ctx.work}/warm", None, compactEvery = 2))
    ctx.e2e("setup_s") = (sessionMs + warmMs) / 1000.0
    ctx.report("setup_s", ctx.e2e("setup_s"), "s")

    val root = ctx.tracer.add(0, "workload stream_cep", "workload", Clock.epochMs(), 0)
    val calls = if (ctx.traced) Some(ctx.spark.sparkContext.longAccumulator("on_turn_calls")) else None
    ctx.startTimed()
    val replay = Replay.measure(ctx, in, turns, calls)
    val liveRun = Live.measure(ctx, params, live, calls)
    ctx.endTimed()
    ctx.tracer.close(root, ctx.timedTo)
    Common.log("timed section done")

    // the two checks only read finished outputs, so they run at once
    val (_, liveTurns) = Common.both(Replay.check(ctx, "replay", in, replay, turns),
      Live.check(ctx, live, liveRun))
    val runs = Seq((replay.run, replay.ps), (liveRun.run, liveRun.ps))
    val inputTurns = turns + liveTurns
    if (ctx.traced) runs.foreach { case (r, ps) => Streams.trace(ctx, root, r, ps) }
    Streams.layerMetrics(ctx, runs, inputTurns)
    ctx.layers("sources.backlog_turns") = liveRun.backlogAtEnd.toDouble
    calls.foreach { c =>
      ctx.layers("state.on_turn_calls") = c.value.toDouble
      ctx.check("onTurn calls == input turns", c.value == inputTurns,
        s"${c.value} calls, $inputTurns turns", 0L, math.abs(c.value - inputTurns))
    }
    if (ctx.traced) {
      ctx.layers("sink.rows") = runs.map(_._1.sink.readCommitted(ctx.spark).count()).sum.toDouble
      ctx.layers("sink.read_committed_ms") =
        Common.timed(liveRun.run.sink.readCommitted(ctx.spark).count())._2
      // the tracing overhead: an untraced then a traced drain of the same
      // input, both past the timed drain's steeper warm-up (the traced one
      // runs second and slightly warmer)
      ctx.spark.sparkContext.removeSparkListener(ctx.stages)
      val u = try Replay.drain(ctx, in, s"${ctx.work}/replay_untraced",
        Some(Replay.filesPerTrigger(in))).wallMs
      finally ctx.spark.sparkContext.addSparkListener(ctx.stages)
      val t = Replay.drain(ctx, in, s"${ctx.work}/replay_traced", Some(Replay.filesPerTrigger(in)),
        calls = Some(ctx.spark.sparkContext.longAccumulator("probe_on_turn_calls"))).wallMs
      ctx.layers("trace.overhead_frac") = (t - u) / u
      // the single-thread baseline of the replay: same input, same job and
      // partitioning, one task thread
      val hiRate = ctx.e2e("throughput_per_s")
      ctx.session(1)
      val lo = Replay.drain(ctx, in, s"${ctx.work}/replay_lo", Some(Replay.filesPerTrigger(in)))
      Replay.check(ctx, "replay local[1]", in, lo, turns)
      val eff = hiRate / (turns / (lo.wallMs / 1000.0)) / ctx.nproc
      ctx.report("replay_scaling_eff", eff, "ratio")
      ctx.layers("flow.scaling_eff") = eff
    }
  }
}
