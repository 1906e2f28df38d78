package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.util.LongAccumulator

import graft.flow.FlowSource
import graft.gen.TranscriptGen

/** The live phase: an open loop. Set-up pre-writes one parquet file per
  * tick; a single generator thread lands each file by atomic rename at its
  * due time, at three fixed rates in turn, while the CEP pipeline runs on a
  * short ProcessingTime trigger and the sink is compacted every K epochs.
  * Latency of an emitted row = its epoch's commit time minus the due time of
  * the file that carried its turn, so generator stalls count. */
object Live {
  val TickMs = 500
  /** Comfortably longer than the engine's trigger duration (1.7-2.7 s on
    * a 4-core host, over 3 s when the host is loaded), so triggers start on
    * a fixed schedule instead of back to back and the latency quantiles do
    * not depend on where a run's triggers happened to fall. */
  val TriggerMs = 4000
  val TurnsPerTick = 4 // per conversation
  val TicksPerConv = 3
  val ConvLen: Int = TurnsPerTick * TicksPerConv
  /** Event time advances 10 s per tick; conversations arrive in order, so
    * a 10-minute watermark never drops a turn. */
  val EventTickMs = 10000L
  val BaseEventMs = 1735689600000L
  val Watermark = "10 minutes"
  val IdleGapMs: Long = 2 * 60 * 1000L

  /** The three fixed landing rates (turns/s), low to high; latency is
    * reported at the middle one. */
  val Rates: Seq[Double] = Seq(4000.0, 16000.0, 48000.0)
  /** A rate is sustained when its p99 is at most this and its backlog does
    * not outgrow rate x limit. */
  val P99LimitMs = 9000.0
  /** The sink is compacted after every K-th epoch. */
  val CompactEvery = 2

  /** Files land for `seconds`: the low rate for the first 2 s, the high
    * rate for the last trigger interval, the middle rate in between. The
    * first due time falls just after a trigger, so with `seconds` a whole
    * number of intervals the middle rate fills whole triggers and the last
    * file lands just before the final trigger. */
  final case class Params(seconds: Double) {
    private val ticks = (seconds * 1000 / TickMs).toInt
    val stepTicks: Seq[Int] = Seq(4, ticks - 4 - TriggerMs / TickMs, TriggerMs / TickMs)
    require(stepTicks(1) >= 8, s"the live phase needs more than $seconds s")
    def firstTick(i: Int): Int = stepTicks.take(i).sum
  }

  final case class Input(staged: String, rowsPerTick: Map[Int, Long], ticks: Int)

  final case class Run(run: StreamRun, ps: Seq[StreamingQueryProgress], backlogAtEnd: Long)

  /** Conversation c starts at tick starts(c); the number starting per tick
    * follows the tick's rate (turns/s), carried so the mean rate is exact. */
  def schedule(rateOfTick: Int => Double, ticks: Int): Array[Int] = {
    val out = mutable.ArrayBuffer.empty[Int]
    var carry = 0.0
    (0 until ticks).foreach { k =>
      carry += rateOfTick(k) * TickMs / 1000.0 / ConvLen
      while (carry >= 1.0) { out += k; carry -= 1.0 }
    }
    out.toArray
  }

  /** Writes one file per tick under `staged/tick=k/` (harness work). */
  def prepare(ctx: Ctx, params: Params): Input = {
    val spark = ctx.spark
    import spark.implicits._
    val ticks = params.stepTicks.sum
    val starts = schedule(k => Rates(Rates.indices.lastIndexWhere(params.firstTick(_) <= k)), ticks)
    val cfg = TranscriptGen.Config(nConvs = starts.length.toLong, seed = ctx.seed,
      minLen = ConvLen, meanLen = ConvLen, maxLen = ConvLen)
    val rows = spark.createDataset(starts.toSeq.zipWithIndex).flatMap { case (st, c) =>
      TranscriptGen.turnsFor(c.toLong, cfg).flatMap { t =>
        val tick = st + t.turn_idx / TurnsPerTick
        if (tick >= ticks) None
        else Some((tick, t.copy(conv_id = f"live-$c%08d",
          ts = new Timestamp(BaseEventMs + tick * EventTickMs + t.turn_idx * 10L))))
      }
    }.select(col("_1").as("tick"), col("_2.*")).cache()
    val staged = s"${ctx.work}/live_staged"
    rows.repartition(col("tick")).write.mode("overwrite").partitionBy("tick").parquet(staged)
    val counts = rows.groupBy("tick").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    rows.unpersist()
    Input(staged, counts, ticks)
  }

  def tickFile(staged: String, k: Int) =
    Common.listDir(Paths.get(staged, s"tick=$k")).find(_.getFileName.toString.endsWith(".parquet"))

  def measure(ctx: Ctx, params: Params, in: Input, calls: Option[LongAccumulator]): Run = {
    val dir = s"${ctx.work}/live_in"
    Common.freshDir(dir)
    val run = Streams.start(ctx, FlowSource.stream(ctx.spark, dir), s"${ctx.work}/live_run",
      Trigger.ProcessingTime(TriggerMs), Watermark, IdleGapMs, CompactEvery, calls)

    // the generator: one thread, landing each tick's file at its due time.
    // ProcessingTime triggers fire on multiples of the interval; the first
    // due time sits a fixed offset after one, so every run sees the same
    // phase between landings and triggers
    val t0 = (math.floor(Clock.epochMs() / TriggerMs) + 1) * TriggerMs + TickMs / 2
    val landed = new Array[Double](in.ticks)
    val gen = new Thread(() => {
      (0 until in.ticks).foreach { k =>
        val due = t0 + k.toLong * TickMs
        val wait = due - Clock.epochMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        tickFile(in.staged, k).foreach { f =>
          Files.setLastModifiedTime(f, FileTime.fromMillis(due.toLong))
          Files.move(f, Paths.get(dir, f"tick$k%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
        }
        landed(k) = Clock.epochMs()
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    // stop once the triggers have admitted every landed turn: turns arrive
    // in order, so their rows are emitted in the batch that reads them, and
    // waiting for the watermark's no-data batch would add two trigger
    // intervals to every run (a row it did hold back fails the check)
    val landedTurns = in.rowsPerTick.values.sum
    val deadline = Clock.epochMs() + 60000
    while (run.q.isActive && ctx.triggers.admitted(run.q) < landedTurns && Clock.epochMs() < deadline)
      Thread.sleep(20)
    run.q.stop()
    val ps = ctx.triggers.of(run.q)
    Common.log(s"live run: ${ps.size} triggers; " + Streams.phaseSummary(ps))
    Common.log("live timeline (ms after the first due time): " + ps.map { p =>
      val s0 = TriggerLedger.startMs(p) - t0
      f"batch ${p.batchId} rows ${p.numInputRows} start $s0%.0f end ${s0 + TriggerLedger.phase(p, "triggerExecution")}%.0f"
    }.mkString("; ") + " | " + run.epochs.map(e =>
      f"epoch ${e.epoch} add ${e.addStart - t0}%.0f-${e.addEnd - t0}%.0f" +
        (if (e.compactEnd > 0) f" compact ${e.compactStart - t0}%.0f-${e.compactEnd - t0}%.0f" else "")
    ).mkString("; "))

    def due(k: Int) = t0 + k.toLong * TickMs
    // latency: per (epoch, tick) row counts from the committed output
    val commit = run.epochs.map(e => e.epoch -> e.addEnd).toMap
    val tickCol = floor((unix_micros(col("ts").cast("timestamp")) / 1000 - BaseEventMs) / EventTickMs)
    val cells = run.sink.readCommitted(ctx.spark).groupBy(col("epoch"), tickCol.as("tick"))
      .count().collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getAs[Number](1).intValue(), r.getLong(2)))
    val lat = cells.toSeq.flatMap { case (e, k, n) => commit.get(e).map(c => (k, c - due(k), n)) }
    // backlog at a moment: turns landed minus turns admitted by the
    // triggers that had started by then
    def backlog(at: Double): Long =
      (0 until in.ticks).filter(landed(_) <= at).map(k => in.rowsPerTick.getOrElse(k, 0L)).sum -
        ps.filter(p => TriggerLedger.startMs(p) <= at).map(_.numInputRows).sum
    val steps = Rates.indices.map { i =>
      val ks = params.firstTick(i) until params.firstTick(i) + params.stepTicks(i)
      val xs = lat.filter(l => ks.contains(l._1)).map(l => (l._2, l._3))
      val turns = ks.map(k => in.rowsPerTick.getOrElse(k, 0L)).sum
      val rate = turns / ((landed(ks.last) - due(ks.head) + TickMs) / 1000.0)
      val p99 = Weighted.quantile(xs, 0.99)
      val bl = backlog(due(ks.last) + TickMs)
      val ok = p99 <= P99LimitMs && bl <= Rates(i) * P99LimitMs / 1000.0
      ctx.report(s"live_step${i}_rate_turns_per_s", rate, "1/s")
      ctx.report(s"live_step${i}_p50_ms", Weighted.quantile(xs, 0.5), "ms")
      ctx.report(s"live_step${i}_p99_ms", p99, "ms")
      ctx.report(s"live_step${i}_backlog_turns", bl.toDouble, "count")
      ctx.report(s"live_step${i}_sustained", if (ok) 1.0 else 0.0, "bool")
      (rate, xs, ok, bl)
    }
    val mid = steps(steps.size / 2)._2
    ctx.e2e("latency_typical_ms") = Weighted.quantile(mid, 0.5)
    ctx.e2e("latency_tail_ms") = Weighted.quantile(mid, 0.99)
    ctx.report("live_e2e_p50_ms", ctx.e2e("latency_typical_ms"), "ms")
    ctx.report("live_e2e_p99_ms", ctx.e2e("latency_tail_ms"), "ms")
    ctx.report("live_sustained_turns_per_s", steps.filter(_._3).map(_._1).lastOption.getOrElse(0.0), "1/s")
    ctx.layers("gen.late_ms") = Common.quantile((0 until in.ticks).map(k => landed(k) - due(k)), 0.99)
    ctx.report("gen_late_p99_ms", ctx.layers("gen.late_ms"), "ms")
    Run(run, ps, steps.last._4)
  }

  /** Committed rows == the batch fold over every landed turn; no late drops;
    * every landed turn admitted. Returns the admitted turns. */
  def check(ctx: Ctx, in: Input, r: Run): Long = {
    val dir = s"${ctx.work}/live_in"
    val expected = Streams.expected(ctx, dir)
    Streams.checkOutput(ctx, "live committed rows", r.run.sink.readCommitted(ctx.spark),
      expected, Ctx.contentHash(expected))
    val dropped = Streams.lateDropped(r.ps)
    ctx.check("live late drops", dropped == 0L, s"$dropped dropped", 0L, dropped)
    val admitted = r.ps.map(_.numInputRows).sum
    val landed = in.rowsPerTick.values.sum
    ctx.check("live turns admitted", admitted == landed, s"$admitted admitted of $landed",
      0L, math.abs(landed - admitted))
    admitted
  }
}
