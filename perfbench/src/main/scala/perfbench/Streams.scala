package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.util.LongAccumulator

import graft.flow.{Flow, FlowSource}
import graft.model.{LabeledTurn, Turn}
import graft.sink.ExactlyOnceParquetSink
import graft.state.{AutomatonRunner, Handlers, TurnAutomaton}

/** When one epoch's `sink.addBatch` ran, and its `sink.compact` if any
  * (epoch ms; 0 = no compaction). */
final case class EpochRec(epoch: Long, addStart: Double, addEnd: Double,
    compactStart: Double, compactEnd: Double)

final class StreamRun(val q: StreamingQuery, val sink: ExactlyOnceParquetSink,
    recs: ConcurrentLinkedQueue[EpochRec], val startMs: Double) {
  def epochs: Seq[EpochRec] = recs.asScala.toSeq.sortBy(_.epoch)
}

/** Delegates to an automaton and counts its onTurn calls (traced runs). */
final class CountingAutomaton[S, O](inner: TurnAutomaton[S, O], calls: LongAccumulator)
    extends TurnAutomaton[S, O] {
  override def initial: S = inner.initial
  override def onTurn(s: S, t: Turn): (S, Seq[O]) = { calls.add(1L); inner.onTurn(s, t) }
  override def onComplete(s: S): Seq[O] = inner.onComplete(s)
}

/** The CEP pipeline both stream workloads drive, through the engine's public
  * API only: file stream -> keyed ordered automaton (ChangeDetector) ->
  * exactly-once parquet sink, with the commit time of every epoch recorded
  * when `addBatch` returns. */
object Streams {

  def start(ctx: Ctx, src: Dataset[Turn], dir: String, trigger: Trigger,
      watermark: String, idleGapMs: Long, compactEvery: Int,
      onTurnCalls: Option[LongAccumulator]): StreamRun = {
    val spark = ctx.spark
    import spark.implicits._
    val automaton: TurnAutomaton[Option[String], LabeledTurn] = onTurnCalls match {
      case Some(acc) => new CountingAutomaton(Handlers.ChangeDetector, acc)
      case None => Handlers.ChangeDetector
    }
    val out = AutomatonRunner.runStreaming(src, automaton,
      watermarkDelay = watermark, idleGapMs = idleGapMs)
    val ckpt = s"$dir/ckpt"
    graft.state.StateVersion.checkAndStamp(ckpt)
    val sink = new ExactlyOnceParquetSink(s"$dir/out")
    val recs = new ConcurrentLinkedQueue[EpochRec]()
    val t0 = Clock.epochMs()
    val q = out.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: Dataset[LabeledTurn], epoch: Long) =>
        val a0 = Clock.epochMs()
        sink.addBatch(df.toDF(), epoch)
        val a1 = Clock.epochMs()
        if (compactEvery > 0 && (epoch + 1) % compactEvery == 0) {
          sink.compact(spark)
          recs.add(EpochRec(epoch, a0, a1, a1, Clock.epochMs()))
        } else recs.add(EpochRec(epoch, a0, a1, 0.0, 0.0))
        ()
      }
      .trigger(trigger)
      .start()
    new StreamRun(q, sink, recs, t0)
  }

  /** The batch fold over the same turns: what the stream must commit. */
  def expected(ctx: Ctx, inDir: String): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    val turns = FlowSource.table(spark, inDir)
      .filter(col("conv_id") =!= AutomatonRunner.SentinelConvId).as[Turn]
    Flow.stateful(Handlers.ChangeDetector).apply(turns).toDF()
  }

  /** Committed rows against the expected multiset; (expected rows, missing
    * + extra rows). A hash match settles it; otherwise the rows are
    * diffed. */
  def checkOutput(ctx: Ctx, name: String, committed: DataFrame,
      expected: DataFrame, expectedHash: (Long, String)): Unit = {
    val got = committed.select(Ctx.cols(expected.columns.toSeq): _*)
    val h = Ctx.contentHash(got)
    if (h == expectedHash) ctx.check(name, ok = true, s"${h._1} rows", h._1, 0L)
    else {
      val (missing, extra) = Ctx.multisetDiff(got, expected)
      ctx.check(name, missing + extra == 0L,
        s"missing=$missing extra=$extra of ${expectedHash._1}", expectedHash._1, missing + extra)
    }
  }

  /** Median ms per trigger phase, for the run log. */
  def phaseSummary(ps: Seq[StreamingQueryProgress]): String =
    ps.flatMap(_.durationMs.keySet().toArray.map(_.toString)).distinct.sorted.map { k =>
      f"$k ${Common.median(ps.map(TriggerLedger.phase(_, k)))}%.0f"
    }.mkString(", ") + f"; state commit ${Common.median(ps.map(p =>
      p.stateOperators.map(_.commitTimeMs).sum.toDouble))}%.0f, rows in ${ps.map(_.numInputRows).sum}"

  def lateDropped(ps: Seq[StreamingQueryProgress]): Long =
    TriggerLedger.state(ps).map(_.numRowsDroppedByWatermark).sum

  /** Spans of one streaming query: trigger -> phases -> sink calls ->
    * stages. Phases are laid out in the order the micro-batch runs them. */
  def trace(ctx: Ctx, parent: Int, run: StreamRun, ps: Seq[StreamingQueryProgress]): Unit = {
    val t = ctx.tracer
    val recs = run.epochs.map(r => r.epoch -> r).toMap
    val qid = run.q.id.toString
    val stagesByBatch = ctx.stages.stages.flatMap(st => st.batch.collect {
      case (q, b) if q == qid => b -> st }).groupMap(_._1)(_._2)
    val order = Seq("latestOffset" -> "sources", "walCommit" -> "flow",
      "getBatch" -> "sources", "queryPlanning" -> "flow", "addBatch" -> "flow",
      "commitOffsets" -> "flow")
    ps.foreach { p =>
      val s0 = TriggerLedger.startMs(p)
      val tid = t.add(parent, s"trigger ${p.batchId}", "flow", s0,
        s0 + TriggerLedger.phase(p, "triggerExecution"))
      var at = s0
      var addPhase = tid
      order.foreach { case (k, layer) =>
        val d = TriggerLedger.phase(p, k)
        if (d > 0) {
          val id = t.add(tid, k, layer, at, at + d)
          if (k == "addBatch") addPhase = id
          at += d
        }
      }
      val rec = recs.get(p.batchId)
      val sinkSpan = rec.map(r => t.add(addPhase, "sink.addBatch", "sink", r.addStart, r.addEnd))
      val compactSpan = rec.filter(_.compactEnd > 0).map(r =>
        t.add(addPhase, "sink.compact", "sink", r.compactStart, r.compactEnd))
      stagesByBatch.getOrElse(p.batchId, Nil).foreach { st =>
        val inCompact = rec.exists(r => r.compactEnd > 0 && st.startMs >= r.compactStart - 1)
        val (par, layer) =
          if (inCompact) (compactSpan.get, "sink")
          else (sinkSpan.getOrElse(addPhase),
            if (st.stateful) "state" else if (st.scans) "sources" else "sink")
        t.add(par, s"stage ${st.stageId}", layer, st.startMs, st.endMs)
      }
    }
  }

  /** Per-layer figures every stream workload reports from its triggers,
    * epochs and (traced) stages. */
  def layerMetrics(ctx: Ctx, runs: Seq[(StreamRun, Seq[StreamingQueryProgress])],
      inputTurns: Long): Unit = {
    val ps = runs.flatMap(_._2)
    val so = TriggerLedger.state(ps)
    val L = ctx.layers
    def ph(k: String*) = ps.map(p => k.map(TriggerLedger.phase(p, _)).sum)
    L("sources.offset_ms") = Common.median(ph("latestOffset", "getBatch"))
    L("sources.input_turns") = inputTurns.toDouble
    L("flow.plan_ms") = Common.median(ph("queryPlanning"))
    L("flow.wal_ms") = Common.median(ph("walCommit", "commitOffsets"))
    L("flow.trigger_p50_ms") = Common.median(ph("triggerExecution"))
    L("state.update_ms") = so.map(_.allUpdatesTimeMs).sum.toDouble
    L("state.removal_ms") = so.map(_.allRemovalsTimeMs).sum.toDouble
    L("state.commit_ms") = so.map(_.commitTimeMs).sum.toDouble
    L("state.rows_total") = runs.flatMap(_._2.lastOption).flatMap(_.stateOperators)
      .map(_.numRowsTotal).sum.toDouble
    L("state.mem_bytes") = if (so.isEmpty) 0.0 else so.map(_.memoryUsedBytes).max.toDouble
    L("state.late_dropped") = lateDropped(ps).toDouble
    val recs = runs.flatMap(_._1.epochs)
    val add = recs.map(r => r.addEnd - r.addStart)
    L("sink.add_batch_p50_ms") = Common.median(add)
    L("sink.add_batch_max_ms") = if (add.isEmpty) 0.0 else add.max
    L("sink.epochs") = recs.size.toDouble
    L("sink.compact_ms") = recs.filter(_.compactEnd > 0).map(r => r.compactEnd - r.compactStart).sum
    // marker: from the end of the epoch's last Spark job to addBatch's return
    val jobEnd = ctx.stages.jobs.flatMap(j => j.batch.map(_ -> j.endMs))
      .groupMapReduce(_._1)(_._2)(math.max)
    val marker = runs.flatMap { case (run, _) =>
      val qid = run.q.id.toString
      run.epochs.flatMap(r => jobEnd.get((qid, r.epoch))
        .filter(e => e <= r.addEnd && e >= r.addStart).map(e => r.addEnd - e))
    }
    L("sink.marker_ms") = Common.median(marker)
    val ids = runs.map(_._1.q.id.toString).toSet
    val st = ctx.stages.stages.filter(_.batch.exists(b => ids.contains(b._1)))
    val stateful = st.filter(_.stateful)
    L("sources.scan_cpu_ms") = st.filter(s => s.scans && !s.stateful).map(_.cpuMs).sum
    L("state.stage_cpu_ms") = stateful.map(_.cpuMs).sum
    L("state.task_skew") = Common.median(stateful.filter(_.taskRunMs.nonEmpty).map { s =>
      val m = Common.median(s.taskRunMs); if (m > 0) s.taskRunMs.max / m else 1.0
    })
  }
}
