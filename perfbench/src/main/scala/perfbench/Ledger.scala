package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Every micro-batch of every query, from a benchmark-owned listener.
  * `StreamingQuery.recentProgress` keeps only the last
  * `spark.sql.streaming.numRecentProgressUpdates` (100) triggers, so a long
  * run read from it silently loses its oldest triggers. */
final class TriggerLedger extends StreamingQueryListener {
  private val seen = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    seen.add(e.progress); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Source rows the query's finished triggers have read. */
  def admitted(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    seen.asScala.filter(_.id == q.id).map(_.numInputRows).sum

  /** All triggers of one query in batch order, once the listener bus has
    * delivered the query's last one (events arrive asynchronously). */
  def of(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[StreamingQueryProgress] = {
    val last = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    val deadline = System.currentTimeMillis() + 30000L
    def mine = seen.asScala.filter(_.id == q.id).toSeq
    while (!mine.exists(_.batchId >= last) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    mine.sortBy(_.batchId)
  }
}

object TriggerLedger {
  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  def phase(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)
  def state(ps: Seq[StreamingQueryProgress]) = ps.flatMap(_.stateOperators)
}

/** One completed stage with the task metrics the layer table needs. */
final case class StageRec(
    stageId: Int, batch: Option[(String, Long)], group: Option[String],
    startMs: Double, endMs: Double, rdds: Seq[String], runMs: Double, cpuMs: Double,
    shuffleReadBytes: Long, fetchWaitMs: Double, shuffleWriteBytes: Long,
    shuffleWriteMs: Double, spillBytes: Long, taskRunMs: Seq[Double]) {
  def stateful: Boolean = rdds.exists(_.startsWith("StateStore"))
  def scans: Boolean = rdds.exists(_.contains("FileScan"))
}

/** `batch` = (streaming query id, batch id) for jobs a micro-batch ran. */
final case class JobRec(endMs: Double, batch: Option[(String, Long)])

/** Benchmark-owned SparkListener: per stage and per job, with the streaming
  * batch id or job group each job ran under. Registered only in traced
  * runs. */
final class StageLedger extends SparkListener {
  /** job id -> (streaming query id and batch id, job group) */
  private val jobKeys = mutable.Map.empty[Int, (Option[(String, Long)], Option[String])]
  private val jobsDone = mutable.ArrayBuffer.empty[JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val taskRun = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
  private val stagesDone = mutable.ArrayBuffer.empty[StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val batch = for (q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId"))
      yield (q, b.toLong)
    jobKeys(e.jobId) = (batch, prop("spark.jobGroup.id"))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKeys.get(e.jobId).foreach { case (b, _) => jobsDone += JobRec(e.time.toDouble, b) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null)
      taskRun.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskMetrics.executorRunTime.toDouble
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    val job = stageJob.get(si.stageId)
    val (batch, group) = job.flatMap(jobKeys.get).getOrElse((None, None))
    if (m != null) stagesDone += StageRec(
      si.stageId, batch, group,
      si.submissionTime.getOrElse(0L).toDouble, si.completionTime.getOrElse(0L).toDouble,
      si.rddInfos.map(_.name), m.executorRunTime.toDouble, m.executorCpuTime / 1e6,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime.toDouble,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime / 1e6,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      taskRun.remove(si.stageId).map(_.toSeq).getOrElse(Seq.empty))
  }

  def stages: Seq[StageRec] = synchronized(stagesDone.toSeq)
  def jobs: Seq[JobRec] = synchronized(jobsDone.toSeq)
}

/** A traced interval. `parent` is the id of the span that caused it; all
  * spans of one run share `trace`. Times are epoch ms. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startMs: Double, endMs: Double, trace: String)

/** In-memory span store, written out when the run ends. */
final class Tracer(val trace: String) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  def add(parent: Int, name: String, layer: String, startMs: Double, endMs: Double): Int =
    synchronized {
      val id = nextId; nextId += 1
      buf += Span(id, parent, name, layer, startMs, endMs, trace); id
    }

  /** Sets the end of a span opened with an unknown end. */
  def close(id: Int, endMs: Double): Unit = synchronized {
    buf(id - 1) = buf(id - 1).copy(endMs = endMs)
  }

  def spans: Seq[Span] = synchronized(buf.toSeq)

  /** Self time per layer: each span's duration minus the part of it its
    * children cover. */
  def selfMsByLayer(): Map[String, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a })
      s.layer -> math.max(0.0, (s.endMs - s.startMs) - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  def toJson: String = Common.json(spans.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs, "trace" -> s.trace)))
}

object Clock {
  private val anchorEpoch = System.currentTimeMillis().toDouble
  private val anchorNano = System.nanoTime()
  /** Epoch ms with sub-ms resolution, comparable with Spark's event times. */
  def epochMs(): Double = anchorEpoch + (System.nanoTime() - anchorNano) / 1e6
}
