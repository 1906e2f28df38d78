package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** One benchmark run: its arguments, the Spark session under test, the
  * benchmark-owned listeners, the tracer and the results. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val traced: Boolean, val work: String, val data: String, val nproc: Int) {

  val tracer = new Tracer(s"$workload-$seed")
  val triggers = new TriggerLedger
  val stages = new StageLedger
  private var current: Option[SparkSession] = None

  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Metrics by the names the benchmark documents, with units, printed by
    * the command whatever the trace mode. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  def report(name: String, v: Double, unit: String): Unit = named(name) = (v, unit)
  val hashes = mutable.LinkedHashMap.empty[String, (Long, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  /** The timed section, for the figures read over it (stages, GC, steal). */
  var timedFrom = 0.0
  var timedTo = 0.0
  private var gcFrom = 0.0
  private var stealFrom: Option[(Long, Long)] = None
  def startTimed(): Unit = {
    timedFrom = Clock.epochMs(); gcFrom = Common.gcMs(); stealFrom = Common.cpuJiffies()
  }
  def endTimed(): Unit = {
    timedTo = Clock.epochMs()
    layers("jvm.gc_ms") = Common.gcMs() - gcFrom
    layers("host.steal_frac") = Common.stealFrac(stealFrom, Common.cpuJiffies())
  }

  def spark: SparkSession = current.get

  /** A fresh local-mode session at `cpus` task threads; the job's shuffle
    * and state partitioning stays at 32 whatever the thread count. */
  def session(cpus: Int): SparkSession = {
    stop()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload-$cpus")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark_local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.streams.addListener(triggers)
    if (traced) s.sparkContext.addSparkListener(stages)
    current = Some(s)
    s
  }

  def stop(): Unit = { current.foreach(_.stop()); current = None }

  def check(name: String, ok: Boolean, detail: String, n: Long, bad: Long): Unit = synchronized {
    checks += ((name, ok, detail)); attempted += n; failed += bad
    if (!ok) System.err.println(s"[perfbench] check failed: $name: $detail")
  }
}

object Ctx {
  /** Positional column names c0..cN, so any result shape can be hashed. */
  def positional(df: DataFrame): DataFrame = df.toDF(df.columns.indices.map(i => s"c$i"): _*)

  /** Per-row hash over every column (maps as JSON: xxhash64 rejects them). */
  def rowHash(df: DataFrame): Column =
    xxhash64(df.schema.fields.toSeq.map { f => f.dataType match {
      case _: MapType => to_json(col(s"`${f.name}`"))
      case _ => col(s"`${f.name}`")
    }}: _*)

  /** (rows, exact sum of row hashes): order-insensitive content hash. */
  def hashAggs(df: DataFrame): Seq[Column] = Seq(count(lit(1)).as("rows"),
    sum(rowHash(df).cast("decimal(20,0)")).as("hash"))

  def hashValue(rows: Any, sum: Any): (Long, String) = (rows.asInstanceOf[Long],
    Option(sum).map(_.asInstanceOf[java.math.BigDecimal].toBigInteger.toString).getOrElse("0"))

  def contentHash(df: DataFrame): (Long, String) = {
    val d = positional(df)
    val r = d.agg(hashAggs(d).head, hashAggs(d).tail: _*).head()
    hashValue(r.get(0), r.get(1))
  }

  def cols(names: Seq[String]): Seq[Column] = names.map(c => col(s"`$c`"))

  /** (missing, extra) rows of `actual` against `expected` as multisets. */
  def multisetDiff(actual: DataFrame, expected: DataFrame): (Long, Long) = {
    val a = actual.select(cols(expected.columns.toSeq): _*)
    (expected.exceptAll(a).count(), a.exceptAll(expected).count())
  }
}
