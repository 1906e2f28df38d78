package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.flow.{Flow, FlowSource}
import graft.gen.TranscriptGen
import graft.operators.DedupOps
import graft.sources.TranscriptTable
import graft.state.Handlers

/** `batch_ops`: the 22 headline registry queries by name, the batch
  * automaton fold over a table in which a few conversations hold a large
  * share of the turns, and the corpus dedup over documents spiked with
  * templated near-duplicates. Operators, functions, the fold shell and
  * shuffle skew do the work; streaming state and the sink sit idle. */
object BatchOps {

  /** The timed headline: the same 22 names the engine's own bench times. */
  val Headline: Seq[String] = Seq(
    "q01_agg_pricing", "q03_join_broadcast", "q04_join_shuffle_3way",
    "q08_window_rank", "q09_window_running", "q20_tumbling_window",
    "q22_session_window", "q23_change_detect", "q24_asof_join",
    "q27_dedup_exact", "q28_token_count", "q30_langid",
    "q32_minhash_lsh", "q33_ngram_jaccard", "q34_simhash",
    "q37b_ann_lsh_banded", "q36b_embed_neardup_lsh", "q36c_neardup_vs_corpus",
    "q38_multimodal_meta", "q42_topk_udaf", "q43_pivot", "q44_hash_split")
  val Fold = "fold_hot_conversations"
  val Dedup = "dedup_spiked"
  val Jobs: Seq[String] = Headline :+ Fold :+ Dedup
  /** The slowest jobs (0.9-6 s each, the rest under 0.9 s). */
  val SlowFirst: Seq[String] = Seq(Dedup, "q33_ngram_jaccard", "q32_minhash_lsh",
    "q36b_embed_neardup_lsh", "q09_window_running", "q36c_neardup_vs_corpus",
    "q37b_ann_lsh_banded", "q22_session_window")
  val SpikeDocs = 2500L
  val FoldBuckets = 8
  val DedupThreshold = 0.7

  /** A few conversations hold about 40% of all turns. */
  def foldConfig(seed: Long): TranscriptGen.Config =
    TranscriptGen.Config(nConvs = 2500L, seed = seed, meanLen = 16, maxLen = 256,
      hotConvs = 4, hotLen = 7500)

  /** The documents plus templated near-identical ones: the shape that,
    * uncapped, makes one LSH bucket emit ~C(spike, 2) pairs. */
  def spikedCorpus(ctx: Ctx, data: String, spike: Long): DataFrame = {
    val docs = ctx.spark.read.parquet(s"$data/documents.parquet").select("doc_id", "text")
    val extra = ctx.spark.range(spike).select((col("id") + 10000000L).as("doc_id"),
      concat(lit("the quick brown fox jumps over the lazy dog tail "), col("id")).as("text"))
    docs.unionByName(extra)
  }

  /** ChangeDetector as a lag window over the turns: the independent form
    * the fold is checked against. */
  def foldOracle(turns: DataFrame): DataFrame = {
    val temp = regexp_extract(col("text"), "temp=(-?[0-9][0-9.]*)", 1).cast("double")
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    turns.withColumn("temp", temp)
      .withColumn("status", when(col("temp") < 97.0, "COLD")
        .when(col("temp") > 99.0, "HOT").otherwise("NOMINAL"))
      .withColumn("prev", lag("status", 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("status"))
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "temp", "status")
  }

  /** One timed job: when it started (epoch ms) and its wall. */
  final case class JobResult(name: String, startMs: Double, ms: Double)

  /** Runs `f` on every job from `threads` driver threads at once, the
    * slowest jobs first so that none of them runs alone at the end. */
  def concurrently[A](threads: Int)(f: String => A): Map[String, A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      (SlowFirst ++ Jobs.filterNot(SlowFirst.contains)).map { n =>
        n -> pool.submit(new java.util.concurrent.Callable[A] { def call(): A = f(n) })
      }.map { case (n, r) => n -> r.get() }.toMap
    } finally pool.shutdown()
  }

  /** Runs a job into the noop sink with an observation that reduces its
    * output to (rows, content hash). */
  def hashed(df: DataFrame, name: String): (Long, String) = {
    val d = Ctx.positional(df)
    val o = new Observation(s"hash_$name")
    val aggs = Ctx.hashAggs(d)
    d.observe(o, aggs.head, aggs.tail: _*).write.format("noop").mode("overwrite").save()
    val m = o.get
    Ctx.hashValue(m("rows"), m("hash"))
  }

  def run(ctx: Ctx, warmData: String): Unit = {
    val foldDir = s"${ctx.work}/fold_table"
    // set-up starts with the session build, the first call into the engine
    val (_, sessionMs) = Common.timed(ctx.session(ctx.nproc))
    Common.log("session built")
    // input generation: harness work, outside the set-up clock
    TranscriptTable.write(TranscriptGen.dataset(ctx.spark, foldConfig(ctx.seed)), foldDir,
      FoldBuckets)
    Common.log("inputs written")

    val setupT0 = Common.nowMs()
    val spark = ctx.spark
    import spark.implicits._
    val queries = SparkEntry.queries
    val dedupObs = mutable.ArrayBuffer.empty[Observation]
    // the fold always reads its one table: under a second of work
    def job(name: String, data: String, spike: Long): DataFrame = name match {
      case Fold => Flow.stateful(Handlers.ChangeDetector).apply(FlowSource.table(spark, foldDir)).toDF()
      case Dedup =>
        val o = new Observation(s"dedup_${dedupObs.size}")
        dedupObs.synchronized(dedupObs += o)
        DedupOps.dedupCorpus(spikedCorpus(ctx, data, spike), DedupThreshold, obs = Some(o))
      case q => queries(q)(spark, data)
    }
    def fullJob(n: String): DataFrame = job(n, ctx.data, SpikeDocs)
    def smallJob(n: String): DataFrame = job(n, warmData, SpikeDocs / 50)
    // one job run to completion into the noop sink
    def timedJob(n: String): JobResult = {
      val d = fullJob(n)
      spark.sparkContext.setJobGroup(n, n)
      val start = Clock.epochMs()
      val (_, ms) = Common.timed(d.write.format("noop").mode("overwrite").save())
      spark.sparkContext.clearJobGroup()
      JobResult(n, start, ms)
    }

    // set-up: session build + a warm-up run of every job over small tables
    // (2% scale; the fold over its own table), so the timed passes run
    // compiled code; the warm-up jobs
    // run from nproc driver threads at once, which overlaps their planning
    // and code generation. The warm-up is also every run's check run: each
    // output is reduced to (rows, content hash), so the timed passes carry
    // no harness work
    concurrently(ctx.nproc)(n => hashed(smallJob(n), n)).foreach { case (n, h) =>
      ctx.hashes(s"small/$n") = h
    }
    Common.log("warm-up pass done")
    ctx.e2e("setup_s") = (sessionMs + Common.nowMs() - setupT0) / 1000.0
    ctx.report("setup_s", ctx.e2e("setup_s"), "s")

    val root = ctx.tracer.add(0, "workload batch_ops", "workload", Clock.epochMs(), 0)
    ctx.startTimed()
    val t0 = Common.nowMs()
    val passes = mutable.ArrayBuffer.empty[Seq[JobResult]]
    while (passes.isEmpty || Common.nowMs() - t0 < ctx.seconds * 1000) {
      passes += Jobs.map(timedJob)
      Common.log(passes.last.map(j => f"${j.name} ${j.ms}%.0f").mkString("pass: ", ", ", ""))
    }
    ctx.endTimed()
    ctx.tracer.close(root, ctx.timedTo)

    // outputs: the queries and the dedup spike are compared with pinned
    // values by the command, the fold with its lag-window form. A traced
    // run also hashes every job over the full tables, after its timed pass
    if (ctx.traced) {
      ctx.hashes ++= concurrently(ctx.nproc)(n => hashed(fullJob(n), n))
      Common.log("full-scale check run done")
    }
    val foldTurns = FlowSource.table(spark, foldDir).toDF()
    val oracle = Ctx.contentHash(foldOracle(foldTurns))
    val foldHash = ctx.hashes.remove(s"small/$Fold").get
    ctx.hashes.remove(Fold)
    if (oracle == foldHash)
      ctx.check("fold == lag-window change-detect", ok = true, s"${oracle._1} rows", 1L, 0L)
    else {
      val (missing, extra) = Ctx.multisetDiff(job(Fold, ctx.data, 0L), foldOracle(foldTurns))
      ctx.check("fold == lag-window change-detect", ok = false,
        s"missing=$missing extra=$extra of ${oracle._1}", 1L, 1L)
    }

    val perJob = Jobs.map(n => n -> Common.median(passes.map(_.find(_.name == n).get.ms).toSeq)).toMap
    val passWall = passes.map(_.map(_.ms).sum).toSeq
    ctx.e2e("throughput_per_s") = Common.median(passWall.map(w => Jobs.size / (w / 1000.0)))
    // geometric means weigh every job's relative change alike: a median of
    // 24 unlike jobs jumps between the two middle ones, and the slowest job
    // alone is one straggler-bound measurement
    def geomean(xs: Seq[Double]) = math.exp(xs.map(math.log).sum / xs.size)
    val walls = perJob.values.toSeq.sorted
    ctx.e2e("latency_typical_ms") = geomean(walls)
    ctx.e2e("latency_tail_ms") = geomean(walls.takeRight(walls.size / 4))
    ctx.report("batch_total_s", Common.median(passes.map(
      _.filter(j => Headline.contains(j.name)).map(_.ms).sum / 1000.0).toSeq), "s")
    ctx.report("batch_fold_s", perJob(Fold) / 1000.0, "s")
    ctx.report("batch_skew_dedup_s", perJob(Dedup) / 1000.0, "s")
    ctx.report("batch_passes", passes.size.toDouble, "count")
    val hot = foldTurns.groupBy("conv_id").count().orderBy(desc("count")).limit(4)
      .agg(sum("count")).head().getLong(0)
    ctx.report("fold_hot_conv_share", hot.toDouble / foldTurns.count(), "ratio")

    if (ctx.traced) {
      val st = ctx.stages.stages.filter(_.startMs >= ctx.timedFrom)
      val byGroup = st.groupBy(_.group.getOrElse(""))
      passes.flatten.foreach { case JobResult(n, at, ms) =>
        val layer = if (n == Fold) "state" else "operators"
        val qid = ctx.tracer.add(root, s"query $n", layer, at, at + ms)
        // Spark stamps stage times in whole ms
        byGroup.getOrElse(n, Nil).filter(s => s.startMs >= at - 1 && s.startMs <= at + ms)
          .foreach(s => ctx.tracer.add(qid, s"stage ${s.stageId}", layer, s.startMs, s.endMs))
      }
      Headline.foreach { q =>
        ctx.layers(s"operators.$q.wall_ms") = perJob(q)
        ctx.layers(s"operators.$q.cpu_ms") = byGroup.getOrElse(q, Nil).map(_.cpuMs).sum / passes.size
      }
      val fold = byGroup.getOrElse(Fold, Nil)
      ctx.layers("state.fold_ms") = perJob(Fold)
      ctx.layers("state.fold_spill_bytes") = fold.map(_.spillBytes).sum.toDouble / passes.size
      ctx.layers("state.fold_max_task_ms") = (fold.flatMap(_.taskRunMs) :+ 0.0).max
      ctx.layers("operators.dedup.wall_ms") = perJob(Dedup)
      ctx.layers("operators.dedup.truncated_buckets") =
        dedupObs.last.get("truncated_buckets").asInstanceOf[Long].toDouble
      val corpus = spikedCorpus(ctx, ctx.data, SpikeDocs)
      val cand = DedupOps.minhashLshPairs(corpus).cache()
      val nCand = cand.count()
      val verified = DedupOps.ngramJaccard(corpus, cand)
        .filter(col("jaccard") >= DedupThreshold).count()
      cand.unpersist()
      ctx.layers("operators.dedup.candidate_pairs") = nCand.toDouble
      ctx.layers("operators.dedup.verified_frac") =
        if (nCand == 0) 0.0 else verified.toDouble / nCand
      // the tracing overhead: each of the first eight headline queries once
      // untraced and once traced, back to back, the order alternating from
      // query to query so the second run's warmth cancels out
      def probe(n: String, traced: Boolean): Double =
        if (traced) timedJob(n).ms
        else {
          spark.sparkContext.removeSparkListener(ctx.stages)
          try timedJob(n).ms
          finally spark.sparkContext.addSparkListener(ctx.stages)
        }
      val pairs = Headline.take(8).zipWithIndex.map { case (n, i) =>
        if (i % 2 == 0) { val u = probe(n, false); (u, probe(n, true)) }
        else { val t = probe(n, true); (probe(n, false), t) }
      }
      ctx.layers("trace.overhead_frac") = pairs.map(_._2).sum / pairs.map(_._1).sum - 1.0
    }
  }
}
