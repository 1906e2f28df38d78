package graft

import java.nio.file.{Files, Paths}

import graft.sink.ExactlyOnceParquetSink

/** Epoch compaction of the exactly-once sink (round-4 judge stretch):
  * many small per-epoch commits collapse into one generation dir + a
  * high-water marker, the committed VIEW never changes, and redelivery
  * dedup survives the per-epoch markers' deletion. */
class SinkCompactionSpec extends SparkSpec {

  private def addEpochs(sink: ExactlyOnceParquetSink, ids: Range): Unit = {
    import spark.implicits._
    ids.foreach(e => sink.addBatch(
      Seq((e.toLong, s"row-$e")).toDF("id", "payload"), e.toLong))
  }

  private def view(sink: ExactlyOnceParquetSink): Set[(Long, String)] =
    sink.readCommitted(spark).select("id", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("compaction preserves the committed view and shrinks the listing") {
    val dir = tmpDir("graft_compact")
    val sink = new ExactlyOnceParquetSink(dir)
    addEpochs(sink, 0 until 6)
    val before = view(sink)
    assert(before.size == 6)

    sink.compact(spark)
    assert(sink.compactedUpTo().contains(5L))
    assert(view(sink) == before, "compaction must not change the view")
    assert(sink.committedEpochs().isEmpty,
      "covered per-epoch markers must be gone (the listing shrinks)")
    // the per-epoch data dirs are gone too
    assert(!Files.exists(Paths.get(s"$dir/epoch=3")))

    // a REDELIVERED covered epoch is still deduped (committed by
    // definition below the high-water mark) — no duplicate rows appear
    import spark.implicits._
    sink.addBatch(Seq((3L, "row-3-redelivered")).toDF("id", "payload"), 3L)
    assert(view(sink) == before, "redelivered covered epoch must be dropped")

    // the stream continues: new epochs commit as dirs, the view grows
    addEpochs(sink, 6 until 9)
    val grown = view(sink)
    assert(grown.size == 9 && before.subsetOf(grown))

    // second compaction folds the previous generation + the tail
    sink.compact(spark)
    assert(sink.compactedUpTo().contains(8L))
    assert(view(sink) == grown)
    assert(!Files.exists(Paths.get(s"$dir/_gen=5")),
      "the superseded generation must be cleaned up")
  }

  test("compaction sweeps an orphan generation and stale tmp markers, never a live one") {
    val dir = tmpDir("graft_compact_sweep")
    val sink = new ExactlyOnceParquetSink(dir)
    addEpochs(sink, 0 until 4)
    sink.compact(spark)
    addEpochs(sink, 4 until 6)
    val before = view(sink)
    // what crashes leave: a generation written but never flipped (its mark
    // is below the next one), and tmp markers never renamed
    Files.createDirectories(Paths.get(dir, "_gen=4"))
    Files.write(Paths.get(dir, "_gen=4", "part-0.parquet"), Array[Byte](1, 2, 3))
    val commits = Paths.get(dir, "_commits")
    Files.write(commits.resolve(".2.tmp"), "epoch=2".getBytes)
    Files.write(commits.resolve(".5.tmp"), "epoch=5".getBytes)
    // an epoch above the new mark still committing while compaction runs
    Files.write(commits.resolve(".6.tmp"), "epoch=6".getBytes)

    sink.compact(spark)
    assert(sink.compactedUpTo().contains(5L))
    assert(!Files.exists(Paths.get(dir, "_gen=4")), "orphan generation below the mark")
    assert(!Files.exists(Paths.get(dir, "_gen=3")), "superseded generation")
    assert(Files.exists(Paths.get(dir, "_gen=5")))
    assert(!Files.exists(commits.resolve(".2.tmp")) && !Files.exists(commits.resolve(".5.tmp")),
      "tmp markers at or below the mark")
    assert(Files.exists(commits.resolve(".6.tmp")), "a tmp marker above the mark is live")
    assert(view(sink) == before, "the sweep must not change the view")
  }

  test("compact on an epoch-less sink is a no-op; empty tail is a no-op") {
    val dir = tmpDir("graft_compact_empty")
    val sink = new ExactlyOnceParquetSink(dir)
    sink.compact(spark) // nothing committed: must not throw or write
    assert(sink.compactedUpTo().isEmpty)
    addEpochs(sink, 0 until 2)
    sink.compact(spark)
    val v = view(sink)
    sink.compact(spark) // empty tail after compaction: no-op
    assert(sink.compactedUpTo().contains(1L) && view(sink) == v)
  }
}
