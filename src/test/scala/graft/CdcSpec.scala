package graft

import graft.operators.Cdc
import org.apache.spark.sql.functions._

class CdcSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("dedupLatestPerKey keeps the newest row per key, tie-broken deterministically") {
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00"), "old"),
      (1L, ts("2024-01-02 00:00:00"), "new"),
      (2L, ts("2024-01-01 00:00:00"), "only"),
      (3L, ts("2024-01-01 00:00:00"), "a"),
      (3L, ts("2024-01-01 00:00:00"), "b") // same ts → tieBreak on payload
    ).toDF("k", "updated_at", "payload")
    val out = Cdc.dedupLatestPerKey(df, Seq("k"), "updated_at", Seq("payload"))
      .orderBy("k").collect()
    assert(out.map(r => (r.getLong(0), r.getString(2))).toSeq ===
      Seq((1L, "new"), (2L, "only"), (3L, "b")))
  }

  test("upsert = delete+insert by key, latest-wins within the batch") {
    val target = Seq((1L, ts("2024-01-01 00:00:00"), "t1"),
      (2L, ts("2024-01-01 00:00:00"), "t2")).toDF("k", "updated_at", "v")
    val updates = Seq(
      (2L, ts("2024-01-02 00:00:00"), "u2-old"),
      (2L, ts("2024-01-03 00:00:00"), "u2-new"), // latest wins
      (3L, ts("2024-01-02 00:00:00"), "u3")).toDF("k", "updated_at", "v")
    val out = Cdc.upsert(target, updates, Seq("k"), "updated_at")
      .orderBy("k").collect()
    assert(out.map(r => (r.getLong(0), r.getString(2))).toSeq ===
      Seq((1L, "t1"), (2L, "u2-new"), (3L, "u3")))
  }

  test("incrementalFilter + lastLoadedValue compose into a resumable load") {
    val df = Seq((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-05 00:00:00")),
      (3L, ts("2024-01-09 00:00:00"))).toDF("k", "updated_at")
    val last = Cdc.lastLoadedValue(df.filter($"k" <= 2), "updated_at")
      .collect()(0).getTimestamp(0)
    val delta = Cdc.incrementalFilter(df, "updated_at", lit(last)).collect()
    assert(delta.map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("snapshotDiff classifies insert/update/delete, drops unchanged, null-safe") {
    val old_ = Seq((1L, Some("a"), 10.0), (2L, Some("b"), 20.0),
      (3L, None: Option[String], 30.0), (4L, Some("d"), 40.0))
      .toDF("k", "name", "bal")
    val new_ = Seq((1L, Some("a"), 10.0),      // unchanged → dropped
      (2L, Some("B"), 20.0),                   // update (value change)
      (3L, Some("c"), 30.0),                   // update (null → value)
      (5L, Some("e"), 50.0))                   // insert; 4 deleted
      .toDF("k", "name", "bal")
    val out = Cdc.snapshotDiff(old_, new_, Seq("k"), Seq("name", "bal"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getString(3)))
    assert(out.toSeq === Seq(
      (2L, Some("B"), "update"),
      (3L, Some("c"), "update"),
      (4L, Some("d"), "delete"), // old values carried for deletes
      (5L, Some("e"), "insert")))
  }

  test("fullLoad overwrite is idempotent") {
    val dir = tmpDir("fullload")
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Cdc.fullLoad(df, s"$dir/t")
    Cdc.fullLoad(df, s"$dir/t") // second run must not duplicate
    assert(spark.read.parquet(s"$dir/t").count() === 2)
  }

  test("columnDiff: per-column change counts null-safely, adds/removes counted once, shares rounded") {
    val old = Seq((1L, Some("a"), Some(10L)), (2L, Some("a"), Some(20L)),
      (3L, Some("b"), Some(30L)), (5L, None, Some(50L)),
      (6L, None, None)).toDF("k", "c", "v")
    val neu = Seq((1L, Some("a"), Some(11L)), (2L, Some("z"), Some(20L)),
      (5L, Some("x"), Some(50L)), (6L, None, None),
      (4L, Some("b"), Some(40L))).toDF("k", "c", "v")
    val out = Cdc.columnDiff(old, neu, Seq("k"), Seq("c", "v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          r.getLong(5)))).toMap
    // matched {1,2,5,6}: c changes on 2 (z) and 5 (null→x, null-safe);
    // v changes on 1 only; 6's null==null is NOT a change
    assert(out("c") === ((2L, 4L, 0.5, 1L, 1L)))
    assert(out("v") === ((1L, 4L, 0.25, 1L, 1L)))
  }

  test("incrementalFilter misses a late row tied at the watermark; one tick below converges") {
    import graft.sources.Versioned
    val t1 = ts("2024-01-01 10:00:00")
    val t2 = ts("2024-01-01 11:00:00")
    val cycle1 = Seq((1L, t1, "a"), (2L, t2, "b")).toDF("k", "updated_at", "v")
    // arrives after cycle 1 ran, stamped with cycle 1's watermark
    val late = Seq((3L, t2, "c")).toDF("k", "updated_at", "v")
    val source = cycle1.union(late)
    def contents(dir: String) =
      Versioned.read(spark, dir).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    def watermark(dir: String) =
      Cdc.lastLoadedValue(Versioned.read(spark, dir), "updated_at").head().getTimestamp(0)
    val want = Map(1L -> "a", 2L -> "b", 3L -> "c")

    // strict >: the late tie is never extracted
    val strict = tmpDir("cdc-strict") + "/t"
    Versioned.upsert(cycle1, strict, Seq("k"), "updated_at")
    val missed = Cdc.incrementalFilter(source, "updated_at", lit(watermark(strict)))
    assert(missed.count() === 0L)

    // the recipe: extract from one tick (1 µs) below the watermark and
    // let the keyed upsert absorb the rows extracted again
    val recipe = tmpDir("cdc-recipe") + "/t"
    Versioned.upsert(cycle1, recipe, Seq("k"), "updated_at")
    def cycle(): Unit = {
      val from = watermark(recipe).toInstant.minusNanos(1000L)
      Versioned.upsert(Cdc.incrementalFilter(source, "updated_at", lit(from)),
        recipe, Seq("k"), "updated_at")
    }
    cycle()
    assert(contents(recipe) === want)
    cycle() // idempotent: the next cycle re-extracts the tie and changes nothing
    assert(contents(recipe) === want)
    assert(Versioned.read(spark, recipe).count() === 3L)
  }
}
