package graft

import graft.pipeline.Backfill
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

class BackfillSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val source = Seq(
    (ts("2024-01-01 10:00:00"), "a", 1L),
    (ts("2024-01-01 11:00:00"), "a", 2L),
    (ts("2024-01-02 10:00:00"), "b", 3L),
    (ts("2024-01-03 10:00:00"), "a", 4L),
    (ts("2024-01-05 10:00:00"), "b", 5L) // day 4 is a gap: no partition
  ).toDF("t", "typ", "v")

  private val mart = (slice: DataFrame) => slice
    .groupBy(col("t").cast("date").as("day"), col("typ"))
    .agg(sum(col("v")).as("sv"))

  private def readBack(dir: String) =
    spark.read.parquet(dir)
      .select(col("day").cast("string"), col("typ"), col("sv"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap

  test("chunked runs reproduce the full rebuild; retried chunk is idempotent; gap days land nothing") {
    val dir = tmpDir("backfill") + "/t"
    val runs = Backfill.runDaily(spark, source, "t", mart, dir, "day",
      "2024-01-01", "2024-01-05", chunkDays = 2)
    // chunks [01,02] [03,04] [05,05]; the 04 gap contributes no rows
    assert(runs.map(r => (r.fromDay, r.toDay, r.rows)) === Seq(
      ("2024-01-01", "2024-01-02", 2L),
      ("2024-01-03", "2024-01-04", 1L),
      ("2024-01-05", "2024-01-05", 1L)))
    val full = Map(("2024-01-01", "a") -> 3L, ("2024-01-02", "b") -> 3L,
      ("2024-01-03", "a") -> 4L, ("2024-01-05", "b") -> 5L)
    assert(readBack(dir) === full)
    // retry the middle chunk: the table must converge, not duplicate
    Backfill.runChunk(spark, source, "t", mart, dir, "day",
      "2024-01-03", "2024-01-04")
    assert(readBack(dir) === full)
  }

  test("a model leaking days outside its chunk is rejected") {
    val dir = tmpDir("backfill-leak") + "/t"
    val leaky = (slice: DataFrame) => mart(slice)
      .withColumn("day", date_add(col("day"), 10))
    val e = intercept[Exception] {
      Backfill.runChunk(spark, source, "t", leaky, dir, "day",
        "2024-01-01", "2024-01-02")
    }
    assert(e.getMessage != null)
  }

  test("empty range rejected, model must emit the partition column") {
    intercept[IllegalArgumentException] {
      Backfill.runDaily(spark, source, "t", mart, tmpDir("bf-e"), "day",
        "2024-01-05", "2024-01-01", chunkDays = 2)
    }
    intercept[IllegalArgumentException] {
      Backfill.runChunk(spark, source, "t",
        s => s.select(col("typ")), tmpDir("bf-m"), "day",
        "2024-01-01", "2024-01-02")
    }
  }

  test("pooled runDaily leaves the session's overwrite mode alone and every partition outside its range") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    def listing(dir: String): Seq[(String, Long)] = {
      val root = java.nio.file.Paths.get(dir)
      val files = java.nio.file.Files.walk(root)
      try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p)).toSeq.sorted
      finally files.close()
    }
    try {
      val dir = tmpDir("backfill-static") + "/t"
      Seq(("2023-12-31", "z", 7L), ("2024-01-09", "z", 9L)).toDF("day", "typ", "sv")
        .withColumn("day", col("day").cast("date"))
        .write.partitionBy("day").parquet(dir)
      // chunks [01,02] [03,04] [05,06] [07,07] run on the pool; the last is empty
      val runs = Backfill.runDaily(spark, source, "t", mart, dir, "day",
        "2024-01-01", "2024-01-07", chunkDays = 2)
      assert(runs.map(_.rows) === Seq(2L, 1L, 1L, 0L))
      assert(spark.conf.get(key).equalsIgnoreCase("static"))
      assert(readBack(dir) === Map(("2023-12-31", "z") -> 7L,
        ("2024-01-01", "a") -> 3L, ("2024-01-02", "b") -> 3L,
        ("2024-01-03", "a") -> 4L, ("2024-01-05", "b") -> 5L,
        ("2024-01-09", "z") -> 9L))
      // an empty chunk leaves an existing table exactly as it was ...
      val before = listing(dir)
      assert(Backfill.runChunk(spark, source, "t", mart, dir, "day",
        "2024-01-20", "2024-01-21").rows === 0L)
      assert(listing(dir) === before)
      // ... and creates nothing where there was no table
      val fresh = tmpDir("backfill-none") + "/t"
      assert(Backfill.runChunk(spark, source, "t", mart, fresh, "day",
        "2024-01-20", "2024-01-21").rows === 0L)
      assert(!new java.io.File(fresh).exists())
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
