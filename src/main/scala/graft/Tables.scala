package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

/** Parquet table readers for the driver-generated star schema
  * (see /root/repo/TESTDATA.md).
  *
  * Each reader returns the raw DataFrame; callers `.select(...)` the
  * columns they need so Catalyst prunes the parquet scan (verify with
  * `.explain("formatted")` → `ReadSchema` shows only used columns).
  * At 100 TB the same code path works because pruning/pushdown happen
  * at the scan, not in the reader.
  */
object Tables {
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  /** events.parquet's `ts` arrives in one of two physical encodings
    * depending on the generator vintage: parquet TIMESTAMP(NANOS)
    * (readable only as int64 — no Spark timestamp type holds nanos) or
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (Spark-native
    * TimestampNTZType). `eventsRaw` returns the STORED column
    * unconverted in either case — build cutoff predicates with
    * [[eventCutoffNanos]] / [[eventWatermark]] against it so they push
    * down to the parquet scan (filtering the CONVERTED column would
    * scan the full table: Catalyst won't push through
    * `timestamp_micros`), then [[convertEventTs]].
    *
    * µs files take the plain read. Schema inference rejects NANOS
    * unless `nanosAsLong` is on, so a legacy file's schema is inferred
    * in a session this read owns ([[Sessions.own]]), never by flipping
    * the caller's conf, and the file is read in the caller's session
    * under that schema: given `ts` as a long, Spark reads the int64
    * nanos exactly.
    */
  def eventsRaw(s: SparkSession, d: String): DataFrame =
    try read(s, d, "events")
    catch { case e: AnalysisException if e.getCondition == "PARQUET_TYPE_ILLEGAL" =>
      val legacy = Sessions.own(s, "spark.sql.legacy.parquet.nanosAsLong" -> "true")
      s.read.schema(read(legacy, d, "events").schema).parquet(s"$d/events.parquet")
    }

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** A literal for comparing against the STORED events `ts` column
    * (UTC-nanos semantics), typed to the column's physical encoding
    * so the predicate remains scan-pushable: int64 nanos for legacy
    * files, a TIMESTAMP_NTZ literal for µs-NTZ files.
    */
  def eventCutoffNanos(df: DataFrame, nanos: Long): Column = {
    val ldt = java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(nanos, 1000000000L),
      Math.floorMod(nanos, 1000000000L).toInt, java.time.ZoneOffset.UTC)
    df.schema("ts").dataType match {
      case LongType         => lit(nanos)
      case TimestampNTZType => lit(ldt)
      case _ => lit(java.sql.Timestamp.valueOf(ldt))
    }
  }

  /** A staged-extract watermark string (Staging stores `max(ts)` via
    * `toString`) back to a comparable literal in the stored domain:
    * digits → int64 nanos, otherwise an ISO LocalDateTime → NTZ.
    */
  def eventWatermark(df: DataFrame, wm: String): Column =
    df.schema("ts").dataType match {
      case LongType         => lit(wm.toLong)
      case TimestampNTZType => lit(java.time.LocalDateTime.parse(wm))
      case _ => lit(java.sql.Timestamp.valueOf(java.time.LocalDateTime.parse(wm)))
    }

  /** Stored `ts` → session TimestampType, exact for µs-aligned
    * values: int64 nanos divide to µs; NTZ casts in the UTC session
    * (same instant — the stored wall clock IS UTC).
    */
  def convertEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType =>
      df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("ts DIV 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }

  def events(s: SparkSession, d: String): DataFrame =
    convertEventTs(eventsRaw(s, d))
  def documents(s: SparkSession, d: String): DataFrame  = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
