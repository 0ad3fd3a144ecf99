package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Batch source readers — the Spark-first stand-in for the
  * reference's extractors (reference:
  * dagster_code/clickhouse_load_tool/postgres_loader.py `extract_data`
  * and mongo_loader.py — driver-paged reads into a warehouse). In
  * Spark the extract IS the scan: schema is enforced at read, and
  * incremental extraction is a pushed-down predicate, not a paged
  * loop.
  *
  * All readers take an explicit schema: schema inference reads the
  * data twice and can silently drift between runs — never acceptable
  * for a 100 TB CDC source.
  */
object Sources {

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true, delimiter: String = ",",
          options: Map[String, String] = Map.empty): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .option("mode", "PERMISSIVE")
      .options(options)
      .csv(path)

  def jsonl(spark: SparkSession, path: String, schema: StructType,
            options: Map[String, String] = Map.empty): DataFrame =
    spark.read.schema(schema).options(options).json(path)

  /** ORC — Spark-native columnar alternative; same pushdown/pruning
    * behavior as parquet, schema enforced.
    */
  def orc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** PERMISSIVE read with a QUARANTINE split — the ELT "bad records
    * don't kill the load, and don't silently vanish either" contract:
    * rows failing the declared schema land in a quarantine frame
    * carrying the RAW record text (for replay after a fix); the clean
    * frame carries only schema-true rows. One scan: the raw capture
    * is Spark's built-in PERMISSIVE corrupt-record column (codegen'd
    * parse, no UDF), and the split is two filters over it. The parsed
    * frame is persisted (tracked) before splitting — Spark refuses
    * queries whose only referenced column is the internal corrupt
    * record (SPARK-21610), and the persist also keeps the scan single
    * when both halves are consumed. `format` ∈ {json, csv}.
    */
  def readQuarantined(spark: SparkSession, path: String, schema: StructType,
                      format: String = "json",
                      csvHeader: Boolean = true): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    require(format == "json" || format == "csv",
      s"quarantine capture needs a text format (json/csv), got $format")
    val corrupt = "__raw_record"
    val reader = spark.read
      .schema(StructType(schema.fields :+
        org.apache.spark.sql.types.StructField(corrupt,
          org.apache.spark.sql.types.StringType)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
    val df = graft.Par.persistTracked(
      if (format == "json") reader.json(path)
      else reader.option("header", csvHeader.toString).csv(path))
    val good = df.filter(col(corrupt).isNull).drop(corrupt)
    val quarantine = df.filter(col(corrupt).isNotNull)
      .select(col(corrupt).as("raw_record"))
    (good, quarantine)
  }

  /** Partitioned JDBC read — the reference's ACTUAL extract side
    * (reference: dagster_code/clickhouse_load_tool/postgres_loader.py
    * `extract_data`, which pages a Postgres table with
    * `WHERE tracking > last ORDER BY tracking LIMIT page`). Spark's
    * native analog needs no driver-side paging loop: `numPartitions`
    * executors each read one `partitionCol` stripe
    * (`lower/upperBound` split into equal ranges) CONCURRENTLY, and
    * any DataFrame filter applied on top is compiled into the remote
    * WHERE clause (visible as PushedFilters on the JDBC scan) — the
    * database does the pruning, the wire carries only the delta.
    *
    * Bounds only steer stripe SPLITTING, never filter rows — rows
    * outside [lowerBound, upperBound) land in the first/last stripe.
    * Pick the indexed monotone column (the reference's
    * `tracking_column`) as `partitionCol` so stripes are balanced and
    * the incremental predicate hits the same index.
    */
  def jdbc(spark: SparkSession, url: String, table: String,
           partitionCol: String, lowerBound: Long, upperBound: Long,
           numPartitions: Int,
           connProps: Map[String, String] = Map.empty): DataFrame = {
    require(numPartitions > 0, "numPartitions must be positive")
    require(lowerBound < upperBound, "lowerBound must be below upperBound")
    val props = new java.util.Properties()
    connProps.foreach { case (k, v) => props.setProperty(k, v) }
    spark.read.jdbc(url, table, partitionCol, lowerBound, upperBound,
      numPartitions, props)
  }

  /** Incremental JDBC extract: partitioned read + the watermark
    * predicate `trackingCol > lastValue`, pushed down into each
    * stripe's remote query (postgres_loader.py:100-139 `extract_data`
    * semantics in one declarative plan). Stripe bounds should span
    * the EXPECTED delta range — e.g. [last loaded value, now] — so
    * the concurrent stripes split the new rows, not the whole table.
    */
  def jdbcIncremental(spark: SparkSession, url: String, table: String,
                      trackingCol: String, lastValue: Column,
                      partitionCol: String, lowerBound: Long, upperBound: Long,
                      numPartitions: Int,
                      connProps: Map[String, String] = Map.empty): DataFrame =
    graft.operators.Cdc.incrementalFilter(
      jdbc(spark, url, table, partitionCol, lowerBound, upperBound,
        numPartitions, connProps),
      trackingCol, lastValue)
}
