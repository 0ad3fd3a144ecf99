package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max}
import org.apache.spark.sql.types.{DataType, StructType}

/** Staged extract → manifest → load: the object-store staging hop of
  * the reference's load protocol (base_loader.py:151 `upload_to_s3`,
  * :326 `_create_s3_table_function`, :745 `extract_to_storage`): the
  * extract half lands the batch as files in a staging area and
  * COMMITS it with a manifest; the load half reads only
  * manifest-committed batches and marks them loaded. The two halves
  * are restartable independently:
  *
  *  - killed mid-extract → no manifest, the staged files are garbage;
  *    the re-run re-extracts over them (overwrite).
  *  - killed between extract and load → the manifest exists, so the
  *    re-run SKIPS the extract (even a long source scan) and goes
  *    straight to loading the staged files.
  *  - killed mid-load / before the loaded marker → the batch stays in
  *    [[Staging.pending]]; the re-run re-loads from staging without
  *    touching the source. Loads must therefore be idempotent — which
  *    every graft sink is (keyed upsert / partition overwrite), the
  *    same property the reference leans on.
  *
  * The manifest is the ONLY commit point, committed atomically
  * through [[Manifest]] (write to a temp name + rename — a metadata op
  * on any HDFS-semantics store; on S3 proper, rename is copy+delete
  * but single-object PUT is atomic, so the pattern still yields
  * all-or-nothing manifests). Layout per batch:
  * {{{
  *   <stagingDir>/<batchId>/data/          the extracted rows, zstd Parquet
  *   <stagingDir>/<batchId>/manifest.json  commit point + metadata
  *   <stagingDir>/<batchId>/loaded.json    load-complete marker
  * }}}
  * The data files come from the one [[ParquetWriter]]. Both JSON files
  * are in the one [[Manifest]] format. The commit manifest
  * `{"batch_id", "rows", "schema", "watermark", "committed_at_ms"}`
  * records what the extract's write produced, observed on the write
  * itself: `watermark` (with a tracking column; "" for an empty batch)
  * lets the NEXT incremental extract resume without re-reading the
  * staged data (base_loader's `get_last_loaded_value`, answered from
  * the manifest instead of the warehouse), and `schema` lets
  * [[Staging.readStaged]] skip inference. The marker holds
  * `{"batch_id", "loaded_at_ms"}`.
  */
object Staging {

  final case class StagedManifest(batchId: String, rows: Long,
                                  schemaJson: String,
                                  watermark: Option[String])

  private def dataPath(dir: String, batchId: String) = new Path(dir, s"$batchId/data")
  private def manifestPath(dir: String, batchId: String) = new Path(dir, s"$batchId/manifest.json")
  private def loadedPath(dir: String, batchId: String) = new Path(dir, s"$batchId/loaded.json")

  /** Has `batchId` been extract-committed (manifest present)? */
  def isStaged(spark: SparkSession, stagingDir: String, batchId: String): Boolean =
    Manifest.fs(spark, stagingDir).exists(manifestPath(stagingDir, batchId))

  /** Has `batchId` been loaded (loaded marker present)? */
  def isLoaded(spark: SparkSession, stagingDir: String, batchId: String): Boolean =
    Manifest.fs(spark, stagingDir).exists(loadedPath(stagingDir, batchId))

  /** Extract `df` into the staging area under `batchId` and commit it
    * with a manifest — UNLESS the batch is already committed, in which
    * case the extract (the expensive source scan) is skipped entirely
    * and the existing manifest is returned. `trackingCol` records the
    * batch watermark (max value, as a string) in the manifest.
    */
  def stage(df: DataFrame, stagingDir: String, batchId: String,
            trackingCol: Option[String] = None): StagedManifest = {
    val spark = df.sparkSession
    if (isStaged(spark, stagingDir, batchId))
      return readManifest(spark, stagingDir, batchId)
    val written = Observation()
    val metrics = count(lit(1)).as("rows") +:
      trackingCol.map(c => max(col(c)).as("watermark")).toSeq
    // overwrite: leftovers of a mid-extract kill are garbage by
    // definition (no manifest committed them)
    ParquetWriter(df.observe(written, metrics.head, metrics.tail: _*))
      .mode(SaveMode.Overwrite).parquet(dataPath(stagingDir, batchId).toString)
    val seen = written.get
    val staged = StagedManifest(batchId, seen("rows").asInstanceOf[Long],
      df.schema.json, trackingCol.map(_ => Option(seen("watermark")).fold("")(_.toString)))
    val m = Manifest.obj()
      .put("batch_id", batchId)
      .put("rows", staged.rows)
      .put("schema", staged.schemaJson)
    staged.watermark.foreach(m.put("watermark", _))
    m.put("committed_at_ms", System.currentTimeMillis())
    Manifest.write(Manifest.fs(spark, stagingDir), manifestPath(stagingDir, batchId), m)
    staged
  }

  /** The committed manifest for `batchId` (throws if not staged). */
  def readManifest(spark: SparkSession, stagingDir: String,
                   batchId: String): StagedManifest = {
    val m = Manifest.read(Manifest.fs(spark, stagingDir), manifestPath(stagingDir, batchId))
    StagedManifest(m.get("batch_id").asText, m.get("rows").asLong,
      m.get("schema").asText, Option(m.get("watermark")).map(_.asText))
  }

  /** The staged rows of a committed batch, read under the manifest's
    * schema (no inference pass over the staged files). */
  def readStaged(spark: SparkSession, stagingDir: String,
                 batchId: String): DataFrame = {
    require(isStaged(spark, stagingDir, batchId),
      s"batch $batchId has no committed manifest under $stagingDir")
    val schema = DataType.fromJson(readManifest(spark, stagingDir, batchId).schemaJson)
    spark.read.schema(schema.asInstanceOf[StructType])
      .parquet(dataPath(stagingDir, batchId).toString)
  }

  /** Batches that are extract-committed but not yet loaded, in batch-id
    * order — the load half's work queue after any restart.
    */
  def pending(spark: SparkSession, stagingDir: String): Seq[String] = {
    val f = Manifest.fs(spark, stagingDir)
    val root = new Path(stagingDir)
    if (!f.exists(root)) return Nil
    f.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(b => f.exists(manifestPath(stagingDir, b)) &&
        !f.exists(loadedPath(stagingDir, b)))
      .sorted
  }

  /** Run `load` over the staged rows of a committed batch and mark it
    * loaded. Already-loaded batches are a NO-OP (the marker makes
    * replays after a crash-after-load safe); a batch without a
    * manifest is refused — half-extracted files never load.
    */
  def loadStaged(spark: SparkSession, stagingDir: String, batchId: String)
                (load: DataFrame => Unit): Boolean = {
    if (isLoaded(spark, stagingDir, batchId)) return false
    load(readStaged(spark, stagingDir, batchId))
    Manifest.write(Manifest.fs(spark, stagingDir), loadedPath(stagingDir, batchId),
      Manifest.obj().put("batch_id", batchId).put("loaded_at_ms", System.currentTimeMillis()))
    true
  }
}
