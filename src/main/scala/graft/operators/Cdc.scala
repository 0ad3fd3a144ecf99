package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC / ELT primitives, re-expressing the reference's load tool
  * (reference: dagster_code/clickhouse_load_tool/base_loader.py) as
  * declarative Spark transforms.
  *
  * The reference implements these row-at-a-time through a ClickHouse
  * temp table (base_loader.py:543 `_perform_incremental_load`: create
  * temp table → DELETE target WHERE key IN temp → INSERT). Here each
  * is a single shuffle-on-key plan: at 100 TB both sides
  * hash-partition on the upsert key and no driver round-trips happen.
  */
object Cdc {

  /** Incremental extract: only rows newer than the last load.
    * Reference: postgres_loader.py `extract_data` builds
    * `WHERE tracking_column > last_value`. As a Column predicate this
    * reaches the parquet scan (`PushedFilters`), so a daily delta on a
    * 100 TB table reads only row groups whose stats pass the filter.
    *
    * The bound is strict, like the reference's: a row that arrives
    * after a cycle ran, with a tracking value EQUAL to that cycle's
    * watermark, is never extracted by any later cycle. When sources
    * can commit such late ties, pass one tick below the watermark
    * (for a timestamp, `lit(watermark.toInstant.minusNanos(1000))`)
    * and load through a keyed upsert such as
    * [[graft.sources.Versioned.upsert]], which absorbs the rows at
    * the watermark that are extracted again.
    */
  def incrementalFilter(df: DataFrame, trackingCol: String, lastValue: Column): DataFrame =
    df.filter(col(trackingCol) > lastValue)

  /** Watermark read: max(tracking) — reference base_loader.py
    * `get_last_loaded_value` (SELECT max(tracking_column)).
    */
  def lastLoadedValue(df: DataFrame, trackingCol: String): DataFrame =
    df.agg(max(col(trackingCol)).as(s"last_$trackingCol"))

  /** Delete+insert upsert, latest-wins. Reference base_loader.py
    * `_perform_incremental_load`: DELETE keys present in the batch,
    * INSERT the batch. Equivalent set semantics: rows of `target`
    * whose key is NOT in `updates`, plus all of `updates` (the batch
    * itself deduped latest-per-key, matching the post-insert dedup in
    * `_perform_incremental_load_special`).
    *
    * Plan shape: one left-anti join (hash-partitioned on key) + union.
    * No broadcast assumption — at scale both sides are large. The
    * anti-join takes its keys from the batch itself, not from the
    * deduplicated rows (the same key set): otherwise column pruning
    * gives the key branch a latest-per-key window and shuffle of its
    * own, one more job per upsert.
    */
  def upsert(target: DataFrame, updates: DataFrame, key: Seq[String],
             trackingCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val batch = updates.select(target.columns.toSeq.map(col): _*)
    replaceKeys(target, dedupLatestPerKey(batch, key, trackingCol, tieBreak), key, batch)
  }

  /** The delete+insert step of [[upsert]]: rows of `target` whose key
    * is not among `keys`' keys, plus all of `latest`, which already
    * holds one row per key and has the same key set as `keys`.
    * [[graft.sources.Versioned]] reads a version with a delta segment
    * as `replaceKeys(base, delta, key, delta)`.
    */
  private[graft] def replaceKeys(target: DataFrame, latest: DataFrame, key: Seq[String],
                                 keys: DataFrame): DataFrame =
    target.join(keys.select(key.map(col): _*), key, "left_anti").unionByName(latest)

  /** Keep the newest row per key (highest trackingCol; `tieBreak`
    * columns make the winner total-ordered and deterministic).
    * Reference: base_loader.py `_perform_incremental_load_special`
    * "POST-INSERT DEDUPLICATION ... keeping latest tracking_column per
    * upsert_key", and ClickHouse ReplacingMergeTree(updated_at)
    * semantics from setup/init-clickhouse.sql.
    *
    * row_number over (key, order desc) = one shuffle on key; AQE
    * handles skewed keys. Never a driver-side loop.
    */
  def dedupLatestPerKey(df: DataFrame, key: Seq[String], trackingCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val ordering = (col(trackingCol).desc +: tieBreak.map(col(_).desc))
    val w = Window.partitionBy(key.map(col): _*).orderBy(ordering: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Full (truncate+insert) load — reference base_loader.py
    * `_perform_full_load` / README "Idempotency Strategy". In Spark:
    * an idempotent overwrite of the target path.
    */
  def fullLoad(df: DataFrame, targetPath: String): Unit =
    graft.sources.ParquetWriter(df).mode("overwrite").parquet(targetPath)

  /** Snapshot load: enrich the batch with a derived ingestion-date
    * column — reference base_loader.py `_perform_snapshot_load`
    * (`today() as derived_column` for idempotent daily snapshots).
    * The date is passed in (not now()) so replays are deterministic.
    */
  def withIngestionDate(df: DataFrame, dateCol: String, snapshotDate: Column): DataFrame =
    df.withColumn(dateCol, snapshotDate.cast("date"))

  /** Snapshot diff — derive a change feed from two full snapshots:
    * the CDC primitive for sources with NO tracking column (the
    * reference's Mongo `users` table is exactly this case — it full-
    * loads and snapshots because nothing marks updates). One
    * full-outer join hash-partitioned on the key; `compareCols`
    * decide update-vs-unchanged. Output: new-side values (old values
    * for deletes) + `change_type` ∈ insert/update/delete; unchanged
    * rows are dropped. null-safe equality (`<=>`) so a null→value
    * change counts as an update.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, key: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    require(oldSnap.columns.toSet == newSnap.columns.toSet,
      s"snapshot schemas differ: ${oldSnap.columns.toSet.diff(newSnap.columns.toSet)} " +
        s"vs ${newSnap.columns.toSet.diff(oldSnap.columns.toSet)} — align with " +
        "SchemaEvolution.unionEvolved first")
    val valueCols = oldSnap.columns.filterNot(key.contains).toSeq
    val o = oldSnap.select((key ++ valueCols).map(c => col(c).as(s"__o_$c")): _*)
    val n = newSnap.select((key ++ valueCols).map(c => col(c).as(s"__n_$c")): _*)
    val keyCond = key.map(k => col(s"__o_$k") === col(s"__n_$k")).reduce(_ && _)
    val joined = o.join(n, keyCond, "full_outer")
    val inOld = key.map(k => col(s"__o_$k").isNotNull).reduce(_ && _)
    val inNew = key.map(k => col(s"__n_$k").isNotNull).reduce(_ && _)
    val changed = compareCols.map(c => !(col(s"__o_$c") <=> col(s"__n_$c")))
      .reduce(_ || _)
    val changeType = when(!inOld, lit("insert"))
      .when(!inNew, lit("delete"))
      .when(changed, lit("update"))
    val outCols =
      key.map(k => coalesce(col(s"__n_$k"), col(s"__o_$k")).as(k)) ++
        valueCols.map(c =>
          when(inNew, col(s"__n_$c")).otherwise(col(s"__o_$c")).as(c))
    joined.filter(changeType.isNotNull)
      .select(outCols :+ changeType.as("change_type"): _*)
  }

  /** COLUMN-level snapshot-diff summary — the "which fields drift"
    * audit on top of [[snapshotDiff]]'s row feed: per compared
    * column, how many matched keys changed it, plus the added /
    * removed key counts. The reading that separates "prices were
    * repriced" from "rows churned" before anyone opens the row-level
    * feed; also the schema-drift early warning (a column that
    * suddenly changes on every row usually changed semantics).
    *
    * One full-outer key join + ONE aggregate computing every
    * column's null-safe change count side by side (conditional sums
    * — no per-column passes), then a column-count-bounded unpivot
    * via `stack`. Change share is one round-6 division per column.
    */
  def columnDiff(oldSnap: DataFrame, newSnap: DataFrame,
                 key: Seq[String], compareCols: Seq[String],
                 roundTo: Int = 6): DataFrame = {
    require(compareCols.nonEmpty, "columnDiff needs compare columns")
    val o = oldSnap.select((key ++ compareCols).map(c => col(c).as(s"__o_$c")): _*)
    val n = newSnap.select((key ++ compareCols).map(c => col(c).as(s"__n_$c")): _*)
    val keyCond = key.map(k => col(s"__o_$k") === col(s"__n_$k")).reduce(_ && _)
    val inOld = key.map(k => col(s"__o_$k").isNotNull).reduce(_ && _)
    val inNew = key.map(k => col(s"__n_$k").isNotNull).reduce(_ && _)
    val matched = inOld && inNew
    val aggs =
      Seq(sum(when(matched, 1L).otherwise(0L)).as("__n_matched"),
        sum(when(inNew && !inOld, 1L).otherwise(0L)).as("__n_added"),
        sum(when(inOld && !inNew, 1L).otherwise(0L)).as("__n_removed")) ++
        compareCols.map(c =>
          sum(when(matched && !(col(s"__o_$c") <=> col(s"__n_$c")), 1L)
            .otherwise(0L)).as(s"__chg_$c"))
    val wide = o.join(n, keyCond, "full_outer").agg(aggs.head, aggs.tail: _*)
    val stackExpr = compareCols
      .map(c => s"'$c', __chg_$c").mkString(", ")
    wide.select(col("__n_matched"), col("__n_added"), col("__n_removed"),
        expr(s"stack(${compareCols.size}, $stackExpr) AS (column_name, n_changed)"))
      .select(col("column_name"), col("n_changed"),
        col("__n_matched").as("n_matched"),
        round(when(col("__n_matched") > 0,
          col("n_changed").cast("double") / col("__n_matched").cast("double")),
          roundTo).as("change_share"),
        col("__n_added").as("n_added"), col("__n_removed").as("n_removed"))
  }

  /** Soft-delete filter: keep rows whose delete marker is unset —
    * reference stg_savings_transaction.sql:21 carries `deleted_at`
    * through staging (schema.yml documents it as the soft-delete
    * marker) and downstream models read only live rows. A pure
    * predicate: pushes to the parquet scan as IsNull.
    */
  def softDeleteFilter(df: DataFrame, deletedAtCol: String): DataFrame =
    df.filter(col(deletedAtCol).isNull)
}
