package graft.sources

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.operators.Cdc
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, min, when}
import org.apache.spark.sql.types.{DataType, StructType}

/** Versioned parquet table: a minimal manifest log giving plain
  * parquet directories the three properties object-store tables are
  * missing at scale — ATOMIC multi-file commits, TIME TRAVEL, and
  * safe concurrent readers — with nothing but files and one atomic
  * rename (the public Delta/Iceberg core idea, reduced to its
  * essentials; the reference's warehouse leans on ClickHouse for
  * this, its file side has no answer).
  *
  * Layout:
  * {{{
  *   table/
  *     _versions/v00000001.json   // one manifest per committed version
  *     d-<uuid>/part-*.parquet    // immutable data segments
  * }}}
  * Segments and per-version stats are zstd Parquet, written through
  * the one [[ParquetWriter]]; a table whose older segments are snappy
  * reads the same, since each footer names its codec.
  *
  * A version is BASE segments plus at most one DELTA segment. The
  * delta holds the latest row of every key [[upsert]]ed since the
  * last fold, and a read is `base left_anti delta-keys ∪ delta`
  * ([[graft.operators.Cdc.replaceKeys]], the same delete+insert step
  * [[graft.operators.Cdc.upsert]] applies): one equi anti-join that
  * Spark broadcasts while the delta is small. A daily upsert thus
  * writes the delta, not the table.
  *
  * Protocol:
  *  - a WRITE lands its parquet segment under a fresh `d-<uuid>/`
  *    directory — invisible until referenced; a crash mid-write
  *    leaves an orphan segment, never a torn table;
  *  - a COMMIT writes the next `v<n>.json` through [[Manifest]]:
  *    write-temp + rename-if-absent is the atomic compare-and-swap,
  *    so two racing committers collide on the same version name and
  *    the loser RETRIES against the new head — optimistic concurrency
  *    without a lock service, as strong as the filesystem's rename.
  *    Same contract every log-based table format carries. A segment
  *    a lost attempt wrote is deleted, as is one the winning attempt
  *    wrote but does not reference (a delta [[upsert]] then folded);
  *  - a READER resolves one manifest and reads only its segments,
  *    under the schema the manifest records: pinned, repeatable,
  *    immune to concurrent commits, and no schema-inference job;
  *  - [[vacuum]] deletes segments no kept manifest references.
  *
  * A version's manifest, in the one [[Manifest]] format:
  * {{{
  *   {"version": 3, "segments": ["d-<uuid>", ...], "rows": [8000, ...],
  *    "schema": "<StructType JSON>",
  *    "delta": {"segment": "d-<uuid>", "rows": 160, "key": ["plan_id"]}}
  * }}}
  * Segments are root-relative or absolute ([[shallowClone]]). `rows`
  * holds each base segment's row count, observed on its write, and is
  * what [[upsert]]'s fold rule reads, so the rule runs no job. Writes
  * inside the commit loop count their rows ([[upsert]], [[compact]],
  * [[mergeInto]]); a [[commit]] or [[writeAuditPublish]] segment is
  * not counted, and a version holding one has no `rows`.
  * `delta` is absent when the version has none; a manifest written
  * before deltas existed reads exactly as before. The schema is the
  * segment's on a replace and the head's widened by the segment's
  * ([[SchemaEvolution.evolve]]) on an append, so older segments
  * null-fill added columns while time travel keeps each version's own
  * schema; [[restore]] and [[shallowClone]] copy the whole manifest
  * content. A manifest without a schema infers it (the empty schema if
  * no segments).
  *
  * Scale notes: a manifest holds segment DIRECTORY names (not file
  * lists), so its size grows with commits, not files; `replace=false`
  * commits reuse the previous segment list — an append is O(delta)
  * data + O(versions) manifest. Readers pay one tiny JSON read before
  * the parquet scan.
  */
object Versioned {

  /** The delta size, as a share of the base's rows, at which
    * [[upsert]] folds the delta into the base. With a change rate of
    * c·B rows a day on a base of B rows and this ratio r, the delta
    * grows by about c·B a day for r/c days and the fold then rewrites
    * B, so upserts write about B·(r/2 + c/r) a day (the fold day also
    * writes its delta, c·B/2 a day more), against B a day for a
    * rewrite per upsert. At r = 1/4 and c = 2% that is about 0.2·B; r
    * balances the delta's growth (r/2) against the fold's rewrite
    * (c/r), and r = √(2c) is the minimum. Reads pay an anti-join
    * against at most r·B delta rows.
    */
  private val FoldRatio = 0.25

  private def versionsDir(path: String) = new Path(path, "_versions")
  private def newSegment() = s"d-${java.util.UUID.randomUUID()}"

  /** A version's delta segment: the latest row of every key upserted
    * on `key` since the last fold. */
  private final case class Delta(segment: String, rows: Long, key: Seq[String])

  /** A committed version: its base segments, their row counts when
    * every base write recorded one, the schema they read as, and its
    * delta. */
  private final case class Version(segments: Seq[String], rows: Option[Seq[Long]],
                                   schema: StructType, delta: Option[Delta] = None) {
    def live: Seq[String] = segments ++ delta.map(_.segment)
  }

  /** A version of one freshly written segment. */
  private def single(segment: (String, Long), schema: StructType): Version =
    Version(Seq(segment._1), Some(Seq(segment._2)), schema)

  /** Latest committed version number, 0 if none. */
  def currentVersion(spark: SparkSession, path: String): Int =
    Manifest.latest(Manifest.fs(spark, path), versionsDir(path), "v")

  private def segmentPaths(path: String, segments: Seq[String]): Seq[String] =
    segments.map { s =>
      val p = new Path(s)
      (if (p.isAbsolute) p else new Path(path, s)).toString
    }

  private def texts(j: JsonNode): Seq[String] = j.elements().asScala.map(_.asText).toSeq

  private def readVersion(spark: SparkSession, path: String, v: Int): Version = {
    val m = Manifest.read(Manifest.fs(spark, path), new Path(versionsDir(path), Manifest.name("v", v)))
    val segments = texts(m.path("segments"))
    val schema = Option(m.get("schema"))
      .map(j => DataType.fromJson(j.asText).asInstanceOf[StructType])
      .getOrElse(
        if (segments.isEmpty) new StructType()
        else spark.read.parquet(segmentPaths(path, segments): _*).schema)
    Version(segments, Option(m.get("rows")).map(_.elements().asScala.map(_.asLong).toSeq),
      schema, Option(m.get("delta")).map(d =>
        Delta(d.get("segment").asText, d.get("rows").asLong, texts(d.path("key")))))
  }

  private def readSegments(spark: SparkSession, path: String, schema: StructType,
                           segments: Seq[String]): DataFrame =
    spark.read.schema(schema).parquet(segmentPaths(path, segments): _*)

  /** A version's rows: its base segments less the keys its delta
    * replaces, plus the delta. */
  private def scan(spark: SparkSession, path: String, v: Version): DataFrame = {
    val base = readSegments(spark, path, v.schema, v.segments)
    v.delta.fold(base) { d =>
      val delta = readSegments(spark, path, v.schema, Seq(d.segment))
      Cdc.replaceKeys(base, delta, d.key, delta)
    }
  }

  /** Land `df` as a fresh segment under `path`. */
  private def writeSegment(df: DataFrame, path: String): String = {
    val seg = newSegment()
    ParquetWriter(df).mode(SaveMode.ErrorIfExists).parquet(new Path(path, seg).toString)
    seg
  }

  /** Commit the next version through the [[Manifest]] CAS loop;
    * `next(head, write)` is the new version's content, re-derived
    * after every lost race. `write` lands a segment and returns it
    * with its row count, observed on the write itself. Segments it
    * lands belong to the attempt: a lost attempt deletes them all, the
    * winning one those its version does not reference. A crash leaves
    * them to [[vacuum]]. */
  private def commitVersion(spark: SparkSession, path: String)
                           (next: (Int, DataFrame => (String, Long)) => Version): Int = {
    val f = Manifest.fs(spark, path)
    val written = ArrayBuffer.empty[String]
    def drop(keep: Set[String]): Unit = {
      written.filterNot(keep).foreach(s => f.delete(new Path(path, s), true))
      written.clear()
    }
    var committed: Version = null
    val version = Manifest.commitNext(f, versionsDir(path), "v", () => drop(Set.empty)) { head =>
      committed = next(head, df => {
        val rows = Observation()
        val seg = writeSegment(df.observe(rows, count(lit(1)).as("rows")), path)
        written += seg
        seg -> rows.get("rows").asInstanceOf[Long]
      })
      val m = Manifest.obj().put("version", head + 1)
      val segments = m.putArray("segments")
      committed.segments.foreach(segments.add(_))
      committed.rows.foreach(rs => { val a = m.putArray("rows"); rs.foreach(a.add(_)) })
      m.put("schema", committed.schema.json)
      committed.delta.foreach { d =>
        val key = m.putObject("delta").put("segment", d.segment).put("rows", d.rows).putArray("key")
        d.key.foreach(key.add(_))
      }
      m
    }
    drop(committed.live.toSet)
    version
  }

  /** Write `df` as a new segment and commit the next version.
    * `replace = true` makes the new version exactly this segment (the
    * atomic full-refresh swap); `replace = false` appends it to the
    * current head's segments, widening the head's schema by any
    * columns the segment adds. An append onto a head with a delta
    * folds the delta first, so an appended row sharing a delta key
    * stays visible. The segment's rows are not counted (an observation
    * on every write costs task CPU on every commit), so the version
    * records no `rows` and an [[upsert]] onto it folds.
    * Returns the committed version number.
    * Retries the manifest CAS against a moved head — concurrent
    * appends serialize without locks.
    */
  def commit(df: DataFrame, path: String, replace: Boolean = false): Int = {
    val spark = df.sparkSession
    val seg = writeSegment(df, path)
    commitVersion(spark, path) { (head, write) =>
      if (replace || head == 0) Version(Seq(seg), None, df.schema)
      else {
        val h = readVersion(spark, path, head)
        val base =
          if (h.delta.isEmpty) h
          else { val merged = scan(spark, path, h); single(write(merged), merged.schema) }
        Version(base.segments :+ seg, None, SchemaEvolution.evolve(base.schema, df.schema))
      }
    }
  }

  /** Write-audit-publish (the Iceberg/Netflix WAP discipline): stage
    * the candidate snapshot's data files, audit the STAGED BYTES —
    * a re-read of the written parquet, not the logical plan that
    * produced it, so serialization itself is inside the audited
    * surface — and only on a clean audit CAS the manifest pointer.
    * On failure the staged segment is deleted and the head is
    * untouched: readers can never observe unaudited data because
    * visibility IS the manifest pointer, and a crash between stage
    * and publish leaves only an unreferenced segment for [[vacuum]].
    * Publishes a full-snapshot (replace) version.
    *
    * @param audit maps the staged frame to its FAILURE rows; empty
    *              result = publish
    * @return (published version if any, the audit failures)
    */
  def writeAuditPublish(candidate: DataFrame, path: String,
                        audit: DataFrame => DataFrame): (Option[Int], DataFrame) = {
    val spark = candidate.sparkSession
    val seg = writeSegment(candidate, path)
    val staged = spark.read.schema(candidate.schema).parquet(new Path(path, seg).toString)
    val failures = graft.Par.persistTracked(audit(staged))
    if (failures.isEmpty)
      (Some(commitVersion(spark, path)((_, _) => Version(Seq(seg), None, candidate.schema))),
        failures)
    else {
      // Materialize the failures OFF the staged files BEFORE deleting
      // them (r11 ADVICE): persist is lazy and isEmpty only ran the
      // first partition(s), so a caller consuming the failures after
      // the segment is gone (count / write-to-quarantine — the normal
      // WAP flow) would hit FileNotFoundException on the un-cached
      // partitions. localCheckpoint(eager = true) computes and stores
      // every partition, cutting lineage to the staged parquet; only
      // then is the segment dropped.
      val pinned = failures.localCheckpoint(true)
      Manifest.fs(spark, path).delete(new Path(path, seg), true)
      (None, pinned)
    }
  }

  /** Read a pinned version (default: current head). Reading version 0
    * (empty table) is an error — commit first. Segment entries are
    * table-root-relative (`d-uuid`) or ABSOLUTE (a [[shallowClone]]'s
    * foreign references) — resolved accordingly.
    *
    * The read uses the version's recorded schema, so it runs no
    * schema-inference job; segments committed before an evolving
    * append null-fill its added columns, and a pre-evolution version
    * keeps its ORIGINAL narrow schema. A version with a delta reads
    * its base less the delta's keys, plus the delta.
    */
  def read(spark: SparkSession, path: String,
           version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(spark, path))
    require(v >= 1, s"no committed version at $path")
    scan(spark, path, readVersion(spark, path, v))
  }

  /** Per-FILE min/max stats for a pinned version — Delta/Iceberg
    * data skipping on the engine's own table format ([[graft.sources
    * .Sink.writeFileStats]] is the plain-directory form; this one is
    * VERSION-AWARE): one column-pruned scan over the version's
    * segments aggregates (min, max, row count) per data file, landed
    * under `path/_stats/v<n>` — the underscore keeps parquet readers
    * out, and versioning the stats means a later commit writes ITS
    * OWN manifest while time travel prunes with the stats true at
    * the pinned version. At 100 TB the stats pass reads only the
    * stats columns and the manifest is one row per data file. The
    * scan covers every row of every live file, base and delta, rows a
    * delta replaced included: a file's range holds all it stores, and
    * [[prunedRead]] applies the delta after pruning.
    * Returns the number of files profiled.
    */
  def writeStats(spark: SparkSession, path: String, cols: Seq[String],
                 version: Option[Int] = None): Int = {
    require(cols.nonEmpty, "writeStats needs at least one column")
    val v = version.getOrElse(currentVersion(spark, path))
    require(v >= 1, s"no committed version at $path")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+
      count(lit(1)).as("n_rows")
    val m = readVersion(spark, path, v)
    val stats = readSegments(spark, path, m.schema, m.live)
      .select(col("_metadata.file_path").as("file") +: cols.map(col): _*)
      .groupBy(col("file"))
      .agg(aggs.head, aggs.tail: _*)
    ParquetWriter(stats.coalesce(1)).mode(SaveMode.Overwrite)
      .parquet(s"$path/_stats/v$v")
    spark.read.parquet(s"$path/_stats/v$v").count().toInt
  }

  /** Range-pruned versioned read: ≡ `read(...).filter(col BETWEEN
    * lo AND hi)`, but files whose [min, max] provably miss the range
    * are dropped DRIVER-SIDE from the plan (never opened, never
    * listed at row-group level) using the [[writeStats]] manifest of
    * the PINNED version. Null-stats files are kept — the residual
    * filter handles their rows — and the residual BETWEEN pushes to
    * the scan so row-group pruning still applies inside survivors.
    * Requires [[writeStats]] to have run for the version. A version's
    * delta is read whole: its keys must still hide the base rows they
    * replace, in pruned files or not.
    */
  def prunedRead(spark: SparkSession, path: String, pruneCol: String,
                 lo: Any, hi: Any,
                 version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(spark, path))
    val statsPath = s"$path/_stats/v$v"
    require(Manifest.fs(spark, path).exists(new Path(statsPath)),
      s"no stats manifest at $statsPath — run writeStats for v$v first")
    val kept = Sink.keptFiles(spark.read.parquet(statsPath), Seq((pruneCol, lo, hi)))
    val m = readVersion(spark, path, v)
    val delta = m.delta.map(d => new Path(d.segment).getName)
    val base = kept.toSeq.filterNot(f => delta.contains(new Path(f).getParent.getName))
    scan(spark, path, m.copy(segments = base))
      .filter(col(pruneCol).between(lit(lo), lit(hi)))
  }

  /** Zero-copy SHALLOW CLONE (the public Delta `SHALLOW CLONE` /
    * Iceberg snapshot-ref branching idea): publish at `dstPath` a
    * version whose manifest references the SOURCE's pinned segments
    * (its delta too) by absolute path — a metadata-only branch: one
    * tiny JSON write regardless of table size, so a 100 TB table branches in
    * milliseconds for dev/test/what-if work. The clone is a full
    * Versioned table afterwards: appends/replaces/restores land new
    * segments under ITS OWN root and the source never sees the
    * divergence; the source keeps committing and the clone's pin is
    * immune (manifest immutability, same as any reader).
    *
    * The standard shallow-clone hazard is inherited verbatim from
    * the public formats: [[vacuum]] on the SOURCE reclaims segments
    * a clone may still reference (a table's manifest log knows
    * nothing of foreign readers). Sever with a deep copy —
    * `commit(read(spark, dst), dst2, replace = true)` — before
    * vacuuming a cloned-from table aggressively. [[vacuum]] on the
    * CLONE is safe in both directions: it only ever deletes `d-*`
    * dirs under its own root, and foreign entries never match one.
    */
  def shallowClone(spark: SparkSession, srcPath: String, dstPath: String,
                   version: Option[Int] = None): Int = {
    val v = version.getOrElse(currentVersion(spark, srcPath))
    require(v >= 1, s"no committed version to clone at $srcPath")
    val srcRoot = Manifest.fs(spark, srcPath).makeQualified(new Path(srcPath))
    val src = readVersion(spark, srcPath, v)
    def absolute(s: String) =
      if (new Path(s).isAbsolute) s else new Path(srcRoot, s).toString
    commitVersion(spark, dstPath)((_, _) => src.copy(segments = src.segments.map(absolute),
      delta = src.delta.map(d => d.copy(segment = absolute(d.segment)))))
  }

  /** RESTORE TABLE TO VERSION (Delta's `RESTORE`, Iceberg's
    * rollback-as-new-snapshot): publish a NEW head whose content is
    * an earlier version's snapshot — the production rollback that
    * keeps history INTACT (nothing is rewound or deleted: the bad
    * versions stay readable for the post-mortem and reclaimable by
    * [[vacuum]], and a restore is itself just another auditable
    * commit). METADATA-ONLY: the new manifest points at version
    * `toVersion`'s existing segments and delta — zero data moved at
    * any table size, the same CAS race discipline as [[commit]].
    */
  def restore(spark: SparkSession, path: String, toVersion: Int): Int = {
    val target = readVersion(spark, path, toVersion) // validates existence
    commitVersion(spark, path) { (head, _) =>
      require(toVersion >= 1 && toVersion <= head,
        s"version $toVersion not committed at $path (head $head)")
      target
    }
  }

  /** Keyed change feed between two committed versions — the
    * time-travel dividend: `changes(v₁, v₂)` derives the CDC stream a
    * downstream consumer would need to catch up from v₁ to v₂ without
    * the upstream ever emitting one (Delta's CDF / Iceberg's
    * changelog read, derived rather than stored). One full-outer join
    * on the key — both sides shuffle once on `keys`; a key-bucketed
    * layout would make even that exchange-free — then a null-safe
    * per-column compare classifies each key:
    *
    *  - `insert`: key absent at v₁ (row carries the v₂ values);
    *  - `delete`: key absent at v₂ (row carries the v₁ values);
    *  - `update`: present in both, any non-key column differs
    *    null-safely (row carries the v₂ values).
    *
    * Unchanged keys emit nothing, so the feed is delta-sized. Both
    * versions must be key-unique (the [[upsert]] invariant); the
    * non-key schema is taken from v₂ and must exist at v₁ (run
    * schema evolution forward, not backward).
    */
  def changes(spark: SparkSession, path: String, fromVersion: Int,
              toVersion: Int, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    val before = read(spark, path, Some(fromVersion))
    val after = read(spark, path, Some(toVersion))
    val valCols = after.columns.filterNot(keys.contains).toSeq
    val b = before.select((keys ++ valCols).map(col): _*)
      .withColumn("__in_b", lit(1))
      .select(keys.map(col) ++ valCols.map(c => col(c).as(s"__b_$c"))
        :+ col("__in_b"): _*)
    val a = after.select((keys ++ valCols).map(col): _*)
      .withColumn("__in_a", lit(1))
      .select(keys.map(col) ++ valCols.map(c => col(c).as(s"__a_$c"))
        :+ col("__in_a"): _*)
    val joined = b.join(a, keys, "full_outer")
    val differs = valCols.map(c => !(col(s"__b_$c") <=> col(s"__a_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    joined
      .withColumn("change_type",
        when(col("__in_b").isNull, lit("insert"))
          .when(col("__in_a").isNull, lit("delete"))
          .when(differs, lit("update")))
      .filter(col("change_type").isNotNull)
      .select(keys.map(col) ++ Seq(col("change_type")) ++ valCols.map { c =>
        when(col("change_type") === "delete", col(s"__b_$c"))
          .otherwise(col(s"__a_$c")).as(c)
      }: _*)
  }

  /** Read-merge-commit with the merge INSIDE the retry loop: each
    * attempt observes the head, derives the replacement state from
    * exactly that head, and CASes head+1. A lost CAS means another
    * writer committed meanwhile — re-deriving from the NEW head is
    * what makes replace=true safe under concurrency (recommitting the
    * stale merge would silently drop the winner's version: a lost
    * update). A lost attempt's orphan segment is deleted eagerly;
    * a crash leaves it for [[vacuum]].
    */
  private[graft] def commitRebase(spark: SparkSession, path: String)
                                 (stateOf: Int => DataFrame): Int =
    commitVersion(spark, path) { (head, write) =>
      val state = stateOf(head)
      single(write(state), state.schema)
    }

  /** Keyed upsert as a version commit: merge `updates` into the head
    * (latest-wins per key, the delete+insert of
    * [[graft.operators.Cdc.upsert]]) and commit the result as the next
    * version — the atomic, time-travelable form of the parquet
    * upsert: readers mid-scan keep their pinned version, a crash
    * before the manifest CAS leaves the head untouched, and
    * yesterday's table stays queryable until vacuumed. First commit
    * bootstraps from the batch. Returns the committed version.
    *
    * The upsert writes the head's DELTA, not the table: onto a head
    * without one, the batch's latest row per key (projected to the
    * head's columns); onto a head with one, `Cdc.upsert(delta,
    * updates)`. The new version is the head's base segments plus that
    * delta, so the old delta drops out. When the delta it wrote
    * reaches [[FoldRatio]] of the base's rows (counts the manifest
    * records, so the rule runs no job), the upsert FOLDS instead: it
    * rewrites the rows that version would read, which are
    * `Cdc.upsert(read(head), updates)`, as one base segment, the same
    * rewrite [[compact]] does, and drops the delta. It folds straight
    * away where a delta cannot carry the merge: the head's delta is
    * keyed on other columns, the batch's column types differ from the
    * head's, or the head's base rows are uncounted (its base was
    * written by [[commit]], or before deltas existed). Either way
    * reads see exactly the copy-on-write result.
    *
    * Everything runs inside the CAS retry loop: a concurrent commit
    * moves the head, the lost attempt's segments are deleted, and the
    * retry re-derives the delta against the winner — no lost updates
    * under writer races.
    */
  def upsert(updates: DataFrame, path: String, key: Seq[String],
             trackingCol: String, tieBreak: Seq[String] = Nil): Int = {
    val spark = updates.sparkSession
    commitVersion(spark, path) { (head, write) =>
      def rewrite(state: DataFrame) = single(write(state), state.schema)
      if (head == 0) rewrite(Cdc.dedupLatestPerKey(updates, key, trackingCol, tieBreak))
      else {
        val h = readVersion(spark, path, head)
        val batch = updates.select(h.schema.fieldNames.toIndexedSeq.map(col): _*)
        val deltaFits = h.rows.isDefined && h.delta.forall(_.key == key) &&
          DataType.equalsStructurally(batch.schema, h.schema, ignoreNullability = true)
        if (!deltaFits)
          rewrite(Cdc.upsert(scan(spark, path, h), updates, key, trackingCol, tieBreak))
        else {
          val (seg, rows) = write(h.delta.fold(
            Cdc.dedupLatestPerKey(batch, key, trackingCol, tieBreak))(d =>
            Cdc.upsert(readSegments(spark, path, h.schema, Seq(d.segment)),
              updates, key, trackingCol, tieBreak)))
          val next = h.copy(delta = Some(Delta(seg, rows, key)))
          if (rows < FoldRatio * h.rows.get.sum) next else rewrite(scan(spark, path, next))
        }
      }
    }
  }

  /** Generalized MERGE INTO committed as one atomic version — the
    * Delta `MERGE INTO` composition: [[graft.operators.Merge
    * .mergeInto]]'s conditional clause chains applied against the
    * head snapshot, committed through the same CAS-rebase discipline
    * as [[upsert]] (a lost CAS re-merges against the winner — no lost
    * updates under writer races). A crash mid-merge leaves the
    * previous consistent version; readers never see a half-merged
    * table. Bootstrap (head == 0) IS the same merge, run against an
    * empty target of the source's schema: every source row is
    * not-matched, so the insert clause chain (conditions, set
    * overrides, first-clause-wins order) applies exactly as it would
    * against a non-empty table — bootstrap and steady-state semantics
    * cannot diverge. A merge whose insert clauses admit no row seeds
    * an EMPTY version 1 (the same rows a non-empty target would have
    * gained: none).
    */
  def mergeInto(source: DataFrame, path: String, key: Seq[String],
                matched: Seq[graft.operators.Merge.MatchedClause] = Seq.empty,
                notMatched: Seq[graft.operators.Merge.NotMatchedClause] = Seq.empty,
                notMatchedBySource: Seq[graft.operators.Merge.NotMatchedBySourceClause] = Seq.empty): Int = {
    val spark = source.sparkSession
    commitRebase(spark, path) { head =>
      val target =
        if (head == 0)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], source.schema)
        else read(spark, path, Some(head))
      graft.operators.Merge.mergeInto(target, source, key,
        matched, notMatched, notMatchedBySource)
    }
  }

  /** Rewrite the head's (possibly many) append segments, and its
    * delta, as ONE segment committed as the next version — the maintenance pass a
    * long-lived append table needs (every commit added a segment;
    * readers of the compacted head scan one). Old versions stay
    * time-travelable until [[vacuum]]. Runs inside the CAS retry loop
    * so a concurrent append is never silently un-compacted away.
    * Returns the new version.
    */
  def compact(spark: SparkSession, path: String): Int =
    commitRebase(spark, path) { head =>
      read(spark, path, Some(head)) // head==0 fails fast: nothing to compact
    }

  /** Delete segments referenced by NO manifest newer than
    * `head - keepVersions + 1`, and the superseded manifests — the
    * storage-reclaim pass. Orphan segments from crashed writes go too.
    * Returns the number of segment directories removed.
    *
    * `retentionMs` guards the commit-in-flight window: a writer lands
    * its segment BEFORE the manifest CAS, so an unreferenced young
    * segment may be a commit about to happen, not garbage — deleting
    * it would let the commit succeed pointing at missing data (the
    * same race Delta's `deletedFileRetentionDuration` exists for).
    * Segments modified within the window are kept regardless of
    * reference state; pass 0 only when no writer can be concurrent
    * (e.g. tests, a stop-the-world maintenance window).
    */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 1,
             retentionMs: Long = 24L * 3600 * 1000): Int = {
    require(keepVersions >= 1, "must keep at least the head version")
    require(retentionMs >= 0, "retentionMs must be non-negative")
    val f = Manifest.fs(spark, path)
    val head = currentVersion(spark, path)
    if (head == 0) return 0
    val keepFrom = math.max(1, head - keepVersions + 1)
    val live = (keepFrom to head).flatMap(readVersion(spark, path, _).live).toSet
    val cutoff = System.currentTimeMillis() - retentionMs
    val removed = f.listStatus(new Path(path))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("d-"))
      .filterNot(s => live(s.getPath.getName))
      .filter(s => s.getModificationTime <= cutoff)
      .map { s => f.delete(s.getPath, true); 1 }.sum
    (1 until keepFrom).foreach { v =>
      f.delete(new Path(versionsDir(path), Manifest.name("v", v)), false)
    }
    removed
  }
}

/** Atomic MULTI-TABLE commits over [[Versioned]] tables — the
  * maintenance contract a multi-frame index needs: a near-dup index
  * is several frames (minhash: shingles + banded; ngram: occ + dfs +
  * meta), and a daily batch must update ALL of them or NONE, or a
  * crashed job leaves an index whose candidate and verify frames
  * disagree.
  *
  * Layout: `root/<table>/` is a plain [[Versioned]] table per frame;
  * `root/_group/g<N>.json` pins `{table → version}` for group
  * version N, in the one [[Manifest]] format:
  * `{"version": N, "tables": {"<table>": <version>, ...}}`. A group commit first commits every frame (their new
  * versions are INVISIBLE to group readers until referenced), then
  * CASes the next group manifest — the same rename-if-absent commit
  * point as [[Versioned]], so a crash anywhere before the group CAS
  * leaves readers on the previous consistent frame set, and the
  * orphaned frame versions are garbage, not corruption. Tables
  * absent from an update keep their previously pinned versions.
  *
  * Vacuum note: [[Versioned.vacuum]] on a member table must keep at
  * least as many versions as the group history you intend to keep —
  * a group manifest pointing at a vacuumed frame version is a broken
  * pin.
  */
object VersionedGroup {

  private def groupDir(root: String) = new Path(root, "_group")

  /** Latest committed group version, 0 if none. */
  def currentVersion(spark: SparkSession, root: String): Int =
    Manifest.latest(Manifest.fs(spark, root), groupDir(root), "g")

  /** The {table → pinned version} map of a group version. */
  def tableVersions(spark: SparkSession, root: String,
                    version: Option[Int] = None): Map[String, Int] = {
    val v = version.getOrElse(currentVersion(spark, root))
    require(v >= 1, s"no committed group version at $root")
    val m = Manifest.read(Manifest.fs(spark, root), new Path(groupDir(root), Manifest.name("g", v)))
    m.path("tables").properties().asScala.map(e => e.getKey -> e.getValue.asInt).toMap
  }

  /** Commit `updates` (table → new content) as ONE group version:
    * every frame lands or none does. `replace = false` appends each
    * frame's rows as a new segment (O(delta) for daily maintenance);
    * `replace = true` swaps each updated frame's content. Unmentioned
    * tables keep their pins from the current group head. Returns the
    * group version.
    */
  def commit(root: String, updates: Map[String, DataFrame],
             replace: Boolean = false): Int = {
    require(updates.nonEmpty, "group commit needs at least one table")
    updates.keys.foreach(t => require(t.matches("[A-Za-z0-9_.-]+"),
      s"table name $t must be [A-Za-z0-9_.-]+"))
    val spark = updates.head._2.sparkSession
    // phase 1: frame commits — invisible until the group CAS below
    val committed = updates.map { case (t, df) =>
      t -> Versioned.commit(df, new Path(root, t).toString, replace)
    }
    // phase 2: pin them (plus the head's pins for untouched tables)
    Manifest.commitNext(Manifest.fs(spark, root), groupDir(root), "g") { head =>
      val base = if (head == 0) Map.empty[String, Int]
                 else tableVersions(spark, root, Some(head))
      val m = Manifest.obj().put("version", head + 1)
      val tables = m.putObject("tables")
      (base ++ committed).toSeq.sortBy(_._1).foreach { case (t, v) => tables.put(t, v) }
      m
    }
  }

  /** Read one table at a pinned group version (default: head). */
  def read(spark: SparkSession, root: String, table: String,
           groupVersion: Option[Int] = None): DataFrame = {
    val pins = tableVersions(spark, root, groupVersion)
    val v = pins.getOrElse(table,
      throw new IllegalArgumentException(
        s"table $table not pinned by group at $root (has: ${pins.keys.toSeq.sorted})"))
    Versioned.read(spark, new Path(root, table).toString, Some(v))
  }
}
