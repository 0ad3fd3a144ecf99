package graft

import graft.sources.Versioned
import org.apache.spark.sql.functions._

class VersionedSpec extends SparkSuite {
  import spark.implicits._

  test("commit/read: replace swaps atomically, append accumulates, reads pin") {
    val dir = tmpDir("ver") + "/t"
    val v1 = Versioned.commit((1L to 100L).toDF("id"), dir, replace = true)
    assert(v1 === 1)
    assert(Versioned.read(spark, dir).count() === 100)

    val v2 = Versioned.commit((101L to 150L).toDF("id"), dir) // append
    assert(v2 === 2)
    assert(Versioned.read(spark, dir).count() === 150)
    // time travel: v1 still reads exactly its own data
    assert(Versioned.read(spark, dir, Some(1)).count() === 100)

    val v3 = Versioned.commit((1L to 10L).toDF("id"), dir, replace = true)
    assert(v3 === 3)
    assert(Versioned.read(spark, dir).count() === 10)
    assert(Versioned.read(spark, dir, Some(2)).agg(sum("id")).head.getLong(0)
      === (1L to 150L).sum)
  }

  test("restore: metadata-only rollback publishes a NEW head equal to the target; history intact") {
    val dir = tmpDir("ver-restore") + "/t"
    assert(Versioned.commit((1L to 100L).toDF("id"), dir) === 1)
    assert(Versioned.commit((101L to 150L).toDF("id"), dir) === 2) // append
    assert(Versioned.commit((1L to 10L).toDF("id"), dir, replace = true) === 3)
    // restore to v1: head becomes 4, content exactly v1's
    assert(Versioned.restore(spark, dir, toVersion = 1) === 4)
    assert(Versioned.read(spark, dir).collect().map(_.getLong(0)).sorted
      === (1L to 100L).toArray)
    // every prior version still reads its own data (nothing rewound)
    assert(Versioned.read(spark, dir, Some(2)).count() === 150)
    assert(Versioned.read(spark, dir, Some(3)).count() === 10)
    // restoring the head itself is a legal no-op-content commit
    assert(Versioned.restore(spark, dir, toVersion = 4) === 5)
    assert(Versioned.read(spark, dir).count() === 100)
    // out-of-range targets refuse
    intercept[Exception](Versioned.restore(spark, dir, toVersion = 99))
  }

  test("writeAuditPublish: dirty candidate rejected with head/content untouched and segment reclaimed") {
    val dir = tmpDir("wap") + "/t"
    val audit = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(col("id") < 0)
    val (p1, f1) = Versioned.writeAuditPublish((1L to 10L).toDF("id"), dir, audit)
    assert(p1 === Some(1) && f1.isEmpty)
    // dirty candidate: stages, audits the staged bytes, rejects
    val (p2, f2) = Versioned.writeAuditPublish(
      Seq(11L, -5L, 12L).toDF("id"), dir, audit)
    assert(p2 === None)
    assert(f2.collect().map(_.getLong(0)).toSeq === Seq(-5L))
    assert(Versioned.currentVersion(spark, dir) === 1)
    assert(Versioned.read(spark, dir).count() === 10)
    // the rejected segment was deleted: only v1's segment remains
    val segs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("d-"))
    assert(segs.length === 1)
    // corrected candidate publishes a full-snapshot v2
    val (p3, _) = Versioned.writeAuditPublish(
      Seq(11L, 12L).toDF("id"), dir, audit)
    assert(p3 === Some(2))
    assert(Versioned.read(spark, dir).collect().map(_.getLong(0)).sorted
      === Array(11L, 12L))
    // r11 ADVICE regression: the rejected-call failures must survive
    // BOTH the segment delete and cache eviction — they are eagerly
    // localCheckpoint'ed off the staged files before the delete, so a
    // re-collect after unpersist cannot touch the vanished parquet
    Par.release()
    assert(f2.collect().map(_.getLong(0)).toSeq === Seq(-5L))
  }

  test("a crashed write (segment without manifest) is invisible") {
    val dir = tmpDir("verc") + "/t"
    Versioned.commit((1L to 50L).toDF("id"), dir, replace = true)
    // simulate a writer dying after its data write, before commit
    (999L to 1000L).toDF("id").write
      .parquet(dir + "/d-crashed-0000")
    assert(Versioned.read(spark, dir).count() === 50)
    // the next commit is unaffected and still doesn't see the orphan
    Versioned.commit((51L to 60L).toDF("id"), dir)
    assert(Versioned.read(spark, dir).count() === 60)
    // vacuum reclaims the orphan — but only past the retention window
    // (a young unreferenced segment may be a commit in flight)
    assert(Versioned.vacuum(spark, dir, keepVersions = 2) === 0)
    assert(Versioned.read(spark, dir).count() === 60)
    assert(Versioned.vacuum(spark, dir, keepVersions = 2, retentionMs = 0L) >= 1)
    assert(Versioned.read(spark, dir).count() === 60)
  }

  test("losing the version CAS retries onto the next head") {
    val dir = tmpDir("verr") + "/t"
    Versioned.commit((1L to 20L).toDF("id"), dir, replace = true)
    // occupy v2 by hand — as a racing committer would
    val vdir = new java.io.File(dir.stripPrefix("file:"), "_versions")
    val squatter = new java.io.File(vdir, "v00000002.json")
    val w = new java.io.FileWriter(squatter)
    w.write("""{"version":2,"segments":[]}"""); w.close()
    val v = Versioned.commit((21L to 30L).toDF("id"), dir)
    assert(v === 3, "commit must retry past the occupied version")
    // the head (v3) appended onto the state the RETRY saw — v2's
    // segment list (empty here), plus the new segment
    assert(Versioned.read(spark, dir).count() === 10)
    assert(Versioned.read(spark, dir, Some(1)).count() === 20)
  }

  test("upsert commits merged state; history stays queryable") {
    val dir = tmpDir("veru") + "/t"
    def batch(rows: (Long, String, Long)*) =
      rows.toSeq.toDF("k", "v", "ver")
    assert(Versioned.upsert(batch((1L, "a", 1L), (2L, "b", 1L)),
      dir, Seq("k"), "ver") === 1)
    // update key 2, insert key 3 — latest-wins within the batch too
    assert(Versioned.upsert(
      batch((2L, "b2", 2L), (2L, "b1", 1L), (3L, "c", 2L)),
      dir, Seq("k"), "ver") === 2)
    val head = Versioned.read(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(head === Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    // time travel to the pre-upsert table
    val v1 = Versioned.read(spark, dir, Some(1))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v1 === Map(1L -> "a", 2L -> "b"))
  }

  test("replace-commit rebases onto a head moved mid-merge (no lost update)") {
    val dir = tmpDir("verlu") + "/t"
    Versioned.commit((1L to 10L).toDF("id"), dir, replace = true) // v1
    // stateOf observes head=1; before its CAS lands, an interloper
    // commits v2 (the concurrent-writer window from ADVICE r7) — the
    // first CAS must lose and the retry must re-derive from v2, so
    // the interloper's row survives in the final head.
    var interleaved = false
    val v = Versioned.commitRebase(spark, dir) { head =>
      val base = Versioned.read(spark, dir, Some(head))
      if (!interleaved) {
        interleaved = true
        Versioned.commit(Seq(100L).toDF("id"), dir) // racing append wins v2
      }
      base.union(Seq(999L).toDF("id"))
    }
    assert(v === 3)
    val ids = Versioned.read(spark, dir).collect().map(_.getLong(0)).toSet
    assert(ids.contains(100L), "concurrent writer's row must not be lost")
    assert(ids.contains(999L) && ids.contains(10L))
    assert(ids.size === 12)
  }

  test("mergeInto: conditional merge commits atomically; history pins the pre-merge state") {
    import graft.operators.Merge._
    val dir = tmpDir("vermerge") + "/t"
    // bootstrap ≡ the same merge against an empty target: a
    // CONDITIONAL insert clause filters the seed exactly as it would
    // filter not-matched rows against a non-empty table
    val probe = Seq((1L, "a", 10.0), (7L, "x", -70.0)).toDF("k", "tag", "v")
    val probeDir = tmpDir("vermergeprobe") + "/t"
    assert(Versioned.mergeInto(probe, probeDir, Seq("k"),
      notMatched = Seq(NotMatchedInsert(cond = Some(col("s.v") > 0)))) === 1)
    assert(Versioned.read(spark, probeDir).as[(Long, String, Double)]
      .collect().toSeq === Seq((1L, "a", 10.0)))
    val seed = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "tag", "v")
    assert(Versioned.mergeInto(seed, dir, Seq("k"),
      notMatched = Seq(NotMatchedInsert())) === 1)
    // merge: update k=2, delete k=3 (stale), insert k=9
    val day2 = Seq((2L, "B", 200.0), (3L, "c", -1.0), (9L, "i", 90.0))
      .toDF("k", "tag", "v")
    val v2 = Versioned.mergeInto(day2, dir, Seq("k"),
      matched = Seq(
        MatchedUpdate(Map("tag" -> col("s.tag"), "v" -> col("s.v")),
          Some(col("s.v") > 0)),
        MatchedDelete()),
      notMatched = Seq(NotMatchedInsert()))
    assert(v2 === 2)
    val head = Versioned.read(spark, dir).orderBy("k")
      .as[(Long, String, Double)].collect()
    assert(head.toSeq === Seq((1L, "a", 10.0), (2L, "B", 200.0), (9L, "i", 90.0)))
    // the pre-merge state is still pinned at v1
    val v1 = Versioned.read(spark, dir, Some(1)).orderBy("k")
      .as[(Long, String, Double)].collect()
    assert(v1.toSeq === Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
  }

  test("compact folds append segments into one; history intact until vacuum") {
    val dir = tmpDir("vercp") + "/t"
    Versioned.commit((1L to 10L).toDF("id"), dir, replace = true)
    Versioned.commit((11L to 20L).toDF("id"), dir)
    Versioned.commit((21L to 30L).toDF("id"), dir)
    val v = Versioned.compact(spark, dir)
    assert(v === 4)
    val segs = new java.io.File(dir.stripPrefix("file:")).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("d-"))
    assert(segs === 4, "pre-compaction segments remain until vacuum")
    assert(Versioned.read(spark, dir).count() === 30)
    assert(Versioned.read(spark, dir, Some(2)).count() === 20) // time travel intact
    Versioned.vacuum(spark, dir, keepVersions = 1, retentionMs = 0L)
    val after = new java.io.File(dir.stripPrefix("file:")).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("d-"))
    assert(after === 1 && Versioned.read(spark, dir).count() === 30)
  }

  test("group commit: all frames land together; crash window leaves old pins") {
    import graft.sources.VersionedGroup
    val root = tmpDir("vg") + "/idx"
    def df(xs: Long*) = xs.toDF("id")
    // day 0: two frames as ONE group version
    assert(VersionedGroup.commit(root,
      Map("occ" -> df(1, 2), "dfs" -> df(10)), replace = true) === 1)
    assert(VersionedGroup.read(spark, root, "occ").count() === 2)
    assert(VersionedGroup.read(spark, root, "dfs").count() === 1)

    // CRASHED maintenance: one frame's Versioned commit landed but the
    // job died before the group CAS — group readers must still see the
    // old consistent pair
    Versioned.commit(df(3, 4, 5), root + "/occ")
    assert(VersionedGroup.read(spark, root, "occ").count() === 2,
      "un-grouped frame version must stay invisible")

    // day 1 replay: BOTH frames appended atomically; the group now
    // pins occ's LATEST version (the append sees 1+2+orphan? no —
    // Versioned.commit appends onto the head, which includes the
    // crashed segment; the group pin makes exactly the re-run visible)
    val g2 = VersionedGroup.commit(root,
      Map("occ" -> df(6), "dfs" -> df(20)))
    assert(g2 === 2)
    assert(VersionedGroup.read(spark, root, "dfs").collect()
      .map(_.getLong(0)).toSet === Set(10L, 20L))
    // time travel: group v1 still reads day-0 frames
    assert(VersionedGroup.read(spark, root, "occ", Some(1)).count() === 2)

    // partial update pins: touching only dfs keeps occ's pin
    val occBefore = VersionedGroup.read(spark, root, "occ").count()
    VersionedGroup.commit(root, Map("dfs" -> df(30)))
    assert(VersionedGroup.read(spark, root, "occ").count() === occBefore)
    assert(VersionedGroup.read(spark, root, "dfs").collect()
      .map(_.getLong(0)).toSet === Set(10L, 20L, 30L))
    // unknown table → clear error
    intercept[IllegalArgumentException](
      VersionedGroup.read(spark, root, "nope"))
  }

  test("two-day index maintenance through the group store equals in-memory frames") {
    import graft.sources.VersionedGroup
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    val root = tmpDir("vgmh") + "/mh"
    val (c1, c2) = (200L, 350L)
    // day 0: index frames from the seed corpus, one atomic group
    val (sh0, bd0) = Dedup.minHashIndexFrames(
      corpus.filter(col("doc_id") < c1), "doc_id", "text")
    VersionedGroup.commit(root, Map("sh" -> sh0, "bd" -> bd0), replace = true)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // day 1: batch vs STORED index, then append the batch's frames
    val b1 = corpus.filter(col("doc_id") >= c1 && col("doc_id") < c2)
    val day1 = pairs(Dedup.minHashLshIncremental(
      VersionedGroup.read(spark, root, "sh"),
      VersionedGroup.read(spark, root, "bd"),
      b1, "doc_id", "text", threshold = 0.5, includeIntraBatch = true))
    val (sh1, bd1) = Dedup.minHashIndexFrames(b1, "doc_id", "text")
    VersionedGroup.commit(root, Map("sh" -> sh1, "bd" -> bd1))
    // day 2: next batch vs the maintained index
    val b2 = corpus.filter(col("doc_id") >= c2)
    val day2 = pairs(Dedup.minHashLshIncremental(
      VersionedGroup.read(spark, root, "sh"),
      VersionedGroup.read(spark, root, "bd"),
      b2, "doc_id", "text", threshold = 0.5, includeIntraBatch = true))
    // reference: the same two days on in-memory frames
    val (shRef, bdRef) = Dedup.minHashIndexFrames(
      corpus.filter(col("doc_id") < c2), "doc_id", "text")
    val day2Ref = pairs(Dedup.minHashLshIncremental(shRef, bdRef, b2,
      "doc_id", "text", threshold = 0.5, includeIntraBatch = true))
    val day1Ref = pairs(Dedup.minHashLshIncremental(sh0, bd0, b1,
      "doc_id", "text", threshold = 0.5, includeIntraBatch = true))
    assert(day1 === day1Ref && day2 === day2Ref)
    assert((day1 ++ day2).nonEmpty)
    Par.release()
  }

  test("vacuum keeps referenced segments, drops superseded versions") {
    val dir = tmpDir("verv") + "/t"
    Versioned.commit((1L to 30L).toDF("id"), dir, replace = true)   // v1
    Versioned.commit((31L to 40L).toDF("id"), dir)                  // v2 = v1+delta
    Versioned.commit((1L to 5L).toDF("id"), dir, replace = true)    // v3 fresh
    val removed = Versioned.vacuum(spark, dir, keepVersions = 1, retentionMs = 0L)
    assert(removed === 2, s"expected v1's and v2's dead segments, got $removed")
    assert(Versioned.read(spark, dir).count() === 5)
    // superseded manifests are gone → time travel to them now fails
    intercept[Exception](Versioned.read(spark, dir, Some(1)).count())
  }

  test("shallowClone: metadata-only branch, divergence isolated both ways, clone vacuum foreign-safe") {
    import spark.implicits._
    val src = tmpDir("vcl-src") + "/t"
    val dst = tmpDir("vcl-dst") + "/t"
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), src,
      replace = true)
    Versioned.commit(Seq((3L, "c")).toDF("k", "v"), src) // src v2
    assert(Versioned.shallowClone(spark, src, dst) === 1)
    // metadata-only: the clone root holds NO data segments yet
    val dstDirs = new java.io.File(dst).listFiles().map(_.getName).toSet
    assert(!dstDirs.exists(_.startsWith("d-")), s"clone copied data: $dstDirs")
    // read equality with the pinned source version
    assert(Versioned.read(spark, dst).collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L))
    // divergence: clone appends; source appends AFTER the clone
    Versioned.commit(Seq((10L, "C")).toDF("k", "v"), dst)
    Versioned.commit(Seq((20L, "S")).toDF("k", "v"), src)
    assert(Versioned.read(spark, dst).collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L, 10L), "clone must not see the source's later commit")
    assert(Versioned.read(spark, src).collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L, 20L), "source must not see the clone's commit")
    // the clone's new segment landed under ITS root
    assert(new java.io.File(dst).listFiles().exists(_.getName.startsWith("d-")))
    // vacuum on the clone never touches foreign segments: drop the
    // clone's v1 (foreign-only) with zero retention — the SOURCE
    // still reads all its data afterwards
    Versioned.vacuum(spark, dst, keepVersions = 1, retentionMs = 0L)
    assert(Versioned.read(spark, src).count() === 4)
    assert(Versioned.read(spark, dst).count() === 4)
  }

  test("every write path records the schema a schemaless parquet read infers") {
    import graft.operators.Merge.{MatchedUpdate, NotMatchedInsert}
    import org.apache.spark.sql.types.MetadataBuilder
    val note = new MetadataBuilder().putString("comment", "amount in kobo").build()
    def rows(ks: Seq[Long], ver: Long) = ks.map(k => (k, ver, s"n$k", k * 1.5)).toDF("k", "ver", "name", "amt")
      .select(col("k"), col("ver"), col("name"), col("amt").as("amt", note),
        struct(col("k").as("id"), array(col("name")).as("tags")).as("nested"),
        timestamp_seconds(col("ver")).as("ts"), col("amt").cast("decimal(12,2)").as("dec"))
    // the same segments read with nothing but parquet inference; it
    // takes one file's footer, so it is only a reference where the
    // version's segments agree on their schema
    def inferred(df: org.apache.spark.sql.DataFrame) = {
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      val segments = df.queryExecution.analyzed.collect { case r: LogicalRelation => r.relation }
        .collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.toString) }.flatten
      spark.read.parquet(segments: _*).schema
    }
    def check(path: String, v: Int, what: String): Unit = {
      val df = Versioned.read(spark, path, Some(v))
      assert(df.schema === inferred(df), what)
    }
    val dir = tmpDir("ver-schema") + "/t"
    check(dir, Versioned.commit(rows(1L to 5L, 1L), dir, replace = true), "commit replace")
    val appended = Versioned.commit(rows(6L to 8L, 1L), dir)
    check(dir, appended, "commit append")
    check(dir, Versioned.upsert(rows(Seq(2L, 9L), 2L), dir, Seq("k"), "ver"), "upsert")
    check(dir, Versioned.mergeInto(rows(Seq(3L, 10L), 3L), dir, Seq("k"),
      matched = Seq(MatchedUpdate(Map("name" -> col("s.name")))),
      notMatched = Seq(NotMatchedInsert())), "mergeInto")
    // the merge dropped the column comment, so this append's segments
    // disagree on it: the version keeps its head's schema, and so do
    // its compaction and its restore
    val mixed = Versioned.commit(rows(Seq(11L), 4L), dir)
    val mergedSchema = Versioned.read(spark, dir, Some(mixed - 1)).schema
    assert(Versioned.read(spark, dir, Some(mixed)).schema === mergedSchema)
    check(dir, Versioned.compact(spark, dir), "compact")
    assert(Versioned.read(spark, dir).schema === mergedSchema)
    assert(Versioned.read(spark, dir, Some(Versioned.restore(spark, dir, toVersion = mixed)))
      .schema === mergedSchema)
    check(dir, Versioned.restore(spark, dir, toVersion = appended), "restore")
    val clone = tmpDir("ver-schema-clone") + "/t"
    check(clone, Versioned.shallowClone(spark, dir, clone), "shallowClone")
    val wap = tmpDir("ver-schema-wap") + "/t"
    val (published, _) = Versioned.writeAuditPublish(rows(1L to 3L, 1L), wap,
      _.filter(col("k") < 0))
    check(wap, published.get, "writeAuditPublish")
  }

  /** A committed manifest, parsed. */
  private def manifest(dir: String, v: Int) =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(dir, f"_versions/v$v%08d.json"))

  private def segmentDirs(dir: String): Set[String] =
    new java.io.File(dir).listFiles().filter(f => f.isDirectory && f.getName.startsWith("d-"))
      .map(_.getName).toSet

  private def kv(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** 40 base rows k = 1..40 with v = "b<k>" at ver 1, bootstrapped by
    * an upsert, so version 1's base rows are counted. */
  private def seeded(prefix: String): String = {
    val dir = tmpDir(prefix) + "/t"
    Versioned.upsert((1L to 40L).map(k => (k, s"b$k", 1L)).toDF("k", "v", "ver"), dir,
      Seq("k"), "ver")
    dir
  }

  test("upsert writes a delta segment; the next upsert replaces it; a big enough delta folds") {
    // a committed base has no row counts: the first upsert onto it folds
    val committed = tmpDir("ver-delta-commit") + "/t"
    Versioned.commit((1L to 40L).map(k => (k, s"b$k", 1L)).toDF("k", "v", "ver"), committed)
    assert(manifest(committed, 1).path("rows").isMissingNode)
    Versioned.upsert(Seq((2L, "u2", 2L)).toDF("k", "v", "ver"), committed, Seq("k"), "ver")
    assert(manifest(committed, 2).path("delta").isMissingNode)
    assert(manifest(committed, 2).path("rows").get(0).asLong === 40L)
    val dir = seeded("ver-delta")
    def up(rows: (Long, String, Long)*) =
      Versioned.upsert(rows.toDF("k", "v", "ver"), dir, Seq("k"), "ver")
    assert(up((2L, "u2", 2L), (41L, "i41", 2L), (2L, "stale", 1L)) === 2)
    val m2 = manifest(dir, 2)
    assert(m2.path("segments").size === 1 && m2.path("rows").get(0).asLong === 40L)
    assert(m2.path("delta").path("rows").asLong === 2L)
    assert(m2.path("delta").path("key").get(0).asText === "k")
    assert(kv(Versioned.read(spark, dir)) ===
      (1L to 40L).map(k => k -> s"b$k").toMap ++ Map(2L -> "u2", 41L -> "i41"))
    // the second delta merges the first: it carries k = 2 forward
    assert(up((3L, "u3", 3L), (41L, "i41b", 3L)) === 3)
    val m3 = manifest(dir, 3)
    assert(m3.path("segments") === m2.path("segments"))
    assert(m3.path("delta").path("rows").asLong === 3L)
    assert(m3.path("delta").path("segment") != m2.path("delta").path("segment"))
    val expected3 = (1L to 40L).map(k => k -> s"b$k").toMap ++
      Map(2L -> "u2", 3L -> "u3", 41L -> "i41b")
    assert(kv(Versioned.read(spark, dir)) === expected3)
    // 10 delta rows reach a quarter of the 40 base rows: the upsert folds
    assert(up((10L to 16L).map(k => (k, s"f$k", 4L)): _*) === 4)
    val m4 = manifest(dir, 4)
    assert(m4.path("delta").isMissingNode && m4.path("segments").size === 1)
    assert(m4.path("rows").get(0).asLong === 41L)
    assert(kv(Versioned.read(spark, dir)) === expected3 ++ (10L to 16L).map(k => k -> s"f$k"))
    // time travel reads every version's own merge; the folded-away
    // delta of the fold attempt was deleted, the committed ones stay
    assert(kv(Versioned.read(spark, dir, Some(2)))(41L) === "i41")
    assert(kv(Versioned.read(spark, dir, Some(3))) === expected3)
    assert(segmentDirs(dir).size === 4)
  }

  test("writeStats and prunedRead on a version with a delta hide the rows the delta replaced") {
    val dir = tmpDir("ver-delta-prune") + "/t"
    Versioned.upsert((1L to 40L).map(k => (k, k, 1L)).toDF("k", "x", "ver"), dir,
      Seq("k"), "ver")
    // k = 5 moves out of [1, 10]; k = 30 moves in; k = 41 is new
    val v = Versioned.upsert(Seq((5L, 500L, 2L), (30L, 7L, 2L), (41L, 9L, 2L))
      .toDF("k", "x", "ver"), dir, Seq("k"), "ver")
    assert(!manifest(dir, v).path("delta").isMissingNode)
    assert(Versioned.writeStats(spark, dir, Seq("x")) >= 2)
    val pruned = Versioned.prunedRead(spark, dir, "x", 1L, 10L)
      .select("k", "x").as[(Long, Long)].collect().toSet
    val full = Versioned.read(spark, dir).filter(col("x").between(1L, 10L))
      .select("k", "x").as[(Long, Long)].collect().toSet
    assert(pruned === full)
    assert(pruned === ((1L to 10L).filterNot(_ == 5L).map(k => k -> k) ++
      Seq(30L -> 7L, 41L -> 9L)).toSet)
    // a range no file's stats reach still applies the delta: nothing
    assert(Versioned.prunedRead(spark, dir, "x", 1000L, 2000L).count() === 0)
  }

  test("restore and shallowClone carry the delta; vacuum keeps the live delta only") {
    val dir = seeded("ver-delta-rc")
    val up = (k: Long, v: String, ver: Long) =>
      Versioned.upsert(Seq((k, v, ver)).toDF("k", "v", "ver"), dir, Seq("k"), "ver")
    up(1L, "a", 2L)                                              // v2: delta {1}
    up(2L, "b", 3L)                                              // v3: delta {1, 2}
    val v3 = kv(Versioned.read(spark, dir))
    Versioned.commit(Seq((50L, "c", 4L)).toDF("k", "v", "ver"), dir, replace = true) // v4
    assert(Versioned.restore(spark, dir, toVersion = 3) === 5)
    assert(manifest(dir, 5).path("delta") === manifest(dir, 3).path("delta"))
    assert(kv(Versioned.read(spark, dir)) === v3)
    val clone = tmpDir("ver-delta-clone") + "/t"
    assert(Versioned.shallowClone(spark, dir, clone) === 1)
    val cloned = manifest(clone, 1).path("delta").path("segment").asText
    assert(new org.apache.hadoop.fs.Path(cloned).isAbsolute)
    assert(kv(Versioned.read(spark, clone)) === v3)
    assert(segmentDirs(clone).isEmpty)
    // the clone's own upsert writes its delta under its root
    Versioned.upsert(Seq((3L, "c3", 5L)).toDF("k", "v", "ver"), clone, Seq("k"), "ver")
    assert(kv(Versioned.read(spark, clone)) === v3 + (3L -> "c3"))
    assert(segmentDirs(clone).size === 1)
    // vacuum: v5's base and delta live on; v2's delta and v4's segment go
    assert(Versioned.vacuum(spark, dir, keepVersions = 1, retentionMs = 0L) === 2)
    assert(segmentDirs(dir).size === 2)
    assert(kv(Versioned.read(spark, dir)) === v3)
    assert(kv(Versioned.read(spark, clone)) === v3 + (3L -> "c3"))
  }

  test("changes, compact, mergeInto and an append read a delta head's merged rows") {
    import graft.operators.Merge.{MatchedUpdate, NotMatchedInsert}
    val dir = seeded("ver-delta-ops")
    Versioned.upsert(Seq((1L, "a", 2L), (41L, "n", 2L)).toDF("k", "v", "ver"), dir,
      Seq("k"), "ver")                                           // v2: delta {1, 41}
    val feed = Versioned.changes(spark, dir, 1, 2, Seq("k"))
      .select("k", "change_type", "v").as[(Long, String, String)].collect().toSet
    assert(feed === Set((1L, "update", "a"), (41L, "insert", "n")))
    // an appended row sharing a delta key stays visible: the append folds first
    assert(Versioned.commit(Seq((1L, "dup", 3L)).toDF("k", "v", "ver"), dir) === 3)
    assert(manifest(dir, 3).path("delta").isMissingNode)
    assert(manifest(dir, 3).path("segments").size === 2)
    val appended = Versioned.read(spark, dir).filter(col("k") === 1L)
      .select("v").as[String].collect().toSet
    assert(appended === Set("a", "dup"))
    assert(Versioned.read(spark, dir).count() === 42)
    // compact folds a delta into one segment
    val dir2 = seeded("ver-delta-compact")
    Versioned.upsert(Seq((1L, "a", 2L)).toDF("k", "v", "ver"), dir2, Seq("k"), "ver")
    val before = kv(Versioned.read(spark, dir2))
    val c = Versioned.compact(spark, dir2)
    assert(manifest(dir2, c).path("delta").isMissingNode)
    assert(manifest(dir2, c).path("segments").size === 1)
    assert(kv(Versioned.read(spark, dir2)) === before)
    // mergeInto stays copy-on-write over the merged head
    Versioned.upsert(Seq((2L, "b", 3L)).toDF("k", "v", "ver"), dir2, Seq("k"), "ver")
    val m = Versioned.mergeInto(Seq((2L, "B", 4L), (99L, "z", 4L)).toDF("k", "v", "ver"), dir2,
      Seq("k"), matched = Seq(MatchedUpdate(Map("v" -> col("s.v")))),
      notMatched = Seq(NotMatchedInsert()))
    assert(manifest(dir2, m).path("delta").isMissingNode)
    assert(kv(Versioned.read(spark, dir2)) === before ++ Map(2L -> "B", 99L -> "z"))
  }

  test("an upsert crashed after its delta write leaves the head as it was; vacuum reclaims it") {
    val dir = seeded("ver-delta-crash")
    Versioned.upsert(Seq((1L, "a", 2L)).toDF("k", "v", "ver"), dir, Seq("k"), "ver") // v2
    val head = kv(Versioned.read(spark, dir))
    val live = segmentDirs(dir)
    // the next upsert's delta, landed as the upsert lands it, then no CAS
    graft.operators.Cdc.upsert(Versioned.read(spark, dir).filter(lit(false)),
        Seq((1L, "lost", 3L), (7L, "lost", 3L)).toDF("k", "v", "ver"), Seq("k"), "ver")
      .write.parquet(s"$dir/d-${java.util.UUID.randomUUID()}")
    assert(Versioned.currentVersion(spark, dir) === 2)
    assert(kv(Versioned.read(spark, dir)) === head)
    assert(Versioned.vacuum(spark, dir, keepVersions = 1) === 0) // young: maybe in flight
    assert(Versioned.vacuum(spark, dir, keepVersions = 1, retentionMs = 0L) === 1)
    assert(segmentDirs(dir) === live)
    assert(kv(Versioned.read(spark, dir)) === head)
  }

  test("two racing upserts both land: the one that loses the CAS re-derives its delta") {
    val dir = seeded("ver-delta-race")
    Versioned.upsert(Seq((1L, "a", 2L)).toDF("k", "v", "ver"), dir, Seq("k"), "ver") // v2
    VersionedRace.reset()
    // A's delta write blocks until B has committed v3 over the head A read
    val slow = Seq((2L, "A", 3L), (3L, "A", 3L)).toDF("k", "v", "ver")
      .withColumn("v", udf((s: String) => VersionedRace.pause(s)).apply(col("v")))
    val a = new Thread(() => {
      VersionedRace.result = Versioned.upsert(slow, dir, Seq("k"), "ver")
    })
    a.start()
    assert(VersionedRace.started.await(60, java.util.concurrent.TimeUnit.SECONDS))
    assert(Versioned.upsert(Seq((3L, "B", 4L), (4L, "B", 4L)).toDF("k", "v", "ver"), dir,
      Seq("k"), "ver") === 3)
    VersionedRace.committed.countDown()
    a.join(120000)
    assert(VersionedRace.result === 4)
    // latest-wins by version order: A (committed last) overwrites B's k = 3
    assert(kv(Versioned.read(spark, dir)) === (1L to 40L).map(k => k -> s"b$k").toMap ++
      Map(1L -> "a", 2L -> "A", 3L -> "A", 4L -> "B"))
    // the lost attempt's delta was deleted: base + v2, v3, v4 deltas
    assert(segmentDirs(dir).size === 4)
  }
}

/** Latches for the racing-upsert case; a UDF reaches them by name, not
  * through a serialized closure. */
object VersionedRace {
  @volatile var started = new java.util.concurrent.CountDownLatch(1)
  @volatile var committed = new java.util.concurrent.CountDownLatch(1)
  @volatile var result = 0
  private val first = new java.util.concurrent.atomic.AtomicBoolean(true)

  def reset(): Unit = {
    started = new java.util.concurrent.CountDownLatch(1)
    committed = new java.util.concurrent.CountDownLatch(1)
    result = 0
    first.set(true)
  }

  /** Holds the first call until the racing commit has landed. */
  def pause(s: String): String = {
    if (first.compareAndSet(true, false)) {
      started.countDown()
      committed.await(60, java.util.concurrent.TimeUnit.SECONDS)
    }
    s
  }
}
