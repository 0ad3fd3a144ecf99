package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.pipeline.IncrementalModel
import graft.sources.{Staging, Versioned, VersionedGroup}
import org.apache.spark.graft.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark job counts that must hold exactly. The file tables record
  * what each write produced, so reading them back, or learning a
  * staged batch's rows and watermark, costs no Spark job beyond the
  * write itself; and an operator's job count does not change from run
  * to run on the same input. */
class JobCountSpec extends SparkSuite {
  import spark.implicits._

  /** Spark jobs started on this thread while `body` runs; the job
    * group keeps suites running alongside out of the count. */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val started = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try body
    finally {
      sc.clearJobGroup()
      Bus.drain(sc)
      sc.removeSparkListener(listener)
    }
    started.get
  }

  private def batch(n: Int) = (1 to n).map(i => (i.toLong, i % 3L, s"v$i")).toDF("k", "ver", "v")

  test("Versioned.read, VersionedGroup.read and Staging.readStaged run no Spark job") {
    val dir = tmpDir("jobs-ver") + "/t"
    Versioned.commit(batch(10), dir, replace = true)
    Versioned.commit(batch(5).withColumn("extra", lit(1)), dir) // evolving append
    val root = tmpDir("jobs-group") + "/g"
    VersionedGroup.commit(root, Map("a" -> batch(3), "b" -> batch(4)))
    val staging = tmpDir("jobs-staging")
    Staging.stage(batch(7), staging, "b1", trackingCol = Some("ver"))
    val upserted = tmpDir("jobs-delta") + "/t"
    Versioned.upsert(batch(20), upserted, Seq("k"), "ver")
    Versioned.upsert(batch(3).withColumn("v", lit("u")), upserted, Seq("k"), "ver") // a delta

    assert(jobs(Versioned.read(spark, dir).schema) === 0)
    assert(jobs(Versioned.read(spark, dir, Some(1)).schema) === 0)
    assert(jobs(VersionedGroup.read(spark, root, "b").schema) === 0)
    assert(jobs(Staging.readStaged(spark, staging, "b1").schema) === 0)
    assert(jobs(Versioned.read(spark, upserted).schema) === 0)
    // the reads still see every row under the recorded schemas
    assert(Versioned.read(spark, dir).count() === 15)
    assert(Versioned.read(spark, dir).columns.toSeq === Seq("k", "ver", "v", "extra"))
    assert(VersionedGroup.read(spark, root, "b").count() === 4)
    assert(Staging.readStaged(spark, staging, "b1").count() === 7)
    assert(Versioned.read(spark, upserted).filter(col("v") === "u").count() === 3)
    assert(Versioned.read(spark, upserted).count() === 20)
  }

  test("Versioned.upsert onto a head with a delta runs exactly three jobs") {
    // it merges the batch into the delta, not the table; the anti-join
    // takes the batch's keys without a latest-per-key pass of their own
    val dir = tmpDir("jobs-upsert") + "/t"
    Versioned.upsert(batch(100), dir, Seq("k"), "ver")
    Versioned.upsert(batch(5).withColumn("v", lit("u")), dir, Seq("k"), "ver")
    val updates = (3 to 8).map(i => (i.toLong, 9L, s"w$i")).toDF("k", "ver", "v")
    assert(jobs(Versioned.upsert(updates, dir, Seq("k"), "ver")) === 3)
    assert(Versioned.read(spark, dir).filter(col("ver") === 9L).count() === 6)
  }

  test("the iterative graph operators and connectedComponents run pinned job counts") {
    import graft.operators.{Dedup, Graph}
    // a dense 100-node core plus a sparse 300-node fringe, so kCore
    // peels in cascades and every loop reaches a lineage cut
    val rnd = new scala.util.Random(11)
    val core = for (a <- 0 until 100; _ <- 1 to 20) yield (a.toLong, rnd.nextInt(100).toLong)
    val fringe = for (a <- 100 until 400; _ <- 1 to 3) yield (a.toLong, rnd.nextInt(400).toLong)
    val edges = (core ++ fringe).map { case (a, b) => (a, b, 1L + rnd.nextInt(9)) }
      .toDF("a", "b", "w")
    val seeds = Seq(0L, 150L, 300L).toDF("s")
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "pageRank" -> (() => Graph.pageRank(edges, "a", "b")),
      "pageRankFixedPoint" -> (() => Graph.pageRankFixedPoint(edges, "a", "b")),
      "pageRankFixedPointWeighted" -> (() => Graph.pageRankFixedPointWeighted(edges, "a", "b", "w")),
      "personalizedPageRankFixedPoint" ->
        (() => Graph.personalizedPageRankFixedPoint(edges, "a", "b", seeds, "s")),
      "kCore" -> (() => Graph.kCore(edges, "a", "b", k = 6)),
      "labelPropagation" -> (() => Graph.labelPropagation(edges, "a", "b")),
      "hitsFixedPoint" -> (() => Graph.hitsFixedPoint(edges, "a", "b")),
      "bfsDistance" -> (() => Graph.bfsDistance(edges, "a", "b", seeds, "s", maxHops = 6)),
      "ssspWeighted" -> (() => Graph.ssspWeighted(edges, "a", "b", "w", seeds, "s", rounds = 6)),
      "triangleStats" -> (() => Graph.triangleStats(edges, "a", "b")),
      "localClustering" -> (() => Graph.localClustering(edges, "a", "b")),
      "connectedComponents" -> (() => Dedup.connectedComponents(edges, "a", "b")))
    // (total jobs, jobs while the DataFrame is built)
    val counts = ops.map { case (name, build) =>
      var df: DataFrame = null
      val building = jobs { df = build() }
      val total = building + jobs(df.collect())
      Par.release()
      name -> (total, building)
    }
    assert(counts === Seq(
      "pageRank" -> (58, 52),
      "pageRankFixedPoint" -> (58, 52),
      "pageRankFixedPointWeighted" -> (58, 52),
      "personalizedPageRankFixedPoint" -> (60, 54),
      "kCore" -> (25, 24),
      "labelPropagation" -> (65, 62),
      "hitsFixedPoint" -> (85, 83),
      "bfsDistance" -> (41, 26),
      "ssspWeighted" -> (41, 26),
      "triangleStats" -> (19, 16),
      "localClustering" -> (20, 0),
      "connectedComponents" -> (24, 23)))
  }

  test("Quality.referentialIntegrity over two edges runs exactly five jobs") {
    import graft.operators.Quality
    // each edge is one keyed aggregate over the union of its two sides;
    // a distinct pass over each parent, its broadcast and an Expand of
    // the child rows took 9 jobs for the same two edges
    val dir = tmpDir("jobs-ri")
    val child = (1 to 400).map(i => (i.toLong, if (i % 50 == 0) None else Some(i % 70L)))
    child.toDF("id", "fk").write.parquet(s"$dir/child")
    (1 to 61).map(i => (if (i == 61) None else Some(i.toLong), s"p$i")).toDF("pk", "name")
      .write.parquet(s"$dir/parent")
    (1 to 300).map(i => (i.toLong, i + 150L)).toDF("id", "fk").write.parquet(s"$dir/grandchild")
    val parent = spark.read.parquet(s"$dir/parent")
    val rels = Seq(
      ("child.fk->parent", spark.read.parquet(s"$dir/child"), "fk", parent, "pk"),
      ("grandchild.fk->child", spark.read.parquet(s"$dir/grandchild"), "fk",
        spark.read.parquet(s"$dir/child"), "id"))
    var out: Array[Row] = null
    val n = jobs { out = Quality.referentialIntegrity(rels).collect() }
    // child: 392 non-null rows over keys 0..69, of which keys 0 and
    // 61..69 (49 rows) have no parent, the null parent key matching
    // none; grandchild: keys 151..450, 401..450 orphaned
    assert(out.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap ===
      Map("child.fk->parent" -> ((392L, 70L, 49L, 10L)),
        "grandchild.fk->child" -> ((300L, 300L, 50L, 50L))))
    assert(n === 5)
  }

  test("Staging.stage with a tracking column runs exactly one job: the write") {
    val dir = tmpDir("jobs-stage")
    var m: Staging.StagedManifest = null
    assert(jobs { m = Staging.stage(batch(50), dir, "b1", trackingCol = Some("ver")) } === 1)
    assert(m.rows === 50L && m.watermark === Some("2"))
    assert(m === Staging.readManifest(spark, dir, "b1"))
  }

  test("a zero-row batch stages rows = 0 and an empty watermark, with or without partitions") {
    val schema = StructType(Seq(StructField("k", LongType), StructField("ts", TimestampType)))
    val noPartitions = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(noPartitions.rdd.getNumPartitions === 0)
    val emptyPartitions = spark.range(0, 100, 1, 4)
      .select(col("id").as("k"), timestamp_seconds(col("id")).as("ts"))
      .filter(col("k") > 1000)
    for ((df, id) <- Seq(noPartitions -> "none", emptyPartitions -> "four")) {
      val dir = tmpDir("jobs-empty")
      val m = Staging.stage(df, dir, id, trackingCol = Some("ts"))
      assert(m.rows === 0L, id)
      assert(m.watermark === Some(""), id)
      assert(m === Staging.readManifest(spark, dir, id))
      assert(Staging.readStaged(spark, dir, id).count() === 0L)
    }
  }

  test("IncrementalModel: jobs per bootstrap, non-empty and empty pass of both methods") {
    // the bootstrap counts its rows on its one write; a later pass reads
    // the target's watermark under the source's schema, with no
    // inference job, and one count decides whether the delta writes
    // anything
    val src = tmpDir("jobs-incr-src")
    batch(80).write.parquet(s"$src/day2")
    spark.read.parquet(s"$src/day2").filter(col("k") <= 50).write.parquet(s"$src/day1")
    val day1 = spark.read.parquet(s"$src/day1")
    val day2 = spark.read.parquet(s"$src/day2")
    def passes(run: (DataFrame, String) => Long): Seq[(Long, Int)] = {
      val target = tmpDir("jobs-incr") + "/t"
      Seq(day1, day2, day2).map { source =>
        var rows = -1L
        val n = jobs { rows = run(source, target) }
        rows -> n
      }
    }
    val appended = passes(IncrementalModel.run(spark, _, _, "k"))
    val replaced = passes(IncrementalModel.runDeleteInsert(spark, _, _, "k", Seq("k")))
    assert(appended === Seq(50L -> 1, 30L -> 5, 0L -> 4))
    assert(replaced === Seq(50L -> 1, 30L -> 7, 0L -> 4))
  }

  test("dedup_ngram_jaccard runs the same number of jobs on every run") {
    // an inner join of its per-doc sets' two small inputs lets AQE
    // broadcast whichever reports statistics first; about one run in
    // three then pays an extra shuffle job, so six runs show it
    val build = SparkEntry.queries("dedup_ngram_jaccard")
    val counts = (1 to 6).map { _ =>
      jobs { build(spark, "/root/testdata/sf0.01").queryExecution.toRdd.count(); Par.release() }
    }
    assert(counts.distinct.size === 1, s"job counts differ between runs: $counts")
  }

  test("dedup_ngram_jaccard_incr runs the same number of jobs on every run") {
    // inner joins of two small inputs in its orphan rescue let AQE
    // build whichever side reported statistics first, and runs on the
    // same input took 46 or 48 jobs.
    // The first run also builds the memoized index store, so it is left
    // out.
    val build = SparkEntry.queries("dedup_ngram_jaccard_incr")
    def run(): Int =
      jobs { build(spark, "/root/testdata/sf0.01").queryExecution.toRdd.count(); Par.release() }
    run()
    val counts = (1 to 6).map(_ => run())
    assert(counts.distinct.size === 1, s"job counts differ between runs: $counts")
  }
}
