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

    assert(jobs(Versioned.read(spark, dir).schema) === 0)
    assert(jobs(Versioned.read(spark, dir, Some(1)).schema) === 0)
    assert(jobs(VersionedGroup.read(spark, root, "b").schema) === 0)
    assert(jobs(Staging.readStaged(spark, staging, "b1").schema) === 0)
    // the reads still see every row under the recorded schemas
    assert(Versioned.read(spark, dir).count() === 15)
    assert(Versioned.read(spark, dir).columns.toSeq === Seq("k", "ver", "v", "extra"))
    assert(VersionedGroup.read(spark, root, "b").count() === 4)
    assert(Staging.readStaged(spark, staging, "b1").count() === 7)
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
    // the target's watermark, and one count decides whether the delta
    // writes anything
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
    assert(appended === Seq(50L -> 1, 30L -> 6, 0L -> 5))
    assert(replaced === Seq(50L -> 1, 30L -> 8, 0L -> 5))
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
