package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.sources.{Staging, Versioned, VersionedGroup}
import org.apache.spark.graft.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The file tables record what each write produced, so reading them
  * back, or learning a staged batch's rows and watermark, costs no
  * Spark job beyond the write itself. */
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
}
