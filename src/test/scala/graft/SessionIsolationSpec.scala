package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** graft never writes a conf on a session it is handed: a stream that
  * needs its own width and a legacy read that needs `nanosAsLong` each
  * run in a session of their own, so a thread watching the caller's
  * session sees one value throughout. */
class SessionIsolationSpec extends SparkSuite {

  /** Every value `key` takes on `s` while `body` runs, read by a
    * second thread polling as fast as it can. */
  private def valuesSeen(s: SparkSession, key: String)(body: => Unit): Set[Option[String]] = {
    val seen = ConcurrentHashMap.newKeySet[Option[String]]()
    val done = new AtomicBoolean(false)
    val poller = new Thread(() => while (!done.get) seen.add(s.conf.getOption(key)))
    seen.add(s.conf.getOption(key))
    poller.start()
    try body finally { done.set(true); poller.join() }
    seen.add(s.conf.getOption(key))
    Set(seen.toArray(Array.empty[Option[String]]): _*)
  }

  test("an owned session carries its caller's runtime confs under its own overrides") {
    val caller = spark.newSession()
    caller.conf.set("spark.sql.session.timeZone", "America/Chicago")
    caller.conf.set(plans.MvRewrite.EnabledConf, "false")
    val owned = Sessions.own(caller, "spark.sql.shuffle.partitions" -> "3")
    assert(owned.conf.get("spark.sql.session.timeZone") === "America/Chicago")
    assert(owned.conf.get(plans.MvRewrite.EnabledConf) === "false")
    assert(owned.conf.get("spark.sql.shuffle.partitions") === "3")
    assert(caller.conf.get("spark.sql.shuffle.partitions") === "4")
  }

  test("a streaming registry key leaves its caller's shuffle width alone and streams at width 4") {
    val caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "7")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def runs = tmp.listFiles().filter(_.getName.startsWith("graft_stream_ss")).toSet
    val before = runs
    var rows = 0L
    val seen = valuesSeen(caller, "spark.sql.shuffle.partitions") {
      rows = SparkEntry.queries("stream_stratified_sample")(caller, "/root/testdata/sf0.001").count()
    }
    assert(rows > 0)
    assert(seen === Set(Some("7")))
    // the stream fixed its width in the checkpoint it created
    val ckpts = (runs -- before).toSeq.map(d => new java.io.File(d, "ckpt/offsets/0"))
    assert(ckpts.nonEmpty)
    ckpts.foreach { f =>
      val offsets = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      assert(offsets.contains("\"spark.sql.shuffle.partitions\":\"4\""), offsets)
    }
  }

  test("legacy TIMESTAMP(NANOS) events read as exact int64 nanos without touching the caller's conf") {
    val dir = tmpDir("legacy-events")
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |}""".stripMargin)
    val nanos = Seq(1705708800123456789L, 1705712400000000001L, 1705795199999999999L)
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ts, i) =>
      writer.write(rows.newGroup().append("event_id", i.toLong).append("ts", ts)
        .append("user_id", 7L).append("event_type", "view").append("value", 1.5))
    } finally writer.close()

    val caller = spark.newSession()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val initial = caller.conf.getOption(key)
    val seen = valuesSeen(caller, key) {
      (1 to 3).foreach { _ =>
        val raw = Tables.eventsRaw(caller, dir)
        assert(raw.schema("ts").dataType === LongType)
        assert(raw.orderBy("event_id").select("ts").collect().map(_.getLong(0)).toSeq === nanos)
        val ev = Tables.events(caller, dir)
        assert(ev.schema("ts").dataType === TimestampType)
        assert(ev.orderBy("event_id").select(unix_micros(col("ts"))).collect()
          .map(_.getLong(0)).toSeq === nanos.map(_ / 1000))
      }
    }
    assert(seen === Set(initial))
    assert(caller.conf.getOption(key) === initial)
  }
}
