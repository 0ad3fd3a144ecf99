package graft

import scala.jdk.CollectionConverters._

import graft.sources.{Sink, Staging, Versioned}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._

/** Every batch Parquet table graft lands goes through the one
  * `graft.sources.ParquetWriter`: its data files are zstd by their
  * footers, older snappy files still read, and no second Parquet write
  * path exists in the library's packages. */
class ParquetWriterSpec extends SparkSuite {
  import spark.implicits._

  private def batch(n: Int) =
    (1 to n).map(i => (i.toLong, i % 3L, s"v$i")).toDF("k", "ver", "v")
  private def updates(keys: Range, ver: Long) =
    keys.map(i => (i.toLong, ver, s"u$i")).toDF("k", "ver", "v")

  /** The data files under `dir`, any depth; `_`- and `.`-prefixed
    * names are metadata and checksums, not data. */
  private def dataFiles(dir: String): Seq[Path] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    val out = Seq.newBuilder[Path]
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet") && p.getName.startsWith("part-")) out += p
    }
    out.result()
  }

  /** The codecs a Parquet file's footer names for its column chunks. */
  private def codecs(p: Path): Set[CompressionCodecName] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(p, spark.sparkContext.hadoopConfiguration))
    try reader.getFooter.getBlocks.asScala
      .flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
    finally reader.close()
  }

  private def assertZstd(dir: String, atLeast: Int): Unit = {
    val files = dataFiles(dir)
    assert(files.size >= atLeast, s"expected at least $atLeast data files under $dir")
    files.foreach(f => assert(codecs(f) === Set(CompressionCodecName.ZSTD), f.toString))
  }

  test("Versioned commit, upsert delta, fold and compact, Staging.stage and a Sink writer land zstd") {
    val dir = tmpDir("zstd-ver") + "/t"
    Versioned.upsert(batch(40), dir, Seq("k"), "ver") // bootstrap: a counted base
    Versioned.upsert(updates(1 to 3, 9L), dir, Seq("k"), "ver") // a delta
    Versioned.upsert(updates(1 to 20, 10L), dir, Seq("k"), "ver") // past the fold ratio
    Versioned.commit(updates(41 to 45, 1L), dir) // an append
    Versioned.compact(spark, dir)
    Versioned.writeStats(spark, dir, Seq("k"))
    // bootstrap, delta, fold, append and compact segments; the fold's
    // own delta is dropped
    assert(dataFiles(dir).map(_.getParent.getName).filter(_.startsWith("d-")).distinct.size === 5)
    assertZstd(dir, atLeast = 6)
    assert(Versioned.read(spark, dir).count() === 45)
    assert(Versioned.read(spark, dir).filter(col("ver") === 10L).count() === 20)

    val staging = tmpDir("zstd-stage")
    Staging.stage(batch(20), staging, "b1", trackingCol = Some("ver"))
    assertZstd(staging, atLeast = 1)

    val sink = tmpDir("zstd-sink") + "/t"
    assert(Sink.clusteredWrite(batch(60), sink, Seq("k"), numFiles = 3) === 3)
    Sink.writeFileStats(spark, sink, Seq("k"))
    assertZstd(sink, atLeast = 4)
  }

  test("a Versioned table whose older segment is snappy reads, appends and upserts as before") {
    val dir = tmpDir("zstd-mixed") + "/t"
    Versioned.commit(batch(30), dir, replace = true)
    // rewrite v1's one segment as Spark's default snappy, the way a
    // table committed before the one writer holds it
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seg = dataFiles(dir).head.getParent
    val snappy = new Path(dir, "snappy")
    spark.read.parquet(seg.toString).write.option("compression", "snappy").parquet(snappy.toString)
    assert(fs.delete(seg, true) && fs.rename(snappy, seg))
    assert(dataFiles(dir).flatMap(codecs).toSet === Set(CompressionCodecName.SNAPPY))

    Versioned.commit(updates(101 to 105, 1L), dir)
    assert(Versioned.read(spark, dir).count() === 35) // snappy and zstd segments
    Versioned.upsert(updates(1 to 2, 9L), dir, Seq("k"), "ver")
    assert(dataFiles(dir).flatMap(codecs).toSet ===
      Set(CompressionCodecName.SNAPPY, CompressionCodecName.ZSTD))
    val rows = Versioned.read(spark, dir)
    assert(rows.count() === 35)
    assert(rows.filter(col("ver") === 9L).count() === 2)
    assert(Versioned.read(spark, dir, Some(1)).count() === 30)
  }

  // JDBC writes, `writeStream` sinks and the spark.ml model save land
  // no Parquet table; everything else writes through the one writer
  test("graft's library packages land Parquet only through the one writer") {
    val write = """\.write\b(?!\s*\()""".r
    val terminal = """\.(parquet|jdbc|save|saveAsTable|insertInto|orc|csv|json|text)\(""".r
    def offending(text: String): Seq[String] = {
      val code = text.linesIterator.filterNot { l =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }.mkString("\n")
      write.findAllMatchIn(code).toSeq.flatMap { m =>
        val rest = code.substring(m.end)
        val sink = terminal.findFirstMatchIn(rest)
        val allowed = sink.exists(_.group(1) == "jdbc") ||
          code.substring(0, m.start).endsWith("model") && rest.startsWith(".overwrite().save(")
        if (allowed) None else Some(code.substring(m.start, m.end + rest.indexOf('\n').max(0)))
      }
    }
    // the scan catches a plain Parquet write and lets a JDBC one through
    assert(offending("    df.write.mode(SaveMode.Overwrite)\n      .parquet(path)").size === 1)
    assert(offending("    df.coalesce(1).write.option(\"a\", \"b\").parquet(p)\n").size === 1)
    assert(offending("    df.write.mode(SaveMode.Append).jdbc(url, t, props)\n").isEmpty)

    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root),
      s"src/main missing from the test working dir: ${root.toAbsolutePath}")
    val hits = Seq("sources", "pipeline", "operators", "streaming").flatMap { pkg =>
      java.nio.file.Files.walk(root.resolve(pkg)).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "ParquetWriter.scala")
        .flatMap(p => offending(java.nio.file.Files.readString(p)).map(s => s"${root.relativize(p)}: $s"))
    }
    assert(hits === Seq.empty, s"Parquet writes outside graft.sources.ParquetWriter: ${hits.mkString("; ")}")
  }
}
