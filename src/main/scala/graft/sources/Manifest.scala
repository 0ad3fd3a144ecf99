package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one manifest mechanism behind graft's file tables ([[Staging]],
  * [[Versioned]], [[VersionedGroup]]): a manifest is a small JSON
  * object, written to a temporary name beside its target and renamed
  * into place, so readers see all of it or nothing. A name that
  * already exists is never replaced: claiming it is the
  * compare-and-swap that serializes committers. The CAS is as strong
  * as the filesystem's rename: HDFS refuses an existing destination
  * (a true CAS); the local FS narrows but cannot fully close the
  * window (POSIX rename overwrites); object stores need their
  * committer.
  */
private[sources] object Manifest {

  private val json = new ObjectMapper()

  /** Claims a commit may lose to racing committers before it fails. */
  val Attempts = 10

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def obj(): ObjectNode = json.createObjectNode()

  /** `<prefix><v>.json`, zero-padded so names sort by version. */
  def name(prefix: String, v: Int): String = f"$prefix$v%08d.json"

  /** Atomically create `target` holding `m`; false (and nothing
    * written) when `target` already exists. A rename that fails with
    * no target in place is an I/O failure, not a lost race. */
  def write(f: FileSystem, target: Path, m: ObjectNode): Boolean = {
    f.mkdirs(target.getParent)
    if (f.exists(target)) return false
    val tmp = new Path(target.getParent, s".tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(json.writeValueAsBytes(m)) finally out.close()
    val won = !f.exists(target) && f.rename(tmp, target)
    if (!won) {
      f.delete(tmp, false)
      if (!f.exists(target)) throw new java.io.IOException(s"could not commit $target")
    }
    won
  }

  def read(f: FileSystem, p: Path): JsonNode = {
    val in = f.open(p)
    try json.readTree(in) finally in.close()
  }

  /** Highest committed version among `dir/<prefix><v>.json`, 0 if none. */
  def latest(f: FileSystem, dir: Path, prefix: String): Int =
    if (!f.exists(dir)) 0
    else f.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && n.endsWith(".json"))
      .map(n => n.stripPrefix(prefix).stripSuffix(".json").toInt)
      .foldLeft(0)(math.max)

  /** Commit the next version under `dir`: read the head, build its
    * successor's manifest with `next(head)` and claim `head + 1`. A
    * lost claim means another writer committed meanwhile: `lost`
    * cleans up the attempt and `next` runs again against the new head.
    * Returns the committed version; throws after [[Attempts]] losses.
    */
  def commitNext(f: FileSystem, dir: Path, prefix: String,
                 lost: () => Unit = () => ())(next: Int => ObjectNode): Int = {
    var attempt = 0
    while (attempt < Attempts) {
      val head = latest(f, dir, prefix)
      if (write(f, new Path(dir, name(prefix, head + 1)), next(head))) return head + 1
      lost()
      attempt += 1
    }
    throw new IllegalStateException(s"lost the version race $Attempts times at $dir")
  }
}
