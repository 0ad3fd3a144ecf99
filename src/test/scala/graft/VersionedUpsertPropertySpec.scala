package graft

import scala.collection.mutable.ArrayBuffer

import graft.operators.Cdc
import graft.sources.Versioned
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Delta-segment upserts ≡ copy-on-write, as a property. A generated
  * history of upserts, appends, replaces, compactions and restores runs
  * against a [[Versioned]] table and, beside it, against an in-memory
  * model that folds the same history with [[Cdc.upsert]] (an upsert)
  * and union (an append): the copy-on-write table an upsert rewrote
  * whole. Every committed version must read, by time travel after the
  * history, as the model's state at that point.
  *
  * Upsert batches carry in-batch duplicate keys, tracking ties broken
  * by a tie-break column, a column the table lacks, and a shuffled
  * column order; their sizes cross the fold ratio both ways, so the
  * history holds versions with a delta, deltas merged into deltas, and
  * folds.
  */
class VersionedUpsertPropertySpec extends SparkSuite {
  import spark.implicits._

  /** (k, v, ver, tb): key, payload, tracking column, tie-break. */
  private type R = (Long, String, Long, Long)

  private sealed trait Op
  private final case class Upsert(rows: Seq[R]) extends Op
  private final case class Append(rows: Seq[R]) extends Op
  private final case class Replace(rows: Seq[R]) extends Op
  private case object Compact extends Op
  /** Restore to version `head - back % head`: a recent one, so often
    * one with a delta. */
  private final case class Restore(back: Int) extends Op

  private val rowGen: Gen[R] = for {
    k <- Gen.chooseNum(0L, 44L)
    v <- Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString)
    ver <- Gen.chooseNum(0L, 3L)
    tb <- Gen.chooseNum(0L, 2L)
  } yield (k, v, ver, tb)

  /** `n` rows, one per (k, ver, tb), so latest-per-key has one winner. */
  private def rows(n: Gen[Int]): Gen[Seq[R]] =
    n.flatMap(Gen.listOfN(_, rowGen)).map(_.distinctBy(r => (r._1, r._3, r._4)))

  private val smallUpsert: Gen[Op] = rows(Gen.chooseNum(1, 4)).map(Upsert(_))

  private val opGen: Gen[Op] = Gen.frequency(
    2 -> smallUpsert,
    2 -> rows(Gen.chooseNum(8, 16)).map(Upsert(_)),
    2 -> rows(Gen.chooseNum(1, 3)).map(Append(_)),
    1 -> rows(Gen.chooseNum(20, 30)).map(Replace(_)),
    1 -> Gen.const(Compact),
    2 -> Gen.chooseNum(0, 3).map(Restore(_)))

  /** Every other op is a small upsert, so the op after it mostly meets a
    * head with a delta. */
  private def history(pairs: Int): Gen[Seq[Op]] =
    Gen.listOfN(pairs, Gen.zip(smallUpsert, opGen)).map(_.flatMap(p => Seq(p._1, p._2)))

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private def table(rs: Seq[R]): DataFrame = rs.toDF("k", "v", "ver", "tb")

  private def collected(df: DataFrame): Seq[R] =
    df.select("k", "v", "ver", "tb").as[R].collect().toSeq.sorted

  private def hasDelta(dir: String, v: Int): Boolean =
    !new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(dir, f"_versions/v$v%08d.json")).path("delta").isMissingNode

  test("every version of a generated upsert/append/replace/compact/restore history reads as copy-on-write") {
    // every version is checked once, by time travel after the history:
    // the same manifest the head read would resolve right after its commit
    var deltas, folds, deltaAppends, deltaRestores = 0
    for (seed <- 1L to 3L) {
      val dir = tmpDir("ver-prop") + "/t"
      // bootstrapped by an upsert, whose base rows are counted
      val seedRows = table(sample(rows(Gen.const(30)), seed * 100))
      val states = ArrayBuffer[Seq[R]](Nil,
        collected(Cdc.dedupLatestPerKey(seedRows, Seq("k"), "ver", Seq("tb"))))
      assert(Versioned.upsert(seedRows, dir, Seq("k"), "ver", Seq("tb")) === 1)
      val ops = sample(history(5), seed)
      for ((op, i) <- ops.zipWithIndex) {
        val head = states.size - 1
        val model = op match {
          case Upsert(rs) =>
            val batch = table(rs).withColumn("extra", lit(i))
              .select("extra", "tb", "k", "v", "ver")
            assert(Versioned.upsert(batch, dir, Seq("k"), "ver", Seq("tb")) === head + 1)
            if (hasDelta(dir, head + 1)) deltas += 1
            else if (hasDelta(dir, head)) folds += 1
            collected(Cdc.upsert(table(states(head)), batch, Seq("k"), "ver", Seq("tb")))
          case Append(rs) =>
            assert(Versioned.commit(table(rs), dir) === head + 1)
            if (hasDelta(dir, head)) deltaAppends += 1
            (states(head) ++ rs).sorted
          case Replace(rs) =>
            assert(Versioned.commit(table(rs), dir, replace = true) === head + 1)
            rs.sorted
          case Compact =>
            assert(Versioned.compact(spark, dir) === head + 1)
            states(head)
          case Restore(back) =>
            val to = head - back % head
            assert(Versioned.restore(spark, dir, to) === head + 1)
            if (hasDelta(dir, to)) deltaRestores += 1
            states(to)
        }
        states += model
      }
      for (v <- 1 until states.size)
        assert(collected(Versioned.read(spark, dir, Some(v))) === states(v),
          s"seed $seed: v$v, after ${ops.lift(v - 2).getOrElse("the bootstrap")}")
    }
    assert(deltas > 0 && folds > 0 && deltaAppends > 0 && deltaRestores > 0,
      s"the history wrote $deltas deltas and $folds folds, appended onto $deltaAppends " +
        s"and restored $deltaRestores versions with a delta")
  }
}
