package graft

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Batch ≡ incremental, as a property, for the six pair methods that
  * share Dedup's candidate core (n-gram Jaccard, MinHash-LSH, SimHash,
  * shared runs, embedding cosine, edit distance). On a generated
  * corpus with planted near-duplicates, split into an index part A and
  * a batch B whose ids sort above A's:
  *  - `XIncremental(index(A), B)` with intra-batch pairs equals
  *    `X(A ∪ B)` restricted to the pairs that touch B;
  *  - where no document-frequency cap bites, `X(A ∪ B)` is exactly
  *    `X(A) ⊎ XIncremental(index(A), B)` (rows compared as multisets,
  *    scores included).
  */
class DedupIncrementalPropertySpec extends SparkSuite {
  import spark.implicits._

  private val cut = 20L

  private val wordGen = Gen.oneOf((0 until 12).map(i => s"w$i"))
  private val textGen: Gen[Seq[String]] =
    Gen.chooseNum(5, 12).flatMap(n => Gen.listOfN(n, wordGen))

  /** One word replaced, one inserted, or an exact copy. */
  private def nearCopy(words: Seq[String]): Gen[Seq[String]] = for {
    i <- Gen.chooseNum(0, words.size - 1)
    w <- wordGen
    op <- Gen.chooseNum(0, 2)
  } yield op match {
    case 0 => words.updated(i, w)
    case 1 => words.patch(i, Seq(w), 0)
    case _ => words
  }

  /** `bases` originals plus `copies` near-copies of random originals,
    * shuffled so copies land in A, in B, and across the cut.
    */
  private def planted[T](base: Gen[T], copy: T => Gen[T],
                         bases: Int, copies: Int): Gen[Seq[T]] = for {
    originals <- Gen.listOfN(bases, base)
    picks <- Gen.listOfN(copies, Gen.chooseNum(0, bases - 1))
    derived <- picks.foldLeft(Gen.const(List.empty[T])) { (acc, p) =>
      acc.flatMap(l => copy(originals(p)).map(_ :: l))
    }
    keys <- Gen.listOfN(bases + copies, Gen.long)
  } yield (originals ++ derived).zip(keys).sortBy(_._2).map(_._1)

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private def docs(seed: Long): DataFrame =
    sample(planted(textGen, nearCopy, 14, 26), seed).map(_.mkString(" "))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))

  /** Checks both properties for one method and returns the full run;
    * `capFree` says whether the disjoint-union form applies (no df cap
    * can bite).
    */
  private def check(name: String, corpus: DataFrame, idCol: String,
                    full: DataFrame => DataFrame,
                    incr: (DataFrame, DataFrame) => DataFrame,
                    capFree: Boolean): Seq[Row] = {
    val a = corpus.filter(col(idCol) < cut)
    val b = corpus.filter(col(idCol) >= cut)
    val whole = rows(full(corpus))
    val inc = rows(incr(a, b))
    assert(inc === whole.filter(_.getLong(1) >= cut),
      s"$name: incremental ≠ full run on A ∪ B restricted to B")
    assert(inc.exists(_.getLong(0) < cut), s"$name: corpus planted no cross pair")
    assert(inc.exists(_.getLong(0) >= cut), s"$name: corpus planted no intra-batch pair")
    if (capFree)
      assert(whole === (rows(full(a)) ++ inc).sortBy(r => (r.getLong(0), r.getLong(1))),
        s"$name: full run on A ∪ B ≠ full run on A ⊎ incremental")
    Par.release()
    whole
  }

  test("n-gram Jaccard: incremental ≡ batch, with and without a biting df cap") {
    val corpus = docs(1)
    val Seq(uncapped, capped) = Seq(0, 6).map(cap =>
      check(s"ngramJaccard cap=$cap", corpus, "doc_id",
        Dedup.ngramJaccard(_, "doc_id", "text", n = 2, threshold = 0.5, maxDocFreq = cap),
        (a, b) => Dedup.ngramJaccardIncremental(
          Dedup.ngramIndexFrames(a, "doc_id", "text", n = 2, maxDocFreq = cap), b,
          "doc_id", "text", n = 2, threshold = 0.5, maxDocFreq = cap,
          includeIntraBatch = true),
        capFree = cap == 0))
    assert(capped !== uncapped, "the df cap changed no pair")
  }

  test("MinHash-LSH and SimHash: incremental ≡ batch") {
    val corpus = docs(2)
    check("minHashLsh", corpus, "doc_id",
      Dedup.minHashLsh(_, "doc_id", "text", n = 2, numHashes = 16, bands = 8,
        threshold = 0.4),
      (a, b) => {
        val (sh, banded) = Dedup.minHashIndexFrames(a, "doc_id", "text",
          n = 2, numHashes = 16, bands = 8)
        Dedup.minHashLshIncremental(sh, banded, b, "doc_id", "text", n = 2,
          numHashes = 16, bands = 8, threshold = 0.4, includeIntraBatch = true)
      }, capFree = true)
    check("simHash", corpus, "doc_id",
      Dedup.simHash(_, "doc_id", "text", n = 2, maxHamming = 7),
      (a, b) => Dedup.simHashIncremental(
        Dedup.simHashIndexFrame(a, "doc_id", "text", n = 2, maxHamming = 7), b,
        "doc_id", "text", n = 2, maxHamming = 7, includeIntraBatch = true),
      capFree = true)
  }

  test("shared runs: incremental ≡ batch, with and without a biting df cap") {
    val corpus = docs(3)
    val Seq(uncapped, capped) = Seq(1000, 4).map(cap =>
      check(s"sharedRuns cap=$cap", corpus, "doc_id",
        Dedup.sharedRuns(_, "doc_id", "text", k = 3, w = 2, minShared = 1,
          maxDocFreq = cap),
        (a, b) => Dedup.sharedRunsIncremental(
          Dedup.sharedRunsIndexFrame(a, "doc_id", "text", k = 3, w = 2), b,
          "doc_id", "text", k = 3, w = 2, minShared = 1, maxDocFreq = cap),
        capFree = cap == 1000))
    assert(capped !== uncapped, "the df cap changed no pair")
  }

  test("embedding cosine and edit distance: incremental ≡ batch") {
    // 512 dims: the LSH hyperplanes' width
    val vecGen = Gen.listOfN(512, Gen.choose(-1.0, 1.0))
    def noisy(v: List[Double]) =
      Gen.listOfN(v.size, Gen.choose(-0.1, 0.1)).map(_.zip(v).map(p => p._1 + p._2))
    val embs = sample(planted(vecGen, noisy, 12, 26), 4)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
    check("embeddingCosine", embs, "vec_id",
      Dedup.embeddingCosine(_, "vec_id", "embedding", threshold = 0.9,
        planes = 3, tables = 4),
      (a, b) => {
        val (vecs, keys) = Dedup.embeddingIndexFrames(a, "vec_id", "embedding",
          planes = 3, tables = 4)
        Dedup.embeddingCosineIncremental(vecs, keys, b, "vec_id", "embedding",
          threshold = 0.9, planes = 3, tables = 4, includeIntraBatch = true)
      }, capFree = true)
    // short strings over a 3-letter alphabet, so the sub-segment band
    // (len < maxDist + 1) pairs too
    val strGen = Gen.chooseNum(0, 7).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')))
      .map(_.mkString)
    def edited(s: String) = for {
      i <- Gen.chooseNum(0, s.length)
      c <- Gen.oneOf('a', 'b', 'c')
    } yield s.patch(i, c.toString, if (s.isEmpty) 0 else 1)
    val strs = sample(planted(strGen, edited, 14, 26), 5)
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
    for (d <- Seq(1, 2)) check(s"editDistance d=$d", strs, "doc_id",
      Dedup.editDistance(_, "doc_id", "text", d),
      (a, b) => Dedup.editDistanceIncremental(
        Dedup.editIndexFrames(a, "doc_id", "text", d), b, "doc_id", "text", d),
      capFree = true)
  }
}
