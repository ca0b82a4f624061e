package graft.operators

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase.spark

/** Hot-bucket guard of the banded near-dup joins: exact-duplicate skew —
  * thousands of rows sharing one signature (identical logos, boilerplate
  * pages) — must not make one (band, key) bucket O(n) and the self-join
  * O(n^2) per band. [[Dedup.bandedPairs]] bands distinct signatures only
  * and reconstructs member pairs with output-bounded joins; these specs
  * pin (a) exact equality of the pair set against a brute-force oracle on
  * a mixed near/exact-dup corpus, and (b) completion with the brute-force
  * pair set on exact-dup plants: 10k equal 64-bit hashes for the Hamming
  * callers, and 2,000 identical documents for both MinHash callers, where
  * a per-row banding builds a 2,000-deep bucket in every band.
  */
class HotBucketSpec extends AnyFunSuite {
  import spark.implicits._

  /** The Hamming callers' use of the kernel: 4x16-bit bands, verified. */
  private def hammingPairs(df: DataFrame, id: String, h: String,
      maxHamming: Int, extraKeys: Seq[String] = Nil): DataFrame =
    Dedup.bandedPairs(df, id, h, Dedup.hammingBands, 1, extraKeys)
      .withColumn("hamming", Dedup.hamming)
      .filter(col("hamming") <= maxHamming)

  private def bruteForce(rows: Seq[(Long, Long)], maxHamming: Int)
      : Set[(Long, Long, Int)] =
    (for {
      (ia, ha) <- rows.iterator
      (ib, hb) <- rows.iterator
      if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb)
      // banding recall: structural only within 3 bits (4 bands); the
      // corpus below places every pair either <= 3 or >= 20 bits apart
      if d <= maxHamming
    } yield (ia, ib, d)).toSet

  test("banded Hamming pairs equal brute force on mixed exact/near dups") {
    // 3 exact-dup families (sizes 5, 3, 2), 2 near-dup pairs (1-3 bits),
    // a few singletons far from everything
    val base = Seq(
      0x0123456789ABCDEFL, 0x00FF00FF00FF00FFL, 0x7777777777777777L,
      0x1111222233334444L, 0x5A5A5A5A5A5A5A5AL)
    val rows: Seq[(Long, Long)] =
      (0L until 5L).map(i => (i, base(0))) ++
        (5L until 8L).map(i => (i, base(1))) ++
        (8L until 10L).map(i => (i, base(2))) ++
        Seq(
          (10L, base(3)), (11L, base(3) ^ 1L), // hamming 1
          (12L, base(4)), (13L, base(4) ^ 0x7L), // hamming 3
          (14L, 0xDEADBEEF12345678L), (15L, 0x0F0F0F0F0F0F0F0FL))
    val df = rows.toDF("id", "h")
    val got = hammingPairs(df, "id", "h", maxHamming = 3)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === bruteForce(rows, 3))
  }

  test("video-shaped variant (extraKeys) pairs only frame-aligned hashes") {
    // two 2-frame videos identical per frame, one video whose frame 0
    // matches video 0's frame 1 (must NOT pair: wrong alignment)
    val rows = Seq(
      (0L, 0, 0x1111L), (0L, 1, 0x2222L),
      (1L, 0, 0x1111L), (1L, 1, 0x2222L),
      (2L, 0, 0x2222L), (2L, 1, 0x9999999999999999L))
    val df = rows.toDF("vid", "frame_idx", "ph")
    val got = hammingPairs(df, "vid", "ph", maxHamming = 3,
      extraKeys = Seq("frame_idx"))
      .select("id_a", "id_b", "frame_idx", "hamming")
      .as[(Long, Long, Int, Int)].collect().toSet
    assert(got === Set((0L, 1L, 0, 0), (0L, 1L, 1, 0)))
  }

  test("10k exact duplicates complete with output-bounded pair mass") {
    // one family of 10_000 identical hashes plus 1_000 distinct rows:
    // the banded join input is 1_001 distinct hashes (not 11_000 rows x
    // 4 bands with one 10k-deep bucket); output = C(10k, 2) intra pairs
    val n = 10000L
    val dupes = spark.range(n).select(col("id"),
      lit(0x5555AAAA5555AAAAL).as("h"))
    val uniques = spark.range(n, n + 1000L).select(col("id"),
      xxhash64(col("id")).as("h"))
    val cnt = hammingPairs(dupes.unionByName(uniques),
      "id", "h", maxHamming = 3).count()
    // expected: all intra pairs of the dup family; the random 64-bit
    // hashes sit far apart (w.h.p. > 3 bits) and contribute nothing
    assert(cnt === n * (n - 1) / 2)
  }

  /** Runs `body` on a corpus directory holding only `documents.parquet`:
    * `family` identical documents (ids 0 until family, one source)
    * followed by `others` documents with pairwise-disjoint vocabularies in
    * the same source. The file holds only (doc_id, source, text): read
    * through `Tables.read`, the pinned `lang` and `n_chars` columns read as
    * null, and the pair queries run here read neither.
    */
  private def withExactDupCorpus(family: Int, others: Int)(
      body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("hotbucket")
    try {
      val boiler = (0 until 12).map(k => s"boiler$k").mkString(" ")
      spark.range(family + others).map { i =>
        val text = if (i < family) boiler
          else (0 until 12).map(k => s"u${i}t$k").mkString(" ")
        (i, "s0", text)
      }.toDF("doc_id", "source", "text")
        .write.parquet(s"$dir/documents.parquet")
      body(dir.toString)
    } finally {
      val paths = Files.walk(dir)
      try paths.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.delete(p))
      finally paths.close()
    }
  }

  /** Pairs `got` (doc_a, doc_b, jaccard) equal the brute-force pairs of
    * the corpus above, the C(n, 2) pairs of ids 0 until n at Jaccard 1:
    * every row lies inside the family and is ordered, and there are
    * C(n, 2) rows, all distinct. One action.
    */
  private def assertFamilyPairs(got: DataFrame, n: Long): Unit = {
    val r = got.agg(count(lit(1)), countDistinct(col("doc_a"), col("doc_b")),
      count(when(col("doc_b") >= n || col("doc_a") >= col("doc_b"), 1)),
      min(col("jaccard"))).head()
    val all = n * (n - 1) / 2
    assert(r.getLong(2) === 0, "a pair outside the exact-duplicate family")
    assert((r.getLong(0), r.getLong(1)) === ((all, all)))
    assert(r.getDouble(3) === 1.0)
  }

  test("jaccard pairs of 2,000 identical documents equal brute force") {
    withExactDupCorpus(2000, 300) { dir =>
      assertFamilyPairs(TextOps.jaccardPairs(spark, dir), 2000)
    }
  }

  test("minhash pairs of 2,000 identical documents equal brute force") {
    withExactDupCorpus(2000, 300) { dir =>
      assertFamilyPairs(Dedup.minHashPairs(spark, dir, numHashes = 32,
        bands = 32, minBandMatches = 2), 2000)
    }
  }
}
