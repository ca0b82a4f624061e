package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.{sfDir, spark}
import graft.core.XxHash64

/** Specs for the operators whose semantics the DuckDB oracle cannot
  * express: hash-key parity, MinHash/SimHash near-dup pipelines (checked
  * against brute-force computed in-memory), LSH ANN recall vs the exact
  * top-k, language ID, fingerprints.
  */
class OperatorsSpec extends AnyFunSuite {

  test("Urls.urlHash is bit-identical to the xxhash64() column") {
    import spark.implicits._
    val urls = Seq("http://a.com/", "https://x.y.z/p?q=1",
      "http://www.test-7.example/page3.html")
    val fromCol = urls.toDF("u").select(xxhash64(col("u"))).as[Long].collect()
    val fromScala = urls.map(u => XxHash64.hashUtf8(u, 42L))
    assert(fromCol.toSeq === fromScala)
  }

  test("minhash pairs match brute-force jaccard over the corpus") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val threshold = 0.5
    val brute = (for {
      (ia, ta) <- docs
      (ib, tb) <- docs if ia < ib
      j = Dedup.jaccard(Dedup.shingles(ta), Dedup.shingles(tb))
      if j >= threshold
    } yield (ia, ib)).toSet

    val got = Dedup.minHashPairs(spark, sfDir, threshold = threshold)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet

    // every reported pair is truly >= threshold (exact-verify stage => no FPs)
    assert(got.subsetOf(brute),
      s"false positives: ${got.diff(brute).take(5)}")
    // banding recall: with 8 bands x 4 rows at j>=0.5 expected recall is
    // >= 1-(1-0.5^4)^8 ~ 0.40 per pair; on this corpus demand >= 50% overall
    // and exact recall of clear dups (j >= 0.8)
    if (brute.nonEmpty) {
      assert(got.size * 2 >= brute.size,
        s"recall too low: ${got.size}/${brute.size}")
    }
    val clear = (for {
      (ia, ta) <- docs
      (ib, tb) <- docs if ia < ib
      j = Dedup.jaccard(Dedup.shingles(ta), Dedup.shingles(tb))
      if j >= 0.9
    } yield (ia, ib)).toSet
    assert(clear.subsetOf(got),
      s"missed clear dup: ${clear.diff(got).take(5)}")
  }

  test("jaccard banding: candidates bounded on a skewed one-source fixture; " +
    "output equals brute force on the corpus") {
    import spark.implicits._
    // SKEW fixture: one source, pairwise-disjoint vocabularies. Blocking on
    // `source` alone (the round-2 shape) would make every one of
    // n*(n-1)/2 = 124750 pairs a candidate; MinHash band keys admit only
    // hash-accident collisions.
    val n = 500
    val fixture = spark.range(n).map { i =>
      (i, "s0", (0 until 8).map(k => s"w${i}x$k"))
    }.toDF("doc_id", "source", "toks")
    // the candidate stage of q_jaccard_pairs: 96 single-hash bands over
    // the token set, gated on 2 matches within a source
    val cand = Dedup.bandedPairs(
      fixture.withColumn("sig", TextOps.tokenSignature(col("toks"), 96)),
      "doc_id", "sig", identity, 2, Seq("source")).count()
    assert(cand <= n / 10, s"candidate explosion on disjoint docs: $cand")

    // correctness: banded output == brute-force within-source pairs
    // (per-pair miss probability at j>=0.2 is <= 1.2e-8 with 2-of-96)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "text")
      .as[(Long, String, String)].collect()
      .map { case (id, src, t) =>
        (id, src, t.split(" ").filter(_.nonEmpty).distinct.toSet)
      }
    val brute = (for {
      (ia, sa, ta) <- docs
      (ib, sb, tb) <- docs if ia < ib && sa == sb
      j = ta.intersect(tb).size.toDouble / ta.union(tb).size
      if BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP) >= 0.2
    } yield (ia, ib)).toSet
    val got = TextOps.jaccardPairs(spark, sfDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got === brute,
      s"missed: ${brute.diff(got).take(3)} extra: ${got.diff(brute).take(3)}")
  }

  test("simhash pairs: identical docs collide, reported pairs within hamming") {
    import spark.implicits._
    val pairs = Dedup.simHashPairs(spark, sfDir, maxHamming = 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect()
    pairs.foreach { case (_, _, h) => assert(h <= 3) }
    // self-check of the pure function
    assert(Dedup.simHash("a b c d") === Dedup.simHash("a b c d"))
    assert(java.lang.Long.bitCount(
      Dedup.simHash("the quick brown fox jumps over a lazy dog") ^
        Dedup.simHash("the quick brown fox jumps over a lazy cat")) <= 24)
  }

  test("LSH cosine top-k achieves >=40% recall of exact top-k") {
    import spark.implicits._
    val exact = SimilarityOps.cosineTopK(spark, sfDir)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = SimilarityOps.cosineTopKLsh(spark, sfDir)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"LSH recall $recall")
    // approx similarities must be genuine (subset of the scored universe,
    // never higher than the exact #1)
    assert(approx.forall { case (q, _) => q < 10 })
  }

  test("IVF top-k: adaptive cells beat LSH recall at equal budget; " +
    "deterministic") {
    import spark.implicits._
    val exact = SimilarityOps.cosineTopK(spark, sfDir)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = SimilarityOps.cosineTopKIvf(spark, sfDir)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    // the synthetic embeddings are cluster-structured — the adaptive
    // quantizer should recover most of the exact top-k with 4/16 cells
    assert(recall >= 0.5, s"IVF recall $recall")
    // deterministic end to end (sample order, seeding, Lloyd rounds)
    val again = SimilarityOps.cosineTopKIvf(spark, sfDir)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(again === ivf)
  }

  test("IVF-PQ top-k: 32x-compressed codes + ADC + exact rerank keep " +
    "recall; reported sims are EXACT; deterministic") {
    import spark.implicits._
    val exact = SimilarityOps.cosineTopK(spark, sfDir)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val pq = SimilarityOps.cosineTopKPq(spark, sfDir)
    val pqSet = pq.select("query_id", "vec_id").as[(Long, Long)]
      .collect().toSet
    val recall = exact.intersect(pqSet).size.toDouble / exact.size
    // candidate generation = the IVF cells; ADC ordering + 4x rerank
    // should not lose much vs plain IVF's >=0.5 gate
    assert(recall >= 0.5, s"IVF-PQ recall $recall")
    // the reported similarity is the EXACT rounded cosine, not the ADC
    // (or bucket) approximation: every emitted PQ, IVF and LSH row is
    // checked against an in-test cosine rounded HALF_UP like SQL round()
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    def roundedCosine(a: Long, b: Long): Double = {
      val (va, vb) = (vecs(a), vecs(b))
      val dot = va.indices.foldLeft(0.0)((s, i) => s + va(i) * vb(i))
      val na = math.sqrt(va.foldLeft(0.0)((s, x) => s + x * x))
      val nb = math.sqrt(vb.foldLeft(0.0)((s, x) => s + x * x))
      BigDecimal(dot / (na * nb))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    Seq("pq" -> pq, "ivf" -> SimilarityOps.cosineTopKIvf(spark, sfDir),
      "lsh" -> SimilarityOps.cosineTopKLsh(spark, sfDir)).foreach {
      case (name, df) =>
        val rows = df.select("query_id", "vec_id", "sim")
          .as[(Long, Long, Double)].collect()
        assert(rows.nonEmpty, s"$name emitted no rows")
        rows.foreach { case (q, v, s) =>
          val es = roundedCosine(q, v)
          assert(math.abs(es - s) < 1e-9, s"$name sim mismatch at ($q,$v)")
        }
    }
    val again = SimilarityOps.cosineTopKPq(spark, sfDir)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(again === pqSet)
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    import spark.implicits._
    // max pairwise cosine in the synthetic embeddings is ~0.51; 0.3
    // yields a real (non-empty) result the assertions can bite on
    val rows = SimilarityOps.embeddingNearDup(spark, sfDir, threshold = 0.3)
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, s) =>
      assert(a < b)
      assert(s >= 0.3)
    }
  }

  test("embeddingNearDupExact equals in-test brute force; LSH variant is " +
    "a subset with measured recall") {
    import spark.implicits._
    val exact = SimilarityOps.embeddingNearDupExact(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSet
    // in-test brute force (independent arithmetic path)
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      .sortBy(_._1).take(2000)
      .map { case (id, v) => (id, v.map(_.toDouble)) }
    val expected = (for {
      i <- vecs.indices.iterator
      j <- (i + 1) until vecs.length
      (ia, va) = vecs(i)
      (ib, vb) = vecs(j)
      dot = va.zip(vb).map { case (x, y) => x * y }.sum
      na = math.sqrt(va.map(x => x * x).sum)
      nb = math.sqrt(vb.map(x => x * x).sum)
      sim = math.rint(dot / (na * nb) * 1e4) / 1e4
      if sim >= 0.35
    } yield (ia, ib, sim)).toSet
    assert(exact.map(p => (p._1, p._2)) === expected.map(p => (p._1, p._2)))
    exact.foreach { case (a, b, s) =>
      val es = expected.find(e => e._1 == a && e._2 == b).get._3
      assert(math.abs(s - es) < 1e-9, s"sim drift at ($a,$b)")
    }
    // LSH variant: strict subset (every emitted pair is a true pair) with
    // recall reported — borderline-sim pairs are exactly where LSH loses
    val lsh = SimilarityOps.embeddingNearDup(spark, sfDir)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    val exactKeys = exact.map(p => (p._1, p._2))
    assert(lsh.subsetOf(exactKeys), "LSH emitted a non-pair")
    val recall = lsh.size.toDouble / exactKeys.size
    assert(recall > 0.5, f"LSH recall collapsed: $recall%.2f")
  }

  test("hot-bucket cap: bounded pair work, graceful split, connectivity") {
    // splittable skew: directionally-spread vectors -> recursive
    // hyperplane splits partition the bucket with no duplication
    val dim = 8
    val spread = Array.tabulate(1024) { i =>
      SimilarityOps.VecBucket(0, 0L, i.toLong,
        Array.tabulate(dim) { d =>
          val h = XxHash64.hashLong(i.toLong * 31 + d, 5L)
          h.toDouble / Long.MaxValue
        }, 1.0)
    }
    val splitGroups = SimilarityOps.capBuckets(spread, 256).toArray
    assert(splitGroups.forall(_.length <= 256))
    assert(splitGroups.map(_.length).sum === 1024) // split is a partition

    // degenerate skew: identical vectors no hyperplane separates ->
    // overlapping windows; work stays O(N*cap), ids all covered, and the
    // window overlap chains them into one component
    val same = Array.tabulate(3000)(i => SimilarityOps.VecBucket(0, 0L,
      i.toLong, Array.fill(dim)(1.0), math.sqrt(dim.toDouble)))
    val win = SimilarityOps.capBuckets(same, 256).toArray
    assert(win.forall(_.length <= 256))
    val work = win.map(g => g.length.toLong * g.length).sum
    assert(work <= 3000L * 256 * 4, s"unbounded pair work: $work")
    assert(win.flatMap(_.map(_.vecId)).toSet.size === 3000)
    // adjacent windows overlap (stride cap/2) => transitive connectivity
    val sortedWin = win.map(_.map(_.vecId).toSet).sortBy(_.min)
    sortedWin.sliding(2).foreach {
      case Array(a, b) => assert(a.intersect(b).nonEmpty)
      case _ =>
    }
  }

  test("embedding near-dup completes bounded on a one-cluster skewed set") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("skew-emb").toString
    // 1500 near-identical vectors: every LSH table puts them in ONE bucket
    spark.range(1500).map { i =>
      (i, Array.tabulate(64)(d => 1.0f + (i % 5) * 1e-4f + d * 0f), 0)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val pairs = SimilarityOps.embeddingNearDup(spark, dir, threshold = 0.9,
      bucketCap = 128).as[(Long, Long, Double)].collect()
    // bounded at ~N*cap window pairs (vs N^2/2 = 1.1M all-pairs), with
    // full coverage — every vector appears in at least one near-dup pair
    assert(pairs.length <= 1500 * 128, s"pair explosion: ${pairs.length}")
    val covered = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(covered.size === 1500)
  }

  test("langid: deterministic and sane on constructed texts") {
    assert(TextOps.detectLang("the cat and the hat is in the house") === "en")
    assert(TextOps.detectLang("der hund und die katze ist nicht da") === "de")
    assert(TextOps.detectLang("le chat est dans la maison et pas dehors") === "fr")
    assert(TextOps.detectLang("el gato es una mascota para la casa") === "es")
    assert(TextOps.detectLang("这是一个中文句子") === "zh")
    assert(TextOps.detectLang("") === "und")
    assert(TextOps.detectLang("zzz qqq xxx") === "und")
    // full corpus runs without error and covers every doc
    val n = TextOps.langId(spark, sfDir).count()
    assert(n === 500)
  }

  test("fingerprint: equal text => equal fp; edits move it; corpus distinct-ish") {
    val t = "the quick brown fox jumps over the lazy dog repeatedly every day"
    assert(TextOps.fingerprint(t) === TextOps.fingerprint(t))
    assert(TextOps.fingerprint(t) !== TextOps.fingerprint(t + " extra"))
    import spark.implicits._
    val fps = TextOps.fingerprints(spark, sfDir).select("fp").as[Long].collect()
    assert(fps.distinct.length === fps.length) // no dup texts in corpus
  }

  test("connected components match union-find on random / chain / clique " +
    "graphs (alternating-star rounds, min-id labels)") {
    import spark.implicits._
    // in-test oracle: path-compressed union-find, components = min node id
    def unionFind(nodes: Seq[Long], edges: Seq[(Long, Long)])
        : Map[Long, Long] = {
      val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // roots are already component minima because unions keep the
      // smaller root
      nodes.map(n => n -> find(n)).toMap
    }
    val rnd = new scala.util.Random(4242)
    val sparse = (1 to 120).map(_ =>
      (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    // a 64-node chain: diameter 63 — plain label propagation needs 63
    // rounds, the star algorithm must close it well inside maxIter=30
    val chain = (0L until 63L).map(i => (i + 1000L, i + 1001L))
    val cliques = for {
      c <- 0 until 5; a <- 0 until 6; b <- (a + 1) until 6
    } yield ((c * 10 + a + 5000).toLong, (c * 10 + b + 5000).toLong)
    for (edges <- Seq(sparse, chain, cliques, sparse ++ chain ++ cliques)) {
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = unionFind(nodes, edges)
      val got = Dedup.connectedComponents(
        edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(got === expected,
        s"CC mismatch: ${got.toSet.diff(expected.toSet).take(5)}")
    }
  }

  test("dedupClusters: pairs land in one cluster, exactly one kept " +
    "representative per cluster, every doc assigned once") {
    import spark.implicits._
    val pairs = Dedup.minHashPairs(spark, sfDir, numHashes = 32, bands = 32,
      minBandMatches = 2, capDocs = 2000)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val clusters = Dedup.dedupClusters(spark, sfDir)
      .as[(Long, Long, Int)].collect()
    val comp = clusters.map(c => c._1 -> c._2).toMap
    // transitivity: both endpoints of every near-dup pair share a component
    pairs.foreach { case (a, b) =>
      assert(comp(a) === comp(b), s"pair ($a,$b) split across clusters")
    }
    // component label is the cluster's min doc id; keep flags exactly it
    clusters.groupBy(_._2).foreach { case (label, members) =>
      assert(members.map(_._1).min === label)
      assert(members.count(_._3 == 1) === 1)
      assert(members.find(_._3 == 1).get._1 === label)
    }
    // total assignment: every capped doc appears exactly once
    assert(clusters.length === math.min(2000,
      spark.read.parquet(s"$sfDir/documents.parquet").count()).toInt)
    assert(clusters.map(_._1).distinct.length === clusters.length)
    // scale plan shape: the tiny CC label table broadcasts — the corpus
    // side of the label join must not shuffle
    val plan = Dedup.dedupClusters(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"label join not broadcast:\n${plan.take(2000)}")
  }

  test("connectedComponents releases its caches when the body throws") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // the edge read fails inside the first action, canonEdges.count()
    val boom = udf((v: Long) =>
      if (v >= 0L) throw new IllegalStateException("edge read failed") else v)
    val edges = spark.range(20).select(col("id").as("src"),
      boom(col("id")).as("dst"))
    val e = intercept[Exception](Dedup.connectedComponents(edges))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("edge read failed")),
      e.toString)
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, "left cached RDDs: " +
      left.map(sc.getPersistentRDDs(_).toDebugString.linesIterator.next()))
  }

  test("connectedComponents uses reliable checkpoint when a checkpoint " +
    "dir is configured (cluster mode), same labels either way") {
    import spark.implicits._
    val edges = ((0L until 40L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L))).toDF("src", "dst")
    // driverCap = 0 forces the distributed star-rounds path (the subject
    // of this test); the default-cap call exercises the round-7 driver
    // union-find fast path — labels must agree across all three
    val noDir = Dedup.connectedComponents(edges, driverCap = 0L)
      .as[(Long, Long)].collect().toMap
    val fastPath = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(fastPath === noDir)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    try {
      spark.sparkContext.setCheckpointDir(dir.toString)
      val withDir = Dedup.connectedComponents(edges, driverCap = 0L)
        .as[(Long, Long)].collect().toMap
      assert(withDir === noDir)
      // the reliable path actually wrote checkpoint state
      import scala.jdk.CollectionConverters._
      val wrote = java.nio.file.Files.walk(dir).iterator().asScala
        .count(_.toFile.isFile)
      assert(wrote > 0, "no reliable checkpoint files written")
    } finally {
      // Spark has no public checkpoint-dir unset and the session is
      // shared across suites: empty the dir's contents but KEEP the path
      // valid (a later CC call in another test would otherwise write
      // into a deleted directory); KB-sized, removed with the JVM's tmp
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).filter(_ != dir)
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("stratified sample: deterministic, per-stratum K bound, rank " +
    "pushed below the exchange (WindowGroupLimit)") {
    import spark.implicits._
    val k = 40
    val a = SamplingOps.stratifiedSample(spark, sfDir, k)
    val rows = a.as[(Long, String, Int)].collect()
    val again = SamplingOps.stratifiedSample(spark, sfDir, k)
      .as[(Long, String, Int)].collect()
    assert(rows.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq) // reproducible
    val strataSizes = spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val sampled = rows.groupBy(_._2).view.mapValues(_.length).toMap
    strataSizes.foreach { case (lang, n) =>
      assert(sampled.getOrElse(lang, 0) === math.min(k.toLong, n).toInt,
        s"stratum $lang: ${sampled.getOrElse(lang, 0)} of $n")
    }
    rows.groupBy(_._2).foreach { case (_, ms) =>
      assert(ms.map(_._3).sorted.toSeq === (1 to ms.length)) // dense ranks
    }
    // the skew story: the rank filter must run BELOW the shuffle too
    val plan = a.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter not pushed down:\n$plan")
  }

  test("hashSample: deterministic rate-based keep, no shuffle in the plan") {
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
    val s1 = SamplingOps.hashSample(df, "doc_id", 500000000L) // ~50%
    val n = s1.count()
    val total = df.count()
    assert(n === SamplingOps.hashSample(df, "doc_id", 500000000L).count())
    assert(n > total / 4 && n < 3 * total / 4, s"kept $n of $total")
    assert(!s1.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("packSequences: matches the sequential prefix-sum oracle and is " +
    "invariant to block size and session config") {
    import spark.implicits._
    val budget = 4096L
    val counts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), x => x =!= lit("")))
          .cast("long").as("n"))
      .as[(Long, Long)].collect().sortBy(_._1)
    // in-test oracle: one sequential pass
    var run = 0L
    val expected = counts.map { case (id, n) =>
      val shard = run / budget
      run += n
      (id, n, shard)
    }.toSeq
    // blockSize sweeps the decomposition from near-sequential (one giant
    // block) to one-doc-per-block; every decomposition must agree
    for (blockSize <- Seq(1L, 7L, 64L, 1L << 16)) {
      val got = PackingOps.packSequences(spark, sfDir, budget, blockSize)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got === expected, s"blockSize=$blockSize diverged")
    }
    // session-config invariance (the failure class that bit the RDD-based
    // form: results must not depend on AQE/partition-count physicalities)
    val conf = spark.conf
    val aqe0 = conf.get("spark.sql.adaptive.enabled", "true")
    val sp0 = conf.get("spark.sql.shuffle.partitions")
    try {
      for ((aqe, sp) <- Seq(("false", "1"), ("true", "17"))) {
        conf.set("spark.sql.adaptive.enabled", aqe)
        conf.set("spark.sql.shuffle.partitions", sp)
        val got = PackingOps.packSequences(spark, sfDir, budget)
          .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
        assert(got === expected, s"aqe=$aqe shufflePartitions=$sp diverged")
      }
    } finally {
      conf.set("spark.sql.adaptive.enabled", aqe0)
      conf.set("spark.sql.shuffle.partitions", sp0)
    }
    // shard ids are dense and non-decreasing in doc order
    val shards = expected.map(_._3)
    assert(shards.distinct.sorted === (0L to shards.max))
  }

  test("flagship entry returns rows") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }
}
