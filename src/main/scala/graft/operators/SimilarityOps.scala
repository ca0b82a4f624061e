package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`Array[Float]` vectors,
  * widened to doubles on read).
  *
  * Four top-k searches rank the first `nQueries` vectors against the
  * table: brute force (the SQL-oracle-checked exactness baseline), IVF,
  * IVF-PQ and multi-table LSH. All four, and both PQ stages, are one
  * broadcast-probe scan, [[probeTopK]]: the probe side is |Q| rows, so it
  * is collected and broadcast, and each partition keeps only its k best
  * rows per query for one window rank. IVF keys the broadcast by cell and
  * LSH by (table, bucket): a vector scores only the queries in its own.
  *
  * Vector math runs in JVM loops over `Array[Double]`: an unrolled
  * Catalyst dot of 64 terms exceeds the codegen method limit and falls
  * back to interpreted evaluation, and per-row array accessors dominate
  * the arithmetic. Every reported similarity is [[round4]] of a
  * left-to-right dot over the product of the norms, which is what the
  * DuckDB oracle's `round(list_cosine_similarity(...), 4)` computes.
  */
object SimilarityOps {

  /** One (LSH table, bucket) membership row; primitive vector for the
    * JVM-speed pair loop.
    */
  final case class VecBucket(tbl: Int, bucket: Long, vecId: Long,
      v: Array[Double], nrm: Double)

  /** A broadcast query vector: (vec_id, vector, norm). */
  private type Probe = (Long, Array[Double], Double)

  /** Receives one scored (query_id, vec_id, score) row. */
  private type Emit = (Long, Long, Double) => Unit

  private def dotArr(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def norm(v: Array[Double]): Double = math.sqrt(dotArr(v, v))

  private def unit(v: Array[Double]): Array[Double] = {
    val n = norm(v)
    if (n == 0) v else v.map(_ / n)
  }

  /** Catalyst `round(x, 4)` for doubles: the shortest decimal of `x`
    * rounded HALF_UP, NaN and ±Inf passed through, -0.0 returned as 0.0.
    *
    * `rint(x * 1e4)` picks the same integer whenever `x * 1e4` lies more
    * than 1e-6 from a half step: below 1e9 the product and the shortest
    * decimal differ from the exact value by under 2e-7, and `n / 1e4` is
    * the correctly rounded double that `BigDecimal.toDouble` returns too.
    * Only near-ties and large magnitudes build a BigDecimal.
    */
  private[operators] def round4(x: Double): Double = {
    val y = x * 1e4
    if (math.abs(y) < 1e9 && math.abs(y - math.floor(y) - 0.5) > 1e-6)
      math.rint(y) / 1e4 + 0.0 // + 0.0 turns -0.0 into 0.0
    else if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** The similarity every search reports: the rounded cosine. */
  private def roundedCos(a: Array[Double], na: Double, b: Array[Double],
      nb: Double): Double = round4(dotArr(a, b) / (na * nb))

  /** Bounded per-query top-k buffer ordered by (sim DESC, id ASC) — the
    * window ordering every top-k query ranks with. Insertion keeps the k
    * best; ties use the id. The global top-k is always a subset of the
    * per-partition top-k under the same ordering, so the final window
    * ranks a few hundred pre-pruned rows instead of the full
    * |Q|x|candidates| score matrix.
    */
  private final class TopK(k: Int) {
    private val sims = new Array[Double](k)
    private val ids = new Array[Long](k)
    private var n = 0
    private def beats(s: Double, id: Long, i: Int): Boolean = {
      // Spark sorts doubles with NaN greatest (descending => first)
      val c = java.lang.Double.compare(s, sims(i))
      c > 0 || (c == 0 && id < ids(i))
    }
    def add(sim: Double, id: Long): Unit = {
      if (n < k) {
        var j = n
        while (j > 0 && beats(sim, id, j - 1)) {
          sims(j) = sims(j - 1); ids(j) = ids(j - 1); j -= 1
        }
        sims(j) = sim; ids(j) = id
        n += 1
      } else if (beats(sim, id, k - 1)) {
        var j = k - 1
        while (j > 0 && beats(sim, id, j - 1)) {
          sims(j) = sims(j - 1); ids(j) = ids(j - 1); j -= 1
        }
        sims(j) = sim; ids(j) = id
      }
    }
    def result: Iterator[(Long, Double)] =
      (0 until n).iterator.map(i => (ids(i), sims(i)))
  }

  /** The embeddings table as (vec_id, vector) rows, widened to doubles. */
  private def vectors(s: SparkSession, dir: String)
      : Dataset[(Long, Array[Double])] = {
    import s.implicits._
    Tables.read(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
  }

  /** The first `nQueries` vectors in id order: the probe side every
    * search collects and broadcasts.
    */
  private def probes(e: Dataset[(Long, Array[Double])], nQueries: Int)
      : Array[Probe] =
    e.filter(col("vec_id") < nQueries).collect().sortBy(_._1)
      .map { case (id, v) => (id, v, norm(v)) }

  /** Emits the rounded cosine of candidate (id, v) against every probe
    * other than itself.
    */
  private def scoreExact(id: Long, v: Array[Double], probes: Array[Probe],
      emit: Emit): Unit = {
    val nrm = norm(v)
    var i = 0
    while (i < probes.length) {
      val (qid, qv, qn) = probes(i)
      if (id != qid) emit(qid, id, roundedCos(v, nrm, qv, qn))
      i += 1
    }
  }

  /** Keeps the k best (query_id, vec_id, score) rows per query, ranked
    * `rn` by (score DESC, vec_id ASC) so ties rank the same on any engine.
    */
  private def rankTopK(scored: DataFrame, k: Int, score: String = "sim")
      : DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(score).desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id"), col(score), col("rn"))
  }

  /** The broadcast-probe top-k scan: one narrow pass in which `scoreRow`
    * emits the scored (query, candidate) rows of one vector, reading the
    * probes from a broadcast it captures. Each partition keeps a [[TopK]]
    * per query, and [[rankTopK]] ranks the survivors.
    */
  private def probeTopK(e: Dataset[(Long, Array[Double])], k: Int,
      score: String = "sim")(
      scoreRow: (Long, Array[Double], Emit) => Unit): DataFrame = {
    import e.sparkSession.implicits._
    val partial = e.mapPartitions { it =>
      val heaps = mutable.LongMap[TopK]()
      val emit: Emit = (qid, id, sc) =>
        heaps.getOrElseUpdate(qid, new TopK(k)).add(sc, id)
      it.foreach { case (id, v) => scoreRow(id, v, emit) }
      heaps.iterator.flatMap { case (qid, h) =>
        h.result.map { case (id, sc) => (qid, id, sc) }
      }
    }.toDF("query_id", "vec_id", score)
    rankTopK(partial, k, score)
  }

  /** Brute-force cosine top-k: the first `nQueries` vectors against the
    * whole table, ranked on ROUNDED similarity + id tie-break so the
    * ranking is reproducible across engines.
    */
  def cosineTopK(s: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5)
      : DataFrame = {
    val e = vectors(s, dir)
    val bc = s.sparkContext.broadcast(probes(e, nQueries))
    probeTopK(e, k)((id, v, emit) => scoreExact(id, v, bc.value, emit))
  }

  /** Deterministic pseudo-random hyperplane component for (plane p, dim i):
    * a fixed hash mapped to [-1, 1). Seeded — no RNG state anywhere.
    */
  private def hyperplane(p: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { i =>
      val h = graft.core.XxHash64.hashLong(p.toLong << 32 | i.toLong, 99L)
      (h.toDouble / Long.MaxValue.toDouble)
    }

  /** Multi-table random-hyperplane LSH: `nTables` independent tables of
    * `planesPerTable` sign bits each. A pair of similar vectors collides in
    * at least one table with probability 1-(1-p^b)^L where p = 1 - theta/pi.
    */
  private[operators] def lshPlanes(nTables: Int, planesPerTable: Int,
      dim: Int): Array[Array[Array[Double]]] =
    Array.tabulate(nTables, planesPerTable)((t, p) =>
      hyperplane(t * planesPerTable + p, dim))

  /** `v`'s bucket in one LSH table: its hyperplane signs, first plane in
    * the high bit.
    */
  private def bucketOf(v: Array[Double], planes: Array[Array[Double]])
      : Long = {
    var bucket = 0L
    var p = 0
    while (p < planes.length) {
      bucket = bucket * 2 + (if (dotArr(v, planes(p)) >= 0) 1L else 0L)
      p += 1
    }
    bucket
  }

  /** `v`'s (table << 32 | bucket) key in each LSH table. */
  private[operators] def lshKeys(v: Array[Double],
      planes: Array[Array[Array[Double]]]): Array[Long] =
    Array.tabulate(planes.length)(t =>
      (t.toLong << 32) | bucketOf(v, planes(t)))

  /** Hot-bucket cap: a popular LSH bucket does O(|bucket|^2) pair work in
    * one task — at corpus scale one dense bucket becomes a multi-hour
    * straggler. Buckets above `cap` are recursively re-split with EXTRA
    * hyperplanes (escalated banding: similar vectors keep landing
    * together, so top-k recall degrades gracefully, not arbitrarily).
    * Degenerate masses that no hyperplane separates (near-identical
    * vectors) fall back to overlapping id-sorted windows (stride cap/2):
    * task time stays O(cap^2) and transitive near-dup connectivity is
    * preserved through the window overlap.
    */
  private[operators] def capBuckets(members: Array[VecBucket], cap: Int)
      : Iterator[Array[VecBucket]] = {
    def windows(ms: Array[VecBucket]): Iterator[Array[VecBucket]] = {
      val sorted = ms.sortBy(_.vecId)
      val stride = math.max(1, cap / 2)
      (0 until sorted.length by stride).iterator
        .map(i => sorted.slice(i, math.min(sorted.length, i + cap)))
        .filter(_.length > 1)
    }
    def split(ms: Array[VecBucket], depth: Int): Iterator[Array[VecBucket]] =
      if (ms.length <= cap) Iterator.single(ms)
      else if (depth >= 24) windows(ms)
      else {
        val plane =
          hyperplane(1 << 20 | ms.head.tbl << 8 | depth, ms.head.v.length)
        val (pos, neg) = ms.partition(m => dotArr(m.v, plane) >= 0)
        if (pos.isEmpty || neg.isEmpty) windows(ms)
        else split(pos, depth + 1) ++ split(neg, depth + 1)
      }
    split(members, 0)
  }

  /** LSH-bucketed ANN: a vector is scored once against each query it
    * shares a (table, bucket) with in ANY table. The queries are broadcast
    * keyed by (table, bucket), so per-vector work is `nTables` lookups and
    * at most |Q| scores however hot a bucket is. Recall vs the brute-force
    * baseline is asserted in OperatorsSpec.
    */
  def cosineTopKLsh(s: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5, nTables: Int = 8, planesPerTable: Int = 4): DataFrame = {
    val e = vectors(s, dir)
    val qs = probes(e, nQueries)
    val planes = lshPlanes(nTables, planesPerTable,
      qs.headOption.fold(0)(_._2.length))
    val byBucket: Map[Long, Array[Probe]] =
      qs.flatMap(q => lshKeys(q._2, planes).map((_, q))).groupMap(_._1)(_._2)
    val bc = s.sparkContext.broadcast(byBucket)
    probeTopK(e, k) { (id, v, emit) =>
      // no query, no planes of the vectors' dimension to hash on
      if (bc.value.nonEmpty) {
        // a query sharing buckets in several tables is scored once
        val byId = mutable.LongMap[Probe]()
        lshKeys(v, planes).foreach(bc.value.get(_).foreach(
          _.foreach(q => byId(q._1) = q)))
        scoreExact(id, v, byId.values.toArray, emit)
      }
    }
  }

  /** Bucketed membership: one row per (LSH table, vector), on
    * hyperplanes of the dimension of the partition's first row.
    */
  private def toVecBuckets(e: Dataset[(Long, Array[Double])], nTables: Int,
      planesPerTable: Int): Dataset[VecBucket] = {
    import e.sparkSession.implicits._
    e.mapPartitions { rows =>
      val it = rows.buffered
      val planes = lshPlanes(nTables, planesPerTable,
        it.headOption.fold(0)(_._2.length))
      it.flatMap { case (id, v) =>
        val nrm = norm(v)
        planes.indices.map(t =>
          VecBucket(t, bucketOf(v, planes(t)), id, v, nrm))
      }
    }
  }

  /** Deterministic bounded training sample for the IVF and PQ quantizers:
    * the `sampleN` rows of lowest vec_id hash.
    */
  private def trainingSample(e: Dataset[(Long, Array[Double])],
      sampleN: Int): Array[Array[Double]] =
    e.orderBy(xxhash64(col("vec_id"))).limit(sampleN).collect().map(_._2)

  /** Deterministic spherical k-means over a bounded sample — the IVF
    * coarse quantizer. Driver-side on purpose: IVF trains on a SAMPLE at
    * any corpus scale (a 2048x64 double matrix here), so the training
    * cost is constant while assignment/probing stay fully distributed.
    * Seeds = the first `nCells` sample rows (the sample itself is
    * hash-ordered, so seeding is deterministic); `iters` Lloyd rounds
    * with dot-product assignment over unit vectors.
    */
  private[operators] def trainCentroids(sample: Array[Array[Double]],
      nCells: Int, iters: Int = 8): Array[Array[Double]] = {
    val dim = sample.head.length
    val pts = sample.map(unit)
    var centroids = pts.take(nCells).map(_.clone)
    for (_ <- 0 until iters) {
      val sums = Array.fill(nCells)(new Array[Double](dim))
      val counts = new Array[Int](nCells)
      pts.foreach { p =>
        val best = nearestCells(centroids, p, 1)(0)
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      centroids = Array.tabulate(nCells)(c =>
        if (counts(c) == 0) centroids(c) else unit(sums(c)))
    }
    centroids
  }

  /** The `n` cells whose centroids have the largest dot with unit vector
    * `u`, best first; ties go to the lower cell id.
    */
  private def nearestCells(centroids: Array[Array[Double]], u: Array[Double],
      n: Int): Array[Int] = {
    val d = centroids.map(dotArr(u, _))
    centroids.indices.sortBy(c => (-d(c), c)).take(n).toArray
  }

  /** IVF (inverted-file) ANN — the second classic ANN family next to
    * LSH: a coarse quantizer of `nCells` spherical-k-means centroids,
    * every vector assigned to its nearest cell (one narrow map), queries
    * probing their `nProbe` nearest cells, exact rerank of the cell
    * members. The probes are broadcast keyed by cell, so a candidate is
    * scored only against the queries probing its own cell; the cells
    * ADAPT to the data distribution, so recall at an equal candidate
    * budget is typically higher than LSH on clustered corpora (asserted
    * vs the brute-force baseline in OperatorsSpec).
    */
  def cosineTopKIvf(s: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5, nCells: Int = 16, nProbe: Int = 4, sampleN: Int = 2048)
      : DataFrame = {
    val e = vectors(s, dir)
    // centroids are tiny (nCells x dim doubles): captured by value in the
    // task closures — no broadcast bookkeeping needed
    val centroids = trainCentroids(trainingSample(e, sampleN), nCells)
    val byCell: Map[Int, Array[Probe]] = probes(e, nQueries)
      .flatMap(q => nearestCells(centroids, unit(q._2), nProbe).map((_, q)))
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
    val bc = s.sparkContext.broadcast(byCell)
    probeTopK(e, k) { (id, v, emit) =>
      bc.value.get(nearestCells(centroids, unit(v), 1)(0))
        .foreach(scoreExact(id, v, _, emit))
    }
  }

  /** Plain (L2) k-means over sub-vectors — the PQ codebook trainer.
    * Driver-side on the same bounded sample as IVF: training cost is
    * constant at any corpus size. Deterministic: first-k seeding over
    * the hash-ordered sample, fixed Lloyd rounds, mean update.
    */
  private[operators] def trainCodebook(sub: Array[Array[Double]],
      kCodes: Int, iters: Int = 8): Array[Array[Double]] = {
    val dim = sub.head.length
    var cb = sub.take(kCodes).map(_.clone)
    for (_ <- 0 until iters) {
      val sums = Array.fill(kCodes)(new Array[Double](dim))
      val counts = new Array[Int](kCodes)
      sub.foreach { p =>
        val c = nearestCode(cb, p)
        var i = 0
        while (i < dim) { sums(c)(i) += p(i); i += 1 }
        counts(c) += 1
      }
      cb = Array.tabulate(kCodes)(c =>
        if (counts(c) == 0) cb(c)
        else sums(c).map(_ / counts(c)))
    }
    cb
  }

  /** Index of the codeword nearest to `p` in L2; ties go to the lower
    * index.
    */
  private def nearestCode(cb: Array[Array[Double]], p: Array[Double]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cb.length) {
      var d = 0.0
      var i = 0
      while (i < p.length) { val t = p(i) - cb(c)(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** IVF-PQ ANN — the MEMORY-scale path: vectors compress to `m` byte
    * codes (64-dim float = 256 B → 8 B, 32×), so a 10^10-vector index
    * fits where raw vectors cannot. Classic two-level design
    * (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011):
    *
    *  - coarse quantizer: the SAME spherical-k-means cells as
    *    [[cosineTopKIvf]] (bounded driver-side sample);
    *  - product quantizer: the unit vector splits into `m` subspaces,
    *    each L2-k-means-coded to one of `kCodes` centroids → the corpus
    *    row is (cell, vec_id, m bytes);
    *  - query: ADC (asymmetric distance computation) — per query, an
    *    m×kCodes table of partial dots; a candidate's approximate
    *    cosine = m table lookups summed, NO vector math per pair;
    *  - exact rerank: the top `rerank·k` ADC candidates are scored
    *    exactly for the final ordering — ADC error affects which
    *    candidates are CONSIDERED, not the reported similarity.
    *
    * Both stages are [[probeTopK]] scans: the ADC tables are built
    * driver-side and broadcast keyed by probe cell, so no candidate row
    * carries a table, and the |Q|·rerank·k shortlist is broadcast keyed
    * by candidate for the rerank.
    */
  def cosineTopKPq(s: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5, nCells: Int = 16, nProbe: Int = 4, m: Int = 8,
      kCodes: Int = 64, sampleN: Int = 2048, rerank: Int = 4): DataFrame = {
    import s.implicits._
    val e = vectors(s, dir)
    val sample = trainingSample(e, sampleN)
    val dim = sample.head.length
    require(dim % m == 0, "dim must divide into m subspaces")
    val subDim = dim / m
    val centroids = trainCentroids(sample, nCells)
    val unitSample = sample.map(unit)
    // a corpus smaller than kCodes still trains (fewer codes), instead of
    // indexing past trainCodebook's take(kCodes) seeding
    val kEff = math.min(kCodes, unitSample.length)
    val codebooks = Array.tabulate(m)(j =>
      trainCodebook(unitSample.map(_.slice(j * subDim, (j + 1) * subDim)),
        kEff))

    // function VAL, not a local def: a lambda calling a local def drags
    // the whole (non-serializable) enclosing module into the closure;
    // a val captures only the arrays it uses
    val encode: Array[Double] => Array[Byte] = u =>
      Array.tabulate(m)(j =>
        nearestCode(codebooks(j), u.slice(j * subDim, (j + 1) * subDim)).toByte)

    val queryProbes = probes(e, nQueries)
    val byCell: Map[Int, Array[(Long, Array[Array[Double]])]] = queryProbes
      .flatMap { case (id, v, _) =>
        val u = unit(v)
        val table = Array.tabulate(m, kEff)((j, c) =>
          dotArr(u.slice(j * subDim, (j + 1) * subDim), codebooks(j)(c)))
        nearestCells(centroids, u, nProbe).map(c => (c, (id, table)))
      }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
    val pBc = s.sparkContext.broadcast(byCell)
    val shortlist = probeTopK(e, k * rerank, "adc") { (id, v, emit) =>
      val u = unit(v)
      pBc.value.get(nearestCells(centroids, u, 1)(0)).foreach { qs =>
        val cs = encode(u)
        var i = 0
        while (i < qs.length) {
          val (qid, table) = qs(i)
          if (id != qid) {
            var adc = 0.0
            var j = 0
            while (j < m) { adc += table(j)(cs(j) & 0xff); j += 1 }
            emit(qid, id, adc)
          }
          i += 1
        }
      }
    }

    val byId = queryProbes.map(q => q._1 -> q).toMap
    val byCandidate: Map[Long, Array[Probe]] = shortlist
      .select(col("query_id"), col("vec_id")).as[(Long, Long)].collect()
      .groupBy(_._2).map { case (vid, xs) => vid -> xs.map(x => byId(x._1)) }
    val slBc = s.sparkContext.broadcast(byCandidate)
    probeTopK(e, k) { (id, v, emit) =>
      slBc.value.get(id).foreach(scoreExact(id, v, _, emit))
    }
  }

  /** Exact embedding near-duplicate pairs: ALL pairs with rounded cosine
    * >= threshold, over the first `capVecs` vec_ids. This is the
    * EXACTNESS BASELINE for near-dup (same role and same corpus-cap
    * pattern as q_minhash_pairs / q_cosine_topk): the cap bounds the
    * O(n^2) pair mass so it cannot ride corpus growth, the broadcast
    * keeps the big side shuffle-free, and the SQL oracle can reproduce
    * the result bit-for-bit. The LSH-blocked [[embeddingNearDup]] is the
    * 100 TB path — on this corpus the thresholded pairs are all
    * borderline-similarity (0.35-0.6 cosine), exactly the regime where
    * any LSH family has recall < 1 by construction, so the approximate
    * form is verified by a recall spec, not an equality oracle.
    */
  def embeddingNearDupExact(s: SparkSession, dir: String,
      threshold: Double = 0.35, capVecs: Int = 2000): DataFrame = {
    import s.implicits._
    // the capped side is bounded by construction (capVecs × dim doubles,
    // ~1 MB at the defaults), so it is broadcast once and the O(cap²)
    // pair scan runs as partition-local JVM loops
    val capped = vectors(s, dir).orderBy(col("vec_id")).limit(capVecs)
      .collect().map { case (id, v) => (id, v, norm(v)) }
    val bc = s.sparkContext.broadcast(capped)
    s.range(0, capped.length, 1, 64).mapPartitions { it =>
      val arr = bc.value
      it.flatMap { ii =>
        val i = ii.toInt
        val (ida, va, na) = arr(i)
        Iterator.range(i + 1, arr.length).flatMap { j =>
          val (idb, vb, nb) = arr(j)
          val sim = roundedCos(va, na, vb, nb)
          if (sim >= threshold) Some((ida, idb, sim)) else None
        }
      }
    }.toDF("id_a", "id_b", "sim")
  }

  /** Embedding near-duplicate detection: pairs with cosine >= threshold,
    * LSH-blocked (multi-table), exactly verified within bucket.
    */
  def embeddingNearDup(s: SparkSession, dir: String, threshold: Double = 0.35,
      nTables: Int = 8, planesPerTable: Int = 4, bucketCap: Int = 512)
      : DataFrame = {
    import s.implicits._
    val pairs = toVecBuckets(vectors(s, dir), nTables, planesPerTable)
      .groupByKey(r => (r.tbl, r.bucket))
      .flatMapGroups { (_: (Int, Long), it: Iterator[VecBucket]) =>
        capBuckets(it.toArray, bucketCap).flatMap { grp =>
          val m = grp.sortBy(_.vecId)
          val out =
            scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
          var i = 0
          while (i < m.length) {
            var j = i + 1
            while (j < m.length) {
              val sim = roundedCos(m(i).v, m(i).nrm, m(j).v, m(j).nrm)
              if (sim >= threshold) out += ((m(i).vecId, m(j).vecId, sim))
              j += 1
            }
            i += 1
          }
          out.iterator
        }
      }
      .toDF("id_a", "id_b", "sim")
    pairs.dropDuplicates("id_a", "id_b")
  }

  val oracles: Map[String, String] = Map(
    "q_cosine_topk" ->
      ("SELECT query_id, vec_id, sim, rn FROM (" +
        "SELECT q.vec_id AS query_id, e.vec_id AS vec_id, " +
        "round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS sim, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
        "round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) DESC, e.vec_id ASC) AS rn " +
        "FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q " +
        "WHERE e.vec_id <> q.vec_id) WHERE rn <= 5"),
    // exact thresholded pairs over the capped corpus (same cap pattern as
    // q_minhash_pairs); round-then-threshold on both sides
    "q_embedding_near_dup" ->
      ("WITH e AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 2000) " +
        "SELECT id_a, id_b, sim FROM (" +
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        "round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim " +
        "FROM e a JOIN e b ON a.vec_id < b.vec_id) WHERE sim >= 0.35"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cosine_topk" -> ((s, d) => cosineTopK(s, d)),
    "q_cosine_topk_lsh" -> ((s, d) => cosineTopKLsh(s, d)),
    "q_cosine_topk_ivf" -> ((s, d) => cosineTopKIvf(s, d)),
    "q_cosine_topk_pq" -> ((s, d) => cosineTopKPq(s, d)),
    "q_embedding_near_dup" -> ((s, d) => embeddingNearDupExact(s, d)),
    "q_embedding_near_dup_lsh" -> ((s, d) => embeddingNearDup(s, d)))
}
