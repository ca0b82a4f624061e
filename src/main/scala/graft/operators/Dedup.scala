package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.XxHash64

/** Near-duplicate detection for corpus curation: MinHash+LSH and SimHash
  * over the `documents` table, read through [[Tables.read]].
  *
  * Both follow the shingle -> hash -> band -> bucket-join shape: candidate
  * generation is an equi-join on a band key (one hash-partitioned shuffle,
  * no |N|^2 pair scan), then candidates are verified exactly. The verify
  * stage bounds false positives; banding bounds the join fan-out — this is
  * what survives a 100x scale-up where a cross join does not.
  *
  * The reference's analog is signature-based change detection
  * (reference: crawl/TextProfileSignature.java:56-150 — quantized
  * term-profile hashing) generalized to cross-document near-dup search.
  */
object Dedup {

  /** Word shingles (n-grams of tokens) of a text. */
  def shingles(text: String, n: Int = 3): Array[String] = {
    val toks = text.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Array(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toArray
  }

  /** MinHash signature of an explicit item set: for each of `numHashes`
    * seeded hash functions, the minimum XXH64 over the items. Pure and
    * deterministic; shared by the shingle-level (minHashPairs) and
    * token-level (TextOps.jaccardPairs) pipelines.
    */
  def minHashOfSet(items: IndexedSeq[String], numHashes: Int): Array[Long] = {
    // encode each item to UTF-8 once, not once per hash function: the
    // String->bytes copy dominated the 96-function jaccard path (96
    // encodings per token); hashing the cached bytes yields identical
    // values at ~1/3 the signature cost
    val bytes = new Array[Array[Byte]](items.length)
    var j = 0
    while (j < items.length) {
      bytes(j) = items(j).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      j += 1
    }
    Array.tabulate(numHashes) { i =>
      var min = Long.MaxValue
      var k = 0
      while (k < bytes.length) {
        val h = XxHash64.hashBytes(bytes(k), i.toLong)
        if (h < min) min = h
        k += 1
      }
      min
    }
  }

  /** MinHash signature over the shingle set of a text. */
  def minHashSignature(text: String, numHashes: Int = 32, shingleLen: Int = 3)
      : Array[Long] =
    minHashOfSet(shingles(text, shingleLen), numHashes)

  /** Exact Jaccard over shingle sets (verification stage). */
  def jaccard(a: Array[String], b: Array[String]): Double = {
    val sa = a.toSet
    val sb = b.toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
  }

  /** MinHash+LSH near-dup pairs: band the signature (bands x rows = total
    * hashes), pair documents sharing >= `minBandMatches` band keys through
    * [[bandedPairs]], verify with exact shingle Jaccard >= threshold.
    *
    * Scale shape: the band self-join carries only (band, key, group id);
    * the shingle sets are joined back once per candidate pair.
    */
  def minHashPairs(s: SparkSession, dir: String, numHashes: Int = 32,
      bands: Int = 8, shingleLen: Int = 3, threshold: Double = 0.5,
      minBandMatches: Int = 1, capDocs: Int = 0): DataFrame = {
    val rowsPerBand = numHashes / bands
    val sigUdf = udf((t: String) => minHashSignature(t, numHashes, shingleLen))
    val shUdf = udf((t: String) => shingles(t, shingleLen).distinct)
    // capDocs > 0 bounds the corpus deterministically (first-K by doc_id):
    // recall-one banding has O(n^2) candidate mass by construction, so the
    // driver query fixes its input size instead of riding corpus growth.
    // (At production scale the cap would be a semi-join on an id sample,
    // not TakeOrdered — this form keeps the DuckDB oracle expressible.)
    val d0 = Tables.read(s, dir, "documents").select(col("doc_id"), col("text"))
    val d = if (capDocs > 0) d0.orderBy(col("doc_id")).limit(capDocs) else d0
    // band key: hash of each signature slice
    def sliceKeys(sig: Column): Column =
      transform(sequence(lit(0), lit(bands - 1)), b =>
        xxhash64(b, slice(sig, b * rowsPerBand + lit(1),
          lit(rowsPerBand)).cast("string")))
    verifiedPairs(d.select(col("doc_id"), sigUdf(col("text")).as("sig"),
      shUdf(col("text")).as("set")), sliceKeys, minBandMatches, threshold)
  }

  /** The MinHash pipeline behind [[minHashPairs]] and
    * [[TextOps.jaccardPairs]]: `rows` holds (doc_id, sig, set, extraKeys).
    * Candidates are the [[bandedPairs]] of the signatures; each is kept
    * when the exact Jaccard of the two distinct-item `set` arrays, rounded
    * to 4 places, reaches `threshold`. The sets are joined back by id once
    * per candidate pair, so the band join never carries them. The Jaccard
    * is columnar array ops (codegen'd; a UDF was the hot spot at high
    * candidate volume), equal to [[jaccard]] on the same sets.
    */
  private[operators] def verifiedPairs(rows: DataFrame,
      bandKeys: Column => Column, minMatches: Int, threshold: Double,
      extraKeys: Seq[String] = Nil): DataFrame = {
    def side(s: String) =
      rows.select(col("doc_id").as("doc_" + s), col("set").as("set_" + s))
    val (a, b) = (col("set_a"), col("set_b"))
    bandedPairs(rows, "doc_id", "sig", bandKeys, minMatches, extraKeys)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .join(side("a"), Seq("doc_a"))
      .join(side("b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(a, b)) /
          size(array_union(a, b)).cast("double"), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Per-token 64-bit hash: md5 digest bytes 8..16 little-endian — the
    * exact bit pattern of DuckDB's `md5_number_lower`, which is what lets
    * the driver's oracle recompute simhashes in SQL. (Any good 64-bit
    * hash works for simhash itself; this one is cross-engine computable.)
    */
  def tokenHash64(tok: String): Long = {
    val d = graft.core.Signature.md5(
      tok.getBytes(java.nio.charset.StandardCharsets.UTF_8), tok)
    var h = 0L
    var i = 15
    while (i >= 8) { h = (h << 8) | (d(i) & 0xffL); i -= 1 }
    h
  }

  /** 64-bit SimHash of a token multiset: weighted sign-sum of token-hash
    * bits. Near-identical texts differ in few bits.
    */
  def simHash(text: String): Long = {
    val acc = new Array[Int](64)
    text.split("\\s+").filter(_.nonEmpty).foreach { tok =>
      val h = tokenHash64(tok)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
        i += 1
      }
    }
    var out = 0L
    var i = 0
    while (i < 64) {
      if (acc(i) > 0) out |= (1L << i)
      i += 1
    }
    out
  }

  /** The one candidate generator of every banded near-dup join: pairs of
    * `rows` that agree on `extraKeys` (e.g. a frame index) and whose
    * signatures share at least `minMatches` band keys. `bandKeys` maps the
    * signature column to its array of band keys; band i's key only meets
    * band i's.
    *
    * 1. Exact-signature pre-pass (the hot-bucket guard): each row is named
    *    by the smallest id with its (extraKeys, signature), and only one
    *    row per name is banded. A page copied 10^6 times is one banded
    *    row, not a 10^6-deep bucket in every band.
    * 2. The band self-join on (extraKeys, band, key) carries the names
    *    only; no payload column reaches its shuffle.
    * 3. One pair rule: a name pair (a <= b) is kept once, when its
    *    band-match count reaches `minMatches`. A name meets itself in
    *    every band, so it pairs with itself at any `minMatches` up to the
    *    band count: all pairs among identical signatures are candidates.
    * 4. Name pairs expand to member pairs through two output-bounded
    *    joins with the (name, id) table.
    *
    * Output: (extraKeys, id_a, id_b, sig_a, sig_b), one row per candidate
    * member pair, `id_a < id_b`, `sig_x` the signature of `id_x`.
    */
  private[operators] def bandedPairs(rows: DataFrame, id: String, sig: String,
      bandKeys: Column => Column, minMatches: Int,
      extraKeys: Seq[String] = Nil): DataFrame = {
    val keys = extraKeys.map(col)
    val members = rows
      .select(keys ++ Seq(col(id).as("id"), col(sig).as("sig")): _*)
      .withColumn("sid",
        min(col("id")).over(Window.partitionBy(keys :+ col("sig"): _*)))
    // _outer: posexplode would add a `size(sig) > 0` filter, pushed below
    // the window, so the band and expansion branches would plan `members`
    // apart (two exchanges, the signature work twice)
    val banded = members.filter(col("id") === col("sid")).select(
      keys ++ Seq(col("sid"),
        posexplode_outer(bandKeys(col("sig"))).as(Seq("band", "bkey"))): _*)
    val sigPairs = banded.as("a")
      .join(banded.as("b"), extraKeys ++ Seq("band", "bkey"))
      .filter(col("a.sid") <= col("b.sid"))
      .groupBy(keys ++ Seq(col("a.sid").as("sid_a"), col("b.sid").as("sid_b")): _*)
      .agg(count(lit(1)).as("matches"))
      .filter(col("matches") >= minMatches)
    // one (name, id, sig) table serves both expansion joins
    def expand(pairs: DataFrame, s: String): DataFrame =
      pairs.withColumnRenamed("sid_" + s, "sid").join(members, extraKeys :+ "sid")
        .withColumnRenamed("sid", "sid_" + s)
        .withColumnRenamed("id", "i" + s).withColumnRenamed("sig", "g" + s)
    val swap = col("ia") > col("ib")
    expand(expand(sigPairs, "a"), "b")
      .filter(col("sid_a") =!= col("sid_b") || col("ia") < col("ib"))
      .select(keys ++ Seq(
        least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"),
        when(swap, col("gb")).otherwise(col("ga")).as("sig_a"),
        when(swap, col("ga")).otherwise(col("gb")).as("sig_b")): _*)
  }

  /** Band keys of a 64-bit hash for Hamming search: its four 16-bit
    * slices. Two hashes within 3 bits agree on at least one slice
    * (pigeonhole: 3 differing bits touch at most 3 of the 4 slices), so
    * banded recall is exact up to distance 3.
    */
  private[operators] def hammingBands(h: Column): Column =
    array((0 until 4).map(b =>
      shiftrightunsigned(h, b * 16).bitwiseAND(lit(0xFFFFL))): _*)

  /** Hamming distance of a [[bandedPairs]] row's two hashes. */
  private[operators] val hamming: Column =
    bit_count(col("sig_a").bitwiseXOR(col("sig_b")))

  /** SimHash near-dup pairs: 4 bands of 16 bits as bucket keys
    * ([[hammingBands]]: recall is exact for distance <= 3), verified with
    * bit_count(xor) <= maxHamming.
    */
  def simHashPairs(s: SparkSession, dir: String, maxHamming: Int = 3)
      : DataFrame = {
    val shUdf = udf(simHash _)
    val d = Tables.read(s, dir, "documents")
      .select(col("doc_id"), shUdf(col("text")).as("sh"))
    bandedPairs(d, "doc_id", "sh", hammingBands, 1)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over an undirected edge list by alternating
    * large-star / small-star rounds (Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC '14). Converges in O(log n) rounds on
    * any graph — unlike plain min-label propagation, whose round count is
    * the graph DIAMETER (a 10^6-node chain of near-dup shards would need
    * 10^6 shuffles; this needs ~20).
    *
    * Scale shape: each round is aggregates + equi-joins on node id — the
    * per-node neighbor MIN is computed with `groupBy(u).agg(min(v))`,
    * never a collected neighbor list, so a hub node (the component root
    * attracts edges from every member) costs O(1) state in the aggregate
    * instead of an O(|component|) array on one task. Each round's edge set
    * is eagerly checkpointed, truncating both lineage AND the logical plan
    * (on a cluster: `checkpoint` against the checkpoint dir) — otherwise
    * the plan tree doubles per round and driver-side analysis dominates.
    *
    * Input: (src, dst) rows, any integral type. Output: (node, component)
    * for every node incident to an edge, component = MIN node id of its
    * component (callers coalesce isolated nodes to themselves).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 30,
      driverCap: Long = 100000L): DataFrame = {
    def canon(e: DataFrame): DataFrame =
      e.filter(col("u") =!= col("v")).dropDuplicates("u", "v")
    // large-star: every node v strictly larger than u re-attaches to
    // m(u) = min(Gamma(u) + {u}); processed from the SMALLER endpoint of
    // each symmetrized edge so each input edge is emitted exactly once
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u")
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      canon(sym.filter(col("v") > col("u"))
        .join(m, "u")
        .select(col("v").as("u"), col("m").as("v")))
    }
    // small-star: orient each edge toward its larger endpoint, then every
    // smaller neighbor (and the center) attaches to the minimum neighbor
    def smallStar(e: DataFrame): DataFrame = {
      val ori = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val m = ori.groupBy("u").agg(min(col("v")).as("m"))
      canon(ori.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v"))))
    }
    // cheap w.h.p. fixed-point check: (count, xor-fold of per-edge
    // hashes — order-independent and cannot overflow under ANSI mode) —
    // one extra aggregate per round, no set-difference shuffle
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // EAGER checkpoint each round: it swaps the logical plan for a
    // LogicalRDD, keeping per-round plan size O(1). Without truncation the
    // star operators DOUBLE the plan tree every round (union of both edge
    // orientations + joins) and driver-side ANALYSIS, not execution,
    // becomes the bottleneck within a handful of rounds. When a checkpoint
    // dir is configured (a cluster: HDFS/object store), use RELIABLE
    // checkpoint so a lost executor cannot drop a round's only copy;
    // executor-local checkpoint otherwise (local mode / tests).
    // LAZY checkpoint (round-7): eager=false defers materialization to
    // the checksum() action that immediately follows every ckpt() call,
    // halving the Spark jobs per round (eager ckpt ran one job, checksum
    // a second over the same data). Same truncation, same reliability:
    // the checksum action materializes the checkpoint before anything
    // else can recompute the lineage.
    def ckpt(e: DataFrame): DataFrame =
      if (e.sparkSession.sparkContext.getCheckpointDir.isDefined)
        e.checkpoint(eager = false)
      else e.localCheckpoint(eager = false)
    // a local checkpoint keeps its rows in the persisted RDD under its
    // LogicalRDD, which Dataset.unpersist (the query cache) never reaches
    def release(e: DataFrame): Unit = e.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ =>
    }
    val canonEdges = canon(edges.select(
      col(edges.columns(0)).cast("long").as("u"),
      col(edges.columns(1)).cast("long").as("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the caches are released however the body ends: canonEdges and each
    // superseded round in `finally`; the last round backs the returned
    // labels, so it is released only when the body throws
    var cur: DataFrame = null
    var done = false
    try {
      // Round-7 small-graph fast path: below `driverCap` edges (hard cap,
      // ~1.6 MB at the default — the same bounded-driver-sample pattern as
      // the IVF/PQ trainers and the capped exact near-dup scan), run
      // union-find on the driver instead of O(log n) star ROUNDS of Spark
      // jobs: each round costs 4-6 exchanges + a checkpoint action, which
      // at near-dup-pair edge counts (tens to thousands) is pure scheduler
      // overhead. Labels are identical by construction: component = MIN
      // node id, order-independent. Graphs above the cap take the
      // unchanged large-star/small-star path.
      val edgeCount = canonEdges.count()
      if (edgeCount <= driverCap) {
        val es = canonEdges.as[(Long, Long)](
          org.apache.spark.sql.Encoders.product[(Long, Long)]).collect()
        val parent = scala.collection.mutable.LongMap[Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
          }
          r
        }
        es.foreach { case (u, v) =>
          val ru = find(u); val rv = find(v)
          if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
        }
        val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toArray
          .distinct
        val minOfRoot = scala.collection.mutable.LongMap[Long]()
        nodes.foreach { n =>
          val r = find(n)
          minOfRoot(r) = math.min(minOfRoot.getOrElse(r, n), n)
        }
        val rows = nodes.map(n => (n, minOfRoot(find(n))))
        val s = edges.sparkSession
        import s.implicits._
        return s.createDataset(scala.collection.immutable.ArraySeq
          .unsafeWrapArray(rows)).toDF("node", "component")
      }
      cur = ckpt(canonEdges)
      var lastSum = checksum(cur)
      canonEdges.unpersist()
      var it = 0
      var converged = false
      while (it < maxIter && !converged) {
        val prev = cur
        cur = ckpt(smallStar(largeStar(prev)))
        val sum = try checksum(cur) finally release(prev)
        converged = sum == lastSum
        lastSum = sum
        it += 1
      }
      // star state: each node's component is its minimum symmetric neighbor
      // (the root's smallest neighbor is larger than itself; least() keeps
      // the root labeled with its own id)
      val sym = cur.union(cur.select(col("v").as("u"), col("u").as("v")))
      done = true
      sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u").as("node"), least(col("mn"), col("u")).as("component"))
    } finally {
      canonEdges.unpersist()
      if (!done) Option(cur).foreach(release)
    }
  }

  /** Cluster-level dedup: MinHash near-dup PAIRS -> connected components
    * -> one kept representative (min doc_id) per cluster. This is the
    * operator a training-data pipeline actually runs — pairwise output
    * alone under-deletes transitive duplicates (a~b, b~c must drop both b
    * AND c even when a~c was never a candidate pair).
    */
  def dedupClusters(s: SparkSession, dir: String, capDocs: Int = 2000)
      : DataFrame = {
    val pairs = minHashPairs(s, dir, numHashes = 32, bands = 32,
      minBandMatches = 2, capDocs = capDocs)
      .select(col("doc_a"), col("doc_b"))
    val cc = connectedComponents(pairs)
    val d0 = Tables.read(s, dir, "documents").select(col("doc_id"))
    val d = if (capDocs > 0) d0.orderBy(col("doc_id")).limit(capDocs) else d0
    // the CC label table holds only nodes incident to a near-dup pair —
    // tiny next to the corpus, so the label join must broadcast (the
    // corpus side never shuffles)
    d.join(broadcast(cc), d("doc_id") === cc("node"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .withColumn("keep",
        (col("doc_id") === col("component")).cast("int"))
  }

  /** The driver-facing q_minhash_pairs runs 32 bands of 1 row gated on
    * >= 2 band matches: a j=0.5 pair is missed with
    * p = (1-j)^32 + 32*j*(1-j)^31 ~ 7.7e-9 (the 2-band gate, not the
    * recall-one (1-j)^32 bound), so the exact-verify output is
    * probabilistically — and on this dataset verifiably — equal to the
    * brute-force Jaccard-threshold pairs DuckDB computes with list
    * functions. Both engines cap the corpus to the first 2000 doc_ids so
    * the O(n^2) candidate mass of single-hash banding cannot ride corpus
    * growth. The 8x4 default above is the selective-banding scale
    * configuration (spec-verified).
    */
  val oracles: Map[String, String] = Map(
    "q_minhash_pairs" ->
      ("WITH docs_cap AS (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 2000), " +
        "toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM docs_cap), " +
        "sh AS (SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
        "ELSE list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) END AS s FROM toks) " +
        "SELECT doc_a, doc_b, jaccard FROM (" +
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "round(len(list_intersect(a.s, b.s)) / " +
        "len(list_distinct(list_concat(a.s, b.s)))::double, 4) AS jaccard " +
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id) WHERE jaccard >= 0.5"),
    // brute-force hamming pairs: 4 bands of 16 bits guarantee recall 1.0
    // for hamming <= 3 (pigeonhole), so the banded Spark output equals
    // the all-pairs filter; simhash recomputed in SQL via
    // md5_number_lower (the token hash is that exact bit pattern)
    "q_simhash_pairs" ->
      ("WITH th AS (SELECT doc_id, md5_number_lower(tok) AS h FROM (" +
        "SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents)), " +
        "bits AS (SELECT doc_id, i, CASE WHEN 2 * sum(((h >> i) & 1)::BIGINT) > count(*) " +
        "THEN (1::UBIGINT << i) ELSE 0::UBIGINT END AS b " +
        "FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS i) bitsrc GROUP BY doc_id, i), " +
        "sh AS (SELECT doc_id, bit_or(b) AS sh FROM bits GROUP BY doc_id) " +
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming " +
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
        "WHERE bit_count(xor(a.sh, b.sh)) <= 3"),
    // cluster assignment = transitive closure of the SAME capped minhash
    // pair set; DuckDB computes reachability with a recursive CTE (fine at
    // oracle scale), Spark with O(log n) alternating star rounds —
    // component = min reachable doc_id, keep = cluster representative
    "q_dedup_clusters" ->
      ("WITH RECURSIVE docs_cap AS (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 2000), " +
        "toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM docs_cap), " +
        "sh AS (SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
        "ELSE list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) END AS s FROM toks), " +
        "pairs AS (SELECT doc_a, doc_b FROM (" +
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "round(len(list_intersect(a.s, b.s)) / " +
        "len(list_distinct(list_concat(a.s, b.s)))::double, 4) AS jaccard " +
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id) WHERE jaccard >= 0.5), " +
        "edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs " +
        "UNION SELECT doc_b, doc_a FROM pairs), " +
        "reach(node, r) AS (SELECT u, v FROM edges " +
        "UNION SELECT e.u, r.r FROM edges e JOIN reach r ON r.node = e.v), " +
        "comp AS (SELECT node, least(node, min(r)) AS component FROM reach GROUP BY node) " +
        "SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component, " +
        "CASE WHEN coalesce(c.component, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS keep " +
        "FROM docs_cap d LEFT JOIN comp c ON c.node = d.doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_minhash_pairs" -> ((s, d) =>
      minHashPairs(s, d, numHashes = 32, bands = 32, minBandMatches = 2,
        capDocs = 2000)),
    "q_simhash_pairs" -> ((s, d) => simHashPairs(s, d)),
    "q_dedup_clusters" -> ((s, d) => dedupClusters(s, d)))
}
