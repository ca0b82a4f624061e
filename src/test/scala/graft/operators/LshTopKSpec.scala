package graft.operators

import java.io.File
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.SparkTestBase.{sfDir, spark}

/** The LSH top-k is the broadcast-probe scan over the queries' buckets:
  * each query's result is the exact top-k, ranked (sim DESC, vec_id ASC),
  * over the vectors sharing a (table, bucket) with it in any table. Its
  * plan shuffles only for the final rank, and a bucket far above the
  * near-dup join's 512-row cap loses no candidate.
  */
class LshTopKSpec extends AnyFunSuite {
  import spark.implicits._

  private val nTables = 8
  private val planesPerTable = 4

  private def rows(df: DataFrame): Set[(Long, Long, Double, Int)] =
    df.select("query_id", "vec_id", "sim", "rn")
      .as[(Long, Long, Double, Int)].collect().toSet

  /** Test-side LSH top-k: each query's bucket-mates in `vecs`, scored by
    * a left-to-right cosine rounded HALF_UP like SQL round(x, 4), the k
    * best by (sim DESC, vec_id ASC).
    */
  private def reference(vecs: Seq[(Long, Array[Double])], nQueries: Int,
      k: Int): Set[(Long, Long, Double, Int)] = {
    val planes = SimilarityOps.lshPlanes(nTables, planesPerTable,
      vecs.head._2.length)
    val keys = vecs.map { case (id, v) =>
      id -> SimilarityOps.lshKeys(v, planes).toSet }.toMap
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
      val na = math.sqrt(a.foldLeft(0.0)((s, x) => s + x * x))
      val nb = math.sqrt(b.foldLeft(0.0)((s, x) => s + x * x))
      BigDecimal(dot / (na * nb))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    vecs.filter(_._1 < nQueries).flatMap { case (q, qv) =>
      vecs.filter { case (id, _) =>
        id != q && keys(id).exists(keys(q).contains) }
        .map { case (id, v) => (id, cosine(qv, v)) }
        .sortBy { case (id, sim) => (-sim, id) }.take(k).zipWithIndex
        .map { case ((id, sim), i) => (q, id, sim, i + 1) }
    }.toSet
  }

  test("the LSH top-k plan's one shuffle is the rank on query_id") {
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val shuffles = SimilarityOps.cosineTopKLsh(spark, sfDir)
        .queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.size === 1, s"shuffles: ${shuffles.mkString("\n")}")
      val keys = shuffles.head.outputPartitioning match {
        case h: HashPartitioning => h.expressions.collect {
          case a: AttributeReference => a.name }
        case p => fail(s"rank shuffle is not hash-partitioned: $p")
      }
      assert(keys === Seq("query_id"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("LSH top-k equals the top-k over each query's bucket-mates at " +
    "sf0.01") {
    val dir = s"${new File(sfDir).getParent}/sf0.01"
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      .map { case (id, v) => (id, v.map(_.toDouble)) }.toSeq
    val want = reference(vecs, nQueries = 10, k = 5)
    assert(want.size === 50)
    assert(rows(SimilarityOps.cosineTopKLsh(spark, dir)) === want)
  }

  test("a hot bucket of 1,160 rows keeps every candidate: LSH top-k " +
    "equals brute force") {
    // every vector is b + a*c + e*d for orthogonal +-1 patterns b, c, d,
    // so one LSH bucket per table holds nearly all of them. Query q sits
    // at (a, e) = 0.02 * (q % 4, q / 4); 1,100 identical fillers (ids
    // 10-1109) sit between the queries at rounded sim <= 0.9999; each
    // query's 5 nearest (ids 1110 + 5q + j) sit 1e-4 * (j + 1) from it at
    // rounded sim 1.0, far beyond the first 512 ids of the bucket
    def vec(a: Double, e: Double): Array[Float] = Array.tabulate(64) { i =>
      (1.0 + a * (if (i % 2 == 0) 1 else -1) +
        e * (if (i / 2 % 2 == 0) 1 else -1)).toFloat
    }
    def query(q: Int): (Double, Double) = (0.02 * (q % 4), 0.02 * (q / 4))
    val plant = (0 until 10).map(q => (q.toLong, vec(query(q)._1,
      query(q)._2))) ++
      (10 until 1110).map(i => (i.toLong, vec(0.01, 0.01))) ++
      (for (q <- 0 until 10; j <- 0 until 5) yield {
        val (a, e) = query(q)
        ((1110 + 5 * q + j).toLong, vec(a + 1e-4 * (j + 1), e))
      })
    val dir: Path = Files.createTempDirectory("lsh-hot-bucket")
    try {
      plant.map { case (id, v) => (id, v, 0) }
        .toDF("vec_id", "embedding", "label")
        .write.parquet(s"$dir/embeddings.parquet")
      val planes = SimilarityOps.lshPlanes(nTables, planesPerTable, 64)
      val biggest = plant.flatMap { case (_, v) =>
        SimilarityOps.lshKeys(v.map(_.toDouble), planes) }
        .groupBy(identity).values.map(_.size).max
      assert(biggest > 512, s"largest bucket holds only $biggest rows")
      val exact = rows(SimilarityOps.cosineTopK(spark, dir.toString))
      assert(exact.size === 50 && exact.forall(_._2 >= 1110L),
        s"a query's best match lies in the first id window: $exact")
      assert(rows(SimilarityOps.cosineTopKLsh(spark, dir.toString)) === exact)
    } finally {
      val paths = Files.walk(dir)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
      finally paths.close()
    }
  }
}
