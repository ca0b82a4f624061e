package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.{sfDir, spark}

/** Every SparkEntry query must produce rows at sf0.001 — a 0-row result
  * passes the driver's weaker rows-only check vacuously and proves
  * nothing (q_embedding_near_dup shipped empty once: its threshold could
  * never fire on this data). Each query must also release every RDD it
  * persisted. Building a query's DataFrame must start no Spark job, save
  * for the named builders whose eager work is inherent. Also pins
  * queries/oracleSql key consistency.
  */
class QueriesSmokeSpec extends AnyFunSuite {

  /** Builders that run Spark jobs by design, each bounded by its job
    * count at sf0.001: collected probe sides, trained IVF/PQ models,
    * connected components, and the whole crawl of q_crawl_loop.
    */
  private val eagerBuilds = Map("q_cosine_topk" -> 1,
    "q_cosine_topk_ivf" -> 2, "q_cosine_topk_lsh" -> 1,
    "q_cosine_topk_pq" -> 4, "q_embedding_near_dup" -> 1,
    "q_dedup_clusters" -> 6, "q_crawl_loop" -> 50)

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name returns rows at sf0.001") {
      // tests run one at a time, so an RDD persisted during this run and
      // still persisted after it is the query's leak
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      assert(fn(spark, sfDir).count() > 0, s"$name is vacuous")
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$name left cached RDDs: " +
        left.map(sc.getPersistentRDDs(_).toDebugString.linesIterator.next()))
    }
  }

  test("building a query starts no Spark job, bar the eager builders") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      val counts = SparkEntry.queries.toSeq.sortBy(_._1).map {
        case (name, fn) =>
          ListenerBusDrain(sc)
          jobs.set(0)
          fn(spark, sfDir)
          ListenerBusDrain(sc)
          (name, jobs.get)
      }
      val over = counts.filter { case (name, n) =>
        n > eagerBuilds.getOrElse(name, 0) }
      assert(over.isEmpty, s"(query, build jobs) over bound: $over")
    } finally sc.removeSparkListener(listener)
  }
}
