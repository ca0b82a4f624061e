package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.{sfDir, spark}

/** Every SparkEntry query must produce rows at sf0.001 — a 0-row result
  * passes the driver's weaker rows-only check vacuously and proves
  * nothing (q_embedding_near_dup shipped empty once: its threshold could
  * never fire on this data). Each query must also release every RDD it
  * persisted. Also pins queries/oracleSql key consistency.
  */
class QueriesSmokeSpec extends AnyFunSuite {

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
}
