package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Round-7 optimization harness (guide §1: measure first, noop-sink
  * isolation, plan capture). NOT part of the driver contract — Bench.scala
  * is the frozen measurement surface; this main exists so before/after
  * numbers and `.explain("formatted")` dumps can be produced per query
  * without paying the full Bench protocol (crawl scaling pairs) each time.
  *
  * Usage (sbt):
  *   runMain graft.BenchExtra [--plans <dir>] [--reps N] [--noop] [q_name ...]
  *
  * - default sink is `count()` — the same action Bench times; `--noop`
  *   switches to `df.write.format("noop")` which computes every column
  *   (guide §1.4) for sink-isolated timing;
  * - `--plans <dir>` writes <dir>/<name>.txt with explain("formatted");
  * - with no query names, runs every SparkEntry.queries entry sorted.
  * Emits one JSON line: {"queries":{name:[sec,...]},"build_s":{name:[sec,
  * ...]},"build_jobs":{name:[n,...]},"reps":N,"sink":...}, one value per
  * rep: the total (build + action), the part spent building the
  * DataFrame, and the Spark jobs started while it was built (eager driver
  * work such as a collected probe side or a trained model).
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    var plansDir: Option[String] = None
    var reps = 1
    var noop = false
    val names = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--plans" => plansDir = Some(args(i + 1)); i += 2
        case "--reps" => reps = args(i + 1).toInt; i += 2
        case "--noop" => noop = true; i += 1
        case q => names += q; i += 1
      }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val all = SparkEntry.queries
    val run = (if (names.isEmpty) all.keys.toSeq.sorted
               else names.toSeq).map(n => n -> all(n))

    plansDir.foreach { d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      run.foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(d, s"$name.txt"), plan)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench-extra] plan for $name failed: $e")
        }
      }
    }

    // jobs started under each build's job group; complete once stop()
    // has drained the listener bus
    val sc = spark.sparkContext
    val buildJobs = new ConcurrentHashMap[String, Integer]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => buildJobs.merge(g, 1, (a, b) => a + b))
    })
    val results = run.map { case (name, fn) =>
      val samples = (1 to reps).map { rep =>
        sc.setJobGroup(s"build:$name:$rep", name)
        val t0 = System.nanoTime()
        var t1 = t0
        val ok =
          try {
            val df = fn(spark, sfDir)
            t1 = System.nanoTime()
            sc.setJobGroup(s"run:$name:$rep", name)
            if (noop) df.write.format("noop").mode("overwrite").save()
            else df.count(): Unit
            true
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench-extra] $name failed: $e"); false
          }
        if (ok) ((System.nanoTime() - t0) / 1e9, (t1 - t0) / 1e9)
        else (-1.0, -1.0)
      }
      sc.clearJobGroup()
      name -> samples
    }
    spark.stop()
    def obj(f: (String, Int, (Double, Double)) => String) =
      results.map { case (k, v) =>
        "\"" + k + "\":" + v.zipWithIndex.map { case (x, i) =>
          f(k, i + 1, x) }.mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    val qs = obj((_, _, x) => f"${x._1}%.3f")
    val bs = obj((_, _, x) => f"${x._2}%.3f")
    val js = obj((k, rep, _) =>
      buildJobs.getOrDefault(s"build:$k:$rep", 0).toString)
    println(s"""EXTRA{"queries":$qs,"build_s":$bs,"build_jobs":$js,""" +
      s""""reps":$reps,"sink":"${if (noop) "noop" else "count"}",""" +
      s""""sf":"$sfDir"}""")
    Runtime.getRuntime.halt(0)
  }
}
