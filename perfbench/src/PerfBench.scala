package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.sql.SparkSession

/** Benchmark main. Usage:
  *
  *   PerfBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --bench <perfbench dir> --work <work dir> --out <result file>
  *   PerfBench --selftest --bench <dir> --work <dir> --out <file>
  *
  * One cold pass (part of `setup_s`), then passes until `--seconds` have
  * been measured. With `--trace 1`, untraced and traced passes alternate
  * and the per-layer metrics of the traced ones are reported. Host
  * telemetry for every pass goes to stderr as a diagnostic.
  */
object PerfBench {
  val DefaultSeed = 1L
  private val MB = 1e6

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.stripPrefix("--") -> v
    }.toMap
    val bench = Paths.get(opts("bench"))
    val work = Paths.get(opts("work"))
    val out = Paths.get(opts("out"))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .config("spark.callstack.depth", "200")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val result =
        if (args.contains("--selftest")) SelfTest.run(spark, bench, work)
        else run(spark, opts, bench, work, t0, cores)
      Files.writeString(out, result)
    } finally spark.stop()
  }

  private def readPins(f: Path): Map[String, String] =
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f).asScala.map(_.split("\t"))
      .collect { case Array(k, v) => k -> v }.toMap

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def run(spark: SparkSession, opts: Map[String, String], bench: Path,
      work: Path, t0: Long, cores: Int): String = {
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val expected = bench.resolve("expected")
    val seenPins = readPins(expected.resolve("crawl_seen.tsv"))
    val wl: Workload = name match {
      case "crawl_fetch_heavy" =>
        new CrawlWorkload(spark, work.resolve(name), CrawlSpec.FetchHeavy, seed,
          if (seed == DefaultSeed) seenPins.get(name) else None,
          digestSeen = seed == DefaultSeed)
      case "corpus_queries" =>
        new CorpusWorkload(spark, bench.resolve("data").toString, seed,
          readPins(expected.resolve("corpus_digests.tsv")), cores)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)

    var attempted = 0
    var failed = 0
    val failures = Vector.newBuilder[String]
    def record(ops: Int, bad: Int, msgs: Seq[String]): Unit = {
      attempted += ops; failed += bad; failures ++= msgs
    }
    def timedPass(): Option[PassResult] = {
      val before = Host.sample()
      val r = try Right(wl.pass()) catch { case e: Exception => Left(e) }
      tracer.foreach(t => BusDrain(spark.sparkContext))
      val after = Host.sample()
      r match {
        case Right(p) =>
          record(p.attempted, p.failed, p.failures)
          System.err.println(f"""perfbench-sample {"workload":"$name","wall_s":${p.wallS}%.4f,""" +
            f""""traced":${tracer.exists(_.active)},${Host.between(before, after)}}""")
          Some(p).filter(_.failed == 0)
        case Left(e) =>
          record(1, 1, Seq(s"pass threw $e"))
          None
      }
    }

    // cold pass: JIT, codegen and the first file-system walk
    val w0 = System.nanoTime()
    try {
      val (ops, msgs) = wl.warmUp()
      record(ops, msgs.size, msgs)
    } catch { case e: Exception => record(1, 1, Seq(s"cold pass threw $e")) }
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"perfbench-warmup ${(System.nanoTime() - w0) / 1e9}%.2f s, setup $setupS%.2f s")
    val plain = Vector.newBuilder[PassResult]
    val withTrace = Vector.newBuilder[(PassResult, Map[String, Double])]
    val start = System.nanoTime()
    // a traced run brackets its traced pass with untraced ones, so the
    // overhead estimate is not skewed by the JIT still warming
    val minPasses = if (traced) 3 else 1
    var i = 0
    while (i < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val tracing = tracer.isDefined && i % 2 == 1
      tracer.foreach { t => t.reset(); t.active = tracing }
      timedPass().foreach { p =>
        if (tracing) withTrace += p -> Layers.of(tracer.get, p)
        else plain += p
      }
      tracer.foreach(_.active = false)
      i += 1
    }
    val passes = plain.result()
    failures.result().take(20).foreach(f => System.err.println(s"perfbench-failure $f"))
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val rss = Host.peakRssBytes()
        Seq(("setup_s", setupS, "s"),
          ("pass_s", median(passes.map(_.wallS)), "s"),
          ("rate_per_s", median(passes.map(_.rate)), "1/s"),
          ("store_mb", median(passes.map(_.storeBytes.toDouble)) / MB, "MB"),
          ("peak_rss_mb", rss / MB, "MB"))
      } else {
        val layers = withTrace.result()
        val names = Layers.names
        val overhead =
          if (passes.isEmpty || layers.isEmpty) 0.0
          else median(layers.map(_._1.wallS)) / median(passes.map(_.wallS)) - 1
        names.map { case (n, unit) =>
          if (n == "tracing.overhead_frac") (n, overhead, unit)
          else (n, median(layers.map(_._2.getOrElse(n, 0.0))), unit)
        }
      }
    val ms = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    writeDigests(work, name, wl)
    s"""{"correct": ${failed == 0}, "attempted": ${math.max(attempted, 1)}, """ +
      s""""failed": $failed, "metrics": {$ms}}"""
  }

  /** The last computed digests, for pinning after an oracle check. */
  private def writeDigests(work: Path, name: String, wl: Workload): Unit = wl match {
    case c: CorpusWorkload =>
      Files.write(work.resolve("corpus_digests.tsv"),
        c.lastDigests.toSeq.sorted.map { case (k, v) => s"$k\t$v" }.asJava)
    case c: CrawlWorkload if c.lastSeenDigest.nonEmpty =>
      Files.writeString(work.resolve("crawl_seen.tsv"),
        s"$name\t${c.lastSeenDigest}\n")
    case _ =>
  }
}

/** Per-layer metrics of one traced pass. */
object Layers {
  private val StageFields = Seq("wall_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "rows_read" -> "count", "shuffle_mb" -> "MB",
    "cpu_s" -> "s", "gc_s" -> "s")
  private val ModuleFields = Seq("build_s" -> "s", "exec_s" -> "s",
    "jobs" -> "count", "shuffle_mb" -> "MB", "cpu_s" -> "s")

  val names: Seq[(String, String)] =
    Tracer.Stages.flatMap(s => StageFields.map { case (f, u) => s"$s.$f" -> u }) ++
      Seq("loop.driver_gap_s" -> "s", "loop.jobs_per_batch" -> "count",
        "generate.rows_read_per_selected" -> "ratio",
        "updatedb.rows_read_per_written" -> "ratio",
        "cache.leaked_rdds" -> "count") ++
      Tracer.Modules.flatMap(m => ModuleFields.map { case (f, u) => s"$m.$f" -> u }) ++
      CorpusWorkload.TracedQueries.map(q => s"$q.wall_s" -> "s") ++
      Seq("tracing.overhead_frac" -> "ratio")

  def of(t: Tracer, p: PassResult): Map[String, Double] = {
    val spans = t.spans()
    val stats = t.stats
    def stat(l: String, f: LayerStats => Long) = stats.get(l).map(f).getOrElse(0L).toDouble
    val m = scala.collection.mutable.Map[String, Double]()
    for (l <- Tracer.Stages ++ Tracer.Modules) {
      m(s"$l.jobs") = stat(l, _.jobs)
      m(s"$l.tasks") = stat(l, _.tasks)
      m(s"$l.rows_read") = stat(l, _.rowsRead)
      m(s"$l.shuffle_mb") = stat(l, _.shuffleBytes) / 1e6
      m(s"$l.cpu_s") = stat(l, _.cpuNs) / 1e9
      m(s"$l.gc_s") = stat(l, _.gcMs) / 1e3
      m(s"$l.wall_s") = spans.filter(_.label == l).map(s => s.end - s.start).sum / 1e3
    }
    m("cache.leaked_rdds") = p.layer.getOrElse("leaked_rdds", 0.0)
    p.layer.get("crawl_start").foreach { cs =>
      val ce = p.layer("crawl_end")
      val covered = spans.filter(s => Tracer.Stages.contains(s.label) &&
        s.start >= cs && s.end <= ce).map(s => s.end - s.start).sum
      m("loop.driver_gap_s") = (ce - cs - covered) / 1e3
      val loopJobs = (Tracer.Stages.filterNot(Set("inject", "compact")) :+ "loop")
        .map(stat(_, _.jobs)).sum
      m("loop.jobs_per_batch") = loopJobs / math.max(1.0, p.layer("batches"))
      m("generate.rows_read_per_selected") =
        stat("generate", _.rowsRead) / math.max(1.0, p.layer("generated"))
      m("updatedb.rows_read_per_written") =
        stat("updatedb", _.rowsRead) / math.max(1.0, p.layer("written"))
    }
    p.layer.foreach { case (k, v) =>
      if (k.endsWith(".build_s") || k.endsWith(".exec_s") || k.endsWith(".wall_s"))
        m(k) = v
    }
    m.toMap
  }
}

/** Host telemetry: steal share of CPU time, load average, resident memory. */
object Host {
  final case class Sample(steal: Long, total: Long)

  def sample(): Sample = {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).asScala
      .find(_.startsWith("cpu ")).map(_.split("\\s+").drop(1).map(_.toLong))
      .getOrElse(Array.fill(8)(0L))
    Sample(if (cpu.length > 7) cpu(7) else 0L, cpu.sum)
  }

  def between(a: Sample, b: Sample): String = {
    val steal = (b.steal - a.steal).toDouble / math.max(1L, b.total - a.total)
    val load = Files.readString(Paths.get("/proc/loadavg")).split(" ").head
    f""""steal_frac":$steal%.4f,"loadavg1":$load"""
  }

  def peakRssBytes(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble * 1024)
      .getOrElse(0.0)
}
