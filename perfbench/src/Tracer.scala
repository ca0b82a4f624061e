package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Per-layer counters of one label (a crawl stage or an operator module). */
final class LayerStats {
  var jobs = 0L
  var tasks = 0L
  var rowsRead = 0L
  var shuffleBytes = 0L
  var cpuNs = 0L
  var gcMs = 0L
}

/** A time interval of Spark work attributed to one label. */
final case class Interval(label: String, start: Long, end: Long)

/** Attributes every Spark job to a layer without any hook in the program.
  *
  * A job belongs to the SQL execution it runs under; the execution's call
  * site (`SparkListenerSQLExecutionStart.details`, a stack of up to
  * `spark.callstack.depth` frames) names the public `CrawlPipeline` stage
  * method or the operator module that issued it. Jobs outside any SQL
  * execution fall back to their first stage's call site. When the
  * benchmark itself runs a query it sets a job group, and that group wins,
  * since the call site of a lazy query's action is the benchmark's own
  * code.
  */
final class Tracer extends SparkListener {
  import Tracer.labelOfCallSite
  @volatile var active = false
  private val execLabel = mutable.Map[Long, String]()
  private val execStart = mutable.Map[Long, Long]()
  private val jobLabel = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageJob = mutable.Map[Int, Int]()
  val stats = mutable.Map[String, LayerStats]()
  private val intervals = mutable.ArrayBuffer[Interval]()

  /** Forgets everything recorded; called between passes, when no job runs. */
  def reset(): Unit = synchronized {
    Seq(execLabel, execStart, jobLabel, jobStart, stageJob, stats).foreach(_.clear())
    intervals.clear()
  }

  private def layer(label: String): LayerStats =
    stats.getOrElseUpdate(label, new LayerStats)

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    if (active) event match {
      case e: SparkListenerSQLExecutionStart =>
        val group = e.jobGroupId.filter(_.startsWith(Tracer.GroupPrefix))
        execLabel(e.executionId) =
          group.map(_.stripPrefix(Tracer.GroupPrefix))
            .getOrElse(labelOfCallSite(e.details))
        execStart(e.executionId) = e.time
      case e: SparkListenerSQLExecutionEnd =>
        for (l <- execLabel.remove(e.executionId);
             s <- execStart.remove(e.executionId))
          intervals += Interval(l, s, e.time)
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (active) {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(Tracer.GroupPrefix))
        .map(_.stripPrefix(Tracer.GroupPrefix))
      val exec = props.flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val label = group
        .orElse(exec.flatMap(execLabel.get))
        .getOrElse(labelOfCallSite(e.stageInfos.headOption.map(_.details).getOrElse("")))
      jobLabel(e.jobId) = label
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      if (exec.isEmpty) jobStart(e.jobId) = e.time
      layer(label).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (s <- jobStart.remove(e.jobId); l <- jobLabel.get(e.jobId))
      intervals += Interval(l, s, e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); l <- jobLabel.get(j);
         m <- Option(e.taskMetrics)) {
      val st = layer(l)
      st.tasks += 1
      st.rowsRead += m.inputMetrics.recordsRead +
        m.shuffleReadMetrics.recordsRead
      st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
    }
  }

  /** Consecutive intervals of one label merged into spans, in time order. */
  def spans(): Seq[Interval] = synchronized {
    val out = mutable.ArrayBuffer[Interval]()
    intervals.sortBy(_.start).foreach { iv =>
      if (out.nonEmpty && out.last.label == iv.label)
        out(out.length - 1) =
          out.last.copy(end = math.max(out.last.end, iv.end))
      else out += iv
    }
    out.toSeq
  }
}

object Tracer {
  val GroupPrefix = "perfbench:"

  val Stages = Seq("inject", "generate", "fetch", "parse", "payloads",
    "updatedb", "hostdb", "compact")
  val Modules = Seq("RelationalOps", "TextOps", "SimilarityOps", "Dedup",
    "MultimodalOps", "ExtractOps", "SamplingOps", "PackingOps")

  private val Frame = """^\s*(?:at\s+)?([\w.$]+)\.([\w$]+)\(""".r.unanchored

  /** The innermost public crawl stage or operator module in a call site;
    * `loop` for work of `runBatches` itself outside any stage, `other`
    * otherwise (the benchmark's own output checks, for one).
    */
  def labelOfCallSite(details: String): String = {
    val frames = details.split("\n").iterator.flatMap {
      case Frame(cls, method) => Some((cls, method))
      case _ => None
    }
    var inLoop = false
    for ((cls, method) <- frames) {
      if (cls == "graft.crawl.CrawlPipeline") {
        val names = method.split('$')
        names.find(Stages.contains) match {
          case Some(stage) => return stage
          case None => inLoop ||= names.contains("runBatches")
        }
      } else if (cls.startsWith("graft.operators.")) {
        val m = cls.stripPrefix("graft.operators.").stripSuffix("$")
        if (Modules.contains(m)) return m
      }
    }
    if (inLoop) "loop" else "other"
  }
}
