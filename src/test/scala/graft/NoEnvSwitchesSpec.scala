package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Library code takes its settings as parameters, never from the process
  * environment: an environment read inside a pipeline or operator is a
  * hidden A/B switch that tests and callers cannot see. Only the entry
  * points (`Bench`, `BenchExtra`, `Verify`, `SparkEntry`, `ScalingRun`)
  * read their `SPARK_GRAFT_*` deployment settings.
  */
class NoEnvSwitchesSpec extends AnyFunSuite {
  private val libraryDirs =
    Seq("core", "crawl", "operators", "functions")
      .map(d => new File(s"src/main/scala/graft/$d"))
  private val envReads = Seq("sys.env", "System.getenv", "sys.props")

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("library packages read no environment variables or system properties") {
    libraryDirs.foreach(d => assert(d.isDirectory, s"missing $d"))
    val hits = libraryDirs.flatMap(scalaFiles).flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if envReads.exists(line.contains) =>
          s"${f.getPath}:${i + 1}: ${line.trim}"
      }.toList
      finally src.close()
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
