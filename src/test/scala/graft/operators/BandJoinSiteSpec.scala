package graft.operators

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Every banded near-dup join (MinHash, Jaccard, SimHash, image and video
  * phash) generates candidates through the one kernel
  * `Dedup.bandedPairs`. A second band self-join would bring back a
  * second pair rule and a copy without the exact-duplicate guard, so
  * this scans the operator sources for joins on the band column.
  */
class BandJoinSiteSpec extends AnyFunSuite {
  private val dir = new File("src/main/scala/graft/operators")
  private val kernelFile = "Dedup.scala"
  private val kernel = "private[operators] def bandedPairs("

  private def lines(f: File): Vector[String] = {
    val src = Source.fromFile(f, "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  test("graft.operators has one band self-join, inside bandedPairs") {
    val files = dir.listFiles().filter(_.getName.endsWith(".scala")).toSeq
    assert(files.exists(_.getName == kernelFile), s"no $kernelFile in $dir")
    val sites = for {
      f <- files
      (l, i) <- lines(f).zipWithIndex
      if l.contains(".join(") && l.contains("\"band\"")
    } yield (f.getName, i)
    val show = sites.map { case (f, i) => s"$f:${i + 1}" }.mkString(", ")
    assert(sites.size === 1, s"band joins at: $show")
    val src = lines(new File(dir, kernelFile))
    val start = src.indexWhere(_.contains(kernel))
    assert(start >= 0, s"no `$kernel` in $kernelFile")
    val end = src.indexWhere(_ == "  }", start)
    assert(sites.head._1 == kernelFile && sites.head._2 > start &&
      sites.head._2 < end, s"band join outside the kernel: $show")
  }
}
