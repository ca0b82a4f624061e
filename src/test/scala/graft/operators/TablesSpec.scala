package graft.operators

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.{sfDir, spark}

/** The schemas `Tables` pins are the ones Spark infers from the harness
  * files — names, types, nullability and element types — in every data
  * directory the operators run on, so reading with them changes no query.
  * And `Tables.read` is the only table reader in `graft.operators`: a
  * second, schema-less read would bring back the footer-inference job per
  * read.
  */
class TablesSpec extends AnyFunSuite {
  private val testdata = new File(sfDir).getParent
  private val dataDirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(sf => sf -> s"$testdata/$sf") :+ ("perfbench" -> "perfbench/data")

  dataDirs.foreach { case (label, dir) =>
    test(s"pinned schemas equal the inferred ones in $label") {
      assert(Tables.schemas.keySet === Set("customer", "documents",
        "embeddings", "events", "lineitem", "nation", "orders"))
      Tables.schemas.toSeq.sortBy(_._1).foreach { case (name, pinned) =>
        val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
        assert(inferred === pinned, s"$dir/$name")
      }
    }
  }

  test("graft.operators reads tables only through Tables.read") {
    val dir = new File("src/main/scala/graft/operators")
    val files = dir.listFiles().filter(_.getName.endsWith(".scala")).toSeq
    val sites = for {
      f <- files
      (l, i) <- {
        val src = Source.fromFile(f, "UTF-8")
        try src.getLines().toVector finally src.close()
      }.zipWithIndex
      if l.contains(".read.")
    } yield s"${f.getName}:${i + 1}"
    assert(sites.size === 1 && sites.head.startsWith("Tables.scala:"),
      s"table reads at: ${sites.mkString(", ")}")
  }
}
