package graft.crawl

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Every crawl stage commits through the one stage runner in
  * `CrawlPipeline`: one place assigns commit seqs, one place appends to
  * the log, and only the runner observes a stage's write. A hand-written
  * stage tail (its own `Observation`, seq and append) would bring back a
  * second commit path with its own fallback, so this scans the source.
  */
class CommitPathSpec extends AnyFunSuite {
  private val file = "src/main/scala/graft/crawl/CrawlPipeline.scala"
  private val runner = "private def runStage["

  private lazy val lines: Vector[String] = {
    val src = Source.fromFile(file, "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  /** Line indices of the member starting at `header`, up to its closing
    * brace at member indentation.
    */
  private def body(header: String): Range = {
    val start = lines.indexWhere(_.contains(header))
    assert(start >= 0, s"no `$header` in $file")
    val end = lines.indexWhere(_ == "  }", start)
    assert(end > start, s"no end of `$header` in $file")
    start to end
  }

  private def sites(token: String): Seq[Int] =
    lines.indices.filter(i => lines(i).contains(token))

  private def show(is: Seq[Int]): String =
    is.map(i => s"$file:${i + 1}: ${lines(i).trim}").mkString("\n")

  test("CrawlPipeline appends commits and assigns seqs in one place each") {
    Seq("log.append(", "log.nextSeq()").foreach { token =>
      val at = sites(token)
      assert(at.size === 1, s"$token at ${at.size} sites:\n${show(at)}")
      assert(body(runner).contains(at.head),
        s"$token outside the stage runner:\n${show(at)}")
    }
  }

  test("only the stage runner observes a stage's write") {
    val at = sites("Observation()")
    assert(at.nonEmpty, "no observed write at all")
    val outside = at.filterNot(body(runner).contains)
    assert(outside.isEmpty, s"Observation outside the runner:\n${show(outside)}")
  }

  test("fetch reads no commit and no table: its inputs are the fetchlist " +
    "and the config trie") {
    // a fetch-time side lookup (the last hostdb, the frontier) would read
    // settings another stage derived from the same trie, stale after a
    // resume with a changed one
    val fetch = body("def fetch(fetchlist: Dataset[CrawlRow]")
    val reads = Seq("""(^|[^\w.])log\.""".r, """spark\.read""".r,
      """\b(readAs|readFrontier|viewOf|frontierState|lastState)\b""".r)
    val at = fetch.filter(i => reads.exists(_.findFirstIn(lines(i)).nonEmpty))
    assert(at.isEmpty, s"fetch reads a commit or a table:\n${show(at)}")
  }

  test("runBatches builds no table path: resume reads what commits name") {
    val loop = body("def runBatches(")
    val paths = loop.filter(i => lines(i).contains("$root/"))
    assert(paths.isEmpty, s"hand-built paths in runBatches:\n${show(paths)}")
  }

  test("every frontier snapshot is written by writeSnapshot, and no stage " +
    "sets a session conf") {
    // a second snapshot writer (or one that tunes the shared session's
    // read settings around its write) is a second compaction path, and a
    // session-global setting leaks into concurrent readers
    val confSets = sites("conf.set(")
    assert(confSets.isEmpty, s"session conf set:\n${show(confSets)}")
    val writes = sites("""partitionBy("bucket")""")
    assert(writes.size === 1,
      s"${writes.size} bucket-partitioned writes:\n${show(writes)}")
    // writeSnapshot is one expression: it ends at the first blank line
    val start = lines.indexWhere(_.contains("private def writeSnapshot("))
    assert(start >= 0, s"no writeSnapshot in $file")
    val end = lines.indexWhere(_.trim.isEmpty, start)
    assert(start < writes.head && writes.head < end,
      s"bucket-partitioned write outside writeSnapshot:\n${show(writes)}")
  }
}
