package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.spark

/** Gates for the SQL-facing function registrations: each registered
  * kernel must agree bit-for-bit with its Scala-API counterpart when
  * called through `spark.sql`.
  */
class GraftFunctionsSpec extends AnyFunSuite {
  import spark.implicits._

  GraftFunctions.register(spark)

  test("url functions agree with core.Urls through SQL") {
    Seq(("http://WWW.Example.COM:80/a/../b.html#frag", 1))
      .toDF("url", "x").createOrReplaceTempView("t_urls")
    val row = spark.sql(
      """SELECT graft_canonicalize(url) AS c,
        |       graft_host(graft_canonicalize(url)) AS h,
        |       graft_domain(graft_host(graft_canonicalize(url))) AS d,
        |       graft_url_hash(graft_canonicalize(url)) AS k
        |FROM t_urls""".stripMargin).head()
    assert(row.getString(0) === "http://www.example.com/b.html")
    assert(row.getString(1) === "www.example.com")
    assert(row.getString(2) === "example.com")
    assert(row.getLong(3) ===
      graft.core.Urls.urlHash("http://www.example.com/b.html"))
    // invalid URL canonicalizes to NULL, not an exception
    assert(spark.sql("SELECT graft_canonicalize('not a url')").head()
      .isNullAt(0))
  }

  test("dedup/text kernels agree with their Scala forms through SQL") {
    Seq("the quick brown fox jumps over the lazy dog")
      .toDF("text").createOrReplaceTempView("t_text")
    val row = spark.sql(
      """SELECT graft_simhash(text), graft_fingerprint(text),
        |       graft_langid(text), graft_minhash(text, 8, 3)
        |FROM t_text""".stripMargin).head()
    val t = "the quick brown fox jumps over the lazy dog"
    assert(row.getLong(0) === graft.operators.Dedup.simHash(t))
    assert(row.getLong(1) === graft.operators.TextOps.fingerprint(t))
    assert(row.getString(2) === "en")
    assert(row.getSeq[Long](3) ===
      graft.operators.Dedup.minHashSignature(t, 8, 3).toSeq)
  }

  test("graft_langid, detectLang and langIdCol agree on CJK Ext-A and " +
    "supplementary-plane text") {
    import graft.operators.TextOps
    // Ext-A and Ext-B ideographs lie outside the U+4E00..U+9FFF zh rule;
    // a supplementary code point counts once in the length, not twice
    val texts = Seq("㐀㐀㐀", "𠀀𠀀𠀀", "中😀😀😀😀", "中😀😀😀😀😀",
      "中文 the and 😀", "这是一个中文句子")
    val df = texts.toDF("text")
    df.createOrReplaceTempView("t_lang")
    val bySql = spark.sql("SELECT text, graft_langid(text) FROM t_lang")
      .as[(String, String)].collect().toMap
    val byCol = df.select($"text", TextOps.langIdCol($"text"))
      .as[(String, String)].collect().toMap
    texts.foreach { t =>
      val jvm = TextOps.detectLang(t)
      assert((bySql(t), byCol(t)) === ((jvm, jvm)), t)
    }
    assert(TextOps.detectLang("㐀㐀㐀") === "und")
    assert(TextOps.detectLang("中😀😀😀😀") === "zh")
  }

  test("html extraction through SQL handles real-web attribute styles") {
    Seq("""<html><a href='/x.html'>go</a><img src=i.png alt='c'></html>""")
      .toDF("html").createOrReplaceTempView("t_html")
    val links = spark.sql(
      "SELECT graft_extract_links(html, 'http://h.example/d/') FROM t_html")
      .head().getSeq[Seq[String]](0)
    assert(links === Seq(
      Seq("http://h.example/x.html", "go"),
      Seq("http://h.example/d/i.png", "c")))
    val text = spark.sql("SELECT graft_extract_text(html) FROM t_html")
      .head().getString(0)
    assert(text === "go")
  }

  test("multi-format parse dispatch through SQL (json/pdf/unknown)") {
    Seq(
      ("http://a.example/d.json", "application/json",
        """{"k":"sql json text","next":"http://a.example/n"}"""
          .getBytes("UTF-8")),
      ("http://a.example/doc.pdf", "application/pdf",
        ("%PDF-1.1\n1 0 obj <</Length 20>> stream\n" +
          "BT (sql pdf text) Tj ET\nendstream endobj\n%%EOF\n")
          .getBytes("ISO-8859-1")),
      ("http://a.example/b.bin", "application/octet-stream",
        Array[Byte](1, 2, 3)))
      .toDF("url", "ct", "body").createOrReplaceTempView("t_docs")
    val rows = spark.sql(
      "SELECT url, graft_parse_text(url, ct, body) AS txt, " +
        "graft_parse_links(url, ct, body) AS links FROM t_docs ORDER BY url")
      .collect()
    // url sort order: b.bin < d.json < doc.pdf
    assert(rows(0).isNullAt(1) && rows(0).isNullAt(2)) // no parser
    assert(rows(1).getString(1) === "sql json text")
    assert(rows(1).getSeq[Seq[String]](2) ===
      Seq(Seq("http://a.example/n", "next")))
    assert(rows(2).getString(1) === "sql pdf text")
  }
}
