package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Field-extraction rule engine (C4/C6 — reference:
  * parse/element/colrule/RegexRule.java:40-185, the
  * `field~start~end~regex~subst~delTag~calc` DSL, and
  * colrule/DateCalcUtil.java:11-111 date arithmetic).
  *
  * A rule compiles to a Catalyst Column (regexp_extract + try_cast) — the
  * whole ruleset is one codegen'd projection, no UDF, no per-row
  * interpreter (the reference interprets the DSL per row per rule).
  */
final case class FieldRule(
    field: String,
    pattern: String,
    group: Int = 1,
    castTo: String = "string") // string | int | long | double | timestamp

object ExtractOps {

  def compile(textCol: Column, r: FieldRule): Column = {
    val raw = regexp_extract(textCol, r.pattern, r.group)
    val casted = r.castTo match {
      case "string" => raw
      // empty-match guard: ANSI mode (Spark 4 default) makes cast('')
      // throw; the pattern guarantees digits-or-empty
      case t => when(raw === "", lit(null)).otherwise(raw.cast(t))
    }
    casted.as(r.field)
  }

  def applyRules(df: DataFrame, textCol: String, idCols: Seq[String],
      rules: Seq[FieldRule]): DataFrame =
    df.select(idCols.map(col) ++ rules.map(r => compile(col(textCol), r)): _*)

  /** Oracle-checked extraction over `documents`: the reference's
    * column-rule shapes (keyword pick, positional capture, numeric cast).
    */
  def fieldExtract(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
    applyRules(docs, "text", Seq("doc_id"), Seq(
      FieldRule("op", "(scan|join|merge|sort)"),
      FieldRule("after_the", "the ([a-z]+)"),
      FieldRule("first_num", "([0-9]+)", 1, "long")))
  }

  /** C5: block/row/column list extraction (reference
    * parse/element/colrule/ListSegmentRule.java:28-329 +
    * RegexListRule.java:19-121 — the 要素 rule engine's 3-level shape:
    * a block regex selects the region, a row regex iterates matches
    * within it, column rules extract fields per row; results keep row
    * order). Compiled to pure Catalyst columns: regexp_extract (block) ->
    * regexp_extract_all (rows) -> posexplode -> per-column regexp_extract.
    * The whole rule is one codegen'd projection + one Generate — no UDF,
    * no per-row rule interpreter (the reference interprets the rule DSL
    * row by row).
    */
  final case class ListRule(
      block: String, // regex whose group 1 is the region
      row: String, // regex; each non-overlapping match is one row
      cols: Seq[(String, Int)]) // output column name -> row-regex group

  def applyListRule(df: DataFrame, textCol: String, idCols: Seq[String],
      rule: ListRule): DataFrame = {
    val block = regexp_extract(col(textCol), rule.block, 1)
    val rows = regexp_extract_all(block, lit(rule.row), lit(0))
    df.select(idCols.map(col) :+ posexplode(rows): _*)
      .select(idCols.map(col) ++
        Seq((col("pos") + 1).cast("long").as("idx")) ++
        rule.cols.map { case (name, g) =>
          regexp_extract(col("col"), rule.row, g).as(name)
        }: _*)
  }

  /** Oracle-checked list extraction over `documents`: rows are
    * "op argument" phrases inside the block starting at the first `scan`.
    */
  def listExtract(s: SparkSession, dir: String): DataFrame =
    applyListRule(Tables.read(s, dir, "documents"), "text",
      Seq("doc_id"),
      ListRule("(scan.*)", "(scan|join|merge|sort) ([a-z]+)",
        Seq("op" -> 1, "arg" -> 2)))

  /** C7/C5 in full: DOM-WALKING list extraction (reference
    * parse/element/DomListSegmentRule.java:31-440 — block node located in
    * the DOM, repeated row nodes, per-row column values via node walks —
    * vs the regex ListRule above which re-expresses RegexListRule).
    *
    * Oracle strategy (same pattern as q_media_stats): each document
    * renders a deterministic HTML page from its OWN tokens — full of
    * real-web quirks (single/unquoted attributes, implied </li>, nested
    * inline tags, a decoy list, entity encoding) — and Spark must recover
    * (name, link) per row through Dom.parse + DomListRule; DuckDB
    * recomputes the expected values directly from the tokens. A wrong
    * tree build, selector match, or walk order hash-mismatches.
    */
  def domListExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rule = graft.crawl.Dom.DomListRule("ul.items", "li", Seq(
      graft.crawl.Dom.DomColRule("name", "span.name"),
      graft.crawl.Dom.DomColRule("link", "a", Some("href"))))
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        rule.extract(renderItemsPage(id, text)).zipWithIndex.map {
          case (cols, i) => (id, i, cols.head, cols(1))
        }
      }
      .toDF("doc_id", "pos", "name", "link")
  }

  /** Deterministic per-document fixture page: first 5 tokens as list
    * rows, written with the attribute/closing quirks of real HTML.
    */
  private[graft] def renderItemsPage(docId: Long, text: String)
      : String = {
    val toks = text.split(" ").filter(_.nonEmpty).take(5)
    val sb = new StringBuilder("<html><body>")
    sb.append("<ul class='other'><li><span class=name>decoy</span>")
    sb.append("<a href='/decoy'>d</a></li></ul>")
    sb.append("<ul class=\"items\" data-n=").append(toks.length).append(">")
    toks.zipWithIndex.foreach { case (t, i) =>
      sb.append("<li id=").append(i + 1).append("><span class='name'><b>")
        .append(graft.crawl.Parse.encodeEntities(t))
        .append("</b></span>")
        .append("<a href=/item/").append(i + 1).append("?d=").append(docId)
        .append(" rel=x>go</a>") // implied </li>
    }
    sb.append("</ul><p>tail</p></body></html>")
    sb.toString
  }

  /** C6 date parsing/arithmetic (DateCalcUtil `sysdate(+-n)` analogs):
    * interval add, truncation, field extraction.
    */
  def dateCalc(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "events").select(
      col("event_id"),
      (col("ts") + expr("INTERVAL 1 DAY")).as("next_day"),
      date_trunc("day", col("ts")).cast("date").as("day"), // DuckDB yields DATE
      hour(col("ts")).cast("long").as("hr"), // DuckDB extract() is BIGINT
      datediff(lit("2024-02-01").cast("date"), col("ts").cast("date"))
        .cast("long").as("days_to_feb"))

  /** F3 normalize rules as an oracle-gated query: messy URLs synthesized
    * deterministically from doc_id run through the SAME NormalizeRules
    * engine the pipeline uses (session-param strip + default-page
    * collapse); DuckDB replays the regex chain. The rule regexes are
    * written in the Java-regex/RE2 common subset so both engines agree.
    */
  def normalizeUrl(s: SparkSession, dir: String): DataFrame = {
    val rules = graft.core.NormalizeRules.parse(Seq(
      "&phpsessid=[^&#]*~",
      "/(index|default)\\.html\\?~/?"))
    val norm = udf((u: String) => rules(u))
    Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        concat(lit("http://h"), (col("doc_id") % 50).cast("string"),
          lit(".example/"),
          when(col("doc_id") % 3 === 0, lit("index.html"))
            .otherwise(lit("page.html")),
          lit("?q="), col("doc_id").cast("string"),
          lit("&phpsessid=s"), col("doc_id").cast("string")).as("raw_url"))
      .withColumn("url", norm(col("raw_url")))
  }

  val oracles: Map[String, String] = Map(
    "q_normalize_url" ->
      ("WITH raw AS (SELECT doc_id, 'http://h' || (doc_id % 50) || " +
        "'.example/' || CASE WHEN doc_id % 3 = 0 THEN 'index.html' " +
        "ELSE 'page.html' END || '?q=' || doc_id || '&phpsessid=s' || " +
        "doc_id AS raw_url FROM documents) " +
        "SELECT doc_id, raw_url, regexp_replace(regexp_replace(raw_url, " +
        "'&phpsessid=[^&#]*', '', 'g'), '/(index|default)\\.html\\?', " +
        "'/?', 'g') AS url FROM raw"),
    "q_field_extract" ->
      ("SELECT doc_id, regexp_extract(text, '(scan|join|merge|sort)', 1) AS op, " +
        "regexp_extract(text, 'the ([a-z]+)', 1) AS after_the, " +
        "TRY_CAST(regexp_extract(text, '([0-9]+)', 1) AS BIGINT) AS first_num " +
        "FROM documents"),
    "q_date_calc" ->
      ("SELECT event_id, ts + INTERVAL 1 DAY AS next_day, " +
        "date_trunc('day', ts) AS day, extract(hour FROM ts) AS hr, " +
        "datediff('day', ts::DATE, DATE '2024-02-01') AS days_to_feb " +
        "FROM events"),
    "q_list_extract" ->
      ("WITH b AS (SELECT doc_id, regexp_extract(text, '(scan.*)', 1) AS blk FROM documents), " +
        "r AS (SELECT doc_id, regexp_extract_all(blk, '(scan|join|merge|sort) ([a-z]+)') AS rows_ FROM b) " +
        "SELECT doc_id, idx, " +
        "regexp_extract(row_, '(scan|join|merge|sort) ([a-z]+)', 1) AS op, " +
        "regexp_extract(row_, '(scan|join|merge|sort) ([a-z]+)', 2) AS arg FROM (" +
        "SELECT doc_id, unnest(rows_) AS row_, unnest(range(1, len(rows_) + 1)) AS idx FROM r)"),
    "q_dom_list_extract" ->
      ("WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents) " +
        "SELECT doc_id, CAST(i - 1 AS INT) AS pos, t[i] AS name, " +
        "'/item/' || i || '?d=' || doc_id AS link " +
        "FROM toks, unnest(range(1, least(len(t), 5) + 1)) AS u(i)"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_normalize_url" -> normalizeUrl _,
    "q_field_extract" -> fieldExtract _,
    "q_date_calc" -> dateCalc _,
    "q_list_extract" -> listExtract _,
    "q_dom_list_extract" -> domListExtract _)
}
