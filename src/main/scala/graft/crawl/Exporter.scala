package graft.crawl

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Export sink (S8 — reference exporter/DbExporter.java:21-165,
  * SegmentExporterJob.java:58-128: WebPageSegment rows -> RDBMS with
  * auto-ALTERed columns per extracted field; TableMeta.java column sync).
  *
  * Spark-native form: the "extracted fields" map pivots into real columns;
  * `exportJdbc` writes through `df.write.jdbc` against a LIVE database,
  * ALTERing the target table for columns it doesn't have yet (round-trip
  * tested against an embedded DuckDB over its JDBC driver).
  */
object Exporter {

  /** Distinct field names become columns — bounded by construction (they
    * are extraction-rule outputs, not data), but guard against a corrupt
    * input exploding the driver collect / the output schema.
    */
  val MaxWidenColumns = 10000

  /** Pivot a (id, map<string,string>) segment table into a wide table with
    * one column per field key — dynamic schema like the reference's
    * TableMeta ALTER flow.
    */
  def widen(segments: DataFrame, idCol: String, mapCol: String): DataFrame = {
    val keys = segments
      .select(explode(map_keys(col(mapCol))).as("k"))
      .distinct().limit(MaxWidenColumns + 1)
      .collect().map(_.getString(0)).sorted
    require(keys.length <= MaxWidenColumns,
      s"widen: more than $MaxWidenColumns distinct field names — " +
        "field names look like data, not extraction-rule outputs")
    segments.select(
      col(idCol) +: keys.map(k => col(mapCol).getItem(k).as(k)): _*)
  }

  private def jdbcTypeOf(dt: org.apache.spark.sql.types.DataType): String =
    dt match {
      case org.apache.spark.sql.types.LongType => "BIGINT"
      case org.apache.spark.sql.types.IntegerType => "INTEGER"
      case org.apache.spark.sql.types.DoubleType => "DOUBLE"
      case org.apache.spark.sql.types.FloatType => "FLOAT"
      case org.apache.spark.sql.types.BooleanType => "BOOLEAN"
      case org.apache.spark.sql.types.TimestampType => "TIMESTAMP"
      case _ => "VARCHAR"
    }

  /** Append a frame to a live JDBC table, first ALTERing the table to add
    * any columns it lacks (the reference's DbExporter/TableMeta auto-ALTER
    * flow, exporter/DbExporter.java:21-165: new extracted fields become
    * new RDBMS columns, existing rows read NULL for them). Creates the
    * table on first export.
    */
  private val SafeIdent = "^[A-Za-z_][A-Za-z0-9_]*$".r

  /** Quote an identifier for DDL with the driver's identifier-quote
    * string (doubling embedded quotes); identifiers are additionally
    * validated because schema names here can originate from DATA (widen()
    * field keys) — a reserved word or special character must never splice
    * into the DDL unquoted.
    */
  private def quoteIdent(quote: String, name: String): String = {
    require(!name.contains("\u0000"), "NUL byte in identifier")
    val q = Option(quote).map(_.trim).filter(_.nonEmpty)
    q match {
      case Some(qs) => qs + name.replace(qs, qs + qs) + qs
      case None =>
        require(SafeIdent.matches(name),
          s"backend has no identifier quoting and '$name' is not a safe " +
            "bare identifier")
        name
    }
  }

  def exportJdbc(df: DataFrame, jdbcUrl: String, table: String,
      props: java.util.Properties = new java.util.Properties): Unit = {
    val conn = java.sql.DriverManager.getConnection(jdbcUrl, props)
    try {
      val qs = conn.getMetaData.getIdentifierQuoteString
      def qi(n: String) = quoteIdent(qs, n)
      val rs = conn.getMetaData.getColumns(null, null, table, null)
      val existing = scala.collection.mutable.Set[String]()
      while (rs.next()) existing += rs.getString("COLUMN_NAME").toLowerCase
      val st = conn.createStatement()
      if (existing.isEmpty)
        st.execute(s"CREATE TABLE ${qi(table)} (" + df.schema.fields
          .map(f => s"${qi(f.name)} ${jdbcTypeOf(f.dataType)}")
          .mkString(", ") + ")")
      else
        df.schema.fields
          .filterNot(f => existing(f.name.toLowerCase))
          .foreach { f =>
            st.execute(s"ALTER TABLE ${qi(table)} ADD COLUMN ${qi(f.name)} " +
              jdbcTypeOf(f.dataType))
          }
      st.close()
    } finally conn.close()
    df.write.mode(SaveMode.Append).jdbc(jdbcUrl, table, props)
  }
}
