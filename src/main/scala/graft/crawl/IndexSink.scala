package graft.crawl

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Index sink (S6/S7 — reference indexer/solr/SolrWriter.java batched
  * adds + commit-on-close, indexer/elastic/ElasticWriter.java same
  * pattern; dedup indexer/solr/SolrDeleteDuplicates.java:54-120).
  *
  * Spark-native shape: documents flow `foreachPartition` into a pluggable
  * `IndexWriter` (one writer per partition, batched add(), commit() on
  * close — exactly the reference's writer lifecycle). Three impls ship:
  * JSONL to the local filesystem, and HTTP writers speaking the real
  * Solr JSON-update and Elasticsearch _bulk wire protocols (spec-driven
  * against an in-process stub server; no live Solr/ES in this sandbox).
  */
trait IndexWriter extends Serializable {
  def open(partitionId: Long): Unit
  def add(docJson: String): Unit
  def commit(): Unit
}

/** Shared HTTP POST plumbing for the index writers: small, synchronous,
  * fails the task (=> Spark retry) on any non-2xx response.
  */
private[crawl] object IndexHttp {
  def post(url: String, body: Array[Byte], contentType: String): Unit = {
    val conn = new java.net.URI(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(30000)
      conn.setRequestProperty("Content-Type", contentType)
      conn.getOutputStream.write(body)
      conn.getOutputStream.close()
      val code = conn.getResponseCode
      if (code / 100 != 2)
        throw new java.io.IOException(s"index POST $url -> HTTP $code")
      // drain so the connection is reusable
      val in = conn.getInputStream
      while (in.read() != -1) {}
      in.close()
    } finally conn.disconnect()
  }
}

/** S6 in full: Solr over HTTP (reference indexer/solr/SolrWriter.java —
  * buffered adds flushed as batches, one commit on close). Batches go to
  * the JSON update endpoint as a JSON array of documents; commit() flushes
  * the tail batch and issues `update?commit=true`.
  */
final class SolrHttpWriter(baseUrl: String, collection: String,
    batchSize: Int = 250) extends IndexWriter {
  @transient private var buffer: scala.collection.mutable.ArrayBuffer[String] = _

  private def updateUrl = s"$baseUrl/solr/$collection/update/json/docs"

  def open(partitionId: Long): Unit =
    buffer = scala.collection.mutable.ArrayBuffer.empty

  def add(docJson: String): Unit = {
    buffer += docJson
    if (buffer.length >= batchSize) flush()
  }

  private def flush(): Unit = if (buffer.nonEmpty) {
    val body = buffer.mkString("[", ",", "]")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    IndexHttp.post(updateUrl, body, "application/json")
    buffer.clear()
  }

  def commit(): Unit = {
    flush()
    IndexHttp.post(s"$baseUrl/solr/$collection/update?commit=true",
      "{}".getBytes(java.nio.charset.StandardCharsets.UTF_8),
      "application/json")
  }
}

/** S7 in full: Elasticsearch over HTTP (reference
  * indexer/elastic/ElasticWriter.java — bulk requests, flush on close).
  * Batches go to `/_bulk` as ndjson action/source pairs; commit() flushes
  * and refreshes the index so writes are searchable.
  */
final class ElasticHttpWriter(baseUrl: String, index: String,
    batchSize: Int = 250) extends IndexWriter {
  @transient private var buffer: scala.collection.mutable.ArrayBuffer[String] = _

  def open(partitionId: Long): Unit =
    buffer = scala.collection.mutable.ArrayBuffer.empty

  def add(docJson: String): Unit = {
    buffer += docJson
    if (buffer.length >= batchSize) flush()
  }

  private def flush(): Unit = if (buffer.nonEmpty) {
    val body = buffer.iterator
      .map(doc => s"""{"index":{"_index":"$index"}}""" + "\n" + doc + "\n")
      .mkString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    IndexHttp.post(s"$baseUrl/_bulk", body, "application/x-ndjson")
    buffer.clear()
  }

  def commit(): Unit = {
    flush()
    IndexHttp.post(s"$baseUrl/$index/_refresh", Array.emptyByteArray,
      "application/json")
  }
}

final class JsonlIndexWriter(dir: String) extends IndexWriter {
  @transient private var out: java.io.PrintWriter = _
  @transient private var buffer: scala.collection.mutable.ArrayBuffer[String] = _

  def open(partitionId: Long): Unit = {
    new java.io.File(dir).mkdirs()
    out = new java.io.PrintWriter(s"$dir/part-$partitionId.jsonl")
    buffer = scala.collection.mutable.ArrayBuffer.empty
  }
  def add(docJson: String): Unit = {
    buffer += docJson
    if (buffer.length >= 1000) flush() // SolrWriter batch size analog
  }
  private def flush(): Unit = { buffer.foreach(out.println); buffer.clear() }
  def commit(): Unit = { flush(); out.close() }
}

object IndexSink {

  /** Dedup-then-index: keep one doc per signature (newest batch wins —
    * SolrDeleteDuplicates semantics), serialize to JSON, write through
    * the IndexWriter lifecycle.
    */
  def index(docs: DataFrame, keyCol: String, sigCol: String, tsCol: String,
      makeWriter: () => IndexWriter): Long = {
    val w = Window.partitionBy(col(sigCol))
      .orderBy(col(tsCol).desc, col(keyCol).asc)
    val deduped = docs
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
    val json = deduped.select(to_json(struct(deduped.columns.map(col): _*))
      .as("doc"))
    val count = json.sparkSession.sparkContext.longAccumulator("indexed")
    json.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      val writer = makeWriter()
      writer.open(org.apache.spark.TaskContext.getPartitionId().toLong)
      rows.foreach { r => writer.add(r.getString(0)); count.add(1) }
      writer.commit()
    }
    count.value
  }

  /** Index a crawl batch's PARSED rows from the table layout — indexing
    * follows parse in the reference lifecycle (SegParserReducer writes to
    * Solr after parse), so the doc carries parse-derived text + signature.
    */
  def indexBatch(spark: SparkSession, root: String, batchId: String,
      outDir: String): Long = {
    val parsed = spark.read.schema(Encoders.product[ParsedPage].schema)
      .parquet(s"$root/batches/$batchId/parsed")
      .filter(col("signature").isNotNull)
      .select(col("urlHash"), col("url"), col("host"), col("contentType"),
        col("text"), hex(col("signature")).as("sig"), col("fetchEnd"),
        col("batchId"))
    index(parsed, "urlHash", "sig", "fetchEnd",
      () => new JsonlIndexWriter(outDir))
  }
}
