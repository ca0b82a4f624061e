package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The harness tables the operator modules read, each with its pinned
  * schema: the one reader every operator input goes through.
  *
  * A schema-less `read.parquet` infers the schema from the file footers
  * while the DataFrame is built, and in Spark 4.1 that inference is a
  * one-task Spark job per table per read (`mergeSchemasInParallel`), which
  * no setting turns off. With the schema given, building a query starts no
  * job; the crawl side reads its staged tables the same way
  * (`CrawlPipeline.readAs`). Each schema is the one Spark infers from the
  * harness files, physical types and nullability included: TIMESTAMP_NTZ
  * for the footers' timestamps without a UTC adjustment, ARRAY<FLOAT> for
  * `embedding`, every column nullable. `TablesSpec` pins that equality on
  * every data directory.
  */
object Tables {

  private[operators] val schemas: Map[String, StructType] = Map(
    "customer" -> Seq("c_custkey BIGINT", "c_name STRING", "c_nationkey INT",
      "c_acctbal DOUBLE", "c_mktsegment STRING"),
    "documents" -> Seq("doc_id BIGINT", "text STRING", "lang STRING",
      "source STRING", "n_chars BIGINT"),
    "embeddings" -> Seq("vec_id BIGINT", "embedding ARRAY<FLOAT>",
      "label INT"),
    "events" -> Seq("event_id BIGINT", "ts TIMESTAMP_NTZ", "user_id BIGINT",
      "event_type STRING", "value DOUBLE", "props STRING"),
    "lineitem" -> Seq("l_orderkey BIGINT", "l_partkey BIGINT",
      "l_suppkey BIGINT", "l_linenumber INT", "l_quantity DOUBLE",
      "l_extendedprice DOUBLE", "l_discount DOUBLE", "l_tax DOUBLE",
      "l_returnflag STRING", "l_linestatus STRING",
      "l_shipdate TIMESTAMP_NTZ"),
    "nation" -> Seq("n_nationkey INT", "n_name STRING", "n_regionkey INT"),
    "orders" -> Seq("o_orderkey BIGINT", "o_custkey BIGINT",
      "o_orderstatus STRING", "o_totalprice DOUBLE",
      "o_orderdate TIMESTAMP_NTZ", "o_orderpriority STRING")
  ).map { case (name, cols) => name -> StructType.fromDDL(cols.mkString(",")) }

  /** `$dir/$name.parquet` read with the pinned schema of `name`. Spark's
    * schema-on-read rule applies: a pinned column that a file lacks reads
    * as null, and a file column that is not pinned is not read.
    */
  def read(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")
}
