package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graft.DatasetShim
import org.apache.spark.sql.types._

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All schemas are fixed here; we never infer them (mirrors the
  * reference's compile-time Avro codegen stance,
  * `bitcoin_blocks/src/main/avro/com/google/BlockToBq/BQRow.avsc:1-51`).
  * They equal the schemas Spark infers from the files under
  * `graft.Session` (NTZ inference off): every field nullable, and the
  * three timestamps (parquet INT64 TIMESTAMP(MICROS,
  * isAdjustedToUTC=false) in the test tables and in perfbench's
  * `TableGen`) as session `TimestampType`. `TablesSpec` checks each
  * declared schema against the inferred one.
  *
  * So `load` runs no Spark job. A table file's resolved relation is
  * also kept per session and reused while the file's length and
  * modification time are unchanged; every reuse gets fresh attribute
  * ids, so a table joined with itself resolves.
  */
object Tables {
  private def fields(fs: (String, DataType)*): StructType =
    StructType(fs.map { case (n, t) => StructField(n, t, nullable = true) })

  private val declared: Seq[(String, StructType)] = Seq(
    "region" -> fields("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> fields("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> fields("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
    "supplier" -> fields("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> fields("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
    "orders" -> fields("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
    "lineitem" -> fields("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
    "events" -> fields("event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
    "documents" -> fields("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> fields("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true), "label" -> IntegerType))

  val names: Seq[String] = declared.map(_._1)
  val schemas: Map[String, StructType] = declared.toMap

  /** A table file's resolved relation, valid while the file keeps this
    * length and modification time. */
  private final case class Resolved(length: Long, modified: Long, relation: LogicalRelation)

  /** One entry per (session, path). A session's entries are dropped when
    * its SparkContext stops, so the cache never keeps a stopped session
    * alive. */
  private val resolved = new ConcurrentHashMap[(SparkSession, String), Resolved]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = new Path(s"$dir/$name.parquet")
    // a directory (ScaleGen's multi-file output) or a missing path is
    // not cached: the reader resolves it, or raises its usual error
    val file = Try(path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(path)).toOption.filter(_.isFile)
    val key = (spark, path.toString)
    file.flatMap(f => Option(resolved.get(key))
        .filter(r => r.length == f.getLen && r.modified == f.getModificationTime)) match {
      case Some(r) => DatasetShim.ofRows(spark, r.relation.newInstance())
      case None =>
        // this frame shares the cached relation's ids; reuses never do
        val df = spark.read.schema(schemas(name)).parquet(path.toString)
        file.foreach { f =>
          val relation = df.queryExecution.analyzed.asInstanceOf[LogicalRelation]
          remember(key, Resolved(f.getLen, f.getModificationTime, relation))
        }
        df
    }
  }

  private def remember(key: (SparkSession, String), r: Resolved): Unit = synchronized {
    val sc = key._1.sparkContext
    if (!resolved.keySet.asScala.exists(_._1.sparkContext eq sc))
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          resolved.keySet.removeIf(_._1.sparkContext eq sc)
      })
    resolved.put(key, r)
  }
}
