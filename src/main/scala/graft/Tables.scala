package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.SparkContext
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
  * So `load` runs no Spark job. A table's resolved relation is kept in
  * a [[Memo]], the one validity rule every memo in graft follows.
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

  /** The one validity rule of every memo in graft: `Tables`' resolved
    * relations and [[graft.ops.SharedFrames]]' frames and values.
    *
    * An entry is keyed by (session, dir, name) and stamped with the
    * (length, modification time) of the table files under `dir` it
    * depends on: one entry for a table file, one per data file for a
    * table stored as a directory (`ScaleGen` output), none for a missing
    * table. A lookup whose stamp differs drops the entry (handing it to
    * `replaced`) and builds it again, so a memo never returns what an
    * older file gave. A session's entries are dropped when its
    * SparkContext stops, so a memo never keeps a stopped session alive
    * nor hands its entries to a later one. A build runs under the memo's
    * lock: concurrent lookups of one memo build each entry once.
    */
  private[graft] final class Memo[V](replaced: V => Unit) {
    type Key = (SparkSession, String, String)
    private val entries = new ConcurrentHashMap[Key, (Seq[(String, Long, Long)], V)]()
    private val watched = java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())

    def apply(spark: SparkSession, dir: String, name: String, tables: Seq[String])(
        build: => V): V = synchronized {
      val key = (spark, dir, name)
      val stamp = tables.flatMap(t => filesOf(spark, new Path(s"$dir/$t.parquet")))
      Option(entries.get(key)) match {
        case Some((`stamp`, v)) => v
        case old =>
          old.foreach { e => entries.remove(key); replaced(e._2) }
          val v = build
          val sc = spark.sparkContext
          if (watched.add(sc))
            sc.addSparkListener(new SparkListener {
              override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
                entries.keySet.removeIf(_._1.sparkContext eq sc)
            })
          if (!sc.isStopped) entries.put(key, (stamp, v))
          v
      }
    }

    def values: Iterable[V] = entries.values.asScala.map(_._2)

    /** Drop the entries whose key matches, handing each to `replaced`. */
    def drop(p: Key => Boolean): Unit = synchronized {
      entries.asScala.toSeq.foreach { case (k, (_, v)) =>
        if (p(k)) { entries.remove(k); replaced(v) }
      }
    }
  }

  /** (path, length, modification time) of the data files of the table at
    * `path`: itself if it is a file, the files under it if it is a
    * directory, none if it is missing. One file-status call for a file. */
  private def filesOf(spark: SparkSession, path: Path): Seq[(String, Long, Long)] = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stamp(f: FileStatus) = (f.getPath.toString, f.getLen, f.getModificationTime)
    try {
      val f = fs.getFileStatus(path)
      if (f.isFile) Seq(stamp(f))
      else {
        val it = fs.listFiles(path, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
          .map(stamp).toVector.sortBy(_._1)
      }
    } catch { case _: FileNotFoundException => Nil }
  }

  private val resolved = new Memo[LogicalRelation](_ => ())

  /** Table `name` under `dir`. Its relation is resolved once per session
    * and file stamp; every load gets fresh attribute ids, so a table
    * joined with itself resolves. A missing table raises the reader's
    * usual error. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val relation = resolved(spark, dir, name, Seq(name)) {
      spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")
        .queryExecution.analyzed.asInstanceOf[LogicalRelation]
    }
    DatasetShim.ofRows(spark, relation.newInstance())
  }
}
