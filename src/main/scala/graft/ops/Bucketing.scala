package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed (pre-shuffled) tables for co-located joins.
  *
  * The 100TB pattern for a join repeated across many queries: pay the
  * shuffle ONCE at write time (`bucketBy` on the join key), then every
  * subsequent equi-join on that key runs exchange-free — the physical
  * plan shows SortMergeJoin with no Exchange on the bucketed sides.
  */
object Bucketing {

  /** Persist `df` as a bucketed table (warehouse-managed parquet).
    * Drops any prior table AND its location first: a fresh session's
    * catalog doesn't know tables from previous runs, but their
    * warehouse directories survive and block `saveAsTable`
    * (LOCATION_ALREADY_EXISTS). */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }

  /** Join two bucketed tables on their bucket key — no shuffle when
    * bucket counts match. The merge hint keeps the planner from
    * choosing a broadcast join (which would ignore bucketing and, at
    * the scales bucketing exists for, be impossible anyway). */
  def colocatedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      key: String): DataFrame =
    spark.table(leftTable).hint("merge")
      .join(spark.table(rightTable).hint("merge"), key)

  /** True when the physical plan of `df` contains no SHUFFLE exchange
    * (verification helper: proves the join was co-located; a
    * BroadcastExchange is not a shuffle). */
  def isExchangeFree(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.linesIterator
      .exists(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
}
