package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Key-based deduplication.
  *
  * Re-expresses the reference's repair of its at-least-once warehouse
  * append: `ROW_NUMBER() OVER (PARTITION BY block_id)` + `WHERE = 1`
  * (`bitcoin_bigquery_etl/etl.sh:12-17`). The reference has no ORDER BY
  * (arbitrary survivor); [[keepFirst]] adds a deterministic tiebreak.
  *
  * Scale note: one hash shuffle on the dedup key; skewed keys are
  * handled by AQE skew-split since the window only needs per-key
  * locality, not global order.
  */
object Dedup {

  /** Deterministic keep-first: one survivor per key, chosen by `order`. */
  def keepFirst(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Engine-native arbitrary-survivor form (reference semantics:
    * etl.sh:12 has no ORDER BY). */
  def anySurvivor(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)
}
