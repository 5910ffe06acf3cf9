package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout
import graft.functions.Sketches

/** Streaming HyperLogLog via mapGroupsWithState — the incremental form
  * of the batch `q_sketch_hll_fx`, with the IDENTICAL portable
  * construction ([[graft.functions.Sketches]]' HLL): per key the
  * state is the 256 register maxima — a fixed 256 ints forever, the
  * textbook bounded-state sketch — and every micro-batch folds its
  * hashes in by register-wise max. Because register-wise max is
  * associative and commutative, the sketch after any prefix of
  * micro-batches equals the batch sketch over the same rows
  * (StreamingSpec pins incremental ≡ batch on a two-batch stream), and
  * two keys' states merge by the same max — the property that lets
  * per-shard streaming sketches roll up to global cardinalities
  * without rescans.
  *
  * Shape at scale: state per key is 256 ints regardless of stream
  * length; each trigger shuffles only the NEW (key, hash) pairs; the
  * estimate is one exact integer division — no floats anywhere. */
object StatefulHll {

  final case class HllUpdate(key: String, n_zero: Long, hll_est: Long)

  def hllDistinct(
      spark: SparkSession,
      events: DataFrame,
      keyCol: String,
      valCol: String): Dataset[HllUpdate] = {
    import spark.implicits._
    events
      .select(col(keyCol).cast("string").as("key"),
        md5(col(valCol).cast("string").cast("binary")).as("h"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Int], HllUpdate](
        GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          val regs = state.getOption.getOrElse(new Array[Int](256))
          rows.foreach { case (_, h) =>
            val reg = Sketches.hllRegister(h)
            regs(reg) = math.max(regs(reg), Sketches.hllRank(h))
          }
          state.update(regs)
          HllUpdate(key, regs.count(_ == 0).toLong,
            Sketches.hllEstimate(regs.map(m => BigInt(1) << (49 - m)).sum))
      }
  }
}
