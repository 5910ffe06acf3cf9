package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout
import graft.functions.Sketches

/** Streaming KMV (bottom-k) distinct sketch via mapGroupsWithState —
  * the incremental form of the batch `q_sketch_kmv`: per key, the
  * state is the k smallest md5 hashes seen so far (O(k) per key,
  * bounded forever), and every micro-batch folds its new hashes in
  * and re-trims. Because the union of bottom-k sets re-trimmed to k
  * IS the bottom-k of the union, the sketch after any prefix of
  * micro-batches equals the batch sketch over the same rows — the
  * mergeability that makes the estimate replayable (StreamingSpec
  * pins incremental ≡ batch on a two-batch stream).
  *
  * Shape at scale: state per key is k strings regardless of stream
  * length; each trigger shuffles only the NEW (key, hash) pairs.
  * The estimator is the batch query's exact integer division
  * ((k−1)·2^48 / h_(k) on the first 48 hash bits, from
  * [[graft.functions.Sketches]]).
  */
object StatefulKmv {

  final case class KmvUpdate(key: String, sketch_k: Long, kmv_est: Long)

  def kmvDistinct(
      spark: SparkSession,
      events: DataFrame,
      keyCol: String,
      valCol: String,
      k: Int): Dataset[KmvUpdate] = {
    import spark.implicits._
    events
      .select(col(keyCol).cast("string").as("key"),
        md5(col(valCol).cast("string")).as("h"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[String], KmvUpdate](
        GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          val prev = state.getOption.getOrElse(Array.empty[String])
          val merged = (prev ++ rows.map(_._2)).distinct.sorted.take(k)
          state.update(merged)
          val est =
            if (merged.length < k) merged.length.toLong
            else Sketches.kmvEstimate(k, Sketches.kmvHash(merged.last))
          KmvUpdate(key, merged.length.toLong, est)
      }
  }
}
