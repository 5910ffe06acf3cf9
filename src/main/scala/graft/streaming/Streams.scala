package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming re-expression of the reference's ingest loop
  * (SURVEY.md §3.1): P2P block feed -> converters -> rotated Avro sink
  * becomes readStream -> transforms -> triggered sink. Thread pools,
  * retries and the synchronized writer (`ThreadHelpers.java`,
  * `BitcoinBlockHandler.java:61-76`, `AvroWriter.java:38`) dissolve
  * into Spark's scheduler and epoch commit.
  */
object Streams {

  /** Tumbling event-time window counts with a watermark — streaming
    * semantics of the reference's rotation window (`AvroWriter.java:45-49`),
    * tolerating `lateness` of out-of-order block arrivals. */
  def tumblingCounts(
      events: DataFrame,
      tsCol: String,
      widthSeconds: Long,
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), s"$widthSeconds seconds").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("n_events"))

  /** Built-in session windows (gap-close semantics) — the declarative
    * sibling of [[StatefulSessions]]: Spark manages merge/expiry state,
    * the watermark bounds it. */
  def sessionCounts(
      events: DataFrame,
      tsCol: String,
      entityCol: String,
      gap: String,
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(col(entityCol), session_window(col(tsCol), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(entityCol), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Streaming dedup within the watermark — the streaming repair of the
    * reference's at-least-once append duplicates (R8/R14, `etl.sh:12-17`
    * run continuously instead of as a batch ETL). State is bounded by
    * the watermark horizon. */
  def dedupWithinWatermark(
      events: DataFrame,
      tsCol: String,
      keys: Seq[String],
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Rotated file sink: processing-time trigger defaults to the rotation
    * interval (R7), overridable for tests/backfills where the micro-batch
    * cadence should be faster than the file-bucket width. Each
    * micro-batch appends Avro container files via
    * [[graft.ingest.AvroSink]] (event-time bucketed inside the batch). */
  def rotatedAvroSink(
      events: DataFrame,
      tsMsCol: String,
      rotationSeconds: Long,
      outDir: String,
      checkpoint: String,
      triggerSeconds: Option[Long] = None): DataStreamWriter[Row] =
    events.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(
        s"${triggerSeconds.getOrElse(rotationSeconds)} seconds"))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // batch id in the filename: a later micro-batch hitting an
        // already-written bucket must append a NEW container file, not
        // truncate the earlier one
        graft.ingest.AvroSink.write(batch, tsMsCol, rotationSeconds, outDir,
          suffix = s"-b$batchId")
      }

  /** Stream-stream interval join: each left event matched to right
    * events of the same key within a trailing time interval — the
    * streaming form of the reference's implied prices-by-time join
    * (`ingest_prices.sh:10`; SURVEY R18 note). Watermarks on BOTH
    * sides bound the join state; `interval` is how far back a right
    * row may be relative to the left event. */
  def intervalJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      interval: String, lateness: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    l.join(r, expr(
      s"$leftKey = $rightKey AND " +
        s"$rightTs BETWEEN $leftTs - INTERVAL $interval AND $leftTs"))
  }

  /** Stream-static enrichment join: each streaming event picks up its
    * dimension row (the reference's implied "price at ingest time" /
    * exchange-metadata lookup). The static side is broadcast per
    * micro-batch — stateless, no watermark needed, and the dim table
    * may be re-read between batches (slowly changing dims come free
    * with a file-based static side). At 100TB of STREAM this stays
    * safe: state never accumulates, only the dim must fit broadcast —
    * else drop the hint and let AQE shuffle each micro-batch. */
  def enrichWithStatic(
      stream: DataFrame, dim: DataFrame,
      streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), "left")

  /** Streaming CDC upsert sink: each micro-batch of full-row changes
    * (an `op` column in {"upsert","delete"}) MERGEs into a parquet
    * snapshot via [[graft.ops.Merge]] — the continuously-maintained
    * materialized table the reference approximates with blind appends
    * plus a nightly dedup ETL (`Main.java:204-259` + `etl.sh:6-17`).
    * Within a batch the LAST change per key wins (ordered by
    * `seqCol`), so replayed/compacted CDC feeds stay correct.
    *
    * Snapshots are versioned dirs (`v<batchId>`) with a LATEST pointer
    * committed by atomic rename, making batch replay after failure
    * idempotent — the local stand-in for a table format's snapshot
    * isolation at 100TB; the merge plan itself (change keys broadcast,
    * warehouse side never shuffled) is the part that carries over. */
  def upsertSink(
      changes: DataFrame,
      key: String,
      seqCol: String,
      tableDir: String,
      checkpoint: String,
      opCol: String = "op"): DataStreamWriter[Row] =
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(batch, batchId, key, seqCol, tableDir, opCol)
      }

  /** One micro-batch of the CDC merge — public so crash/replay behavior
    * is testable without driving a stream. IDEMPOTENT under replay: a
    * crash can land AFTER [[commitPointer]] but BEFORE the streaming
    * checkpoint commits, in which case Spark re-runs the same batchId —
    * and LATEST already points at v<batchId>. Re-merging then would
    * read v<batchId> while mode(overwrite)-writing the same directory,
    * which Spark rejects (cannot overwrite a path being read), wedging
    * the stream on every restart. The pointer itself is the replay
    * marker: if LATEST is already at or past this batch, the merge
    * committed — skip. (Crash BEFORE the pointer commit replays into a
    * directory nothing reads, so the overwrite is safe.)
    *
    * LIFECYCLE: tableDir and checkpointLocation must be paired — a
    * FRESH checkpoint (batchIds restarting at 0) pointed at an
    * EXISTING tableDir looks exactly like replay, and every early
    * batch would be skipped until batchId catches up to the stale
    * pointer. True replay re-runs only the single in-flight batch, so
    * batchId strictly below the committed version can never be replay
    * — that case fails loudly instead of silently dropping data. */
  def mergeBatch(
      batch: DataFrame,
      batchId: Long,
      key: String,
      seqCol: String,
      tableDir: String,
      opCol: String = "op"): Unit = {
    val committed = currentVersion(tableDir)
    if (committed.exists(_ > batchId)) throw new IllegalStateException(
      s"mergeBatch: batchId $batchId is behind committed version " +
        s"v${committed.get} at $tableDir — a fresh checkpoint is pointed " +
        "at an existing table directory (pair tableDir and " +
        "checkpointLocation lifecycles, or start a new tableDir)")
    if (committed.contains(batchId)) return // checkpoint replay: already merged
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    val latest = batch
      .withColumn("__rn", row_number().over(
        Window.partitionBy(key).orderBy(col(seqCol).desc)))
      .filter(col("__rn") === 1).drop("__rn")
    val merged = currentSnapshot(spark, tableDir) match {
      case Some(t) => graft.ops.Merge.upsert(t, latest, key, opCol)
      case None    => latest.filter(col(opCol) === "upsert").drop(opCol)
    }
    val vdir = s"$tableDir/v$batchId"
    merged.write.mode("overwrite").parquet(vdir)
    commitPointer(tableDir, s"v$batchId")
  }

  /** The committed batch id LATEST points at (None before batch 0). */
  def currentVersion(tableDir: String): Option[Long] = {
    val p = java.nio.file.Paths.get(tableDir, "LATEST")
    if (java.nio.file.Files.exists(p))
      Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .trim.stripPrefix("v").toLong)
    else None
  }

  /** The table as of the last committed batch (None before batch 0). */
  def currentSnapshot(
      spark: org.apache.spark.sql.SparkSession,
      tableDir: String): Option[DataFrame] = {
    val p = java.nio.file.Paths.get(tableDir, "LATEST")
    if (java.nio.file.Files.exists(p))
      Some(spark.read.parquet(
        s"$tableDir/${new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim}"))
    else None
  }

  /** Streaming SCD type-2 history maintenance: each micro-batch of
    * change rows is merged into a versioned HISTORY table (the
    * [[graft.ops.Scd2]] shape — `[valid_from_ms, valid_to_ms)` per
    * version, newest open-ended), using the same snapshot + atomic
    * pointer + replay protocol as [[upsertSink]]. The merge touches
    * ONLY the keys present in the batch: untouched keys' history rows
    * pass through by anti-join, and the affected keys' existing
    * versions are re-derived together with the new changes — so a
    * LATE (out-of-order) change splices into the key's timeline
    * exactly as a full batch rebuild would, and the maintained table
    * equals `Scd2.buildHistory(all changes so far)` after every batch
    * (StreamingSpec pins this). Per-key version counts are bounded by
    * the change feed, so the rebuild side stays key-local at scale.
    */
  def scd2Sink(
      changes: DataFrame,
      key: String,
      tsMs: String,
      tiebreak: String,
      tableDir: String,
      checkpoint: String): DataStreamWriter[Row] =
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        scd2MergeBatch(batch, batchId, key, tsMs, tiebreak, tableDir)
      }

  /** One micro-batch of the SCD2 merge — public so replay behavior is
    * testable without driving a stream. Same idempotence contract as
    * [[mergeBatch]]: the pointer is the replay marker. */
  def scd2MergeBatch(
      batch: DataFrame,
      batchId: Long,
      key: String,
      tsMs: String,
      tiebreak: String,
      tableDir: String): Unit = {
    val committed = currentVersion(tableDir)
    if (committed.exists(_ > batchId)) throw new IllegalStateException(
      s"scd2MergeBatch: batchId $batchId is behind committed version " +
        s"v${committed.get} at $tableDir — pair tableDir and " +
        "checkpointLocation lifecycles, or start a new tableDir")
    if (committed.contains(batchId)) return // checkpoint replay: already merged
    val spark = batch.sparkSession
    val merged = currentSnapshot(spark, tableDir) match {
      case None => graft.ops.Scd2.buildHistory(batch, key, tsMs, tiebreak)
      case Some(h) =>
        val keys = batch.select(key).distinct()
        val untouched = h.join(broadcast(keys), Seq(key), "left_anti")
        val affectedOld = h.join(broadcast(keys), Seq(key), "left_semi")
          .drop("valid_from_ms", "valid_to_ms")
        val rebuilt = graft.ops.Scd2.buildHistory(
          affectedOld.unionByName(batch), key, tsMs, tiebreak)
        untouched.unionByName(rebuilt)
    }
    val vdir = s"$tableDir/v$batchId"
    merged.write.mode("overwrite").parquet(vdir)
    commitPointer(tableDir, s"v$batchId")
  }

  private def commitPointer(tableDir: String, version: String): Unit = {
    val dir = java.nio.file.Paths.get(tableDir)
    java.nio.file.Files.createDirectories(dir)
    val tmp = dir.resolve(s".LATEST.tmp-$version")
    java.nio.file.Files.write(tmp, version.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, dir.resolve("LATEST"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Streaming ingestion dedup: every micro-batch of documents gets an
    * exact_dup / near_dup / unique verdict against a STATIC corpus —
    * [[graft.dedup.Incremental.verdicts]] applied per batch inside
    * foreachBatch (the upsert-sink pattern; the verdict plan needs
    * left joins + aggregation, which append-mode stream-static SQL
    * can't express without watermark state). The micro-batch is the
    * broadcast side of the band join; the corpus index is reused as-is
    * every batch. Each batch's verdicts land in their own overwritten
    * `b<batchId>` directory, so checkpoint replay is idempotent. */
  def dedupVerdictSink(
      docs: DataFrame,
      corpus: DataFrame,
      outDir: String,
      checkpoint: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.dedup.Incremental.verdicts(batch, corpus)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$outDir/b$batchId")
      }

  /** Backpressure-bounded backlog drain — the operational analog of
    * the reference's unbounded work queue (`ThreadHelpers.java:21`
    * grows without limit when the sink falls behind; R9/VERDICT r12
    * #7). `maxFilesPerTrigger` caps each micro-batch's intake, so a
    * large backlog drains as a sequence of bounded-memory batches
    * instead of one giant batch: at 100TB a restart against a day of
    * backlog must not try to fit the day into one epoch. Returns the
    * observed (batchId, rowCount) ledger after the backlog is fully
    * drained — the caller asserts boundedness and completeness. */
  def drainWithBackpressure(
      spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      dir: String,
      maxFilesPerTrigger: Int,
      checkpoint: String): Seq[(Long, Long)] =
    sustainedDrainWithBackpressure(spark, schema, dir, maxFilesPerTrigger,
      checkpoint, waves = 0)(_ => ())

  /** [[drainWithBackpressure]] under SUSTAINED load (r13 VERDICT #8):
    * the producer keeps appending while the query drains. `pump(w)` is
    * called once per wave to append more input files, then the stream
    * catches up before the next wave — so the ledger spans triggers
    * where new work arrived mid-drain, not just a static backlog. The
    * per-batch intake must stay capped by `maxFilesPerTrigger`
    * REGARDLESS of producer pressure: that is the bounded-in-flight
    * property the reference's unbounded queue lacks
    * (`ThreadHelpers.java:21`). Returns the (batchId, rowCount)
    * ledger; the caller asserts boundedness and completeness against
    * what it actually wrote. */
  def sustainedDrainWithBackpressure(
      spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      dir: String,
      maxFilesPerTrigger: Int,
      checkpoint: String,
      waves: Int)(pump: Int => Unit): Seq[(Long, Long)] = {
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], id: Long) =>
        val n = df.count()
        batches.synchronized { batches += ((id, n)) }
        ()
      }
      .start()
    q.processAllAvailable() // drain the initial backlog
    var w = 0
    while (w < waves) {
      pump(w)
      q.processAllAvailable()
      w += 1
    }
    q.stop()
    batches.synchronized(batches.toSeq.sortBy(_._1))
  }

  /** Convenience: run a memory-sink query to completion for tests. */
  def runToMemory(df: DataFrame, name: String, mode: String = "append"): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode(mode).start()
}
