package graft

import java.io.{File, FileOutputStream}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._

/** CLI driver for the ingest surfaces — the Spark analog of the
  * reference's `Main.java` wiring (source -> convert -> rotated Avro
  * sink -> warehouse table; plus the pricing CSV path).
  *
  * Usage: runMain graft.IngestDemo <sfDir> <outDir>
  * Writes rotated Avro container files from `events`, ingests a sample
  * price CSV.gz, runs the streaming rotated sink on a file stream, and
  * prints a one-line summary per stage.
  */
object IngestDemo {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new File(outDir).mkdirs()

    // Idempotency on a REUSED outDir (r11 verdict #2): MemoryStream-
    // backed streaming checkpoints can never replay across processes —
    // the committed offsets outlive the in-memory source rows, so a
    // restart dies with `AssertionError: sliceStart: 0 sliceEnd: -1`
    // before any stage runs. Start every streaming surface fresh:
    // drop the checkpoint dirs AND their sink tables (a stale sink
    // pointer against a restarted batch-0 would corrupt the replay
    // protocol), plus the accumulating rotated-Avro dirs (each write
    // appends uniquely-suffixed files, so counts would double).
    // Batch parquet surfaces already write mode("overwrite").
    def rmrf(f: File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rmrf)
      f.delete(); ()
    }
    Seq("chk", "chk_bp", "stream_in", "stream_avro", "upsert_ckpt",
      "upsert_table", "scd2_ckpt", "scd2_table", "sdedup_ckpt",
      "sdedup_out", "avro", "blocks_avro")
      .foreach(nm => rmrf(new File(outDir, nm)))

    // 1. batch rotated Avro sink (R7): events -> daily container files
    val ev = Tables.load(spark, sfDir, "events")
      .withColumn("ts_ms", unix_millis(col("ts")))
      .select("event_id", "user_id", "event_type", "value", "ts_ms")
    val avroDir = s"$outDir/avro"
    ingest.AvroSink.write(ev, "ts_ms", rotationSeconds = 86400, outDir = avroDir)
    val files = Option(new File(avroDir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).sorted
    val readBack = ingest.AvroSink.readAll(avroDir).size
    println(s"[demo] avro-sink: ${files.length} files, $readBack rows " +
      s"(first=${files.headOption.getOrElse("-")})")

    // 2. pricing CSV.gz ingest (ingest_prices.sh): typed load + replace
    val gz = new File(outDir, "coinbaseUSD.csv.gz")
    val os = new GZIPOutputStream(new FileOutputStream(gz))
    os.write("2015-01-01 00:00:00,300.5,1.25\n2015-01-01 00:01:00,301.0,0.5\n".getBytes)
    os.close()
    val prices = ingest.Prices.read(spark, gz.getAbsolutePath)
    ingest.Prices.replaceInto(prices, s"$outDir/prices")
    val n = spark.read.parquet(s"$outDir/prices").count()
    println(s"[demo] prices: $n rows, schema=${prices.schema.map(_.name).mkString(",")}")

    // 3. streaming rotated sink (R1+R7): file stream -> rotated Avro
    val streamIn = s"$outDir/stream_in"
    ev.limit(100).write.mode("overwrite").parquet(streamIn)
    val stream = spark.readStream.schema(ev.schema).parquet(streamIn)
    val q = streaming.Streams.rotatedAvroSink(stream, "ts_ms", 86400,
      s"$outDir/stream_avro", s"$outDir/chk", triggerSeconds = Some(1)).start()
    q.processAllAvailable()
    q.stop()
    val sRows = ingest.AvroSink.readAll(s"$outDir/stream_avro").size
    println(s"[demo] stream-sink: $sRows rows via micro-batch")

    // 3a. backpressure-bounded backlog drain (R9's unbounded-queue
    // analog, ThreadHelpers.java:21): a 12-file backlog drained at
    // maxFilesPerTrigger=3 must arrive as >=4 bounded micro-batches,
    // not one giant epoch, and completely.
    val bpIn = s"$outDir/backlog_in"
    ev.limit(600).repartition(12).write.mode("overwrite").parquet(bpIn)
    val ledger = streaming.Streams.drainWithBackpressure(
      spark, ev.schema, bpIn, maxFilesPerTrigger = 3, s"$outDir/chk_bp")
    val bpTotal = ledger.map(_._2).sum
    val bpMax = if (ledger.isEmpty) 0L else ledger.map(_._2).max
    // completeness is judged against the rows actually WRITTEN, not the
    // literal limit(600): at an SF where events has fewer than 600 rows
    // the drain is still complete (r13 ADVICE)
    val bpWritten = spark.read.parquet(bpIn).count()
    assert(bpTotal == bpWritten,
      s"backpressure drain incomplete: $bpTotal of $bpWritten rows")
    println(s"[demo] backpressure: ${ledger.size} micro-batches, " +
      s"max $bpMax rows/batch, $bpTotal total " +
      s"(complete=${bpTotal == bpWritten})")

    // 3a2. SUSTAINED backpressure (r13 VERDICT #8): the producer keeps
    // appending 50-row files while the query drains. In-flight intake
    // must stay capped at maxFilesPerTrigger=2 files (<= 100 rows per
    // batch) across every trigger, pressure or not, and the ledger
    // must still account for every row written.
    val bpsIn = s"$outDir/backlog_sustained"
    ev.limit(300).repartition(6).write.mode("overwrite").parquet(bpsIn)
    val ledger2 = streaming.Streams.sustainedDrainWithBackpressure(
      spark, ev.schema, bpsIn, maxFilesPerTrigger = 2,
      s"$outDir/chk_bps", waves = 3) { _ =>
      ev.limit(100).repartition(2).write.mode("append").parquet(bpsIn)
    }
    val bpsTotal = ledger2.map(_._2).sum
    val bpsMaxB = if (ledger2.isEmpty) 0L else ledger2.map(_._2).max
    val bpsWritten = spark.read.parquet(bpsIn).count()
    assert(bpsTotal == bpsWritten,
      s"sustained drain incomplete: $bpsTotal of $bpsWritten rows")
    assert(bpsMaxB <= 100,
      s"sustained drain exceeded the 2-file cap: $bpsMaxB rows in one batch")
    println(s"[demo] backpressure-sustained: ${ledger2.size} micro-batches " +
      s"over 3 pump waves, max $bpsMaxB rows/batch (cap 100), " +
      s"$bpsTotal total (complete=${bpsTotal == bpsWritten})")

    // 3b. built-in session windows over a file stream
    Tables.load(spark, sfDir, "events").limit(500)
      .write.mode("overwrite").parquet(s"$outDir/sess_in")
    val evStream = spark.readStream.schema(
      Tables.load(spark, sfDir, "events").schema).parquet(s"$outDir/sess_in")
    val sq = streaming.Streams.sessionCounts(evStream, "ts", "user_id", gap = "30 minutes")
      .writeStream.format("memory").queryName("demo_sessions")
      .outputMode("complete").start()
    sq.processAllAvailable(); sq.stop()
    val nSessions = spark.table("demo_sessions").count()
    println(s"[demo] session-windows: $nSessions sessions from 500 events")

    // 3b2. stream-stream interval join (events vs a price-like stream)
    val evSchema = Tables.load(spark, sfDir, "events").schema
    val lStream = spark.readStream.schema(evSchema).parquet(s"$outDir/sess_in")
      .select(col("ts").as("t_ts"), col("user_id").as("t_key"), col("event_id"))
    val rStream = spark.readStream.schema(evSchema).parquet(s"$outDir/sess_in")
      .select(col("ts").as("p_ts"), col("user_id").as("p_key"), col("value"))
    val ivq = streaming.Streams.intervalJoin(lStream, rStream,
      "t_key", "p_key", "t_ts", "p_ts", interval = "30 MINUTES")
      .writeStream.format("memory").queryName("demo_ivjoin").start()
    ivq.processAllAvailable(); ivq.stop()
    println(s"[demo] interval-join: ${spark.table("demo_ivjoin").count()} matches " +
      "within 30min trailing window")

    // 3c. time-partitioned warehouse layout + partition pruning
    ops.TimePartitioned.writeByDate(
      Tables.load(spark, sfDir, "events"), "ts", s"$outDir/events_by_date")
    val pruned = ops.TimePartitioned.readRange(
      spark, s"$outDir/events_by_date", "2024-01-05", "2024-01-07")
    println(s"[demo] partition-pruning: ${pruned.count()} rows from 3 partitions, " +
      s"prunes=${ops.TimePartitioned.prunes(pruned)}")

    // 4. nested BQRow golden blocks -> rotated NESTED Avro (the
    //    reference's actual container-file shape, BQRow.avsc:1-51)
    val blocks = ingest.Bitcoin.goldenBlocks(spark)
    ingest.AvroSink.write(blocks, "timestamp", 86400, s"$outDir/blocks_avro")
    val back = ingest.AvroSink.readAll(s"$outDir/blocks_avro")
    val etlRows = ingest.Bitcoin.etl(blocks).count()
    println(s"[demo] nested-avro: ${back.size} blocks round-tripped, " +
      s"etl(golden) = $etlRows rows")

    // 5. streaming CDC upsert sink: orders rows as an upsert feed ->
    //    versioned snapshot (the continuously-maintained warehouse;
    //    foreachBatch MERGE replaces append + nightly dedup)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cdc = MemoryStream[(Long, Long, String)]
    val uq = streaming.Streams.upsertSink(
      cdc.toDF().toDF("k", "seq", "op").withColumn("payload", col("k") * 10),
      "k", "seq", s"$outDir/upsert_table", s"$outDir/upsert_ckpt").start()
    cdc.addData((1L, 1L, "upsert"), (2L, 2L, "upsert"))
    uq.processAllAvailable()
    cdc.addData((1L, 3L, "delete"), (3L, 4L, "upsert"))
    uq.processAllAvailable()
    uq.stop()
    val live = streaming.Streams.currentSnapshot(spark, s"$outDir/upsert_table")
      .map(_.count()).getOrElse(-1L)
    println(s"[demo] upsert-sink: $live live keys after 2 CDC batches")

    // 5b. streaming SCD2 history sink: the type-2 twin — each batch
    //     splices change rows into versioned [valid_from, valid_to)
    //     timelines (late changes re-chain only the touched keys)
    val scdIn = MemoryStream[(Long, Long, Long, String)]
    val s2q = streaming.Streams.scd2Sink(
      scdIn.toDF().toDF("k", "ts", "seq", "v"), "k", "ts", "seq",
      s"$outDir/scd2_table", s"$outDir/scd2_ckpt").start()
    scdIn.addData((1L, 100L, 1L, "a1"), (2L, 100L, 2L, "b1"))
    s2q.processAllAvailable()
    scdIn.addData((1L, 200L, 3L, "a2"), (1L, 160L, 4L, "a1b")) // late splice
    s2q.processAllAvailable()
    s2q.stop()
    val versions = streaming.Streams
      .currentSnapshot(spark, s"$outDir/scd2_table")
      .map(_.filter(col("k") === 1L).count()).getOrElse(-1L)
    println(s"[demo] scd2-sink: key 1 carries $versions chained versions " +
      "after the late splice (100->160->200)")

    // 6. streaming ingestion dedup: a document stream judged per
    //    micro-batch against the static corpus index
    val corpus = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val incoming = MemoryStream[(Long, String)]
    val dq = streaming.Streams.dedupVerdictSink(
      incoming.toDF().toDF("doc_id", "text"), corpus,
      s"$outDir/sdedup_out", s"$outDir/sdedup_ckpt").start()
    val copyOf0 = corpus.filter(col("doc_id") === 0).select("text")
      .head.getString(0)
    incoming.addData((1000000L, copyOf0), (1000001L, "a genuinely novel doc"))
    dq.processAllAvailable()
    dq.stop()
    val verdicts = spark.read.parquet(s"$outDir/sdedup_out/b0")
      .select("verdict").collect().map(_.getString(0)).sorted
    println(s"[demo] stream-dedup: verdicts=${verdicts.mkString(",")} " +
      "for (corpus copy, novel doc)")

    // 7. streaming KMV distinct sketch: per-key bottom-k state, the
    //    incremental twin of q_sketch_kmv
    val kmvIn = MemoryStream[(String, Long)]
    val kq = streaming.Streams.runToMemory(
      streaming.StatefulKmv.kmvDistinct(
        spark, kmvIn.toDF().toDF("grp", "id"), "grp", "id", k = 16).toDF(),
      "demo_kmv", "update")
    kmvIn.addData((1L to 40L).map(i => ("users", i)): _*)
    kq.processAllAvailable()
    kmvIn.addData((21L to 60L).map(i => ("users", i)): _*)
    kq.processAllAvailable()
    kq.stop()
    val kmvRows = spark.table("demo_kmv").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    println(s"[demo] stream-kmv: updates=${kmvRows.mkString(",")} " +
      "(sketch_k, est) after 40 then 60 distinct ids")

    // 7a. streaming uniform sample with payload: md5-priority bottom-k
    //     state per key — the streaming twin of the q_sample_* family
    val resIn = MemoryStream[(String, Long)]
    val rq = streaming.Streams.runToMemory(
      streaming.StatefulReservoir.uniformSample(
        spark, resIn.toDF().toDF("grp", "id"), "grp", "id", k = 8).toDF(),
      "demo_reservoir", "update")
    resIn.addData((1L to 30L).map(i => ("traffic", i)): _*)
    rq.processAllAvailable()
    resIn.addData((31L to 60L).map(i => ("traffic", i)): _*)
    rq.processAllAvailable()
    rq.stop()
    val resRows = spark.table("demo_reservoir").collect()
      .map(r => (r.getLong(1), r.getString(3).take(8)))
    println(s"[demo] stream-reservoir: updates=${resRows.mkString(",")} " +
      "(n_sampled, fp prefix) after 30 then 60 events")

    // 7b. streaming HLL: per-key 256-register state, the incremental
    //     twin of q_sketch_hll_fx (register-max mergeability)
    val hllIn = MemoryStream[(String, Long)]
    val hq = streaming.Streams.runToMemory(
      streaming.StatefulHll.hllDistinct(
        spark, hllIn.toDF().toDF("grp", "id"), "grp", "id").toDF(),
      "demo_hll", "update")
    hllIn.addData((1L to 300L).map(i => ("users", i)): _*)
    hq.processAllAvailable()
    hllIn.addData((151L to 450L).map(i => ("users", i)): _*)
    hq.processAllAvailable()
    hq.stop()
    val hllRows = spark.table("demo_hll").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    println(s"[demo] stream-hll: updates=${hllRows.mkString(",")} " +
      "(n_zero, est) after 300 then 450 distinct ids")

    // 7b2. streaming histogram-quantile sketch: per-key 64-bucket
    //      state over a frozen range, the incremental twin of
    //      q_sketch_quantile_fx (bucket-add mergeability)
    val quIn = MemoryStream[(String, Long)]
    val quQ = streaming.Streams.runToMemory(
      streaming.StatefulQuantile.medianSketch(
        spark, quIn.toDF().toDF("grp", "v"), "grp", "v", 0L, 1023L).toDF(),
      "demo_quant", "update")
    quIn.addData((1 to 300).map(i => ("latency", (i * 37L) % 1024L)): _*)
    quQ.processAllAvailable()
    quIn.addData((1 to 200).map(i => ("latency", (i * 91L) % 1024L)): _*)
    quQ.processAllAvailable()
    quQ.stop()
    val quRows = spark.table("demo_quant").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    println(s"[demo] stream-quantile: updates=${quRows.mkString(",")} " +
      "(n, est_med) after 300 then 500 values")

    // 7b3. streaming funnel stages: out-of-order-safe signup->click->
    //      purchase tracking, the incremental twin of q_funnel_stages
    val fnIn = MemoryStream[(Long, String, Long)]
    val fnQ = streaming.Streams.runToMemory(
      streaming.StatefulFunnel.stages(
        spark, fnIn.toDF().toDF("uid", "t", "m"), "uid", "t", "m").toDF(),
      "demo_funnel", "update")
    fnIn.addData((7L, "click", 10L), (7L, "purchase", 20L))
    fnQ.processAllAvailable()
    fnIn.addData((7L, "signup", 5L)) // late signup completes the funnel
    fnQ.processAllAvailable()
    fnQ.stop()
    val fnRows = spark.table("demo_funnel").collect()
      .map(r => (r.getLong(1), r.getLong(5)))
    println(s"[demo] stream-funnel: updates=${fnRows.mkString(",")} " +
      "(n_events, stage) — late signup lifted stage 0 -> 3")

    // 7c. streaming top-k leaderboard: per-key best-k state, the
    //     continuous form of ops.TopK (merge-then-trim monoid)
    val tkIn = MemoryStream[(String, Long, Long)]
    val tq = streaming.Streams.runToMemory(
      streaming.StatefulTopK.topK(
        spark, tkIn.toDF().toDF("grp", "id", "v"), "grp", "id", "v", k = 3)
        .toDF(),
      "demo_topk", "update")
    tkIn.addData(("spend", 1L, 10L), ("spend", 2L, 50L), ("spend", 3L, 30L))
    tq.processAllAvailable()
    tkIn.addData(("spend", 4L, 60L), ("spend", 5L, 40L))
    tq.processAllAvailable()
    tq.stop()
    val tkRows = spark.table("demo_topk").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    println(s"[demo] stream-topk: ${tkRows.length} leaderboard updates, " +
      s"final top=${tkRows.takeRight(3).mkString(",")}")

    // 7d. streaming OHLC candles: out-of-order-safe monoid state
    val ohIn = MemoryStream[(String, Long, Long)]
    val oq = streaming.Streams.runToMemory(
      streaming.StatefulOhlc.candles(
        spark, ohIn.toDF().toDF("key", "k", "v"), "key", "k", "v").toDF(),
      "demo_ohlc", "update")
    ohIn.addData(("btc:h0", 5L, 100L), ("btc:h0", 9L, 130L))
    oq.processAllAvailable()
    ohIn.addData(("btc:h0", 2L, 110L)) // late row rewrites the open
    oq.processAllAvailable()
    oq.stop()
    val ohRows = spark.table("demo_ohlc").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    println(s"[demo] stream-ohlc: ${ohRows.mkString(",")} " +
      "(n,open,high,low,close) — late k=2 moved open 100 -> 110")

    // 7e. streaming z-score anomaly detection: running integer moments
    //     per key, batch rows flagged against end-of-batch stats
    val anIn = MemoryStream[(String, Long)]
    val aq = streaming.Streams.runToMemory(
      streaming.StatefulAnomaly.anomaly(
        spark, anIn.toDF().toDF("k", "cents"), "k", "cents").toDF(),
      "demo_anomaly", "update")
    anIn.addData(Seq(100L, 105L, 98L, 102L, 99L, 101L, 100L, 103L, 97L,
      100L, 104L, 96L, 101L, 99L, 100L, 102L).map(("rev", _)): _*)
    aq.processAllAvailable()
    anIn.addData(Seq(103L, 97L, 5000L, 100L).map(("rev", _)): _*)
    aq.processAllAvailable()
    aq.stop()
    val anRows = spark.table("demo_anomaly").collect()
      .map(r => (r.getLong(1), r.getLong(4)))
    println(s"[demo] stream-anomaly: (n, flagged)=${anRows.mkString(",")} " +
      "— the planted 5000-cent outlier trips the |z|>3 gate")

    // 7f. streaming as-of price enrichment: the price lane's live
    //     consumer (R18 x s_stream) — quotes fold into a bounded ring
    //     per exchange, trades emit with the latest quote at or before
    //     their event time (LOCF), late trades price off ring history
    val pxIn = MemoryStream[(String, String, Long, Long, Long)]
    val pq2 = streaming.Streams.runToMemory(
      streaming.StatefulPriceAsOf.enrich(
        spark, pxIn.toDF().toDF("exchange", "kind", "ms", "id", "v")).toDF(),
      "demo_pxasof", "update")
    pxIn.addData(("cb", "Q", 1000L, 1L, 500L), ("cb", "Q", 2000L, 2L, 520L),
      ("cb", "T", 1500L, 1L, 3L))
    pq2.processAllAvailable()
    pxIn.addData(("cb", "Q", 3000L, 3L, 540L),
      ("cb", "T", 1200L, 2L, 2L), ("cb", "T", 3500L, 3L, 4L))
    pq2.processAllAvailable()
    pq2.stop()
    val pxRows = spark.table("demo_pxasof").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(5)))
    println(s"[demo] stream-price-asof: (trade,t_ms,px)=" +
      s"${pxRows.sortBy(_._1).mkString(",")} — late trade 2 priced off " +
      "ring history")

    // 8. streaming PQ encode: new vectors quantized map-side against a
    //    frozen batch-trained codebook (the FAISS `add` path;
    //    stream codes ≡ batch codes, pinned by StreamingSpec)
    val emb = Tables.load(spark, sfDir, "embeddings")
    val enc = ml.Pq.encoderFor(emb, "vec_id", "embedding",
      m = 4, subDim = 16, k = 16, iters = 2)
    val vecIn = MemoryStream[(Long, Seq[Float])]
    val pq = streaming.Streams.runToMemory(
      vecIn.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), enc(col("embedding")).as("codes")),
      "demo_pqenc", "append")
    val firstVecs = emb.orderBy("vec_id").limit(3)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    vecIn.addData(firstVecs.toIndexedSeq: _*)
    pq.processAllAvailable()
    pq.stop()
    val pqRows = spark.table("demo_pqenc").collect()
      .map(r => s"${r.getLong(0)}:[${r.getSeq[Long](1).mkString(" ")}]")
    println(s"[demo] stream-pq-encode: ${pqRows.sorted.mkString(", ")}")

    // 9. IVF-PQ index persistence: build once (3 parquet tables, codes
    //    partitioned by cell = the on-disk inverted list), serve many
    ml.Pq.writeIvfPqIndex(emb, "vec_id", "embedding",
      kc = 8, m = 4, subDim = 16, k = 16, iters = 2, s"$outDir/ivfpq_index")
    val served = ml.Pq.searchIvfPqIndex(
      emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
      s"$outDir/ivfpq_index", nprobe = 2, m = 4, subDim = 16, topK = 10)
      .count()
    val nCells = new java.io.File(s"$outDir/ivfpq_index/codes").listFiles()
      .count(_.getName.startsWith("cell="))
    println(s"[demo] ivfpq-index: $served results served from " +
      s"$nCells cell partitions on disk")

    // 10. ORC round-trip — the columnar format beyond parquet/Avro,
    //     with the same predicate-pushdown surface (partition pruning
    //     is already exercised by stage 2's bucketed write above).
    val docsIn = Tables.load(spark, sfDir, "documents")
    docsIn.write.mode("overwrite").orc(s"$outDir/docs_orc")
    val orcBack = spark.read.orc(s"$outDir/docs_orc")
    val orcPush = orcBack.filter(col("n_chars") > 100).select("doc_id")
      .queryExecution.executedPlan.toString.contains("PushedFilters: [")
    println(s"[demo] orc-roundtrip: ${orcBack.count()} rows " +
      s"(= ${docsIn.count()} in), filter pushdown=$orcPush")
    spark.stop()
  }
}
