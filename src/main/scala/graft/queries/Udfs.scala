package graft.queries

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{Q, Tables}
import graft.functions.{Base58, FreqItems, WeightedAvg}
import graft.text.Text

/** Wave 4c — user-defined function surface: typed UDAF and the base58
  * address UDF (SURVEY.md §2.B `u_udaf_weighted` / `u_udf_base58`).
  */
object Udfs {

  /** Volume-weighted average via the [[WeightedAvg]] Aggregator. The
    * oracle is the algebraic equivalent in exact integer cents:
    * sum(vc*wc)/100/sum(wc) — the same arithmetic the Aggregator does. */
  val udafWeighted: Q = Q(
    "q_udaf_weighted",
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
      |           * CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE)
      |    / 100 / CAST(SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE)
      |    AS wavg_price,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
    (s, d) =>
      implicit val inEnc: Encoder[(Double, Double)] =
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
      val wavg = udaf(WeightedAvg)
      Tables.load(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          wavg(col("l_extendedprice"), col("l_quantity")).as("wavg_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
  }

  /** Base58Check address derivation from deterministic pseudo-hash160
    * payloads (md5(text) 16 bytes, zero-padded to 20). DuckDB has no
    * base58, so correctness is golden-vector ScalaTest (Base58Spec);
    * the query itself is the driver-visible rows-only entry.
    *
    * r6: the hot path is the codegen [[graft.plans.Base58Check]]
    * expression (SURVEY §4.3's stretch goal closed); the original
    * Scala UDF rides along as `address_udf` and the query RAISES if
    * the two ever disagree on any row — the cross-check runs on every
    * driver verify, on top of Base58Spec's golden vectors. */
  val udfBase58: Q = Q.noOracle("q_udf_base58") { (s, d) =>
    val b58 = udf((bytes: Array[Byte]) =>
      Base58.encodeChecked(0x00.toByte, bytes.padTo(20, 0x00.toByte)))
    Tables.load(s, d, "documents")
      .select(col("doc_id"),
        // zero-pad the 16-byte md5 to hash160 width OUTSIDE both
        // implementations so they receive identical payloads
        concat(to_binary(md5(col("text")), lit("hex")),
          lit(Array.fill[Byte](4)(0))).as("h"))
      .select(col("doc_id"),
        call_function("graft_base58check", col("h")).as("address"),
        b58(col("h")).as("address_udf"))
      .withColumn("address",
        when(col("address") === col("address_udf"), col("address"))
          .otherwise(raise_error(concat(
            lit("base58 expression/UDF mismatch on doc "), col("doc_id")))))
      .orderBy("doc_id")
  }

  /** Multimodal binary-column pipeline over synthetic-but-VALID PPM
    * payloads: a REAL Netpbm decode (header + raster parse from bytes,
    * [[graft.multimodal.Multimodal.decodeNetpbm]]) followed by feature
    * extraction over the decoded pixels; a malformed payload would
    * surface as an error row (R6 convention), never a crash or a
    * fabricated value.
    *
    * FULL ORACLE (r5): the payload builder is deterministic (8-wide P6,
    * text bytes zero-padded to the row stride), so DuckDB can replay
    * the ENTIRE chain — header dimensions AND the per-slot pixel
    * feature sums — from the raw document bytes via ascii(); the
    * engine walks bytes it parsed back out of the PPM container, the
    * oracle walks the bytes that went in, and the hash match proves the
    * codec round-trip. Feature sums use the order-free fx chain
    * ([[graft.multimodal.Multimodal.featureSumsFx]]). The oracle's
    * char-based ascii()/length() equal the engine's bytes because the
    * corpus is ASCII — the same contract q_multimodal_frames already
    * asserts (the asset builder raises on non-ASCII docs). */
  val multimodalDecode: Q = Q(
    "q_multimodal_decode",
    """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
      |pos AS (SELECT unnest(range(1,
      |    (SELECT MAX(length(text)) FROM documents) + 1)) AS i),
      |b AS (SELECT doc_id, (i - 1) % 8 AS slot,
      |    CAST(FLOOR(ascii(substr(text, CAST(i AS BIGINT), 1)) / 255 * 1e6)
      |         AS BIGINT) AS fx
      |  FROM d, pos WHERE i <= n),
      |sl AS (SELECT dd.doc_id, ss.slot, COALESCE(SUM(b.fx), 0) AS s
      |  FROM d dd CROSS JOIN (SELECT unnest(range(0, 8)) AS slot) ss
      |  LEFT JOIN b ON b.doc_id = dd.doc_id AND b.slot = ss.slot
      |  GROUP BY 1, 2),
      |f AS (SELECT doc_id, string_agg(CAST(s AS VARCHAR), '|' ORDER BY slot)
      |        AS features_fx
      |      FROM sl GROUP BY doc_id)
      |SELECT d.doc_id AS asset_id, f.features_fx, 8 AS width,
      |  CAST(GREATEST(1, (n + 23) // 24) AS INT) AS height
      |FROM d JOIN f ON d.doc_id = f.doc_id
      |ORDER BY asset_id""".stripMargin) { (s, d) =>
    import graft.multimodal.Multimodal
    val decoded = Multimodal.decode(s, Multimodal.ppmAssetsFromDocuments(s, d))
    import s.implicits._
    decoded.mapPartitions { it =>
      it.map { a =>
        // synthesized payloads are always decodable; a decode error here
        // is a codec bug and must fail the run, not silently skip
        require(a.error == null, s"asset ${a.asset_id}: ${a.error}")
        (a.asset_id,
          Multimodal.featureSumsFx(a.meta, a.pixels, dim = 8).mkString("|"),
          a.meta.width, a.meta.height)
      }
    }.toDF("asset_id", "features_fx", "width", "height")
      .orderBy("asset_id")
  }

  /** Video-style frame sampling over binary payloads
    * ([[graft.multimodal.Multimodal.sampleFrames]]): fixed-stride byte
    * slices stand in for decoded frames; the driver-visible projection
    * fingerprints each frame (md5) instead of exposing the bytes. The
    * oracle reproduces the slicing with char-based substring — exact
    * because the corpus is ASCII (bytes == chars). */
  val multimodalFrames: Q = Q(
    "q_multimodal_frames",
    // the position range is derived from the data (longest document), so
    // the oracle can never truncate frames that the engine emits
    """WITH pos AS (SELECT unnest(range(0,
      |         (SELECT MAX(length(text)) // 128 + 1 FROM documents))) AS frame_no)
      |SELECT doc_id AS asset_id, frame_no,
      |  CAST(length(substring(text, CAST(frame_no*128 + 1 AS BIGINT), 128)) AS BIGINT) AS frame_len,
      |  md5(substring(text, CAST(frame_no*128 + 1 AS BIGINT), 128)) AS frame_md5
      |FROM documents, pos WHERE frame_no*128 < length(text)
      |ORDER BY asset_id, frame_no""".stripMargin) { (s, d) =>
    import graft.multimodal.Multimodal
    Multimodal.sampleFrames(s, Multimodal.assetsFromDocuments(s, d), every = 128)
      .select(col("asset_id"), col("frame_no"),
        length(col("frame_bytes")).cast(LongType).as("frame_len"),
        md5(col("frame_bytes")).as("frame_md5"))
      .orderBy("asset_id", "frame_no")
  }

  /** The reference's etl.sh on the golden BQRow fixture — reference-
    * fidelity surface (schema + quirks), now under a FULL DuckDB oracle
    * (r6): the query writes the nested fixture to a deterministic
    * parquet path and runs the ETL on the READ-BACK frame, so engine
    * and oracle consume the exact same file; the oracle replays
    * etl.sh:5-33 verbatim — ROW_NUMBER dedup (safe orderless: the b1
    * duplicate rows are bit-identical), inner UNNEST(transactions)
    * (b2 vanishes), star projection dropping difficultyTarget — over
    * the same nested parquet. The nested input/output struct arrays are
    * scalarized as ordered field-joined strings on BOTH sides
    * (Spark transform+array_join ↔ DuckDB list_transform+
    * array_to_string; '~' is the null sentinel, distinguishing null
    * pubkeys from the coinbase's quirk-preserving "" — Spark to_json
    * was unreplayable: it silently drops null struct fields), so every
    * quirk sits inside the hash. */
  private val GoldenBlocksPath = "/tmp/graft-golden/blocks.parquet"

  val bitcoinEtlGolden: Q = Q(
    "q_bitcoin_etl_golden",
    s"""WITH b AS (SELECT * FROM '$GoldenBlocksPath/*.parquet'),
      |d AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY block_id) AS rn FROM b),
      |t AS (SELECT d.*, unnest(transactions) AS tx FROM d WHERE rn = 1)
      |SELECT t."timestamp", tx.transaction_id AS transaction_id,
      |  array_to_string(list_transform(tx.inputs, i -> concat(
      |    coalesce(hex(i.input_script_bytes), '~'), ':',
      |    coalesce(i.input_script_string, '~'), ':',
      |    coalesce(i.input_script_string_error, '~'), ':',
      |    coalesce(CAST(i.input_sequence_number AS VARCHAR), '~'), ':',
      |    coalesce(i.input_pubkey_base58, '~'), ':',
      |    coalesce(i.input_pubkey_base58_error, '~'))), '|') AS inputs,
      |  array_to_string(list_transform(tx.outputs, o -> concat(
      |    coalesce(CAST(o.output_satoshis AS VARCHAR), '~'), ':',
      |    coalesce(hex(o.output_script_bytes), '~'), ':',
      |    coalesce(o.output_script_string, '~'), ':',
      |    coalesce(o.output_script_string_error, '~'), ':',
      |    coalesce(o.output_pubkey_base58, '~'), ':',
      |    coalesce(o.output_pubkey_base58_error, '~'))), '|') AS outputs,
      |  block_id, previous_block, merkle_root, nonce, version,
      |  work_terahash, work_error
      |FROM t ORDER BY block_id, transaction_id""".stripMargin) { (s, _) =>
    import org.apache.spark.sql.Column
    // Write-once, atomically published: the fixture bytes are a pure
    // function of the (deterministic) golden decoder, so any published
    // copy is equivalent. Writing to a temp dir and renaming means a
    // concurrent session (perfbench + tests + Verify share /tmp) can never
    // race a partial overwrite against the oracle's read of the same
    // glob — and the repeated-run fixture write stays OUT of the timed
    // bench region.
    val target = java.nio.file.Paths.get(GoldenBlocksPath)
    if (!java.nio.file.Files.exists(target)) {
      val tmp = GoldenBlocksPath + ".tmp-" + java.util.UUID.randomUUID
      graft.ingest.Bitcoin.goldenBlocks(s).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      try java.nio.file.Files.move(java.nio.file.Paths.get(tmp), target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileSystemException =>
        // lost the publish race to an equivalent writer: discard ours
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator.asScala
          .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    val blocks = s.read.schema(graft.ingest.Bitcoin.blockSchema).parquet(GoldenBlocksPath)
    def fld(c: Column): Column = coalesce(c.cast("string"), lit("~"))
    def rowFmt(e: Column, fields: Seq[(String, Boolean)]): Column =
      concat_ws(":", fields.map { case (f, isHex) =>
        fld(if (isHex) hex(e.getField(f)) else e.getField(f))
      }: _*)
    graft.ingest.Bitcoin.etl(blocks)
      .withColumn("inputs", array_join(
        transform(col("inputs"), i => rowFmt(i, Seq(
          "input_script_bytes" -> true, "input_script_string" -> false,
          "input_script_string_error" -> false,
          "input_sequence_number" -> false,
          "input_pubkey_base58" -> false,
          "input_pubkey_base58_error" -> false))), "|"))
      .withColumn("outputs", array_join(
        transform(col("outputs"), o => rowFmt(o, Seq(
          "output_satoshis" -> false, "output_script_bytes" -> true,
          "output_script_string" -> false,
          "output_script_string_error" -> false,
          "output_pubkey_base58" -> false,
          "output_pubkey_base58_error" -> false))), "|"))
      .orderBy("block_id", "transaction_id")
  }

  /** The declared UDTF (`u_udtf_explode_scripts`): 1 tx row -> N script-
    * op rows, decoding RAW script bytes with the real parser
    * ([[graft.functions.BtcScript]] — the reference's scriptSig /
    * scriptPubKey decode, `BitcoinBlockHandler.java:136-141,171-178`).
    * Undecodable scripts produce no op rows (inner generator semantics);
    * their error surfaces in the `*_script_string_error` columns of the
    * ETL output instead. No oracle: the input is the golden fixture and
    * DuckDB has no script decoder; ScriptDecodeSpec covers the vectors. */
  val udtfExplodeScripts: Q = Q.noOracle("q_udtf_explode_scripts") { (s, _) =>
    import graft.functions.BtcScript
    val opsUdf = udf { (bytes: Array[Byte]) =>
      try BtcScript.parse(bytes).map(o => (o.name, o.pushHex))
      catch { case _: BtcScript.ScriptDecodeException => Seq.empty[(String, String)] }
    }
    val txs = graft.ingest.Bitcoin.goldenBlocks(s)
      .select(col("block_id"), explode(col("transactions")).as("tx"))
      .select(col("block_id"), col("tx.transaction_id").as("transaction_id"),
        col("tx.inputs").as("ins"), col("tx.outputs").as("outs"))
    def side(arr: String, sideName: String, scriptField: String) = txs
      .select(col("block_id"), col("transaction_id"), lit(sideName).as("side"),
        posexplode(col(arr)).as(Seq("elem_idx", "e")))
      .select(col("block_id"), col("transaction_id"), col("side"),
        col("elem_idx"), col(s"e.$scriptField").as("script_bytes"))
    side("ins", "input", "input_script_bytes")
      .unionAll(side("outs", "output", "output_script_bytes"))
      .select(col("block_id"), col("transaction_id"), col("side"), col("elem_idx"),
        posexplode(opsUdf(col("script_bytes"))).as(Seq("op_idx", "op")))
      .select(col("block_id"), col("transaction_id"), col("side"),
        col("elem_idx"), col("op_idx"),
        col("op._1").as("op_name"), col("op._2").as("push_hex"))
      .orderBy("block_id", "transaction_id", "side", "elem_idx", "op_idx")
  }

  /** Heavy-hitter terms per language via the [[FreqItems]] Misra-Gries
    * sketch (k=16): bounded memory per group regardless of vocabulary
    * size — the scale path when exact term counts would shuffle the
    * whole vocabulary. Estimates are order-dependent (no oracle); the
    * order-independent error bounds are property-tested in
    * FreqItemsSpec. Output explodes the sketch map to scalar rows. */
  val freqItems: Q = Q.noOracle("q_freq_items") { (s, d) =>
    val fi = udaf(FreqItems(16), Encoders.STRING)
    Text.tokenRows(Tables.load(s, d, "documents"), col("text"), "term", col("lang"))
      .groupBy("lang")
      .agg(fi(col("term")).as("sketch"))
      .select(col("lang"), explode(col("sketch")).as(Seq("term", "est_count")))
      .orderBy(col("lang"), col("est_count").desc, col("term"))
  }

  /** Count-min sketch point estimates: one mergeable CMS built over
    * the whole event stream (map-side partial sketches merge
    * associatively — the aggregation never ships raw keys), then the
    * top-20 users' true counts probed against it via a broadcast of
    * the single sketch row. Estimates overcount only (eps*N bound,
    * CmsSpec); no oracle — the sketch layout is implementation-
    * specific. */
  val sketchCms: Q = Q.noOracle("q_sketch_cms") { (s, d) =>
    val ev = Tables.load(s, d, "events")
    val sk = ev.agg(
      expr("count_min_sketch(user_id, 0.0001d, 0.99d, 42)").as("sk"))
    val probe = ev.groupBy("user_id").agg(count(lit(1)).as("true_n"))
      .orderBy(col("true_n").desc, col("user_id")).limit(20)
    val est = udf { (bytes: Array[Byte], k: Long) =>
      org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(bytes)).estimateCount(k)
    }
    probe.crossJoin(broadcast(sk))
      .select(col("user_id"), col("true_n"),
        est(col("sk"), col("user_id")).as("cms_n"))
      .orderBy(col("true_n").desc, col("user_id"))
  }

  val all: Seq[Q] = Seq(
    udafWeighted, udfBase58, multimodalDecode, multimodalFrames,
    bitcoinEtlGolden, udtfExplodeScripts, freqItems, sketchCms)
}
