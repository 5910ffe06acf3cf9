package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row

import graft.functions.{BtcScript, Hex}
import graft.ingest.Bitcoin

/** Seeded synthetic block stream for the ETL workloads.
  *
  * Every block carries RAW script bytes; the derived script-string,
  * error and address columns are decoded by the program's own
  * [[graft.functions.BtcScript]] here, at generation time, exactly as
  * the reference's per-record converter fills them before the sink.
  * The stream has the reference's at-least-once shape: about 10% of
  * blocks arrive a second time a few positions later (a retried load),
  * about 2% of blocks have no transactions (they vanish under the ETL's
  * inner unnest) and about 2% of transactions carry a truncated script
  * (a decode-error row). A few blocks overflow the chain-work column.
  *
  * The expected destination (one row per transaction of each distinct
  * non-empty block) is derived here independently of `Bitcoin.etl`, so
  * the ETL's output can be checked against it.
  */
object BlockGen {

  final case class Stream(arrivals: IndexedSeq[Row]) {
    /** Distinct blocks, first arrival wins (duplicates are exact copies). */
    lazy val distinct: IndexedSeq[Row] = {
      val seen = scala.collection.mutable.HashSet.empty[String]
      arrivals.filter(b => seen.add(b.getString(0)))
    }
  }

  val DupShare = 0.10
  val EmptyShare = 0.02
  val BadScriptShare = 0.02
  val BlockIntervalMs = 600000L
  private val GenesisMs = 1231006505000L

  /** `blocks` distinct blocks in arrival order, duplicates included. */
  def generate(seed: Long, blocks: Int): Stream = {
    val rng = new java.util.Random(seed)
    val out = ArrayBuffer.empty[Row]
    // duplicates wait in `pending` until their arrival position
    val pending = ArrayBuffer.empty[(Int, Row)]
    var prev = "00" * 32
    for (i <- 0 until blocks) {
      val b = block(rng, i, prev)
      prev = b.getString(0)
      out += b
      if (rng.nextDouble() < DupShare) pending += ((i + rng.nextInt(20), b))
      val (due, later) = pending.partition(_._1 <= i)
      out ++= due.map(_._2)
      pending.clear(); pending ++= later
    }
    out ++= pending.map(_._2)
    Stream(out.toIndexedSeq)
  }

  /** Cut the arrival order into `n` consecutive batches of equal size
    * (the last takes the remainder); a retried block may land in the
    * batch after its original, as a late retry does. */
  def batches(s: Stream, n: Int): IndexedSeq[IndexedSeq[Row]] = {
    val size = math.max(1, s.arrivals.length / n)
    (0 until n).map { k =>
      val to = if (k == n - 1) s.arrivals.length else (k + 1) * size
      s.arrivals.slice(k * size, to)
    }
  }

  /** The ETL destination expected for `distinct` blocks, in the
    * `etl.sh` projection order (timestamp, transaction_id, inputs,
    * outputs, block_id, previous_block, merkle_root, nonce, version,
    * work_terahash, work_error). */
  def expectedRows(distinct: Iterable[Row]): Iterator[Row] =
    distinct.iterator.flatMap { b =>
      b.getSeq[Row](9).iterator.map { tx =>
        Row(b.get(3), tx.get(0), tx.get(1), tx.get(2), b.get(0), b.get(1),
          b.get(2), b.get(5), b.get(6), b.get(7), b.get(8))
      }
    }

  private def hex(rng: java.util.Random, bytes: Int): String =
    Hex.bytesToHex(randomBytes(rng, bytes))

  private def randomBytes(rng: java.util.Random, n: Int): Array[Byte] = {
    val a = new Array[Byte](n); rng.nextBytes(a); a
  }

  private def push(data: Array[Byte]): Array[Byte] =
    Array(data.length.toByte) ++ data

  /** A scriptSig push that claims more bytes than remain. */
  private def truncated(rng: java.util.Random): Array[Byte] =
    Array[Byte](0x4b, rng.nextInt(256).toByte)

  private def spendSig(rng: java.util.Random): Array[Byte] = {
    val pubkey = Array[Byte]((2 + rng.nextInt(2)).toByte) ++ randomBytes(rng, 32)
    push(randomBytes(rng, 71)) ++ push(pubkey)
  }

  private def payScript(rng: java.util.Random): Array[Byte] =
    if (rng.nextInt(10) < 7)
      Array[Byte](0x76.toByte, 0xa9.toByte, 0x14) ++ randomBytes(rng, 20) ++
        Array[Byte](0x88.toByte, 0xac.toByte)
    else Array[Byte](0xa9.toByte, 0x14) ++ randomBytes(rng, 20) ++ Array(0x87.toByte)

  private def input(script: Array[Byte], seq: Long, coinbase: Boolean): Row = {
    val (s, serr) = BtcScript.decodeToString(script)
    val (pk, pkerr) = if (coinbase) ("", null) else BtcScript.inputAddress(script)
    Row(script, s, serr, seq, pk, pkerr)
  }

  private def output(sat: java.lang.Long, script: Array[Byte]): Row = {
    val (s, serr) = BtcScript.decodeToString(script)
    val (pk, pkerr) = BtcScript.outputAddress(script)
    Row(sat, script, s, serr, pk, pkerr)
  }

  private def transaction(rng: java.util.Random, coinbase: Boolean): Row = {
    // one script of a bad transaction is truncated (a decode-error row)
    val bad = rng.nextDouble() < BadScriptShare
    val nIn = if (coinbase) 1 else 1 + rng.nextInt(3)
    val nOut = 1 + rng.nextInt(3)
    val badSlot = if (bad) rng.nextInt(nIn + nOut) else -1
    val inputs = (0 until nIn).map { k =>
      val script =
        if (k == badSlot) truncated(rng)
        else if (coinbase) push(randomBytes(rng, 2 + rng.nextInt(6)))
        else spendSig(rng)
      input(script, if (coinbase) 4294967295L else rng.nextInt(4).toLong, coinbase)
    }
    val outputs = (0 until nOut).map { k =>
      val sat: java.lang.Long =
        if (rng.nextInt(100) == 0) null else Long.box(rng.nextInt(1 << 30).toLong * 10)
      output(sat, if (nIn + k == badSlot) truncated(rng) else payScript(rng))
    }
    Row(hex(rng, 32), inputs, outputs)
  }

  private def block(rng: java.util.Random, i: Int, prev: String): Row = {
    val txs =
      if (rng.nextDouble() < EmptyShare) Seq.empty[Row]
      else {
        val n = 1 + rng.nextInt(19)
        (0 until n).map(k => transaction(rng, coinbase = k == 0))
      }
    // ~0.5% of blocks carry chain work past Long range (work_error set)
    val work =
      if (rng.nextInt(200) == 0) BigInt(2).pow(100) + i
      else BigInt(i + 1) * BigInt(1L << 32)
    val (wt, we) = Bitcoin.workTerahash(work)
    val ts = GenesisMs + i * BlockIntervalMs + rng.nextInt(240000) - 120000
    Row(hex(rng, 32), prev, hex(rng, 32), ts, 486604799L,
      rng.nextInt() & 0xffffffffL, (1 + rng.nextInt(2)).toLong,
      wt.map(Long.box).orNull, we.orNull, txs)
  }
}
