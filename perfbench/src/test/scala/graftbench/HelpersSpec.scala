package graftbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  private def bytes(s: BlockGen.Stream): Seq[String] = s.arrivals.map(Checksum.canonical)

  test("the same seed gives byte-identical blocks, another seed different ones") {
    val a = BlockGen.generate(7L, 300)
    assert(bytes(a) == bytes(BlockGen.generate(7L, 300)))
    val b = BlockGen.generate(8L, 300)
    assert(bytes(a).toSet.intersect(bytes(b).toSet).isEmpty)
  }

  test("the same seed gives identical analytics tables, another seed different ones") {
    def rows(seed: Long) = TableGen.tables(seed, TableGen.Default.copy(orders = 200,
      events = 100, documents = 20, vectors = 20)).map { case (n, _, rs) => n -> rs.map(Checksum.canonical) }
    assert(rows(42L) == rows(42L))
    assert(rows(42L).toMap.apply("orders") != rows(43L).toMap.apply("orders"))
  }

  test("the block stream has the reference's quirks in the stated shares") {
    val s = BlockGen.generate(11L, 4000)
    val distinct = s.distinct
    assert(distinct.length == 4000)
    val dupShare = (s.arrivals.length - 4000) / 4000.0
    assert(dupShare > 0.08 && dupShare < 0.12, dupShare)
    val empty = distinct.count(_.getSeq[Row](9).isEmpty) / 4000.0
    assert(empty > 0.01 && empty < 0.03, empty)
    val txs = distinct.flatMap(_.getSeq[Row](9))
    def errors(tx: Row) = (tx.getSeq[Row](1).map(_.getString(2)) ++ tx.getSeq[Row](2).map(_.getString(3)))
      .count(_ != null)
    val bad = txs.count(errors(_) > 0) / txs.length.toDouble
    assert(bad > 0.01 && bad < 0.03, bad)
    // decoded columns come from the program's script decoder
    val spend = txs.flatMap(_.getSeq[Row](1)).find(i => i.getString(4) != null && i.getString(4).nonEmpty).get
    assert(spend.getString(1).startsWith("PUSHDATA(71)[") && spend.getString(4).startsWith("1"))
    // a retried block lands in a later batch at most once in a while
    val batches = BlockGen.batches(s, 6)
    assert(batches.map(_.length).sum == s.arrivals.length)
  }

  test("tail is the highest rank with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == Stats.Tail(90.0, 90.0, 100))
    assert(Stats.tail(xs.reverse) == Stats.Tail(90.0, 90.0, 100))
    assert(Stats.tail((1 to 11).map(_.toDouble)) == Stats.Tail(1.0, 100.0 / 11, 11))
    assert(Stats.tail((1 to 25).map(_.toDouble)) == Stats.Tail(15.0, 60.0, 25))
    // too few samples support no tail: the maximum, flagged as p100
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == Stats.Tail(3.0, 100.0, 3))
    assert(Stats.tail((1 to 10).map(_.toDouble)).percentile == 100.0)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("checksum ignores row order, sees every field") {
    val r1 = Row("a", 1L, Seq(Row(Array[Byte](1, 2), null)))
    val r2 = Row("b", 2L, Seq.empty[Row])
    assert(Checksum.of(Iterator(r1, r2)) == Checksum.of(Iterator(r2, r1)))
    val changed = Row("a", 1L, Seq(Row(Array[Byte](1, 3), null)))
    assert(Checksum.of(Iterator(r1, r2)) != Checksum.of(Iterator(changed, r2)))
    assert(Checksum.canonical(Row(null, "")) != Checksum.canonical(Row("", null)))
  }

  test("a job's module is the package of its first program frame") {
    val long = "org.apache.spark.sql.Dataset.count(Dataset.scala:3500)\n" +
      "graft.ingest.AvroSink$.write(AvroSink.scala:130)\n" +
      "graftbench.EtlWorkload.episode(EtlWorkload.scala:70)"
    assert(Tracer.moduleOf(long, "count at AvroSink.scala:130") == "ingest/AvroSink")
    assert(Tracer.moduleOf("graftbench.Main$.run(Main.scala:1)", "count at Main.scala:1") == "?/Main")
  }
}
