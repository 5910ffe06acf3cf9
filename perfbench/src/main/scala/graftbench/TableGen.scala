package graftbench

import java.time.{LocalDateTime, ZoneOffset}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator for the analytics tables: the TPC-H-like star
  * schema plus the `events`, `documents` and `embeddings` tables that
  * `graft.Tables` loads, with the column names, types and value ranges
  * of the repository's reference test tables (see TESTDATA.md and
  * FIXTURES.md §3) at a scale a 4-core machine runs in seconds.
  *
  * Timestamps are written as TIMESTAMP_NTZ, which parquet stores as
  * microseconds with isAdjustedToUTC=false, the same physical type
  * the reference tables use; the program reads them back as TIMESTAMP.
  */
object TableGen {

  final case class Scale(customers: Int, suppliers: Int, parts: Int,
      orders: Int, events: Int, documents: Int, vectors: Int)

  val Default: Scale = Scale(customers = 1500, suppliers = 100, parts = 2000,
    orders = 15000, events = 10000, documents = 500, vectors = 500)

  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val Statuses = Seq("F", "O", "P")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val Langs = Seq("de", "en", "es", "fr", "zh")
  private val Words = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val Dim = 64

  /** Table name -> (schema, rows), every value drawn from `seed`. */
  def tables(seed: Long, sc: Scale = Default): Seq[(String, StructType, Seq[Row])] = {
    val rng = new java.util.Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.length))
    def cents(lo: Int, hi: Int): Double = (lo * 100L + rng.nextInt((hi - lo) * 100 + 1)) / 100.0
    def day(from: LocalDateTime, days: Int): LocalDateTime = from.plusDays(rng.nextInt(days))
    def field(n: String, t: DataType) = StructField(n, t, nullable = true)
    val d1995 = LocalDateTime.of(1995, 1, 1, 0, 0)

    val region = (StructType(Seq(field("r_regionkey", IntegerType), field("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    val nation = (StructType(Seq(field("n_nationkey", IntegerType), field("n_name", StringType),
      field("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val customer = (StructType(Seq(field("c_custkey", LongType), field("c_name", StringType),
      field("c_nationkey", IntegerType), field("c_acctbal", DoubleType),
      field("c_mktsegment", StringType))),
      (0 until sc.customers).map(i => Row(i.toLong, f"Customer#$i%09d", rng.nextInt(25),
        cents(-999, 9999), pick(Segments))))
    val supplier = (StructType(Seq(field("s_suppkey", LongType), field("s_name", StringType),
      field("s_nationkey", IntegerType), field("s_acctbal", DoubleType))),
      (0 until sc.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", rng.nextInt(25),
        cents(-999, 9999))))
    val part = (StructType(Seq(field("p_partkey", LongType), field("p_name", StringType),
      field("p_brand", StringType), field("p_type", StringType), field("p_size", IntegerType),
      field("p_retailprice", DoubleType))),
      (0 until sc.parts).map(i => Row(i.toLong, s"${pick(Adjectives)} ${pick(Nouns)}",
        s"Brand#${1 + rng.nextInt(25)}", pick(Types), 1 + rng.nextInt(50),
        (90000 + i % 1000 * 10) / 100.0)))
    val orders = (0 until sc.orders).map(i => Row(i.toLong, rng.nextInt(sc.customers).toLong,
      pick(Statuses), cents(1000, 500000), day(d1995, 2404), pick(Priorities)))
    val lineitem = orders.flatMap { o =>
      val orderDate = o.getAs[LocalDateTime](4)
      (1 to 1 + rng.nextInt(7)).map { ln =>
        val qty = (1 + rng.nextInt(50)).toDouble
        Row(o.getLong(0), rng.nextInt(sc.parts).toLong, rng.nextInt(sc.suppliers).toLong, ln,
          qty, cents(900, 99999), rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
          pick(Seq("A", "N", "R")), pick(Seq("F", "O")), orderDate.plusDays(1 + rng.nextInt(121)))
      }
    }
    val t2024 = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L
    val eventTs = (0 until sc.events).map(_ => t2024 + (rng.nextDouble() * 30 * 86400e6).toLong).sorted
    val events = eventTs.zipWithIndex.map { case (us, i) =>
      Row(i.toLong, LocalDateTime.ofEpochSecond(us / 1000000L, (us % 1000000L).toInt * 1000,
        ZoneOffset.UTC), rng.nextInt(150).toLong, pick(EventTypes), cents(0, 490) max 0.01,
        s"""{"k": ${rng.nextInt(100)}}""")
    }
    val documents = (0 until sc.documents).map { i =>
      val text = Seq.fill(8 + rng.nextInt(93))(pick(Words)).mkString(" ")
      Row(i.toLong, text, pick(Langs), s"src${i % 20}", text.length.toLong)
    }
    val embeddings = (0 until sc.vectors).map { i =>
      val v = Array.fill(Dim)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rng.nextInt(10))
    }

    Seq(
      ("region", region._1, region._2),
      ("nation", nation._1, nation._2),
      ("customer", customer._1, customer._2),
      ("supplier", supplier._1, supplier._2),
      ("part", part._1, part._2),
      ("orders", StructType(Seq(field("o_orderkey", LongType), field("o_custkey", LongType),
        field("o_orderstatus", StringType), field("o_totalprice", DoubleType),
        field("o_orderdate", TimestampNTZType), field("o_orderpriority", StringType))), orders),
      ("lineitem", StructType(Seq(field("l_orderkey", LongType), field("l_partkey", LongType),
        field("l_suppkey", LongType), field("l_linenumber", IntegerType),
        field("l_quantity", DoubleType), field("l_extendedprice", DoubleType),
        field("l_discount", DoubleType), field("l_tax", DoubleType),
        field("l_returnflag", StringType), field("l_linestatus", StringType),
        field("l_shipdate", TimestampNTZType))), lineitem),
      ("events", StructType(Seq(field("event_id", LongType), field("ts", TimestampNTZType),
        field("user_id", LongType), field("event_type", StringType), field("value", DoubleType),
        field("props", StringType))), events),
      ("documents", StructType(Seq(field("doc_id", LongType), field("text", StringType),
        field("lang", StringType), field("source", StringType), field("n_chars", LongType))),
        documents),
      ("embeddings", StructType(Seq(field("vec_id", LongType),
        field("embedding", ArrayType(FloatType, containsNull = true)),
        field("label", IntegerType))), embeddings))
  }

  /** Write every table as the single parquet file `<dir>/<name>.parquet`
    * (a plain file, not a directory, so DuckDB reads it by that name). */
  def write(spark: SparkSession, dir: String, seed: Long): Unit =
    Disk.inParallel(tables(seed), spark.sparkContext.defaultParallelism) {
      case (name, schema, rows) =>
        val tmp = new java.io.File(dir, s"$name.tmp")
        spark.createDataFrame(rows.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(tmp.getPath)
        val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath, new java.io.File(dir, s"$name.parquet").toPath)
        Disk.deleteTree(tmp)
    }
}
