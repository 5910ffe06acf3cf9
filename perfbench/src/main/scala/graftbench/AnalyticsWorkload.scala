package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.ops.SharedFrames

/** A warm analyst session: registry queries run one after another on
  * generated tables, by one client. Each episode is one pass over the
  * mix in an order drawn from the seed. `SharedFrames` keeps the shared
  * work the first pass built for the whole run (released when the run
  * ends), so a build inside a measured pass means the memo missed.
  * Reads only; the ingest layer does no work.
  *
  * Every call's result is collected (the client receives it) and its
  * checksum must equal the one checked in set-up: against the query's
  * DuckDB oracle through `tools/check.py`, or against the pinned
  * checksum of a query without an oracle.
  */
final class AnalyticsWorkload(spark: SparkSession, seed: Long, work: File)
    extends Workload {
  import AnalyticsWorkload._

  private val tables = new File(work, "tables")

  def layer: String = "queries"
  def episodeSeconds: Double = 6.0
  private var reference = Map.empty[String, Checksum]
  private var checkSeconds = 0.0

  def setup(): Unit = {
    Disk.deleteTree(tables)
    tables.mkdirs()
    TableGen.write(spark, tables.getPath, TableSeed)
  }

  def warmup(h: Harness): Unit = {
    val t0 = System.nanoTime()
    reference = checkAgainstOracles(h)
    checkSeconds = (System.nanoTime() - t0) / 1e9
  }

  override def notes: Map[String, Any] =
    Map("oracle_check_s" -> checkSeconds)

  /** Each mix query once, untimed: results to parquet beside their
    * oracle SQL, compared by `tools/check.py`; no-oracle results
    * against [[Pinned]]. Returns the checksum each later call must
    * reproduce. */
  private def checkAgainstOracles(h: Harness): Map[String, Checksum] = {
    val out = new File(work, "check")
    Disk.deleteTree(out)
    out.mkdirs()
    val results = Mix.map { q =>
      val df = SparkEntry.queries(q)(spark, tables.getPath)
      val rows = df.collect()
      (q, df.schema, rows)
    }
    Disk.inParallel(results, h.cores) { case (q, schema, rows) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(new File(out, q).getPath)
    }
    val sums = results.map { case (q, _, rows) => q -> Checksum.of(rows.iterator) }.toMap
    val oracles = SparkEntry.oracleSql.filter { case (q, _) => Mix.contains(q) }
    java.nio.file.Files.writeString(new File(out, "oracle_sql.json").toPath,
      Json.value(oracles))
    val cmd = Seq("python3", "tools/check.py", tables.getPath, out.getPath) ++ Mix
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    val report = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    val code = proc.waitFor()
    val passed = report.linesIterator.collect {
      case l if l.startsWith("PASS ") => l.drop(5).takeWhile(_ != ' ')
    }.toSet
    val missing = oracles.keySet -- passed
    if (code != 0 || missing.nonEmpty)
      throw new Mismatch(s"oracle check failed for ${missing.toSeq.sorted.mkString(", ")}" +
        s" (tools/check.py exit $code):\n$report")
    val unpinned = Mix.filterNot(oracles.contains)
      .filterNot(q => Pinned.get(q).contains(sums(q).toString))
    if (unpinned.nonEmpty)
      throw new Mismatch(unpinned.map(q => s"$q checksum ${sums(q)}, pinned " +
        Pinned.getOrElse(q, "none")).mkString("; "))
    sums
  }

  def episode(h: Harness, index: Int): Seq[OpResult] = {
    val order = new scala.util.Random(seed * 1000003L + index).shuffle(Mix)
    val ops = order.map { q =>
      val payer = s"$q#$index"
      SharedFrames.setPayer(payer)
      val (res, op) = h.op(q, index, Mix.indexOf(q)) {
        SparkEntry.queries(q)(spark, tables.getPath).collect()
      }
      res.fold(op) { rows =>
        val got = Checksum.of(rows.iterator)
        if (got != reference(q))
          throw new Mismatch(s"$q result $got, checked ${reference(q)}")
        op.copy(facts = Map(
          "ops.shared_frames.builds" ->
            SharedFrames.paidBuilds.get(payer).map(_.size.toDouble).getOrElse(0.0),
          "ops.shared_frames.build_s" -> SharedFrames.paidBuildSeconds.getOrElse(payer, 0.0)))
      }
    }
    SharedFrames.clearBuildLog()
    ops
  }

  def layers(h: Harness, traced: Seq[OpResult]): Map[String, Double] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val perSession = traced.groupBy(_.episode).values.toSeq
    Mix.map(q => s"queries.$q.s" -> med(traced.filter(_.name == q).map(_.seconds))).toMap ++
      Map(
        "queries.plan_s" -> med(traced.map(o => h.planSeconds(o.span.get))),
        "ops.shared_frames.builds" ->
          med(perSession.map(_.map(_.facts.getOrElse("ops.shared_frames.builds", 0.0)).sum)),
        "ops.shared_frames.build_s" ->
          med(perSession.map(_.map(_.facts.getOrElse("ops.shared_frames.build_s", 0.0)).sum)))
  }
}

object AnalyticsWorkload {
  /** The tables are the same in every run; the seed draws the order. */
  val TableSeed = 42L

  /** One query per module family: nested dedup (the paper's flagship),
    * relational joins, as-of joins, near-duplicate text, retrieval over
    * SharedFrames-shared term vectors, vector search, tokenization (a
    * SharedFrames memo) and codegen UDFs. */
  val Mix: Seq[String] = Seq(
    "q_flagship_dedup_explode", "q_tpch_q5_local", "q_join_asof", "q_dedup_minhash",
    "q_sparse_cosine", "q_ann_ivf", "q_bpe_encode", "q_udf_base58")

  /** Checksums of the mix queries that have no DuckDB oracle, on the
    * tables of [[TableSeed]]; see [[Checksum]]. */
  val Pinned: Map[String, String] = Map(
    "q_udf_base58" -> "500 rows / e8d0722887d6625b")
}
