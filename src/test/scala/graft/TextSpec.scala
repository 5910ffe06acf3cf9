package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.text.Text

class TextSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("tokens: lowercased, empties removed") {
    val out = Seq("The  Quick brown ").toDF("text")
      .select(Text.tokens(col("text"))).head.getSeq[String](0)
    assert(out == Seq("the", "quick", "brown"))
  }

  test("the shingle UDFs tokenize like Text.tokens under a Turkish " +
    "default locale, where 'I' would lowercase to a dotless 'ı'") {
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
      val row = Seq("TITLE").toDF("text")
        .select(Text.shingleSetUdf(1)(col("text")),
          Text.shingleListUdf(1)(col("text")), Text.tokens(col("text")))
        .head
      assert((0 to 2).map(row.getSeq[String](_)) == Seq.fill(3)(Seq("title")))
    } finally java.util.Locale.setDefault(saved)
  }

  test("shingles: n-grams with short-doc guard") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(Text.shingles(Text.tokens(col("text")), 3).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("a b c", "b c d"))
    assert(rows(1).isEmpty) // fewer than n tokens -> empty, not [1,0] blowup
  }

  test("langId scores marker vocab with deterministic tie-break") {
    val df = Seq(
      "the cat and the dog is in a house", // en
      "el perro y la casa de un gato que", // es
      "xyz qrs").toDF("text") // no markers -> first lang wins tie at 0
      .select(Text.langId(Text.tokens(col("text"))))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("en", "es", "en"))
  }

  test("langScoresUdf: single compiled pass equals the per-language " +
    "HOF marker counts, and the two-step argmax equals langId") {
    val docs = Seq(
      "the cat and the dog is in a house",
      "el perro y la casa de un gato que",
      "der hund und die katze ist ein nicht",
      "le chat et la maison les des un est",
      "de5 le5 shi4 bu4 wo3 ni3 ta1",
      "  the   de5 de la  und ", // multi-space + cross-lang ties
      "", "xyz qrs").toDF("text")
    val toks = Text.tokens(col("text"))
    val hof = docs.select(
      Text.langScores(toks).map { case (l, c) => c.as(s"h_$l") }: _*)
      .collect().map(r => (0 until Text.langMarkers.size).map(r.getLong))
    val fast = docs.select(Text.langScoresUdf(col("text")).as("sc"))
      .collect().map(_.getSeq[Long](0).toIndexedSeq)
    assert(hof.toSeq.map(_.toIndexedSeq) == fast.toSeq)
    // two-step argmax == single-expression langId (the r14 rewrite)
    val twoStep = docs
      .select(Text.langScoresUdf(col("text")).as("sc"))
      .select(Text.langIdFromScores(Text.langMarkers.zipWithIndex
        .map { case ((l, _), i) => l -> col("sc").getItem(i) }).as("p"))
      .collect().map(_.getString(0)).toSeq
    val oneStep = docs.select(Text.langId(toks))
      .collect().map(_.getString(0)).toSeq
    assert(twoStep == oneStep)
  }

  test("quality features: ratios and counts") {
    val feats = Text.qualityFeatures(col("text"))
    val row = Seq("the the cat!").toDF("text")
      .select(feats.map { case (n, c) => c.as(n) }: _*).head
    assert(row.getAs[Long]("n_tokens") == 3)
    assert(row.getAs[Long]("n_distinct_tokens") == 2)
    assert(row.getAs[Long]("n_punct") == 1) // '!'
    assert(math.abs(row.getAs[Double]("stopword_ratio") - 2.0 / 3) < 1e-9)
  }

  test("regexTokens splits alpha/digit runs") {
    val out = Seq("GPT-4 is 2x better!").toDF("text")
      .select(Text.regexTokens(col("text"))).head.getSeq[String](0)
    assert(out == Seq("gpt", "4", "is", "2x", "better"))
  }

  test("quality classifier: separable fixture is classified correctly " +
    "on held-out docs, weights trained on the train split only") {
    // Positives (src0-src2) speak a disjoint vocabulary from negatives:
    // every bucket weight saturates and held-out accuracy must be 100%.
    val docs = (0L until 60L).map { id =>
      val pos = id % 2 == 0
      val src = if (pos) s"src${id % 3}" else s"src${3 + id % 5}"
      val text = if (pos) "alpha beta gamma delta" else "omega sigma tau rho"
      (id, text, "en", src, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("qclass").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_quality_classifier")(spark, dir).collect()
    assert(out.length == 60)
    val mis = out.filter(r => r.getLong(4) != r.getLong(1))
    assert(mis.isEmpty,
      s"misclassified: ${mis.map(_.getLong(0)).mkString(",")}")
    // both splits are populated and both appear in the output
    assert(out.map(_.getLong(2)).toSet == Set(0L, 1L))
    // fully separable vocab: every doc's |score| is at least the
    // 4-token saturated magnitude would give with a sign match
    assert(out.forall(r => if (r.getLong(1) == 1) r.getLong(3) > 0
      else r.getLong(3) < 0))
  }
}
