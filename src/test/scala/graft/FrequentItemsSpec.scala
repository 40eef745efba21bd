package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ext.FrequentItems

/** Two-pass heavy hitters: the exact contract must survive sketch
  * eviction — a tiny k forces the Misra-Gries decrement and merge paths
  * on skewed seeded data, and the result must STILL equal the plain
  * exact GROUP BY (that is the whole point of the verify pass). */
class FrequentItemsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** Seeded Zipf-ish stream: item i appears ~ N/(i+1) times, shuffled
    * deterministically so partitions interleave hot and cold items. */
  private def zipfStream(nItems: Int, scale: Int): Seq[String] = {
    val raw = (0 until nItems).flatMap(i =>
      Seq.fill(scale / (i + 1))(s"item$i"))
    val rnd = new scala.util.Random(42)
    rnd.shuffle(raw)
  }

  test("heavy hitters == exact GROUP BY even when the sketch evicts") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    // 200 distinct items, ~1180 rows; k=24 counters (far below the
    // vocabulary) forces constant eviction; phi=0.05 > 1/24
    val data = zipfStream(200, 200)
    val df = data.toDF("word").repartition(7) // multiple partials to merge
    val got = FrequentItems.heavyHitters(df, k = 24, phi = 0.05)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = data.size
    val exact = data.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
      .filter { case (_, c) => c >= 0.05 * n }
    assert(got === exact, s"got $got expected $exact")
    assert(got.nonEmpty) // the gate must not pass vacuously
  }

  test("uniform stream with no heavy hitters returns empty, not noise") {
    import spark.implicits._
    val df = (0 until 1000).map(i => s"u${i % 100}").toDF("word")
    // every item is exactly 1% < phi=5%
    val got = FrequentItems.heavyHitters(df, k = 64, phi = 0.05).collect()
    assert(got.isEmpty)
  }

  test("empty input yields an empty result, not a failure") {
    import spark.implicits._
    val got = FrequentItems.heavyHitters(
      Seq.empty[String].toDF("word"), k = 16, phi = 0.1).collect()
    assert(got.isEmpty)
  }

  test("phi <= 1/k is rejected (the guarantee would not hold)") {
    import spark.implicits._
    val df = Seq("a", "b").toDF("word")
    intercept[IllegalArgumentException] {
      FrequentItems.heavyHitters(df, k = 10, phi = 0.05)
    }
  }

  test("non-string items get exact string-equality semantics end to end") {
    // the normalization contract: an int column is cast to string ONCE,
    // and the sketch, total, and verify join all see the same frame —
    // no implicit-coercion join between int rows and string candidates
    import spark.implicits._
    val data = Seq.fill(40)(7) ++ (0 until 60).map(i => 100 + i)
    val df = new scala.util.Random(3).shuffle(data).toDF("num")
      .repartition(5)
    val got = FrequentItems.heavyHitters(df, k = 16, phi = 0.2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("7" -> 40L), got)
  }

  test("null items count toward neither the total nor the candidates") {
    // 2 "a" + 1 "b" + 3 nulls: over the non-null population N=3 the item
    // "a" clears phi=0.5 (2 >= 1.5); if nulls inflated N to 6 the
    // threshold would be 3 and nothing would emit
    import spark.implicits._
    val df = Seq(Some("a"), Some("a"), Some("b"), None, None, None)
      .toDF("word")
    val got = FrequentItems.heavyHitters(df, k = 4, phi = 0.5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 2L), got)
  }

  test("native sketch plans one bounded aggregate — no encoder round-trip") {
    import spark.implicits._
    val df = zipfStream(50, 100).toDF("word")
    val hh = FrequentItems.heavyHitters(df, k = 24, phi = 0.05)
    val plan = hh.queryExecution.executedPlan.toString
    assert(!plan.contains("SerializeFromObject"), plan.take(1500))
    assert(!plan.contains("DeserializeToObject"), plan.take(1500))
    assert(plan.contains("partial_misragriesagg"), plan.take(1500))
  }

  test("misra_gries is SQL-callable and keeps the candidate guarantee") {
    import spark.implicits._
    Views.registerSqlFunctions(spark) // idempotent temp-function scope
    zipfStream(100, 150).toDF("word").createOrReplaceTempView("mg_words")
    val cands = spark.sql(
      "SELECT explode(misra_gries(word, 12)) AS w FROM mg_words")
      .collect().map(_.getString(0)).toSet
    assert(cands.size <= 12)
    assert(cands.contains("item0")) // ~75/~550 rows ≫ N/k
  }

  test("array-input sketch == exploded sketch: heavyHittersTokens exact") {
    // the r21 no-explode sketch pass: docs feed the summary as token
    // ARRAYS (one row per doc) and the result must equal both the
    // exploded-path heavyHitters AND the plain exact GROUP BY — with a
    // tiny k forcing eviction inside the array update loop
    import spark.implicits._
    val stream = zipfStream(200, 200)
    // pack the shuffled stream into "docs" of 1-7 tokens (seeded sizes)
    val rnd = new scala.util.Random(11)
    val docs = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    var rest = stream
    while (rest.nonEmpty) {
      val n = 1 + rnd.nextInt(7)
      docs += rest.take(n); rest = rest.drop(n)
    }
    val arrDf = docs.toSeq.toDF("words").repartition(7)
    val gotArr = FrequentItems.heavyHittersTokens(arrDf, "word",
        k = 24, phi = 0.05)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotExploded = FrequentItems.heavyHitters(
        arrDf.select(explode(col("words")).as("word")), k = 24, phi = 0.05)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotArr === gotExploded, s"array $gotArr exploded $gotExploded")
    val n = stream.size
    val exact = stream.groupBy(identity)
      .map { case (w, xs) => w -> xs.size.toLong }
      .filter { case (_, c) => c >= 0.05 * n }
    assert(gotArr === exact, s"got $gotArr expected $exact")
    assert(gotArr.nonEmpty)
    // plan witness: the sketch branch aggregates arrays directly — the
    // only Generates are the verify explode and the candidate explode
    val physical = FrequentItems.heavyHittersTokens(arrDf, "word",
      k = 24, phi = 0.05).queryExecution.executedPlan
    val plan = physical.toString
    assert(PlanNodes.explodes(physical) == 2, plan.take(2000))
    assert(plan.contains("partial_misragriesagg"), plan.take(1500))
  }

  test("array-input sketch: null arrays and null elements are excluded") {
    // null array rows and null elements must count toward neither the
    // total nor the candidates — the exploded path's isNotNull contract
    import spark.implicits._
    val arrDf = Seq(
      Some(Seq(Some("a"), Some("a"), None)),
      Some(Seq(Some("b"), None)),
      None
    ).toDF("words")
    // non-null population N=3; "a" clears phi=0.5 (2 >= 1.5); if nulls
    // inflated N to 6 the threshold would be 3 and nothing would emit
    val got = FrequentItems.heavyHittersTokens(arrDf, "word",
        k = 4, phi = 0.5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 2L), got)
  }

  test("array-input sketch: a second input column is rejected") {
    // the array column is the only column; an extra one must not be
    // silently ignored (or taken for the array)
    import spark.implicits._
    val twoCols = Seq((Seq("a", "b"), "en")).toDF("words", "lang")
    val ex = intercept[IllegalArgumentException] {
      FrequentItems.heavyHittersTokens(twoCols, "word", k = 4, phi = 0.5)
    }
    assert(ex.getMessage.contains("exactly one"), ex.getMessage)
  }

  test("grouped array-input sketch == grouped exploded sketch") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val langs = Seq("en", "de", "fr")
    val docs = (0 until 300).map { i =>
      val lang = langs(rnd.nextInt(3))
      // per-lang skew: one hot word per lang + cold tail
      val toks = (0 until 1 + rnd.nextInt(6)).map { _ =>
        if (rnd.nextInt(3) == 0) s"hot_$lang" else s"cold${rnd.nextInt(50)}"
      }
      (lang, toks)
    }
    val arrDf = docs.toDF("lang", "words").repartition(5)
    val gotArr = FrequentItems.groupedHeavyHittersTokens(arrDf, "lang",
        "words", "word", k = 16, phi = 0.2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val gotExploded = FrequentItems.groupedHeavyHitters(
        arrDf.select(col("lang"), explode(col("words")).as("word")),
        "lang", "word", k = 16, phi = 0.2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(gotArr === gotExploded, s"array $gotArr exploded $gotExploded")
    assert(gotArr.nonEmpty)
  }

  test("misra_gries over array<string> is SQL-callable") {
    import spark.implicits._
    Views.registerSqlFunctions(spark)
    zipfStream(100, 150).grouped(5).toSeq.toDF("words")
      .createOrReplaceTempView("mg_docs")
    val cands = spark.sql(
      "SELECT explode(misra_gries(words, 12)) AS w FROM mg_docs")
      .collect().map(_.getString(0)).toSet
    assert(cands.size <= 12)
    assert(cands.contains("item0")) // ~75/~550 rows ≫ N/k
  }

  test("MisraGries summary never exceeds k counters and keeps true HHs") {
    val mg = new FrequentItems.MisraGries(8)
    // one item at 40%, the rest spread across 100 cold items
    val stream = zipfStream(1, 400) ++ (0 until 600).map(i => s"c${i % 100}")
    val rnd = new scala.util.Random(7)
    val parts = rnd.shuffle(stream).grouped(100).toSeq
    val partials = parts.map(p => p.foldLeft(mg.zero)(mg.reduce))
    partials.foreach(b => assert(b.size <= 8))
    val merged = partials.reduce(mg.merge)
    assert(merged.size <= 8)
    assert(mg.finish(merged).contains("item0")) // 40% ≫ N/k = 12.5%
  }
}
