package graft.matcher

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MatcherSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("semantic-type classifier reaches >= 0.8 accuracy on held-out tables") {
    import spark.implicits._
    val preds = MatcherQueries.defs("m4_semantic_type_predictions")
      .fn(spark, sf).collect()
    val expected = Labels.holdout
      .map { case (t, c, l) => s"$t.$c" -> l }.toMap
    val correct = preds.count(r =>
      expected(r.getAs[String]("col_name")) == r.getAs[String]("predicted_label"))
    val acc = correct.toDouble / preds.length
    info(s"holdout accuracy: $acc (${correct}/${preds.length})")
    preds.foreach(r => info(s"  ${r.getAs[String]("col_name")} -> " +
      s"${r.getAs[String]("predicted_label")} (want ${expected(r.getAs[String]("col_name"))})"))
    assert(acc >= 0.8, s"accuracy $acc below threshold")
  }

  test("m10 degenerate headers: repeated tokens count per occurrence, empty tokens emit -1") {
    import spark.implicits._
    import graft.functions.Lexical
    // "date_date_year" tokenizes to [date, date, year] — the repeated
    // token must contribute one alignment term per OCCURRENCE (mean
    // (2*d1+d2)/3, not the distinct-token (d1+d2)/2); "___" tokenizes
    // to nothing — every class must emit the (-1,-1,-1) sentinel row.
    // The m10 oracle mirrors both via token ordinals + explicit degen
    // rows; this spec pins the live engine to the same semantics.
    val queries = Seq("q.date_date_year", "q.___").toDF("col_name")
    val pool = Seq(
      ("p.time", "when"),
      ("p.___", "void")).toDF("col_name", "label")
    val out = ExampleFeatures.lexicalMinDistPerClass(queries, pool)
      .collect()
      .map(r => (r.getAs[String]("query_col"), r.getAs[String]("class_name")) ->
        (r.getAs[Double]("jcn_dist"), r.getAs[Double]("lin_dist"),
          r.getAs[Double]("wup_dist"))).toMap
    assert(out.size === 4, "2 queries x 2 classes, sentinel rows included")
    // per-occurrence expected value from the Scala reference semantics
    val expected = Lexical.Taxonomy.builtin
      .compoundDistance(Seq("date", "date", "year"), Seq("time"))
    assert(out(("q.date_date_year", "when")) === expected)
    // distinct-token collapse would have produced a DIFFERENT mean
    val collapsed = Lexical.Taxonomy.builtin
      .compoundDistance(Seq("date", "year"), Seq("time"))
    assert(expected !== collapsed,
      "fixture must separate per-occurrence from per-distinct means")
    // zero-token query header and zero-token pool example both -> -1
    assert(out(("q.___", "when")) === ((-1.0, -1.0, -1.0)))
    assert(out(("q.___", "void")) === ((-1.0, -1.0, -1.0)))
    assert(out(("q.date_date_year", "void")) === ((-1.0, -1.0, -1.0)))
  }

  test("classifier predictions are deterministic across runs") {
    val a = MatcherQueries.defs("m4_semantic_type_predictions")
      .fn(spark, sf).collect().map(_.toSeq)
    val b = MatcherQueries.defs("m4_semantic_type_predictions")
      .fn(spark, sf).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("upsample-to-max balances all classes to the max count") {
    import spark.implicits._
    val labelled = Labels.train.map { case (t, c, l) => (s"$t.$c", l) }
      .toDF("col_name", "label")
    val maxN = labelled.groupBy("label").count()
      .agg(max("count")).collect().head.getLong(0)
    val counts = Resampler.resample(labelled, Resampler.UpsampleToMax)
      .groupBy("label").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.toSet === Set(maxN))
  }

  test("resample-to-mean hits the mean count for every class") {
    import spark.implicits._
    val labelled = Labels.train.map { case (t, c, l) => (s"$t.$c", l) }
      .toDF("col_name", "label")
    val sizes = labelled.groupBy("label").count().collect().map(_.getLong(1))
    val mean = sizes.sum / sizes.length
    val counts = Resampler.resample(labelled, Resampler.ResampleToMean)
      .groupBy("label").count().collect().map(_.getLong(1))
    assert(counts.toSet === Set(mean))
  }

  test("bagging: numBags bags of exactly bagSize values, deterministic") {
    import spark.implicits._
    val melted = (1 to 250).map(i => ("c1", s"v$i")).toDF("col_name", "value")
    val bags = Resampler.assignBags(melted, numBags = 5, bagSize = 100)
    val counts = bags.groupBy("bag_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.keySet === (0L until 5L).toSet)
    assert(counts.values.forall(_ === 100L), "every bag holds bagSize values")
    // bags draw from the column without replacement when it is long enough
    val perBagDistinct = bags.groupBy("bag_id")
      .agg(countDistinct(col("value")).as("d")).collect()
    assert(perBagDistinct.forall(_.getAs[Long]("d") === 100L))
    val again = Resampler.assignBags(melted, numBags = 5, bagSize = 100)
      .collect().map(_.toSeq).toSet
    assert(again === bags.collect().map(_.toSeq).toSet)
  }

  test("bagging fills short columns by replication (with-replacement)") {
    import spark.implicits._
    val melted = (1 to 30).map(i => ("c1", s"v$i")).toDF("col_name", "value")
    val bags = Resampler.assignBags(melted, numBags = 3, bagSize = 100)
    val counts = bags.groupBy("bag_id").count().collect().map(_.getLong(1))
    assert(counts.length === 3 && counts.forall(_ === 100L))
  }

  test("m7 pairwise features carry equality one-hots and distances") {
    val out = EvalQueries.defs("m7_pairwise_features").fn(spark, sf).collect()
    val n = Labels.holdout.size
    assert(out.length === n * (n - 1) / 2, "all unordered column pairs")
    val cols = EvalQueries.defs("m7_pairwise_features").fn(spark, sf).columns
    val expected = Seq("string_equality") ++
      EvalQueries.TypeEqKeys.map(k => s"both_$k")
    expected.foreach(c => assert(cols.contains(c), s"missing $c"))
    // one-hots are 0/1 and consistent: a pair can share at most one type
    assert(out.forall { r =>
      val hots = EvalQueries.TypeEqKeys.map(k => r.getAs[Long](s"both_$k"))
      hots.forall(h => h == 0L || h == 1L) && hots.sum <= 1L
    })
    // identifier pair: both integer-typed keys
    val idPair = out.find(r =>
      r.getAs[String]("a_col_name") == "nation.n_nationkey" &&
        r.getAs[String]("b_col_name") == "nation.n_regionkey").get
    assert(idPair.getAs[Long]("both_integer") === 1L)
  }

  test("string distance functions behave sanely") {
    import graft.functions.StringFunctions._
    assert(levenshtein("kitten", "sitting") === 3)
    assert(needlemanWunsch("abc", "abc") === 0.0)
    assert(jaro("martha", "marhta") > 0.94)
    assert(jaroWinkler("orderkey", "orderkey") === 1.0)
    assert(ngramDistance("abc", "abc", 2) === 0.0)
    assert(tokenize("customerAcctBal") === Seq("customer", "acct", "bal"))
    assert(tokenize("o_orderdate") === Seq("o", "order", "date"))
    assert(porterStem("running") === "run")
    assert(porterStem("relational") === "relat")
  }
}
