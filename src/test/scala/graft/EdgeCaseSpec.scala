package graft

import org.apache.spark.sql.functions._

import graft.profile.ColumnProfiler
import graft.text.Text

/** Degenerate-input hardening: ANSI mode turns silent nulls into thrown
  * errors (divide-by-zero, bad casts), so every profile ratio and text
  * expression must survive empty frames, all-null/all-blank columns,
  * single rows, and non-ASCII text without throwing. */
class EdgeCaseSpec extends SparkSpec {

  test("profiler survives an all-null and an all-blank column") {
    import spark.implicits._
    val df = Seq[(String, String)](
      ("c1", null), ("c1", null),
      ("c2", ""), ("c2", " "),
      ("c3", "x"), ("c3", null))
      .toDF("col_name", "value")
    val out = ColumnProfiler.profile(df).collect()
    assert(out.length === 3)
    val shares = ColumnProfiler.typeShares(df).collect()
    assert(shares.length === 3, "no divide-by-zero on blank columns")
    val oneHots = ColumnProfiler.inferredTypeOneHots(df).collect()
    val byCol = oneHots.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byCol("c1") === "string",
      "all-null has no sampled values -> string default")
    assert(byCol("c2") === "unknown",
      "all-blank votes unknown (per-value battery) -> all 8 one-hots zero")
  }

  test("profiler survives an empty frame") {
    import spark.implicits._
    val df = Seq.empty[(String, String)].toDF("col_name", "value")
    assert(ColumnProfiler.profile(df).collect().isEmpty)
    assert(ColumnProfiler.typeShares(df).collect().isEmpty)
    assert(ColumnProfiler.inferredTypeOneHots(df).collect().isEmpty)
    assert(ColumnProfiler.sampledDateShare(df).collect().isEmpty)
  }

  test("text expressions handle empty, unicode and null-ish input") {
    def one[T](c: org.apache.spark.sql.Column): T = {
      import spark.implicits._
      Seq(1).toDF("i").select(c.as("r")).collect().head.getAs[T]("r")
    }
    type SS = scala.collection.Seq[String]
    assert(one[SS](Text.words(lit(""))).isEmpty)
    assert(one[SS](Text.words(lit("héllo wörld 中文 test")))
      .contains("test"), "non-latin chars segment without throwing")
    assert(one[String](Text.piiScrub(lit(""))) === "")
    assert(one[Long](Text.bpeTokenCount(lit("")).cast("long")) === 0L)
    assert(one[SS](Text.wordShingles(Text.words(lit("one")), 2))
      .isEmpty, "fewer words than shingle size yields empty, not null")
  }

  test("connected components on empty docs and empty pairs") {
    import spark.implicits._
    val empty = Seq.empty[Long].toDF("doc_id")
    val noPairs = Seq.empty[(Long, Long)].toDF("doc1", "doc2")
    assert(graft.dedup.DedupQueries.connectedComponents(empty, noPairs)
      .collect().isEmpty)
  }

  test("dedup and text queries run on a degenerate one-document corpus") {
    import spark.implicits._
    val docs = Seq((1L, "only one tiny document", "en", "src0", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-edge").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val d1 = SparkEntry.queries("d1_exact_dedup")(spark, dir).collect()
    assert(d1.length === 1 && d1.head.getAs[Long]("is_dup") === 0L)
    val d2 = SparkEntry.queries("d2_minhash_lsh")(spark, dir).collect()
    assert(d2.isEmpty, "no pairs from a single document")
    val t6 = SparkEntry.queries("t6_repetition")(spark, dir).collect()
    assert(t6.length === 1)
    val t8 = SparkEntry.queries("t8_sequence_pack")(spark, dir).collect()
    assert(t8.length === 1 && t8.head.getAs[Long]("pack_id") === 0L)
  }
}
