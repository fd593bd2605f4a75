package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Pins the r15 counts-only optimization: TextFunctions.tokenCount
  * (named tokenCountFast in the test names, its r15 name; one
  * allocation-free byte-scan kernel, [[graft.expressions.TokenCount]];
  * regexp_count is a separate compared form in tools/TokenCountProbe,
  * not this) must equal BOTH array-sizing
  * forms it replaced — size(toksExpr) (the interpreted filter/split
  * tower) and size(tokenHashesCol) (the fused codegen kernel) — on the
  * adversarial edge set the proof at its definition walks through:
  * empty / whitespace-only text, non-space edge whitespace that
  * `trim` does NOT strip (tabs, newlines — the case where the naive
  * `regexp_count(\s+) + 1` formula is off by the leading-"" token),
  * interior whitespace runs, NBSP (not \s in Java regex, so it is
  * token INTERIOR in both forms), case-mapping length changes (İ),
  * and null. A divergence here would silently change q_bm25's avgdl,
  * both token budgets, q_pack's bins, and the curation pipeline's
  * n_tok denomination. */
class TokenCountFastSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCountFast ≡ size(toksExpr) ≡ size(tokenHashesCol) on edge inputs") {
    val edge = Seq(
      "", " ", "   ", "\t", "\n", " \t \n ",
      "a", " a ", "\ta", "a\t", "\ta b\n", "\t a \n b ",
      "a  b", "a\t\tb", "a\nb\nc", "word",
      "İstanbul İ X", "a b", " ", "a   b",
      "Hello,  World!  ", "  leading", "trailing  ",
      "mixed \t inner\nnewline and  runs")
      .toDF("text")
    val withNull = edge.union(Seq.empty[String].toDF("text")
      .union(spark.sql("SELECT CAST(NULL AS STRING) AS text")))
    val c = withNull.select(
      TextFunctions.tokenCount(col("text")).as("fast"),
      size(QueriesCommon.toksExpr).as("tower"),
      size(QueriesCommon.tokenHashesCol("text")).as("kernel"))
    val bad = c.filter(!(col("fast") <=> col("tower")) ||
      !(col("fast") <=> col("kernel"))).collect()
    assert(bad.isEmpty, s"divergent counts: ${bad.mkString("; ")}")
  }

  test("null text yields null under the shipped ANSI config") {
    // The replaced size(...) forms return null for null input ONLY
    // under ANSI mode (legacy sizeOfNull would return -1, where the
    // kernel stays null) — assert the shipped config is the ANSI
    // default so the equivalence claim above is anchored, and the
    // kernel's own null contract explicitly.
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val r = spark.sql("SELECT CAST(NULL AS STRING) AS text")
      .select(TextFunctions.tokenCount(col("text")).as("n"),
        size(QueriesCommon.toksExpr).as("sz")).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("tokenCountFast matches on the sf0.001 corpus row-for-row") {
    val docs = QueriesCommon.table(spark, "/root/testdata/sf0.001", "documents")
    val n = docs.filter(
      !(TextFunctions.tokenCount(col("text")) <=>
        size(QueriesCommon.toksExpr))).count()
    assert(n == 0)
  }
}
