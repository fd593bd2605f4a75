package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Pins the one token definition (a maximal run of characters outside
  * Java regex `\s`, [[TextFunctions.isSep]]) across its forms: the
  * TextFunctions.tokenCount kernel (named tokenCountFast in the test
  * names, its r15 name; [[graft.expressions.TokenCount]]), the Column
  * form size(TextFunctions.tokens), the Spark SQL text size(toksExpr)
  * and the fused hash kernel size(tokenHashesCol), plus stopwordRatio
  * against its tokens form. The edge set: empty / whitespace-only
  * text, non-space edge whitespace (tabs, newlines, VT — where a
  * trim-then-split form yields a "" edge token), interior whitespace
  * runs, VT inside a word gap, NBSP (not \s in Java regex, so it is
  * token INTERIOR in every form), case-mapping length changes (İ),
  * and null. A divergence here would silently change q_bm25's avgdl,
  * both token budgets, q_pack's bins, the quality filter's n_tok and
  * stop ratio, and the curation pipeline's n_tok denomination. */
class TokenCountFastSpec extends SparkSpec {
  import spark.implicits._

  private def edgeWithNull = {
    val edge = Seq(
      "", " ", "   ", "\t", "\n", " \t \n ",
      "a", " a ", "\ta", "a\t", "\ta b\n", "\t a \n b ",
      "a  b", "a\t\tb", "a\nb\nc", "word",
      "İstanbul İ X", "a b", " ", "a   b",
      "Hello,  World!  ", "  leading", "trailing  ",
      "mixed \t inner\nnewline and  runs",
      "\tfoo", "the\n", "\n\t ", "x\u000By", "\tthe of x\n", "the\u000B")
      .toDF("text")
    edge.union(spark.sql("SELECT CAST(NULL AS STRING) AS text"))
  }

  test("tokenCountFast ≡ size(toksExpr) ≡ size(tokenHashesCol) on edge inputs") {
    val c = edgeWithNull.select(
      TextFunctions.tokenCount(col("text")).as("fast"),
      size(QueriesCommon.toksExpr).as("tower"),
      size(QueriesCommon.tokenHashesCol("text")).as("kernel"),
      size(TextFunctions.tokens(col("text"))).as("column"))
    val bad = c.filter(!(col("fast") <=> col("tower")) ||
      !(col("fast") <=> col("kernel")) ||
      !(col("fast") <=> col("column"))).collect()
    assert(bad.isEmpty, s"divergent counts: ${bad.mkString("; ")}")
  }

  test("stopwordRatio ≡ size(filter(tokens, stop)) / size(tokens) on edge inputs") {
    val toks = TextFunctions.tokens(col("text"))
    val stopArr = array(TextFunctions.defaultStopwords.map(lit): _*)
    val ref = when(size(toks) === 0, lit(0.0)).otherwise(
      size(filter(toks, t => array_contains(stopArr, t))).cast("double") /
        size(toks).cast("double"))
    val bad = edgeWithNull
      .select(col("text"), TextFunctions.stopwordRatio(col("text")).as("r"),
        ref.as("ref"))
      .filter(!(col("r") <=> col("ref"))).collect()
    assert(bad.isEmpty, s"divergent ratios: ${bad.mkString("; ")}")
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
        size(QueriesCommon.toksExpr).as("sz"),
        size(TextFunctions.tokens(col("text"))).as("col")).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("tokenCountFast matches on the sf0.001 corpus row-for-row") {
    val docs = QueriesCommon.table(spark, "/root/testdata/sf0.001", "documents")
    val n = docs.filter(
      !(TextFunctions.tokenCount(col("text")) <=>
        size(QueriesCommon.toksExpr))).count()
    assert(n == 0)
  }
}
