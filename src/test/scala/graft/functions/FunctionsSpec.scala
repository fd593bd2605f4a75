package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {

  private def one[T](c: org.apache.spark.sql.Column): T = {
    import spark.implicits._
    Seq(1).toDF("x").select(c.as("r")).collect().head.getAs[T]("r")
  }

  // ---------------------------------------------------------- vectors

  test("dotProduct / l2Norm / cosineSimilarity") {
    val a = array(lit(1.0f), lit(2.0f), lit(2.0f))
    assert(one[Double](VectorFunctions.dotProduct(a, a)) === 9.0)
    assert(one[Double](VectorFunctions.l2Norm(a)) === 3.0)
    assert(math.abs(one[Double](VectorFunctions.cosineSimilarity(a, a)) - 1.0) < 1e-12)
  }

  test("l1 / l2 distances") {
    val a = array(lit(0.0f), lit(0.0f))
    val b = array(lit(3.0f), lit(4.0f))
    assert(one[Double](VectorFunctions.l2Distance(a, b)) === 5.0)
    assert(one[Double](VectorFunctions.l1Distance(a, b)) === 7.0)
    assert(one[Double](VectorFunctions.l2DistanceSq(a, b)) === 25.0)
  }

  test("l2Normalize yields unit norm") {
    val a = array(lit(3.0f), lit(4.0f))
    val n = one[Double](VectorFunctions.l2Norm(VectorFunctions.l2Normalize(a)))
    assert(math.abs(n - 1.0) < 1e-12)
  }

  test("quantizeInt8 rounds and saturates instead of wrapping (ADVICE r1)") {
    val a = array(lit(0.5f), lit(-0.5f), lit(1.5f), lit(-1.5f), lit(1.0f))
    val q = one[scala.collection.Seq[Byte]](VectorFunctions.quantizeInt8(a, 127.0))
    // 1.5*127=190.5 → clamps to 127 (not wrap to -66); -1.5*127 → -128
    assert(q == Seq[Byte](64, -64, 127, -128, 127))
  }

  test("dims") {
    assert(one[Int](VectorFunctions.dims(array(lit(1f), lit(2f)))) === 2)
  }

  // ------------------------------------------------------------- text

  test("tokens: empty and whitespace-only input → empty array") {
    assert(one[scala.collection.Seq[String]](TextFunctions.tokens(lit(""))).isEmpty)
    assert(one[scala.collection.Seq[String]](TextFunctions.tokens(lit("   "))).isEmpty)
    assert(one[scala.collection.Seq[String]](TextFunctions.tokens(lit(" a  b "))) == Seq("a", "b"))
    assert(one[scala.collection.Seq[String]](TextFunctions.tokens(lit("\tfoo"))) == Seq("foo"))
  }

  test("token counts") {
    assert(one[Int](TextFunctions.tokenCount(lit("one two three"))) === 3)
    // words + single digits + punct runs: "ab12!?" → ab, 1, 2, !, ?
    assert(one[Int](TextFunctions.bpeishTokenCount(lit("ab12!?"))) === 5)
  }

  test("ratios and quality score bounds") {
    assert(one[Double](TextFunctions.stopwordRatio(lit("the cat"))) === 0.5)
    assert(one[Double](TextFunctions.punctRatio(lit("ab!!"))) === 0.5)
    assert(one[Double](TextFunctions.alphaRatio(lit("ab12"))) === 0.5)
    assert(one[Double](TextFunctions.punctRatio(lit(""))) === 0.0)
    val q = one[Double](TextFunctions.qualityScore(lit("the quick brown fox jumps over the lazy dog")))
    assert(q >= 0.0 && q <= 1.0)
  }

  test("langIdHeuristic picks marker language, und on no match") {
    assert(one[String](TextFunctions.langIdHeuristic(lit("the cat and the dog is here"))) == "en")
    assert(one[String](TextFunctions.langIdHeuristic(lit("der hund und die katze"))) == "de")
    assert(one[String](TextFunctions.langIdHeuristic(lit("zzz qqq"))) == "und")
  }

  test("fingerprint is whitespace/case-canonical") {
    val f1 = one[String](TextFunctions.fingerprint(lit("Hello   World")))
    val f2 = one[String](TextFunctions.fingerprint(lit("hello world ")))
    assert(f1 == f2)
  }

  test("wordShingles") {
    val sh = one[scala.collection.Seq[String]](TextFunctions.wordShingles(lit("a b c d"), 3))
    assert(sh == Seq("a b c", "b c d"))
    // short doc → single whole-text shingle
    assert(one[scala.collection.Seq[String]](TextFunctions.wordShingles(lit("a b"), 3)) == Seq("a b"))
  }

  test("charShingles") {
    val sh = one[scala.collection.Seq[String]](TextFunctions.charShingles(lit("abcd"), 3))
    assert(sh == Seq("abc", "bcd"))
  }

  test("minhash signature: equal docs agree, length m") {
    val s1 = one[scala.collection.Seq[Long]](TextFunctions.minhashSignature(
      TextFunctions.wordShingles(lit("a b c d e"), 2), 16))
    val s2 = one[scala.collection.Seq[Long]](TextFunctions.minhashSignature(
      TextFunctions.wordShingles(lit("a b c d e"), 2), 16))
    assert(s1.length == 16 && s1 == s2)
  }

  test("simhash: identical docs equal, hamming 0; different docs differ") {
    val h1 = one[Long](TextFunctions.simhash64(lit("the quick brown fox")))
    val h2 = one[Long](TextFunctions.simhash64(lit("the quick brown fox")))
    val h3 = one[Long](TextFunctions.simhash64(lit("completely unrelated words entirely")))
    assert(h1 == h2)
    assert(h1 != h3)
    assert(one[Int](TextFunctions.hamming64(lit(h1), lit(h2))) === 0)
    assert(one[Int](TextFunctions.hamming64(lit(0L), lit(-1L))) === 64)
  }

  // ---------------------------------------------------------- cleaning

  test("normalizeId: digits pass, uuid passes lowered, else md5-uuid (util.py:413-420)") {
    assert(one[String](CleaningFunctions.normalizeId(lit("12345"))) == "12345")
    assert(one[String](CleaningFunctions.normalizeId(
      lit("550E8400-E29B-41D4-A716-446655440000"))) ==
      "550e8400-e29b-41d4-a716-446655440000")
    val u = one[String](CleaningFunctions.normalizeId(lit("doc-abc")))
    assert(u.matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"))
  }

  test("vectorFromString parses bracketed renderings (extract_vector)") {
    val v = one[scala.collection.Seq[Float]](CleaningFunctions.vectorFromString(lit("[0.1, 0.2, 0.3]")))
    assert(v.length == 3 && math.abs(v(1) - 0.2f) < 1e-6)
  }

  test("name compliance rules (F6/F7/F8)") {
    assert(one[String](CleaningFunctions.pineconeCompliantName(lit("My_Index"))) == "my-index")
    assert(one[String](CleaningFunctions.kdbaiCompliantName(lit("-abc"))) == "col_abc")
    assert(one[String](CleaningFunctions.kdbaiCompliantName(lit("a-b"))) == "a_b")
    assert(one[String](CleaningFunctions.astraCompliantName(lit("a b.c/d-e"))) == "a_b_c_d_e")
  }

  test("NaN / Inf / NaT policies (F10-F11)") {
    assert(one[Any](CleaningFunctions.nanToNull(lit(Double.NaN))) == null)
    assert(one[Double](CleaningFunctions.nanToZero(lit(Double.NaN))) === 0.0)
    assert(one[Double](CleaningFunctions.infToNan(lit(Double.PositiveInfinity))).isNaN)
    assert(one[Double](CleaningFunctions.infToNan(lit(1.5))) === 1.5)
    val arr = one[scala.collection.Seq[Any]](CleaningFunctions.nanToNullArray(
      array(lit(1.0), lit(Double.NaN))))
    assert(arr == Seq(1.0, null))
  }

  test("cleanMapKeys: spaces→underscores in keys (util.py:493-503)") {
    val m = one[Map[String, String]](CleaningFunctions.cleanMapKeys(
      map(lit("bad key"), lit("v"))))
    assert(m == Map("bad_key" -> "v"))
  }

  test("textConcat skips nulls like ' '.join(dropna) (reembed.py:211-217)") {
    val j = one[String](CleaningFunctions.textConcat(
      Seq(lit("a"), lit(null).cast("string"), lit(7))))
    assert(j == "a 7")
  }

  // ------------------------------------------------------ driver-side

  test("HashFunctions: canonical dataHash is key-order independent (util.py:24-73)") {
    val h1 = HashFunctions.dataHash(Map("b" -> 2, "a" -> Map("y" -> 1, "x" -> 2)))
    val h2 = HashFunctions.dataHash(Map("a" -> Map("x" -> 2, "y" -> 1), "b" -> 2))
    assert(h1 == h2 && h1.length == 5)
  }

  test("HashFunctions: numericalHash and exportDirName") {
    assert(HashFunctions.numericalHash("abc") ==
      BigInt(HashFunctions.md5Hex("abc"), 16))
    val d = HashFunctions.exportDirName(Map("db" -> "mock"),
      java.time.LocalDateTime.of(2026, 1, 2, 3, 4, 5))
    assert(d.startsWith("vdf_20260102_030405_"))
  }

  test("uuidFromHex formats 8-4-4-4-12") {
    assert(one[String](CleaningFunctions.uuidFromHex(
      lit("0123456789abcdef0123456789abcdef"))) ==
      "01234567-89ab-cdef-0123-456789abcdef")
  }
}
