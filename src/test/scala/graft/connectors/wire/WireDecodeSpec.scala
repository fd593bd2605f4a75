package graft.connectors.wire

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.types.StructType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The wire scan's decode path: JSON payload nulls, the direct
  * Catalyst rows `WireScan.toRow` builds against the generic
  * `CatalystTypeConverters` rows, and doubles through the shared
  * mapper's fast parser. */
class WireDecodeSpec extends SparkSpec {

  test("a JSON null payload value drops its key, never the string \"null\"") {
    val s = new WireStubServer
    try {
      WireDialect("qdrant", s.url).create("nulls", 2)
      WireHttp.put(s"${s.url}/collections/nulls/points",
        """{"points":[{"id":"a","vector":[1.0,2.0],""" +
          """"payload":{"k":null,"j":"x"}}]}""")
      val page = QdrantWire(s.url).fetchPage("nulls", 0, 10,
        wantVector = true, wantPayload = true)
      assert(page.points.map(_.payload) == Seq(Map("j" -> "x")))
      val rows = WireVdb.read(spark, "qdrant", s.url, "nulls").collect()
      assert(rows.map(r => (r.getString(0), r.getSeq[Double](1),
        r.getMap[String, String](2).toMap)).toSeq ==
        Seq(("a", Seq(1.0, 2.0), Map("j" -> "x"))))
    } finally s.stop()
  }

  /** The rows the reader built before `toRow`: a Scala `Row` through
    * the generic converter. */
  private def converterRow(schema: StructType, pt: WirePoint): InternalRow =
    CatalystTypeConverters.createToCatalystConverter(schema)(
      Row.fromSeq(schema.fieldNames.toSeq.map {
        case "id" => pt.id
        case "vector" => pt.vector
        case "payload" => pt.payload
      })).asInstanceOf[InternalRow]

  test("toRow equals the CatalystTypeConverters row for every pruned schema") {
    val points = Seq(
      WirePoint("p1", Decode.vec(Seq(1.5, -0.0, 3e-310)),
        Decode.pay(Map("lang" -> "en", "rank" -> 7, "z" -> "ü"))),
      WirePoint("p2", Decode.vec(null), Decode.pay(Map("a" -> "b"))),
      WirePoint("p3", Decode.vec(Seq.empty), Decode.pay(null)),
      // a vector some other decoder left as a plain Seq
      WirePoint("p4", List(0.25, 4.0), Map.empty))
    for (names <- Seq(Seq("id"), Seq("id", "payload"),
        Seq("id", "vector", "payload"))) {
      val schema = StructType(WireVdb.Schema.filter(f => names.contains(f.name)))
      val unsafe = UnsafeProjection.create(schema)
      points.foreach { pt =>
        val direct = unsafe(WireScan.toRow(schema.fieldNames, pt)).copy()
        val generic = unsafe(converterRow(schema, pt)).copy()
        assert(direct == generic, s"${names.mkString(",")} / ${pt.id}")
      }
    }
  }

  test("doubles survive WireJson.write -> parse -> Decode.vec bit for bit") {
    import java.lang.Double.{doubleToRawLongBits, longBitsToDouble}
    val edges = Seq(0.0, -0.0, Double.MinPositiveValue,
      -Double.MinPositiveValue, java.lang.Double.MIN_NORMAL,
      longBitsToDouble(0x000FFFFFFFFFFFFFL), // largest subnormal
      Double.MaxValue, -Double.MaxValue, 0.1, 1.0 / 3,
      0.12345678901234567, 9007199254740993.0)
    // any bit pattern; NaN and the infinities have no JSON form
    val finite = Gen.choose(Long.MinValue, Long.MaxValue)
      .map(longBitsToDouble).map(d => if (d.isNaN || d.isInfinite) 1.0 else d)
    val subnormal = Gen.choose(1L, 0x000FFFFFFFFFFFFFL)
      .map(b => longBitsToDouble(b) * (if (b % 2 == 0) 1 else -1))
    val digits17 = for {
      m <- Gen.choose(10000000000000000L, 99999999999999999L)
      e <- Gen.choose(-340, 291) // up to 1e308, down into subnormals
    } yield java.lang.Double.parseDouble(s"$m.0E$e")
    val gen = Gen.listOfN(8, Gen.frequency(
      4 -> finite, 2 -> subnormal, 3 -> digits17, 1 -> Gen.oneOf(edges)))
    val samples = edges +: (0 until 300).flatMap(i =>
      gen(Gen.Parameters.default, Seed(i.toLong)))
    samples.foreach { ds =>
      val back = Decode.vec(WireJson.parse(WireJson.write(Map("v" -> ds)))("v"))
      assert(back.map(doubleToRawLongBits) == ds.map(doubleToRawLongBits),
        s"$ds -> $back")
    }
  }
}
