package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{CanalScan, CsvScan, DebeziumScan, FixedPoint, OpenScan, SimpleScan, WireHex, WireKernels}
import org.apache.spark.unsafe.types.UTF8String

/** Property-based hardening of the wire layer: the targeted boundary
  * specs (OperatorSemanticsSpec's tamper arms) prove specific edges;
  * these properties sweep the space — every varint round-trips through
  * the public decode surface, and every decoder is TOTAL on arbitrary
  * garbage (returns the corrupt sentinel, never throws — the contract
  * that keeps one bad Kafka message from killing an executor task).
  * Fixed scalacheck seed: the sweep is deterministic per build. */
class WirePropertiesSpec extends AnyFunSuite {

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(500)
    .withInitialSeed(Seed(42L))

  private def check(name: String)(p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, s"$name failed: $r")
  }

  private val nonNeg: Gen[Long] = Gen.frequency(
    3 -> Gen.chooseNum(0L, (1L << 62) - 1),
    1 -> Gen.oneOf(0L, 1L, 63L, 64L, 127L, 128L, 16383L, 16384L,
      (1L << 31) - 1, 1L << 31, (1L << 62) - 1))

  test("every non-negative long round-trips through the zigzag varint wire") {
    // frame = Confluent magic 0x00 + int32 schema id 1 + varint pk —
    // the public avro key decode path exercises the varint decoder
    check("zvarint roundtrip")(Prop.forAll(nonNeg) { n =>
      val frame = "00" + "00000001" + WireHex.zvarintHex(n).toString
      val row = WireHex.avroDecodeKey(
        org.apache.spark.unsafe.types.UTF8String.fromString(frame))
      row.getLong(0) == 1L && row.getLong(1) == n && row.getLong(2) == 1L
    })
  }

  test("varint encodings are minimal: one byte per 7 payload bits") {
    check("zvarint width")(Prop.forAll(nonNeg) { n =>
      val bits = java.lang.Long.numberOfTrailingZeros(
        java.lang.Long.highestOneBit(math.max(2 * n, 1L))) + 1
      val bytes = (bits + 6) / 7
      WireHex.zvarintHex(n).toString.length == bytes * 2
    })
  }

  private val garbage: Gen[String] = Gen.frequency(
    3 -> Gen.listOf(Gen.oneOf("0123456789ABCDEF".toSeq))
      .map(_.mkString), // well-formed hex, arbitrary content/length
    1 -> Gen.listOf(Gen.oneOf("0123456789ABCDEFGZxy .".toSeq))
      .map(_.mkString), // not even hex
    1 -> nonNeg.map(n => "00" + "00000001" +
      WireHex.zvarintHex(n).toString + "FF")) // valid frame + trailing junk

  test("every decoder is total on arbitrary input and flags partial consumes") {
    val u = (s: String) => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    check("avro key total")(Prop.forAll(garbage) { s =>
      val r = WireHex.avroDecodeKey(u(s)); r.getLong(2) == 0L || r.getLong(2) == 1L
    })
    check("avro value total")(Prop.forAll(garbage) { s =>
      val r = WireHex.avroDecodeValue(u(s))
      val valid = r.getLong(WireHex.ValueStruct.fieldIndex("valid"))
      valid == 0L || valid == 1L
    })
    check("simple-avro total")(Prop.forAll(garbage) { s =>
      WireHex.simpleAvroDecode(u(s)); true
    })
    // a structurally valid frame with ANY trailing bytes must reject —
    // the whole-message bounds invariant, swept across all pk values
    check("trailing junk rejects")(Prop.forAll(nonNeg) { n =>
      val r = WireHex.avroDecodeKey(u("00" + "00000001" +
        WireHex.zvarintHex(n).toString + "FF"))
      r.getLong(2) == 0L
    })
    // the JSON and CSV scanners: total on arbitrary text, and a
    // kernel-rendered message decodes only whole — one with trailing
    // bytes is NULL, and so is a truncated JSON message (a csv line cut
    // at a comma is a shorter valid line)
    val scanners: Seq[(String, String => Any, Seq[Int])] = Seq(
      ("canal", s => CanalScan.decode(u(s)), Seq(WireKernels.Canal, WireKernels.CanalTidb)),
      ("debezium", s => DebeziumScan.decode(u(s)), Seq(WireKernels.Debezium)),
      ("debezium envelope", s => DebeziumScan.decodeEnvelope(u(s)),
        Seq(WireKernels.DebeziumEnvelope)),
      ("csv", s => CsvScan.decode(u(s)), Seq(WireKernels.Csv)),
      ("open key", s => OpenScan.decodeKey(u(s)), Nil),
      ("open value", s => OpenScan.decodeValue(u(s)), Nil),
      ("simple", s => SimpleScan.decode(u(s)), Nil))
    for ((name, decode, formats) <- scanners) {
      check(s"$name total")(Prop.forAll(Gen.oneOf(garbage, jsonish)) { s => decode(s); true })
      for (format <- formats)
        check(s"$name/$format partial consumes")(Prop.forAll(image, Gen.chooseNum(1, 40)) {
          (img, cut) =>
            val msg = img.render(format)
            decode(msg) != null && decode(msg + "}") == null && decode(msg + ",") == null &&
              (format == WireKernels.Csv || decode(msg.dropRight(math.min(cut, msg.length))) == null)
        })
    }
  }

  /** Text built from the characters the JSON and CSV wires use. */
  private val jsonish: Gen[String] =
    Gen.listOf(Gen.oneOf("{}[]\":,.-+0123456789eEnulltrfasNIc_\\ ".toSeq)).map(_.mkString)

  /** One change event's image columns, any values. */
  private case class Image(cts: Long, sts: Long, schema: String, table: String, op: String,
                           pk: Long, before: Option[Double], after: Option[Double],
                           props: String, et: String) {
    def render(format: Int): String = WireKernels.render(format, false, cts, false, sts,
      UTF8String.fromString(schema), UTF8String.fromString(table), UTF8String.fromString(op),
      false, pk, before.isEmpty, before.getOrElse(0.0), after.isEmpty, after.getOrElse(0.0),
      UTF8String.fromString(props), UTF8String.fromString(et)).toString
  }

  private val image: Gen[Image] = for {
    cts <- Gen.chooseNum(0L, Long.MaxValue)
    sts <- Gen.chooseNum(0L, Long.MaxValue)
    schema <- Gen.alphaNumStr
    table <- Gen.alphaNumStr
    op <- Gen.oneOf("I", "U", "D")
    pk <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
    before <- Gen.option(doubles)
    after <- Gen.option(doubles)
    k <- Gen.chooseNum(0, 99)
    et <- Gen.oneOf(cdc.TypedImage.enumElems)
  } yield Image(cts, sts, schema, table, op, pk, before, after, s"""{"k": $k}""", et)

  private lazy val doubles: Gen[Double] = doublesAt(4)

  /** Any double, weighted towards the rounding midpoints of `scale`
    * decimals (x.xx5 for 2, x.xxxx5 for 4) and their neighbours. */
  private def doublesAt(scale: Int): Gen[Double] = {
    val p = math.pow(10, scale)
    Gen.frequency(
      4 -> Gen.chooseNum(-1e6, 1e6),
      2 -> Gen.chooseNum(-1e13, 1e13),
      2 -> Gen.long.map(java.lang.Double.longBitsToDouble), // every bit pattern
      2 -> Gen.chooseNum(-100000000L, 100000000L).map(n => n / p + 0.5 / p),
      1 -> Gen.chooseNum(-100000000L, 100000000L).map(n => Math.nextUp(n / p + 0.5 / p)),
      1 -> Gen.oneOf(fixedDoubles))
  }

  /** Signs, signed zero, non-finite values, x.xx5 and x.xxxx5
    * midpoints, subnormals and large magnitudes. */
  private lazy val fixedDoubles: Seq[Double] = Seq(-0.0, 0.0, Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue,
    -Double.MinPositiveValue, java.lang.Double.MIN_NORMAL, 1e-310, 1e300, -1e300,
    Double.MaxValue, -Double.MaxValue, 0.00005, -0.00005, 0.00015, 0.5, -0.5, 1.00005,
    2.12345, -2.12345, 1234.56785, 12345678.12345, 99999.99995, -1e-5, -4.9e-5, 49.99995,
    1e11, 1e15, 9.2e18, -12.34, 34.8, 0.005, -0.005, 0.015, 0.125, -0.375, 1.005, 2.675,
    1234.565, 99999.995, -0.0049, 49.995)

  test("the native %.4f renderer is byte-identical to Spark's format_string") {
    // format_string formats through java.util.Formatter with Locale.US;
    // the renderer serves %.2f and %.4f
    def same(d: Double, scale: Int): Boolean =
      FixedPoint.string(d, scale) ==
        String.format(java.util.Locale.US, s"%.${scale}f", Double.box(d))
    for (scale <- Seq(2, 4); d <- fixedDoubles)
      assert(same(d, scale), s"$d renders ${FixedPoint.string(d, scale)} at scale $scale")
    check("fixed point == Formatter")(Prop.forAll(
      Gen.oneOf(2, 4).flatMap(scale => doublesAt(scale).map(_ -> scale))) {
      case (d, scale) => same(d, scale)
    })
  }
}
