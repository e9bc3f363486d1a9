package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._
import graft.jexpr._

/** Differential fuzz of the document parser (`JValue.parse`) and the
  * object representation it builds ([[Fields]]).
  *
  * Random JSON texts carry repeated keys, escapes, non-ASCII text,
  * surrogate pairs and numbers at the edges of the float fast path
  * (15/16 significant digits, 22/23 fractional digits). Every text must
  * parse to the tree Jackson reads from it, key order and the double
  * bits included; render and re-parse to the same tree; and fail only
  * with a JsonParseException once truncated or broken. Number literals
  * are checked on their own against `java.lang.Double.parseDouble`.
  */
class JsonFuzzSpec extends AnyFunSuite {

  private val seed = FuzzSeed(20261020L)
  private val jackson = new ObjectMapper()

  /** `n` draws of `g` from the fixed seed. */
  private def draws[T](g: Gen[T], n: Int, salt: Long): Vector[T] = {
    var s = Seed(seed ^ salt)
    val params = Gen.Parameters.default.withSize(30)
    Vector.fill(n) { val v = g.pureApply(params, s); s = s.next; v }
  }

  // ── generators ───────────────────────────────────────────────────────

  private val digit = Gen.choose('0', '9')
  private def digits(n: Int): Gen[String] = Gen.listOfN(n, digit).map(_.mkString)
  private def digits(lo: Int, hi: Int): Gen[String] = Gen.choose(lo, hi).flatMap(digits)

  /** A decimal with `sig` significant digits and `frac` fractional ones,
    * leading zeros in front when `frac` exceeds `sig`. */
  private val edgeDecimal: Gen[String] = for {
    sig  <- Gen.oneOf(1, 14, 15, 15, 16, 16, 17)
    frac <- Gen.oneOf(0, 1, 5, 15, 21, 22, 22, 23, 24)
    lead <- Gen.choose('1', '9')
    rest <- digits(sig - 1)
  } yield {
    val ds = lead.toString + rest
    if (frac == 0) ds
    else if (frac >= ds.length) "0." + "0" * (frac - ds.length) + ds
    else ds.substring(0, ds.length - frac) + "." + ds.substring(ds.length - frac)
  }

  private val numberLit: Gen[String] = {
    val body = Gen.frequency(
      4 -> edgeDecimal,
      2 -> Gen.choose(Long.MinValue, Long.MaxValue).map(n => math.abs(n % 1000000L).toString),
      1 -> Gen.oneOf("0", "0.0", "1e-7", "1E+5", "2.5e-3", "1.5e300", "4.9e-324",
        "9223372036854775807", "9223372036854775808", "18446744073709551616",
        "123456789012345678901234567890", "0.1", "0.30000000000000004",
        "9007199254740993", "1.7976931348623157e308"),
      1 -> (for { i <- digits(1, 20); f <- digits(0, 25) } yield
        (if (i.length > 1) "1" + i.tail else i) + (if (f.isEmpty) "" else "." + f)))
    for { neg <- Gen.oneOf(false, false, true); b <- body } yield (if (neg) "-" else "") + b
  }

  private def escaped(c: Char): String = f"\\u${c.toInt}%04x"

  /** One character of a JSON string as text: plain ASCII, non-ASCII,
    * a surrogate pair raw or escaped, or a short escape. */
  private val strChar: Gen[String] = Gen.frequency(
    8 -> Gen.alphaNumChar.map(_.toString),
    1 -> Gen.oneOf(" ", "-", "_", ".", ":", "{", "]", ","),
    2 -> Gen.oneOf("\u00e9", "\u4e2d", "\u00df", "\u20ac"),
    1 -> Gen.oneOf("\ud83d\ude00", "\ud834\udd1e"),
    1 -> Gen.oneOf("\\\"", "\\\\", "\\/", "\\b", "\\f", "\\n", "\\r", "\\t"),
    1 -> Gen.oneOf('A', '\u00e9', '\u0001', '\u4e2d', '\u001f').map(escaped),
    1 -> Gen.const(escaped('\ud83d') + escaped('\ude00')))

  private val strLit: Gen[String] =
    Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, strChar)).map(cs => "\"" + cs.mkString + "\"")

  /** Keys from a small pool, so one object often repeats a key. */
  private val keyLit: Gen[String] =
    Gen.frequency(3 -> Gen.oneOf("\"a\"", "\"b\"", "\"id\"", "\"na\\u006de\"", "\"\u00e9\""), 1 -> strLit)

  private val ws: Gen[String] = Gen.frequency(6 -> Gen.const(""), 1 -> Gen.oneOf(" ", "\n  ", "\t"))

  private def value(depth: Int): Gen[String] =
    if (depth == 0) scalar
    else Gen.frequency(3 -> scalar, 1 -> array(depth - 1), 1 -> obj(depth - 1))

  private val scalar: Gen[String] =
    Gen.frequency(3 -> numberLit, 3 -> strLit, 1 -> Gen.oneOf("true", "false", "null"))

  private def array(depth: Int): Gen[String] = for {
    n  <- Gen.choose(0, 5)
    xs <- Gen.listOfN(n, for { a <- ws; v <- value(depth); b <- ws } yield a + v + b)
  } yield "[" + xs.mkString(",") + "]"

  private def obj(depth: Int): Gen[String] = for {
    n  <- Gen.choose(0, 12)
    fs <- Gen.listOfN(n, for { k <- keyLit; a <- ws; v <- value(depth) } yield k + a + ":" + a + v)
  } yield "{" + fs.mkString(",") + "}"

  /** A document whose last character closes its outermost bracket, so
    * every proper prefix of it is malformed. */
  private val doc: Gen[String] = Gen.oneOf(obj(3), array(3))

  // ── oracles ──────────────────────────────────────────────────────────

  private def fromJackson(n: JsonNode): JValue =
    if (n.isNull) JNull
    else if (n.isBoolean) JBool(n.booleanValue)
    else if (n.isIntegralNumber)
      if (n.canConvertToLong) JInt(n.longValue) else JFloat(n.bigIntegerValue.doubleValue)
    else if (n.isNumber) JFloat(n.doubleValue)
    else if (n.isTextual) JStr(n.textValue)
    else if (n.isArray) JArr(n.elements.asScala.map(fromJackson).toVector)
    else JObj(VectorMap.from(n.fieldNames.asScala.map(k => k -> fromJackson(n.get(k)))))

  /** Tree equality with key order and number kind; `bits` compares
    * doubles bit for bit (render drops the sign of -0.0, so a round
    * trip compares them by value). */
  private def same(a: JValue, b: JValue, bits: Boolean): Boolean = (a, b) match {
    case (JFloat(x), JFloat(y)) =>
      if (bits) java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
      else x == y
    case (JArr(xs), JArr(ys)) =>
      xs.length == ys.length && xs.lazyZip(ys).forall(same(_, _, bits))
    case (JObj(xs), JObj(ys)) =>
      xs.size == ys.size && xs.iterator.zip(ys.iterator).forall { case ((k1, v1), (k2, v2)) =>
        k1 == k2 && same(v1, v2, bits)
      }
    case _ => a == b
  }

  /** What a number literal parsed to before the fast path: a long when
    * it is all digits and fits, else `Double.parseDouble`; `None` when
    * the latter rejects it. */
  private def expectedNumber(lit: String): Option[JValue] =
    if (lit.forall(c => c.isDigit || c == '-') && lit.exists(_.isDigit))
      lit.toLongOption.map(JInt(_)).orElse(lit.toDoubleOption.map(JFloat(_)))
    else lit.toDoubleOption.map(JFloat(_))

  // ── properties ───────────────────────────────────────────────────────

  private val docs = draws(doc, 1500, 1L)

  test("every document parses to Jackson's tree, key order and double bits included") {
    docs.foreach { t =>
      val got = JValue.parse(t)
      val want = fromJackson(jackson.readTree(t))
      assert(same(got, want, bits = true), s"parse differs from Jackson on: $t")
    }
  }

  test("render and re-parse give the same tree, key order included") {
    docs.foreach { t =>
      val v = JValue.parse(t)
      val back = JValue.parse(v.render)
      assert(same(back, v, bits = false), s"round trip differs on: $t")
      assert(JValue.eq(back, v) && back == v)
    }
  }

  test("number literals parse to Double.parseDouble's double, bit for bit") {
    val odd = Seq("1.", "-.5", "-0", "-0.0", "0.0", "00.5", "1.e3", "1e", "1e+", "-", "-.",
      "1.5E-7", "0." + "0" * 22 + "1", "0." + "0" * 21 + "1", "123456789012345.6",
      "1234567890123456.7", "9999999999999999", "0.9999999999999999")
    (odd ++ draws(numberLit, 20000, 2L)).foreach { lit =>
      expectedNumber(lit) match {
        case Some(want) =>
          val got = JValue.parse(lit)
          assert(same(got, want, bits = true), s"$lit parsed to $got, want $want")
        case None =>
          intercept[JsonParseException](JValue.parse(lit))
      }
    }
  }

  test("the first object of a parse may sit at any depth") {
    for (d <- Seq(0, 1, 3, 4, 5, 9, 40)) {
      val text = "[" * d + """{"a": {"b": [1, {"c": 2}]}, "d": 3}""" + "]" * d
      val want = (0 until d).foldLeft(JValue.parse("""{"a": {"b": [1, {"c": 2}]}, "d": 3}"""))((v, _) => JArr(Vector(v)))
      assert(JValue.parse(text) == want, s"depth $d")
    }
  }

  test("a truncated document raises JsonParseException") {
    val rng = new scala.util.Random(seed)
    docs.foreach { t =>
      val cut = t.substring(0, rng.nextInt(t.length))
      intercept[JsonParseException](JValue.parse(cut))
    }
  }

  test("a broken document raises JsonParseException and nothing else") {
    val rng = new scala.util.Random(seed + 1)
    val breaks = Vector("\"\\uZZZZ\"", "\"\\u+041\"", "\"\\u12\"", "\"\\x\"", "1e", "-", "-.",
      "1.2.3", "tru", "nul", "[1,]", "{\"a\"}", "{\"a\":1,}", "\"open", "{1:2}", "[1 2]")
    val noise = "{}[]\",:\\u0-+.eE9 tn"
    docs.foreach { t =>
      // a bad token in place of a whole scalar: always malformed
      val broken = "[" + t + "," + breaks(rng.nextInt(breaks.length)) + "]"
      intercept[JsonParseException](JValue.parse(broken))
      // random edits may leave the text well-formed; they must never
      // raise anything but JsonParseException
      val b = new StringBuilder(t)
      (0 until 1 + rng.nextInt(3)).foreach { _ =>
        val i = rng.nextInt(b.length + 1)
        rng.nextInt(3) match {
          case 0 if i < b.length => b.deleteCharAt(i)
          case 1 if i < b.length => b.setCharAt(i, noise(rng.nextInt(noise.length)))
          case _                 => b.insert(i, noise(rng.nextInt(noise.length)))
        }
      }
      try JValue.parse(b.toString) catch { case _: JsonParseException => () }
    }
  }

  // ── large objects: lookups and the duplicate check stay O(1) ─────────

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  test("a 100,000-key object parses and answers every lookup in linear time") {
    val n = 100000
    val text = (0 until n).map(i => s""""k$i":$i""").mkString("{", ",", "}")
    val (fs, secs) = timed {
      val fs = JValue.parse(text) match { case JObj(fs) => fs; case v => fail(v.kind) }
      (0 until n).foreach(i => assert(fs(s"k$i") == JInt(i.toLong)))
      assert(!fs.contains("k-1") && fs.size == n)
      fs
    }
    assert(fs.isInstanceOf[Fields])
    assert(fs.keysIterator.take(3).toList == List("k0", "k1", "k2"))
    assert(secs < 20.0, f"100,000 keys took $secs%.1f s")
  }

  test("a repeated key keeps its first position and its last value, at any size") {
    for (n <- Seq(3, Fields.ScanMax, Fields.ScanMax + 1, 50000)) {
      val fields = (0 until n).map(i => s""""k$i":$i""") ++ (0 until n).map(i => s""""k$i":${-i}""")
      val (got, secs) = timed(JValue.parse(fields.mkString("{", ",", "}")))
      val want = JObj(VectorMap.from((0 until n).map(i => s"k$i" -> JInt(-i.toLong))))
      assert(same(got, want, bits = true), s"n=$n")
      assert(secs < 20.0, f"$n repeated keys took $secs%.1f s")
    }
  }

  test("count_by over 100,000 groups answers every lookup in linear time") {
    val n = 100000
    val text = (0 until n).mkString("""{"xs":[""", ",", "]}")
    val (fs, secs) = timed {
      val fs = Jetro.compile("$.xs.count_by(@)").evalValue(JValue.parse(text)) match {
        case JObj(fs) => fs
        case v        => fail(v.kind)
      }
      (0 until n).foreach(i => assert(fs(i.toString) == JInt(1)))
      fs
    }
    assert(fs.size == n)
    assert(secs < 20.0, f"count_by over $n groups took $secs%.1f s")
  }

  test("every object an expression builds once is a Fields table") {
    val doc = JValue.parse(
      """{"o": {"a": 1, "b": {"c": 2}}, "ps": [["x", 1], ["y", 2], ["x", 3]],
        | "rs": [{"r": "n", "c": "p", "v": 1}, {"r": "s", "c": "q", "v": 2}, {"r": "n", "c": "q", "v": 3}]}""".stripMargin)
    /** The first object under `v` that is not a Fields, if any. */
    def other(v: JValue): Option[String] = v match {
      case JObj(fs) if !fs.isInstanceOf[Fields] => Some(s"${fs.getClass.getSimpleName} in ${v.render}")
      case JObj(fs) => fs.valuesIterator.flatMap(other).nextOption()
      case JArr(xs) => xs.iterator.flatMap(other).nextOption()
      case _        => None
    }
    val texts = Seq(
      "$.o", "{a: 1, b: [1, 2], c: {d: 3}}", "{k: v for k, v in $.o}", "{...$.o, z: 1}",
      "$.ps.from_pairs()", "$.o.invert()", "$.o.transform_keys(@ + \"_\")",
      "$.o.transform_values(@)", "$.o.filter_keys(@ == \"a\")", "$.o.filter_values(@ != 1)",
      "$.o.flatten_keys()", "$.o.pick(a, z: b)", "$.rs.pivot(\"r\", \"v\")",
      "$.rs.pivot(\"r\", \"c\", \"v\")", "$.rs.schema()", "$.rs.group_by(r)", "$.rs.count_by(r)",
      "$.rs.index_by(r)", "$.rs.group_shape(r, len())", "$.o.zip_shape(x: a, y: b)",
      "$.o.walk(@)", "$.o.walk_pre(@)", "$.rs.partition(v > 1)", "$.rs.map({r, v})")
    for (t <- texts) {
      val v = Jetro.compile(t).evalValue(doc)
      assert(v.isInstanceOf[JObj] || v.isInstanceOf[JArr], s"$t gave ${v.render}")
      val built = other(v)
      assert(built.isEmpty, s"$t built $built")
    }
  }

  test("a Fields object equals a VectorMap object with the same content") {
    for (n <- Seq(0, 2, Fields.ScanMax + 4)) {
      val kvs = (0 until n).map(i => s"k$i" -> (JInt(i.toLong): JValue))
      val f = JObj(Fields.from(kvs))
      val v = JObj(VectorMap.from(kvs))
      val vr = JObj(VectorMap.from(kvs.reverse))
      assert(f == v && v == f && f.hashCode == v.hashCode, s"n=$n")
      assert(f == vr && JValue.eq(f, vr) && JValue.eq(vr, f), s"n=$n")
      assert(JValue.eq(JObj(Fields.from(kvs.map { case (k, x) => k -> JFloat(1.0 * x.asInstanceOf[JInt].v) })), v))
      if (n > 0) {
        assert(f != JObj(VectorMap.from(kvs.init)) && !JValue.eq(f, JObj(VectorMap.from(kvs.init))))
        // an edit copies into a VectorMap and keeps the order
        val upd = f.v.updated("k0", JNull) + ("new" -> JNull)
        assert(upd.isInstanceOf[VectorMap[_, _]] && upd.keys.toList == kvs.map(_._1).toList :+ "new")
        assert((f.v - "k0").keys.toList == kvs.map(_._1).toList.tail)
      }
    }
  }
}
