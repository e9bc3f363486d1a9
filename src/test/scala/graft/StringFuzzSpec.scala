package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import graft.jexpr.{JValue, Jetro}

/** Randomized differential for the lowered STRING-builtin surface:
  * generated method chains over edge-case text (empty strings, interior
  * and exotic whitespace, astral-plane code points, sharp-s case
  * growth, regex metacharacters, numeric-ish strings) must produce the
  * same values from `plans.Lower`'s codegen'd scalarFn lowering and the
  * document interpreter (`jexpr.Strings`), which is the reference-exact
  * spec (builtins/ops/string.rs). This is the lane where round 9 found
  * four real divergences by inspection (initcap-vs-capitalize, the
  * space-only Spark trim family, empty-pattern split boundaries, ANSI
  * parse_int errors) — the fuzzer pins the whole surface so the next
  * one can't land silently.
  *
  * The jetro parser reads string literals RAW (no escapes), so edge
  * literals embed real tabs/newlines/NBSP/astral chars directly.
  */
class StringFuzzSpec extends NoCachedLeftovers with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _
  private var doc: JValue = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("graft-string-fuzz")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = graft.core.Tables(spark, sfDir, "region").toJSON.collect()
    doc = JValue.parse(s"""{"region": [${rows.mkString(",")}]}""")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docEval(e: String): JValue = Jetro.compile(e).evalValue(doc)

  /** Spark row value → JValue, for exact comparison with the
    * interpreter's output. */
  private def toJ(v: Any): JValue = v match {
    case null                       => jexpr.JNull
    case l: Long                    => jexpr.JInt(l)
    case i: Int                     => jexpr.JInt(i.toLong)
    case s: String                  => jexpr.JStr(s)
    case b: Boolean                 => jexpr.JBool(b)
    case s: scala.collection.Seq[_] => jexpr.JArr(s.map(toJ).toVector)
    case other => fail(s"unmapped Spark value $other (${other.getClass})")
  }

  // Raw edge literals (real control/unicode chars — the parser takes
  // them verbatim between quotes; none contain a double quote).
  private val edges = Seq(
    "", " ", "  hi  ", "\thi\n", "a,b,,c", "Hello World", "hello WORLD",
    "héllo", "a𝄞b", "ßx", "x y",
    "l1\nl2\r\nl3", "123", " 42 ", "12.5", "-7", "*spec.()[]",
    "fooBarBaz", "parse_HTTP-Response", "_aB_", "v2EngineX",
    "  a\n    b\n\n c", "   \n  x\n    y\n")

  // Literal args for parameterized ops (quoted into the source).
  private val litArgs = Seq("", "l", "o", " ", "ab", "é",
    "𝄞", "A", ",", "b,")

  // "(e)(l+)?" exercises capture groups including the UNMATCHED
  // optional group (null element in re_captures, where Spark's
  // regexp_extract would flatten to "")
  private val regexes = Seq("[aeiou]", "l+", "^A", "o$", "[0-9]+", "\\s",
    "(e)(l+)?")

  private def q(s: String): String = "\"" + s + "\""

  test("random string-builtin chains: compiled == interpreted") {
    val rng = new scala.util.Random(FuzzSeed(90817))
    def arg = litArgs(rng.nextInt(litArgs.length))
    def re = regexes(rng.nextInt(regexes.length))

    def strOp(): String = rng.nextInt(30) match {
      case 0  => ".upper()"
      case 1  => ".lower()"
      case 2  => ".capitalize()"
      case 3  => ".trim()"
      case 4  => ".lstrip()"
      case 5  => ".rstrip()"
      case 6  => ".reverse_str()"
      case 7  => s".repeat(${rng.nextInt(3)})"
      case 8  => s".pad_left(${3 + rng.nextInt(8)})"
      case 9  => s".pad_left(${3 + rng.nextInt(8)}, ${q(if (rng.nextBoolean()) "*" else "ab")})"
      case 10 => s".pad_right(${3 + rng.nextInt(8)}, ${q("xy")})"
      case 11 => s".replace(${q(arg)}, ${q(arg)})"
      case 12 => s".replace_all(${q(arg)}, ${q(arg)})"
      case 13 => s".strip_prefix(${q(arg)})"
      case 14 => s".strip_suffix(${q(arg)})"
      case 15 => ".to_base64().from_base64()"
      case 16 => s".re_replace_all(${q(re)}, ${q(arg)})"
      case 17 => s".center(${3 + rng.nextInt(8)}${if (rng.nextBoolean()) ", " + q("ab") else ""})"
      case 18 => ".html_escape()"
      case 19 => ".html_escape().html_unescape()"
      case 20 => ".url_encode()"
      case 21 => ".url_encode().url_decode()"
      case 22 => s".re_match_first(${q(re)})"
      case 23 => ".snake_case()"
      case 24 => ".kebab_case()"
      case 25 => ".camel_case()"
      case 26 => ".pascal_case()"
      case 27 => s".indent(${rng.nextInt(4)})"
      case 28 => ".dedent()"
      case 29 => ".title_case()"
      case _  => ".trim_left()"
    }
    def terminal(): String = rng.nextInt(26) match {
      case 0  => ".length()"
      case 1  => ".byte_len()"
      case 2  => s".index_of(${q(arg)})"
      case 3  => ".parse_int()"
      case 4  => s".starts_with(${q(arg)})"
      case 5  => s".ends_with(${q(arg)})"
      case 6  => s".contains(${q(arg)})"
      case 7  => ".is_alpha()"
      case 8  => ".is_ascii()"
      case 9  => ".is_numeric()"
      case 10 => s".re_match(${q(re)})"
      case 11 => s".matches(${q(arg)})"
      case 12 => s".last_index_of(${q(arg)})"
      case 13 => if (rng.nextBoolean()) ".to_bool()" else ".parse_bool()"
      case 14 => s".contains_${if (rng.nextBoolean()) "any" else "all"}([${q(arg)}, ${q(arg)}])"
      case 15 => ".lines()"
      case 16 => ".chars_of()"
      case 17 => s".scan(${q(arg)})"
      case 18 => s".re_${if (rng.nextBoolean()) "split" else "match_all"}(${q(re)})"
      case 19 => ".words()"
      case 20 => ".is_blank()"
      case 21 => ".bytes()"
      case 22 => s".re_captures(${q(re)})"
      case 23 => s".re_captures_all(${q(re)})"
      case 24 =>
        // Java replacement semantics: group refs when the pattern has
        // groups, plain literal otherwise
        if (rng.nextBoolean()) ".re_replace(\"(l+)(o?)\", \"[$2$1]\")"
        else s".re_replace(${q(re)}, ${q(arg)})"
      case _  => s".split(${q(Seq("", ",", "l", " ")(rng.nextInt(4)))})"
    }

    var ran = 0
    (0 until 140).foreach { _ =>
      val edge = edges(rng.nextInt(edges.length))
      val recv = rng.nextInt(3) match {
        case 0 => "r_name"
        case 1 => s"(${q(edge)} + r_name)"
        case _ => s"(r_name + ${q(edge)})"
      }
      val chain = (0 until rng.nextInt(3)).map(_ => strOp()).mkString
      val tail = if (rng.nextBoolean()) terminal() else strOp()
      val e = s"$$.region.sort_by(r_regionkey).map({id: r_regionkey, v: $recv$chain$tail})"
      val compiled = graft.plans.Lower.tryCompile(
        e, t => graft.core.Tables(spark, sfDir, t))
      assert(compiled.nonEmpty, s"should lower: $e")
      val got = compiled.get.collect().toVector
        .map { r =>
          val id = r.get(0) match {
            case i: Int => i.toLong
            case l: Long => l
            case o => fail(s"$e: id ${o.getClass}")
          }
          (id, toJ(r.get(1)))
        }
      val exp = docEval(e) match {
        case jexpr.JArr(xs) => xs.map { o =>
          val fs = o.asInstanceOf[jexpr.JObj].v
          val id = fs("id") match {
            case jexpr.JInt(n) => n
            case v             => fail(s"$e: id ${v.kind}")
          }
          (id, fs("v"))
        }
        case other => fail(s"$e: expected array, got ${other.kind}")
      }
      assert(got == exp, s"divergence for: $e\n  lowered: $got\n  interp:  $exp")
      ran += 1
    }
    assert(ran == 140)
  }

  test("replace_all empty needle: code-point boundaries, both ends, \"\" → rep") {
    // Rust str::replace("") inserts at CHAR (code point) boundaries —
    // "a𝄞b" → "-a-𝄞-b-" with the surrogate pair intact, "" → "-".
    // Java String.replace/replaceAll("") insert per UTF-16 unit and
    // would split the pair (probed); both lanes must take the
    // code-point path.
    val e = """$.region.sort_by(r_regionkey).map({id: r_regionkey,
              |  a: ("a𝄞b" + r_name.repeat(0)).replace_all("", "-"),
              |  b: r_name.repeat(0).replace_all("", "-"),
              |  c: ("ab" + r_name.repeat(0)).replace_all("", "--")})""".stripMargin
    val compiled = graft.plans.Lower.tryCompile(
      e, t => graft.core.Tables(spark, sfDir, t))
    assert(compiled.nonEmpty, s"should lower: $e")
    val r = compiled.get.collect().head
    assert(r.getString(1) == "-a-𝄞-b-", s"got ${r.getString(1)}")
    assert(r.getString(2) == "-")
    assert(r.getString(3) == "--a--b--")
    val jr = docEval(e).asInstanceOf[jexpr.JArr].v.head.asInstanceOf[jexpr.JObj].v
    assert(jr("a") == jexpr.JStr("-a-𝄞-b-")
      && jr("b") == jexpr.JStr("-") && jr("c") == jexpr.JStr("--a--b--"))
  }

  test("parse_int / parse_float / to_number: null on unparseable, exact on valid") {
    // hand-pinned: ANSI casts must be absorbed to the interpreter's
    // null (strict i64 — "12.5" is NOT an int), not raised
    // literal receivers don't enter the lowered method lane — feed each
    // literal through a column-typed identity concat (r_name.repeat(0)
    // is "" on every row) so the chain rides the same rows the fuzz
    // cases do
    val e = """$.region.sort_by(r_regionkey).map({id: r_regionkey,
              |  a: ("42" + r_name.repeat(0)).parse_int(),
              |  b: ("12.5" + r_name.repeat(0)).parse_int(),
              |  c: ("abc" + r_name.repeat(0)).parse_int(),
              |  d: (" 7 " + r_name.repeat(0)).parse_int(),
              |  e: ("12.5" + r_name.repeat(0)).parse_float(),
              |  f: ("x" + r_name.repeat(0)).parse_float()})""".stripMargin
    val compiled = graft.plans.Lower.tryCompile(
      e, t => graft.core.Tables(spark, sfDir, t))
    assert(compiled.nonEmpty, s"should lower: $e")
    val r = compiled.get.collect().head
    assert(r.getLong(1) == 42L && r.isNullAt(2) && r.isNullAt(3)
      && r.getLong(4) == 7L && r.getDouble(5) == 12.5 && r.isNullAt(6))
    val jr = docEval(e).asInstanceOf[jexpr.JArr].v.head.asInstanceOf[jexpr.JObj].v
    assert(jr("a") == jexpr.JInt(42) && jr("b") == jexpr.JNull
      && jr("c") == jexpr.JNull && jr("d") == jexpr.JInt(7)
      && jr("e") == jexpr.JFloat(12.5) && jr("f") == jexpr.JNull)
  }
}
