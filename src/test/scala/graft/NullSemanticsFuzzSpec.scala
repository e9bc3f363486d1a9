package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import graft.jexpr.{JValue, Jetro}

/** Randomized null-operand differential over the VALUE-position bool
  * surface (round 8's valueExpr): generated shapes of comparisons,
  * `and`/`or`/`not`, `??` and ternaries over a fixture whose fields are
  * randomly MISSING must produce exactly the interpreter's two-valued
  * answers through the Catalyst lowering. Arithmetic over nullable
  * lanes is excluded from that shape surface: the interpreter ERRORS on
  * non-number arithmetic (vm semantics) while the relational lane
  * nulls the cell — a documented rung-granularity divergence that the
  * arithmetic-tier test pins instead. Past its all-numeric rounds it
  * draws extra rounds that mix statically non-numeric operands
  * (strings, a bool, a string literal) in with the numeric ones: any
  * shape that does arithmetic on one must stay off the lowering, which
  * would cast it where the interpreter raises.
  */
class NullSemanticsFuzzSpec extends NoCachedLeftovers with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var df: org.apache.spark.sql.DataFrame = _
  private var docJson: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("graft-null-fuzz")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // fixture: every field independently missing ~30% of rows, plus an
    // all-present and an all-missing row
    val rng = new scala.util.Random(FuzzSeed(814))
    val rows = (0 until 40).map { i =>
      def keep = rng.nextInt(10) >= 3
      val fs = Vector(
        Some(s""""id": $i"""),
        if (i == 1 || (i != 2 && keep)) Some(s""""a": ${rng.nextInt(10) - 3}""") else None,
        if (i == 1 || (i != 2 && keep)) Some(s""""b": ${rng.nextInt(10) - 3}""") else None,
        if (i == 1 || (i != 2 && keep)) Some(s""""s": "${if (rng.nextBoolean()) "" else "w" + rng.nextInt(3)}"""") else None,
        if (i == 1 || (i != 2 && keep)) Some(s""""t": "v${rng.nextInt(3)}"""") else None,
        if (i == 1 || (i != 2 && keep)) Some(s""""p": ${rng.nextBoolean()}""") else None,
        if (i == 1 || (i != 2 && keep)) Some(s""""q": ${rng.nextBoolean()}""") else None,
        if (i == 1 || (i != 2 && keep)) Some(s""""arr": [${rng.nextInt(4)}, ${if (rng.nextBoolean()) "null" else rng.nextInt(4).toString}, ${rng.nextInt(4)}]""") else None,
        // struct receiver whose fields are independently missing — the
        // `has` lowering must honor the null-omitting bridge (a null
        // field is NOT a member) and a null receiver
        if (i == 1 || (i != 2 && keep))
          Some(s""""o": {${Vector(
            if (keep) Some(s""""k": ${rng.nextInt(5)}""") else None,
            if (keep) Some(s""""w": "x${rng.nextInt(3)}"""") else None
          ).flatten.mkString(",")}}""")
        else None)
      fs.flatten.mkString("{", ",", "}")
    }
    import org.apache.spark.sql.functions._
    df = spark.read.json(
      spark.createDataset(rows)(org.apache.spark.sql.Encoders.STRING))
      .select(col("id"), col("a"), col("b"), col("s"), col("t"),
        col("p"), col("q"), col("arr"), col("o"))
      .coalesce(1)
    docJson = df.toJSON.collect().mkString(",")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def canon(v: JValue): String = v match {
    case jexpr.JObj(fs) => fs.toVector.sortBy(_._1)
      .map { case (k, x) => s""""$k":${canon(x)}""" }.mkString("{", ",", "}")
    case jexpr.JArr(xs) => xs.map(canon).mkString("[", ",", "]")
    // SQL coerces mixed ?? / ternary branches to one static numeric
    // type where the interpreter keeps the dynamic one — JValue.eq
    // treats JInt/JFloat cross-equal, so the comparison does too
    case jexpr.JFloat(f) if f.isWhole && math.abs(f) < 1e15 =>
      f.toLong.toString
    case other          => other.render
  }

  test("random null-heavy bool shapes: compiled == interpreted") {
    val rng = new scala.util.Random(FuzzSeed(20260814))
    val pool = Seq(
      "a < b", "a <= b", "a > b", "a >= b", "a >= 3", "b < 0",
      "a == b", "a != b", "s == t", "s != t", "a == null", "s != null",
      "b > a and a > 0", "a < 5 and b < 5", "p and q", "p and a > 0",
      "p or q", "a or b", "a or 99", "s or t", """s or "anon"""",
      "not (a > 2)", "not p",
      "a ?? b", "a ?? 0", """s ?? "none"""",
      """"big" if a > 2 else "small"""", "b if a > 0 else a",
      "(a < b) == p", "a > 0 if p else a < 0",
      // round-8 `has` / `~=` exact-null surface: arrays use
      // null-as-value element equality (`arr has null` finds null
      // ELEMENTS), strings coerce a null operand to the display form
      // "null" (pinned interpreter behavior)
      "arr has a", "arr has 2", "arr has null", "arr has b",
      "t has \"v\"", "s has \"w\"",
      "s ~= t", "s ~= \"W0\"", "t ~= \"null\"",
      // division: a null numerator divides as 0.0 (reference Div
      // coerces via unwrap_or(0.0)); an erroring left of ?? takes the
      // default on both backends (EvalException / absorbed raise)
      "a / 2", "(a / (b - b)) ?? -1", "(a / b) ?? -99",
      // round-9 struct `has`: key membership over the null-omitting
      // bridge — a null receiver or null field value is NOT a member
      """o has "k"""", """o has "w"""", """o has "zz"""",
      """(o has "k") == p""", """not (o has "k")""",
      // round-9 coalesce(): first non-null wins with VALUE-position
      // args (a null-operand comparison is false, non-null, and WINS)
      // and per-arg errors absorbed
      "coalesce(a, b, -1)", "coalesce(s, t)", "coalesce(a < b, true)",
      "coalesce(a > 2, p, false)", "coalesce(a / (b - b), b, -5)")
    (0 until 60).foreach { _ =>
      val n = 2 + rng.nextInt(3)
      val fields = (0 until n).map(i => s"v$i: ${pool(rng.nextInt(pool.length))}")
      val e = s"$$.t.sort_by(id).map({id: id, ${fields.mkString(", ")}})"
      val compiled = graft.plans.Lower.tryCompile(e, _ => df)
      assert(compiled.nonEmpty, s"should lower: $e")
      val got = compiled.get.toJSON.collect().toVector
        .map(s2 => canon(JValue.parse(s2)))
      val expArr = Jetro.compile(e)
        .evalValue(JValue.parse(s"""{"t": [$docJson]}""")) match {
        case jexpr.JArr(xs) => xs
        case other          => fail(s"$e: expected array, got ${other.kind}")
      }
      // normalize the interpreter rows through the same JSON bridge
      // (null fields omitted on both sides)
      val exp = spark.read.json(
        spark.createDataset(expArr.map(_.render))(
          org.apache.spark.sql.Encoders.STRING))
        .toJSON.collect().toVector.map(s2 => canon(JValue.parse(s2)))
      assert(got == exp, e)
    }
  }

  /** The three-tier arithmetic error-granularity contract (SCALE.md):
    * the INTERPRETER errors loudly on null/non-number arithmetic, the
    * ROWWISE rung nulls-and-counts the row, the LOWERING nulls the
    * CELL — with division reference-exact in every lane (null VALUE
    * numerator → 0.0; zero/null denominator → loud error; a null out
    * of an arithmetic SUB-expression means the interpreter already
    * raised, so the lowering raises there too instead of coercing).
    * Expected per-row outcomes come from the interpreter itself over
    * singleton docs, so the test is a differential, not a model. */
  test("arithmetic tier boundary: loud doc / counted rowwise drop / cell-null lowering") {
    import graft.jexpr.{EvalException, Jetro => J}
    val rng = new scala.util.Random(FuzzSeed(9092026))
    val rowJsons = df.toJSON.collect().toVector
    val fullDocJson = s"""{"t": [${rowJsons.mkString(",")}]}"""

    def perRow(expr: String): Vector[Either[String, JValue]] =
      rowJsons.map { rj =>
        try J.compile(s"$$.t.map({v: ($expr)})")
          .evalValue(JValue.parse(s"""{"t": [$rj]}""")) match {
          case jexpr.JArr(Vector(jexpr.JObj(fs))) =>
            Right(fs.getOrElse("v", jexpr.JNull))
          case other => Left(s"unexpected shape ${other.kind}")
        } catch { case e: EvalException => Left(e.getMessage) }
      }

    def ids: Vector[Long] = rowJsons.map(rj =>
      JValue.asNum(JValue.parse(rj).asInstanceOf[jexpr.JObj].v("id")).get.toLong)

    /** normalize a set of {"id","v"} JSON rows through the same bridge
      * both engines use, then canon-compare. */
    def normalize(rows: Vector[String]): Vector[String] =
      spark.read.json(
        spark.createDataset(rows)(org.apache.spark.sql.Encoders.STRING))
        .toJSON.collect().toVector.map(s2 => canon(JValue.parse(s2))).sorted

    val atomsNum = Seq("a", "b", "id", "2", "3")
    // statically non-numeric operands: strings s and t, bool p and a
    // string literal, one atom in four in the mixed rounds
    val atomsOther = Seq("s", "t", "p", "\"1\"")
    var mixed = false
    def atom(): String =
      if (mixed && rng.nextInt(4) == 0) atomsOther(rng.nextInt(atomsOther.length))
      else atomsNum(rng.nextInt(atomsNum.length))
    val opsAdd = Seq("+", "-", "*")
    def addExpr(): String = {
      val a1 = atom()
      val a2 = atom()
      if (rng.nextBoolean()) s"$a1 ${opsAdd(rng.nextInt(3))} $a2"
      else {
        val a3 = atom()
        s"($a1 ${opsAdd(rng.nextInt(3))} $a2) ${opsAdd(rng.nextInt(3))} $a3"
      }
    }
    var cases = 0
    var compared = 0 // all-numeric shapes that lowered and met tier 3
    var kept = 0     // mixed shapes the lowering left to the interpreter
    (0 until 60).foreach { round =>
      mixed = round >= 40
      // (expr, divIsTopLevel): only a TOP-LEVEL division carries the
      // "must raise compiled on a zero denominator" guarantee. Nested
      // under another arithmetic op (pool D), Spark's null-short-
      // circuiting Add/Multiply.eval can skip the division entirely on
      // a row whose sibling operand is null — that row lands in the
      // documented cell-null tier instead (it IS an interpreter-errored
      // row), and the exact-cells assertion below still pins it.
      // Seed-204 sweep find: the old pool B emitted `a + b / id`
      // (unparenthesized addExpr numerator), which precedence-parses to
      // the NESTED shape and tripped the top-level-only assertion.
      val shapes = Seq(
        (addExpr(), false),                          // pool A: + - * (null hazards only)
        (s"(${if (rng.nextBoolean()) addExpr() else atom()}) / " +
          s"${if (rng.nextInt(4) == 0) s"(b - b)" else atom()}", true), // pool B: division
        (s"(${addExpr()}) % ${atom()}", false), // pool C: integer remainder
        (s"${atom()} ${opsAdd(rng.nextInt(3))} " +
          s"${atom()} / ${atom()}", false)) // pool D: nested division
      shapes.foreach { case (e, divTop) =>
        cases += 1
        val pr = perRow(e)
        val succJson = ids.zip(pr).collect { case (id, Right(v)) =>
          s"""{"id":$id,"v":${v.render}}"""
        }
        // tier 1 — document interpreter: loud iff ANY row errors
        val docThrew =
          try { J.compile(s"$$.t.map({id: id, v: ($e)})")
            .evalValue(JValue.parse(fullDocJson)); false }
          catch { case _: EvalException => true }
        assert(docThrew == pr.exists(_.isLeft), s"doc loudness for: $e")
        // tier 2 — rowwise rung: errored rows DROPPED and COUNTED.
        // Materialise around read.json with the helper rowwiseCompile
        // uses — the raw two-pass read would run the interpreter (and
        // count every drop) TWICE.
        val c = Graft.rowwiseCounters(spark)
        val before = c.errored.value
        val ds = graft.core.Intermediate.persist(
          Graft.rowwiseJson(df,
            Graft.RowwisePlan("t", s"$$.t.map({id: id, v: ($e)})", Vector.empty)),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val rw = spark.read.json(ds)
        val rwRows = rw.toJSON.collect().toVector.map(s2 => canon(JValue.parse(s2))).sorted
        assert(c.errored.value - before == pr.count(_.isLeft),
          s"rowwise drop count for: $e")
        assert(rwRows == normalize(succJson), s"rowwise survivors for: $e")
        // tier 3 — lowering: cell-null on errored rows; zero-division
        // and errored-subexpression division raise loudly instead. A
        // statically non-numeric operand of arithmetic does not lower
        // (Spark would cast it); `+` over strings alone is concat.
        val lowered = graft.plans.Lower.tryCompile(
          s"$$.t.sort_by(id).map({id: id, v: ($e)})", _ => df)
        val atoms = "\"1\"|[a-z]+|\\d+".r.findAllIn(e).toVector
        val concat = atoms.forall(Set("s", "t", "\"1\"")) && !e.exists("-*/%".contains(_))
        if (atoms.exists(atomsOther.contains) && !concat) {
          assert(lowered.isEmpty, s"non-numeric arithmetic operand lowered: $e")
          kept += 1
        }
        if (!mixed) {
          assert(lowered.isDefined, s"should lower: $e")
          compared += 1
        }
        lowered.foreach { cdf =>
          val ran =
            try Some(cdf.toJSON.collect().toVector
              .map(s2 => canon(JValue.parse(s2))).sorted)
            catch { case scala.util.control.NonFatal(_) => None }
          ran match {
            case Some(got) =>
              // ran to completion: a TOP-LEVEL zero division may not
              // exist (its raise_error is unconditionally reachable),
              // and cells are null exactly on the interpreter's error
              // rows
              if (divTop)
                assert(!pr.exists(_.left.exists(_.contains("by zero"))),
                  s"zero-division must raise compiled: $e")
              val expJson = ids.zip(pr).map {
                case (id, Right(v)) => s"""{"id":$id,"v":${v.render}}"""
                case (id, Left(_))  => s"""{"id":$id}"""
              }
              assert(got == normalize(expJson), s"compiled cells for: $e")
            case None =>
              assert(pr.exists(_.isLeft),
                s"compiled raised with no interpreter error row: $e")
          }
        }
      }
    }
    assert(cases == 240 && compared == 160 && kept >= 20,
      s"$cases generated, $compared compared, $kept kept off the lowering")
  }
}
