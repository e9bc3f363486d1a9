package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import graft.jexpr.{JValue, Jetro}

/** Randomized two-backend differential: generated pipelines are compiled
  * by `plans.Lower` AND interpreted in document mode over the same rows;
  * results must be identical (the reference's cross-backend guarantee,
  * README.md:269-271). Complements GraftCompileSpec's hand-written cases
  * with combination coverage — predicate × sort direction × lane × op ×
  * block size — under a deterministic seed.
  *
  * Lanes for ARITHMETIC ops (rolling_sum/avg, accumulate, diff,
  * pct_change) are integer-valued columns: integer sums ≤ 2^53 are
  * order-insensitive in double arithmetic, so the distributed
  * prefix-combine and the interpreter's sequential fold agree bit-for-
  * bit. Comparison-only ops (min/max/lag/lead/cum/take/skip/reverse)
  * also fuzz the double column.
  */
class LowerFuzzSpec extends NoCachedLeftovers with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private def fuzzSeed(default: Long): Long = FuzzSeed(default)
  private var spark: SparkSession = _
  private var doc: JValue = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("graft-lower-fuzz")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fields = Seq("customer", "region").map { t =>
      val rows = graft.core.Tables(spark, sfDir, t).toJSON.collect()
      s""""$t": [${rows.mkString(",")}]"""
    }
    doc = JValue.parse(fields.mkString("{", ",", "}"))
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docEval(e: String): JValue = Jetro.compile(e).evalValue(doc)

  private def sparkRows(e: String) = graft.plans.Lower
    .compile(e, t => graft.core.Tables(spark, sfDir, t)).collect()

  private def asD(v: JValue): Option[Double] = v match {
    case jexpr.JInt(n)   => Some(n.toDouble)
    case jexpr.JFloat(f) => Some(f)
    case jexpr.JNull     => None
    case other           => fail(s"unexpected ${other.kind}")
  }

  private val preds = Seq(
    "", "{c_acctbal > 1000}", "{c_nationkey < 13}",
    "{c_acctbal > -100 and c_nationkey >= 3}", "{c_custkey <= 90}",
    "{c_acctbal > 999999}") // empty-result stressor

  test("random lane pipelines: compiled == interpreted") {
    val rng = new scala.util.Random(fuzzSeed(20260813))
    val cases = (0 until 90).map { _ =>
      def k = 1 + rng.nextInt(6)
      val pred = preds(rng.nextInt(preds.length))
      val dir = if (rng.nextBoolean()) "-" else ""
      val arith = Seq(
        s"rolling_sum($k)", s"rolling_avg($k)",
        s"accumulate(lambda a, x: a + x, ${rng.nextInt(100)})")
      val cmp = Seq(
        s"rolling_min($k)", s"rolling_max($k)", s"lag($k)", s"lead($k)",
        "cum_max()", "cum_min()", s"take(${5 + rng.nextInt(40)})",
        s"skip(${rng.nextInt(40)})", "reverse()")
      val custkeyOnly = Seq("diff_window()", "pct_change()")
      val (lane, op) = rng.nextInt(3) match {
        case 0 => (Seq("c_custkey", "c_nationkey")(rng.nextInt(2)),
                   arith(rng.nextInt(arith.length)))
        case 1 => (Seq("c_custkey", "c_nationkey", "c_acctbal")(rng.nextInt(3)),
                   cmp(rng.nextInt(cmp.length)))
        case _ => ("c_custkey", custkeyOnly(rng.nextInt(2)))
      }
      val blk = if (rng.nextInt(3) == 0) Some(3 + rng.nextInt(9)) else None
      // the sort slot mixes key form, `-key`, one-param key lambdas and
      // mirrored comparator lambdas (all four rewrite to the same
      // order over the unique key)
      val sort = rng.nextInt(5) match {
        case 0 => s"sort_by(${dir}c_custkey)"
        case 1 => "sort(lambda a, b: a.c_custkey < b.c_custkey)"
        case 2 => "sort(lambda a, b: a.c_custkey > b.c_custkey)"
        case 3 => "sort(lambda a, b: b.c_custkey < a.c_custkey)"
        case _ => "sort_by(lambda x: x.c_custkey)"
      }
      // the map slot mixes bare lanes with the value-pipe and
      // free-function forms (both must lower through the same lanes)
      val mapped = rng.nextInt(4) match {
        case 0 => s"($lane | @ + ${rng.nextInt(3)})"
        case 1 => s"abs($lane)"
        case _ => lane
      }
      (s"$$.customer$pred.$sort.map($mapped).$op", blk)
    }
    cases.foreach { case (e, blk) =>
      blk match {
        case Some(b) => spark.conf.set("graft.lower.blockRows", b.toString)
        case None    => spark.conf.unset("graft.lower.blockRows")
      }
      val got = sparkRows(e)
        .map(r => Option(r.get(0)).map(_.asInstanceOf[Number].doubleValue))
        .toVector
      val exp = docEval(e) match {
        case jexpr.JArr(xs) => xs.map(asD)
        case other          => fail(s"$e: expected array, got ${other.kind}")
      }
      assert(got == exp, e)
    }
    spark.conf.unset("graft.lower.blockRows")
  }

  test("bare sort() on value lanes: compiled == interpreted") {
    // identity-key sort over single-column lanes (the SortedDedup
    // fusion's input form): dup-heavy (c_nationkey) and unique
    // (c_custkey) lanes, follow-on ops that observe the order. Equal
    // values are interchangeable, so every op here is tie-safe.
    val rng = new scala.util.Random(fuzzSeed(60214))
    val cmpPosts = Seq("count()", "first()", "last()", "unique()",
      "reverse()", "take(11)", "skip(7)", "min()", "max()")
    (0 until 40).foreach { _ =>
      val pred = preds(rng.nextInt(preds.length))
      val lane = Seq("c_custkey", "c_nationkey", "c_acctbal")(rng.nextInt(3))
      // double sums are order-sensitive in the last ulp (the suite's
      // integer-lane rule) — sum() only fuzzes the integer lanes
      val posts = if (lane == "c_acctbal") cmpPosts else "sum()" +: cmpPosts
      val post = posts(rng.nextInt(posts.length))
      val e = s"$$.customer$pred.map($lane).sort().$post"
      val exp = docEval(e)
      (exp: @unchecked) match {
        case jexpr.JArr(xs) =>
          val got = sparkRows(e)
            .map(r => Option(r.get(0)).map(_.asInstanceOf[Number].doubleValue))
            .toVector
          assert(got == xs.map(asD), e)
        case v =>
          val got = sparkRows(e).headOption.flatMap(r => Option(r.get(0)))
            .map(_.asInstanceOf[Number].doubleValue)
          assert(got == asD(v), e)
      }
    }
  }

  /** Edge-literal sweep: negative / zero / small / large argument
    * literals across the scalar-fn and sequence-op surface. The contract
    * under test is the compiler's lower-exactly-or-bail rule in its
    * sharpest corner: where the interpreter ERRORS (negative lag,
    * chunk(0)…) the lowering must bail or error too — never silently
    * produce a direction-flipped / truncated / padded value (the round-4
    * advice bugs were exactly this class). */
  test("deep family over generated nested shapes: compiled == interpreted") {
    // map into a nested struct+array shape, then run the deep ops the
    // round-7 lowerings added ($..field through arrays, ..shape/..like
    // row lanes, kind-guarded walk). Homogeneous lanes MUST lower
    // (tryCompile.nonEmpty) — a silent bail regression here would hide
    // behind the interpreter fallback.
    val rng = new scala.util.Random(fuzzSeed(70214))
    val strCols = Seq("c_name", "c_mktsegment") // the driver customer schema's string lanes
    (0 until 25).foreach { _ =>
      val pred = preds(rng.nextInt(preds.length))
      def sc = strCols(rng.nextInt(strCols.length))
      val (k1, k2, k3, k4) = (sc, sc, sc, sc)
      // ..shape needs CANDIDATE structs of one unified type (mixed
      // shapes bail to doc mode by contract), so its pool keeps every
      // object {v}; the scalar-match ops keep the deeper mixed nest
      val (shape, op) = rng.nextInt(4) match {
        case 0 =>
          (s"map({id: c_custkey, a: {v: $k1, deep: {v: $k2}}, kids: [{v: $k3}, {v: $k4}]})",
            "..v")
        case 1 =>
          (s"map({id: c_custkey, a: {v: $k1}, kids: [{v: $k2}, {v: $k3}]})",
            "..shape({v}).map(v)")
        case 2 =>
          (s"map({id: c_custkey, a: {v: $k1, deep: {v: $k2}}, kids: [{v: $k3}, {v: $k4}]})",
            s".walk(lambda x: x.${if (rng.nextBoolean()) "upper" else "lower"}() if x is string else x)..v")
        case _ =>
          // the matched name ALSO a row-level column, placed AFTER a
          // nested match-bearing sibling: Deep.descend hoists the
          // level's hit ahead of every sibling descent, so the row's
          // own v leads [row.v, a.v, kids…] — the round-9 emission-
          // order fix; a per-field interleave would emit [a.v, row.v…]
          (s"map({id: c_custkey, a: {v: $k1, deep: {v: $k2}}, v: $k3})",
            "..v")
      }
      val e = s"$$.customer$pred.sort_by(c_custkey).$shape$op"
      val compiled = graft.plans.Lower.tryCompile(
        e, t => graft.core.Tables(spark, sfDir, t))
      assert(compiled.nonEmpty, s"should lower: $e")
      val got = compiled.get.collect().map(_.getString(0)).toVector
      val exp = docEval(e) match {
        case jexpr.JArr(xs) => xs.map {
          case jexpr.JStr(s) => s
          case o             => fail(s"$e: ${o.kind}")
        }
        case other => fail(s"$e: expected array, got ${other.kind}")
      }
      assert(got == exp, e)
    }
  }

  test("edge literals: lowering bails or matches the interpreter exactly") {
    import scala.util.{Failure, Success, Try}
    def toJ(v: Any): JValue = v match {
      case null                       => jexpr.JNull
      case l: Long                    => jexpr.JInt(l)
      case i: Int                     => jexpr.JInt(i.toLong)
      case d: Double                  => jexpr.JFloat(d)
      case f: Float                   => jexpr.JFloat(f.toDouble)
      case s: String                  => jexpr.JStr(s)
      case b: Boolean                 => jexpr.JBool(b)
      case s: scala.collection.Seq[_] => jexpr.JArr(s.map(toJ).toVector)
      case d: java.math.BigDecimal    => jexpr.JFloat(d.doubleValue)
      case other => fail(s"unmapped Spark value $other (${other.getClass})")
    }
    def jEq(a: JValue, b: JValue): Boolean = (a, b) match {
      case (jexpr.JInt(x), jexpr.JFloat(y)) => x.toDouble == y
      case (jexpr.JFloat(x), jexpr.JInt(y)) => x == y.toDouble
      case (jexpr.JArr(xs), jexpr.JArr(ys)) =>
        xs.length == ys.length && xs.lazyZip(ys).forall(jEq)
      case _ => a == b
    }
    val cases = for {
      n <- Seq(-3, -1, 0, 1, 2, 7)
      e <- Seq(
        s"""$$.region.sort_by(r_regionkey).map(r_name.pad_left($n))""",
        s"""$$.region.sort_by(r_regionkey).map(r_name.pad_left($n, "ab"))""",
        s"""$$.region.sort_by(r_regionkey).map(r_name.pad_right($n, "xy"))""",
        s"""$$.region.sort_by(r_regionkey).map(r_name.repeat($n))""") ++
        Seq("lag", "lead", "rolling_sum", "rolling_min", "take", "skip",
          "first", "last", "nth", "window", "chunk")
          .map(op => s"$$.customer.sort_by(c_custkey).map(c_custkey).$op($n)")
    } yield e
    cases.foreach { e =>
      val interp = Try(docEval(e))
      graft.plans.Lower.tryCompile(e, t => graft.core.Tables(spark, sfDir, t)) match {
        case None => () // bail → interpreter fallback owns the semantics
        case Some(df) =>
          (interp, Try(df.collect())) match {
            case (Failure(_), Failure(_)) => () // both error — consistent
            case (Failure(ex), Success(_)) =>
              fail(s"$e: interpreter errors (${ex.getMessage}) but lowering returns rows")
            case (Success(_), Failure(ex)) =>
              fail(s"$e: lowering errors where the interpreter succeeds: ${ex.getMessage}")
            case (Success(v), Success(rows)) =>
              val got = rows.map(r => toJ(r.get(0))).toVector
              v match {
                case jexpr.JArr(xs) =>
                  assert(got.length == xs.length && got.lazyZip(xs).forall(jEq), e)
                case jexpr.JNull => // scalar null ≡ empty relation (nth OOB)
                  assert(got.isEmpty || got == Vector(jexpr.JNull), e)
                case scalar =>
                  assert(got.length == 1 && jEq(got(0), scalar), e)
              }
          }
      }
    }
  }

  test("random aggregate pipelines: compiled == interpreted") {
    val rng = new scala.util.Random(fuzzSeed(42))
    (0 until 40).foreach { _ =>
      val pred = preds(rng.nextInt(preds.length))
      val dir = if (rng.nextBoolean()) "-" else ""
      val e = rng.nextInt(3) match {
        case 0 =>
          val lane = Seq("c_custkey", "c_nationkey")(rng.nextInt(2))
          val agg = Seq("count()", "sum()", "avg()", "min()", "max()")(rng.nextInt(5))
          s"$$.customer$pred.map($lane).$agg"
        case 1 =>
          s"$$.customer$pred.sort_by(${dir}c_custkey)" +
            s".find_index(c_acctbal > ${rng.nextInt(9000)})"
        case _ =>
          s"$$.customer$pred.sort_by(${dir}c_custkey)" +
            s".indices_where(c_nationkey == ${rng.nextInt(25)})"
      }
      if (e.contains("indices_where")) {
        val got = sparkRows(e).map(_.getLong(0)).toVector
        val exp = docEval(e) match {
          case jexpr.JArr(xs) => xs.map(x => JValue.asNum(x).get.toLong)
          case other          => fail(s"$e: expected array, got ${other.kind}")
        }
        assert(got == exp, e)
      } else {
        val got = Option(sparkRows(e).head.get(0))
          .map(_.asInstanceOf[Number].doubleValue)
        assert(got == asD(docEval(e)), e)
      }
    }
  }

  /** Sequence-reshape sweep: window/chunk/pairwise (array outputs) and
    * the keep/cut family (unique, take_while/drop_while) under random
    * predicates, sort directions and block sizes — the reshape ops ride
    * the carry machinery whose boundaries are exactly where a wrong
    * block size or carry dup would show. */
  test("random reshape pipelines: compiled == interpreted") {
    def toJ(v: Any): JValue = v match {
      case null                       => jexpr.JNull
      case l: Long                    => jexpr.JInt(l)
      case i: Int                     => jexpr.JInt(i.toLong)
      case d: Double                  => jexpr.JFloat(d)
      case s: String                  => jexpr.JStr(s)
      case s: scala.collection.Seq[_] => jexpr.JArr(s.map(toJ).toVector)
      case other => fail(s"unmapped Spark value $other (${other.getClass})")
    }
    val rng = new scala.util.Random(fuzzSeed(5150))
    (0 until 60).foreach { _ =>
      val pred = preds(rng.nextInt(preds.length))
      val dir = if (rng.nextBoolean()) "-" else ""
      def k = 2 + rng.nextInt(5)
      val lane = Seq("c_custkey", "c_nationkey")(rng.nextInt(2))
      val op = rng.nextInt(6) match {
        case 0 => s"window($k)"
        case 1 => s"chunk($k)"
        case 2 => "pairwise()"
        case 3 => "unique()"
        case 4 => s"take_while(c_custkey < ${20 + rng.nextInt(100)})"
        case _ => s"drop_while(c_custkey < ${20 + rng.nextInt(100)})"
      }
      // take_while/drop_while predicate references the row, so they run
      // before the lane map; array ops run on the mapped lane
      val e =
        if (op.startsWith("take_while") || op.startsWith("drop_while"))
          s"$$.customer$pred.sort_by(${dir}c_custkey).$op.map($lane)"
        else
          s"$$.customer$pred.sort_by(${dir}c_custkey).map($lane).$op"
      if (rng.nextInt(3) == 0)
        spark.conf.set("graft.lower.blockRows", (3 + rng.nextInt(9)).toString)
      else spark.conf.unset("graft.lower.blockRows")
      val got = sparkRows(e).map(r => toJ(r.get(0))).toVector
      val exp = docEval(e) match {
        case jexpr.JArr(xs) => xs
        case other          => fail(s"$e: expected array, got ${other.kind}")
      }
      assert(JValue.eq(jexpr.JArr(got), jexpr.JArr(exp)), e)
    }
    spark.conf.unset("graft.lower.blockRows")
  }
}
