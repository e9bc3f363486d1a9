package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.jexpr.{JArr, JBool, JFloat, JInt, JNull, JObj, JStr, JValue, Jetro}
import scala.collection.immutable.VectorMap

/** Differential contract for the row-scope document lowering
  * (Lower.compileDocColumn / Jetro.evalNative): the SAME per-document
  * jetro pipeline must produce identical values through (a) the native
  * columnar lowering (higher-order functions, no UDF) and (b) the
  * document interpreter over the to_json'd row — the same two-backend
  * guarantee GraftCompileSpec asserts at table scope, applied per row.
  * Data includes empty arrays, null arrays, and null elements to pin
  * the interpreter's edge semantics (sum empty→0, avg empty→null,
  * nulls skipped in aggregates, null out-of-bounds indexing).
  */
class DocColumnSpec extends SparkSpec {

  private val itemType = StructType(Seq(
    StructField("qty", LongType, nullable = true),
    StructField("price", DoubleType, nullable = true),
    StructField("tag", StringType, nullable = true)))
  private val docType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("items", ArrayType(itemType, containsNull = false), nullable = true),
    StructField("nums", ArrayType(LongType, containsNull = true), nullable = true),
    StructField("tags", ArrayType(StringType, containsNull = false), nullable = true)))

  /** Deterministic corpus: varying lengths, an empty-items row, a
    * null-items row, null elements in `nums`. */
  private lazy val docs = {
    val rows = (0 until 40).map { i =>
      val items =
        if (i == 7) null
        else (0 until i % 6).map { j =>
          Row((i * 3 + j) % 7L, ((i * 7 + j * 13) % 40) / 4.0 + 0.25,
            s"t${(i + j) % 5}")
        }
      val nums =
        if (i == 11) null
        else (0 until i % 5).map { j =>
          if ((i + j) % 6 == 0) null else java.lang.Long.valueOf((i * 5 + j) % 9L)
        }
      val tags = (0 until i % 4).map(j => s"g${(i * j) % 3}")
      Row(i.toLong, items, nums, tags)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), docType)
  }

  private def toJ(v: Any): JValue = v match {
    case null                  => JNull
    case r: Row                =>
      JObj(VectorMap.from(r.schema.fieldNames.zipWithIndex.map {
        case (n, i) => n -> toJ(r.get(i))
      }))
    case s: scala.collection.Seq[_] => JArr(s.map(toJ).toVector)
    case l: Long               => JInt(l)
    case i: Int                => JInt(i.toLong)
    case d: Double             => JFloat(d)
    case f: Float              => JFloat(f.toDouble)
    case s: String             => JStr(s)
    case b: Boolean            => JBool(b)
    case other                 => fail(s"unmapped Spark value $other (${other.getClass})")
  }

  /** Run one expression through both backends over every doc row. */
  private def differential(expr: String): Unit = {
    val doc = struct(docType.fieldNames.map(col): _*)
    val nativeCol = Jetro.evalNative(expr, doc, docType)
      .getOrElse(fail(s"did not lower: $expr"))
    val both = docs
      .select(col("id"), nativeCol.as("native"), to_json(doc).as("json"))
      .orderBy("id")
      .collect()
    val compiled = Jetro.compile(expr)
    both.foreach { r =>
      val native = toJ(r.get(1))
      // per-row interpreter ERRORS null the row in the jetro_eval UDF
      // contract (a malformed row nulls, never kills the job) — the
      // columnar lane matches that, e.g. a projected aggregate on a
      // missing field (reference: "expected array" error) lands null
      val interp =
        try compiled.evalValue(JValue.parse(r.getString(2)))
        catch { case _: jexpr.EvalException => jexpr.JNull }
      assert(jEq(native, interp),
        s"row id=${r.getLong(0)} expr=$expr native=${native.render} interp=${interp.render}")
    }
  }

  /** Structural equality with ONE numeric relaxation: JInt(n) ≡
    * JFloat(n.0) — the documented typed-lane exception (a fractional
    * column renders the interpreter's polymorphic int results, e.g. the
    * empty sum's int 0, as 0.0). */
  private def jEq(a: JValue, b: JValue): Boolean = (a, b) match {
    case (JInt(x), JFloat(y))   => x.toDouble == y
    case (JFloat(x), JInt(y))   => x == y.toDouble
    case (JArr(xs), JArr(ys))   =>
      xs.length == ys.length && xs.lazyZip(ys).forall(jEq)
    case (JObj(xs), JObj(ys))   =>
      xs.keySet == ys.keySet && xs.forall { case (k, v) => jEq(v, ys(k)) }
    case _                      => a == b
  }

  private val exprs = Seq(
    "$.id",
    "$.items.count()",
    "$.items.len()",
    "$.items.filter(qty > 2).count()",
    "$.items.count(qty > 2)",
    "$.items{qty > 2}.count()",
    "$.items.filter(qty > 2).map(qty).sum()",
    "$.items.map(qty * price).sum()",
    "$.items.map(price).avg()",
    "$.items.map(qty).min()",
    "$.items.map(qty).max()",
    "$.items.sum(qty)",
    "$.items.avg(price)",
    "$.items.first()",
    "$.items.last()",
    "$.items.nth(1)",
    "$.items.nth(-1)",
    "$.items.nth(9)",
    "$.items.map(qty).first(2)",
    "$.items.map(qty).last(2)",
    "$.items.map(qty).take(2)",
    "$.items.map(qty).skip(2)",
    "$.items.map(tag).unique()",
    "$.items.reverse().map(qty)",
    "$.items.any(qty > 4)",
    "$.items.all(qty > 0)",
    "$.items.map(qty).includes(3)",
    "$.items.map(tag).join(\",\")",
    "$.items.flat_map(tag)",
    "$.items.map({q: qty, p: price})",
    "$.items.filter(lambda x: x.qty > 2).map(lambda x: x.price).sum()",
    "$.items.filter(price > 1.0).map(qty).skip(1).take(2).sum()",
    "$.items.filter(qty > 1, price > 1.0).count()",
    "$.nums.sum()",
    "$.nums.avg()",
    "$.nums.min()",
    "$.nums.compact()",
    "$.nums[0]",
    "$.nums[-1]",
    "$.nums[1:3]",
    "$.nums[:2]",
    "$.nums[-2:]",
    "$.tags.count()",
    "$.tags.join(\"|\")",
    // array-lane sort: stable, null keys tie in place (JValue.cmp)
    "$.items.sort_by(qty).map(price)",
    "$.items.sort_by(-price).take(2).map({t: tag, p: price})",
    "$.items.sort_by(tag).map(tag)",
    "$.items.map(qty).sort()",
    "$.items.map(qty).sort(-@)",
    "$.nums.sort()",
    "$.items.sort_by(-qty).first()",
    "$.items.flat_map(tag).sort().unique()",
    // ties: key sorts are stable both ways, so tied elements keep
    // their input order under `-` and without it
    "$.items.sort_by(qty % 2).map(qty)",
    "$.items.sort_by(-(qty % 2)).map(qty)",
    "$.items.sort_by(-tag).map(tag)",
    // comparator lambdas (reference examples.rs:411): strict less-than
    // fed to a STABLE sort — `>` keeps tie order (like `-key`); the
    // flipped-operand mirror is the same sort
    "$.items.sort(lambda a, b: a.qty < b.qty).map(qty)",
    "$.items.sort(lambda a, b: a.qty % 2 < b.qty % 2).map(qty)",
    "$.items.sort(lambda a, b: a.qty % 2 > b.qty % 2).map(qty)",
    "$.items.sort_by(lambda a, b: b.price < a.price).map(price)",
    "$.items.sort_by(lambda a, b: a.tag > b.tag).map(tag)",
    // one-param key lambda
    "$.items.sort_by(lambda x: x.price).map(price)",
    // round-9 array-lane widening: pushes, splices, positional search,
    // prefix cuts, reshapes, zips, val_to_key set ops, and the numeric
    // sequence family (reference collection.rs / defs.rs)
    "$.nums.collect()",
    "$.nums.append(99)",
    "$.nums.append()", // missing arg pushes null (Builtins:267-270)
    "$.nums.prepend(0)",
    "$.tags.append(\"z\")",
    "$.nums.slice(1, 3)",
    "$.nums.slice(-2)",
    "$.nums.remove(3)",
    "$.nums.remove(lambda x: x > 4)",
    "$.tags.remove(\"g0\")",
    "$.nums.index(3)",
    "$.nums.index_of(3)",
    "$.tags.index_of(\"g1\")",
    "$.nums.indices_of(3)",
    "$.nums.find_first(@ > 4)",
    "$.items.find_first(qty > 4)",
    "$.items.find_one(lambda x: x.qty > 4)",
    "$.nums.take_while(@ < 5)",
    "$.nums.drop_while(@ < 5)",
    "$.items.take_while(qty < 5).map(qty)",
    "$.items.drop_while(qty < 5).map(tag)",
    "$.nums.window(2)",
    "$.nums.window(3)",
    "$.nums.chunk(2)",
    "$.nums.batch(3)",
    "$.nums.pairwise()",
    "$.nums.enumerate()",
    "$.tags.enumerate()",
    "$.nums.partition(@ > 3)",
    "$.items.partition(qty > 3)",
    "$.nums.zip($.nums.reverse())",
    "$.nums.zip_longest($.nums.take(1))",
    "$.tags.zip($.tags.reverse())",
    "$.nums.diff($.nums.take(2))",
    "$.nums.intersect($.nums.take(3))",
    "$.tags.union($.tags.reverse())",
    "$.nums.union($.nums)",
    "$.nums.lag()",
    "$.nums.lag(2)",
    "$.nums.lead(1)",
    "$.nums.diff_window()",
    "$.nums.pct_change()",
    "$.nums.zscore()",
    "$.nums.cum_max()",
    "$.nums.cum_min()",
    "$.nums.rolling_sum(2)",
    "$.nums.rolling_avg(3)",
    "$.nums.rolling_min(2)",
    "$.nums.rolling_max(2)",
    "$.items.map(price).rolling_sum(2)",
    "$.items.map(qty).cum_max()",
    "$.nums.compact().zscore()")

  exprs.foreach { e =>
    test(s"native == interpreter: $e") { differential(e) }
  }

  test("unsupported constructs refuse to lower (fallback contract)") {
    val doc = struct(docType.fieldNames.map(col): _*)
    for (e <- Seq(
      "$.items.sort_by(qty ?? unknown)", // untypeable sort key
      // comparator lambdas that are NOT a mirrored key comparison
      "$.items.sort_by(lambda a, b: a.qty < b.price)",
      "$.items.sort_by(lambda a, b: a.qty - b.qty < 0)",
      "$.items.map(qty).median()",      // no such builtin mapping
      "$.missing_field.count()",        // unknown root field
      "$.items.map(qty ?? unknown)",    // untypeable body
      // bare ident over a SCALAR element: interpreter = fieldOf(elem) →
      // JNull (Interp.scala:36,120) — col(id) would read the row column
      "$.nums.filter(id > 0)",
      "$.nums.map(id)",                 // same, in map position
      // cross-kind push would make a heterogeneous array no static
      // lane can hold; mixed-kind zip pairs likewise
      "$.nums.append(1.5)",
      "$.nums.zip($.tags)"))
      assert(Jetro.evalNative(e, doc, docType).isEmpty, e)
  }

  test("fuzzed per-doc chains: native == interpreter on every lowered case") {
    val rng = new scala.util.Random(fuzzSeed(20260814))
    var lowered, skipped = 0
    (0 until 80).foreach { _ =>
      def k = 1 + rng.nextInt(4)
      val filt = rng.nextInt(4) match {
        case 0 => s".filter(qty > $k)"
        case 1 => s".filter(price > $k.0)"
        case 2 => s"{qty > $k}"
        case _ => ""
      }
      val (lane, numeric) = rng.nextInt(5) match {
        case 0 => ("qty", true)
        case 1 => ("price", true)
        case 2 => ("qty * price", true)
        case 3 => (s"qty + $k", true)
        case _ => ("tag", false)
      }
      val preSort =
        if (rng.nextBoolean()) {
          val key = Seq("qty", "price", "tag")(rng.nextInt(3))
          rng.nextInt(4) match {
            case 0 => s".sort_by($key)"
            case 1 => s".sort_by(-$key)"
            // comparator lambdas: `<` asc, `>` stable desc, and the
            // operand-swapped mirror of each
            case 2 =>
              val op = if (rng.nextBoolean()) "<" else ">"
              s".sort(lambda a, b: a.$key $op b.$key)"
            case _ =>
              val op = if (rng.nextBoolean()) "<" else ">"
              s".sort(lambda a, b: b.$key $op a.$key)"
          }
        } else ""
      val post = (0 until rng.nextInt(3)).map(_ => rng.nextInt(if (numeric) 16 else 8) match {
        case 0 => s".take($k)"
        case 1 => s".skip($k)"
        case 2 => ".reverse()"
        case 3 => ".sort()"
        case 4 => ".sort(-@)"
        case 5 => ".unique()"
        case 6 => s".slice(${rng.nextInt(7) - 3})"
        case 7 => s".slice(${rng.nextInt(3)}, ${rng.nextInt(5)})"
        // numeric-lane-only arms: prefix cuts, removes, pushes and the
        // double-typed sequence family (all type-preserving or → double)
        case 8  => s".take_while(@ < $k)"
        case 9  => s".drop_while(@ < $k)"
        case 10 => s".remove($k)"
        case 11 => s".append($k)"
        case 12 => s".lag(${rng.nextInt(3)})"
        case 13 => s".lead(${rng.nextInt(3)})"
        case 14 => Seq(".diff_window()", ".pct_change()", ".zscore()",
          ".cum_max()", ".cum_min()")(rng.nextInt(5))
        case _  => Seq(s".rolling_sum(${1 + rng.nextInt(3)})",
          s".rolling_avg(${1 + rng.nextInt(3)})",
          s".rolling_min(${1 + rng.nextInt(3)})",
          s".rolling_max(${1 + rng.nextInt(3)})")(rng.nextInt(4))
      }).mkString
      val term = (if (numeric) Seq(".sum()", ".avg()", ".min()", ".max()",
          ".count()", ".len()", ".first()", ".last()", s".nth(${rng.nextInt(7) - 2})", "",
          s".index_of($k)", s".find_first(@ > $k)", ".window(2)", s".chunk(${1 + rng.nextInt(3)})",
          ".pairwise()", ".enumerate()", s".partition(@ > $k)",
          ".zip($.nums)", ".diff($.nums)", ".intersect($.nums)")(rng.nextInt(20))
        else Seq(".count()", ".len()", ".first()", ".last()",
          s".nth(${rng.nextInt(7) - 2})", ".join(\",\")", "",
          ".enumerate()", ".window(2)", ".union($.tags)")(rng.nextInt(10)))
      val e = s"$$.items$filt$preSort.map($lane)$post$term"
      val doc = struct(docType.fieldNames.map(col): _*)
      if (Jetro.evalNative(e, doc, docType).isDefined) {
        lowered += 1; differential(e)
      } else skipped += 1
    }
    // the generator must mostly produce lowerable chains, or the fuzz
    // isn't exercising the compiler
    assert(lowered > skipped, s"lowered=$lowered skipped=$skipped")
  }

  test("a `$` inside a key-lambda body is row state: filter_keys agrees or stays doc-mode") {
    val t = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("a", StructType(Seq(
        StructField("x", LongType), StructField("y", LongType)))),
      StructField("flag", BooleanType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(0L, Row(1L, 2L), true), Row(1L, Row(3L, 4L), false)), 1), t)
    val doc = struct(t.fieldNames.map(col): _*)
    val expr = "$.a.filter_keys(lambda k: k == \"x\" or $.flag).keys()"
    val interp = df.orderBy("id").select(Jetro.jetroEval(expr, to_json(doc)))
      .collect().toSeq.map(r => JValue.parse(r.getString(0)))
    assert(interp == Seq(JArr(Vector(JStr("x"), JStr("y"))), JArr(Vector(JStr("x")))))
    Jetro.evalNative(expr, doc, t).foreach { native =>
      assert(df.orderBy("id").select(native).collect().toSeq.map(r => toJ(r.get(0))) == interp)
    }
  }

  test("native doc pipeline plan contains no UDF and stays codegen'd") {
    val doc = struct(docType.fieldNames.map(col): _*)
    val df = docs.select(
      Jetro.evalNative("$.items.filter(qty > 2).map(qty * price).sum()",
        doc, docType).get.as("v"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"), plan)
    assert(plan.contains("WholeStageCodegen") || plan.contains("Project"), plan)
  }
}
