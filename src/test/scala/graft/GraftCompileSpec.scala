package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import graft.jexpr.{JValue, Jetro}

/** Relational-lowering contract (SURVEY §7.0/§7.2): the SAME jetro
  * expression produces identical results through (a) Lower → Catalyst
  * DataFrame plan and (b) the document-mode interpreter over the table
  * collected as one JSON document. This is the two-backend differential
  * the reference guarantees across its own backends (README.md:269-271).
  */
class GraftCompileSpec extends NoCachedLeftovers with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("graft-compile-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Document-mode answer: whole table as `$.<table>` in one doc. */
  private def docAnswer(expr: String): JValue = {
    val table = expr.split("[.{\\[]")(1).takeWhile(c => c.isLetterOrDigit || c == '_')
    val rows = graft.core.Tables(spark, sfDir, table).toJSON.collect()
    Jetro.compile(expr).evalValue(JValue.parse(s"""{"$table": [${rows.mkString(",")}]}"""))
  }

  test("trace_path lowers with document-order paths and matches the interpreter") {
    val expr = """$.customer.sort_by(c_custkey).map({name: c_name, seg: c_mktsegment}).trace_path()"""
    val compiled = graft.plans.Lower
      .compile(expr, t => graft.core.Tables(spark, sfDir, t))
    val got = compiled.collect().map(r => (r.getString(0), r.getString(1))).toVector
    val exp = docAnswer(expr) match {
      case jexpr.JArr(xs) => xs.map { o =>
        def s(k: String) = jexpr.Interp.fieldOf(o, k) match {
          case jexpr.JStr(v) => v
          case other         => fail(s"expected string $k, got ${other.kind}")
        }
        (s("path"), s("value"))
      }
      case other => fail(s"expected array, got ${other.kind}")
    }
    assert(got == exp && got.nonEmpty)
    // heterogeneous leaves refuse to lower (doc mode keeps them typed)
    assert(graft.plans.Lower.tryCompile(
      """$.customer.sort_by(c_custkey).map({k: c_custkey, name: c_name}).trace_path()""",
      t => graft.core.Tables(spark, sfDir, t)).isEmpty)
    // no sort, no document order: refuses rather than fabricating one
    assert(graft.plans.Lower.tryCompile(
      """$.region.map({name: r_name}).trace_path()""",
      t => graft.core.Tables(spark, sfDir, t)).isEmpty)
  }

  test("walk/walk_pre lower kind-guarded scalar transforms") {
    // string guard after a sort + shape: order must ride on pre-walk
    // values (doc mode sorted before walking)
    val e1 = """$.customer.sort_by(-c_custkey).map({name: c_name, seg: c_mktsegment})
               |.walk(lambda x: x.lower() if x is string else x)""".stripMargin
    val got1 = graft.plans.Lower
      .compile(e1, t => graft.core.Tables(spark, sfDir, t))
      .collect().map(r => (r.getString(0), r.getString(1))).toVector
    val exp1 = docAnswer(e1) match {
      case jexpr.JArr(xs) => xs.map { o =>
        def s(k: String) = jexpr.Interp.fieldOf(o, k) match {
          case jexpr.JStr(v) => v; case other => fail(s"$k: ${other.kind}")
        }
        (s("name"), s("seg"))
      }
      case other => fail(s"expected array, got ${other.kind}")
    }
    assert(got1 == exp1 && got1.nonEmpty)
    // number guard through walk_pre (scalar transform: pre == post)
    val e2 = """$.region.map({k: r_regionkey, n: r_name})
               |.walk_pre(lambda v: v * 10 if v is number else v)""".stripMargin
    val got2 = graft.plans.Lower
      .compile(e2, t => graft.core.Tables(spark, sfDir, t))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val exp2 = docAnswer(e2) match {
      case jexpr.JArr(xs) => xs.map { o =>
        (JValue.asNum(jexpr.Interp.fieldOf(o, "k")).get.toLong,
         jexpr.Interp.fieldOf(o, "n") match { case jexpr.JStr(v) => v; case _ => fail() })
      }.toSet
      case other => fail(s"expected array, got ${other.kind}")
    }
    assert(got2 == exp2 && got2.nonEmpty)
    // non-guarded body / container kinds keep the interpreter
    assert(!Graft.lowers(spark, sfDir,
      "$.region.walk(lambda x: x.upper())"))
    assert(!Graft.lowers(spark, sfDir,
      "$.region.walk(lambda x: x if x is array else x)"))
  }

  test("walk recurses through arrays and nested structs") {
    val df = spark
      .createDataFrame(Seq((1L, Seq(1L, 2L), "a"), (2L, Seq(3L), "b")))
      .toDF("id", "xs", "tag")
    val expr = "$.t.walk(lambda x: x * 10 if x is number else x)"
    val got = graft.plans.Lower.compile(expr, _ => df)
      .collect().map(r =>
        (r.getLong(0), r.getSeq[Long](1).toVector, r.getString(2))).toSet
    assert(got == Set((10L, Vector(10L, 20L), "a"), (20L, Vector(30L), "b")))
    // same answer as the interpreter over the equivalent document
    val doc = """{"t":[{"id":1,"xs":[1,2],"tag":"a"},{"id":2,"xs":[3],"tag":"b"}]}"""
    val exp = Jetro.compile(expr).evalValue(JValue.parse(doc)).render
    assert(exp ==
      """[{"id":10,"xs":[10,20],"tag":"a"},{"id":20,"xs":[30],"tag":"b"}]""")
  }

  test("deep descent lowers through arrays of structs in document pre-order") {
    // matches at three sites per row — a top-level struct, elements of
    // an array of structs, and an array nested INSIDE a matched parent —
    // interleaved exactly as the interpreter's walk emits them
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, named_struct('v', 'a0', 'deep', named_struct('v', 'a1')),
        |   array(named_struct('v', 'a2'), named_struct('v', 'a3'))),
        |  (2L, named_struct('v', 'b0', 'deep', named_struct('v', 'b1')),
        |   array(named_struct('v', 'b2')))
        |AS t(id, head, kids)""".stripMargin)
    val expr = "$.t.sort_by(id)..v"
    val got = graft.plans.Lower.compile(expr, _ => df)
      .collect().map(_.getString(0)).toVector
    val doc =
      """{"t":[{"id":1,"head":{"v":"a0","deep":{"v":"a1"}},
        |       "kids":[{"v":"a2"},{"v":"a3"}]},
        |      {"id":2,"head":{"v":"b0","deep":{"v":"b1"}},
        |       "kids":[{"v":"b2"}]}]}""".stripMargin.replaceAll("\n\\s*", "")
    val exp = Jetro.compile(expr).evalValue(JValue.parse(doc)) match {
      case jexpr.JArr(xs) => xs.map { case jexpr.JStr(s) => s; case o => fail(o.kind) }
      case other          => fail(s"expected array, got ${other.kind}")
    }
    assert(got == exp && got == Vector("a0", "a1", "a2", "a3", "b0", "b1", "b2"))
    // null elements and null containers contribute nothing (absent from
    // the walked document), matching the interpreter over the same doc
    val dfN = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, array(named_struct('v', 'x'), named_struct('v', CAST(NULL AS STRING)))),
        |  (2L, CAST(NULL AS ARRAY<STRUCT<v: STRING>>))
        |AS t(id, kids)""".stripMargin)
    val gotN = graft.plans.Lower.compile("$.t.sort_by(id)..v", _ => dfN)
      .collect().map(_.getString(0)).toVector
    assert(gotN == Vector("x"))
    // matches under map VALUES have no static key order: refuse, and the
    // interpreter path stays the designed fallback
    val dfM = spark.sql(
      "SELECT * FROM VALUES (1L, map('k', named_struct('v', 'm'))) AS t(id, m)")
    assert(graft.plans.Lower.tryCompile("$.t..v", _ => dfM).isEmpty)
  }

  test("deep shape/like lower through arrays of structs") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, array(named_struct('sku', 's1', 'qty', 2L),
        |             named_struct('sku', 's2', 'qty', 5L))),
        |  (2L, array(named_struct('sku', 's3', 'qty', 1L)))
        |AS t(id, items)""".stripMargin)
    // the matched-object stream lands as a ROW lane (fields = columns),
    // so downstream stages keep lowering — here a filter + map over the
    // match results compile through
    val gotShape = graft.plans.Lower
      .compile("$.t.sort_by(id)..shape({sku, qty}).filter(qty > 1).map(sku)", _ => df)
      .collect().map(_.getString(0)).toVector
    assert(gotShape == Vector("s1", "s2"))
    val gotLike = graft.plans.Lower
      .compile("""$.t.sort_by(id)..like({sku: "s2"})""", _ => df)
      .select("qty")
      .collect().map(_.getLong(0)).toVector
    assert(gotLike == Vector(5L))
    // interpreter parity over the equivalent document
    val doc =
      """{"t":[{"id":1,"items":[{"sku":"s1","qty":2},{"sku":"s2","qty":5}]},
        |      {"id":2,"items":[{"sku":"s3","qty":1}]}]}"""
        .stripMargin.replaceAll("\n\\s*", "")
    val exp = Jetro.compile("$.t.sort_by(id)..shape({sku, qty}).filter(qty > 1).map(sku)")
      .evalValue(JValue.parse(doc)).render
    assert(exp == """["s1","s2"]""")
  }

  test("string fns over statically non-string lanes bail (doc mode keeps the receiver)") {
    // Spark's upper() would cast-and-transform the int; the interpreter
    // returns it untouched — so the lowering must refuse, and the
    // fallback must produce the interpreter's answer
    val e = "$.region.sort_by(r_regionkey).map({v: r_regionkey.upper()})"
    assert(graft.plans.Lower.tryCompile(
      e, t => graft.core.Tables(spark, sfDir, t)).isEmpty)
    val got = Graft.query(spark, sfDir, e).collect().map(_.getLong(0)).toVector
    assert(got == Vector(0L, 1L, 2L, 3L, 4L))
    // string lanes still lower
    assert(graft.plans.Lower.tryCompile(
      "$.region.map({v: r_name.upper()})",
      t => graft.core.Tables(spark, sfDir, t)).nonEmpty)
  }

  test("headline pipeline compiles and matches the interpreter") {
    val expr = """$.orders{o_orderstatus == "O"}.sort_by(-o_orderkey).take(3).map({id: o_orderkey, total: o_totalprice})"""
    val compiled = graft.plans.Lower
      .compile(expr, t => graft.core.Tables(spark, sfDir, t))
    val got = compiled.collect().map(r => (r.getLong(0), r.getDouble(1))).toVector
    val exp = docAnswer(expr) match {
      case jexpr.JArr(xs) => xs.map { o =>
        (JValue.asNum(jexpr.Interp.fieldOf(o, "id")).get.toLong,
         JValue.asNum(jexpr.Interp.fieldOf(o, "total")).get)
      }
      case other => fail(s"expected array, got ${other.kind}")
    }
    assert(got == exp && got.length == 3)
  }

  test("chains ending AT sort_by keep the final order (lazy sort)") {
    // sort_by no longer materialises eagerly; materialize() must apply
    // the final order — for plain-ident AND computed keys
    for (expr <- Seq(
      "$.region.sort_by(-r_regionkey).map(r_regionkey)",
      "$.region.sort_by(-(r_regionkey * 7)).map(r_regionkey)",
      "$.customer.sort_by(-c_acctbal).map(c_custkey)")) {
      val got = graft.plans.Lower
        .compile(expr, t => graft.core.Tables(spark, sfDir, t))
        .collect().map(_.getAs[Number](0).longValue).toVector
      val exp = docAnswer(expr) match {
        case jexpr.JArr(xs) => xs.map(x => JValue.asNum(x).get.toLong)
        case other          => fail(s"expected array, got ${other.kind}")
      }
      assert(got == exp, expr)
    }
    // ending AT the sort (no map): rows come back in the computed-key
    // order; key is injective over the corpus so the order is total
    val e = "$.customer.sort_by(-(c_custkey * 3 % 1009))"
    val got = graft.plans.Lower
      .compile(e, t => graft.core.Tables(spark, sfDir, t))
      .collect().map(_.getAs[Long]("c_custkey")).toVector
    val exp = docAnswer(e) match {
      case jexpr.JArr(xs) => xs.map(o =>
        JValue.asNum(jexpr.Interp.fieldOf(o, "c_custkey")).get.toLong)
      case other => fail(s"expected array, got ${other.kind}")
    }
    assert(got == exp, e)
  }

  test("comparator-lambda sort lowers via the mirrored-key rewrite") {
    // `λ a,b: K(a) < K(b)` compiles to the key form (and `>` / the
    // operand-swapped mirror to descending); injective keys so the
    // table's tie order (undefined) never decides the output
    for (expr <- Seq(
      "$.region.sort(lambda a, b: a.r_regionkey > b.r_regionkey).map(r_regionkey)",
      "$.region.sort(lambda a, b: b.r_regionkey < a.r_regionkey).map(r_regionkey)",
      "$.customer.sort(lambda a, b: a.c_custkey * 3 % 1009 < b.c_custkey * 3 % 1009).map(c_custkey)",
      "$.customer.sort_by(lambda x: x.c_custkey * 3 % 1009).map(c_custkey)")) {
      assert(Graft.lowers(spark, sfDir, expr), expr)
      val got = graft.plans.Lower
        .compile(expr, t => graft.core.Tables(spark, sfDir, t))
        .collect().map(_.getAs[Number](0).longValue).toVector
      val exp = docAnswer(expr) match {
        case jexpr.JArr(xs) => xs.map(x => JValue.asNum(x).get.toLong)
        case other          => fail(s"expected array, got ${other.kind}")
      }
      assert(got == exp, expr)
    }
    // non-mirrored comparator bodies have no key form → doc fallback
    assert(!Graft.lowers(spark, sfDir,
      "$.region.sort(lambda a, b: a.r_regionkey < b.r_name)"))
    assert(!Graft.lowers(spark, sfDir,
      "$.region.sort(lambda a, b: a.r_regionkey - b.r_regionkey < 0)"))
  }

  test("filter + count matches") {
    val expr = "$.lineitem.filter(l_quantity > 45 and l_discount < 0.02).count()"
    val compiled = graft.plans.Lower
      .compile(expr, t => graft.core.Tables(spark, sfDir, t))
    val got = compiled.collect()(0).getLong(0)
    assert(JValue.asNum(docAnswer(expr)).get.toLong == got && got > 0)
  }

  test("map + sum matches (empty sum would be 0)") {
    val expr = "$.orders.map(o_totalprice).sum()"
    val compiled = graft.plans.Lower
      .compile(expr, t => graft.core.Tables(spark, sfDir, t))
    val got = compiled.collect()(0).getDouble(0)
    assert(math.abs(JValue.asNum(docAnswer(expr)).get - got) < 1e-4)
  }

  test("count_by matches as a key→n map") {
    val expr = "$.customer.count_by(c_mktsegment)"
    val compiled = graft.plans.Lower
      .compile(expr, t => graft.core.Tables(spark, sfDir, t))
    val got = compiled.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exp = docAnswer(expr) match {
      case jexpr.JObj(fs) => fs.map { case (k, v) => k -> JValue.asNum(v).get.toLong }.toMap
      case other          => fail(s"expected object, got ${other.kind}")
    }
    assert(got == exp && got.nonEmpty)
  }

  test("scalar functions and f-strings lower") {
    val expr = """$.supplier.sort_by(s_suppkey).take(2).map({k: s_suppkey, up: s_name.upper(), tag: f"s{s_suppkey}"})"""
    val compiled = graft.plans.Lower
      .compile(expr, t => graft.core.Tables(spark, sfDir, t))
    val rows = compiled.collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == rows(0).getString(1).toUpperCase)
    assert(rows(0).getString(2) == s"s${rows(0).getLong(0)}")
  }

  test("unsupported constructs fall back to document mode") {
    // group_shape has no lowering — Graft.query must still answer.
    val expr = """$.region.map({name: r_name}).sort_by(name).take(2)"""
    assert(Graft.lowers(spark, sfDir, expr))
    val hard = "$.region.map(r_name).unique_by(@)" // `@` key: not lowerable
    assert(!Graft.lowers(spark, sfDir, hard))
    val out = Graft.query(spark, sfDir, hard).collect()
    assert(out.length == 5) // five distinct region names
  }

  test("equi_join lowers to an inner hash join") {
    val expr = """$.nation.equi_join($.region, n_regionkey, r_regionkey).map({n: n_name, r: r_name})"""
    val compiled = graft.plans.Lower
      .compile(expr, t => graft.core.Tables(spark, sfDir, t))
    val rows = compiled.collect()
    assert(rows.length == 25) // every nation joins exactly one region
    assert(compiled.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("take_while / drop_while after sort lower via broadcast key cut, no window") {
    val tw = """$.nation.sort_by(n_nationkey).take_while(n_nationkey < 7).map(n_nationkey)"""
    val dw = """$.nation.sort_by(n_nationkey).drop_while(n_nationkey < 7).map(n_nationkey)"""
    def plan(e: String) = graft.plans.Lower
      .compile(e, t => graft.core.Tables(spark, sfDir, t))
    def run(e: String) =
      plan(e).collect().map(_.getAs[Number](0).longValue).toVector
    assert(run(tw) == (0L until 7L).toVector)
    assert(run(dw).sorted == (7L until 25L).toVector)
    // scale contract: the cut is an aggregate + broadcast join — there
    // must be NO window (an unpartitioned window is a one-task barrier)
    val p = plan(tw).queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    // descending order flips the cut direction
    val desc = """$.nation.sort_by(-n_nationkey).take_while(n_nationkey > 20).map(n_nationkey)"""
    assert(run(desc) == Vector(24L, 23L, 22L, 21L))
    // composite same-direction sort cuts on the lexicographic struct key
    val comp2 = """$.nation.sort_by(n_regionkey, n_nationkey).take_while(n_regionkey < 2).map(n_nationkey)"""
    val expComp = docAnswer(comp2) match {
      case jexpr.JArr(xs) => xs.map(x => JValue.asNum(x).get.toLong)
      case other          => fail(s"expected array, got ${other.kind}")
    }
    assert(run(comp2) == expComp && expComp.length == 10)
    // mixed directions can't struct-compare → doc fallback
    assert(!Graft.lowers(spark, sfDir,
      "$.nation.sort_by(n_regionkey, -n_nationkey).take_while(n_regionkey < 2)"))
    // and without a sort in force it must NOT lower
    assert(!Graft.lowers(spark, sfDir, "$.nation.take_while(n_nationkey < 7)"))
  }

  test("jetro truthiness lowers by static type; open slice; analysis fallback") {
    // string predicate: non-empty string is truthy (vm truthy), NOT an
    // ANSI boolean cast (which raises at runtime on Spark 4)
    val strPred = "$.region.filter(r_name).count()"
    val compiled = graft.plans.Lower
      .compile(strPred, t => graft.core.Tables(spark, sfDir, t))
    val got = compiled.collect()(0).getLong(0)
    assert(JValue.asNum(docAnswer(strPred)).get.toLong == got && got == 5)
    // numeric predicate: value ≠ 0 is truthy
    val numPred = "$.nation.filter(n_regionkey).count()"
    val gotN = graft.plans.Lower
      .compile(numPred, t => graft.core.Tables(spark, sfDir, t))
      .collect()(0).getLong(0)
    assert(JValue.asNum(docAnswer(numPred)).get.toLong == gotN && gotN == 20)
    // open-ended slice must not overflow to a negative limit
    val open = graft.plans.Lower
      .compile("$.nation.sort_by(n_nationkey)[2:]", t => graft.core.Tables(spark, sfDir, t))
    assert(open.count() == 23)
    // an unresolvable plan falls back to doc mode instead of surfacing
    // AnalysisException through tryCompile
    assert(!Graft.lowers(spark, sfDir, "$.region.filter(no_such_col > 1)"))
  }

  test("last / nth lower on the active order and match the interpreter") {
    def runIds(e: String): Vector[Long] = graft.plans.Lower
      .compile(e, t => graft.core.Tables(spark, sfDir, t))
      .collect().map(_.getAs[Number](0).longValue).toVector
    assert(runIds("$.nation.sort_by(n_nationkey).map({k: n_nationkey}).last(3)")
      == Vector(22L, 23L, 24L))
    assert(runIds("$.nation.sort_by(n_nationkey).map({k: n_nationkey}).nth(3)")
      == Vector(3L))
    assert(runIds("$.nation.sort_by(n_nationkey).map({k: n_nationkey}).nth(-1)")
      == Vector(24L))
    // no order in force → fallback
    assert(!Graft.lowers(spark, sfDir, "$.nation.last()"))
  }

  test("sequence window family lowers and matches the interpreter") {
    val exprs = Seq(
      "$.nation.sort_by(n_nationkey).map(n_nationkey).rolling_sum(3)",
      "$.nation.sort_by(n_nationkey).map(n_nationkey).rolling_avg(4)",
      "$.nation.sort_by(n_nationkey).map(n_nationkey).rolling_min(2)",
      "$.nation.sort_by(-n_nationkey).map(n_nationkey).lag(2)",
      "$.nation.sort_by(n_nationkey).map(n_nationkey).lead(1)",
      "$.nation.sort_by(n_nationkey).map(n_nationkey).diff_window()",
      "$.nation.sort_by(n_nationkey).map(n_nationkey).pct_change()",
      "$.nation.sort_by(n_nationkey).map(n_nationkey).cum_max()",
      "$.nation.sort_by(n_nationkey).map(n_nationkey).accumulate(lambda a, x: a + x)",
      "$.nation.sort_by(n_nationkey).map(n_nationkey).accumulate(lambda a, x: a + x, 100)")
    exprs.foreach { e =>
      val got = graft.plans.Lower
        .compile(e, t => graft.core.Tables(spark, sfDir, t))
        .collect()
        .map(r => Option(r.get(0)).map(_.asInstanceOf[Number].doubleValue))
        .toVector
      val exp = docAnswer(e) match {
        case jexpr.JArr(xs) => xs.map {
          case jexpr.JFloat(f) => Some(f)
          case jexpr.JInt(n)   => Some(n.toDouble)
          case jexpr.JNull     => None
          case other           => fail(s"$e: unexpected ${other.kind}")
        }
        case other => fail(s"$e: expected array, got ${other.kind}")
      }
      assert(got == exp, e)
    }
  }

  test("blocked windows cross block boundaries correctly (tiny blocks)") {
    // shrink the block size so the boundary-carry path fires on 25-150
    // row frames — every frame that spans a block edge must see the
    // carried rows from the neighbouring block
    spark.conf.set("graft.lower.blockRows", "7")
    try {
      val exprs = Seq(
        "$.customer.sort_by(c_custkey).map(c_custkey).rolling_sum(5)",
        "$.customer.sort_by(-c_custkey).map(c_custkey).rolling_max(3)",
        "$.customer.sort_by(c_custkey).map(c_custkey).lag(6)",
        "$.customer.sort_by(c_custkey).map(c_custkey).lead(4)",
        "$.customer.sort_by(c_custkey).map(c_custkey).diff_window()",
        "$.customer.sort_by(c_custkey).map(c_custkey).pct_change()",
        "$.customer.sort_by(c_custkey).map(c_custkey).cum_min()",
        "$.customer.sort_by(c_custkey).map(c_custkey).accumulate(lambda a, x: a + x, 7)")
      exprs.foreach { e =>
        val got = graft.plans.Lower
          .compile(e, t => graft.core.Tables(spark, sfDir, t))
          .collect()
          .map(r => Option(r.get(0)).map(_.asInstanceOf[Number].doubleValue))
          .toVector
        val exp = docAnswer(e) match {
          case jexpr.JArr(xs) => xs.map {
            case jexpr.JFloat(f) => Some(f)
            case jexpr.JInt(n)   => Some(n.toDouble)
            case jexpr.JNull     => None
            case other           => fail(s"$e: unexpected ${other.kind}")
          }
          case other => fail(s"$e: expected array, got ${other.kind}")
        }
        assert(got == exp, e)
      }
      // the reshapers ride the same machinery
      val pw = "$.customer.sort_by(c_custkey).map(c_custkey).pairwise()"
      val gotPw = graft.plans.Lower
        .compile(pw, t => graft.core.Tables(spark, sfDir, t))
        .collect().map(_.getSeq[Any](0).map(_.asInstanceOf[Number].longValue).toVector)
        .toVector
      val expPw = docAnswer(pw) match {
        case jexpr.JArr(xs) => xs.map {
          case jexpr.JArr(p) => p.map(x => JValue.asNum(x).get.toLong)
          case other         => fail(s"unexpected ${other.kind}")
        }
        case other => fail(s"unexpected ${other.kind}")
      }
      assert(gotPw == expPw)
      val wn = "$.customer.sort_by(c_custkey).map(c_custkey).window(6)"
      val gotWn = graft.plans.Lower
        .compile(wn, t => graft.core.Tables(spark, sfDir, t))
        .collect().map(_.getSeq[Any](0).map(_.asInstanceOf[Number].longValue).toVector)
        .toVector
      val expWn = docAnswer(wn) match {
        case jexpr.JArr(xs) => xs.map {
          case jexpr.JArr(p) => p.map(x => JValue.asNum(x).get.toLong)
          case other         => fail(s"unexpected ${other.kind}")
        }
        case other => fail(s"unexpected ${other.kind}")
      }
      assert(gotWn == expWn && gotWn.forall(_.length == 6))
    } finally spark.conf.unset("graft.lower.blockRows")
  }

  test("take/skip/slice after a blocked window re-apply the order") {
    // the blocked window family leaves the frame hash-partitioned by
    // block, NOT globally ordered — a bare limit would grab arbitrary
    // rows; take/skip/first/slice must sort by the active order first
    spark.conf.set("graft.lower.blockRows", "5")
    try {
      val exprs = Seq(
        "$.customer.sort_by(c_custkey).map(c_custkey).cum_max().take(7)",
        "$.customer.sort_by(c_custkey).map(c_custkey).rolling_sum(3).skip(140)",
        "$.customer.sort_by(-c_custkey).map(c_custkey).lag(2).first(4)",
        "$.customer.sort_by(c_custkey).map(c_custkey).accumulate(lambda a, x: a + x)[3:9]")
      exprs.foreach { e =>
        val got = graft.plans.Lower
          .compile(e, t => graft.core.Tables(spark, sfDir, t))
          .collect()
          .map(r => Option(r.get(0)).map(_.asInstanceOf[Number].doubleValue))
          .toVector
        val exp = docAnswer(e) match {
          case jexpr.JArr(xs) => xs.map {
            case jexpr.JFloat(f) => Some(f)
            case jexpr.JInt(n)   => Some(n.toDouble)
            case jexpr.JNull     => None
            case other           => fail(s"$e: unexpected ${other.kind}")
          }
          case other => fail(s"$e: expected array, got ${other.kind}")
        }
        assert(got == exp, e)
      }
    } finally spark.conf.unset("graft.lower.blockRows")
  }

  test("find_index / indices_where lower via global row numbers") {
    val fi = "$.nation.sort_by(-n_nationkey).find_index(n_regionkey == 2)"
    val gotFi = graft.plans.Lower
      .compile(fi, t => graft.core.Tables(spark, sfDir, t))
      .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Number].longValue)).head
    val expFi = docAnswer(fi) match {
      case jexpr.JInt(n) => Some(n)
      case jexpr.JNull   => None
      case other         => fail(s"unexpected ${other.kind}")
    }
    assert(gotFi == expFi)
    // no match → null (min over empty)
    val none = "$.nation.sort_by(n_nationkey).find_index(n_regionkey == 99)"
    assert(graft.plans.Lower
      .compile(none, t => graft.core.Tables(spark, sfDir, t))
      .collect().head.isNullAt(0))
    val iw = "$.nation.sort_by(-n_nationkey).indices_where(n_regionkey == 2)"
    val gotIw = graft.plans.Lower
      .compile(iw, t => graft.core.Tables(spark, sfDir, t))
      .collect().map(_.getLong(0)).toVector
    val expIw = docAnswer(iw) match {
      case jexpr.JArr(xs) => xs.map(x => JValue.asNum(x).get.toLong)
      case other          => fail(s"unexpected ${other.kind}")
    }
    assert(gotIw == expIw && gotIw.nonEmpty)
    // unordered → doc fallback
    assert(!Graft.lowers(spark, sfDir, "$.nation.find_index(n_regionkey == 2)"))
  }

  test("unique_by keeps FIRST and index_by keeps LAST under the active order") {
    def run(e: String) = graft.plans.Lower
      .compile(e, t => graft.core.Tables(spark, sfDir, t))
    // nation: 5 rows per region; the surviving row is observable through
    // n_nationkey, so keep-first vs arbitrary is a real distinction
    def runPairs(e: String): Map[Long, Long] = run(e).collect()
      .map(r => r.getAs[Number]("n_regionkey").longValue ->
        r.getAs[Number]("n_nationkey").longValue).toMap
    def docPairs(e: String): Map[Long, Long] = docAnswer(e) match {
      case jexpr.JArr(xs) => xs.map(o =>
        JValue.asNum(jexpr.Interp.fieldOf(o, "n_regionkey")).get.toLong ->
          JValue.asNum(jexpr.Interp.fieldOf(o, "n_nationkey")).get.toLong).toMap
      case jexpr.JObj(fs) => fs.values.map(o =>
        JValue.asNum(jexpr.Interp.fieldOf(o, "n_regionkey")).get.toLong ->
          JValue.asNum(jexpr.Interp.fieldOf(o, "n_nationkey")).get.toLong).toMap
      case other => fail(s"unexpected ${other.kind}")
    }
    val asc  = "$.nation.sort_by(n_nationkey).unique_by(n_regionkey)"
    val desc = "$.nation.sort_by(-n_nationkey).unique_by(n_regionkey)"
    assert(runPairs(asc) == docPairs(asc))
    assert(runPairs(desc) == docPairs(desc))
    assert(runPairs(asc) != runPairs(desc)) // the order genuinely decides
    val idx = "$.nation.sort_by(n_nationkey).index_by(n_regionkey)"
    assert(runPairs(idx) == docPairs(idx))     // last wins
    assert(runPairs(idx) == runPairs(desc))    // last(asc) == first(desc)
    // without an order the survivor is unobservable → doc fallback
    assert(!Graft.lowers(spark, sfDir, "$.nation.unique_by(n_regionkey)"))
    assert(!Graft.lowers(spark, sfDir, "$.nation.index_by(n_regionkey)"))
    // keep-first unique over values after a projection under a live sort
    val uq = "$.nation.sort_by(n_nationkey).map(n_regionkey).unique()"
    val gotU = run(uq).collect().map(_.getAs[Number](0).longValue).toVector
    val expU = docAnswer(uq) match {
      case jexpr.JArr(xs) => xs.map(x => JValue.asNum(x).get.toLong)
      case other          => fail(s"unexpected ${other.kind}")
    }
    assert(gotU == expU && gotU.length == 5)
  }

  test("sorted-dedup fusion inputs: same-key sort+unique pairs match the interpreter") {
    // The reference fuses sort(k)+unique_by(k) / sort()+unique() into an
    // internal SortedDedup stage (reference exec/pipeline/ir.rs:748-758)
    // — a single-pass adjacent dedup. That is an EXECUTION strategy; the
    // observable semantics are exactly distinct-then-sort (stable sort ⇒
    // the kept representative is the document-order first), which is what
    // the lowering emits and Catalyst executes with a partial-aggregable
    // first() — no single-pass scan needed on a distributed table.
    def run(e: String) = graft.plans.Lower
      .compile(e, t => graft.core.Tables(spark, sfDir, t))
    val keyed = "$.nation.sort_by(n_regionkey).unique_by(n_regionkey)"
    val gotK = run(keyed).collect()
      .map(r => (r.getAs[Number]("n_regionkey").longValue,
        r.getAs[Number]("n_nationkey").longValue)).toVector
    val expK = docAnswer(keyed) match {
      case jexpr.JArr(xs) => xs.map(o =>
        (JValue.asNum(jexpr.Interp.fieldOf(o, "n_regionkey")).get.toLong,
          JValue.asNum(jexpr.Interp.fieldOf(o, "n_nationkey")).get.toLong)).toVector
      case other => fail(s"unexpected ${other.kind}")
    }
    assert(gotK == expK && gotK.length == 5)
    val bare = "$.nation.map(n_regionkey).sort().unique()"
    val gotB = run(bare).collect().map(_.getAs[Number](0).longValue).toVector
    val expB = docAnswer(bare) match {
      case jexpr.JArr(xs) => xs.map(x => JValue.asNum(x).get.toLong)
      case other          => fail(s"unexpected ${other.kind}")
    }
    assert(gotB == expB && gotB == Vector(0L, 1L, 2L, 3L, 4L))
    // non-atomic lanes tie every pair in doc mode (JValue.cmp → 0), so
    // bare sort() over them must fall back, not impose a Spark order
    assert(!Graft.lowers(spark, sfDir,
      "$.nation.map(n_name.split(\" \")).sort()"))
  }

  test("enumerate / pairwise / window / chunk lower and match the interpreter") {
    def run(e: String) = graft.plans.Lower
      .compile(e, t => graft.core.Tables(spark, sfDir, t))
    val en = "$.nation.sort_by(-n_nationkey).map(n_nationkey).enumerate()"
    val gotEn = run(en).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toVector
    val expEn = docAnswer(en) match {
      case jexpr.JArr(xs) => xs.map { o =>
        (JValue.asNum(jexpr.Interp.fieldOf(o, "index")).get.toLong,
         JValue.asNum(jexpr.Interp.fieldOf(o, "value")).get.toLong)
      }
      case other => fail(s"unexpected ${other.kind}")
    }
    assert(gotEn == expEn && gotEn.length == 25)
    def runArrays(e: String): Vector[Vector[Long]] = run(e).collect()
      .map(_.getSeq[Any](0).map(_.asInstanceOf[Number].longValue).toVector)
      .toVector
    def docArrays(e: String): Vector[Vector[Long]] = docAnswer(e) match {
      case jexpr.JArr(xs) => xs.map {
        case jexpr.JArr(ys) => ys.map(y => JValue.asNum(y).get.toLong)
        case other          => fail(s"unexpected ${other.kind}")
      }
      case other => fail(s"unexpected ${other.kind}")
    }
    for (e <- Seq(
      "$.nation.sort_by(n_nationkey).map(n_nationkey).pairwise()",
      "$.nation.sort_by(n_nationkey).map(n_nationkey).window(3)",
      "$.nation.sort_by(-n_nationkey).map(n_nationkey).chunk(4)",
      "$.nation.sort_by(n_nationkey).map(n_nationkey).chunk(7)"))
      assert(runArrays(e) == docArrays(e), e)
    // all of these are order-dependent → doc fallback without a sort
    for (e <- Seq("$.nation.enumerate()", "$.nation.map(n_nationkey).pairwise()",
      "$.nation.map(n_nationkey).window(3)", "$.nation.map(n_nationkey).chunk(4)"))
      assert(!Graft.lowers(spark, sfDir, e), e)
  }

  test("zscore lowers as aggregate + broadcast, matches to 9 decimals") {
    val e = "$.nation.sort_by(n_nationkey).map(n_nationkey).zscore()"
    val df = graft.plans.Lower.compile(e, t => graft.core.Tables(spark, sfDir, t))
    val got = df.collect().map(_.getAs[Number](0).doubleValue).toVector
    val exp = docAnswer(e) match {
      case jexpr.JArr(xs) => xs.map(x => JValue.asNum(x).get)
      case other          => fail(s"unexpected ${other.kind}")
    }
    assert(got.length == exp.length &&
      got.zip(exp).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    // scale contract: two-pass aggregate + broadcast join, NO window
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("lowered group_by arrays follow the active order") {
    val e = "$.nation.sort_by(-n_nationkey).group_by(n_regionkey)"
    val got = graft.plans.Lower
      .compile(e, t => graft.core.Tables(spark, sfDir, t))
      .collect().map { r =>
        r.getAs[Number]("key").longValue ->
          r.getSeq[org.apache.spark.sql.Row](1)
            .map(_.getAs[Number]("n_nationkey").longValue).toVector
      }.toMap
    val exp = docAnswer(e) match {
      case jexpr.JObj(fs) => fs.map { case (k, v) => k.toLong -> (v match {
        case jexpr.JArr(xs) => xs.map(o =>
          JValue.asNum(jexpr.Interp.fieldOf(o, "n_nationkey")).get.toLong)
        case other => fail(s"unexpected ${other.kind}")
      })}
      case other => fail(s"unexpected ${other.kind}")
    }
    assert(got == exp && got.size == 5)
    // each group array is descending — the active order, not collect order
    assert(got.values.forall(v => v == v.sortBy(-_)))
  }

  test("deep descent $..field lowers via schema paths and matches") {
    val e = """$.nation.sort_by(-n_nationkey)
              |.map({id: n_nationkey, geo: {key: n_regionkey, inner: {key: n_regionkey * 10}}})
              |..key""".stripMargin
    val got = graft.plans.Lower
      .compile(e, t => graft.core.Tables(spark, sfDir, t))
      .collect().map(_.getAs[Number](0).longValue).toVector
    val exp = docAnswer(e) match {
      case jexpr.JArr(xs) => xs.map(x => JValue.asNum(x).get.toLong)
      case other          => fail(s"unexpected ${other.kind}")
    }
    assert(got == exp && got.length == 50)
    // no match in the schema → doc fallback (empty array there)
    assert(!Graft.lowers(spark, sfDir, "$.nation..no_such_field"))
  }

  test("deep descent matches dynamic map keys (stored-entry walk)") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    // the searched key at different entry positions, a no-match map
    // and a null map — the walk iterates entries in STORED order
    // (parquet/from_json parse order == the interpreter's insertion-
    // order object walk)
    val rows = Seq(
      (1L, """{"a": 1, "k": 2, "z": 3}"""),
      (2L, """{"k": 4, "b": 5}"""),
      (3L, """{"x": 6}"""),
      (4L, null.asInstanceOf[String]))
    val df = rows.toDF("id", "j")
      .select(col("id"), from_json(col("j"), "map<string,bigint>",
        new java.util.HashMap[String, String]()).as("m"))
      .coalesce(1)
    def docSide(dfx: org.apache.spark.sql.DataFrame, e: String): Vector[JValue] = {
      val json = dfx.toJSON.collect().mkString(",")
      Jetro.compile(e).evalValue(JValue.parse(s"""{"t": [$json]}""")) match {
        case jexpr.JArr(xs) => xs
        case other          => fail(s"expected array, got ${other.kind}")
      }
    }
    val eK = "$.t.sort_by(id)..k"
    val gotK = graft.plans.Lower.compile(eK, _ => df)
      .collect().map(_.getAs[Number](0).longValue).toVector
    assert(gotK == Vector(2L, 4L))
    assert(gotK == docSide(df, eK).map(x => JValue.asNum(x).get.toLong))
    // pre-order across a STATIC struct hit and a DYNAMIC map hit of
    // one unified type: struct field first (column order), then the
    // map entry
    val df2 = Seq((1L, """{"q": 9, "k": 7}""")).toDF("id", "j")
      .select(col("id"), struct(lit(5L).as("k")).as("s"),
        from_json(col("j"), "map<string,bigint>",
        new java.util.HashMap[String, String]()).as("m"))
    val got2 = graft.plans.Lower.compile(eK, _ => df2)
      .collect().map(_.getAs[Number](0).longValue).toVector
    assert(got2 == Vector(5L, 7L))
    assert(got2 == docSide(df2, eK).map(x => JValue.asNum(x).get.toLong))
    // a string-keyed map whose VALUE type differs from a deeper match
    // type has no single lane type (the dynamic key could match too) —
    // static unification bails to doc mode
    val hetero = Seq((1L, """{"v": {"v": 1}}""")).toDF("id", "j")
      .select(col("id"),
        from_json(col("j"), "map<string,struct<v:bigint>>",
        new java.util.HashMap[String, String]()).as("m"))
    assert(graft.plans.Lower.tryCompile("$.t.sort_by(id)..v", _ => hetero).isEmpty)
  }

  test("deep descent hoists a level's name-hit ahead of sibling descents") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    def docSide(dfx: org.apache.spark.sql.DataFrame, e: String): Vector[Long] = {
      val json = dfx.toJSON.collect().mkString(",")
      Jetro.compile(e).evalValue(JValue.parse(s"""{"t": [$json]}""")) match {
        case jexpr.JArr(xs) => xs.map(x => JValue.asNum(x).get.toLong)
        case other          => fail(s"expected array, got ${other.kind}")
      }
    }
    // Deep.descend emits a level's matched field FIRST (fs.get(n)),
    // THEN descends all values — so with the matched key AFTER a
    // nested-match-bearing column the row's own k still leads:
    // [row.k, s.k], never the schema-interleaved [s.k, row.k]
    val df = Seq((1L, 7L)).toDF("id", "k")
      .select(col("id"), struct(lit(5L).as("k")).as("s"), col("k"))
    val e = "$.t.sort_by(id)..k"
    val got = graft.plans.Lower.compile(e, _ => df)
      .collect().map(_.getAs[Number](0).longValue).toVector
    assert(got == Vector(7L, 5L))
    assert(got == docSide(df, e))
    // same hoisting one level down: inside struct<a:struct<k>, k> the
    // inner level's own k leads its sibling descent
    val df2 = Seq((1L, 3L, 9L)).toDF("id", "ak", "nk")
      .select(col("id"),
        struct(struct(col("ak").as("k")).as("a"), col("nk").as("k")).as("n"))
    val got2 = graft.plans.Lower.compile(e, _ => df2)
      .collect().map(_.getAs[Number](0).longValue).toVector
    assert(got2 == Vector(9L, 3L))
    assert(got2 == docSide(df2, e))
  }

  test("spread-of-row shapes lower with in-place override (field order included)") {
    val e = """$.nation.sort_by(n_nationkey)
              |.map({...@, dbl: n_nationkey * 2, n_name: n_name.lower()})""".stripMargin
    val compiled = graft.plans.Lower.compile(e, t => graft.core.Tables(spark, sfDir, t))
    // override keeps the spread position; new key appends
    assert(compiled.columns.toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey", "dbl"))
    val got = compiled.collect()
      .map(r => (r.getAs[Number]("n_nationkey").longValue,
        r.getAs[String]("n_name"), r.getAs[Number]("dbl").longValue)).toVector
    val exp = docAnswer(e) match {
      case jexpr.JArr(xs) => xs.map { o =>
        // non-null source fields: interpreter field order matches the
        // schema order asserted above (VectorMap in-place update)
        assert(o.asInstanceOf[jexpr.JObj].v.keys.toSeq ==
          Seq("n_nationkey", "n_name", "n_regionkey", "dbl"))
        (JValue.asNum(jexpr.Interp.fieldOf(o, "n_nationkey")).get.toLong,
          jexpr.Interp.fieldOf(o, "n_name").asInstanceOf[jexpr.JStr].v,
          JValue.asNum(jexpr.Interp.fieldOf(o, "dbl")).get.toLong)
      }
      case other => fail(s"expected array, got ${other.kind}")
    }
    assert(got == exp && got.length == 25)
    // non-row spreads (a nested object) still bail to doc mode
    assert(graft.plans.Lower.tryCompile(
      "$.nation.map({...$.region[0], k: n_nationkey})",
      t => graft.core.Tables(spark, sfDir, t)).isEmpty)
  }

  test("?? catches evaluation errors on the left, like the interpreter") {
    // a / 0 errors in the interpreter and is CAUGHT by ?? (Interp.binop
    // evaluates the left under a try); the lowering must absorb the
    // ANSI runtime error the same way, not kill the job
    val e = """$.region.sort_by(r_regionkey)
              |.map({k: r_regionkey, v: (r_regionkey / (r_regionkey - r_regionkey)) ?? -1})""".stripMargin
    val got = graft.plans.Lower
      .compile(e, t => graft.core.Tables(spark, sfDir, t))
      .collect().map(r =>
        (r.getAs[Number](0).longValue, r.getAs[Number](1).doubleValue)).toVector
    val exp = docAnswer(e) match {
      case jexpr.JArr(xs) => xs.map { o =>
        (JValue.asNum(jexpr.Interp.fieldOf(o, "k")).get.toLong,
          JValue.asNum(jexpr.Interp.fieldOf(o, "v")).get)
      }
      case other => fail(s"expected array, got ${other.kind}")
    }
    assert(got == exp && got.forall(_._2 == -1.0) && got.length == 5)
  }

  test("float-lane % 0 is NaN (null on render), integer lane errors — both like the interpreter") {
    val e = """$.region.sort_by(r_regionkey)
              |.map({k: r_regionkey, f: (r_regionkey + 0.5) % 0, m: r_regionkey % 2})""".stripMargin
    val df = graft.plans.Lower.compile(e, t => graft.core.Tables(spark, sfDir, t))
    val got = df.collect().map(r =>
      (r.getAs[Number]("k").longValue, r.getAs[Double]("f"),
        r.getAs[Number]("m").longValue)).toVector
    val exp = docAnswer(e) match {
      case jexpr.JArr(xs) => xs.map { o =>
        (JValue.asNum(jexpr.Interp.fieldOf(o, "k")).get.toLong,
          JValue.asNum(jexpr.Interp.fieldOf(o, "f")).get,
          JValue.asNum(jexpr.Interp.fieldOf(o, "m")).get.toLong)
      }
      case other => fail(s"expected array, got ${other.kind}")
    }
    // the VALUE is NaN on both sides (render-level treatment differs:
    // the interpreter prints NaN as null, Spark's JSON writer as "NaN"
    // — both hold JFloat(NaN)/Double.NaN in the value domain)
    assert(got.length == exp.length && got.zip(exp).forall {
      case ((k1, f1, m1), (k2, f2, m2)) =>
        k1 == k2 && m1 == m2 && f1.isNaN && f2.isNaN
    }, (got, exp).toString)
  }

  test("integral doubles display shortest in f-strings/to_string (no trailing .0)") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1L, 9.0), (2L, 185.22), (3L, -0.0), (4L, 1.5e16))
      .toDF("id", "v").coalesce(1)
    val e = """$.t.sort_by(id).map({id: id, s: f"v={v}", c: v as string})"""
    val got = graft.plans.Lower.compile(e, _ => df)
      .collect().map(r => (r.getString(1), r.getString(2))).toVector
    val json = df.toJSON.collect().mkString(",")
    val exp = Jetro.compile(e)
      .evalValue(JValue.parse(s"""{"t": [$json]}""")) match {
      case jexpr.JArr(xs) => xs.map(o =>
        (jexpr.Interp.fieldOf(o, "s").asInstanceOf[jexpr.JStr].v,
          jexpr.Interp.fieldOf(o, "c").asInstanceOf[jexpr.JStr].v))
      case other => fail(s"expected array, got ${other.kind}")
    }
    assert(got == exp, (got, exp).toString)
    assert(got.head == (("v=9", "9")), got.toString) // not "9.0"
  }

  test("+ concatenates strings and arrays in the lowering, like the interpreter") {
    val e = """$.supplier.sort_by(s_suppkey)
              |.map({c: s_name + "-x", k: s_suppkey + 1})""".stripMargin
    val got = graft.plans.Lower
      .compile(e, t => graft.core.Tables(spark, sfDir, t))
      .collect().map(r =>
        (r.getString(0), r.getAs[Number](1).longValue)).toVector
    val exp = docAnswer(e) match {
      case jexpr.JArr(xs) => xs.map { o =>
        (jexpr.Interp.fieldOf(o, "c").asInstanceOf[jexpr.JStr].v,
          JValue.asNum(jexpr.Interp.fieldOf(o, "k")).get.toLong)
      }
      case other => fail(s"expected array, got ${other.kind}")
    }
    assert(got == exp && got.nonEmpty)
    // array + array (same element type) lowers to concat
    val ea = """$.embeddings{vec_id < 3}.map({k: vec_id, w: embedding + embedding})"""
    val rows = graft.plans.Lower
      .compile(ea, t => graft.core.Tables(spark, sfDir, t))
      .collect()
    val dims = graft.core.Tables(spark, sfDir, "embeddings")
      .selectExpr("size(embedding)").head.getInt(0)
    assert(rows.nonEmpty && rows.forall(_.getSeq[Float](1).length == 2 * dims))
  }

  test("null operands: value-position bools and value-preserving `or` match the interpreter") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    // nullable fixture: missing fields are JNull to the interpreter —
    // comparisons/and give FALSE (never null), `or` picks the first
    // truthy VALUE (vm OrOp). toJSON omits nulls, so both backends see
    // the same document.
    val rows = Seq(
      (1L, """{"a": 5, "s": "x"}"""),
      (2L, """{"a": 0}"""),
      (3L, """{"s": "y"}"""),
      (4L, """{"a": -3, "s": ""}"""))
    val df = rows.toDF("id", "j")
      .select(col("id"),
        from_json(col("j"), "struct<a:bigint,s:string>",
          new java.util.HashMap[String, String]()).as("r"))
      .select(col("id"), col("r.a").as("a"), col("r.s").as("s"))
      .coalesce(1)
    val e = """$.t.sort_by(id).map({id: id,
              |  lt: a < 3, ge: a >= 0, both: a > -9 and a < 3,
              |  pick: a or 99, spick: s or "anon",
              |  tern: "big" if a > 2 else "small"})""".stripMargin
    val got = graft.plans.Lower.compile(e, _ => df).toJSON.collect().toVector
    val json = df.toJSON.collect().mkString(",")
    val expArr = Jetro.compile(e)
      .evalValue(JValue.parse(s"""{"t": [$json]}""")) match {
      case jexpr.JArr(xs) => xs
      case other          => fail(s"expected array, got ${other.kind}")
    }
    // read the interpreter rows back through the same JSON bridge so
    // null-field omission normalizes identically
    val exp = sp.read.json(
      sp.createDataset(expArr.map(_.render))(
        org.apache.spark.sql.Encoders.STRING))
      .select("id", "lt", "ge", "both", "pick", "spick", "tern")
      .toJSON.collect().toVector
    assert(got.map(canonJson) == exp.map(canonJson), (got, exp).toString)
    // sanity: null operands really did take the false/pick branches
    assert(got.exists(_.contains(""""pick":99""")), got.toString)
    assert(got.exists(_.contains(""""spick":"anon"""")), got.toString)
    assert(got.forall(r => r.contains(""""lt":""") && r.contains(""""both":""")),
      got.toString) // never null-omitted: comparisons are two-valued
  }

  private def canonJson(s: String): String = {
    def canon(v: JValue): String = v match {
      case jexpr.JObj(fs) => fs.toVector.sortBy(_._1)
        .map { case (k, x) => s""""$k":${canon(x)}""" }.mkString("{", ",", "}")
      case jexpr.JArr(xs) => xs.map(canon).mkString("[", ",", "]")
      case other          => other.render
    }
    canon(JValue.parse(s))
  }

  test("deep_shape / deep_like lower via schema paths and match") {
    val base =
      """$.nation.sort_by(-n_nationkey)
        |.map({id: n_nationkey, geo: {key: n_regionkey, tag: "g"}, meta: {key: n_nationkey + 100, tag: "m"}})""".stripMargin
    def run(e: String): Vector[(Long, String)] =
      graft.plans.Lower.compile(e, t => graft.core.Tables(spark, sfDir, t))
        .collect().map { r =>
          // the matched-object stream is a row lane: fields are columns
          (r.getAs[Number]("key").longValue, r.getAs[String]("tag"))
        }.toVector
    def doc(e: String): Vector[(Long, String)] = docAnswer(e) match {
      case jexpr.JArr(xs) => xs.map { o =>
        (JValue.asNum(jexpr.Interp.fieldOf(o, "key")).get.toLong,
          jexpr.Interp.fieldOf(o, "tag") match {
            case jexpr.JStr(s) => s
            case other         => fail(s"unexpected ${other.kind}")
          })
      }
      case other => fail(s"unexpected ${other.kind}")
    }
    val eShape = base + "\n..shape({key, tag})"
    // row objects lack {key, tag}; geo and meta both match, pre-order
    assert(run(eShape) == doc(eShape) && run(eShape).length == 50)
    val eLike = base + "\n..like({tag: \"m\"})"
    // same candidates, but only meta survives the literal equality
    assert(run(eLike) == doc(eLike) && run(eLike).length == 25)
    assert(run(eLike).forall(_._2 == "m"))
    // no candidate in the schema → doc-mode fallback (empty result)
    assert(!Graft.lowers(spark, sfDir, "$.nation..shape({nope1, nope2})"))
    // duplicate keys in the like literal: the interpreter ANDs both
    // pairs (never matches); a last-wins lookup would diverge → the
    // lowering must bail, and the doc answer must be empty
    val eDup = base + "\n..like({tag: \"m\", tag: \"g\"})"
    assert(!Graft.lowers(spark, sfDir, eDup))
    assert(doc(eDup).isEmpty)
  }

  test("zip / zip_longest lower as positional row_number joins") {
    // two-table doc for the interpreter side
    def docAnswer2(expr: String, tables: String*): JValue = {
      val parts = tables.map { t =>
        val rows = graft.core.Tables(spark, sfDir, t).toJSON.collect()
        s""""$t": [${rows.mkString(",")}]"""
      }
      Jetro.compile(expr).evalValue(JValue.parse(s"{${parts.mkString(",")}}"))
    }
    def runPairs(e: String): Vector[(Option[Long], Option[Long])] =
      graft.plans.Lower.compile(e, t => graft.core.Tables(spark, sfDir, t))
        .collect().map { r =>
          val xs = r.getSeq[Any](0)
          (Option(xs(0)).map(_.asInstanceOf[Number].longValue),
           Option(xs(1)).map(_.asInstanceOf[Number].longValue))
        }.toVector
    def docPairs(e: String): Vector[(Option[Long], Option[Long])] =
      docAnswer2(e, "nation", "region") match {
        case jexpr.JArr(xs) => xs.map {
          case jexpr.JArr(Vector(a, b)) =>
            (JValue.asNum(a).map(_.toLong), JValue.asNum(b).map(_.toLong))
          case other => fail(s"unexpected ${other.kind}")
        }
        case other => fail(s"unexpected ${other.kind}")
      }
    val z = """$.nation.sort_by(n_nationkey).take(6).map(n_nationkey)
              |.zip($.region.sort_by(-r_regionkey).map(r_regionkey))""".stripMargin
    val zl = """$.nation.sort_by(n_nationkey).take(6).map(n_nationkey)
               |.zip_longest($.region.sort_by(-r_regionkey).map(r_regionkey))""".stripMargin
    assert(runPairs(z) == docPairs(z) && runPairs(z).length == 5)
    assert(runPairs(zl) == docPairs(zl) && runPairs(zl).length == 6)
    assert(runPairs(zl).last._2.isEmpty) // null padding past the shorter side
    // unordered sides → doc fallback
    assert(!Graft.lowers(spark, sfDir,
      "$.nation.map(n_nationkey).zip($.region.sort_by(r_regionkey).map(r_regionkey))"))
    assert(!Graft.lowers(spark, sfDir,
      "$.nation.sort_by(n_nationkey).map(n_nationkey).zip($.region.map(r_regionkey))"))
  }

  test("diff / intersect / union lower as whole-row joins") {
    def run(e: String): Vector[Long] = graft.plans.Lower
      .compile(e, t => graft.core.Tables(spark, sfDir, t))
      .collect().map(_.getAs[Number](0).longValue).toVector.sorted
    // diff keeps the receiver's duplicates (15 nation rows outside 0/1)
    val d = "$.nation.map(n_regionkey).diff($.region{r_regionkey < 2}.map(r_regionkey))"
    assert(run(d) == Vector.fill(5)(2L) ++ Vector.fill(5)(3L) ++ Vector.fill(5)(4L))
    // intersect dedups
    val i = "$.nation.map(n_regionkey).intersect($.region{r_regionkey >= 3}.map(r_regionkey))"
    assert(run(i) == Vector(3L, 4L))
    // union dedups across both sides; single-column lanes pair by value
    val u = "$.nation.map({v: n_regionkey}).union($.region.map({v: r_regionkey}))"
    assert(run(u) == Vector(0L, 1L, 2L, 3L, 4L))
    assert(run("$.nation.map(n_regionkey).union($.region.map(r_regionkey))")
      == Vector(0L, 1L, 2L, 3L, 4L))
    // whole-ROW diff: only non-region-1 rows removed
    val rows = "$.nation.diff($.nation{n_regionkey != 1})"
    val got = graft.plans.Lower
      .compile(rows, t => graft.core.Tables(spark, sfDir, t))
      .collect().map(_.getAs[Number]("n_regionkey").longValue).toVector
    assert(got == Vector.fill(5)(1L))
    // mismatched multi-column row sets bail to doc mode
    assert(!Graft.lowers(spark, sfDir, "$.nation.union($.region)"))
  }

  test("remove and implode lower and match the interpreter") {
    def run(e: String) = graft.plans.Lower
      .compile(e, t => graft.core.Tables(spark, sfDir, t))
    // predicate-form remove over a shaped row: x.field rebases onto the
    // row's columns, null predicates keep the row (filterNot(truthy))
    val rm = "$.events.sort_by(event_id).map({id: event_id, v: value}).remove(x => x.v > 450)"
    val gotRm = run(rm).collect()
      .map(r => r.getAs[Number]("id").longValue).toVector
    val expRm = docAnswer(rm) match {
      case jexpr.JArr(xs) => xs.map(o =>
        JValue.asNum(jexpr.Interp.fieldOf(o, "id")).get.toLong)
      case other => fail(s"expected array, got ${other.kind}")
    }
    assert(gotRm == expRm && gotRm.nonEmpty)
    // value-form remove on a scalar lane (null-safe equality)
    val rv = "$.events{event_id <= 20}.sort_by(event_id).map(event_id).remove(7)"
    val gotRv = run(rv).collect().map(_.getLong(0)).toVector
    val expRv = docAnswer(rv) match {
      case jexpr.JArr(xs) => xs.map(x => JValue.asNum(x).get.toLong)
      case other => fail(s"expected array, got ${other.kind}")
    }
    assert(gotRv == expRv && !gotRv.contains(7L))
    // implode: arrays follow the active order; groups match doc mode
    val im = """$.events{value > 250}.map({t: event_type, id: event_id}).sort_by(id).implode("id")"""
    val gotIm = run(im).collect().map(r =>
      r.getAs[String]("t") ->
        r.getAs[scala.collection.Seq[Long]]("id").toVector).toMap
    val expIm = docAnswer(im) match {
      case jexpr.JArr(xs) => xs.map { o =>
        val t = jexpr.Interp.fieldOf(o, "t") match {
          case jexpr.JStr(s) => s
          case v             => fail(s"t: $v")
        }
        val ids = jexpr.Interp.fieldOf(o, "id") match {
          case jexpr.JArr(is) => is.map(x => JValue.asNum(x).get.toLong)
          case v              => fail(s"id: $v")
        }
        t -> ids
      }.toMap
      case other => fail(s"expected array, got ${other.kind}")
    }
    assert(gotIm == expIm && gotIm.nonEmpty)
    // unordered implode has no defined array order → doc mode
    assert(!Graft.lowers(spark, sfDir,
      """$.events.map({t: event_type, id: event_id}).implode("id")"""))
  }

  test("new scalar string fns lower and match the interpreter") {
    val e = """$.region.sort_by(r_regionkey).map({
              |  k: r_regionkey,
              |  iof: r_name.index_of("A"),
              |  m: r_name.matches("ME"),
              |  rep: r_name.replace("A", "@"),
              |  sp: r_name.strip_prefix("A"),
              |  ss: r_name.strip_suffix("CA"),
              |  num: r_name.is_numeric(),
              |  alpha: r_name.is_alpha(),
              |  ascii: r_name.is_ascii()})""".stripMargin
    val df = graft.plans.Lower.compile(e, t => graft.core.Tables(spark, sfDir, t))
    val got = df.collect().map { r =>
      (r.getAs[Number]("k").longValue, r.getAs[Number]("iof").longValue,
       r.getAs[Boolean]("m"), r.getAs[String]("rep"), r.getAs[String]("sp"),
       r.getAs[String]("ss"), r.getAs[Boolean]("num"),
       r.getAs[Boolean]("alpha"), r.getAs[Boolean]("ascii"))
    }.toVector
    val exp = docAnswer(e) match {
      case jexpr.JArr(xs) => xs.map { o =>
        def f(n: String) = jexpr.Interp.fieldOf(o, n)
        def str(n: String) = f(n) match { case jexpr.JStr(s) => s; case v => fail(s"$n: $v") }
        def b(n: String) = f(n) match { case jexpr.JBool(x) => x; case v => fail(s"$n: $v") }
        (JValue.asNum(f("k")).get.toLong, JValue.asNum(f("iof")).get.toLong,
         b("m"), str("rep"), str("sp"), str("ss"), b("num"), b("alpha"), b("ascii"))
      }
      case other => fail(s"expected array, got ${other.kind}")
    }
    assert(got == exp && got.length == 5)
  }

  test("partition lowers to order-preserving group arrays, both sides present") {
    def runPartition(e: String): Map[String, Vector[Long]] =
      graft.plans.Lower.compile(e, t => graft.core.Tables(spark, sfDir, t))
        .collect()
        .map { r =>
          r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
            .map(_.getAs[Number]("n_nationkey").longValue).toVector
        }.toMap
    def docPartition(e: String): Map[String, Vector[Long]] =
      docAnswer(e) match {
        case jexpr.JObj(fs) => fs.map {
          case (k, jexpr.JArr(xs)) => k -> xs.map(o =>
            JValue.asNum(jexpr.Interp.fieldOf(o, "n_nationkey")).get.toLong)
          case (k, v) => fail(s"$k: $v")
        }.toMap
        case other => fail(s"expected object, got ${other.kind}")
      }
    val e = "$.nation.sort_by(-n_nationkey).partition(n_regionkey < 2)"
    val got = runPartition(e)
    assert(got == docPartition(e))
    assert(got.keySet == Set("true", "false") &&
      got("true").nonEmpty && got("false").nonEmpty)
    // arrays follow the active (descending) order
    assert(got("true") == got("true").sorted.reverse)
    // an all-pass predicate still yields both keys, "false" empty
    val e2 = "$.nation.sort_by(n_nationkey).partition(n_nationkey >= 0)"
    val got2 = runPartition(e2)
    assert(got2 == docPartition(e2))
    assert(got2("false").isEmpty && got2("true").length == 25)
  }

  test("pad_left/pad_right keep interpreter semantics (short width, fill char)") {
    // interpreter pad (Strings.scala:212-219) is a no-op when len >= w
    // (Spark lpad/rpad TRUNCATE there) and pads with the FIRST fill char
    // (Spark repeats the whole fill) — both guarded in the lowering
    val e = """$.region.sort_by(r_regionkey).map({
              |  k: r_regionkey,
              |  short: r_name.pad_left(3),
              |  neg: r_name.pad_right(-5),
              |  fill: r_name.pad_left(12, "ab"),
              |  rfill: r_name.pad_right(11, "xy")})""".stripMargin
    val df = graft.plans.Lower.compile(e, t => graft.core.Tables(spark, sfDir, t))
    val got = df.collect().map { r =>
      (r.getAs[Number]("k").longValue, r.getAs[String]("short"),
       r.getAs[String]("neg"), r.getAs[String]("fill"), r.getAs[String]("rfill"))
    }.toVector
    val exp = docAnswer(e) match {
      case jexpr.JArr(xs) => xs.map { o =>
        def str(n: String) = jexpr.Interp.fieldOf(o, n) match {
          case jexpr.JStr(s) => s; case v => fail(s"$n: $v")
        }
        (JValue.asNum(jexpr.Interp.fieldOf(o, "k")).get.toLong,
         str("short"), str("neg"), str("fill"), str("rfill"))
      }
      case other => fail(s"expected array, got ${other.kind}")
    }
    assert(got == exp && got.length == 5)
    // the short/negative widths must really be no-ops, not truncations
    assert(got.forall { case (_, s, n, _, _) => s == n && s.length >= 3 })
  }

  test("negative lag/lead refuse to lower (interpreter throws there)") {
    // Builtins.scala:421-428 index out of bounds on negative n — the
    // lowering must not silently flip direction via Spark lag(t, -k)
    assert(!Graft.lowers(spark, sfDir,
      "$.nation.sort_by(n_nationkey).map(n_nationkey).lag(-1)"))
    assert(!Graft.lowers(spark, sfDir,
      "$.nation.sort_by(n_nationkey).map(n_nationkey).lead(-2)"))
    // non-negative still lowers
    assert(Graft.lowers(spark, sfDir,
      "$.nation.sort_by(n_nationkey).map(n_nationkey).lag(2)"))
  }

  test("patch blocks lower to guarded column rewrites") {
    val e = """patch $ { nation[*].n_regionkey: @ * 10 when @ > 2, nation[*].tag: "x" }"""
    val got = graft.plans.Lower
      .compile(e, t => graft.core.Tables(spark, sfDir, t))
      .collect()
      .map(r => r.getAs[Number]("n_nationkey").longValue ->
        (r.getAs[Number]("n_regionkey").longValue, r.getAs[String]("tag")))
      .toMap
    // same patch through the interpreter over the packed document
    val rows = graft.core.Tables(spark, sfDir, "nation").toJSON.collect()
    val doc = JValue.parse(s"""{"nation": [${rows.mkString(",")}]}""")
    val exp = Jetro.compile(e).evalValue(doc) match {
      case jexpr.JObj(fs) => fs("nation") match {
        case jexpr.JArr(xs) => xs.map { o =>
          JValue.asNum(jexpr.Interp.fieldOf(o, "n_nationkey")).get.toLong -> (
            JValue.asNum(jexpr.Interp.fieldOf(o, "n_regionkey")).get.toLong,
            jexpr.Interp.fieldOf(o, "tag") match { case jexpr.JStr(s) => s; case _ => null })
        }.toMap
        case other => fail(s"expected array, got ${other.kind}")
      }
      case other => fail(s"expected object, got ${other.kind}")
    }
    assert(got == exp && got.size == 25)
    // DELETE drops the column
    val dropped = graft.plans.Lower
      .compile("patch $ { nation[*].n_name: DELETE }",
        t => graft.core.Tables(spark, sfDir, t))
    assert(!dropped.columns.contains("n_name"))
  }

  test("compiled patch binds @ and guards to the PRE-BATCH frame") {
    // same-path fields: last wins, but its `@` reads the pre-batch leaf
    // (reference modify_after_set_reads_prebatch_value) — orig+5, not 15
    val e = """patch $ { nation[*].n_regionkey: 10, nation[*].n_regionkey: @ + 5 }"""
    def runMap(expr: String): Map[Long, Long] = graft.plans.Lower
      .compile(expr, t => graft.core.Tables(spark, sfDir, t))
      .collect()
      .map(r => r.getAs[Number]("n_nationkey").longValue ->
        r.getAs[Number]("n_regionkey").longValue)
      .toMap
    val rows = graft.core.Tables(spark, sfDir, "nation").toJSON.collect()
    val doc = JValue.parse(s"""{"nation": [${rows.mkString(",")}]}""")
    def docMap(expr: String): Map[Long, Long] =
      Jetro.compile(expr).evalValue(doc) match {
        case jexpr.JObj(fs) => fs("nation") match {
          case jexpr.JArr(xs) => xs.map { o =>
            JValue.asNum(jexpr.Interp.fieldOf(o, "n_nationkey")).get.toLong ->
              JValue.asNum(jexpr.Interp.fieldOf(o, "n_regionkey")).get.toLong
          }.toMap
          case other => fail(s"expected array, got ${other.kind}")
        }
        case other => fail(s"expected object, got ${other.kind}")
      }
    assert(runMap(e) == docMap(e) && runMap(e).values.forall(v => v >= 5 && v <= 9))
    // guarded same-path fields: each guard binds `@` pre-batch; a
    // guard-false later field keeps the EARLIER field's result
    val e2 = """patch $ { nation[*].n_regionkey: 100 when @ > 2,
               |          nation[*].n_regionkey: @ + 1 when @ <= 2 }""".stripMargin
    assert(runMap(e2) == docMap(e2))
    // a bare identifier in a patch guard/value is env-scoped in doc mode
    // (NOT a row column) — the compiler must bail, not resolve it
    assert(!Graft.lowers(spark, sfDir,
      "patch $ { nation[*].n_regionkey: 100 when n_regionkey > 2 }"))
    assert(!Graft.lowers(spark, sfDir,
      "patch $ { nation[*].tag: n_name }"))
    // mixed DELETE + write on one column is order-sensitive → doc mode
    assert(!Graft.lowers(spark, sfDir,
      "patch $ { nation[*].n_name: DELETE, nation[*].n_name: \"x\" }"))
  }

  test("patch writes into map columns lower with PatchEval semantics") {
    import org.apache.spark.sql.functions._
    // events.props as a real map lane, with null maps and missing keys
    // so every branch fires: create-on-null, in-place update, append,
    // guard-false keeps the key missing, delete-on-null creates {}
    val src = graft.core.Tables(spark, sfDir, "events")
      .filter(col("event_id") < 500)
      .select(col("event_id"),
        from_json(col("props"), "map<string,bigint>",
          new java.util.HashMap[String, String]()).as("props"))
      .withColumn("props",
        when(col("event_id") % 7 === 0, lit(null).cast("map<string,bigint>"))
          .when(col("event_id") % 5 === 0,
            map_filter(col("props"), (k, _) => k =!= "k"))
          .otherwise(col("props")))
    val docRows = src.toJSON.collect()
    val doc = JValue.parse(s"""{"events": [${docRows.mkString(",")}]}""")
    val exprs = Seq(
      "patch $ { events[*].props.k: (@ ?? 0) * 2 }",           // update/create
      "patch $ { events[*].props.z: 7 }",                      // append new key
      "patch $ { events[*].props.k: @ + 1 when @ > 50 }",      // guard keeps missing
      "patch $ { events[*].props.k: 1, events[*].props.z: (@ ?? 0) - 1 }", // two keys
      "patch $ { events[*].props.k: DELETE }")                 // delete (null → {})
    exprs.foreach { e =>
      val out = graft.plans.Lower.compile(e, _ => src)
      // entry ORDER is part of the contract — compare the JSON forms
      val got = out
        .select(col("event_id"), to_json(col("props")).as("j"))
        .collect()
        .map(r => r.getAs[Number]("event_id").longValue ->
          Option(r.getAs[String]("j")).getOrElse("null"))
        .toMap
      val exp = Jetro.compile(e).evalValue(doc) match {
        case jexpr.JObj(fs) => fs("events") match {
          case jexpr.JArr(xs) => xs.map { o =>
            JValue.asNum(jexpr.Interp.fieldOf(o, "event_id")).get.toLong ->
              (jexpr.Interp.fieldOf(o, "props") match {
                case jexpr.JNull => "null"
                case v           => v.render
              })
          }.toMap
          case other => fail(s"expected array, got ${other.kind}")
        }
        case other => fail(s"expected object, got ${other.kind}")
      }
      assert(got.size == 500, s"row count for $e")
      got.keys.foreach { id =>
        assert(got(id) == exp(id), s"$e diverges at event_id=$id")
      }
    }
    // deeper-than-one-key map paths and conditional DELETE stay doc-mode
    assert(graft.plans.Lower.tryCompile(
      "patch $ { events[*].props.k.x: 1 }", _ => src).isEmpty)
  }

  test("reverse and suffix slice lower on the active order") {
    def runIds(e: String): Vector[Long] = graft.plans.Lower
      .compile(e, t => graft.core.Tables(spark, sfDir, t))
      .collect().map(_.getAs[Number](0).longValue).toVector
    assert(runIds("$.nation.sort_by(n_nationkey).reverse().map(n_nationkey).first(3)")
      == Vector(24L, 23L, 22L))
    assert(runIds("$.nation.sort_by(n_nationkey)[-3:].map(n_nationkey)")
      == Vector(22L, 23L, 24L))
    assert(runIds("$.nation.sort_by(-n_nationkey)[-2:].map(n_nationkey)")
      == Vector(1L, 0L))
    // without an explicit order both still fall back to doc mode
    assert(!Graft.lowers(spark, sfDir, "$.nation[-3:]"))
    assert(!Graft.lowers(spark, sfDir, "$.nation.reverse()"))
  }

  test("shaped group aggregate fuses and matches the interpreter") {
    val e = """$.nation.group_by(n_regionkey).transform_values(
              |  lambda v: {total: v.sum(n_nationkey), n: v.count()})""".stripMargin
    val df = graft.plans.Lower.compile(e, t => graft.core.Tables(spark, sfDir, t))
    val got = df.collect()
      .map(r => r.getAs[Number]("key").longValue ->
        (r.getAs[Number]("total").longValue, r.getAs[Number]("n").longValue))
      .toMap
    val exp = docAnswer(e) match {
      case jexpr.JObj(fs) => fs.map { case (k, o) =>
        k.toLong -> (
          JValue.asNum(jexpr.Interp.fieldOf(o, "total")).get.toLong,
          JValue.asNum(jexpr.Interp.fieldOf(o, "n")).get.toLong)
      }.toMap
      case other => fail(s"expected object, got ${other.kind}")
    }
    assert(got == exp && got.size == 5)
    // single shuffle: one partial+final HashAggregate pair around one
    // Exchange (AQE prints final + initial — inspect the final section)
    val full = df.queryExecution.executedPlan.toString
    val plan = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i  => full.substring(0, i)
    }
    assert("HashAggregate".r.findAllIn(plan).length == 2, plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
    assert(plan.contains("partial_sum"), plan)
  }

  test("map/filter lanes inside group aggregates fuse and match") {
    val e = """$.nation.group_by(n_regionkey).transform_values(
              |  lambda v: {doubled: v.map(n_nationkey * 2).sum(),
              |             high: v.filter(n_nationkey > 10).count()})""".stripMargin
    val df = graft.plans.Lower.compile(e, t => graft.core.Tables(spark, sfDir, t))
    val got = df.collect()
      .map(r => r.getAs[Number]("key").longValue ->
        (r.getAs[Number]("doubled").longValue, r.getAs[Number]("high").longValue))
      .toMap
    val exp = docAnswer(e) match {
      case jexpr.JObj(fs) => fs.map { case (k, o) =>
        k.toLong -> (
          JValue.asNum(jexpr.Interp.fieldOf(o, "doubled")).get.toLong,
          JValue.asNum(jexpr.Interp.fieldOf(o, "high")).get.toLong)
      }.toMap
      case other => fail(s"expected object, got ${other.kind}")
    }
    assert(got == exp && got.size == 5)
  }

  test("f-string format specs lower and match the interpreter") {
    val e = """$.supplier.sort_by(s_suppkey).take(5).map(
              |  f"{s_acctbal:.2f}|{s_suppkey:d}|{s_name:>14}|{s_name:<14}|{s_name:^14}|{s_suppkey:05}")""".stripMargin
    val got = graft.plans.Lower
      .compile(e, t => graft.core.Tables(spark, sfDir, t))
      .collect().map(_.getString(0)).toVector
    val exp = docAnswer(e) match {
      case jexpr.JArr(xs) => xs.map { case jexpr.JStr(s) => s; case o => fail(s"$o") }
      case other          => fail(s"expected array, got ${other.kind}")
    }
    assert(got == exp && got.nonEmpty)
  }

  test("try/else catches evaluation errors in the lowered path") {
    // n_nationkey % 5 == 0 divides by zero — ANSI raises, try absorbs
    val e = "$.nation.map({k: n_nationkey, safe: try (10 / (n_nationkey % 5)) else -1}).sort_by(k)"
    val got = graft.plans.Lower
      .compile(e, t => graft.core.Tables(spark, sfDir, t))
      .collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).doubleValue))
      .toVector
    val exp = docAnswer(e) match {
      case jexpr.JArr(xs) => xs.map { o =>
        (JValue.asNum(jexpr.Interp.fieldOf(o, "k")).get.toLong,
         JValue.asNum(jexpr.Interp.fieldOf(o, "safe")).get)
      }
      case other => fail(s"expected array, got ${other.kind}")
    }
    assert(got == exp)
    assert(got.filter(_._1 % 5 == 0).forall(_._2 == -1.0))
  }

  test("pivot lowers to a native Spark pivot") {
    val df = graft.plans.Lower.compile(
      "$.nation.pivot(n_regionkey, n_name, n_nationkey)",
      t => graft.core.Tables(spark, sfDir, t))
    assert(df.columns.length == 26) // n_regionkey + 25 nation-name columns
    assert(df.count() == 5)
  }

  test("index-join idiom lowers to a broadcast hash join") {
    val expr =
      """let ridx = $.region.index_by(r_regionkey) in
        |$.nation.map({nkey: n_nationkey, nname: n_name, rname: ridx[to_string(n_regionkey)].r_name})""".stripMargin
    val compiled = graft.plans.Lower
      .compile(expr, t => graft.core.Tables(spark, sfDir, t))
    assert(compiled.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val rows = compiled.collect()
    assert(rows.length == 25)
    // cross-check against the interpreter running the same idiom on the
    // two tables packed into one document
    val nation = graft.core.Tables(spark, sfDir, "nation").toJSON.collect()
    val region = graft.core.Tables(spark, sfDir, "region").toJSON.collect()
    val doc = s"""{"nation": [${nation.mkString(",")}], "region": [${region.mkString(",")}]}"""
    val exp = Jetro.compile(expr).evalValue(JValue.parse(doc)) match {
      case jexpr.JArr(xs) => xs.map { o =>
        (JValue.asNum(jexpr.Interp.fieldOf(o, "nkey")).get.toLong,
         jexpr.Interp.fieldOf(o, "rname") match { case jexpr.JStr(s) => s; case _ => null })
      }.toMap
      case other => fail(s"expected array, got ${other.kind}")
    }
    rows.foreach { r =>
      assert(exp(r.getAs[Number]("nkey").longValue) == r.getAs[String]("rname"))
    }
  }

  test("comprehensions lower; cross+equality becomes a real join") {
    val single = graft.plans.Lower.compile(
      "[{name: r.r_name} for r in $.region]",
      t => graft.core.Tables(spark, sfDir, t))
    assert(single.collect().length == 5)

    val expr = "[{n: n.n_name, r: r.r_name} for n in $.nation for r in $.region if n.n_regionkey == r.r_regionkey]"
    val joined = graft.plans.Lower.compile(expr, t => graft.core.Tables(spark, sfDir, t))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan) // Catalyst made it an equi-join
    val rows = joined.collect()
    assert(rows.length == 25)
    // same comprehension through the interpreter
    val nation = graft.core.Tables(spark, sfDir, "nation").toJSON.collect()
    val region = graft.core.Tables(spark, sfDir, "region").toJSON.collect()
    val doc = s"""{"nation": [${nation.mkString(",")}], "region": [${region.mkString(",")}]}"""
    val exp = Jetro.compile(expr).evalValue(JValue.parse(doc)) match {
      case jexpr.JArr(xs) => xs.map(o =>
        (jexpr.Interp.fieldOf(o, "n"), jexpr.Interp.fieldOf(o, "r"))).toSet
      case other => fail(s"expected array, got ${other.kind}")
    }
    assert(rows.map(r => (jexpr.JStr(r.getString(0)): jexpr.JValue,
      jexpr.JStr(r.getString(1)): jexpr.JValue)).toSet == exp)
  }

  test("ternary and coalesce lower") {
    val expr = """$.nation.map({id: n_nationkey, cls: "low" if n_regionkey < 2 else "high"}).sort_by(id).take(4)"""
    val compiled = graft.plans.Lower
      .compile(expr, t => graft.core.Tables(spark, sfDir, t))
    val rows = compiled.collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      val cls = r.getString(1)
      assert(cls == "low" || cls == "high")
    }
  }

  /** Rows as canonical JSON texts: keys sorted, integral doubles as
    * longs, so a lowered frame and the interpreter's rows compare. */
  private def canonRows(df: org.apache.spark.sql.DataFrame): Vector[String] = {
    def canon(v: JValue): String = v match {
      case jexpr.JObj(fs) => fs.toVector.sortBy(_._1)
        .map { case (k, x) => s""""$k":${canon(x)}""" }.mkString("{", ",", "}")
      case jexpr.JArr(xs) => xs.map(canon).mkString("[", ",", "]")
      case jexpr.JFloat(f) if f.isWhole && math.abs(f) < 1e15 => f.toLong.toString
      case other => other.render
    }
    df.toJSON.collect().toVector.map(s => canon(JValue.parse(s))).sorted
  }

  /** `e` lowers, and its rows equal the document interpreter's. */
  private def lowersLikeDoc(e: String): Unit = {
    val low = graft.plans.Lower.tryCompile(e, t => graft.core.Tables(spark, sfDir, t))
    assert(low.isDefined, s"should lower: $e")
    val got = canonRows(low.get)
    assert(got.nonEmpty && got == canonRows(Graft.docFallback(spark, sfDir, e)), e)
  }

  // Chain types cross an expression boundary when a parenthesised chain
  // is the receiver of further steps, or the operand of `has` or of
  // truthiness: the outer lowering dispatches on the inner chain's type.

  test("a struct method's result type crosses an expression boundary") {
    lowersLikeDoc(
      """$.nation.map({k: n_nationkey,
        |  vs: (({a: n_name, b: n_regionkey, c: n_nationkey}).omit("a")).values(),
        |  h: (({a: n_name, b: n_regionkey}).pick("a")) has "a",
        |  n: "y" if ({a: n_name, b: n_regionkey}).pick("b").values().sum() else "n"})""".stripMargin)
  }

  test("a struct merge's result type crosses an expression boundary") {
    lowersLikeDoc(
      """$.nation.map({k: n_nationkey,
        |  ks: (({a: n_name}).merge({b: n_regionkey})).keys(),
        |  h: (({a: n_name}).deep_merge({b: n_regionkey})) has "b"})""".stripMargin)
  }

  test("a rendered value's string type crosses an expression boundary") {
    lowersLikeDoc(
      """$.nation.map({k: n_nationkey,
        |  h: (n_regionkey.to_string()) has "1",
        |  t: (n_regionkey.type()) has "num"})""".stripMargin)
  }

  test("a path read's result type crosses an expression boundary") {
    lowersLikeDoc(
      """$.nation.map({k: n_nationkey,
        |  h: (({a: {b: n_name}}).get_path("a.b")) has "ION_1",
        |  n: "y" if ({a: n_name}).has_path("a") else "n"})""".stripMargin)
  }

  test("a mapped array's element type crosses an expression boundary") {
    // `map` and `flat_map` report their body's type, so a computed
    // receiver over them keeps its array lane
    lowersLikeDoc(
      """$.nation.map({k: n_nationkey,
        |  n: (n_name.split(" ").map(lambda w: w.len())).sum(),
        |  f: (n_name.split(" ").flat_map(lambda w: w.split("_"))) has "1"})""".stripMargin)
  }

  test("pick of a key the struct lacks keeps the key, as the interpreter does") {
    val e = """$.nation.map({k: n_nationkey, ks: ({a: n_name, b: n_regionkey}).pick("a", "c").keys()})"""
    val got = canonRows(Graft.query(spark, sfDir, e))
    assert(got.nonEmpty && got == canonRows(Graft.docFallback(spark, sfDir, e)), e)
  }

  test("the document rung materialises a table named only inside a lambda body") {
    val rows = Graft.docFallback(spark, sfDir, "$.nation.map(lambda n: $.region.len())")
      .collect().toSeq.map(r => String.valueOf(r.get(0)))
    assert(rows == Seq.fill(25)("5"))
  }

  // Every expression form is typed by the lowering that builds it, from
  // its operands' types: a concat is a string, an integral sum is an
  // integer, and arithmetic over a statically non-numeric operand stays
  // on the interpreter rungs, which raise where Spark would cast it.

  test("a string concat types as a string under truthiness, ~= and not") {
    lowersLikeDoc("""$.nation{n_name + "x"}""")
    lowersLikeDoc("""$.nation.map({a: (n_name + "x") or "y"})""")
    lowersLikeDoc("""$.nation.map({a: n_name + "x" ~= "AL"})""")
    lowersLikeDoc("""$.nation.map({a: not (n_name + "x")})""")
  }

  test("an int/float mix stays a number under truthiness, `or` and a d format spec") {
    // no Spark type keeps the interpreter's ints and floats apart, but
    // the kind is known: truthiness tests against zero and `:d`
    // truncates, where the display form would print "1234.56"; the
    // display form of an integral value prints no ".0" on either lane
    lowersLikeDoc("""$.supplier.map({a: f"{(s_acctbal ?? 0):d}"})""")
    lowersLikeDoc("""$.lineitem.map({a: f"{l_quantity ?? 0}", b: f"{l_quantity ?? 0:>6}"})""")
    lowersLikeDoc("""$.lineitem{l_discount ?? 0}""")
    lowersLikeDoc("""$.lineitem.map({a: not (l_discount or 1)})""")
    lowersLikeDoc("""$.lineitem.map({a: f"{(l_discount if l_linenumber > 2 else 1):d}"})""")
    // compared with a string it is never equal, where Spark would cast
    // the string and fail the job; the `??` may raise, so the
    // interpreter rungs own it
    val e = """$.region.map({a: (r_regionkey ?? 1.5) == "a"})"""
    assert(graft.plans.Lower.tryCompile(e, t => graft.core.Tables(spark, sfDir, t)).isEmpty)
    assert(canonRows(Graft.query(spark, sfDir, e)) == Vector.fill(5)("""{"a":false}"""))
  }

  test("a .Nf format spec displays a string, as the interpreter does") {
    // Spark would cast the string to a double and fail the job
    lowersLikeDoc("""$.region.map({a: f"{r_name:.2f}", b: f"{r_regionkey:.1f}"})""")
  }

  test("an integral sum zero-pads under a 0N format spec, as the interpreter does") {
    lowersLikeDoc("""$.region.map({a: f"{r_regionkey + 1:03}"})""")
  }

  test("has over an object the expression builds keeps its null-valued keys") {
    // the interpreter's `{a: null} has "a"` is true; a struct column
    // would read the null field as absent
    val e = """$.nation.map({k: n_nationkey, h: {a: n_name.split(" ")[3]} has "a"})"""
    assert(canonRows(Graft.query(spark, sfDir, e)) == canonRows(Graft.docFallback(spark, sfDir, e)))
  }

  test("arithmetic over a statically non-numeric operand takes the interpreter's answer") {
    // the interpreter raises "arithmetic on non-numbers" and `??` takes
    // the default on every row
    val e = """$.region.map({a: (r_regionkey - "1") ?? 9})"""
    assert(graft.plans.Lower.tryCompile(e, t => graft.core.Tables(spark, sfDir, t)).isEmpty)
    assert(canonRows(Graft.query(spark, sfDir, e)) == Vector.fill(5)("""{"a":9}"""))
    // a job that cast the string would fail; the interpreter rungs drop
    // and count each row instead, which errors in the interpreter too
    Seq("""$.region{-r_name}""", """$.region.map({a: r_name - 1})""").foreach { e =>
      assert(graft.plans.Lower.tryCompile(e, t => graft.core.Tables(spark, sfDir, t)).isEmpty, e)
      intercept[jexpr.EvalException](docAnswer(e))
      val errored = Graft.rowwiseCounters(spark).errored
      val before = errored.value
      var rows = Vector.empty[String]
      val n = SparkSpec.interpreterRowsDuring(spark) {
        rows = canonRows(Graft.query(spark, sfDir, e))
      }
      assert(n == 5 && errored.value - before == 5 && rows.isEmpty,
        s"$e: evaluated $n, errored ${errored.value - before}, rows $rows")
    }
  }
}
