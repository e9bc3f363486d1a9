package graft

import org.apache.spark.sql.DataFrame

/** Contract of the distributed per-row document-mode fallback
  * (Graft.rowwiseCompile) and the docFallback row cap.
  *
  * The fallback ladder mirrors the reference's backend-preference lists
  * (ir/physical.rs:219-230): relational lowering first, then — NEW in
  * round 7 — per-row interpreter dispatch for element-wise pipelines
  * (the reference's per-element VM dispatch, defs.rs:74-90), and only
  * then the whole-document driver-side interpreter, now bounded by
  * `spark.graft.docFallback.maxRows`.
  */
class RowwiseFallbackSpec extends SparkSpec {

  /** Rows as a sorted set of JSON texts — schema-inference order and
    * partition order are both irrelevant to the comparison. */
  private def rowsOf(df: DataFrame): Vector[String] =
    df.toJSON.collect().toVector.sorted

  // `rec` is the one construct with no relational lowering by design
  // (a fixpoint has no static plan, SURVEY §8); `rec(@)` is the
  // identity fixpoint, so wrapping any subexpression in it keeps the
  // value while forcing the chain off the compiled rung — the
  // canonical "bails relationally, runs distributed" marker.
  private val rowwiseExpr =
    """$.supplier.filter(s_acctbal >= 0).map({k: s_suppkey, nw: s_name.words().len().rec(@)})"""

  test("element-wise non-lowerable pipeline picks the rowwise backend") {
    assert(!Graft.lowers(spark, sf, rowwiseExpr))
    assert(Graft.backend(spark, sf, rowwiseExpr) == "rowwise")
  }

  test("rowwise result equals the whole-document interpreter result") {
    val rw  = Graft.rowwiseCompile(spark, sf, rowwiseExpr).get
    val doc = Graft.docFallback(spark, sf, rowwiseExpr)
    val got = rowsOf(rw)
    assert(got.nonEmpty && got == rowsOf(doc))
  }

  test("rowwise plan stays distributed: parquet scan, no driver collect") {
    val rw = Graft.rowwiseCompile(spark, sf, rowwiseExpr).get
    // spark.read.json over a derived Dataset shows as Scan ExistingRDD;
    // the proof of distribution is the RDD lineage: the parquet scan
    // (FileScanRDD) feeds the executors directly, with no driver-side
    // parallelized local collection anywhere in the chain
    val lineage = rw.rdd.toDebugString
    assert(lineage.contains("FileScanRDD"), lineage)
    assert(!lineage.contains("ParallelCollectionRDD"), lineage)
  }

  test("cross-element stages refuse the rowwise backend") {
    // sort_by over a non-lowerable key: neither relational nor row-wise
    val e = """$.supplier.sort_by(s_name.rec(@)).map({k: s_suppkey})"""
    assert(Graft.backend(spark, sf, e) == "document")
  }

  test("a nested $ reference breaks per-row independence and is refused") {
    // each element reads a global: correct only with the whole document
    val e = """$.nation.map({k: n_nationkey, total: $.region.count()})"""
    assert(Graft.rowwiseCompile(spark, sf, e).isEmpty)
  }

  test("lowerable pipelines never reach the rowwise rung") {
    val e = """$.supplier.filter(s_acctbal >= 0).map({k: s_suppkey, up: s_name.upper()})"""
    assert(Graft.backend(spark, sf, e) == "relational")
  }

  // ── round 8: explode / chain-writes / patch $ on the rowwise rung ──

  test("explode(field) qualifies as element-wise and fans out per row") {
    val e = """$.documents.map({k: doc_id, w: text.words().rec(@)}).explode("w")"""
    assert(Graft.backend(spark, sf, e) == "rowwise")
    val rw = Graft.rowwiseCompile(spark, sf, e).get
    assert(rowsOf(rw) == rowsOf(Graft.docFallback(spark, sf, e)))
    // genuinely fanned out: more word rows than documents
    assert(rw.count() > graft.core.Tables(spark, sf, "documents").count())
  }

  test("row-iterating chain-write runs distributed as a per-row patch") {
    // non-lowerable leaf (rec) → bails relationally; the rewrite
    // (expr).supplier unions per-row patched docs into table rows
    val e = """$.supplier{s_acctbal >= 0}.s_name.modify(@.words().len().rec(@))"""
    assert(!Graft.lowers(spark, sf, e))
    assert(Graft.backend(spark, sf, e) == "rowwise")
    val rw  = Graft.rowwiseCompile(spark, sf, e).get
    val doc = Graft.docFallback(spark, sf, s"($e).supplier")
    val got = rowsOf(rw)
    assert(got.nonEmpty && got == rowsOf(doc))
    // unmatched rows pass through unpatched, so every row survives
    assert(rw.count() == 10)
  }

  test("chain-delete over matching rows is a distributed filter-out") {
    val e = """$.supplier{s_acctbal < 0 or s_name.rec(@) == ""}.delete()"""
    assert(Graft.backend(spark, sf, e) == "rowwise")
    val rw  = Graft.rowwiseCompile(spark, sf, e).get
    assert(rowsOf(rw) == rowsOf(Graft.docFallback(spark, sf, s"($e).supplier")))
  }

  test("patch $ over one table's rows takes the rowwise rung when leaves don't lower") {
    val e = """patch $ { supplier[*].s_name: @.upper().rec(@) }"""
    assert(!Graft.lowers(spark, sf, e))
    assert(Graft.backend(spark, sf, e) == "rowwise")
    val rw = Graft.rowwiseCompile(spark, sf, e).get
    assert(rowsOf(rw) == rowsOf(Graft.docFallback(spark, sf, s"($e).supplier")))
  }

  test("deep descent and ..shape/..like distribute on the rowwise rung") {
    // non-lowerable nesting (rec) → bails relationally; the descent
    // walks each row's own nodes, so it distributes
    val e1 = """$.supplier.map({k: s_suppkey, a: {v: s_name.upper().rec(@)}})..v"""
    assert(Graft.backend(spark, sf, e1) == "rowwise")
    assert(rowsOf(Graft.rowwiseCompile(spark, sf, e1).get) ==
      rowsOf(Graft.docFallback(spark, sf, e1)))
    val e2 = """$.supplier.map({k: s_suppkey, a: {v: s_name.upper().rec(@), tag: "x"}})
               |..shape({v, tag})""".stripMargin
    assert(Graft.backend(spark, sf, e2) == "rowwise")
    assert(rowsOf(Graft.rowwiseCompile(spark, sf, e2).get) ==
      rowsOf(Graft.docFallback(spark, sf, e2)))
    // ..find's predicate ranges over ALL nodes including the receiver
    // array itself — not per-row; refused
    assert(Graft.rowwisePlan(
      """$.supplier.map({k: s_suppkey, a: {v: s_name.upper().rec(@)}})..find(v != null)""").isEmpty)
  }

  test("non-row-iterating or trailing-read chain-writes are refused") {
    // write must be the LAST step — a read after it sees the whole doc
    assert(Graft.rowwiseCompile(spark, sf,
      "$.supplier[*].s_acctbal.set(0).count()").isEmpty)
    // path must fan over rows first — a whole-table write isn't per-row
    assert(Graft.rowwiseCompile(spark, sf,
      """$.supplier.s_name.set("x")""").isEmpty)
    // a $ reference in the value reads across rows
    assert(Graft.rowwiseCompile(spark, sf,
      "$.supplier[*].s_acctbal.set($.region.count())").isEmpty)
    // patch batches over two tables can't run per-row on one
    assert(Graft.rowwiseCompile(spark, sf,
      "patch $ { supplier[*].s_acctbal: @.abs(), region[*].r_name: @.upper().rec(@) }").isEmpty)
  }

  // ── query-scoped materialisation + static-schema shortcut ──

  test("interleaved rowwise queries do not evict each other's cache") {
    // each compiled DataFrame holds its own materialised interpreter
    // output for its lifetime (graft.core.Intermediate): two pipelines
    // alternate without evicting each other, and nothing is kept across
    // compiles — a re-compile runs the interpreter once more
    val c = Graft.rowwiseCounters(spark)
    val ea = """$.region.map({k: r_regionkey, u: r_name.title_case().rec(@)})"""
    val eb = """$.nation.map({k: n_nationkey, u: n_name.title_case().rec(@)})"""
    val na = graft.core.Tables(spark, sf, "region").count()
    val nb = graft.core.Tables(spark, sf, "nation").count()
    val before = c.evaluated.value
    val dfa = Graft.rowwiseCompile(spark, sf, ea).get
    val dfb = Graft.rowwiseCompile(spark, sf, eb).get
    dfa.collect(); dfb.collect()
    // one interpreter pass each (these chains carry rec → inference path)
    assert(c.evaluated.value - before == na + nb,
      s"expected ${na + nb} evaluations, got ${c.evaluated.value - before}")
    // alternating re-materializations stay free
    dfa.collect(); dfb.collect()
    assert(c.evaluated.value - before == na + nb,
      s"re-evaluated: ${c.evaluated.value - before} != ${na + nb}")
    // a re-compile costs exactly one more interpreter pass
    Graft.rowwiseCompile(spark, sf, ea).get.collect()
    assert(c.evaluated.value - before == 2 * na + nb,
      s"re-compile: ${c.evaluated.value - before} != ${2 * na + nb}")
    Graft.rowwiseCompile(spark, sf, eb).get.collect()
    assert(c.evaluated.value - before == 2 * (na + nb),
      s"re-compile: ${c.evaluated.value - before} != ${2 * (na + nb)}")
  }

  test("a rewritten table is read as it is now, not as an earlier compile saw it") {
    // the same rowwise text (q_lower_rowwise_fallback's), compiled again
    // in the same session after the table was overwritten at the same
    // path, must answer from the new files
    val e = """$.documents.filter(lang == "en")
              |.map({id: doc_id, nw: text.words().len().rec(@),
              |      blank: text.is_blank().rec(@)})""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graft-rewrite").toString
    try {
      val docs = graft.core.Tables(spark, sf, "documents")
      docs.write.parquet(s"$dir/documents.parquet")
      assert(Graft.backend(spark, dir, e) == "rowwise")
      val ids = (df: DataFrame) =>
        df.select("id").collect().map(_.getLong(0)).toSet
      val first = ids(Graft.query(spark, dir, e))
      val enIds = docs.filter("lang = 'en'").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(first.nonEmpty && first == enIds)
      docs.filter("doc_id % 2 = 0")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val second = ids(Graft.query(spark, dir, e))
      assert(second == enIds.filter(_ % 2 == 0))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("static schema shortcut matches what inference would produce") {
    // provable pipelines: the derived schema must equal the schema
    // spark.read.json infers from the actual interpreter output —
    // field order (alphabetical), widths (long/double), nullability
    val exprs = Seq(
      """$.supplier.filter(s_acctbal >= 0).map({k: s_suppkey, nw: s_name.words().len(), half: s_acctbal / 2})""",
      """$.customer{c_acctbal > 0}.map({k: c_custkey, w: c_mktsegment.words(), nest: {a: c_name, b: c_nationkey}})""",
      """$.documents.filter(lang == "en").map({id: doc_id, w: text.words()}).explode("w")""",
      """$.customer.pick("c_custkey", "c_mktsegment")""",
      """$.nation.omit("n_comment")""",
      """$.supplier.map({k: s_suppkey, big: s_acctbal when s_acctbal > 100})""",
      // a field whose lowering bails still types when its operator
      // fixes the result kind: `~=` over a number is a bool
      """$.customer.map({k: c_custkey, m: c_name ~= 5})""",
      // chain-write / patch rewrites `(expr).table` (round-10 widening):
      // table schema with the written fields' types adjusted — only
      // SAME-json-kind writes are provable (see the cross-kind test)
      """$.documents{lang == "en"}.n_chars.modify(@ * 2)""",
      """$.supplier{s_acctbal < 0}.delete()""",
      """patch $ { documents[*].n_chars: @ * 2 when @ < 50, documents[*].lang: @.upper() }""")
    exprs.foreach { e =>
      val plan = Graft.rowwisePlan(e).get
      val src = graft.core.Tables(spark, sf, plan.table)
      val stat = graft.plans.Lower.rowwiseStaticSchema(src.schema, plan.evalExpr)
      assert(stat.isDefined, s"should prove: $e")
      val inferred = spark.read.json(Graft.rowwiseJson(src, plan)).schema
      assert(stat.get == inferred, s"static ${stat.get.sql} != inferred ${inferred.sql} for $e")
    }
    // NOT provable: rec (untypeable leaf), compact (per-row shape),
    // dynamic keys, scalar streams, presence-changing writes (unset
    // drops a column from every matched line), kind-flipping writes
    Seq(
      """$.region.map({k: r_regionkey, u: r_name.upper().rec(@)})""",
      """$.region.map({k: r_regionkey}).compact()""",
      """$.region.map(r_regionkey)""",
      """$.documents[*].unset("lang")""",
      """$.documents{lang == "en"}.n_chars.modify("s")""").foreach { e =>
      val plan = Graft.rowwisePlan(e)
      assert(plan.isDefined, e)
      val src = graft.core.Tables(spark, sf, plan.get.table)
      assert(graft.plans.Lower.rowwiseStaticSchema(src.schema, plan.get.evalExpr).isEmpty,
        s"should NOT prove: $e")
    }
  }

  test("cross-numeric-kind writes keep the inference path (no 1.0-vs-1 drift)") {
    // round-10 ADVICE: the inferred kind of a long column written with
    // doubles depends on which rows the fan matches at RUNTIME — a [*]
    // fan or an all/zero-match guard leaves only ONE numeric kind in the
    // JSON, so inference gives LONG where a static long∪double union
    // said DOUBLE (long values would then parse as doubles and render
    // 1.0). Cross-kind writes must therefore not prove a static schema.
    Seq(
      """$.documents{lang == "en"}.n_chars.set(@ * 1.5)""", // long ← double, guarded
      """$.documents[*].n_chars.set(@ * 1.5)""",            // long ← double, all rows
      """patch $ { documents[*].n_chars: @ * 1.5 }""").foreach { e =>
      val plan = Graft.rowwisePlan(e)
      assert(plan.isDefined, e)
      val src = graft.core.Tables(spark, sf, plan.get.table)
      assert(graft.plans.Lower.rowwiseStaticSchema(src.schema, plan.get.evalExpr).isEmpty,
        s"cross-kind write must not prove: $e")
    }
    // behavioral pin: a zero-match guard leaves every n_chars a LONG —
    // the inference path keeps them longs (renders 42, never 42.0),
    // matching the whole-document interpreter bit-for-bit
    val e = """$.documents{lang == "zz-none"}.n_chars.set(@ * 1.5)"""
    val rw  = Graft.rowwiseCompile(spark, sf, e).get
    val doc = Graft.docFallback(spark, sf, s"($e).documents")
    val got = rowsOf(rw)
    assert(got.nonEmpty && got == rowsOf(doc))
    assert(!got.head.matches(""".*"n_chars":\d+\.0.*"""), got.head)
  }

  test("provable chains compile with ZERO interpreter work (no inference scan)") {
    val c = Graft.rowwiseCounters(spark)
    // the guarded field bails the relational shape lowering (shapeCols:
    // "map shape field unsupported") but still types statically, so the
    // chain lands on the rowwise rung WITH a proven schema
    val e = """$.supplier.map({k: s_suppkey, nw: s_name.words().len(),
              |               big: s_acctbal when s_acctbal > 100})""".stripMargin
    assert(Graft.backend(spark, sf, e) == "rowwise")
    val before = c.evaluated.value
    val rw = Graft.rowwiseCompile(spark, sf, e).get // static schema: no inference pass
    assert(c.evaluated.value == before,
      s"compile ran the interpreter ${c.evaluated.value - before} times")
    val n = graft.core.Tables(spark, sf, "supplier").count()
    rw.collect() // the one interpreter pass, materialising the strings
    rw.collect() // this DataFrame's own materialised strings
    assert(c.evaluated.value - before == n,
      s"interpreter ran ${c.evaluated.value - before} times for $n rows")
    // and the rows equal the document interpreter's (inference path)
    assert(rowsOf(rw) == rowsOf(Graft.docFallback(spark, sf, e)))
  }

  test("docFallback is capped by spark.graft.docFallback.maxRows") {
    val key = "spark.graft.docFallback.maxRows"
    spark.conf.set(key, "3") // supplier has 10 rows at sf0.001
    try {
      val e = """$.supplier.sort_by(s_name.rec(@)).map({k: s_suppkey})"""
      val err = intercept[IllegalStateException] {
        Graft.query(spark, sf, e).collect()
      }
      assert(err.getMessage.contains(key) &&
        err.getMessage.contains("does not lower"), err.getMessage)
    } finally spark.conf.unset(key)
  }

  test("under the cap the document fallback still answers") {
    val e = """$.region.sort_by(r_name.rec(@)).map({k: r_regionkey})"""
    assert(Graft.backend(spark, sf, e) == "document")
    assert(Graft.query(spark, sf, e).count() == 5)
  }

  test("walk/walk_pre/rec qualify only with an array-identity kind guard") {
    // reference walk_apply/rec_apply transform the RECEIVER too
    // (array.rs:693-755) — the full stream in doc mode, a singleton
    // here — so only lambdas provably identity on arrays distribute
    val guarded =
      """$.supplier.map({k: s_suppkey, n: s_name})
        |.walk(lambda x: x.upper() if x is string and x != "" else x)""".stripMargin
    assert(Graft.rowwisePlan(guarded).isDefined)
    assert(rowsOf(Graft.rowwiseCompile(spark, sf, guarded).get) ==
      rowsOf(Graft.docFallback(spark, sf, guarded)))
    val pre = guarded.replace(".walk(", ".walk_pre(")
    assert(Graft.rowwisePlan(pre).isDefined)
    assert(rowsOf(Graft.rowwiseCompile(spark, sf, pre).get) ==
      rowsOf(Graft.docFallback(spark, sf, pre)))
    // guarded rec at top level: identity on the stream — but the
    // QUALIFICATION is what distributes; result matches doc mode
    val recTop =
      """$.supplier.map({k: s_suppkey, b: s_acctbal})
        |.rec(@ - 9 if @ is number and @ > 100 else @)""".stripMargin
    assert(Graft.rowwisePlan(recTop).isDefined)
    assert(rowsOf(Graft.rowwiseCompile(spark, sf, recTop).get) ==
      rowsOf(Graft.docFallback(spark, sf, recTop)))
    // refused: no guard (the lambda would see the whole stream array)
    assert(Graft.rowwisePlan(
      "$.supplier.map({k: s_suppkey}).walk(lambda x: x)").isEmpty)
    // refused: an array guard transforms the receiver itself
    assert(Graft.rowwisePlan(
      "$.supplier.map({k: s_suppkey}).walk(lambda x: x.reverse() if x is array else x)").isEmpty)
    // refused: kind guard not the FIRST conjunct
    assert(Graft.rowwisePlan(
      """$.supplier.map({k: s_suppkey, n: s_name})
        |.walk(lambda x: x.upper() if x != "" and x is string else x)""".stripMargin).isEmpty)
    // refused: else branch is not the bare parameter
    assert(Graft.rowwisePlan(
      "$.supplier.map({k: s_suppkey}).walk(lambda x: x.upper() if x is string else 0)").isEmpty)
    // refused: a $ reference reads across rows
    assert(Graft.rowwisePlan(
      "$.supplier.map({k: s_suppkey}).walk(lambda x: $.region.count() if x is number else x)").isEmpty)
  }

  test("per-row eval errors drop the row AND tick graft.rowwise.erroredRows") {
    // the SCALE.md per-row tier: an EvalException nulls the row and the
    // explode drops it — but the dropped mass must be OBSERVABLE.
    // Division by a zero denominator errors loudly in the interpreter
    // (reference-exact), so every supplier row is dropped and counted.
    val c = Graft.rowwiseCounters(spark)
    val before = c.errored.value
    val e = "$.supplier.map({k: s_suppkey, x: 10 / (s_acctbal - s_acctbal)})"
    val rw = Graft.rowwiseCompile(spark, sf, e).get
    assert(rw.count() == 0)
    val n = graft.core.Tables(spark, sf, "supplier").count()
    assert(c.errored.value - before == n,
      s"expected $n dropped rows counted, got ${c.errored.value - before}")
    // a healthy query leaves the counter untouched
    val mid = c.errored.value
    Graft.rowwiseCompile(spark, sf, rowwiseExpr).get.collect()
    assert(c.errored.value == mid)
  }

  test("a malformed from_json row drops and counts through the struct-fed UDF") {
    // its text twin jetro_eval nulls the same row; a JsonParseException
    // out of the struct-fed UDF once failed the whole job
    import org.apache.spark.sql.functions.{col, explode, struct}
    val ss = spark
    import ss.implicits._
    val df = Seq("{bad", """{"k": 7}""").toDF("props").select(struct(col("props")).as("doc"))
    val docType = df.schema("doc").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val errored = Graft.rowwiseCounters(spark).errored
    val before = errored.value
    val got = df.select(explode(jexpr.Jetro.jetroEvalElemsStruct(
      "$.props.from_json().k", col("doc"), docType, None, Some(errored)))).as[String].collect()
    assert(got.toSeq == Seq("7"))
    assert(errored.value - before == 1, s"errored grew by ${errored.value - before}")
  }

  // ── the chain's leading filters run in the scan ──

  private val words = "nw: s_name.words().len().rec(@)"

  /** Rows of sf0.001 `supplier` (10) matching the SQL predicate. */
  private def suppliers(sqlPred: String): Long =
    graft.core.Tables(spark, sf, "supplier").filter(sqlPred).count()

  test("a leading filter runs in the scan: the interpreter sees only its rows") {
    val e = s"$$.supplier{s_suppkey < 4}.map({k: s_suppkey, $words})"
    assert(Graft.backend(spark, sf, e) == "rowwise")
    var got = Vector.empty[String]
    val n = SparkSpec.interpreterRowsDuring(spark) {
      got = rowsOf(Graft.rowwiseCompile(spark, sf, e).get)
    }
    assert(n == suppliers("s_suppkey < 4") && n == 4, s"interpreter ran on $n rows")
    assert(got.size == 4 && got == rowsOf(Graft.docFallback(spark, sf, e)))
  }

  test("a row the scan filter cannot evaluate reaches the interpreter") {
    // the lowered division raises on a zero denominator (raise_error);
    // the scan keeps such a row and the interpreter drops and counts it,
    // exactly as when the interpreter saw every row
    val e = s"$$.supplier{10 / (s_acctbal - s_acctbal) > 1}.map({k: s_suppkey, $words})"
    val plan = Graft.rowwisePlan(e).get
    val src = graft.core.Tables(spark, sf, "supplier")
    assert(graft.plans.Lower.scanFilter(src, plan.leadingFilters) ne src,
      "the division predicate should lower into the scan")
    val errored = Graft.rowwiseCounters(spark).errored
    val before = errored.value
    val n = SparkSpec.interpreterRowsDuring(spark) {
      assert(Graft.rowwiseCompile(spark, sf, e).get.count() == 0)
    }
    assert(n == 10 && errored.value - before == 10,
      s"evaluated $n, errored ${errored.value - before}")
  }

  test("a comparison across kinds over a raising operand reaches the interpreter") {
    // `10 / 0 > "x"`: the interpreter raises on the division before it
    // compares, so every row errors; a constant `false` in the scan
    // would drop the rows before the interpreter counted them
    val e = s"$$.supplier{10 / (s_acctbal - s_acctbal) > \"x\"}.map({k: s_suppkey, $words})"
    val errored = Graft.rowwiseCounters(spark).errored
    val before = errored.value
    val n = SparkSpec.interpreterRowsDuring(spark) {
      assert(Graft.rowwiseCompile(spark, sf, e).get.count() == 0)
    }
    assert(n == 10 && errored.value - before == 10,
      s"evaluated $n, errored ${errored.value - before}")
  }

  test("a filter on a date is not pushed: the interpreter compares it as text") {
    // RowBridge hands `o_orderdate` to the interpreter as
    // "1995-06-19T00:00:00.000Z", which is `> "1995-06-19"` and
    // `!= "1995-06-19"` as text; Spark casts the literal to a timestamp
    // and would drop the 5 orders of that day
    val src = graft.core.Tables(spark, sf, "orders")
    assert(src.filter("o_orderdate = timestamp'1995-06-19'").count() == 5)
    Seq("""{o_orderdate > "1995-06-19"}""", """{o_orderdate != "1995-06-19"}""",
        """{o_orderdate > "1995"}""").foreach { f =>
      val e = s"$$.orders$f.map({k: o_orderkey, n: o_orderpriority.words().len().rec(@)})"
      assert(Graft.backend(spark, sf, e) == "rowwise", e)
      assert(graft.plans.Lower.scanFilter(src, Graft.rowwisePlan(e).get.leadingFilters) eq src, e)
      val got = rowsOf(Graft.rowwiseCompile(spark, sf, e).get)
      assert(got.nonEmpty && got == rowsOf(Graft.docFallback(spark, sf, e)), e)
    }
  }

  test("chain-writes and patch $ keep their unmatched rows: nothing is pushed") {
    Seq(
      "$.supplier{s_suppkey < 3}.s_acctbal.set(1)",
      "patch $ { supplier[* if s_suppkey < 3].s_name: @.upper().rec(@) }").foreach { e =>
      assert(Graft.backend(spark, sf, e) == "rowwise", e)
      val rw = Graft.rowwiseCompile(spark, sf, e).get
      assert(rw.count() == 10, e)
      assert(rowsOf(rw) ==
        rowsOf(Graft.docFallback(spark, sf, Graft.rowwisePlan(e).get.evalExpr)), e)
      assert(Graft.rowwisePlan(e).get.leadingFilters.isEmpty, e)
    }
  }

  test("only the leading run of lowerable filters is pushed") {
    val noLower = "{s_name.words().len().rec(@) >= 1}"
    // the first filter does not lower: nothing is pushed, not even the
    // lowerable filter after it
    val e1 = s"$$.supplier$noLower{s_suppkey < 4}.map({k: s_suppkey, $words})"
    // a lowerable filter, one that does not lower, and a lowerable one:
    // only the first is pushed
    val e2 = s"$$.supplier{s_suppkey < 4}$noLower.filter(s_suppkey > 1).map({k: s_suppkey, $words})"
    Seq(e1 -> 10L, e2 -> suppliers("s_suppkey < 4")).foreach { case (e, want) =>
      assert(Graft.backend(spark, sf, e) == "rowwise", e)
      var got = Vector.empty[String]
      val n = SparkSpec.interpreterRowsDuring(spark) {
        got = rowsOf(Graft.rowwiseCompile(spark, sf, e).get)
      }
      assert(n == want, s"interpreter ran on $n rows, want $want: $e")
      assert(got.nonEmpty && got == rowsOf(Graft.docFallback(spark, sf, e)), e)
    }
  }

  import org.apache.spark.sql.execution.SparkPlan

  /** Every node of an executed plan, adaptive stages included. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case _                        => p.children
    }).flatMap(nodes)
  }

  private def executed(ds: org.apache.spark.sql.Dataset[_]): SparkPlan = {
    ds.collect()
    ds.queryExecution.executedPlan
  }

  test("a filter that cannot raise is pushed to the parquet reader") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val e = s"$$.customer{c_acctbal > 1000}.map({k: c_custkey, n: c_name.words().len().rec(@)})"
    assert(Graft.backend(spark, sf, e) == "rowwise")
    val plan = Graft.rowwisePlan(e).get
    val scans = nodes(executed(Graft.rowwiseJson(
      graft.core.Tables(spark, sf, plan.table), plan))).collect {
      case s: FileSourceScanExec => s.metadata.getOrElse("PushedFilters", "")
    }
    assert(scans.exists(_.contains("c_acctbal")), s"pushed filters: $scans")
    val got = rowsOf(Graft.rowwiseCompile(spark, sf, e).get)
    assert(got.nonEmpty && got == rowsOf(Graft.docFallback(spark, sf, e)))
  }

  test("only the conjuncts before the first raising one go bare") {
    // the interpreter's `and` stops at its first falsy operand, so a row
    // it would raise on is one whose raising operand it reaches
    val div = "10 / (s_acctbal - s_acctbal) > 1"
    Seq(s"{s_suppkey < 4 and $div}" -> suppliers("s_suppkey < 4"),
        s"{$div and s_suppkey < 4}" -> 10L,
        s"{$div}{s_suppkey < 4}" -> 10L).foreach { case (f, want) =>
      val e = s"$$.supplier$f.map({k: s_suppkey, $words})"
      val errored = Graft.rowwiseCounters(spark).errored
      val before = errored.value
      val n = SparkSpec.interpreterRowsDuring(spark) {
        assert(Graft.rowwiseCompile(spark, sf, e).get.count() == 0, e)
      }
      assert(n == want && errored.value - before == want,
        s"evaluated $n, errored ${errored.value - before}, want $want: $e")
    }
  }

  test("the scan filter sits below the spread exchange and the interpreter") {
    import org.apache.spark.sql.execution.{FilterExec, GenerateExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // `events` is the table the spread repartitions at this scale
    Seq(("events", "{event_id < 50}.map({k: event_id, n: props.words().len().rec(@)})",
         "event_id"),
        ("supplier", s"{s_suppkey < 4}.map({k: s_suppkey, $words})", "s_suppkey")).foreach {
      case (table, chain, key) =>
        val plan = Graft.rowwisePlan(s"$$.$table$chain").get
        val src = graft.core.Tables.spreadCompute(graft.core.Tables(spark, sf, table))
        val filtered = nodes(executed(Graft.rowwiseJson(src, plan)))
        val unfiltered = nodes(executed(
          Graft.rowwiseJson(src, plan.copy(leadingFilters = Vector.empty))))
        val exchanges = filtered.collect { case x: ShuffleExchangeLike => x }
        assert(exchanges.size ==
          unfiltered.count(_.isInstanceOf[ShuffleExchangeLike]), table)
        if (table == "events") assert(exchanges.nonEmpty, "events should spread")
        val filter = filtered.collectFirst {
          case f: FilterExec if f.condition.references.exists(_.name == key) => f
        }
        assert(filter.isDefined, s"no scan filter in ${filtered.head}")
        def above(p: SparkPlan): Boolean = nodes(p).exists(_ eq filter.get)
        assert(exchanges.forall(x => above(x.asInstanceOf[SparkPlan])), table)
        assert(filtered.exists { case g: GenerateExec => above(g); case _ => false },
          table)
    }
  }
}
