package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.jexpr.{JArr, JBool, JFloat, JInt, JNull, JObj, JStr, JValue, Jetro}
import scala.collection.immutable.{ListMap, VectorMap}

/** Differential contract for `merge`/`deep_merge` over object-valued
  * shapes (round 10): STRUCT receivers with struct-shaped args
  * (Lower.structMergeMethod) and `map<string, struct>` lanes
  * (Lower.mapMethod's schema-directed deep_merge). Shapes have static
  * depth, so the interpreter's (JObj, JObj) recursion compiles to a
  * bounded field-wise merge into the shape union.
  *
  * Comparison is bridge-canonical (null object entries drop from both
  * sides — a typed null field ≡ an absent key), sorted by key in the
  * all-rows pass and order-SENSITIVE on fully-defined rows, mirroring
  * StructPathSpec's two-pass discipline.
  */
class StructMergeSpec extends SparkSpec {

  private val valSt = StructType(Seq(
    StructField("u", LongType), StructField("v", StringType)))
  private val valSt2 = StructType(Seq(
    StructField("u", LongType), StructField("w", LongType)))

  private val docType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("cfg", StructType(Seq(
      StructField("a", StructType(Seq(
        StructField("b", LongType),
        StructField("c", StringType))), nullable = true),
      StructField("d", LongType))), nullable = true),
    StructField("meta", StructType(Seq(
      StructField("x", StringType))), nullable = true),
    StructField("nest", MapType(StringType, valSt, valueContainsNull = true),
      nullable = true),
    StructField("nest2", MapType(StringType, valSt2, valueContainsNull = true),
      nullable = true),
    // round 11: map-of-map lanes + struct receivers with MAP fields
    StructField("mom", MapType(StringType,
      MapType(StringType, LongType, valueContainsNull = true),
      valueContainsNull = true), nullable = true),
    StructField("mom2", MapType(StringType,
      MapType(StringType, LongType, valueContainsNull = true),
      valueContainsNull = true), nullable = true),
    StructField("mix", StructType(Seq(
      StructField("n", LongType),
      StructField("mp", MapType(StringType, LongType,
        valueContainsNull = true)))), nullable = true),
    StructField("mix2", StructType(Seq(
      StructField("mp", MapType(StringType, LongType,
        valueContainsNull = true)),
      StructField("m2", LongType))), nullable = true)))

  /** Nulls at every level: whole cfg (3), cfg.a (6), cfg.a.b (9),
    * meta (evens), whole nest (5), null nest ENTRY value (7), null
    * struct field inside an entry (11), nest2 (13), overlapping and
    * disjoint keys across nest/nest2. */
  private lazy val docs = {
    val keys = Vector("p", "q", "r")
    val rows = (0 until 24).map { i =>
      val a =
        if (i == 6) null
        else Row(if (i == 9) null else java.lang.Long.valueOf(i * 3L), s"c$i")
      val cfg = if (i == 3) null else Row(a, java.lang.Long.valueOf(i % 5L))
      val meta = if (i % 2 == 0) null else Row(s"x$i")
      val nest =
        if (i == 5) null
        else ListMap((0 until i % 3).map { j =>
          keys((i + j) % 3) -> (
            if (i == 7 && j == 0) null
            else Row(
              if (i == 11) null else java.lang.Long.valueOf(i + j * 10L),
              s"v${(i + j) % 4}"))
        }: _*)
      val nest2 =
        if (i == 13) null
        else ListMap((0 until (i + 1) % 3).map { j =>
          keys((i + 2 * j) % 3) ->
            Row(java.lang.Long.valueOf(i * 2L), java.lang.Long.valueOf(j.toLong))
        }: _*)
      // map-of-map: whole null (8), null ENTRY value (14 first key),
      // empty inner map (15), overlapping + disjoint keys vs mom2 (16)
      val mom =
        if (i == 8) null
        else ListMap((0 until i % 3).map { j =>
          keys((i + j) % 3) -> (
            if (i == 14 && j == 0) null
            else if (i == 15) ListMap.empty[String, java.lang.Long]
            else ListMap(
              "x"        -> java.lang.Long.valueOf(i + j * 10L),
              s"k${j % 2}" -> java.lang.Long.valueOf(j.toLong)))
        }: _*)
      val mom2 =
        if (i == 16) null
        else ListMap((0 until (i + 1) % 3).map { j =>
          keys((i + 2 * j) % 3) -> (
            if (i == 18 && j == 0) null
            else ListMap(
              "x" -> java.lang.Long.valueOf(i * 2L),
              "z" -> java.lang.Long.valueOf(j + 100L)))
        }: _*)
      // struct receivers with a MAP field: whole null (17), null map
      // field (19), overlapping inner keys
      val mix =
        if (i == 17) null
        else Row(java.lang.Long.valueOf(i.toLong),
          if (i == 19) null
          else ListMap("k" -> java.lang.Long.valueOf(i % 7L),
                       s"w$i" -> java.lang.Long.valueOf(2L)))
      val mix2 =
        if (i == 20) null
        else Row(
          if (i == 21) null
          else ListMap("k" -> java.lang.Long.valueOf(i + 50L),
                       "z" -> java.lang.Long.valueOf(9L)),
          java.lang.Long.valueOf(i * 5L))
      Row(i.toLong, cfg, meta, nest, nest2, mom, mom2, mix, mix2)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), docType)
  }

  private def toJ(v: Any): JValue = v match {
    case null => JNull
    case r: Row =>
      JObj(VectorMap.from(r.schema.fieldNames.zipWithIndex.map {
        case (n, i) => n -> toJ(r.get(i))
      }))
    case m: scala.collection.Map[_, _] =>
      JObj(VectorMap.from(m.toSeq.map { case (k, v) => k.toString -> toJ(v) }))
    case s: scala.collection.Seq[_] => JArr(s.map(toJ).toVector)
    case l: Long    => JInt(l)
    case i: Int     => JInt(i.toLong)
    case d: Double  => JFloat(d)
    case s: String  => JStr(s)
    case b: Boolean => JBool(b)
    case other      => fail(s"unmapped Spark value $other (${other.getClass})")
  }

  private def bridgeCanon(v: JValue, sortKeys: Boolean): JValue = v match {
    case JObj(fs) =>
      val kept = fs.toVector.collect {
        case (k, x) if x != JNull => k -> bridgeCanon(x, sortKeys)
      }
      JObj(VectorMap.from(if (sortKeys) kept.sortBy(_._1) else kept))
    case JArr(xs) => JArr(xs.map(bridgeCanon(_, sortKeys)))
    case other    => other
  }

  private def jEq(a: JValue, b: JValue): Boolean = (a, b) match {
    case (JInt(x), JFloat(y)) => x.toDouble == y
    case (JFloat(x), JInt(y)) => x == y.toDouble
    case (JArr(xs), JArr(ys)) =>
      xs.length == ys.length && xs.lazyZip(ys).forall(jEq)
    case (JObj(xs), JObj(ys)) =>
      xs.size == ys.size &&
        xs.toVector.lazyZip(ys.toVector).forall {
          case ((k1, v1), (k2, v2)) => k1 == k2 && jEq(v1, v2)
        }
    case _ => a == b
  }

  private def differential(expr: String, sortKeys: Boolean = true,
      rows: org.apache.spark.sql.DataFrame = docs): Unit = {
    val doc = struct(docType.fieldNames.map(col): _*)
    val nativeCol = Jetro.evalNative(expr, doc, docType)
      .getOrElse(fail(s"did not lower: $expr"))
    val both = rows
      .select(col("id"), nativeCol.as("native"), to_json(doc).as("json"))
      .orderBy("id")
      .collect()
    val compiled = Jetro.compile(expr)
    both.foreach { r =>
      val native = bridgeCanon(toJ(r.get(1)), sortKeys)
      val interp = bridgeCanon(
        try compiled.evalValue(JValue.parse(r.getString(2)))
        catch { case _: jexpr.EvalException => JNull }, sortKeys)
      assert(jEq(native, interp),
        s"row id=${r.getLong(0)} expr=$expr native=${native.render} interp=${interp.render}")
    }
  }

  // `$.cfg.deep_merge(x)` at doc root is a chain-WRITE in both engines
  // (Interp.chainWrite / Lower.isRootChainWrite: it evaluates to the
  // patched document) — the VALUE forms live off root paths, as in
  // every real usage (`map({m: x.deep_merge(y)})`). The identity
  // `del_path("zz9")` prefix is a value op, so it moves the receiver
  // into value position without changing it — the struct analogue of
  // MapColumnSpec's `transform_values(@)` prefix.
  private val C = "$.cfg.del_path(\"zz9\")"
  private val N = "$.nest.del_path(\"zz9\")"
  private val N2 = "$.nest2.del_path(\"zz9\")"

  private def refuses(expr: String): Unit = {
    val doc = struct(docType.fieldNames.map(col): _*)
    assert(Jetro.evalNative(expr, doc, docType).isEmpty,
      s"should stay doc-mode: $expr")
  }

  test("deep_merge over struct receivers matches the interpreter") {
    Seq(
      // in-place recursive update + appended keys at both depths
      s"$C.deep_merge({a: {b: 7}})",
      s"$C.deep_merge({a: {z: 1}, q: 2})",
      s"$C.deep_merge({d: 9})",
      // struct column arg; multi-arg left fold
      s"$C.deep_merge($$.meta)",
      s"$C.deep_merge({d: 4}, {a: {c: \"q\"}, e: 1})",
      // read-back through the merged type (dtOf mirror)
      s"$C.deep_merge({a: {z: 1}}).a.z",
      s"$C.deep_merge({q: 2}).q + 1",
      s"$C.deep_merge($$.meta).x",
      // multiple common fields updated in one arg
      s"$C.deep_merge({a: {b: 5}, d: 0})"
    ).foreach(differential(_))
  }

  test("shallow merge over struct receivers matches the interpreter") {
    Seq(
      // common object field: the arg side wins WHOLESALE (no recursion)
      s"$C.merge({a: {z: 9}})",
      s"$C.merge({a: {z: 9}}).a.z",
      s"$C.merge({q: 1})",
      s"$C.merge($$.meta, {d: 1})",
      // null arg keeps the accumulator (objOnly {} coercion) — unlike
      // deep_merge, where a null arg wins wholesale (next test)
      s"$C.merge($$.meta).d"
    ).foreach(differential(_))
  }

  test("deep_merge over map<string, struct> lanes matches the interpreter") {
    Seq(
      // colliding keys merge field-wise into the shape union; disjoint
      // keys append in arg order; null entry VALUES follow
      // `(_, other) => other` (arg null nulls the entry)
      s"$N.deep_merge($N2)",
      s"$N.deep_merge({p: {u: 9, v: \"z\"}})",
      s"$N.deep_merge({p: {u: 9}, zz: {u: 1}})",
      s"$N2.deep_merge($N)",
      // read-backs through get_path (map segment then merged struct)
      s"$N.deep_merge($$.nest2).get_path(\"p.u\")",
      s"$N.deep_merge($$.nest2).get_path(\"p.w\")",
      // chained with the rest of the map lane
      s"$N.deep_merge($$.nest2).keys()",
      s"$N.deep_merge($$.nest2).len()"
    ).foreach(differential(_))
  }

  test("deep_merge over map-of-map and map-fielded struct lanes matches the interpreter (round 11)") {
    // identity del_path prefixes keep the chains off the root
    // chain-WRITE shape (isRootChainWrite), like $N/$N2 above
    val M  = "$.mom.del_path(\"zz9\")"
    val M2 = "$.mom2.del_path(\"zz9\")"
    val X  = "$.mix.del_path(\"zz9\")"
    val X2 = "$.mix2.del_path(\"zz9\")"
    Seq(
      // map-of-map: colliding entries recurse one level (inner maps
      // merge in place / append), a PRESENT-null entry value follows
      // `(_, other) => other`, disjoint keys append in arg order
      s"$M.deep_merge($M2)",
      s"$M2.deep_merge($M)",
      s"$M.deep_merge($M2).get_path(\"p.x\")",
      s"$M.deep_merge($M2).get_path(\"p.z\")",
      s"$M.deep_merge($M2).keys()",
      s"$M.deep_merge($M2).len()",
      // shallow merge replaces colliding inner maps wholesale
      s"$M.merge($M2)",
      // struct receivers whose common field is MAP-typed: deep_merge
      // recurses into the maps; a null struct FIELD ≡ absent (bridge)
      s"$X.deep_merge($X2)",
      s"$X2.deep_merge($X)",
      s"$X.deep_merge($X2).get_path(\"mp.k\")",
      s"$X.deep_merge($X2).get_path(\"mp.z\")",
      s"$X.deep_merge($X2).n"
    ).foreach(differential(_))
    // a struct-literal arg against a map-of-map lane would need its
    // struct values held in the map's map-value lane — stays doc-mode
    refuses(s"$M.deep_merge({p: {x: 9}})")
  }

  test("heterogeneous values/entries fuse with display consumers (round 11)") {
    // cfg.a = {b: long, c: string}: no single-typed value lane exists,
    // but join consumes only DISPLAY forms and len only the present-key
    // count — the fieldChain peephole fuses those pairs; raw read-backs
    // stay doc-mode
    Seq(
      "$.cfg.a.values().join(\",\")",
      "$.cfg.a.values().join(\"\")",
      "$.cfg.a.entries().len()",
      "$.cfg.a.entries().count()",
      // homogeneous atomic lanes keep the raw values() lane, and the
      // widened display-join now covers numeric arrays too
      "$.nest2.values().len()"
    ).foreach(differential(_))
    refuses("$.cfg.a.values()")            // raw heterogeneous read-back
    refuses("$.cfg.a.entries()")
    refuses("$.cfg.a.values().first()")    // non-display consumer
    // manufactured-present-null doctrine: pick writes a missed/null key
    // as PRESENT null — the interpreter's values() then yields [null]
    // (join → "null") while the bridge view reads it absent ([] → "").
    // The typed lane keeps the bridge view; pinned explicitly here.
    val doc = struct(docType.fieldNames.map(col): _*)
    val pj = Jetro.evalNative("$.cfg.a.pick(\"b\").values().join(\",\")", doc, docType).get
    val row9 = docs.filter(col("id") === 9L).select(pj).collect().head
    assert(row9.getString(0) == "", s"bridge view expected '', got $row9")
  }

  test("deep set_path/del_path into map<string, struct> entries matches the interpreter") {
    // round-10 follow-on: the first segment is the map KEY, the rest
    // walks the one entry's struct — in-place value update (or a fresh
    // appended entry), every other entry re-shaped with nulls for
    // appended fields; del_path nulls the leaf inside the entry (≡
    // absent through the bridge) so the value type never changes
    Seq(
      // update an existing field of an existing entry (type kept)
      s"$N.set_path(\"p.u\", 99)",
      s"$N.set_path(\"p.u\", 99).get_path(\"p.u\")",
      // append a NEW field inside the entry (other entries widen with nulls)
      s"$N.set_path(\"p.z\", 7)",
      s"$N.set_path(\"p.z\", 7).get_path(\"q.u\")",
      // missing map key: fresh entry appended at the END
      s"$N.set_path(\"zz.u\", 1)",
      s"$N.set_path(\"zz.u\", 1).keys()",
      // delete a field inside one entry; other entries keep it
      s"$N.del_path(\"p.u\")",
      s"$N.del_path(\"p.u\").get_path(\"q.u\")",
      s"$N.del_path(\"p.u\").has_path(\"p.u\")",
      // identity: field/entry missing from the walk
      s"$N.del_path(\"p.zz\")",
      s"$N.del_path(\"zz.u\").keys()"
    ).foreach(differential(_))
    // re-typing a field shared with the untouched entries stays
    // doc-mode — whether directly (long → string) or by coercing a
    // scalar field into a nested object mid-path
    refuses(s"$N.set_path(\"p.u\", \"s\")")
    refuses(s"$N.set_path(\"p.u.w\", 5)")
  }

  test("object builtins over struct receivers match the interpreter") {
    // round-10 widening (Lower.structObjMethod): presence-filtered
    // reads of the static fields — key presence is the bridge rule
    // (non-null field), entry order the struct field order. These are
    // read ops, so bare `$.cfg` receivers are fine (no chain-write
    // shape).
    Seq(
      "$.cfg.keys()",
      "$.meta.keys()",
      "$.cfg.len()",
      "$.cfg.len() + 1 ?? -1",
      "$.meta.len()",
      "$.meta.values()",
      "$.cfg.pick(\"d\").values()",
      "$.meta.entries()",
      "$.meta.to_pairs()",
      "$.cfg.pick(\"d\").keys()",
      "$.cfg.omit(\"a\")",
      "$.cfg.omit(\"nope\")",
      "$.cfg.omit(\"a\").len()",
      "$.cfg.defaults({q: 1, d: 9})",
      "$.cfg.defaults({q: 1, d: 9}).q",
      "$.cfg.defaults($.meta)",
      "$.meta.invert()",
      "$.cfg.pick(\"d\").invert()"
    ).foreach(differential(_))
    // DOCTRINE PIN (the struct-`has` bridge rule): pick manufactures
    // present-with-null keys from misses ({a: null} where cfg.a is
    // null), which a typed struct cannot represent — downstream
    // keys()/len() on the lane see the BRIDGE view (null ≡ absent),
    // [] where the interpreter reports ["a"]. Pinned, not hidden.
    locally {
      val doc = struct(docType.fieldNames.map(col): _*)
      val kc = Jetro.evalNative("$.cfg.pick(\"a\").keys()", doc, docType).get
      val row6 = docs.filter(col("id") === 6L).select(kc).head.getSeq[String](0)
      assert(row6 == Seq.empty, s"bridge view expected [] on the null-a row, got $row6")
    }
    // a key outside the schema: pick emits it present-with-null, which
    // no struct field can carry, so it stays doc-mode
    refuses("$.cfg.pick(\"d\", \"nope\")")
    // heterogeneous kinds stay doc-mode
    refuses("$.cfg.values()")
    refuses("$.cfg.entries()")
    refuses("$.cfg.invert()")
    refuses("$.cfg.omit(\"a\", \"d\")") // would drop every field
  }

  test("to_json/to_string over struct and struct-valued map lanes match render") {
    // Spark's to_json vs the interpreter's render of the bridged doc:
    // null struct fields omitted both sides, null map entries kept
    // both sides, identical escaping (RowBridge fidelity contract)
    Seq(
      "$.cfg.to_json()",
      "$.cfg.to_string()",
      "$.meta.to_json()",
      "$.cfg.pick(\"d\").to_json()",
      "$.nest.to_json()",
      "$.nest.del_path(\"zz9\").deep_merge($.nest2).to_json()",
      "$.cfg.to_json().len()"
    ).foreach(differential(_))
  }

  test("filter/transform keys/values over struct receivers match the interpreter") {
    Seq(
      // filter_values: per-field predicate, filtered-out ≡ absent
      "$.meta.filter_values(@.starts_with(\"x\"))",
      "$.meta.filter_values(@ != null and @.len() > 2)",
      "$.cfg.pick(\"d\").filter_values(@ > 2)",
      // transform_values: per-field body lanes (fields independent)
      "$.meta.transform_values(@.upper())",
      "$.cfg.pick(\"d\").transform_values((@ ?? 0) * 2)",
      "$.meta.transform_values(@.upper()).x",
      // filter_keys / transform_keys: static key bodies evaluated at
      // plan time through the interpreter itself
      "$.cfg.filter_keys(@ == \"d\")",
      "$.cfg.filter_keys(@.len() == 1).keys()",
      "$.cfg.transform_keys(@.upper())",
      "$.cfg.transform_keys(@.upper()).D",
      "$.meta.transform_keys(lambda k: k + \"2\")",
      // constant-key collision among SAME-kind fields: FPLV — value is
      // the last PRESENT collider (reverse coalesce)
      "$.cfg.pick(\"d\").set(\"e\", 5).transform_keys(\"k\")",
      "$.cfg.pick(\"d\").set(\"e\", 5).transform_keys(\"k\").k"
    ).foreach(differential(_))
    // row references in key bodies, whole-object drops, and bodies
    // that cannot type against every field stay doc-mode
    refuses("$.cfg.filter_keys(@ == $.meta.x)")
    refuses("$.cfg.filter_keys(@ == \"nope\")")
    refuses("$.cfg.transform_values(@.upper())") // body cannot type on a/d
    refuses("$.cfg.transform_keys(\"k\")")       // struct+long collision
  }

  test("set/update/rename over struct receivers match the interpreter") {
    Seq(
      // set(k, v) ≡ one-segment set_path: in-place or append, {} on null
      "$.cfg.set(\"d\", 42)",
      "$.cfg.set(\"q\", 1).q",
      "$.cfg.set(\"a\", {z: 3}).a",
      // update(k, λ): body reads the (bridge-absent → null) field
      "$.cfg.update(\"d\", @ ?? -1)",
      "$.cfg.update(\"d\", (@ ?? 0) * 2).d",
      "$.meta.update(\"x\", @.upper() ?? \"-\")",
      // rename: in-place-at-target vs append-at-end; identity on miss
      "$.cfg.rename(\"d\", \"dd\")",
      "$.cfg.rename(\"d\", \"dd\").dd",
      "$.cfg.rename(\"nope\", \"x\")",
      "$.cfg.rename(\"a\", \"b\").b.c ?? \"-\""
    ).foreach(differential(_))
    refuses("$.cfg.update(\"nope\", @ ?? 1)") // key outside the schema
    refuses("$.cfg.rename(\"a\", \"d\")")     // struct-vs-long target kind
  }

  test("flatten_keys/unflatten_keys over struct lanes match the interpreter") {
    // static schema walk: dotted leaf keys in DFS pre-order; the
    // inverse is a setPath fold over the dotted names (shared with the
    // set_path lane). Null intermediates yield null leaves ≡ absent.
    Seq(
      "$.cfg.flatten_keys()",
      "$.meta.flatten_keys()",
      "$.cfg.unflatten_keys()", // no dotted names: rebuilds the shape
      "$.cfg.flatten_keys().unflatten_keys()", // round trip
      "$.cfg.flatten_keys().unflatten_keys().a.b"
    ).foreach(differential(_))
    // keys()/len() downstream surface manufactured present-null keys:
    // a NULL receiver is the degenerate {"": null} leaf to the
    // interpreter, whose empty-string key keys() reports — the typed
    // lane sees the bridge view ({} → []). Differential on the defined
    // rows, bridge view pinned on the null-receiver row (the struct-
    // `has` doctrine again).
    val defined = docs.filter(col("id") =!= 3L)
    Seq(
      "$.cfg.flatten_keys().keys()",
      "$.cfg.flatten_keys().len()"
    ).foreach(differential(_, rows = defined))
    locally {
      val doc = struct(docType.fieldNames.map(col): _*)
      val kc = Jetro.evalNative("$.cfg.flatten_keys().keys()", doc, docType).get
      val row3 = docs.filter(col("id") === 3L).select(kc).head.getSeq[String](0)
      assert(row3 == Seq.empty, s"bridge view expected [] on the null-cfg row, got $row3")
    }
  }

  test("pick/omit map over array<struct> elements like the interpreter") {
    // Builtins.pick/omit JArr rows: per-element application, null
    // elements pass through both
    Seq(
      "$.nest.values().pick(\"u\")",
      "$.nest.values().omit(\"v\")",
      "$.nest.values().omit(\"v\").map(@.u ?? -1)",
      "$.nest.values().pick(\"v\").len()"
    ).foreach(differential(_))
    refuses("$.meta.keys().pick(\"x\")") // non-struct elements stay doc-mode
    refuses("$.nest.values().omit(\"u\", \"v\")")
    refuses("$.nest.values().pick(\"u\", \"nope\")") // key outside the element schema
  }

  test("key order is pinned on fully-defined rows") {
    val defined = docs.filter(!col("id").isin(3L, 5L, 6L, 7L, 9L, 11L, 13L))
    Seq(
      s"$C.deep_merge({q: 2, a: {z: 1}})",
      s"$C.merge({a: {z: 9}, q: 1})",
      s"$N.deep_merge($N2)"
    ).foreach(differential(_, sortKeys = false, rows = defined))
  }

  test("unmergeable shapes stay doc-mode") {
    refuses(s"$C.deep_merge({d: \"s\"})")       // kind mismatch on d
    refuses(s"$C.deep_merge({a: 5})")           // struct vs scalar field
    refuses(s"$C.deep_merge(5)")                // scalar arg replaces wholesale
    refuses(s"$N.deep_merge({p: {u: 9}, zz: 1})") // mixed value shapes
    refuses(s"$N.deep_merge($$.cfg)")           // cfg fields are not one shape
    refuses(s"$C.deep_merge({a: {b: \"s\"}})")  // nested kind mismatch
  }

  test("randomized MIXED struct-op chains: lowered == interpreter") {
    // chains of 1-3 object ops over the struct receiver — the type
    // evolves step to step, so this stresses the dtOf mirrors (an
    // un-mirrored output type flips downstream dispatch and surfaces
    // as an AnalysisException at collect, not a bail)
    val rng = new scala.util.Random(fuzzSeed(20260820))
    val ops = Vector(
      ".set_path(\"a.b\", 9)", ".set_path(\"a.z\", $.id)", ".set_path(\"q.w\", 1)",
      ".set_path(\"d\", 0)", ".del_path(\"a.b\")", ".del_path(\"d\")",
      ".del_path(\"nope.x\")", ".merge({a: {z: 2}})", ".merge({q: 3})",
      ".deep_merge({a: {c: \"z\"}})", ".deep_merge($.meta)",
      ".defaults({q: 5, d: 4})", ".pick(\"a\", \"d\")", ".omit(\"a\")",
      ".rename(\"d\", \"dd\")", ".set(\"e\", 2)", ".update(\"d\", (@ ?? 0) + 1)")
    val readers = Vector("", ".keys()", ".len()", ".flatten_keys().len()",
      ".to_json().len()", ".has_path(\"a.b\")")
    // DEFINED rows only: writes re-append null-bridged keys in the
    // interpreter where a typed lane keeps schema position (the pinned
    // order doctrine) — keys()/to_json() readers surface that order,
    // so the mixed sweep runs where order semantics fully agree; the
    // null-receiver corners are pinned by the dedicated tests above
    val definedRows = docs.filter(!col("id").isin(3L, 6L, 9L))
    var lowered = 0
    (0 until 80).foreach { _ =>
      val n = 1 + rng.nextInt(3)
      val chain = (0 until n).map(_ => ops(rng.nextInt(ops.length))).mkString
      // presence-leaking readers (keys/len/flatten/to_json) see the
      // bridge view where the interpreter can observe manufactured
      // nulls — pick writes missed keys as "k":null, and a null-able
      // deep_merge arg ($.meta on even rows) nulls the accumulator,
      // whose flatten_keys is the degenerate {"":null}. Those chains
      // pair with the raw-object compare (bridge-canonical) and
      // has_path (a non-null test both sides) only — the pinned
      // struct-`has` doctrine, exercised rather than hidden.
      val presenceUnsafe =
        chain.contains(".pick(") || chain.contains("deep_merge($.meta)")
      val safeReaders =
        if (presenceUnsafe) Vector("", ".has_path(\"a.b\")")
        else readers
      val e = s"$C$chain${safeReaders(rng.nextInt(safeReaders.length))}"
      val doc = struct(docType.fieldNames.map(col): _*)
      // some chains legitimately bail (e.g. a fold that empties a
      // struct, update after d was deleted/renamed, to_json over a
      // shape that picked up a double) — every chain that lowers must
      // match the interpreter
      if (Jetro.evalNative(e, doc, docType).isDefined) {
        lowered += 1
        differential(e, rows = definedRows)
      }
    }
    assert(lowered >= 40, s"only $lowered/80 chains lowered — generator drifted")
  }

  test("randomized merge chains: lowered == interpreter") {
    val rng = new scala.util.Random(fuzzSeed(20260816))
    val structArgs = Vector(
      "{a: {b: 1}}", "{a: {z: 2}, q: 3}", "{d: 7}", "$.meta", "{e: {f: \"g\"}}")
    val mapArgs = Vector(
      "$.nest2", "{p: {u: 0, w: 1}}", "{r: {u: 5, w: 5}, p: {u: 1, w: 2}}")
    (0 until 50).foreach { _ =>
      val (recv, pool) =
        if (rng.nextBoolean()) (C, structArgs) else (N, mapArgs)
      val m = if (recv == C && rng.nextBoolean()) "merge" else "deep_merge"
      val n = 1 + rng.nextInt(2)
      val e = s"$recv.$m(${(0 until n).map(_ => pool(rng.nextInt(pool.length))).mkString(", ")})"
      val doc = struct(docType.fieldNames.map(col): _*)
      if (Jetro.evalNative(e, doc, docType).isDefined) differential(e)
      else fail(s"expected to lower: $e")
    }
  }
}
