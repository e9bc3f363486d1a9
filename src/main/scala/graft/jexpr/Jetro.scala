package graft.jexpr

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf

/** Public document-mode API.
  *
  * `Jetro.compile(expr)` parses once; `query(jsonText)` evaluates against
  * one document — the Spark-free analogue of the reference's
  * `Jetro::from_bytes(b).collect(expr)` (README.md:89-92). On a cluster
  * the same engine runs per row via `jetro_eval(expr, jsonCol)`:
  * the expression string is parsed once per executor JVM (plan cache
  * below, mirroring the reference's `JetroEngine` plan cache,
  * lib.rs:155-285) and the compiled AST is reused across all rows of
  * every partition — scale comes from Spark partitioning the rows, with
  * zero coordination between executors.
  */
object Jetro {

  final class Compiled private[Jetro] (val ast: Expr) {
    /** Evaluate against a JSON document text; returns JSON text. */
    def eval(json: String): String = Interp.evalQuery(ast, JValue.parse(json)).render
    def evalValue(doc: JValue): JValue = Interp.evalQuery(ast, doc)
  }

  def compile(expr: String): Compiled = new Compiled(Parser.parse(expr))

  /** One-shot convenience: parse + eval. */
  def collect(json: String, expr: String): String = cached(expr).eval(json)

  // Per-JVM plan cache (executor-side): expr string → compiled AST.
  // Bounded like the reference's engine cache (lib.rs:269-284).
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Compiled]()
  private val MaxEntries = 256

  private def cached(expr: String): Compiled = {
    var c = cache.get(expr)
    if (c == null) {
      c = compile(expr)
      if (cache.size >= MaxEntries) cache.clear()
      cache.put(expr, c)
    }
    c
  }

  /** `jetro_eval(expr, json)` → JSON text of the query result, null on
    * parse/eval failure (document mode is the semantics long-tail; a
    * malformed row must not kill a 100 TB job). */
  val jetroEvalUdf = udf { (expr: String, json: String) =>
    if (expr == null || json == null) null
    else
      try cached(expr).eval(json)
      catch { case _: EvalException | _: ParseException | _: JsonParseException => null }
  }

  /** `jetro_eval_elems(expr, json)` → the result's ELEMENTS as rendered
    * JSON texts: array → one text per element, scalar → singleton, null
    * result → empty, eval failure → null. Powers the distributed
    * row-wise fallback ([[graft.Graft]]): an element-wise pipeline
    * evaluated against a singleton `{table: [row]}` document yields this
    * row's contribution to the stream, and `explode` unions the
    * contributions across rows — the reference's per-element VM dispatch
    * (defs.rs:74-90) re-expressed as a distributed map. */
  val jetroEvalElemsUdf = udf { (expr: String, json: String) =>
    if (expr == null || json == null) null
    else
      try cached(expr).evalValue(JValue.parse(json)) match {
        case JArr(xs) => xs.map(_.render)
        case JNull    => Seq.empty[String]
        case scalar   => Seq(scalar.render)
      }
      catch { case _: EvalException | _: ParseException | _: JsonParseException => null }
  }

  /** `jetro_eval_str`: like jetro_eval but unwraps a string/number result
    * to its display text (no JSON quoting) — handy for joining/grouping
    * on extracted scalars. */
  val jetroEvalStrUdf = udf { (expr: String, json: String) =>
    if (expr == null || json == null) null
    else
      try JValue.display(cached(expr).evalValue(JValue.parse(json)))
      catch { case _: EvalException | _: ParseException | _: JsonParseException => null }
  }

  /** `jetro_eval_many`: N expressions against ONE parse of the document,
    * results as display strings. Parsing dominates per-row cost when
    * several scalars are extracted from the same column; this amortises
    * it the way the reference amortises tape construction across
    * sub-queries of one document (lib.rs:119-148). */
  val jetroEvalManyUdf = udf { (exprs: Seq[String], json: String) =>
    if (exprs == null || json == null) null
    else
      try {
        val doc = JValue.parse(json)
        exprs.map { e =>
          try JValue.display(cached(e).evalValue(doc))
          catch { case _: EvalException | _: ParseException | _: JsonParseException => null }
        }
      } catch { case _: JsonParseException => null }
  }

  def register(spark: SparkSession): Unit = {
    spark.udf.register("jetro_eval", jetroEvalUdf)
    spark.udf.register("jetro_eval_str", jetroEvalStrUdf)
    spark.udf.register("jetro_eval_many", jetroEvalManyUdf)
    spark.udf.register("jetro_eval_elems", jetroEvalElemsUdf)
  }

  def jetroEvalElems(expr: String, col: Column): Column =
    jetroEvalElemsUdf(org.apache.spark.sql.functions.lit(expr), col)

  /** Struct-fed twin of [[jetroEvalElems]]: evaluate against a STRUCT
    * document through [[RowBridge]] — identical element semantics
    * (RowBridge mirrors the to_json writer's null-field omission,
    * differential-tested in RowBridgeSpec), minus the input-side
    * per-row to_json + JSON parse. The OUTPUT stays rendered JSON
    * texts: the caller's batch schema inference needs text anyway.
    * Powers the distributed rowwise fallback rung (graft.Graft). */
  def jetroEvalElemsStruct(
      expr: String, doc: Column,
      docType: org.apache.spark.sql.types.StructType,
      evaluated: Option[org.apache.spark.util.LongAccumulator] = None,
      errored: Option[org.apache.spark.util.LongAccumulator] = None): Column = {
    val conv = RowBridge.convert(docType)
    val fn = new org.apache.spark.sql.api.java.UDF1[org.apache.spark.sql.Row, Array[String]] {
      override def call(row: org.apache.spark.sql.Row): Array[String] = {
        if (row == null) return null
        evaluated.foreach(_.add(1L))
        val docV =
          try conv(row)
          catch { case _: RuntimeException => errored.foreach(_.add(1L)); return null }
        try cached(expr).evalValue(docV) match {
          case JArr(xs) => xs.map(_.render).toArray
          case JNull    => Array.empty[String]
          case scalar   => Array(scalar.render)
        } catch {
          case _: EvalException | _: ParseException | _: JsonParseException =>
            // a malformed row must not kill a 100 TB job (SCALE.md
            // per-row tier): null the row — the caller's explode drops
            // it — but COUNT the drop so the mass is observable
            errored.foreach(_.add(1L)); null
        }
      }
    }
    org.apache.spark.sql.functions
      .udf(fn, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
      .apply(doc)
  }

  def jetroEval(expr: String, col: Column): Column =
    jetroEvalUdf(org.apache.spark.sql.functions.lit(expr), col)

  def jetroEvalStr(expr: String, col: Column): Column =
    jetroEvalStrUdf(org.apache.spark.sql.functions.lit(expr), col)

  def jetroEvalMany(exprs: Seq[String], col: Column): Column = {
    import org.apache.spark.sql.functions.{array, lit}
    jetroEvalManyUdf(array(exprs.map(lit): _*), col)
  }

  /** Struct-fed interpreter: evaluate N expressions per row against a
    * STRUCT column, feeding the interpreter through [[RowBridge]]
    * instead of a `to_json` + JSON-parse round trip. Same semantics and
    * display-string results as [[jetroEvalMany]] (differential-tested),
    * minus the per-row serialize/parse — the middle rung of the
    * execution ladder between the JSON-text interpreter and the fully
    * compiled columnar path ([[evalNative]]). */
  def jetroEvalMany(
      exprs: Seq[String], doc: Column,
      docType: org.apache.spark.sql.types.StructType): Column = {
    val conv = RowBridge.convert(docType)
    val exprVec = exprs.toIndexedSeq
    val fn = new org.apache.spark.sql.api.java.UDF1[org.apache.spark.sql.Row, Array[String]] {
      override def call(row: org.apache.spark.sql.Row): Array[String] = {
        if (row == null) return null
        val docV =
          try conv(row)
          catch { case _: RuntimeException => return null }
        exprVec.map { e =>
          try JValue.display(cached(e).evalValue(docV))
          catch { case _: EvalException | _: ParseException | _: JsonParseException => null }
        }.toArray
      }
    }
    org.apache.spark.sql.functions
      .udf(fn, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
      .apply(doc)
  }

  /** Native per-document eval: compile `expr` to a columnar expression
    * over the STRUCT column `doc` (no UDF, no JSON round-trip — array
    * stages become codegen'd higher-order functions). Returns None when
    * some construct has no exact columnar lowering; callers then fall
    * back to `jetroEval(expr, to_json(doc))`. Unlike the UDF family the
    * result is TYPED (long count, double sum, …), not JSON text. */
  def evalNative(
      expr: String, doc: Column,
      docType: org.apache.spark.sql.types.StructType): Option[Column] =
    graft.plans.Lower.compileDocColumn(expr, doc, docType)
}
