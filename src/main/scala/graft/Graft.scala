package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Intermediate, Tables}
import graft.jexpr.{Expr, Jetro, JValue}
import graft.plans.Lower

/** Public engine entry point: run a jetro expression against the tables
  * under `sfDir`.
  *
  * Backend preference mirrors the reference's per-node backend lists
  * (ir/physical.rs:219-230): try the relational lowering first — the
  * whole pipeline becomes one Catalyst plan, scaling with the cluster —
  * and only if some construct can't lower, fall back to the document
  * interpreter over a single collected document. The fallback preserves
  * the language's full semantics but materialises the source table on
  * the driver, so it is only for small/interactive use; the lowering
  * covers the table-scale subset.
  */
object Graft {

  def query(spark: SparkSession, sfDir: String, expr: String): DataFrame =
    Lower.tryCompile(expr, t => Tables(spark, sfDir, t))
      .orElse(rowwiseCompile(spark, sfDir, expr))
      .getOrElse(docFallback(spark, sfDir, expr))

  /** True when the expression fully lowers to a Catalyst plan. */
  def lowers(spark: SparkSession, sfDir: String, expr: String): Boolean =
    Lower.tryCompile(expr, t => Tables(spark, sfDir, t)).isDefined

  /** Which execution path [[query]] takes for `expr`:
    *   - `"relational"` — full Catalyst lowering ([[Lower]]);
    *   - `"rowwise"`    — distributed per-row interpreter fallback;
    *   - `"document"`   — driver-side whole-document interpreter. */
  def backend(spark: SparkSession, sfDir: String, expr: String): String =
    if (lowers(spark, sfDir, expr)) "relational"
    else if (rowwisePlan(expr).exists(p => Tables.names.contains(p.table))) "rowwise"
    else "document"

  /** Pipeline stages that distribute over stream concatenation:
    * `f(rowsA ++ rowsB) == f(rowsA) ++ f(rowsB)` because each element
    * is mapped/kept/dropped independently of every other element
    * (`explode(field)` qualifies: each row fans out to its own
    * sub-rows, reference collection.rs:497-520). Any stage that looks
    * across elements (sort, agg, window, zip, take, index…) is
    * excluded — those either lower relationally or go to the
    * whole-document interpreter. */
  private val rowwiseMethods = Set(
    "filter", "where", "find_all", "map", "flat_map", "compact",
    "pick", "omit", "remove", "explode")

  private def elementwiseStep(s: Expr.Step): Boolean = {
    import Expr._
    s match {
      // a nested `$` reference (another table, or the table itself as a
      // whole — e.g. dividing each row by a global sum) breaks per-row
      // independence, so any Root in an argument disqualifies the stage
      case Step.Method(m, args) if rowwiseMethods(m) =>
        !args.exists(a => containsRoot(a.e))
      case Step.InlineFilter(p) => !containsRoot(p)
      case Step.MapShape(p, sh) =>
        !p.exists(containsRoot) && !containsRoot(sh)
      // deep descent walks the receiver array's ELEMENTS in order
      // (Deep.descend arrays recurse per element; `..` drops the
      // receiver itself) — pure concatenation of per-element matches
      case Step.Descendant(_) => true
      // walk/walk_pre/rec apply their lambda to the RECEIVER node too
      // (reference walk_apply transforms the root, rec_apply fixpoints
      // the whole value — array.rs:693-755), and the receiver is the
      // full stream array in doc mode but a singleton here. They
      // qualify only when the lambda provably takes the identity
      // branch on ARRAY nodes — a kind-guarded transform
      // `T(x) if x is <non-array kind> [and …] else x` — so the root
      // application is identity on both shapes and what remains is the
      // per-element recursion, which concatenates.
      case Step.Method("walk" | "walk_pre" | "rec", args) =>
        args.length == 1 && arrayIdentityGuarded(args(0).e)
      // ..shape/..like candidates are OBJECTS only, so the receiver
      // array node can never match — per-element again. `..find` is
      // NOT here: its predicate ranges over ALL nodes including the
      // receiver array, which differs between the singleton and the
      // full stream.
      case Step.DeepMethod("shape" | "deep_shape" | "like" | "deep_like", args) =>
        !args.exists(a => containsRoot(a.e))
      case Step.Optional => true
      case _             => false
    }
  }

  /** Distributed per-row document-mode fallback (the middle rung
    * between [[Lower]] and [[docFallback]]): when the expression is a
    * single-table pipeline of element-wise stages, evaluate it per row
    * against the singleton document `{table: [row]}` and union the
    * per-row contributions with `explode`. Full interpreter semantics —
    * including constructs with no relational lowering (dynamic shapes,
    * long-tail builtins) — but the table never leaves the executors,
    * mirroring the reference's per-element VM dispatch (defs.rs:74-90)
    * instead of its whole-document tape. Output order is the source
    * partition order (element-wise stages are order-independent).
    *
    * A chain admitted to this rung: the table it fans over, the
    * expression the interpreter evaluates per row, and the chain's
    * leading filter run (`{p}` and `.filter/.where/.find_all(p…)`
    * directly after `$.table`, each argument one predicate, in order),
    * which [[rowwiseJson]] runs in the scan. The run is empty for the
    * chain-write and `patch $` rewrites: their filtered-out rows come
    * back unpatched. */
  private[graft] final case class RowwisePlan(
      table: String, evalExpr: String, leadingFilters: Vector[Expr])

  /** The single-table element-wise qualification check, shared by the
    * batch rung and the streaming rung (StreamOps.rowwiseStream):
    * a [[RowwisePlan]] when the expression distributes over stream
    * concatenation. `evalExpr` is the expression to evaluate per row —
    * the original text for element-wise pipelines; for root
    * chain-writes and `patch $` blocks that fan over one table's rows,
    * the rewrite `(expr).table` so the per-row patched document unions
    * back into patched table ROWS (the same table-level convention
    * Lower.patchTable gives `patch $ {t[*]…}` relationally). */
  private[graft] def rowwisePlan(expr: String): Option[RowwisePlan] = {
    val ast =
      try jexpr.Parser.parse(expr)
      catch { case _: jexpr.ParseException => return None }
    ast match {
      case Expr.Chain(Expr.Root, steps) if steps.length >= 2 =>
        steps.head match {
          case Expr.Step.Field(table) =>
            if (steps.tail.forall(elementwiseStep))
              Some(RowwisePlan(table, expr, leadingFilters(steps.tail)))
            else if (rowwiseChainWrite(steps.tail))
              Some(RowwisePlan(table, s"($expr).$table", Vector.empty))
            else None
          case _ => None
        }
      case Expr.Patch(Expr.Root, fields) =>
        rowwisePatchTable(fields).map(t => RowwisePlan(t, s"($expr).$t", Vector.empty))
      case _ => None
    }
  }

  /** The predicates of the filter steps that open an element-wise chain,
    * up to the first step of any other kind. */
  private def leadingFilters(steps: Vector[Expr.Step]): Vector[Expr] = {
    import Expr._
    steps.iterator.map {
      case Step.InlineFilter(p)                                => Some(Vector(p))
      case Step.Method("filter" | "where" | "find_all", args) => Some(args.map(_.e))
      case _                                                   => None
    }.takeWhile(_.isDefined).flatten.flatten.toVector
  }

  /** True when the post-table steps form a row-iterating chain-write
    * (`$.t[*].price.set(@ * 2)`, `$.t{pred}.f.modify(…)`, `.delete()`,
    * `.unset(k)`, `.merge(o)`): the first path step must fan over rows
    * (`[*]` / `{pred}`) so each row is patched independently, the rest
    * of the path stays WITHIN the row, and the write is the chain's
    * last step — anything after it reads the patched whole document
    * and would not distribute. Guards and values bind only `@` (the
    * pre-patch leaf, PatchEval.scala:48-58); a `$` reference reads
    * across rows and disqualifies. Mirrors the reference's rooted
    * chain-write desugar (jetro-core chain writes, M:232-235) run as a
    * distributed per-element patch. */
  private def rowwiseChainWrite(steps: Vector[Expr.Step]): Boolean = {
    import Expr._
    if (steps.length < 2) return false
    val (path, write) = (steps.init, steps.last)
    val writeOk = write match {
      case Step.Method("set" | "modify" | "unset", as) =>
        as.length == 1 && !as.exists(a => containsRoot(a.e))
      case Step.Method("delete", as) => as.isEmpty
      case Step.Method("merge" | "deep_merge", as) =>
        as.nonEmpty && !as.exists(a => containsRoot(a.e))
      case _ => false
    }
    val headOk = path.head match {
      case Step.MapShape(None, Current) => true // `[*]`
      case Step.InlineFilter(p)         => !containsRoot(p)
      case _                            => false
    }
    // within-row path steps (Interp.chainWrite's static subset — a
    // dynamic index resolves against the root scope and would see a
    // different document per rung)
    def withinRow(s: Step): Boolean = s match {
      case Step.Field(_)                     => true
      case Step.Index(Lit(jexpr.JInt(_)))    => true
      case Step.Descendant(Some(_))          => true
      case Step.MapShape(None, Current)      => true
      case Step.InlineFilter(p)              => !containsRoot(p)
      case _                                 => false
    }
    writeOk && headOk && path.tail.forall(withinRow)
  }

  /** `patch $ {t[*]…: …}` whose every path fans over the SAME table's
    * rows first: the batch applies per row independently (PatchEval
    * folds fields left with `@` bound to the pre-batch leaf), so when
    * the leaf expressions don't lower relationally the patch can still
    * run distributed on the rowwise rung. */
  private def rowwisePatchTable(
      fields: Vector[Expr.PatchField]): Option[String] = {
    import Expr._
    def fieldTable(f: PatchField): Option[String] = f.path.toList match {
      case PatchStep.Field(t) :: second :: rest =>
        val fanOk = second match {
          case PatchStep.Wild      => true
          case PatchStep.WildIf(p) => !containsRoot(p)
          case _                   => false
        }
        val restOk = rest.forall {
          case PatchStep.WildIf(p) => !containsRoot(p)
          case _                   => true
        }
        val leafOk =
          !f.value.exists(containsRoot) && !f.when.exists(containsRoot)
        if (fanOk && restOk && leafOk) Some(t) else None
      case _ => None
    }
    val tables = fields.map(fieldTable)
    if (fields.nonEmpty && tables.forall(_.isDefined) &&
        tables.flatten.distinct.size == 1) tables.head
    else None
  }

  /** Per-query observability counters for the per-row rungs: `evaluated`
    * counts interpreter invocations (rows fed to the per-row UDF),
    * `errored` counts rows silently DROPPED by the per-row error tier
    * (SCALE.md: an EvalException nulls the row and the explode drops
    * it — a malformed row must not kill a 100 TB job, but the dropped
    * mass must be observable). Both count only rows that reach the
    * interpreter: a row a chain's leading filter rejects in the scan
    * ([[rowwiseJson]]) is never counted, while a row the scan filter
    * cannot evaluate is kept for the interpreter, and counted there if
    * the interpreter raises on it. One pair per session, registered as
    * named Spark accumulators (visible in the UI) and logged at query
    * end whenever the dropped count grew. */
  final class RowwiseCounters private[Graft] (
      val evaluated: org.apache.spark.util.LongAccumulator,
      val errored: org.apache.spark.util.LongAccumulator)

  private val countersBySession =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, RowwiseCounters]

  /** The session's rowwise counters (created on first use). `errored`
    * staying 0 is the healthy steady state; any growth is logged after
    * the query that caused it. */
  def rowwiseCounters(spark: SparkSession): RowwiseCounters =
    countersBySession.computeIfAbsent(spark, { s =>
      val ev = s.sparkContext.longAccumulator("graft.rowwise.evaluatedRows")
      val er = s.sparkContext.longAccumulator("graft.rowwise.erroredRows")
      val lastLogged = new java.util.concurrent.atomic.AtomicLong(0L)
      s.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        private def report(): Unit = {
          val v = er.value
          val prev = lastLogged.getAndSet(v)
          if (v > prev)
            org.slf4j.LoggerFactory.getLogger("graft.Graft").warn(
              s"rowwise rung dropped ${v - prev} malformed row(s) " +
                s"(total $v) — see graft.rowwise.erroredRows")
        }
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = report()
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = report()
      })
      new RowwiseCounters(ev, er)
    })

  /** Per-row interpreter projection: each row evaluated against its own
    * singleton `{table: [row]}` document on the executors, per-row
    * contributions flattened with `explode`, results as JSON strings.
    * Stateless and shuffle-free, so it runs identically on a bounded
    * frame or a streaming micro-batch. The plan's leading filters run
    * first, in the scan ([[Lower.scanFilter]]; Catalyst pushes them
    * below any spread exchange), and the interpreter evaluates the
    * whole chain on their survivors. Interpreter invocations and
    * error-dropped rows tick the session's [[rowwiseCounters]]. */
  private[graft] def rowwiseJson(
      df: DataFrame, plan: RowwisePlan): org.apache.spark.sql.Dataset[String] = {
    import org.apache.spark.sql.functions.{array, col, explode, struct}
    import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
    val rows = Lower.scanFilter(df, plan.leadingFilters)
    // {table: [row]} — same shape docFallback builds, one row deep,
    // fed to the interpreter as a STRUCT through RowBridge (no per-row
    // to_json + JSON parse on the input side)
    val docType = StructType(Seq(
      StructField(plan.table, ArrayType(rows.schema), nullable = false)))
    val doc = struct(
      array(struct(rows.columns.map(col).toIndexedSeq: _*)).as(plan.table))
    val counters = rowwiseCounters(rows.sparkSession)
    rows.select(
      explode(Jetro.jetroEvalElemsStruct(plan.evalExpr, doc, docType,
        Some(counters.evaluated), Some(counters.errored))).as("__j"))
      .select(col("__j"))
      .as(org.apache.spark.sql.Encoders.STRING)
  }

  /** The rowwise rung: the interpreter's JSON output, parsed into rows.
    * ONE distributed interpreter pass per compiled query, not two —
    * schema inference over `spark.read.json` is a full scan of the UDF
    * output and the parse is a second, so the strings are materialised
    * for the query's lifetime ([[Intermediate.persist]], MEMORY_AND_DISK:
    * at scale the spill is the price of not re-running the interpreter)
    * and both read them. When the static walker proves the pipeline's
    * output shape (Lower.rowwiseStaticSchema), the inference scan is
    * skipped and the interpreter runs when the result is first read.
    * Nothing outlives the returned DataFrame: compiling the same text
    * again reads the table as it is now.
    *
    * The chain's leading filters run in the scan ([[rowwiseJson]]), so
    * the interpreter sees only their survivors, and the spread decision
    * is the unfiltered read's. The scan filter keeps every row it
    * cannot evaluate (a zero division, an ANSI overflow), so such rows
    * still reach the interpreter, which stays the authority on them;
    * `erroredRows` counts only rows that reach the interpreter. */
  private[graft] def rowwiseCompile(
      spark: SparkSession, sfDir: String, expr: String): Option[DataFrame] =
    rowwisePlan(expr).filter(p => Tables.names.contains(p.table)).map { plan =>
      // per-row interpreter work dwarfs one narrow-row shuffle, so
      // spread an under-parallelised scan first (rowwise chains are
      // per-row independent — input order never matters here)
      val src = Tables.spreadCompute(Tables(spark, sfDir, plan.table))
      val ds = Intermediate.persist(rowwiseJson(src, plan),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Lower.rowwiseStaticSchema(src.schema, plan.evalExpr) match {
        // STATIC path: parse with the from_json expression. The static
        // walker only ever proves OBJECT streams, where no
        // corrupt-record line can occur, and from_json drives the same
        // JacksonParser in PERMISSIVE mode as the reader.
        case Some(schema) =>
          import org.apache.spark.sql.functions.{col, from_json}
          ds.select(from_json(col(ds.columns.head), schema).as("__r"))
            .select(col("__r.*"))
        // inference path: the reader form in PERMISSIVE (default) mode
        // keeps scalar-stream behaviour byte-identical to docFallback's
        // read.json (bare scalars land in _corrupt_record)
        case None =>
          spark.read.schema(spark.read.json(ds).schema).json(ds)
      }
    }

  /** Document-mode fallback: build `{table: [rows…]}` for every table
    * the expression references, evaluate with the interpreter, and read
    * the result back as a DataFrame (JSON-inferred schema).
    *
    * This path materialises every referenced table ON THE DRIVER — it is
    * the small/interactive contract (the analogue of the reference's
    * single-node VM), and `spark.graft.docFallback.maxRows` (default
    * 1,000,000) makes that boundary real: past the cap the query fails
    * with an explanatory error instead of an opaque driver OOM. */
  private[graft] def docFallback(spark: SparkSession, sfDir: String, expr: String): DataFrame = {
    val ast = jexpr.Parser.parse(expr)
    val tables = referencedTables(ast)
    require(tables.nonEmpty, s"no table reference in: $expr")
    val maxRows = spark.conf
      .get("spark.graft.docFallback.maxRows", "1000000").toLong
    val docFields = tables.toVector.sorted.map { t =>
      // stored-order access: the document array's element order IS the
      // table's stored row order (first/nth/enumerate semantics), so
      // the collector must bypass the scan-spread repartition
      val tdf = Tables.stored(spark, sfDir, t)
      val n = tdf.count()
      if (n > maxRows) throw new IllegalStateException(
        s"expression does not lower relationally and the document " +
        s"fallback is capped: table `$t` has $n rows > " +
        s"spark.graft.docFallback.maxRows=$maxRows. Rewrite the query " +
        s"with lowerable stages, or raise the cap for interactive use.")
      val rows = tdf.toJSON.collect()
      s""""$t": [${rows.mkString(",")}]"""
    }
    val doc = docFields.mkString("{", ",", "}")
    val out = Jetro.compile(expr).evalValue(JValue.parse(doc))
    val rows = out match {
      case jexpr.JArr(xs) => xs.map(_.render)
      case scalar         => Vector(s"""{"value": ${scalar.render}}""")
    }
    import scala.jdk.CollectionConverters._
    spark.read.json(spark.createDataset(rows.asJava.asScala.toSeq)(
      org.apache.spark.sql.Encoders.STRING))
  }

  /** Tables named as `$.<name>` anywhere in the expression, lambda
    * bodies included (`$` is never rebound), plus the path-head tables
    * of `patch $ {t[*]…}`, whose table is named in the patch PATH. */
  private def referencedTables(e: Expr): Set[String] = {
    import Expr._
    Expr.descendants(e).flatMap {
      case Chain(Root, Step.Field(t) +: _) => Vector(t)
      case Patch(Root, fs) => fs.flatMap(_.path.headOption.collect {
        case PatchStep.Field(n) if Tables.names.contains(n) => n })
      case _ => Vector.empty
    }.toSet
  }

  /** True when a walk/walk_pre/rec transform argument provably maps
    * ARRAY nodes to themselves: a one-param lambda (or `@`-form body)
    * shaped `T if <param> is <kind≠array> [and …] else <param>`. The
    * kind guard must be the FIRST conjunct (so an array short-circuits
    * to the else branch before any further test), the else branch must
    * be the bare parameter, and nothing may read `$` (cross-row). */
  private def arrayIdentityGuarded(e: Expr): Boolean = {
    import Expr._
    def paramRef(x: Expr, p: Option[String]): Boolean = (x, p) match {
      case (Current, None)        => true
      case (Ident(n), Some(q))    => n == q
      case _                      => false
    }
    def nonArrayGuard(cond: Expr, p: Option[String]): Boolean = cond match {
      case KindIs(x, k, false) if k != "array" && k != "lambda" =>
        paramRef(x, p)
      case Binary("and", l, r) => nonArrayGuard(l, p) && !containsRoot(r)
      case _ => false
    }
    e match {
      case Lambda(Vector(p), IfElse(c, t, Ident(p2))) if p2 == p =>
        nonArrayGuard(c, Some(p)) && !containsRoot(t) && !containsRoot(c)
      case IfElse(c, t, Current) =>
        nonArrayGuard(c, None) && !containsRoot(t) && !containsRoot(c)
      case _ => false
    }
  }

  /** Any `$` (Root) reference anywhere in the expression tree. */
  private def containsRoot(e: Expr): Boolean = Expr.exists(e)(_ == Expr.Root)

}
