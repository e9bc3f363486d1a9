package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, MapType, NumericType, StructField, StructType}
import org.apache.spark.sql.types.{BooleanType, ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType}
import graft.jexpr.{Expr, JArr, JBool, JFloat, JInt, JNull, JObj, JStr, JValue, Parser}
import Expr._

/** Relational lowering: compiles a jetro pipeline expression into a
  * Catalyst DataFrame plan (SURVEY §7.0 mode 1).
  *
  * A rooted chain `$.<table>.stage1().stage2()…` becomes
  * `resolve(table).transform(stage1).transform(stage2)…`; predicates,
  * projections and scalar functions compile to `Column` expressions, so
  * the whole query stays inside Catalyst — pushdown, pruning, join
  * strategy and top-k (`TakeOrderedAndProject`) all apply. This mirrors
  * the reference's pipeline backend (exec/pipeline.rs), with Catalyst
  * playing the role of its rule optimizer + demand planner (SURVEY §4.3:
  * limit pushdown ≈ demand, column pruning ≈ ValueNeed).
  *
  * Anything the lowering does not support throws [[LowerException]]; the
  * caller falls back to document mode (the interpreter UDF), mirroring
  * the reference's backend-preference lists (ir/physical.rs:219-230).
  * Semantics are identical by contract — [[graft.GraftCompileSpec]]
  * asserts compiled results equal interpreted results on the same rows.
  */
final class LowerException(msg: String) extends RuntimeException(msg)

object Lower {

  /** Constant-zero partition key for windows whose input is PROVABLY
    * tiny (a handful of rows) and single-partition is the intent. It
    * must reference a column AND resist constant folding:
    * `EliminateWindowPartitions` (Spark 4.1) removes FOLDABLE
    * partition keys like `lit(0)`, silently turning the window back
    * into an unpartitioned one — still correct, but its "No Partition
    * Defined" warning would then spam every run and mask a real
    * single-task regression. `x * 0` does NOT work either:
    * ReorderAssociativeOperator folds the multiply chain to 0 and
    * FoldablePropagation feeds it back to the eliminator. pmod(x, 1)
    * is 0 for every x with no simplification rule; the coalesce keeps
    * null rows in the same (only) partition. */
  /** Pure type walk of setPath over typed lanes (shared by the column
    * builder and dtOf so the two can never drift). At a STRUCT node the
    * written key updates IN PLACE when present, appends at the END when
    * new (VectorMap `+`, Builtins.setPath:943-948); a statically
    * non-object intermediate coerces to the fresh nested write chain.
    * At a string-keyed MAP node (round 11) the LITERAL segment
    * addresses ONE entry whose new type widens the lane's shared value
    * type — provable only when every untouched entry re-shapes
    * faithfully into the widened shape ([[Lower.widensTo]]); a leaf AT
    * a map entry replaces the value (same-kind unification, a per-entry
    * kind flip has no static lane). None = not provable (doc mode). */
  private[plans] def setPathDeepType(
      recvDt: Option[org.apache.spark.sql.types.DataType], segs: List[String],
      vdt: org.apache.spark.sql.types.DataType): Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    val k = segs.head
    recvDt match {
      case Some(mt: MapType) =>
        if (mt.keyType != StringType) return None
        val entryNew: DataType = segs.tail match {
          case Nil  => unifySameKind(mt.valueType, vdt).getOrElse(return None)
          case rest => setPathDeepType(Some(mt.valueType), rest, vdt).getOrElse(return None)
        }
        if (!widensTo(mt.valueType, entryNew)) return None
        Some(MapType(StringType, entryNew, valueContainsNull = true))
      case _ =>
        val fields = recvDt match {
          case Some(s: StructType) => s.fields.toVector
          case _                   => Vector.empty[StructField]
        }
        val childDt = fields.find(_.name == k).map(_.dataType)
        val ndtO: Option[DataType] = segs.tail match {
          case Nil  => Some(vdt)
          case rest => setPathDeepType(childDt, rest, vdt)
        }
        ndtO.map { ndt =>
          StructType(
            if (fields.exists(_.name == k))
              fields.map(f => if (f.name == k) StructField(k, ndt) else f)
            else fields :+ StructField(k, ndt))
        }
    }
  }

  /** [[setPathDeepType]] restricted to struct receivers (their result
    * is always a struct) — the patch compiler / dtOf entry point. */
  private[plans] def setPathStructType(
      recvDt: Option[org.apache.spark.sql.types.DataType], segs: List[String],
      vdt: org.apache.spark.sql.types.DataType): Option[org.apache.spark.sql.types.StructType] =
    setPathDeepType(recvDt, segs, vdt)
      .collect { case s: org.apache.spark.sql.types.StructType => s }

  /** Pure type walk of delPath over a struct lane: Some(newType) when a
    * drop statically happens, None when provably identity (missing key
    * or non-object intermediate — delPath's identity rows,
    * Builtins.delPath:950-958). Bails on map segments (dynamic per-key
    * presence) and on dropping a struct's last field (Spark structs
    * cannot be empty). */
  private[plans] def delPathStructType(
      st: org.apache.spark.sql.types.StructType,
      segs: List[String]): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    val k = segs.head
    val idx = st.fields.indexWhere(_.name == k)
    if (idx < 0) return None
    segs.tail match {
      case Nil =>
        val kept = st.fields.filterNot(_.name == k)
        if (kept.isEmpty) bail("del_path would drop every struct field — doc mode")
        Some(StructType(kept))
      case rest => st.fields(idx).dataType match {
        case cst: StructType =>
          delPathStructType(cst, rest).map { nt =>
            StructType(st.fields.map(f =>
              if (f.name == k) StructField(k, nt, f.nullable) else f))
          }
        case mt: MapType =>
          // round 11: the delete continues THROUGH the map — entries
          // filter / leaves null out inside the shared value shape, so
          // the TYPE is unchanged; None when the inner walk statically
          // dies (delPath's identity)
          delDeepTP(mt, rest).map(_ => st)
        case _ => None
      }
    }
  }

  /** Pure shape union of merge/deep_merge over two struct shapes
    * (shared by the column builders and dtOf): x's fields in order,
    * common fields' types merged, then y-only fields appended — the
    * VectorMap `++`/deepMerge key order (Builtins.scala:110,602).
    * Common-field type rule: struct+struct recurses when `deep` (the
    * interpreter's (JObj, JObj) recursion) and unions shallowly
    * otherwise (either side's value may win per row, so the union
    * shape must embed both); any other pair must kind-unify (y wins
    * wholesale — arrays replace, scalars overwrite). Bails on
    * map-typed common fields under `deep` (their recursion is per-key
    * dynamic) and on kind mismatches. */
  private[plans] def mergeStructType(
      x: org.apache.spark.sql.types.StructType,
      y: org.apache.spark.sql.types.StructType,
      deep: Boolean): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    // same-kind unification (ColLower.unifySameKind's rule, restated
    // here because this walk is object-level for the dtOf mirror)
    def integral(d: DataType) = d match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _                                             => false
    }
    def fractional(d: DataType) = d match {
      case FloatType | DoubleType | _: DecimalType => true
      case _                                       => false
    }
    def fieldType(a: DataType, b: DataType): DataType = (a, b) match {
      case (xs: StructType, ys: StructType) =>
        if (deep) mergeStructType(xs, ys, deep)
        else if (xs == ys) xs
        else mergeStructType(xs, ys, deep = false) // union shape, either side per row
      case (xm: MapType, ym: MapType) if !deep && xm == ym => xm
      case (xm: MapType, ym: MapType) if deep =>
        // round 11: (object, object) collisions recurse — a map field's
        // value type is static, so the recursion is schema-directed
        deepMergeType(xm, ym).getOrElse(
          bail("deep_merge over mixed map value shapes — doc mode"))
      case (_: MapType, _) | (_, _: MapType) =>
        bail(s"${if (deep) "deep_merge" else "merge"} over map-typed fields — doc mode")
      case (a2, b2) if a2 == b2                     => a2
      case (a2, b2) if integral(a2) && integral(b2) => LongType
      case (a2, b2) if fractional(a2) && fractional(b2) => DoubleType
      case _ =>
        bail(s"${if (deep) "deep_merge" else "merge"} mixes value kinds")
    }
    StructType(
      x.fields.map { f =>
        y.find(_.name == f.name) match {
          case None    => f
          case Some(g) => StructField(f.name, fieldType(f.dataType, g.dataType))
        }
      } ++ y.fields.filterNot(f => x.fieldNames.contains(f.name)))
  }

  /** Pure type walk of deepMerge's VALUE-level collision over two
    * static types (round 11; shared by the column builders and the
    * dtOf mirrors): struct+struct and string-keyed map+map pairs
    * recurse (the interpreter's (JObj, JObj) case), any other pair
    * takes `other` wholesale — so the lane must same-kind unify to
    * hold both the surviving x-only values and the y winners. None =
    * not statically mergeable (doc mode). */
  private[plans] def deepMergeType(
      ta: org.apache.spark.sql.types.DataType,
      tb: org.apache.spark.sql.types.DataType): Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    (ta, tb) match {
      case (sa: StructType, sb: StructType) =>
        try Some(mergeStructType(sa, sb, deep = true))
        catch { case _: LowerException => None }
      case (MapType(StringType, va, _), MapType(StringType, vb, _)) =>
        deepMergeType(va, vb)
          .map(u => MapType(StringType, u, valueContainsNull = true))
      case (_: StructType, _) | (_, _: StructType) |
           (_: MapType, _) | (_, _: MapType) => None
      case (a, b) => unifySameKind(a, b)
    }
  }

  /** JSON-inference-equivalent schema of one ELEMENT of a rowwise
    * pipeline's output, when statically provable — the rowwise rung
    * (Graft.rowwiseCompile) parses its per-row interpreter output with
    * this schema and skips the `spark.read.json` inference full-scan.
    *
    * Provable subset: a single-table chain of filters plus
    * `map({static shape})` / `pick` / `omit` / `explode(field)` stages
    * whose every leaf the static walker types. The returned schema
    * reproduces what inference WOULD produce on the same lines —
    * struct fields sorted by name recursively (Spark's JSON inference
    * canonicalises that way, probed in tools/InferProbe), every field
    * nullable, integral kinds widened to long, fractional to double
    * (renderDouble always keeps a `.` so a double lane can never infer
    * integral), dates/timestamps/binary as the strings RowBridge
    * renders them to. Decimal lanes render value-dependently
    * (JInt when scale≤0 — RowBridge.scala:57) so they are NOT provable;
    * neither are map-valued lanes (inference sees an object of observed
    * keys). The one place the static schema intentionally diverges:
    * a field that is null on EVERY row infers as absent/string, while
    * the static schema keeps its typed column of nulls — same values
    * on parse, strictly more faithful a type. */
  private[graft] def rowwiseStaticSchema(
      tableSchema: org.apache.spark.sql.types.StructType,
      evalExpr: String): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    import scala.collection.immutable.VectorMap

    // inference-equivalent of a statically-typed lane, None = not provable
    def jsonEq(dt: DataType): Option[DataType] = dt match {
      case LongType | IntegerType | ShortType | ByteType => Some(LongType)
      case DoubleType | FloatType                        => Some(DoubleType)
      case StringType                                    => Some(StringType)
      case BooleanType                                   => Some(BooleanType)
      case BinaryType | DateType | TimestampType | TimestampNTZType =>
        Some(StringType) // RowBridge renders these as strings
      case ArrayType(e, _) => jsonEq(e).map(ArrayType(_, containsNull = true))
      case st: StructType  => structEq(st)
      case _               => None // decimal (value-dependent), map, …
    }
    def structEq(st: StructType): Option[StructType] = {
      if (st.fields.isEmpty) return None
      val fs = st.fields.sortBy(_.name).map { f =>
        jsonEq(f.dataType) match {
          case Some(d) => StructField(f.name, d, nullable = true)
          case None    => return None
        }
      }
      Some(StructType(fs))
    }

    // static type of a shape-value expression over the current element
    def typeIn(scope: StructType, e: Expr): Option[DataType] =
      try new ColLower(Some(scope)).inferDt(e)
      catch { case _: LowerException => None }

    // `{…}` shape over the element scope → output element struct.
    // Guarded / optional fields (`when`, `k?:`) still carry their value
    // type: a row that omits the field parses as null under the static
    // schema, exactly what the inferred union gives such rows.
    def shapeOf(scope: StructType, shape: Expr): Option[StructType] = shape match {
      case Current => Some(scope)
      case ObjLit(fields) =>
        var out = VectorMap.empty[String, DataType]
        fields.foreach {
          case ObjField.KV(Lit(JStr(k)), v, _) =>
            out += k -> typeIn(scope, v).getOrElse(return None)
          case ObjField.OptKV(Lit(JStr(k)), v) =>
            out += k -> typeIn(scope, v).getOrElse(return None)
          case ObjField.Short(n) =>
            out += n -> scope.find(_.name == n).map(_.dataType).getOrElse(return None)
          case ObjField.OptShort(n) =>
            out += n -> scope.find(_.name == n).map(_.dataType).getOrElse(return None)
          case ObjField.Spread(e) => typeIn(scope, e) match {
            case Some(st: StructType) => st.fields.foreach(f => out += f.name -> f.dataType)
            case _                    => return None
          }
          case _ => return None // dynamic keys, deep spreads
        }
        if (out.isEmpty) None
        else Some(StructType(out.toSeq.map { case (k, d) => StructField(k, d) }))
      case _ => None // scalar/array streams keep the inference path
    }

    def litStr(a: Arg): Option[String] = a.e match {
      case Lit(JStr(s)) if a.name.isEmpty => Some(s)
      case Ident(n) if a.name.isEmpty     => Some(n)
      case _                              => None
    }

    val ast =
      try Parser.parse(evalExpr)
      catch { case _: graft.jexpr.ParseException => return None }
    ast match {
      case Chain(Root, steps) if steps.length >= 2 =>
        steps.head match {
          case Step.Field(_) => ()
          case _             => return None
        }
        var elem: StructType = tableSchema
        steps.tail.foreach {
          case Step.InlineFilter(_)                                  => ()
          case Step.Optional                                         => ()
          case Step.Method("filter" | "where" | "find_all", as)
              if as.length == 1                                      => ()
          case Step.MapShape(_, sh) =>
            elem = shapeOf(elem, sh).getOrElse(return None)
          case Step.Method("map", as) if as.length == 1 && as(0).name.isEmpty =>
            elem = shapeOf(elem, as(0).e).getOrElse(return None)
          case Step.Method("pick", as) if as.nonEmpty =>
            // pick ALWAYS emits every named key (a miss emits null —
            // Builtins.pick fieldOf), so names must exist in the scope
            // to stay typed; aliased/computed selectors are not proven
            val names = as.map(a => litStr(a).getOrElse(return None))
            var out = VectorMap.empty[String, DataType]
            names.foreach { n =>
              out += n -> elem.find(_.name == n).map(_.dataType).getOrElse(return None)
            }
            elem = StructType(out.toSeq.map { case (k, d) => StructField(k, d) })
          case Step.Method("omit", as) if as.nonEmpty =>
            val names = as.map(a => litStr(a).getOrElse(return None)).toSet
            val kept = elem.fields.filterNot(f => names(f.name))
            if (kept.isEmpty) return None
            elem = StructType(kept)
          case Step.Method("explode", as) if as.length == 1 =>
            val f = litStr(as(0)).getOrElse(return None)
            elem.find(_.name == f).map(_.dataType) match {
              case Some(ArrayType(et, _)) =>
                elem = StructType(elem.fields.map(fd =>
                  if (fd.name == f) StructField(f, et) else fd))
              case _ => return None
            }
          case _ => return None // compact, walks, writes, deep stages…
        }
        structEq(elem)
      case Chain(inner, Vector(Step.Field(t2))) =>
        // the rowwise rewrite `(expr).t` for chain-writes and `patch $`
        // batches: output rows are the patched TABLE rows, so the
        // schema is the table's with the written fields' types
        // adjusted. Cross-numeric-kind writes (long column written with
        // doubles or vice versa) are NOT provable: the inferred type
        // depends on which rows the fan matches at runtime ([*] fans and
        // all/zero-match guards see only ONE kind, so inference gives
        // LONG where a static long∪double union would say DOUBLE, and
        // long values would render 1.0) — bail to the inference path.
        def numMix(a: org.apache.spark.sql.types.DataType,
                   b: org.apache.spark.sql.types.DataType)
            : Option[org.apache.spark.sql.types.DataType] =
          (jsonEq(a), jsonEq(b)) match {
            case (Some(x), Some(y)) if x == y => Some(x)
            case _                            => None
          }
        // patch leaves bind ONLY `@` (PatchEval leafEnv) — a bare
        // identifier there is env-scoped, never a row column
        def leafType(fld: StructField, raw: Expr): Option[org.apache.spark.sql.types.DataType] = {
          val vE = raw match {
            case Lambda(Vector(p), body) =>
              rewrite(body) {
                case Ident(`p`)              => Current
                case Chain(Ident(`p`), rest) => Chain(Current, rest)
              }
            case e => e
          }
          var bare = false
          rewrite(vE) { case i @ Ident(_) => bare = true; i }
          if (bare) return None
          typeIn2(fld, vE)
        }
        def typeIn2(fld: StructField, e: Expr): Option[org.apache.spark.sql.types.DataType] =
          try new ColLower(Some(tableSchema),
            current = Some(org.apache.spark.sql.functions.col(fld.name)),
            currentDt = Some(fld.dataType)).inferDt(e)
          catch { case _: LowerException => None }
        def adjusted(writes: Seq[(String, org.apache.spark.sql.types.DataType)])
            : Option[org.apache.spark.sql.types.StructType] = {
          var fields = tableSchema.fields.toVector
          writes.foreach { case (f, vt) =>
            val i = fields.indexWhere(_.name == f)
            if (i < 0) return None
            numMix(fields(i).dataType, vt) match {
              case Some(d) => fields = fields.updated(i, StructField(f, d))
              case None    => return None
            }
          }
          structEq(StructType(fields))
        }
        def fanOk(s: Step): Boolean = s match {
          case Step.InlineFilter(_)            => true
          case Step.MapShape(None, Current)    => true
          case _                               => false
        }
        inner match {
          case Chain(Root, steps)
              if steps.headOption.contains(Step.Field(t2)) =>
            steps.tail.toList match {
              case fan :: Step.Method("delete", as) :: Nil
                  if fanOk(fan) && as.isEmpty =>
                structEq(tableSchema) // rows filtered, schema untouched
              case fan :: Step.Field(f) :: Step.Method("set" | "modify", as) :: Nil
                  if fanOk(fan) && as.length == 1 =>
                for {
                  fld <- tableSchema.find(_.name == f)
                  vt  <- leafType(fld, as(0).e)
                  out <- adjusted(Seq(f -> vt))
                } yield out
              case _ => None // unset/merge/nested paths keep inference
            }
          case Patch(Root, pfields) =>
            // every path t[*].f (top-level field, any row guard), every
            // leaf a value WRITE — DELETEs change column presence and
            // keep the inference path
            val writes = pfields.map { pf =>
              (pf.path.toList, pf.value) match {
                case (PatchStep.Field(`t2`) :: (PatchStep.Wild | PatchStep.WildIf(_)) ::
                      PatchStep.Field(f) :: Nil, Some(v)) =>
                  for {
                    fld <- tableSchema.find(_.name == f)
                    vt  <- leafType(fld, v)
                  } yield f -> vt
                case _ => None
              }
            }
            if (writes.exists(_.isEmpty)) None
            else adjusted(writes.flatten)
          case _ => None
        }
      case _ => None // other rewrites keep the inference path
    }
  }

  private[graft] def onePartition(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(coalesce(c.cast("long"), lit(0L)), lit(1L))

  private def bail(msg: String): Nothing = throw new LowerException(msg)

  /** Parsed-AST cache: `compile` is called per query evaluation, but a
    * given jetro text always parses to the same tree — mirror the
    * doc-mode plan cache (Jetro plan cache; reference lib.rs:269-284).
    * The DataFrame itself is NOT cached (it closes over the resolver). */
  private val astCache =
    new java.util.concurrent.ConcurrentHashMap[String, Expr]()

  private def parseCached(expr: String): Expr = {
    val hit = astCache.get(expr)
    if (hit != null) hit
    else {
      val ast = Parser.parse(expr)
      if (astCache.size > 512) astCache.clear() // crude cap, queries are few
      astCache.put(expr, ast)
      ast
    }
  }

  // Per-row-HEAVY operator families, from the round-11 spread
  // measurement (OPTIMIZATION_r11.md): string-split array fan-outs and
  // map-object rebuild chains cost far more per row than one narrow-row
  // shuffle, so an under-parallelised scan below them is worth
  // spreading (Tables.spreadCompute); every other lowered family
  // measured FASTER without the extra exchange (its map-side partial
  // aggregation or range shuffle already parallelises the work). Patch
  // blocks rebuild the written container per row — same class. A false
  // positive only adds one narrow exchange on an unsplittable scan,
  // never changes results.
  private val heavyMethods = Set(
    "split", "transform_values", "transform_keys", "invert",
    "filter_keys", "flatten_keys", "unflatten_keys")

  // Positional table ops that read PHYSICAL row order when no explicit
  // sort is active (first/take/skip and slices do NOT bail unordered —
  // stored parquet order IS their documented doc-mode semantics). The
  // spread permutes physical order, so a chain that applies one of
  // these while unordered must never be spread (the q_nth latent-bug
  // class from r11, ADVICE r11 item 1). Every other order-dependent op
  // (last, nth, enumerate, window family, take_while, implode, …)
  // bails to doc mode when unordered, and doc mode reads the un-spread
  // Tables.stored path.
  private val positionalMethods = Set("first", "take", "skip", "drop")

  // Steps that re-group rows through their own exchange (aggregations,
  // zips, the distributed order machinery): a heavy op ABOVE one of
  // these gains nothing from a scan-level spread — the exchange already
  // re-parallelised — so the heavy scan stops there (ADVICE r11 item 4:
  // scope the spread to the segment below the first aggregation).
  private val regroupMethods = Set(
    "group_by", "count_by", "index_by", "pivot", "unique", "distinct",
    "unique_by", "zip", "zip_longest", "enumerate", "window", "chunk",
    "batch", "pairwise", "rolling_sum", "rolling_avg", "rolling_min",
    "rolling_max", "lag", "lead", "diff_window", "pct_change",
    "cum_max", "cum_min", "accumulate", "zscore", "implode")

  /** Expression children for the spread decision's FULL descent —
    * unlike [[rewrite]] this enters lambda bodies, comprehension
    * clauses and patch fields, because a heavy HOF inside a map shape
    * or patch value is exactly the per-row cost the spread targets. */
  private def spreadChildren(e: Expr): Seq[Expr] = e match {
    case Chain(b, steps)   => b +: steps.flatMap(stepExprs)
    case Pipe(b, steps)    => b +: steps.collect { case PipeStep.Forward(f) => f }
    case Binary(_, l, r)   => Seq(l, r)
    case Unary(_, i)       => Seq(i)
    case IfElse(c, t, f)   => Seq(c, t, f)
    case TryElse(b, d)     => Seq(b, d)
    case Lambda(_, b)      => Seq(b)
    case Let(bs, bd)       => bs.map(_._2) :+ bd
    case Comp(_, k, v, cls, cond) => (k +: cls.map(_._2)) ++ v ++ cond
    case GlobalCall(_, as) => as.map(_.e)
    case Cast(i, _)        => Seq(i)
    case KindIs(i, _, _)   => Seq(i)
    case FString(ps)       => ps.collect { case FPart.Interp(i, _) => i }
    case ArrLit(es)        => es.map {
      case ArrElem.One(a) => a
      case ArrElem.Spread(a) => a
    }
    case ObjLit(fs)        => fs.flatMap {
      case ObjField.KV(k, v, w)   => Seq(k, v) ++ w
      case ObjField.OptKV(k, v)   => Seq(k, v)
      case ObjField.Dyn(k, v)     => Seq(k, v)
      case ObjField.Spread(s)     => Seq(s)
      case ObjField.SpreadDeep(s) => Seq(s)
      case _                      => Nil
    }
    case Patch(t, fields)  => t +: fields.flatMap(f =>
      f.value.toSeq ++ f.when.toSeq ++
        f.path.collect { case PatchStep.WildIf(p) => p })
    case _                 => Nil
  }

  private def stepExprs(s: Step): Seq[Expr] = s match {
    case Step.Method(_, as)     => as.map(_.e)
    case Step.DeepMethod(_, as) => as.map(_.e)
    case Step.Index(i)          => Seq(i)
    case Step.DynField(i)       => Seq(i)
    case Step.InlineFilter(p)   => Seq(p)
    case Step.MapShape(p, sh)   => p.toSeq :+ sh
    case _                      => Nil
  }

  private def hasHeavy(e: Expr): Boolean = e match {
    case _: Patch => true // rebuilds the written container per row
    case Chain(_, steps) if steps.exists {
        case Step.Method(n, _) => heavyMethods(n)
        case _                 => false
      } => true
    case other => spreadChildren(other).exists(hasHeavy)
  }

  /** AST-driven spread decision (r12; replaces the r11 text regex —
    * string literals containing ".split(" no longer trigger it, and the
    * scope/order rules below are checkable against parsed structure).
    * True when per-row-heavy work sits below the first row-regrouping
    * step AND no positional op reads unsorted physical order. */
  private[plans] def shouldSpread(ast: Expr): Boolean = ast match {
    case Chain(Root, steps) =>
      var ordered = false  // an explicit sort is active
      var scanning = true  // still below the first row-regrouping step
      var heavy = false
      var safe = true
      steps.foreach {
        case Step.Slice(_, _) => if (!ordered) safe = false
        case Step.Method(n, as) =>
          if (positionalMethods(n) && !ordered) safe = false
          if (scanning && (heavyMethods(n) || as.exists(a => hasHeavy(a.e))))
            heavy = true
          if (n == "sort" || n == "sort_by") ordered = true
          else if (regroupMethods(n)) { scanning = false; ordered = false }
        case s =>
          if (scanning && stepExprs(s).exists(hasHeavy)) heavy = true
      }
      safe && heavy
    case other => hasHeavy(other)
  }

  private def spreadIfHeavy(
      ast: Expr, resolve: String => DataFrame): String => DataFrame =
    if (shouldSpread(ast)) t => graft.core.Tables.spreadCompute(resolve(t))
    else resolve

  /** Compile `expr` against a table resolver. The expression must be a
    * rooted chain whose first step names a table (`$.orders…`). */
  def compile(expr: String, resolve: String => DataFrame): DataFrame = {
    val ast = parseCached(expr)
    compileAst(ast, spreadIfHeavy(ast, resolve))
  }

  def tryCompile(expr: String, resolve: String => DataFrame): Option[DataFrame] =
    try Some(compile(expr, resolve))
    catch {
      case _: LowerException => None
      // parse errors fall through too — the document-mode fallback
      // re-parses and surfaces the descriptive error itself
      case _: graft.jexpr.ParseException => None
      // a lowering that produces an unresolvable plan (type mismatch,
      // missing column) must honour the fallback contract as well, not
      // surface Catalyst's analysis error to the caller
      case _: org.apache.spark.sql.AnalysisException => None
    }

  /** Row-scope document compile: a per-document jetro expression →
    * native `Column` over the struct column `doc` of type `docType`,
    * with `$` bound to the document. The whole pipeline lowers to
    * codegen'd expressions (higher-order functions for array stages) —
    * no interpreter UDF, no JSON round-trip — or returns None so the
    * caller can fall back to [[graft.jexpr.Jetro]]'s UDFs. This is the
    * reference's compile-when-possible backend ladder
    * (ir/physical.rs:219-230) applied PER ROW instead of per table.
    */
  def compileDocColumn(
      expr: String, doc: Column,
      docType: org.apache.spark.sql.types.StructType): Option[Column] =
    try Some(new ColLower(None, rootStruct = Some((doc, docType)))
      .colExpr(parseCached(expr)))
    catch {
      case e: LowerException             =>
        if (sys.env.contains("GRAFT_LOWER_DEBUG")) println(s"[lower-bail] $expr: ${e.getMessage}")
        None
      case e: graft.jexpr.ParseException =>
        if (sys.env.contains("GRAFT_LOWER_DEBUG")) println(s"[lower-parse] $expr: ${e.getMessage}")
        None
      // an unresolvable column expression honours the fallback contract
      // like tryCompile does — analysis errors mean "doesn't lower"
      case e: org.apache.spark.sql.AnalysisException =>
        if (sys.env.contains("GRAFT_LOWER_DEBUG")) println(s"[lower-analysis] $expr: ${e.getMessage}")
        None
    }

  /** Interp.chainWrite's static shape (Interp.scala:227-253): a
    * root-based chain whose first write-shaped method is preceded only
    * by path steps is a chain-WRITE evaluating to the patched
    * document, not a value read — doc mode (or Graft's rowwise patch
    * rewrite) owns it. Historically every write-shaped name was simply
    * absent from the lowered-method sets; the map lane lowers `merge`
    * as a VALUE op (legitimate off root paths), so the write shape
    * must now be excluded explicitly. */
  private[plans] def isRootChainWrite(steps: Vector[Expr.Step]): Boolean = {
    import Expr._
    val wi = steps.indexWhere {
      case Step.Method("set" | "modify", as)       => as.length == 1
      case Step.Method("delete", as)               => as.isEmpty
      case Step.Method("unset", as)                => as.length == 1
      case Step.Method("merge" | "deep_merge", as) => as.nonEmpty
      case _                                       => false
    }
    wi >= 0 && steps.take(wi).forall {
      case Step.Field(_) | Step.Index(_) | Step.InlineFilter(_) => true
      case Step.MapShape(None, Current)                         => true
      case Step.Descendant(Some(_))                             => true
      case _                                                    => false
    }
  }

  def compileAst(ast: Expr, resolve: String => DataFrame): DataFrame = ast match {
    case Chain(Root, steps) if steps.nonEmpty =>
      if (isRootChainWrite(steps)) bail("root chain-write stays on the document rungs")
      compileChain(steps, resolve, identity)
    case Let(Vector((idxName, idxInit)), body) =>
      indexJoin(idxName, idxInit, body, resolve)
    case Comp(CompKind.List | CompKind.Gen, keyE, None, clauses, cond) =>
      comprehension(keyE, clauses, cond, resolve)
    case Patch(target, fields) => patchTable(target, fields, resolve)
    case other => bail(s"not a rooted pipeline: $other")
  }

  /** Relational patch blocks (SURVEY §2.9 / §4.5): `patch $
    * { table[*].path: value when cond }` compiles to per-row column
    * rewrites — `withColumn`/`withField` with the guard folded into a
    * CASE that keeps the old leaf, `@` bound to the old leaf column,
    * and DELETE mapped to drop/dropFields. Entire patch stays one
    * projection (OptimizeUpdateFields fuses the chains — asserted in
    * PlanQualitySpec). Paths that iterate anything but table rows
    * (`[n]`, `..f`) or conditionally DELETE fall back to doc mode.
    * One-key-deep writes/deletes into `map<string,V>` columns lower
    * through a map-level rewrite (see the replacements fold); deeper
    * map paths fall back.
    */
  private def patchTable(
      target: Expr, fields: Vector[PatchField],
      resolve: String => DataFrame): DataFrame = {
    // `patch $ {t[*]...}` — every path names the same table first;
    // `patch $.t {[*]...}` — the target chain IS the table.
    val (df0, rowPaths): (DataFrame, Vector[PatchField]) = target match {
      case Root =>
        val tables = fields.map(_.path.headOption match {
          case Some(PatchStep.Field(t)) => t
          case other                    => bail(s"patch path must start at a table, got $other")
        }).distinct
        tables match {
          case Vector(t) => (resolve(t), fields.map(f => f.copy(path = f.path.tail)))
          case ts        => bail(s"patch over multiple tables: $ts")
        }
      case c @ Chain(Root, _) => (compileAst(c, resolve), fields)
      case other              => bail(s"patch target $other")
    }
    // The reference's patch batches bind `@`, guards, and value columns to
    // the PRE-BATCH document (jetro patch_fusion soundness:
    // modify_after_set_reads_prebatch_value — locked by PatchFusionSpec for
    // the interpreter). Sequential withColumn folds would let later fields
    // see earlier writes, so instead every field's value/guard column is
    // resolved against df0 and the whole batch applies in ONE select;
    // same-path fields fold last-wins (guard-false keeps the previous
    // field's result, matching sequential application with pre-batch reads).
    final case class Write(top: String, nested: List[String],
                           guard: Option[Column], value: Column,
                           valueDt: Option[org.apache.spark.sql.types.DataType])
    var deletes = Vector.empty[List[String]] // DELETE paths, in order
    var writes  = Vector.empty[Write]
    // static type of the column the patch path walks to — struct fields
    // plus a single string-keyed MAP hop at the top (the map-write lane
    // below); None for paths the schema can't type (those either resolve
    // dynamically or fail analysis and fall back)
    def walkDt(names: List[String]): Option[org.apache.spark.sql.types.DataType] =
      names.tail.foldLeft(
        df0.schema.find(_.name == names.head).map(_.dataType)) { (acc, n) =>
        acc.flatMap {
          case st: org.apache.spark.sql.types.StructType =>
            st.find(_.name == n).map(_.dataType)
          case org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType, v, _) => Some(v)
          case _ => None
        }
      }
    def topMap(top: String): Option[org.apache.spark.sql.types.MapType] =
      df0.schema.find(_.name == top).map(_.dataType).collect {
        case m @ org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType, _, _) => m
      }
    rowPaths.foreach { f =>
      val (rowGuard, steps) = f.path.toList match {
        case PatchStep.Wild :: rest        => (None, rest)
        case PatchStep.WildIf(p) :: rest   => (Some(p), rest)
        case other => bail(s"patch path must iterate rows with [*], got $other")
      }
      val names = steps.map {
        case PatchStep.Field(n) => n
        case s                  => bail(s"patch step $s")
      }
      if (names.isEmpty) bail("patch must name a field")
      // writes INTO a map column lower only one key deep (props.k) —
      // deeper paths would need nested per-value rewrites; doc mode
      // sequences those correctly
      if (topMap(names.head).isDefined && names.length > 2)
        bail(s"map-column patch path ${names.mkString(".")} is not one key deep")
      val dotted = names.mkString(".")
      val oldLeaf = col(dotted)
      val cl = new ColLower(Some(df0.schema), current = Some(oldLeaf),
        currentDt = walkDt(names))
      val rowCl = new ColLower(Some(df0.schema))
      // Doc-mode patch leaves bind ONLY `@` (PatchEval leafEnv =
      // env.withCurrent(orig)); a bare identifier there is env-scoped
      // (undefined at top level), NOT a row column — resolving it as a
      // column would silently diverge, so bail to doc mode.
      def bareIdent(e: Expr): Boolean = {
        var found = false
        rewrite(e) { case i @ Ident(_) => found = true; i }
        found
      }
      (f.when.toSeq ++ rowGuard).foreach(e =>
        if (bareIdent(e)) bail("patch guard references an env identifier"))
      f.value match {
        case None => // DELETE — unconditional only (a column either exists or not)
          if (f.when.isDefined || rowGuard.isDefined)
            bail("conditional DELETE on a table")
          deletes :+= names
        case Some(v) =>
          val vE = v match {
            case Lambda(Vector(p), body) => // lambda applies to the old leaf
              rewrite(body) {
                case Ident(`p`)              => Current
                case Chain(Ident(`p`), rest) => Chain(Current, rest)
              }
            case e => e
          }
          if (bareIdent(vE)) bail("patch value references an env identifier")
          val newV = cl.colExpr(vE)
          val whenG = f.when.map(w => cl.truthy(cl.colExpr(w), w))
          val rowG  = rowGuard.map(p => rowCl.truthy(rowCl.colExpr(p), p))
          writes :+= Write(names.head, names.tail,
            (whenG ++ rowG).reduceOption(_ && _), newV, cl.inferDt(vE))
      }
    }
    // DELETE interleaved with a write on the same column is
    // order-sensitive (delete-then-set recreates, set-then-delete removes)
    // — doc mode sequences it correctly, so bail rather than guess.
    val writtenTops = writes.map(_.top).toSet
    if (deletes.exists(d => writtenTops(d.head)))
      bail("patch mixes DELETE and write on one column")
    // A whole-column write plus a nested write into the same column would
    // need sequential application (the nested write lands on the new
    // value) — bail to doc mode for that shape too.
    writes.groupBy(_.top).foreach { case (t, ws) =>
      if (ws.exists(_.nested.isEmpty) && ws.exists(_.nested.nonEmpty))
        bail(s"patch mixes whole-column and nested writes on $t")
    }
    // Fold same-path fields: start from the pre-batch leaf, each field's
    // guard selects its (pre-batch-resolved) value or keeps the fold so far.
    def foldPath(full: String, ws: Seq[Write]): Column =
      ws.foldLeft(col(full)) { (acc, w) =>
        w.guard.fold(w.value)(g =>
          when(coalesce(g, lit(false)), w.value).otherwise(acc))
      }
    val tcl = new ColLower(Some(df0.schema))
    val replacements: Map[String, Column] = writes.groupBy(_.top).map {
      case (top, ws) if ws.head.nested.isEmpty =>
        top -> foldPath(top, ws)
      case (top, ws) if topMap(top).isDefined =>
        // writes INTO a `map<string,V>` column apply sequentially ON THE
        // MAP, not as a leaf fold: guard-false keeps the map as-is (a
        // missing key stays missing — PatchEval Skipped — where a leaf
        // fold would insert the old-null), a null/missing map is created
        // by an unguarded write ({k: v}, PatchEval's VectorMap.empty
        // coercion), an existing key updates IN PLACE and a new key
        // appends at the END (VectorMap `+`). Values and guards still
        // read the PRE-BATCH columns, so sequential application only
        // sequences the writes themselves — the batch contract holds.
        val mt = topMap(top).get
        // each fold level embeds the accumulated map ~5×, so the
        // expression tree grows ~5^W — fine for the 1-3 writes real
        // patches carry, pathological beyond; doc mode sequences long
        // batches correctly
        if (ws.length > 5)
          bail(s"map patch with ${ws.length} writes on $top stays doc-mode")
        val u = ws.foldLeft(mt.valueType) { (acc, w) =>
          unifySameKind(acc,
            w.valueDt.getOrElse(bail(s"map write value type unknown on $top")))
            .getOrElse(bail(s"map write value kind differs from $top's lane"))
        }
        val outT = org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, u, valueContainsNull = true)
        top -> ws.foldLeft(col(top).cast(outT)) { (acc, w) =>
          val k = lit(w.nested.head)
          val v = w.value.cast(u)
          val single = map_from_arrays(array(k), array(v)).cast(outT)
          val applied =
            when(acc.isNull, single)
              .when(map_contains_key(acc, k),
                map_from_entries(transform(map_entries(acc), e =>
                  struct(e.getField("key").as("key"),
                    when(e.getField("key") === k, v)
                      .otherwise(e.getField("value")).as("value")))))
              .otherwise(map_concat(acc, single))
          w.guard.fold(applied)(g =>
            when(coalesce(g, lit(false)), applied).otherwise(acc))
        }
      case (top, ws) =>
        // distinct nested paths chain withField on the ORIGINAL column;
        // same nested path folds first (ws is already in field order)
        val byPath = ws.groupBy(_.nested).toSeq
          .sortBy { case (p, _) => ws.indexWhere(_.nested == p) }
        top -> byPath.foldLeft(col(top)) { case (acc, (nested, group)) =>
          acc.withField(nested.mkString("."),
            foldPath((top :: nested).mkString("."), group))
        }
    }
    val kept = df0.columns.map(c =>
      replacements.get(c).map(_.as(c)).getOrElse(col(c)))
    val appended = writes.map(_.top).distinct
      .filterNot(df0.columns.contains)
      .map(t => replacements(t).as(t))
    val patched = df0.select((kept ++ appended).toIndexedSeq: _*)
    deletes.foldLeft(patched) { (df, names) =>
      if (names.length == 1) df.drop(names.head)
      else topMap(names.head) match {
        case Some(mt) =>
          // map-key DELETE drops the entry; a null/missing map becomes
          // {} — PatchEval coerces the absent parent to VectorMap.empty
          // and the delete still registers as Changed
          val outT = org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType, mt.valueType,
            valueContainsNull = true)
          df.withColumn(names.head,
            map_from_entries(filter(
              map_entries(coalesce(col(names.head).cast(outT), map().cast(outT))),
              e => e.getField("key") =!= names(1))))
        case None =>
          df.withColumn(names.head,
            col(names.head).dropFields(names.tail.mkString(".")))
      }
    }
  }

  /** Comprehension lowering (SURVEY §2.3 "cross join via nested
    * comprehension", §7.1 step 5): each `for v in $.table` clause becomes
    * a scoped relation (columns renamed `__v_*`), multiple clauses
    * cross-join, the `if` condition filters — and Catalyst rewrites the
    * cross+equality shape into a real equi-join, exactly the INDEPTH
    * promise (INDEPTH.md:261-279). Variable references `v.field` in the
    * element expression and condition rewrite to the scoped columns.
    */
  private def comprehension(
      keyE: Expr, clauses: Vector[(Vector[String], Expr)], cond: Option[Expr],
      resolve: String => DataFrame): DataFrame = {
    if (clauses.exists(_._1.length != 1)) bail("two-variable comprehension over a table")
    val scoped = clauses.map { case (vars, srcE) =>
      val v = vars.head
      val df = compileAst(srcE, resolve)
      v -> df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"__${v}_$c"))
    }
    val varNames = scoped.map(_._1).toSet
    def scope(e: Expr): Expr = rewrite(e) {
      case Chain(Ident(v), Step.Field(f) +: rest) if varNames(v) =>
        if (rest.isEmpty) Ident(s"__${v}_$f") else Chain(Ident(s"__${v}_$f"), rest)
    }
    val joined = scoped.map(_._2).reduce(_ crossJoin _)
    val kept = cond.fold(joined)(c => joined.filter(predIn(joined, scope(c))))
    project(kept, scope(keyE))
  }

  private def compileChain(
      steps: Vector[Step], resolve: String => DataFrame,
      postSource: DataFrame => DataFrame): DataFrame =
    materialize(compileChainSt(steps, resolve, postSource))

  /** The chain WITHOUT the final order materialisation — for callers
    * (zip, zip_longest) that need the sub-pipeline's active order. */
  private def compileChainSt(
      steps: Vector[Step], resolve: String => DataFrame,
      postSource: DataFrame => DataFrame = identity): St =
    steps.head match {
      case Step.Field(table) =>
        var st = St(postSource(resolve(table)))
        var i = 1
        while (i < steps.length) {
          val fused =
            if (i + 1 < steps.length) (steps(i), steps(i + 1)) match {
              case (Step.Method("group_by", kArgs),
                    Step.Method("transform_values", tvArgs)) =>
                groupAgg(st.df, kArgs, tvArgs)
              case _ => None
            } else None
          fused match {
            case Some(df) => st = St(df); i += 2
            case None     => st = stage(st, steps(i), resolve); i += 1
          }
        }
        st
      case other => bail(s"chain must start at a table, got $other")
    }

  /** Materialise the active sequence order in the final result (the
    * doc-mode array order contract) — redundant sorts are eliminated by
    * Catalyst when the plan is already ordered. Keys resolve against
    * the FINAL schema (sort_by is lazy); a key this backend cannot
    * compile (LowerException from colExpr) or that no longer resolves
    * (AnalysisException, forced here rather than surfacing downstream)
    * PROPAGATES so tryCompile falls back to the interpreter — doc mode
    * sorted at the sort_by site, so silently returning unsorted rows
    * would diverge. */
  private def materialize(st: St): DataFrame = {
    val o = orderedDf(st)
    o.queryExecution.analyzed
    stripHidden(o)
  }

  /** `group_by(k).transform_values(lambda v: v.<agg>(field))` — the
    * reference's group-then-aggregate idiom (SYNTAX.md full examples) —
    * fuses into `groupBy(k).agg(...)`: one shuffle with map-side partial
    * aggregation, never materialising per-group arrays. The lambda body
    * may also be a SHAPE of aggregates (`{total: v.sum(x), n: v.count()}`)
    * — each field fuses into the same single-shuffle agg. */
  private def groupAgg(
      df: DataFrame, kArgs: Vector[Arg], tvArgs: Vector[Arg]): Option[DataFrame] = {
    val key = kArgs match {
      case Vector(Arg(_, Ident(k))) => k
      case _                        => return None
    }
    val cl = new ColLower(Some(df.schema))
    def aggFn(agg: String, target: Option[Column]): Option[Column] =
      agg match {
        case "sum"          => target.map(t => coalesce(sum(t), lit(0)))
        case "avg" | "mean" => target.map(avg)
        case "min"          => target.map(min)
        case "max"          => target.map(max)
        case "count" | "len" => Some(count(lit(1)))
        case _              => None
      }
    def aggOf(v: String, body: Expr): Option[Column] = body match {
      case Chain(Ident(ref), Vector(Step.Method(agg, aArgs))) if ref == v =>
        val target: Option[Column] = aArgs match {
          case Vector(Arg(_, e)) => Some(cl.colExpr(e))
          case Vector()          => None
          case _                 => return None
        }
        aggFn(agg, target)
      // `v.map(expr).agg()` — the map lane becomes the agg target
      case Chain(Ident(ref), Vector(
            Step.Method("map", Vector(Arg(_, m))),
            Step.Method(agg, Vector()))) if ref == v =>
        aggFn(agg, Some(cl.colExpr(m)))
      // `v.filter(p).count()` / `v.filter(p).<agg>(x)` — conditional agg
      case Chain(Ident(ref), Vector(
            Step.Method("filter" | "where", Vector(Arg(_, p))),
            Step.Method(agg, aArgs))) if ref == v =>
        val cond = cl.truthy(cl.colExpr(p), p)
        aArgs match {
          case Vector(Arg(_, e)) => aggFn(agg, Some(when(cond, cl.colExpr(e))))
          case Vector() if agg == "count" || agg == "len" =>
            Some(count(when(coalesce(cond, lit(false)), lit(1))))
          case _ => None
        }
      case _ => None
    }
    tvArgs match {
      case Vector(Arg(_, Lambda(Vector(v), ObjLit(fields)))) =>
        val cols = fields.map {
          case ObjField.KV(Lit(JStr(k)), body, None) =>
            aggOf(v, body).map(_.as(k)).getOrElse(return None)
          case ObjField.KV(Ident(k), body, None) =>
            aggOf(v, body).map(_.as(k)).getOrElse(return None)
          case _ => return None
        }
        Some(df.groupBy(col(key).as("key")).agg(cols.head, cols.tail: _*))
      case Vector(Arg(_, Lambda(Vector(v), body))) =>
        aggOf(v, body).map(a =>
          df.groupBy(col(key).as("key")).agg(a.as("value")))
      case _ => None
    }
  }

  /** The reference's index-join idiom (SYNTAX.md:666-672) —
    * `let idx = $.dim.index_by(key) in $.fact…map({…, idx[fk].field})` —
    * lowers to a broadcast hash left-join: the dim pipeline compiles,
    * keeps one row per key (`index_by` keeps exactly one), broadcasts,
    * and every `idx[fk].field` reference in the body becomes the joined
    * dim column. Keys compare as strings, mirroring the interpreter's
    * index_by key coercion (util val_to_key). All `idx[…]` references
    * must share one fk expression — one lookup key, one join.
    */
  private def indexJoin(
      idxName: String, idxInit: Expr, body: Expr,
      resolve: String => DataFrame): DataFrame = {
    val (dimSteps, keyName) = idxInit match {
      case Chain(Root, steps) if steps.nonEmpty =>
        steps.last match {
          case Step.Method("index_by", Vector(Arg(_, Ident(k)))) =>
            (steps.dropRight(1), k)
          case _ => bail("let-init is not an index_by pipeline")
        }
      case _ => bail("let-init is not a rooted pipeline")
    }
    // collect idx[fk].field references and check they share one fk
    var fkExprs = Vector.empty[Expr]
    val rewritten = rewrite(body) {
      case Chain(Ident(`idxName`), Step.Index(fk) +: Step.Field(f) +: rest) =>
        fkExprs :+= fk
        if (rest.isEmpty) Ident(s"__idx_$f") else Chain(Ident(s"__idx_$f"), rest)
    }
    if (fkExprs.isEmpty) bail("let body never references the index")
    if (fkExprs.distinct.length > 1) bail("index referenced with differing keys")
    val dim = compileChain(dimSteps, resolve, identity)
      .dropDuplicates(Seq(keyName)) // index_by keeps ONE row per key
    val dimAliased = dim.columns.foldLeft(dim)(
      (d, c) => d.withColumnRenamed(c, s"__idx_$c"))
    val fk = colExpr(fkExprs.head).cast("string")
    rewritten match {
      case Chain(Root, steps) if steps.nonEmpty =>
        compileChain(steps, resolve, fact =>
          fact.join(broadcast(dimAliased),
            fk === col(s"__idx_$keyName").cast("string"), "left"))
      case other => bail(s"let body is not a rooted pipeline: $other")
    }
  }

  /** Bottom-up partial rewrite over the expression tree. */
  private def rewrite(e: Expr)(pf: PartialFunction[Expr, Expr]): Expr = {
    def go(x: Expr): Expr = {
      val rebuilt = x match {
        case Chain(b, steps)   => Chain(go(b), steps.map(goStep))
        case Pipe(b, steps)    => Pipe(go(b), steps.map {
          case PipeStep.Forward(f) => PipeStep.Forward(go(f))
          case s                   => s
        })
        case Binary(op, l, r)  => Binary(op, go(l), go(r))
        case Unary(op, i)      => Unary(op, go(i))
        case IfElse(c, t, f)   => IfElse(go(c), go(t), go(f))
        case TryElse(b, d)     => TryElse(go(b), go(d))
        case Let(bs, bd)       => Let(bs.map { case (n, i) => (n, go(i)) }, go(bd))
        case ObjLit(fs)        => ObjLit(fs.map {
          case ObjField.KV(k, v, w)   => ObjField.KV(go(k), go(v), w.map(go))
          case ObjField.OptKV(k, v)   => ObjField.OptKV(go(k), go(v))
          case ObjField.Dyn(k, v)     => ObjField.Dyn(go(k), go(v))
          case ObjField.Spread(s)     => ObjField.Spread(go(s))
          case ObjField.SpreadDeep(s) => ObjField.SpreadDeep(go(s))
          case f                      => f
        })
        case ArrLit(es) => ArrLit(es.map {
          case ArrElem.One(a)    => ArrElem.One(go(a))
          case ArrElem.Spread(a) => ArrElem.Spread(go(a))
        })
        case GlobalCall(n, args) => GlobalCall(n, args.map(a => Arg(a.name, go(a.e))))
        case Cast(i, t)          => Cast(go(i), t)
        case KindIs(i, k, neg)   => KindIs(go(i), k, neg)
        case FString(ps)         => FString(ps.map {
          case FPart.Interp(i, f) => FPart.Interp(go(i), f)
          case p                  => p
        })
        case leaf => leaf
      }
      pf.applyOrElse(rebuilt, identity[Expr])
    }
    def goStep(s: Step): Step = s match {
      case Step.Method(n, args)     => Step.Method(n, args.map(a => Arg(a.name, go(a.e))))
      case Step.DeepMethod(n, args) => Step.DeepMethod(n, args.map(a => Arg(a.name, go(a.e))))
      case Step.Index(i)            => Step.Index(go(i))
      case Step.DynField(i)         => Step.DynField(go(i))
      case Step.InlineFilter(p)     => Step.InlineFilter(go(p))
      case Step.MapShape(p, sh)     => Step.MapShape(p.map(go), go(sh))
      case other                    => other
    }
    go(e)
  }

  // ── stage lowering ────────────────────────────────────────────────────

  /** Stage state: the plan so far plus the active explicit ordering (set
    * by `sort_by`, consumed by the order-dependent ops take_while /
    * drop_while — the reference's OrderBarrier bookkeeping, §4.4). The
    * ordering keeps the source ASTs (expr, descending) so later stages
    * can recompile and reason about the sort keys. */
  private final case class St(
      df: DataFrame, order: Vector[(Expr, Boolean)] = Vector.empty)

  /** Scalar kinds with a real order in BOTH backends (JValue.cmp has a
    * non-tie comparison for them); arrays/structs/maps tie in doc mode. */
  private def isAtomic(t: org.apache.spark.sql.types.DataType): Boolean = t match {
    case _: org.apache.spark.sql.types.ArrayType  => false
    case _: org.apache.spark.sql.types.StructType => false
    case _: org.apache.spark.sql.types.MapType    => false
    case org.apache.spark.sql.types.BinaryType    => false
    case _                                        => true
  }

  private def sortKeyAst(e: Expr): (Expr, Boolean) = e match {
    case Unary("-", inner) => (inner, true)
    case Lambda(ps, b) if ps.length == 2 =>
      comparatorKey(ps, b).map { case (k, d) => (rowKey(k), d) }
        .getOrElse(bail("comparator-lambda sort key has no columnar lowering"))
    case Lambda(Vector(p), b) =>
      (rowKey(keyLambdaBody(p, b)
        .getOrElse(bail("key-lambda sort has no columnar lowering"))), false)
    case other => (other, false)
  }

  /** True when `pf` matches any node [[rewrite]]'s traversal reaches.
    * Binder nodes (lambda/let/comprehension/pipe/patch) are visited as
    * nodes even though their scoped bodies are not descended into, so
    * their PRESENCE is always detectable. */
  private def exprHas(e: Expr)(pf: PartialFunction[Expr, Unit]): Boolean = {
    var found = false
    rewrite(e) { case x if pf.isDefinedAt(x) => found = true; x }
    found
  }

  /** A one-param key-lambda body rebased onto `@`: `λ x: x.f * 2` →
    * `@.f * 2`. Only when the body binds nothing itself, references no
    * `@`/`$` (which the interpreter resolves against the ENCLOSING
    * scope, not the element), and its only bare identifier is the
    * parameter — so the substitution is capture-free and scope-identical
    * between backends. Anything else → None (interpreter fallback). */
  private def keyLambdaBody(p: String, body: Expr): Option[Expr] = {
    val unsafe = exprHas(body) {
      case _: Lambda | _: Let | _: Comp | _: Pipe | _: Patch => ()
      case Root | Current                                    => ()
      case Ident(n) if n != p                                => ()
    }
    if (unsafe) None else Some(rewrite(body) { case Ident(`p`) => Current })
  }

  /** `λ a,b: K(a) < K(b)` (or `>`, or the operand-swapped mirror) to
    * key form: (K in terms of `@`, descending). The reference feeds the
    * comparator as a strict less-than to a stable sort
    * (examples.rs:411, Builtins.sorted), so `<` is the plain stable
    * ascending key sort and `>` the stable DESCENDING one — ties keep
    * their relative order in BOTH directions, unlike `-key`
    * (ascending-then-reverse). Mirror check: the two operands must be
    * the same expression with the params swapped, each side referencing
    * only its own param ([[keyLambdaBody]]'s safety rules). */
  private def comparatorKey(ps: Vector[String], body: Expr): Option[(Expr, Boolean)] = {
    val (pa, pb) = (ps(0), ps(1))
    if (pa == pb) return None
    def keySide(l: Expr, r: Expr, desc: Boolean): Option[(Expr, Boolean)] =
      keyLambdaBody(pa, l).filter { _ =>
        exprHas(l) { case Ident(`pa`) => () } &&
        rewrite(l) { case Ident(`pa`) => Ident(pb) } == r
      }.map((_, desc))
    body match {
      case Binary("<", l, r) =>
        keySide(l, r, desc = false).orElse(keySide(r, l, desc = true))
      case Binary(">", l, r) =>
        keySide(l, r, desc = true).orElse(keySide(r, l, desc = false))
      case _ => None
    }
  }

  /** A `@`-rooted key (from [[comparatorKey]]/[[keyLambdaBody]])
    * rebased onto row columns for the table lane: `@.f.rest` →
    * `f.rest`. A key using the element as a whole has no row-scope
    * meaning — bail to the interpreter. */
  private def rowKey(e: Expr): Expr = {
    val based = rewrite(e) {
      case Chain(Current, Step.Field(f) +: rest) =>
        if (rest.isEmpty) Ident(f) else Chain(Ident(f), rest)
    }
    if (exprHas(based) { case Current => () })
      bail("whole-row sort key has no columnar lowering")
    based
  }

  /** The frame explicitly sorted by the active order (no-op when
    * unordered). Limits/offsets MUST go through this rather than rely
    * on the physical row order: upstream ops (the blocked window
    * family) are distributed and leave the frame hash-partitioned, not
    * globally ordered. A redundant sort over an already-sorted child is
    * eliminated by Catalyst (EliminateSorts). */
  private def orderedDf(st: St): DataFrame =
    if (st.order.isEmpty) st.df
    else {
      val cl = new ColLower(Some(st.df.schema))
      st.df.orderBy(st.order.map { case (e, d) =>
        val c = cl.colExpr(e); if (d) c.desc else c.asc
      }: _*)
    }

  private def stage(st: St, s: Step, resolve: String => DataFrame): St = s match {
    case Step.InlineFilter(p) => St(st.df.filter(predIn(st.df, p)), st.order)
    case Step.MapShape(pred, shape) =>
      val kept = pred.fold(st.df)(p => st.df.filter(predIn(st.df, p)))
      St(project(kept, shape))
    case Step.Slice(Some(a), None) if a < 0 && st.order.nonEmpty =>
      // suffix slice [-n:] == last(n): reversed-order top-k (bounded
      // heap), re-sorted forward — needs the active explicit order
      val cl = new ColLower(Some(st.df.schema))
      def ord(flip: Boolean) = st.order.map { case (e, d) =>
        val c = cl.colExpr(e); if (d ^ flip) c.desc else c.asc
      }
      St(st.df.orderBy(ord(flip = true): _*).limit((-a).toInt)
        .orderBy(ord(flip = false): _*), st.order)
    case Step.Slice(from, to) => // [a:b] on an ordered source
      val a = from.getOrElse(0L)
      if (a < 0 || to.exists(_ < 0)) bail("negative slice on a table without a sort")
      val shifted = if (a > 0) orderedDf(st).offset(a.toInt) else orderedDf(st)
      // open-ended [a:] is offset only — no limit (a Long.MaxValue
      // sentinel truncated to Int flips negative)
      val sliced = to.fold(shifted) { b =>
        shifted.limit(math.min(math.max(0L, b - a), Int.MaxValue.toLong).toInt)
      }
      St(sliced, st.order)
    case Step.Method(name, args) => method(st, name, args, resolve)
    case Step.Descendant(Some(name)) => descendStep(st, name)
    case Step.DeepMethod(n @ ("shape" | "like"), args) =>
      deepShapeStep(st, n, args)
    case other => bail(s"unsupported step $other")
  }

  /** `$..name` — schema-directed deep descent (reference structural
    * backend exec/structural.rs:22-40, opcode.rs:206-209): every match
    * site is enumerated from the STATIC schema at plan time and emitted
    * pre-order per row (declared field order; a matched field's value is
    * emitted, then descended into), flattened across rows like the
    * interpreter's document walk. Matches inside array ELEMENTS lower
    * too: `transform` + `flatten` HOFs collect per-element matches in
    * element order — still one codegen'd projection, no interpreter.
    * Null leaves are filtered and null containers contribute nothing —
    * both absent from the document the interpreter walks (toJSON omits
    * nulls). Matches under map VALUES have no static key order → bail
    * to doc mode; heterogeneous match types surface as an analysis
    * failure, which tryCompile turns into the fallback. */
  private def descendStep(st: St, name: String): St = {
    import org.apache.spark.sql.types._
    val df = st.df
    def containsName(t: DataType): Boolean = t match {
      case s: StructType    => s.fields.exists(f => f.name == name || containsName(f.dataType))
      case ArrayType(e, _)  => containsName(e)
      // a string-keyed map's keys are dynamic — any entry MAY match at
      // runtime, so the walk must always look inside
      case MapType(StringType, _, _) => true
      case MapType(_, v, _) => containsName(v)
      case _                => false
    }
    val vis = df.columns.filterNot(_.startsWith("__ord_"))
    val visSchema = StructType(df.schema.fields.filter(f => vis.contains(f.name)))
    if (!containsName(visSchema)) bail(s"deep descent: no '$name' in the plan schema")
    // static unification of every possible match site — a string-keyed
    // map's value is a POTENTIAL match (dynamic key), so its value type
    // joins the unification; a conflict (e.g. `..v` over
    // map<string,struct<v:long>>: the entry value OR the struct field
    // could match) has no single lane type → doc mode owns it
    def unify(a: DataType, b: DataType): DataType = {
      // numeric lanes widen exactly as Spark's concat coercion does —
      // the interpreter's JInt/JFloat promotion; anything else mixed
      // has no single lane type
      val widen = Seq[DataType](
        ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)
      if (a == b) a
      else if (widen.contains(a) && widen.contains(b))
        widen(math.max(widen.indexOf(a), widen.indexOf(b)))
      else bail(s"deep descent: heterogeneous match types $a vs $b")
    }
    def matchType(t: DataType): Option[DataType] = t match {
      case s: StructType =>
        val parts = s.fields.toSeq.flatMap { f =>
          (if (f.name == name) Seq(f.dataType) else Nil) ++
            matchType(f.dataType).toSeq
        }
        parts.reduceOption(unify)
      case ArrayType(e, _) => matchType(e)
      case MapType(StringType, v, _) =>
        Some((Seq(v) ++ matchType(v).toSeq).reduce(unify))
      case MapType(_, v, _) => matchType(v)
      case _ => None
    }
    matchType(visSchema)
    // array of pre-order matches INSIDE value c (never null: null hits
    // filter to empty, null arrays coalesce to a typed empty).
    // EMISSION ORDER: Deep.descend emits a level's name-hit FIRST
    // (fs.get(n)), THEN descends all values in stored order — so every
    // object level hoists its hit ahead of ALL sibling descents, never
    // interleaving hit/rec per field (that diverged for a schema like
    // [s: struct<k:…>, k: …], yielding [s.k, row.k] instead of the
    // interpreter's [row.k, s.k]).
    def matchesIn(c: Column, dt: DataType): Column = dt match {
      case s: StructType =>
        val hits = s.fields.toSeq.filter(_.name == name).map { f =>
          filter(array(c.getField(f.name)), x => x.isNotNull)
        }
        val recs = s.fields.toSeq.filter(f => containsName(f.dataType)).map { f =>
          matchesIn(c.getField(f.name), f.dataType)
        }
        concat(hits ++ recs: _*)
      case at @ ArrayType(e, _) =>
        flatten(transform(coalesce(c, array().cast(at)), x => matchesIn(x, e)))
      case MapType(kt, v, _) =>
        // object values behind DYNAMIC keys: walk entries in STORED
        // order — parquet and from_json both keep map entries in parse/
        // write order, which is exactly the interpreter's insertion-
        // order object walk (reference exec/structural.rs:22-40; pinned
        // by the GraftCompileSpec entry-order differential). The level's
        // key-hit (at most one — object keys are unique) hoists ahead of
        // every per-entry descent, matching Deep.descend's fs.get(n)-
        // before-valuesIterator order.
        val entriesT = ArrayType(StructType(Seq(
          StructField("key", kt, nullable = false),
          StructField("value", v, nullable = true))))
        val entries = coalesce(map_entries(c), array().cast(entriesT))
        val hits =
          if (kt == StringType)
            Seq(flatten(transform(entries, e =>
              filter(array(e.getField("value")),
                x => e.getField("key") === lit(name) && x.isNotNull))))
          else Nil // non-string keys never equal a field name
        val recs =
          if (containsName(v))
            Seq(flatten(transform(entries, e => matchesIn(e.getField("value"), v))))
          else Nil
        concat(hits ++ recs: _*)
      case other => bail(s"deep descent: cannot walk $other")
    }
    val topHits = visSchema.fields.toSeq.filter(_.name == name).map { f =>
      filter(array(col(f.name)), x => x.isNotNull)
    }
    val topRecs = visSchema.fields.toSeq.filter(f => containsName(f.dataType)).map { f =>
      matchesIn(col(f.name), f.dataType)
    }
    explodePreOrder(st, concat(topHits ++ topRecs: _*))
  }

  /** Flatten a per-row pre-order match array into the chain's row
    * stream, carrying the active order through the explode plus the
    * in-row position as the final sequence key. An OBJECT stream lands
    * as a row lane — the matched struct's fields become the row's
    * columns, the same bridge `map({shape})` uses — so downstream
    * stages (`filter(qty > 2)`, `map(sku)`, group_by…) keep lowering;
    * scalar streams stay a single `value` column. */
  private def explodePreOrder(st: St, arr: Column): St = {
    val df = st.df
    val out =
      if (st.order.isEmpty) St(df.select(explode(arr).as("value")))
      else {
        val cl = new ColLower(Some(df.schema))
        val ordCols = st.order.zipWithIndex.map { case ((e, _), i) =>
          cl.colExpr(e).as(s"__ord_$i")
        }
        val sel = df.select(
          ordCols :+ posexplode(arr).as(Seq("__ord_p", "value")): _*)
        val rebased = st.order.zipWithIndex.map { case ((_, d), i) =>
          (Ident(s"__ord_$i"): Expr, d)
        } :+ ((Ident("__ord_p"): Expr, false))
        St(sel, rebased)
      }
    expandValueLane(out)
  }

  /** Rewrite a single struct-typed `value` lane into its fields as row
    * columns (hidden `__ord_*` carries ride along). Field names that
    * would clash with the carries or shadow `value` keep the struct. */
  private def expandValueLane(st: St): St = {
    import org.apache.spark.sql.types._
    st.df.schema.fields.find(_.name == "value").map(_.dataType) match {
      case Some(s: StructType)
          if !s.fieldNames.exists(n => n.startsWith("__ord_") || n == "value") =>
        val hidden = st.df.columns.filter(_.startsWith("__ord_")).toIndexedSeq
        St(st.df.select(
          s.fieldNames.toIndexedSeq.map(n => col("value").getField(n).as(n)) ++
            hidden.map(col): _*), st.order)
      case _ => st
    }
  }

  /** `..shape({k,…})` / `..like({k: lit,…})` — schema-directed deep
    * object search (reference O:array.rs:599-806, exec/structural.rs:
    * 22-40): every candidate object is a static struct path (the row
    * itself included, as the interpreter's self-included pre-order
    * walk sees it), checked with per-row native predicates — key
    * presence (non-null, matching the bridge's null-omission) for
    * shape, null-safe literal equality for like. Candidates hiding
    * inside array/map ELEMENTS have no static path → bail to doc mode,
    * as does a non-literal argument. Heterogeneous match types surface
    * as an analysis failure, which tryCompile turns into the doc-mode
    * fallback. */
  private def deepShapeStep(st: St, name: String, args: Vector[Arg]): St = {
    import org.apache.spark.sql.types._
    val isLike = name == "like" || name == "deep_like"
    val df = st.df
    val vis = df.columns.filterNot(_.startsWith("__ord_")).toIndexedSeq
    val visSchema = StructType(df.schema.fields.filter(f => vis.contains(f.name)))
    val fields = args.headOption.map(_.e) match {
      case Some(ObjLit(fs)) if args.length == 1 => fs
      case _ => bail(s"$name: literal object argument required")
    }
    val likeRaw: Vector[(String, JValue)] =
      if (!isLike) Vector.empty
      else fields.map {
        case ObjField.KV(Lit(JStr(k)), Lit(v), None) => k -> v
        case f => bail(s"$name: literal values required, got $f")
      }
    // duplicate keys: the interpreter ANDs every pair (likeFields keeps
    // both, so {tag: "a", tag: "b"} never matches); a toMap lookup would
    // silently keep only the last — bail to doc mode instead
    if (likeRaw.map(_._1).distinct.length != likeRaw.length)
      bail(s"$name: duplicate keys in the literal object")
    val keys: Vector[String] =
      if (isLike) likeRaw.map(_._1)
      else fields.map {
        case ObjField.Short(k)               => k
        case ObjField.KV(Lit(JStr(k)), _, _) => k
        case f                               => bail(s"$name: unsupported key $f")
      }
    if (keys.isEmpty) bail(s"$name: empty shape")
    def litOf(v: JValue): Column = v match {
      case JStr(s2)  => lit(s2)
      case JInt(i)   => lit(i)
      case JFloat(x) => lit(x)
      case JBool(b)  => lit(b)
      case other     => bail(s"$name: unsupported literal ${other.kind}")
    }
    // doc-mode equality is typed (JValue.eq: "5" != 5); a Spark compare
    // would coerce, so a type-incompatible key statically rules the
    // candidate out instead of comparing
    def typeOk(dt: DataType, v: JValue): Boolean = (dt, v) match {
      case (StringType, JStr(_))                      => true
      case (_: NumericType, JInt(_) | JFloat(_))      => true
      case (BooleanType, JBool(_))                    => true
      case _                                          => false
    }
    def hasKeys(s2: StructType): Boolean =
      if (isLike) likeRaw.forall { case (k, v) =>
        s2.fields.exists(f => f.name == k && typeOk(f.dataType, v)) }
      else keys.forall(k => s2.fieldNames.contains(k))
    def containsCandidate(t: DataType): Boolean = t match {
      case s2: StructType =>
        hasKeys(s2) || s2.fields.exists(f => containsCandidate(f.dataType))
      case ArrayType(e, _)   => containsCandidate(e)
      case MapType(_, v2, _) => containsCandidate(v2)
      case _                 => false
    }
    def underMapValue(t: DataType): Boolean = t match {
      case s2: StructType    => s2.fields.exists(f => underMapValue(f.dataType))
      case ArrayType(e, _)   => underMapValue(e)
      case MapType(_, v2, _) => containsCandidate(v2) || underMapValue(v2)
      case _                 => false
    }
    if (visSchema.fields.exists(f => underMapValue(f.dataType)))
      bail(s"$name: candidate objects inside map values have no static walk")
    // pre-order, self included: every struct node is a candidate (the
    // interpreter's allNodes walk), checked with native predicates —
    // key presence (non-null, matching the bridge's null-omission) for
    // shape, type-checked null-safe literal equality for like. Struct
    // nodes inside ARRAYS are collected with transform+flatten HOFs in
    // element order; null candidates filter to nothing.
    def checked(c: Column, s2: StructType): Column = {
      val matched = keys.map { k =>
        if (isLike) c.getField(k) <=> litOf(likeRaw.toMap.apply(k))
        else c.getField(k).isNotNull // null field = absent from the walked doc
      }.reduce(_ && _)
      when(c.isNotNull && matched, c)
    }
    def candIn(c: Column, dt: DataType): Seq[Column] = dt match {
      case s2: StructType =>
        val self =
          if (hasKeys(s2)) Seq(filter(array(checked(c, s2)), x => x.isNotNull))
          else Nil
        self ++ s2.fields.toSeq.flatMap { f =>
          if (containsCandidate(f.dataType)) candIn(c.getField(f.name), f.dataType)
          else Nil
        }
      case at @ ArrayType(e, _) =>
        Seq(flatten(transform(coalesce(c, array().cast(at)),
          x => concat(candIn(x, e): _*))))
      case other => bail(s"$name: cannot walk $other")
    }
    val rowSelf =
      if (hasKeys(visSchema)) {
        val matched = keys.map { k =>
          if (isLike) col(k) <=> litOf(likeRaw.toMap.apply(k))
          else col(k).isNotNull
        }.reduce(_ && _)
        Seq(filter(array(when(matched, struct(vis.map(col): _*))), x => x.isNotNull))
      } else Nil
    val parts = rowSelf ++ visSchema.fields.toSeq.flatMap { f =>
      if (containsCandidate(f.dataType)) candIn(col(f.name), f.dataType) else Nil
    }
    if (parts.isEmpty) bail(s"$name: no candidate object in the plan schema")
    explodePreOrder(st, concat(parts: _*))
  }

  /** Ops that consume or preserve the active sequence order; everything
    * else first sheds the hidden `__ord_*` carry columns (they must not
    * leak into distinct/compact/join semantics). */
  private val orderSensitive = Set(
    "filter", "find", "find_all", "where", "take", "skip", "drop", "first",
    "take_while", "drop_while", "last", "nth",
    "rolling_sum", "rolling_avg", "rolling_min", "rolling_max",
    "lag", "lead", "diff_window", "pct_change", "cum_max", "cum_min",
    "accumulate", "zscore", "remove",
    // keep-first/last-wins need the order; their partition keys exclude
    // the hidden `__ord_*` columns explicitly
    "unique", "distinct", "unique_by", "index_by")

  private def stripHidden(df: DataFrame): DataFrame = {
    val hidden = df.columns.filter(_.startsWith("__ord_"))
    if (hidden.isEmpty) df else df.drop(hidden.toIndexedSeq: _*)
  }

  private def method(st: St, name: String, args: Vector[Arg], resolve: String => DataFrame): St = {
    // a projection under an active order carries the order expressions
    // through as hidden columns, so order-dependent ops downstream
    // (rolling_*, lag, last…) can still sort by them
    if (name == "map" && st.order.nonEmpty) return mapOrdered(st, args)
    if (Set("enumerate", "pairwise", "window", "chunk", "batch")(name))
      return seqReshape(st, name, args)
    if (name == "zip" || name == "zip_longest")
      return zipStep(st, name, args, resolve)
    if (name == "deep_shape" || name == "deep_like")
      return deepShapeStep(st, name, args)
    if (name == "trace_path" && args.isEmpty) return tracePathStep(st)
    if (name == "walk" || name == "walk_pre") return walkTransformStep(st, name, args)
    if (name == "find_index" || name == "indices_where")
      return idxStep(st, name, args)
    if (name == "reverse") {
      // sequence reversal = flip the active explicit order (M:34-35)
      if (st.order.isEmpty) bail("reverse on unordered table (sort explicitly)")
      val flipped = st.order.map { case (e, d) => (e, !d) }
      val cl = new ColLower(Some(st.df.schema))
      val cols = flipped.map { case (e, d) =>
        val c = cl.colExpr(e); if (d) c.desc else c.asc
      }
      return St(st.df.orderBy(cols: _*), flipped)
    }
    val eff = if (orderSensitive(name)) st else St(stripHidden(st.df), st.order)
    val lowered = methodDf(eff, name, args, resolve)
    name match {
      case "sort" | "sort_by" =>
        if (args.nonEmpty) St(lowered, args.map(a => sortKeyAst(a.e)))
        else {
          // bare sort(): the reference orders by the element VALUE
          // itself (identity key). Relationally that is only a column
          // order when the lane is a single visible ATOMIC column —
          // whole-row objects and array/struct lanes tie EVERY pair in
          // the interpreter (JValue.cmp incomparable-kinds → 0, stable
          // sort keeps them in place), so any lowered order would
          // diverge — bail to the interpreter. Known divergence kept
          // (mirrors the documented take_while key-tie contract): a
          // null in an atomic lane ties in place in doc mode but sorts
          // first here; tables whose lanes hold nulls should sort_by
          // an explicit key.
          val vis = stripHidden(lowered)
          (vis.columns, vis.schema.fields.map(_.dataType)) match {
            case (Array(only), Array(t)) if isAtomic(t) =>
              St(lowered, Vector((Ident(only), false)))
            case (Array(_), _) =>
              bail("bare sort() over a non-atomic lane ties in doc mode")
            case _ => bail("bare sort() over multi-column rows (sort_by a key)")
          }
        }
      // filters/limits and the windowed sequence ops preserve the active
      // ordering; projections and aggregations invalidate it
      case n if orderSensitive(n) => St(lowered, st.order)
      case _ => St(lowered)
    }
  }

  /** `walk(fn)` / `walk_pre(fn)` — recursive node transform (reference
    * O:array.rs:599-806; Deep.walkPost/walkPre) for the tractable
    * static-schema subset: a kind-guarded scalar lambda
    * `walk(x => T(x) if x is <string|number|bool> else x)`. Containers
    * take the identity branch, so the whole walk is "transform every
    * matching scalar leaf" — ONE codegen'd projection, recursing into
    * structs (rebuilt) and arrays (`transform` HOF), no interpreter.
    * Pre/post order coincide because T is required to return a SCALAR
    * (a container-producing T would be re-walked by walk_pre — that
    * shape keeps the interpreter). Bails: non-guarded bodies, map
    * lanes, and — for the string guard — date/timestamp/binary leaves,
    * which the walked JSON document presents as strings (a typed
    * column would silently skip what doc mode transforms). */
  private def walkTransformStep(st: St, name: String, args: Vector[Arg]): St = {
    import org.apache.spark.sql.types._
    val (param, body) = argE(args, 0) match {
      case Lambda(Vector(p), b) => (p, b)
      case _                    => bail(s"$name: single-param lambda required")
    }
    val (kind, tBody) = body match {
      case IfElse(KindIs(Ident(p2), k, false), t, Ident(p3))
          if p2 == param && p3 == param => (k, t)
      case _ => bail(s"$name: only a kind-guarded scalar transform lowers")
    }
    if (!Set("string", "number", "bool")(kind))
      bail(s"$name: kind $kind guard does not lower")
    def matches(dt: DataType): Boolean = (kind, dt) match {
      case ("string", StringType)     => true
      case ("number", _: NumericType) => true
      case ("bool", BooleanType)      => true
      case _                          => false
    }
    // doc mode walks the toJSON image, where these arrive as strings
    def stringInDoc(dt: DataType): Boolean = dt match {
      case DateType | TimestampType | TimestampNTZType | BinaryType => true
      case _ => false
    }
    def tOver(c: Column, dt: DataType): Column = {
      val scope = new ColLower(None, current = Some(c), currentDt = Some(dt),
        param = Some(param), scalarElem = true)
      val out = scope.colExpr(tBody)
      scope.inferDt(tBody) match {
        case Some(t) if isAtomic(t) => out
        case _ => bail(s"$name: transform must return a scalar")
      }
    }
    def rebuild(c: Column, dt: DataType): Column = dt match {
      case s: StructType =>
        val inner = struct(s.fields.map(f =>
          rebuild(c.getField(f.name), f.dataType).as(f.name)): _*)
        when(c.isNotNull, inner)
      case ArrayType(et, _) => transform(c, x => rebuild(x, et))
      case _: MapType       => bail(s"$name: map lanes have no static walk")
      case leaf if matches(leaf) => when(c.isNotNull, tOver(c, leaf))
      case leaf =>
        if (kind == "string" && stringInDoc(leaf))
          bail(s"$name: $leaf walks as a string in doc mode")
        c
    }
    val df = st.df
    val vis = df.columns.filterNot(_.startsWith("__ord_")).toIndexedSeq
    // freeze the active order BEFORE values change: the walk rewrites
    // the very columns a prior sort may key on, and doc mode sorted
    // first — so the order rides through on hidden pre-walk copies
    val cl = new ColLower(Some(df.schema))
    val ordCols = st.order.zipWithIndex.map { case ((e, _), i) =>
      cl.colExpr(e).as(s"__ord_$i")
    }
    val walked = vis.map { c =>
      rebuild(col(c), df.schema(c).dataType).as(c)
    }
    val rebased = st.order.zipWithIndex.map { case ((_, d), i) =>
      (Ident(s"__ord_$i"): Expr, d)
    }
    St(df.select(walked ++ ordCols: _*), rebased)
  }

  /** `trace_path()` — `{path, value}` rows for every leaf of every row
    * (reference O:schema.rs / Deep.tracePaths): paths render as
    * `$[i].a.b` rooted at the stream, so the row index needs the TOTAL
    * active order — computed by the distributed global-rn machinery,
    * never an unpartitioned window. Leaf paths are enumerated from the
    * static schema at plan time (pre-order, declared field order — the
    * interpreter's walk order); null leaves are filtered (absent from
    * the document the interpreter walks). Array/map leaves have no
    * static path and heterogeneous leaf types have no single `value`
    * lane — both bail to doc mode. */
  private def tracePathStep(st: St): St = {
    import org.apache.spark.sql.types._
    if (st.order.isEmpty) bail("trace_path without an explicit sort (document order undefined)")
    val df = st.df
    val vis = df.columns.filterNot(_.startsWith("__ord_")).toIndexedSeq
    val visSchema = StructType(df.schema.fields.filter(f => vis.contains(f.name)))
    def leaves(path: Seq[String], tpe: StructType): Seq[(Seq[String], DataType)] =
      tpe.fields.toSeq.flatMap { f =>
        f.dataType match {
          case s: StructType             => leaves(path :+ f.name, s)
          case _: ArrayType | _: MapType =>
            bail("trace_path: array/map leaves have no static path")
          case dt                        => Seq((path :+ f.name, dt))
        }
      }
    val ps = leaves(Nil, visSchema)
    if (ps.isEmpty) bail("trace_path: no leaf fields")
    if (ps.map(_._2).distinct.length != 1)
      bail("trace_path: heterogeneous leaf types (project a uniform shape first)")
    val cl = new ColLower(Some(df.schema))
    val ordCols = st.order.map { case (e, d) =>
      val c = cl.colExpr(e); if (d) c.desc else c.asc
    }
    val elems = ps.map { case (p, _) =>
      val c = col(p.mkString("."))
      when(c.isNotNull, struct(lit("." + p.mkString(".")).as("sfx"), c.as("v")))
    }
    val arr = filter(array(elems: _*), x => x.isNotNull)
    val sel = withGlobalRn(df, ordCols, "__grn")
      .select(col("__grn").as("__ord_0"), posexplode(arr).as(Seq("__ord_1", "__e")))
    val out = sel.select(
      concat(lit("$["), (col("__ord_0") - 1).cast("string"), lit("]"),
        col("__e.sfx")).as("path"),
      col("__e.v").as("value"),
      col("__ord_0"), col("__ord_1"))
    St(out, Vector((Ident("__ord_0"), false), (Ident("__ord_1"), false)))
  }

  /** `map(shape)` with a live sort in force: project the shape AND the
    * order keys (renamed `__ord_i`), rebasing the order onto the hidden
    * columns. They are stripped at the end of the chain. */
  private def mapOrdered(st: St, args: Vector[Arg]): St = {
    val cl = new ColLower(Some(st.df.schema))
    val ordCols = st.order.zipWithIndex.map { case ((e, _), i) =>
      cl.colExpr(e).as(s"__ord_$i")
    }
    val shaped = argE(args, 0) match {
      case ObjLit(fields) =>
        st.df.select(shapeCols(st.df, cl, fields) ++ ordCols: _*)
      case Ident(n) => st.df.select(col(n) +: ordCols: _*)
      case e        => st.df.select(cl.valueExpr(e).as("value") +: ordCols: _*)
    }
    val rebased = st.order.zipWithIndex.map { case ((_, desc), i) =>
      (Ident(s"__ord_$i"): Expr, desc)
    }
    St(shaped, rebased)
  }

  // ——— distributed total-order machinery ———————————————————————————
  //
  // The language's sequence ops (rolling, lag, enumerate, accumulate…)
  // are defined over the TOTAL active order. The naive Spark mapping is
  // `Window.orderBy(keys)` with no partition spec — correct, but it
  // funnels the whole table through ONE task (the OrderBarrier, SURVEY
  // §4.4). The helpers below replace that barrier with distributed
  // shapes that scale with the cluster:
  //
  //   runningOverOrder — tag every row with its order bucket (an
  //     `OrderBucket`: boundaries sampled once at plan time, the bucket
  //     a pure function of the row's key, monotone with the order, equal
  //     keys in one bucket), aggregate each bucket's lane, prefix-combine
  //     the ≤#buckets per-bucket aggregates in a tiny window, broadcast
  //     the exclusive prefixes back, and combine with the within-bucket
  //     running aggregate. One full-data shuffle (by bucket) replaces
  //     the single-task sort; the per-bucket aggregate is partial-agged.
  //
  //   withGlobalRn — global row number as a running count(1).
  //
  //   blockedWindow — bounded ±k frames: global row number → fixed-size
  //     blocks → the k boundary rows of each block duplicated into the
  //     neighbouring block ("carries"), so every frame is complete
  //     inside its block and the Window can partition by block. Blocks
  //     have exactly B ≥ k+1 rows (except the last), so one hop of
  //     carries is always sufficient. Carries are dropped afterwards.

  /** Bucket count of the order machinery (the number of key ranges the
    * plan-time sample splits the order into). Derived from the
    * session's shuffle-partition conf — scale-adaptive, not a local
    * constant; `spark.graft.lower.rangeParts` overrides. */
  private def rangeParts(df: DataFrame): Int = {
    val conf = df.sparkSession.conf
    math.max(1, conf.get("spark.graft.lower.rangeParts",
      conf.get("spark.sql.shuffle.partitions", "200")).toInt)
  }

  /** Running `aggFn(lane)` over the total order `ordCols`, as column
    * `out` = `combine(exclusive prefix of earlier buckets, running
    * aggregate within the row's bucket)`.
    *
    * Correct by construction: both consumers of the input — the
    * per-bucket aggregate and the row side — derive `__bucket` from
    * the same plan-time boundaries as a pure function of the key, and
    * join on it, so no two samplers, exchange reuse or AQE partition
    * layout has to agree. `repartitionById` places bucket i on reducer
    * i — balance only (one key range per task, like a range exchange);
    * any clustering by `__bucket` would be equally correct. */
  private[graft] def runningOverOrder(
      df: DataFrame, ordCols: Seq[Column], lane: Column,
      aggFn: Column => Column, combine: (Column, Column) => Column,
      out: String): DataFrame = {
    if (df.isStreaming)
      bail("total-order machinery samples its input at plan time; streams are unbounded")
    val n = rangeParts(df)
    val bucketed = df.withColumn("__bucket", OrderBucket.column(df, ordCols, n))
      .withColumn("__lane", lane)
    val perBucket = bucketed.groupBy("__bucket").agg(aggFn(col("__lane")).as("__t"))
    // exclusive prefix per bucket — a window over ≤ #buckets rows,
    // single-partition BY DESIGN (the frame IS the tiny aggregate
    // table). The partition key must be a NON-FOLDABLE constant: Spark
    // 4.1's EliminateWindowPartitions strips foldable keys like lit(0),
    // reverting to an unpartitioned window whose moving-all-data
    // warning would mask a real single-task regression.
    val offs = perBucket.select(col("__bucket"),
      aggFn(col("__t")).over(
        Window.partitionBy(onePartition(col("__bucket")))
          .orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1))
        .as("__pre"))
    val wIn = Window.partitionBy("__bucket").orderBy(ordCols: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    bucketed.repartitionById(n, col("__bucket"))
      .join(broadcast(offs), Seq("__bucket"))
      .withColumn(out, combine(col("__pre"), aggFn(col("__lane")).over(wIn)))
      .drop("__bucket", "__pre", "__lane")
  }

  /** Global 1-based row number over `ordCols` without a single-task
    * barrier: the running count(1) of [[runningOverOrder]]. Ties (equal
    * keys) share a bucket and number in an arbitrary order among
    * themselves, as in the unpartitioned-window mapping this replaces. */
  private def withGlobalRn(df: DataFrame, ordCols: Seq[Column], out: String): DataFrame =
    runningOverOrder(df, ordCols, lit(1L), sum,
      (pre, w) => coalesce(pre, lit(0L)) + w, out)

  /** Run `compute(aug, w)` where `w` is a by-block window whose frames
    * see `back` rows before / `fwd` rows after every row; the computed
    * frame may reference `__grn` (global row number) for global
    * position gates. Carry duplicates are removed afterwards. Block
    * size is tunable via `graft.lower.blockRows` (tests shrink it to
    * exercise the carry path). */
  private def blockedWindow(
      df: DataFrame, ordCols: Seq[Column], back: Int, fwd: Int)(
      compute: (DataFrame, org.apache.spark.sql.expressions.WindowSpec) => DataFrame): DataFrame = {
    val conf = df.sparkSession.conf
      .get("graft.lower.blockRows", "4096").toLong
    val b = math.max(conf, math.max(back, fwd).toLong + 1L)
    val g = withGlobalRn(df, ordCols, "__grn")
    val pos = (col("__grn") - 1) % b
    // Each row fans out to its own block plus (when it sits in a block's
    // boundary band) the neighbouring block — ONE generate pass instead
    // of union-of-filtered-branches: the union form re-executed the
    // whole global-row-number subtree (bucket shuffle → per-bucket
    // aggregate → prefix window → broadcast join → running window) once
    // per branch, which the plan showed as a full duplicate of the
    // machinery (2× Sort+Window+Join over the data even with exchange
    // reuse). The explode adds only the ≤(back+fwd) carry copies per
    // block boundary and keeps a single lineage.
    val home = ((col("__grn") - 1) / b).cast("long")
    val nextCarry =
      if (back > 0) when(pos >= b - back, home + 1) else lit(null).cast("long")
    val prevCarry =
      if (fwd > 0) when(pos < fwd, home - 1) else lit(null).cast("long")
    val aug = g
      .withColumn("__home", home)
      .withColumn("__blk",
        explode(array_compact(array(col("__home"), nextCarry, prevCarry))))
      .withColumn("__carry", col("__blk") =!= col("__home"))
      .drop("__home")
    val w = Window.partitionBy("__blk").orderBy("__grn")
    compute(aug, w).filter(!col("__carry")).drop("__grn", "__blk", "__carry")
  }

  /** Sequence-reshaping ops over the TOTAL active order (reference
    * M:142-149; runtime bodies O:collection.rs:556-582,409), on the
    * distributed order machinery above (no single-task barrier);
    * outputs rebase the active order onto a hidden position column so
    * chain-end materialisation keeps sequence order. */
  private def seqReshape(st: St, name: String, args: Vector[Arg]): St = {
    if (st.order.isEmpty) bail(s"$name without an explicit sort")
    val df = st.df
    val cl = new ColLower(Some(df.schema))
    val ordCols = st.order.map { case (e, d) =>
      val c = cl.colExpr(e); if (d) c.desc else c.asc
    }
    val vis = df.columns.filterNot(_.startsWith("__ord_")).toIndexedSeq
    def lane: Column =
      if (vis.length == 1) col(vis(0))
      else bail(s"$name needs a single-column sequence (map a field first)")
    val ordAsc = Vector((Ident("__ord_0"): Expr, false))
    name match {
      case "enumerate" => // {index, value} objects (Builtins enumerate)
        val value = if (vis.length == 1) col(vis(0)) else struct(vis.map(col): _*)
        St(withGlobalRn(df, ordCols, "__grn")
          .select((col("__grn") - 1).cast("long").as("index"), value.as("value")),
          Vector((Ident("index"), false)))
      case "pairwise" => // consecutive [prev, cur] pairs
        val out = blockedWindow(df, ordCols, 1, 0) { (aug, w) =>
          aug.withColumn(vis(0), array(lag(lane, 1).over(w), lane))
            .withColumn("__ord_0", col("__grn"))
        }
        St(out.select(col(vis(0)), col("__ord_0"))
          .filter(col("__ord_0") >= 2), ordAsc)
      case "window" => // sliding frames of exactly n (partials dropped)
        val n = intLit(args, 0).toInt
        if (n <= 0) St(df.limit(0).select(lane))
        else {
          val out = blockedWindow(df, ordCols, n - 1, 0) { (aug, w) =>
            aug.withColumn(vis(0),
                collect_list(lane).over(w.rowsBetween(-(n - 1), 0)))
              .withColumn("__ord_0", col("__grn"))
          }
          St(out.select(col(vis(0)), col("__ord_0"))
            .filter(col("__ord_0") >= n), ordAsc)
        }
      case _ => // chunk | batch — non-overlapping, last chunk partial
        val n = intLit(args, 0).toInt
        if (n <= 0) bail("chunk size must be positive")
        // __pos (= global rn) encodes the active order ascending, so the
        // in-chunk sort is a plain lexicographic sort_array
        val tagged = withGlobalRn(df, ordCols, "__grn").select(lane.as("__v"),
          floor((col("__grn") - 1) / n).cast("long").as("__chunk"),
          col("__grn").as("__pos"))
        val grouped = tagged.groupBy("__chunk")
          .agg(sort_array(collect_list(struct(col("__pos"), col("__v"))))
            .as("__fr"))
        St(grouped.select(
          transform(col("__fr"), x => x.getField("__v")).as(vis(0)),
          col("__chunk").as("__ord_0")), ordAsc)
    }
  }

  /** `find_index(pred)` / `indices_where(pred)` — 0-based sequence
    * positions of predicate matches over the active order (reference
    * M:60-61; runtime O:collection.rs find_index/indices_where): global
    * row number, filter, then `min(grn)-1` (find_index, null when no
    * match — min over an empty frame) or all `grn-1` ascending
    * (indices_where). Fully distributed — the position assignment is
    * the two-pass prefix count, the rest is filter + aggregate. */
  private def idxStep(st: St, name: String, args: Vector[Arg]): St = {
    if (st.order.isEmpty) bail(s"$name without an explicit sort")
    val cl = new ColLower(Some(st.df.schema))
    val ordCols = st.order.map { case (e, d) =>
      val c = cl.colExpr(e); if (d) c.desc else c.asc
    }
    val g = withGlobalRn(st.df, ordCols, "__grn")
    val matched = g.filter(predIn(g, argE(args, 0)))
    if (name == "find_index")
      St(matched.agg((min(col("__grn")) - 1).cast("long").as("find_index")))
    else
      St(matched.select((col("__grn") - 1).cast("long").as("value")),
        Vector((Ident("value"), false)))
  }

  /** `zip(other)` / `zip_longest(other)` — positional pairing of two
    * independently-ordered sequences via row_number join (the catalog's
    * q_zip_tables mapping, reference M:164-167). Each side numbers over
    * its OWN active order with the distributed global row number (no
    * single-task barrier), then an equi-join (full outer for
    * zip_longest, null padding) on position. */
  private def zipStep(
      st: St, name: String, args: Vector[Arg],
      resolve: String => DataFrame): St = {
    if (st.order.isEmpty) bail(s"$name without an explicit sort")
    val rightSt = argE(args, 0) match {
      case Chain(Root, steps) if steps.nonEmpty =>
        compileChainSt(steps, resolve)
      case e => bail(s"$name: right side must be a table pipeline, got $e")
    }
    if (rightSt.order.isEmpty) bail(s"$name: right side without an explicit sort")
    def numbered(s: St, v: String, rn: String): DataFrame = {
      val vis = s.df.columns.filterNot(_.startsWith("__ord_"))
      if (vis.length != 1) bail(s"$name needs single-column sequences")
      val cl = new ColLower(Some(s.df.schema))
      val ordCols = s.order.map { case (e, d) =>
        val c = cl.colExpr(e); if (d) c.desc else c.asc
      }
      withGlobalRn(s.df, ordCols, rn).select(col(vis(0)).as(v), col(rn))
    }
    val l = numbered(st, "__lv", "__lrn")
    val r = numbered(rightSt, "__rv", "__rrn")
    val joined = l.join(r, col("__lrn") === col("__rrn"),
      if (name == "zip") "inner" else "full_outer")
    St(joined.select(
      array(col("__lv"), col("__rv")).as("value"),
      coalesce(col("__lrn"), col("__rrn")).as("__ord_0")),
      Vector((Ident("__ord_0"), false)))
  }

  /** Keyed collect preserving the active sequence order (reference
    * D:1242 keeps document order in group arrays): collect then
    * array_sort with a comparator over the order keys — collect_list
    * order is otherwise nondeterministic across shuffle partitions.
    *
    * Scale contract: materialising a group's rows as ONE array is what
    * the semantics demand (the reference's Sink::Collect per group), so
    * each group is a memory barrier sized by its row count — fine for
    * the many-small-groups shape, hazardous for few-huge-groups
    * (`partition` is the extreme: 2 groups). That hazard is inherent to
    * the operator, not this lowering; pipelines that only need
    * per-group aggregates should use group_shape / shaped group
    * aggregates, which stay in partial-aggregable form. */
  private def orderedCollect(
      st: St, df: DataFrame, key: Column, keyName: String): DataFrame = {
    val collected = df.groupBy(key.as(keyName))
      .agg(collect_list(struct(df.columns.map(col).toSeq: _*)).as("rows"))
    if (st.order.isEmpty) collected
    else {
      val ordKeys = st.order.map {
        case (Ident(n), d) if df.columns.contains(n) => (n, d)
        case _ => bail(s"$keyName arrays: active order not materialised as columns")
      }
      val cmp = (l: Column, r: Column) =>
        ordKeys.foldRight(lit(0)) { case ((n, desc), acc) =>
          val (lf, rf) = (l.getField(n), r.getField(n))
          when(if (desc) lf > rf else lf < rf, lit(-1))
            .when(if (desc) lf < rf else lf > rf, lit(1))
            .otherwise(acc)
        }
      collected.withColumn("rows", array_sort(col("rows"), cmp))
    }
  }

  private def methodDf(st: St, name: String, args: Vector[Arg], resolve: String => DataFrame): DataFrame = {
  val df = st.df
  name match {
    case "filter" | "find" | "find_all" | "where" =>
      df.filter(args.map(a => predIn(df, a.e)).reduceOption(_ && _).getOrElse(lit(true)))
    case "map" => project(df, argE(args, 0))
    case "pick" =>
      df.select(args.map { a =>
        a.name match {
          case Some(alias) => colExpr(a.e).as(alias)
          case None => a.e match {
            case Ident(n)     => col(n)
            case Lit(JStr(n)) => col(n)
            case e            => bail(s"pick: unsupported selector $e")
          }
        }
      }: _*)
    case "omit" =>
      df.drop(args.map {
        case Arg(None, Ident(n))     => n
        case Arg(None, Lit(JStr(n))) => n
        case a                       => bail(s"omit: unsupported arg $a")
      }: _*)
    case "sort" | "sort_by" =>
      // LAZY: record the order (outer match sets st.order), don't sort.
      // Everything downstream re-derives physical order from st.order
      // (orderedDf / the distributed window machinery), and an eager
      // global orderBy here planned a full range-shuffle+sort that the
      // machinery's own repartitionByRange immediately threw away.
      // materialize() applies the final sort at chain end. Keys still
      // compile eagerly so an unloweable key bails here (interpreter
      // fallback), not silently at materialise time.
      args.foreach(a => sortCol(a.e))
      df
    case "reverse" => bail("reverse on unordered table (sort explicitly)")
    // negative n clamps to 0 (interpreter take/drop are Scala-clamped)
    case "take"  => orderedDf(st).limit(math.max(intLit(args, 0), 0L).toInt)
    case "skip" | "drop" => orderedDf(st).offset(math.max(intLit(args, 0), 0L).toInt)
    case "unique" | "distinct" =>
      // full-row duplicates are indistinguishable, so plain distinct is
      // exact when unordered; under an active order keep the FIRST
      // occurrence (reference defs.rs:1424) via a window PARTITIONED by
      // the row value — scale-safe, no total-order barrier
      if (st.order.isEmpty) df.distinct()
      else {
        val vis = df.columns.filterNot(_.startsWith("__ord_"))
        keepOnePerKey(st, df, vis.toIndexedSeq, flip = false)
      }
    case "unique_by" =>
      // keep-FIRST per key (reference defs.rs:1424-1427): which row
      // survives is observable through its non-key columns, so without
      // an active order this cannot be answered relationally — bail to
      // doc mode rather than keep an arbitrary row
      val keys = args.map {
        case Arg(_, Ident(n)) => n
        case a                => bail(s"unique_by: unsupported key $a")
      }
      if (st.order.isEmpty) bail("unique_by without an explicit sort")
      keepOnePerKey(st, df, keys, flip = false)
    case "compact" => // drop fully-null rows
      df.na.drop("all")
    case "remove" =>
      // value or predicate form (M:134-135, D:148-163). Value form keeps
      // rows whose single-column value differs (JValue.eq treats nulls
      // as equal → null-safe <=>); lambda form keeps rows where the
      // predicate is NOT truthy (the interpreter's filterNot(truthy)
      // keeps null-predicate rows too).
      val visR = df.columns.filterNot(_.startsWith("__ord_"))
      argE(args, 0) match {
        case Lambda(Vector(x), body) =>
          val rebased =
            if (visR.length == 1)
              rewrite(body) { case Ident(`x`) => Ident(visR(0)) }
            else
              rewrite(body) {
                case Chain(Ident(`x`), Step.Field(f) +: rest) =>
                  if (rest.isEmpty) Ident(f) else Chain(Ident(f), rest)
              }
          df.filter(!coalesce(predIn(df, rebased), lit(false)))
        case Lit(v) =>
          if (visR.length != 1) bail("remove(value) needs a single-column sequence")
          df.filter(!(col(visR(0)) <=> litOf(v)))
        case e => bail(s"remove: unsupported argument $e")
      }
    case "implode" =>
      // inverse of explode (M:78-79, O:collection.rs:525): group rows by
      // every column except `field`, collapsing `field` into an array.
      // Doc mode preserves document order inside the array (groupedBy
      // keeps row order), so the lowering requires the ACTIVE order and
      // sorts each array by it — same contract as the group_by lowering;
      // unordered tables have no defined array order → doc mode.
      val fieldI = argE(args, 0) match {
        case Ident(n)     => n
        case Lit(JStr(n)) => n
        case e            => bail(s"implode: unsupported field $e")
      }
      val visI = df.columns.filterNot(_.startsWith("__ord_"))
      if (!visI.contains(fieldI)) bail(s"implode: no column $fieldI")
      val othersI = visI.filterNot(_ == fieldI)
      if (othersI.isEmpty) bail("implode with no residual key columns")
      if (st.order.isEmpty) bail("implode without an explicit sort")
      val ordKeysI = st.order.map {
        case (Ident(n), d) if df.columns.contains(n) => (n, d)
        case _ => bail("implode: active order not materialised as columns")
      }
      val cellI = struct(
        ordKeysI.map(_._1).distinct.map(col) :+ col(fieldI).as("__v"): _*)
      val collectedI = df.groupBy(othersI.map(col).toSeq: _*)
        .agg(collect_list(cellI).as("__xs"))
      val cmpI = (l: Column, r: Column) =>
        ordKeysI.foldRight(lit(0)) { case ((n, desc), acc) =>
          val (lf, rf) = (l.getField(n), r.getField(n))
          when(if (desc) lf > rf else lf < rf, lit(-1))
            .when(if (desc) lf < rf else lf > rf, lit(1))
            .otherwise(acc)
        }
      collectedI
        .withColumn(fieldI,
          transform(array_sort(col("__xs"), cmpI), x => x.getField("__v")))
        .drop("__xs")
    case "count" =>
      if (args.isEmpty) df.agg(count(lit(1)).as("count"))
      else df.filter(predIn(df, args(0).e)).agg(count(lit(1)).as("count"))
    case "sum" => // jetro empty-sum → 0 (pipeline.rs:320-328)
      df.agg(coalesce(sum(aggTarget(df, args)), lit(0)).as("sum"))
    case "avg" | "mean" => df.agg(avg(aggTarget(df, args)).as("avg"))
    case "min" => df.agg(min(aggTarget(df, args)).as("min"))
    case "max" => df.agg(max(aggTarget(df, args)).as("max"))
    case "min_by" => df.orderBy(colExpr(argE(args, 0)).asc).limit(1)
    case "max_by" => df.orderBy(colExpr(argE(args, 0)).desc).limit(1)
    case "any" | "exists" => // per-row null = falsy (coalesce before agg)
      df.agg(coalesce(max(coalesce(predIn(df, argE(args, 0)), lit(false))),
        lit(false)).as("any"))
    case "all" =>
      df.agg(coalesce(min(coalesce(predIn(df, argE(args, 0)), lit(false))),
        lit(true)).as("all"))
    case "first" =>
      if (args.isEmpty) orderedDf(st).limit(1)
      else orderedDf(st).limit(math.max(intLit(args, 0), 0L).toInt)
    case "last" => // order-dependent (M:122-123): top-k on the REVERSED
      // order (TakeOrderedAndProject, bounded heap), re-sorted forward
      // for last(n) since takeRight keeps original order
      if (st.order.isEmpty) bail("last without an explicit sort")
      val cl = new ColLower(Some(df.schema))
      def ord(flip: Boolean) = st.order.map { case (e, d) =>
        val c = cl.colExpr(e); if (d ^ flip) c.desc else c.asc
      }
      if (args.isEmpty) df.orderBy(ord(flip = true): _*).limit(1)
      else df.orderBy(ord(flip = true): _*).limit(math.max(intLit(args, 0), 0L).toInt)
        .orderBy(ord(flip = false): _*)
    case "nth" => // i-th of the active order; negative counts from the end
      if (st.order.isEmpty) bail("nth without an explicit sort")
      val cl = new ColLower(Some(df.schema))
      val i = argE(args, 0) match {
        case Lit(JInt(n))             => n
        case Unary("-", Lit(JInt(n))) => -n
        case e                        => bail(s"nth: expected integer, got $e")
      }
      // MUST sort explicitly: offset/limit over the physical row order
      // silently returns the wrong row when the scan order differs from
      // the active order (latent until round 11's scan-spread
      // repartition permuted the base tables; orders.parquet happens to
      // be stored sorted by o_orderkey, which masked it)
      if (i >= 0) orderedDf(st).offset(i.toInt).limit(1)
      else {
        val rev = st.order.map { case (e, d) =>
          val c = cl.colExpr(e); if (d) c.asc else c.desc
        }
        df.orderBy(rev: _*).offset((-i - 1).toInt).limit(1)
      }
    case "rolling_sum" | "rolling_avg" | "rolling_min" | "rolling_max" |
         "lag" | "lead" | "diff_window" | "pct_change" | "cum_max" | "cum_min" =>
      // windowed sequence ops over the TOTAL active order, on the
      // distributed order machinery (blockedWindow / runningOverOrder —
      // no single-task OrderBarrier; see the helpers' scaladoc).
      if (st.order.isEmpty) bail(s"$name without an explicit sort")
      val cl = new ColLower(Some(df.schema))
      val ordCols = st.order.map { case (e, d) =>
        val c = cl.colExpr(e); if (d) c.desc else c.asc
      }
      val vis = df.columns.filterNot(_.startsWith("__ord_"))
      if (vis.length != 1) bail(s"$name needs a single-column sequence (map a field first)")
      // doc mode coerces the lane to floats (Builtins nums) — match it
      val t = col(vis(0)).cast("double")
      name match {
        case "rolling_sum" | "rolling_avg" | "rolling_min" | "rolling_max" =>
          val n = intLit(args, 0).toInt
          if (n <= 0) bail("window size must be positive")
          blockedWindow(df, ordCols, n - 1, 0) { (aug, w) =>
            val agg = name match {
              case "rolling_sum" => sum(t).over(w.rowsBetween(-(n - 1), 0))
              case "rolling_avg" => avg(t).over(w.rowsBetween(-(n - 1), 0))
              case "rolling_min" => min(t).over(w.rowsBetween(-(n - 1), 0))
              case _             => max(t).over(w.rowsBetween(-(n - 1), 0))
            }
            // fewer than n positions available → null (Builtins rolling)
            aug.withColumn(vis(0), when(col("__grn") >= n, agg))
          }
        case "lag" | "lead" =>
          val k = if (args.nonEmpty) intLit(args, 0).toInt else 1
          // interpreter throws IndexOutOfBounds on negative n
          // (Builtins.scala:421-428) — never lower it to Spark's
          // direction-flipping lag(t, -k)
          if (k < 0) bail(s"negative $name")
          val (back, fwd) = if (name == "lag") (k, 0) else (0, k)
          blockedWindow(df, ordCols, back, fwd) { (aug, w) =>
            aug.withColumn(vis(0),
              if (name == "lag") lag(t, k).over(w) else lead(t, k).over(w))
          }
        case "diff_window" =>
          blockedWindow(df, ordCols, 1, 0) { (aug, w) =>
            aug.withColumn(vis(0), t - lag(t, 1).over(w))
          }
        case "pct_change" =>
          blockedWindow(df, ordCols, 1, 0) { (aug, w) =>
            val p = lag(t, 1).over(w)
            // p==0 → null, no ANSI div error
            aug.withColumn(vis(0), when(p.isNotNull && p =!= 0, (t - p) / p))
          }
        case "cum_max" =>
          runningOverOrder(df, ordCols, t, max, (pre, w) => greatest(pre, w), "__run")
            .withColumn(vis(0), col("__run")).drop("__run")
        case _ =>
          runningOverOrder(df, ordCols, t, min, (pre, w) => least(pre, w), "__run")
            .withColumn(vis(0), col("__run")).drop("__run")
      }
    case "zscore" =>
      // population stddev over the whole sequence (O:collection.rs:322;
      // doc mode nums/flatten skip nulls, sd == 0 → 0.0). Two-pass:
      // one whole-table aggregate broadcast back — NO window, no
      // total-order barrier, scales like the catalog's q_zscore.
      val visZ = df.columns.filterNot(_.startsWith("__ord_"))
      if (visZ.length != 1) bail("zscore needs a single-column sequence")
      val tz = col(visZ(0)).cast("double")
      val stats = df.agg(
        avg(tz).as("__m"), stddev_pop(tz).as("__sd"))
      val z = when(col("__sd") === 0d, 0d)
        .otherwise((tz - col("__m")) / col("__sd"))
      df.crossJoin(broadcast(stats))
        .withColumn(visZ(0), when(tz.isNotNull, z))
        .drop("__m", "__sd")
    case "accumulate" =>
      // running fold — only the additive fold lowers (running sum over
      // the active order, seeded by the optional init); other operators
      // fall back to the interpreter
      if (st.order.isEmpty) bail("accumulate without an explicit sort")
      val ok = argE(args, 0) match {
        case Lambda(Vector(a, x), Binary("+", Ident(l), Ident(r))) =>
          (l == a && r == x) || (l == x && r == a)
        case _ => false
      }
      if (!ok) bail("accumulate: only an additive lambda lowers")
      val init: Column =
        if (args.length < 2) lit(0L)
        else argE(args, 1) match {
          case Lit(JInt(n))   => lit(n)
          case Lit(JFloat(x)) => lit(x)
          case e              => bail(s"accumulate: unsupported init $e")
        }
      val clA = new ColLower(Some(df.schema))
      val ordA = st.order.map { case (e, d) =>
        val c = clA.colExpr(e); if (d) c.desc else c.asc
      }
      val visA = df.columns.filterNot(_.startsWith("__ord_"))
      if (visA.length != 1) bail("accumulate needs a single-column sequence")
      // distributed running sum (runningOverOrder): null prefix/within
      // combine as coalesce(pre+w, pre, w) — null only when BOTH are,
      // matching the single window's sum-skips-nulls behaviour
      runningOverOrder(df, ordA, col(visA(0)), sum,
          (pre, w) => coalesce(pre + w, pre, w), "__run")
        .withColumn(visA(0), init + col("__run")).drop("__run")
    case "pivot" =>
      // pivot(row, col, val) → groupBy(row).pivot(col).agg(max(val));
      // pivot(col, val) → one wide row. Doc mode resolves duplicate
      // cells last-wins in DOCUMENT order; a table has no order, so the
      // deterministic max is the relational resolution. Spark's
      // valueless pivot runs one distinct scan to name the columns —
      // bounded-cardinality pivot keys are the caller's contract.
      val names = args.map(_.e match {
        case Ident(n)     => n
        case Lit(JStr(n)) => n
        case e            => bail(s"pivot: unsupported accessor $e")
      })
      names match {
        case Vector(rk, ck, vk) => df.groupBy(col(rk)).pivot(ck).agg(max(col(vk)))
        case Vector(ck, vk)     => df.groupBy().pivot(ck).agg(max(col(vk)))
        case _                  => bail("pivot: expected 2 or 3 field args")
      }
    case "count_by" =>
      val k = colExpr(argE(args, 0))
      df.groupBy(k.as("key")).agg(count(lit(1)).as("n"))
    case "group_by" =>
      orderedCollect(st, df, colExpr(argE(args, 0)), "key")
    case "partition" =>
      // {"true": […], "false": […]} split (M:162-163; reference
      // regression.rs:351-357) — the group_by collect shape keyed by
      // the predicate's two-valued truthiness. Both sides are always
      // present in the reference output, so a 2-row side frame
      // left-joins the collected groups and fills the missing side
      // with an empty array.
      val side = when(
        coalesce(predIn(df, argE(args, 0)), lit(false)), "true")
        .otherwise("false")
      val collected = orderedCollect(st, df, side, "side")
      val rowsDt = collected.schema("rows").dataType
      import df.sparkSession.implicits._
      val sides = Seq("true", "false").toDF("side")
      broadcast(sides).join(collected, Seq("side"), "left_outer")
        .withColumn("rows",
          coalesce(col("rows"), array().cast(rowsDt)))
    case "index_by" =>
      // LAST wins (reference defs.rs:1328) — order-dependent like
      // unique_by, so it needs the active order; reversed window per key
      val k = argE(args, 0) match {
        case Ident(n) => n
        case e        => bail(s"index_by: unsupported key $e")
      }
      if (st.order.isEmpty) bail("index_by without an explicit sort")
      keepOnePerKey(st, df, Vector(k), flip = true)
    case "flat_map" | "explode" =>
      val fieldName = argE(args, 0) match {
        case Ident(n) => n
        case e        => bail(s"explode: unsupported field $e")
      }
      val others = df.columns.filterNot(_ == fieldName).map(col).toSeq
      df.select(others :+ explode(col(fieldName)).as(fieldName): _*)
    case "diff" | "intersect" | "union" =>
      // value-based set ops over whole rows (Builtins diff/intersect/
      // union, reference M:136-141): diff keeps the receiver's
      // duplicates (anti join), intersect/union dedup — and since the
      // dedup key is the WHOLE row, which copy survives is
      // unobservable, so distinct() is exact without an order.
      // JValue.eq treats nulls as equal → null-safe <=> conditions.
      val right0 = argE(args, 0) match {
        case c @ Chain(Root, _) => compileAst(c, resolve)
        case e => bail(s"$name: right side must be a table pipeline, got $e")
      }
      // single-column lanes pair by VALUE (scalar sequences have no
      // field names in the document model) — align the right's name;
      // multi-column rows are objects, where names are the identity
      val right =
        if (df.columns.length == 1 && right0.columns.length == 1)
          right0.withColumnRenamed(right0.columns(0), df.columns(0))
        else right0
      if (df.columns.sorted.toSeq != right.columns.sorted.toSeq)
        bail(s"$name: mismatched columns")
      val l = df.alias("__l")
      val r = right.alias("__r")
      def cond = df.columns.map(c =>
        col(s"__l.$c") <=> col(s"__r.$c")).reduce(_ && _)
      name match {
        case "diff"      => l.join(r, cond, "left_anti")
        case "intersect" => l.join(r, cond, "left_semi").distinct()
        case _           => df.unionByName(right).distinct()
      }
    case "equi_join" => // inner hash join, right wins on name collision (O:array.rs:489-548)
      val right = argE(args, 0) match {
        case c @ Chain(Root, _) => compileAst(c, resolve)
        case e                  => bail(s"equi_join: right side must be a table pipeline, got $e")
      }
      val lk = identName(argE(args, 1))
      val rk = if (args.length > 2) identName(argE(args, 2)) else lk
      val collide = df.columns.toSet.intersect(right.columns.toSet) - rk
      val joined = df.join(right, df(lk) === right(rk), "inner")
      // drop the left copy of any colliding column (right wins), and the
      // right key when it duplicates the left key name
      val pruned = collide.foldLeft(joined)((d, c) => d.drop(df(c)))
      if (lk == rk) pruned.drop(right(rk)) else pruned
    case "take_while" | "drop_while" =>
      // order-dependent: only legal with an explicit sort in force
      // (plan.rs:106-188 — the reference forbids bounded top-k here too).
      // Scale-safe rewrite (no window, no single-task barrier): the cut
      // point is the ORDER-KEY VALUE of the first failing row — a plain
      // min/max aggregate over failing rows (partial + final, fully
      // distributed), broadcast back as a 1-row cross join, then a
      // key-range filter. Rows tied with the cut key are cut with it,
      // which is the only deterministic reading under key ties.
      if (st.order.isEmpty) bail(s"$name without an explicit sort")
      // composite sorts work through a lexicographic struct key, but
      // only when every key shares one direction (struct comparison
      // can't mix asc/desc)
      val dirs = st.order.map(_._2).distinct
      if (dirs.length != 1) bail(s"$name over a mixed-direction sort")
      val desc = dirs.head
      val cl = new ColLower(Some(df.schema))
      val keyC =
        if (st.order.length == 1) cl.colExpr(st.order.head._1)
        else struct(st.order.map(o => cl.colExpr(o._1)): _*)
      val pred = cl.truthy(cl.colExpr(argE(args, 0)), argE(args, 0))
      // a null predicate is falsy → that row is a cut candidate
      val failKey = when(!coalesce(pred, lit(false)), keyC)
      val cutDf = df.agg(
        (if (desc) max(failKey) else min(failKey)).as("__cut"))
      val joined = df.crossJoin(broadcast(cutDf))
      val cut = col("__cut")
      val kept =
        if (name == "take_while")
          cut.isNull || (if (desc) keyC > cut else keyC < cut)
        else
          cut.isNotNull && (if (desc) keyC <= cut else keyC >= cut)
      // the join does not preserve the sequence order — re-establish it
      // (Catalyst's EliminateSorts drops the now-redundant earlier sort)
      joined.filter(kept).drop("__cut")
        .orderBy(if (desc) keyC.desc else keyC.asc)
    case other => bail(s"no relational lowering for .$other()")
  }
  }

  /** One surviving row per key under the active order: row_number over a
    * window PARTITIONED by the key (a key-shuffle + per-key sort — fully
    * distributed, unlike a total-order window). `flip` reverses the
    * order so the LAST row under the active order wins (index_by). Ties
    * on the order key pick an arbitrary row among the tied — document
    * position does not exist relationally (same caveat as take_while). */
  private def keepOnePerKey(
      st: St, df: DataFrame, keys: Seq[String], flip: Boolean): DataFrame = {
    val cl = new ColLower(Some(df.schema))
    val ordCols = st.order.map { case (e, d) =>
      val c = cl.colExpr(e); if (d ^ flip) c.desc else c.asc
    }
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  private def identName(e: Expr): String = e match {
    case Ident(n)     => n
    case Lit(JStr(n)) => n
    case other        => bail(s"expected a column name, got $other")
  }

  private def project(df: DataFrame, shape: Expr): DataFrame = {
    val cl = new ColLower(Some(df.schema))
    shape match {
      case ObjLit(fields) =>
        df.select(shapeCols(df, cl, fields): _*)
      case Ident(n) => df.select(col(n))
      case e        => df.select(cl.valueExpr(e).as("value"))
    }
  }

  /** Shape fields → ordered output columns. `...@` (spread of the row)
    * inserts every visible column in schema order; a later key with
    * the same name OVERRIDES IN PLACE, exactly the interpreter's
    * VectorMap update (Interp.evalObjLit — original insertion position
    * kept). One divergence, accepted: when the overridden source field
    * is NULL in a given row the interpreter appends the key at the end
    * of that row's object (the spread skipped the null field), while
    * the relational schema keeps the column's position — same field
    * SET and values, order differs only through the null-omission
    * bridge, which every output normalisation already sorts. */
  private def shapeCols(
      df: DataFrame, cl: ColLower, fields: Vector[ObjField]): Seq[Column] = {
    val cols = scala.collection.mutable.LinkedHashMap[String, Column]()
    fields.foreach {
      case ObjField.Short(n)                  => cols(n) = col(n)
      case ObjField.KV(Lit(JStr(k)), v, None) => cols(k) = cl.valueExpr(v)
      case ObjField.KV(Ident(k), v, None)     => cols(k) = cl.valueExpr(v)
      case ObjField.Spread(Current) =>
        df.columns.filterNot(_.startsWith("__")).foreach(n => cols(n) = col(n))
      case f => bail(s"map shape field unsupported: $f")
    }
    cols.toSeq.map { case (k, c) => c.as(k) }
  }

  private def argE(args: Vector[Arg], i: Int): Expr =
    if (i < args.length) args(i).e else bail("missing argument")

  /** No-arg aggregate after a single-column `map(...)`: fold over that
    * column; with an arg, over the compiled arg expression. The lane
    * must be NUMERIC — the interpreter's aggregates skip non-numeric
    * values entirely (reference num_fold `_ => return`), so a Spark
    * lexicographic MIN over strings or an implicit-cast SUM would
    * silently diverge; such lanes stay with the interpreter. */
  private def aggTarget(df: DataFrame, args: Vector[Arg]): Column = {
    val c =
      if (args.nonEmpty) colExpr(args(0).e)
      else if (df.columns.length == 1) col(df.columns(0))
      else bail("no-arg aggregate needs a single-column input")
    val dt =
      try df.select(c).schema.head.dataType
      catch { case e: org.apache.spark.sql.AnalysisException => bail(e.getMessage) }
    if (!dt.isInstanceOf[org.apache.spark.sql.types.NumericType])
      bail(s"aggregate over non-numeric lane ${dt.simpleString}")
    c
  }

  private def intLit(args: Vector[Arg], i: Int): Long = argE(args, i) match {
    case Lit(JInt(n))             => n
    case Unary("-", Lit(JInt(n))) => -n // `nth(-1)` parses as unary minus
    case e                        => bail(s"expected integer literal, got $e")
  }

  private def sortCol(e: Expr): Column = sortKeyAst(e) match {
    case (k, true)  => colExpr(k).desc
    case (k, false) => colExpr(k).asc
  }

  // ── scalar expression lowering ────────────────────────────────────────

  /** jetro expression → Catalyst Column (schema-free entry point).
    * Truthiness coercions that need column types bail here; stage-level
    * callers use [[predIn]] so the plan's schema drives the coercion. */
  def colExpr(e: Expr): Column = new ColLower(None).colExpr(e)

  /** Compile a predicate against a concrete plan with jetro truthiness
    * (vm truthy: null/false falsy, number ≠ 0, string non-empty). The
    * plan's schema types the coercion — a blind `cast("boolean")` on a
    * string operand is an ANSI runtime error on Spark 4 that would
    * escape the doc-mode fallback contract; untypeable operands bail to
    * the interpreter instead. */
  private def predIn(df: DataFrame, e: Expr): Column = {
    val cl = new ColLower(Some(df.schema))
    cl.truthy(cl.colExpr(e), e)
  }

  /** Coarse static type of a jetro expression, for truthiness. */
  private sealed trait Kind
  private object Kind {
    case object Bool extends Kind
    case object Num extends Kind
    case object Str extends Kind
    case object Unknown extends Kind
  }

  /** Scalar expression lowering, parameterised by the (optional) schema
    * of the plan the expression runs against. Bare identifiers are row
    * fields; `@` is not addressable at the row level (only inside
    * higher-order args, unsupported here → fallback). */
  
  /** Per-row let-binding: evaluate each bound expression ONCE per row
    * and hand `body` a cheap reference. A higher-order function only
    * evaluates its ARGUMENT once per row — every outer expression
    * captured inside the lambda BODY re-evaluates per ELEMENT. So an
    * op whose lambda references the lane (window's `slice(a, i, n)`,
    * zip's `get(na, i-1)`, dedupByKey's key array, zscore's mean/sd)
    * degrades to O(len²)+ when `a` is itself a derived chain — found
    * live as a whole-table bench lane pinning a core for 18 minutes
    * re-splitting text inside window(). transform's argument IS
    * once-per-row, so a one-element array<struct> carries the
    * bindings in and the body sees lambda-variable field reads. */
  private def letRow(binds: Seq[Column])(body: Seq[Column] => Column): Column = {
    val st = struct(binds.zipWithIndex.map { case (b, i) => b.as(s"_b$i") }: _*)
    get(transform(array(st), r =>
      body(binds.indices.map(i => r.getField(s"_b$i")))), lit(0))
  }
  private def letRow1(bind: Column)(body: Column => Column): Column =
    letRow(Seq(bind)) { case Seq(b) => body(b) }
  
  /** Same-KIND unification for lanes that must hold both sides: exact
    * match, integral widening to long, fractional widening to double.
    * An int/float mix stays heterogeneous in the interpreter (JInt
    * renders "1", JFloat "1.0") — no static lane holds that, so None. */
  private[Lower] def unifySameKind(a: DataType, b: DataType): Option[DataType] =
    if (a == b) Some(a)
    else if (integralDt(a) && integralDt(b)) Some(LongType)
    else if (fractionalDt(a) && fractionalDt(b)) Some(DoubleType)
    else None
  
  /** True when every value of type `from` re-shapes value-faithfully
    * into `to` via [[asShape]]: exact match, integral widening to
    * long, fractional to double (JSON renders agree), or recursive
    * struct shape-widening (appended fields read null ≡ absent). The
    * deep map-lane set_path uses this to decide whether UNTOUCHED
    * entries can live in the written entry's widened shape. */
  private def widensTo(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => true
    case (a: StructType, b: StructType) =>
      a.fields.forall(f =>
        b.find(_.name == f.name).exists(g => widensTo(f.dataType, g.dataType)))
    case (MapType(ka, va, _), MapType(kb, vb, _)) =>
      ka == kb && widensTo(va, vb)
    case (a, b) => unifySameKind(a, b).contains(b)
  }
  
  /** TYPE-PRESERVING delete builder, used at and below a map crossing
    * (the shared value schema cannot drop a field for ONE entry):
    * inside a STRUCT the leaf NULLS out (≡ absent through the bridge);
    * at a string-keyed MAP node the LITERAL segment filters the entry
    * when it is the leaf and rewrites the one entry's value otherwise.
    * None = the walk statically dies (missing field / non-object
    * intermediate): delPath's identity. A null node stays null at
    * every level (delPath's non-object rows). */
  private def delDeepTP(dt: DataType, segs: List[String]): Option[Column => Column] = {
    val k = segs.head
    dt match {
      case xs: StructType =>
        xs.find(_.name == k).flatMap { f =>
          segs.tail match {
            case Nil => Some { (c: Column) =>
              letRow1(c) { cc =>
                when(cc.isNull, cc).otherwise(
                  struct(xs.fields.toIndexedSeq.map { g =>
                    (if (g.name == k) lit(null).cast(g.dataType)
                     else cc.getField(g.name)).as(g.name)
                  }: _*))
              }
            }
            case rest => delDeepTP(f.dataType, rest).map { inner => (c: Column) =>
              letRow1(c) { cc =>
                when(cc.isNull, cc).otherwise(
                  struct(xs.fields.toIndexedSeq.map { g =>
                    (if (g.name == k) inner(cc.getField(k))
                     else cc.getField(g.name)).as(g.name)
                  }: _*))
              }
            }
          }
        }
      case mt: MapType if mt.keyType == StringType =>
        segs.tail match {
          case Nil => Some { (c: Column) =>
            when(c.isNull, c).otherwise(map_from_entries(
              filter(map_entries(c), e => e.getField("key") =!= lit(k))))
          }
          case rest => delDeepTP(mt.valueType, rest).map { inner => (c: Column) =>
            when(c.isNull, c).otherwise(map_from_entries(
              transform(map_entries(c), e =>
                struct(e.getField("key").as("key"),
                  when(e.getField("key") === lit(k), inner(e.getField("value")))
                    .otherwise(e.getField("value")).as("value")))))
          }
        }
      case _ => None
    }
  }
  
  private def integralDt(d: DataType): Boolean = d match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _                                             => false
  }
  private def numericDt(d: DataType): Boolean = d.isInstanceOf[NumericType]
  private def fractionalDt(d: DataType): Boolean = d match {
    case FloatType | DoubleType      => true
    case _: DecimalType              => true
    case _                           => false
  }
  
  /** Row-scope expression lowering.
    *
    * Four binding contexts share this class:
    *   - table-row scope (relational mode): `schema` = the plan schema,
    *     `Ident(n)` resolves to `col(n)`;
    *   - `@`-rebased scope: `current` (+ `currentDt`) carry the value
    *     `@` denotes;
    *   - array-element scope (inside `filter`/`map`/… bodies over an
    *     array lane): `identBase` is the element column and `schema` its
    *     struct type, so bare idents resolve to element FIELDS — exactly
    *     the interpreter's `env.withCurrent(elem)` shorthand scoping
    *     (Interp.body) — and `param` names the lambda variable;
    *   - document scope (per-row doc promotion): `rootStruct` binds `$`
    *     to a struct column, so whole per-document pipelines compile to
    *     codegen'd higher-order functions instead of the interpreter UDF.
    */
  private final class ColLower(
      schema: Option[org.apache.spark.sql.types.StructType],
      current: Option[Column] = None,
      identBase: Option[Column] = None,
      currentDt: Option[org.apache.spark.sql.types.DataType] = None,
      param: Option[String] = None,
      rootStruct: Option[(Column, org.apache.spark.sql.types.StructType)] = None,
      scalarElem: Boolean = false) {
    import org.apache.spark.sql.types._

    private def identCol(n: String): Column =
      if (param.contains(n))
        current.getOrElse(bail("lambda param outside element scope"))
      else identBase match {
        case Some(b) =>
          if (schema.exists(_.fieldNames.contains(n))) b.getField(n)
          else bail(s"no field $n on the array element")
        // scalar-element scope: the interpreter resolves a bare ident as
        // env.vars then fieldOf(element) — JNull over a scalar
        // (Interp.scala:36,120-123) — so col(n) would silently read an
        // ENCLOSING row column instead; force the interpreter fallback
        case None if scalarElem => bail(s"bare identifier $n over a scalar element")
        // row scope: resolve ONLY against the frame's actual columns.
        // A bare col(n) would let Spark's ResolveMissingReferences pull
        // a pre-projection column back THROUGH a Project — e.g.
        // `.map({k: c_custkey}).filter(c_custkey > 0)` filtering on the
        // original table column where the interpreter sees JNull (the
        // mapped element has no such field). Found by RowwiseFuzzSpec
        // round 8: missing fields bail to the interpreter instead.
        case None if schema.exists(!_.fieldNames.contains(n)) =>
          bail(s"no column $n in the current frame")
        case None => col(n)
      }

    private def identDt(n: String): Option[DataType] =
      if (param.contains(n)) currentDt
      else schema.flatMap(_.find(_.name == n).map(_.dataType))

    def colExpr(e: Expr): Column = e match {
    case Ident(n)  => identCol(n)
    case Lit(v)    => litOf(v)
    case Current   =>
      current.getOrElse(bail("`@` has no relational meaning at row scope"))
    case Root      =>
      rootStruct.map(_._1).getOrElse(bail("`$` has no row-scope meaning here"))
    case Chain(Ident(n), steps) => fieldChain(identCol(n), identDt(n), steps)
    case Chain(Current, steps)  =>
      current.map(fieldChain(_, currentDt, steps))
        .getOrElse(bail("`@`-rooted chain at row scope"))
    case Chain(Root, steps) if rootStruct.isDefined =>
      // a write-shaped root chain evaluates to the PATCHED document
      // (Interp.chainWrite), not the value the read dispatch computes
      if (Lower.isRootChainWrite(steps))
        bail("root chain-write stays on the document rungs")
      val (rc, rt) = rootStruct.get
      fieldChain(rc, Some(rt), steps)
    // method/step chains over a COMPUTED receiver — ("x" + name).upper(),
    // (a ?? b).trim() — walk the same steps from the lowered base column;
    // inferDt supplies the static lane so the string-only/array dispatch
    // guards apply exactly as they do for column-rooted chains
    case Chain(base, steps) => fieldChain(colExpr(base), inferDt(base), steps)
    case Unary("-", x)   => negate(colExpr(x))
    // `not` is null-sensitive: jetro not(falsy-null) = true, but SQL
    // NOT null = null — force two-valued before negating
    case Unary("not", x) => !coalesce(truthy(colExpr(x), x), lit(false))
    case Binary(op, l, r) => binop(op, l, r)
    case IfElse(c, t, f) =>
      when(truthy(colExpr(c), c), colExpr(t)).otherwise(colExpr(f))
    case TryElse(body, default) =>
      // reference semantics: null OR evaluation error → default.
      // TryOrNull absorbs the error half (ANSI division/cast failures)
      // inside codegen; coalesce handles the null half.
      coalesce(graft.functions.TryOrNull(colExpr(body)), colExpr(default))
    case FString(parts) =>
      concat(parts.map {
        case FPart.Text(s)            => lit(s)
        case FPart.Interp(x, None)    => displayExpr(x)
        case FPart.Interp(x, Some(f)) => fmtSpec(x, f)
      }: _*)
    case ObjLit(fields) => // nested object literal → struct column
      struct(fields.map {
        case ObjField.Short(n)                  => col(n).as(n)
        case ObjField.KV(Lit(JStr(k)), v, None) => valueExpr(v).as(k)
        case ObjField.KV(Ident(k), v, None)     => valueExpr(v).as(k)
        case f => bail(s"object literal field unsupported: $f")
      }: _*)
    case ArrLit(es) // array literal → array column (elements coerce or
        if es.forall { case ArrElem.One(_) => true; case _ => false } =>
      array(es.map { case ArrElem.One(x) => valueExpr(x)
                     case s => bail(s"array literal element unsupported: $s")
      }: _*) // the analysis failure falls back, like every mixed lane
    case GlobalCall("to_string", Vector(a)) => displayExpr(a.e)
    case GlobalCall("to_string", Vector()) if current.isDefined =>
      // standalone argless form renders `@`; display is total — null
      // renders the TEXT "null" (the `| to_string()` pipe form desugars
      // to a method and takes the fieldChain display lane instead)
      coalesce(displayExpr(Current), lit("null"))
    case GlobalCall("coalesce", args) =>
      // Interp's coalesce (Interp.scala:649) picks the first non-JNull
      // and absorbs per-arg EvalExceptions to JNull — so each arg
      // lowers in VALUE position (a comparison over null operands is
      // JBool(false), non-null, and WINS — SQL's three-valued null
      // would skip it) wrapped in TryOrNull (an erroring arg falls
      // through instead of killing the job).
      coalesce(args.map(a => graft.functions.TryOrNull(valueExpr(a.e))): _*)
    case GlobalCall("range", args) if args.nonEmpty && args.length <= 3 =>
      // range(n) / range(from, to) / range(from, to, step): EXCLUSIVE
      // upper bound, step 0 or wrong-sign → [] (Interp's while loop) —
      // Spark's sequence is inclusive and errors on sign mismatch, so
      // the last element is computed and the sequence only runs on the
      // branch where its sign is right. Statically non-integral args
      // bail (the interpreter errors loudly).
      args.foreach(a => inferDt(a.e) match {
        case Some(d) if integralDt(d) => ()
        case other => bail(s"range arg not statically integral: $other")
      })
      val ns = args.map(a => colExpr(a.e).cast("long"))
      val (from, upto, step) = ns.length match {
        case 1 => (lit(0L), ns(0), lit(1L))
        case 2 => (ns(0), ns(1), lit(1L))
        case _ => (ns(0), ns(1), ns(2))
      }
      val emptyArr = array().cast(ArrayType(LongType, containsNull = false))
      letRow(Seq(from, upto, step)) { case Seq(f, u, s) =>
        when(s === 0 || (s > 0 && f >= u) || (s < 0 && f <= u), emptyArr)
          .when(s > 0, sequence(f, f + ((u - f - 1) / s).cast("long") * s, s))
          .otherwise(sequence(f, f - ((f - u - 1) / (-s)).cast("long") * (-s), s))
      }
    case GlobalCall("chain" | "join", args) if args.nonEmpty =>
      // concatenate arrays; scalars (including null) push through as
      // single elements — a NULL ARRAY value also pushes as one null
      // element (Interp's JArr-or-else-Vector(other))
      val lanes = args.map { a =>
        inferDt(a.e) match {
          case Some(at: ArrayType) => (a.e, at.elementType, true)
          case Some(t)             => (a.e, t, false)
          case None                => bail(s"chain arg type unknown: ${a.e}")
        }
      }
      val u = lanes.map(_._2).reduce { (x, y) =>
        unifySameKind(x, y).getOrElse(bail("chain mixes element kinds"))
      }
      val ut = ArrayType(u, containsNull = true)
      concat(lanes.map { case (e, _, isArr) =>
        val c0 = colExpr(e)
        if (isArr)
          when(c0.isNull, array(lit(null).cast(u))).otherwise(c0.cast(ut))
        else array(c0.cast(u))
      }: _*)
    case GlobalCall("product", args) if args.length == 2 =>
      // cartesian [x, y] pairs in row-major order; any non-array
      // operand is JNull (Interp product), which the null-propagating
      // transforms reproduce. Pairs are 2-element arrays, so the two
      // element kinds must unify into one static lane.
      val dts = args.map(a => inferDt(a.e) match {
        case Some(at: ArrayType) => at.elementType
        case other               => bail(s"product needs array args, got $other")
      })
      val u = unifySameKind(dts(0), dts(1))
        .getOrElse(bail("product mixes element kinds"))
      letRow(Seq(colExpr(args(0).e), colExpr(args(1).e))) { case Seq(aa, bb) =>
        flatten(transform(aa, x =>
          transform(bb, y => array(x.cast(u), y.cast(u)))))
      }
    // free-function style: f(x, rest…) ≡ x.f(rest…) (Interp.globalCall
    // catch-all, SYNTAX.md free functions) — one rewrite reuses every
    // method lane. The TRUE globals with different arity semantics
    // (chain/join = array concat, range, zip*, product) are excluded;
    // lambda-in-scope shadowing can't reach lowered shapes (no
    // let-bound lambdas lower). Argless forms operate on `@`.
    case GlobalCall(name, args)
        if !Set("coalesce", "chain", "join", "range",
                "product", "to_string")(name) =>
      if (args.nonEmpty)
        colExpr(Chain(args.head.e, Vector(Step.Method(name, args.tail))))
      else if (current.isDefined)
        colExpr(Chain(Current, Vector(Step.Method(name, Vector.empty))))
      else bail(s"argless global $name outside `@` scope")
    // VALUE pipes: each Forward stage evaluates with `@` bound to the
    // previous stage's value (Interp.Pipe). Write-shaped stages roll
    // the document and binds introduce env vars — both stay doc-mode.
    case Pipe(base, steps) =>
      def writeShaped(f: Expr): Boolean = f match {
        case Chain(Current | Root, ss) => Lower.isRootChainWrite(ss)
        case _: Patch                  => true
        case _                         => false
      }
      var cur = colExpr(base)
      var curDt = inferDt(base)
      steps.foreach {
        case PipeStep.Forward(f) =>
          if (writeShaped(f)) bail("write-shaped pipe stage rolls the document")
          // a stage's bare idents resolve against `@` (Interp Ident →
          // fieldOf(env.current)), NOT the enclosing row — struct-typed
          // stage values get element scope, anything else bails on bare
          // idents (scalarElem) and keeps `@`/method chains
          val scope = curDt match {
            case Some(st: StructType) =>
              new ColLower(Some(st), current = Some(cur),
                identBase = Some(cur), currentDt = curDt,
                rootStruct = rootStruct)
            case _ =>
              new ColLower(None, current = Some(cur), currentDt = curDt,
                rootStruct = rootStruct, scalarElem = true)
          }
          val next = scope.colExpr(f)
          curDt = scope.inferDt(f)
          cur = next
        case other => bail(s"pipe bind stays doc-mode: $other")
      }
      cur
    case Cast(x, to) => to match {
      case "int"    => colExpr(x).cast("long")
      case "float" | "number" => colExpr(x).cast("double")
      case "string" => displayExpr(x)
      case "bool"   => colExpr(x).cast("boolean")
      case other    => bail(s"cast to $other")
    }
    case other => bail(s"no relational lowering for expression $other")
  }

  /** Walk a postfix chain over a column, threading the STATIC Spark type
    * so array lanes dispatch to the higher-order-function pipeline ops
    * below and scalar lanes keep the 1:1 scalar builtins. An unknown
    * type falls back to the scalar mapping (never silently to the array
    * one — array semantics require the element type). */
  private def fieldChain(base: Column, baseDt: Option[DataType], steps: Vector[Step]): Column = {
    var c = base
    var dt: Option[DataType] = baseDt
    // indexed walk: a step may FUSE with its successor (consumed = 2) —
    // the heterogeneous values()/entries() display peephole below
    var si = 0
    var consumed = 1
    def nextStep: Option[Step] =
      if (si + 1 < steps.length) Some(steps(si + 1)) else None
    while (si < steps.length) {
    consumed = 1
    steps(si) match {
      case Step.Field(n) =>
        c = c.getField(n)
        dt = dt.flatMap {
          case st: StructType => st.find(_.name == n).map(_.dataType)
          // GetMapValue: null on a missing key (fs.get → JNull), even
          // under ANSI — and the value type stays statically known
          case MapType(StringType, v, _) => Some(v)
          case _              => None
        }
      case Step.Index(Lit(JInt(i))) => dt match {
        case Some(ArrayType(et, _)) =>
          // interpreter indexOf: 0-based, negative from the end, null
          // out of bounds (never an ANSI error)
          c = if (i >= 0) get(c, lit(i.toInt))
              else get(c, size(c) + lit(i.toInt))
          dt = Some(et)
        case _ =>
          c = element_at(c, i.toInt + (if (i >= 0) 1 else 0)); dt = None
      }
      case Step.Index(e) => dt match {
        case Some(ArrayType(et, _)) if inferDt(e).exists(integralDt) =>
          val i = colExpr(e).cast("int")
          c = get(c, when(i >= 0, i).otherwise(size(c) + i))
          dt = Some(et)
        case _ => bail(s"dynamic index over untyped lane")
      }
      case Step.Slice(a, b) => dt match {
        case Some(ArrayType(_, _)) => c = sliceArr(c, a, b) // type unchanged
        case _                     => bail("slice over a non-array lane")
      }
      case Step.InlineFilter(p) => dt match {
        case Some(at: ArrayType) =>
          c = filter(c, x => new EBody(at, p).pred(x))
        case _ => bail("inline filter over a non-array lane")
      }
      case Step.Method(m, args) => dt match {
        case Some(t) if (m == "to_string" || m == "to_json") && args.isEmpty &&
            (numericDt(t) || t == BooleanType ||
             (t == StringType && m == "to_string")) =>
          // display(recv) — to_json ≡ render differs only on STRING
          // receivers (quoted/escaped), which bail; a null receiver
          // renders the TEXT "null" (display(JNull))
          val s = t match {
            case DoubleType | FloatType =>
              val d = c.cast("double")
              when(d.isNotNull && d === floor(d) && !d.isNaN && abs(d) < lit(1e15),
                d.cast("long").cast("string")).otherwise(d.cast("string"))
            case _ => c.cast("string")
          }
          c = coalesce(s, lit("null")); dt = Some(StringType)
        case Some(st: StructType)
            if (m == "to_json" || m == "to_string") && args.isEmpty =>
          // recv.render over the bridged document: Spark's to_json
          // omits null STRUCT fields (the bridge view the interpreter
          // leg reads), keeps null map entries and array elements, and
          // escapes like JValue.writeString (RowBridge fidelity
          // contract). Fractional/date lanes render differently
          // (shortest-form vs Jackson) and bail, like the map lane.
          if (!jsonSafeShape(st))
            bail(s"$m lowers only integral/string/bool struct shapes")
          c = when(c.isNull, lit("null")).otherwise(to_json(c))
          dt = Some(StringType)
        case Some(t) if (m == "type" || m == "type_of") && args.isEmpty =>
          // JValue.kind is static per lane except the null case — one
          // null test against an otherwise-constant string
          val k = t match {
            case _: StructType | _: MapType => "object"
            case _: ArrayType               => "array"
            case StringType                 => "string"
            case BooleanType                => "bool"
            case d if numericDt(d)          => "number"
            case other => bail(s"type() over a ${other.simpleString} lane")
          }
          c = when(c.isNull, lit("null")).otherwise(lit(k))
          dt = Some(StringType)
        case Some(st: StructType)
            if Set("has", "missing", "includes", "contains")(m) &&
               args.length == 1 =>
          // membership over a struct receiver tests the bridge document
          // (null fields OMITTED — RowBridge/to_json), so a literal key
          // is present iff the receiver is non-null AND the field value
          // is non-null. has/missing are total; includes/contains keep
          // the dispatch-guard fallthrough: null receiver → null.
          val posi = argE(args, 0) match {
            case Lit(JStr(k)) =>
              if (st.fieldNames.contains(k)) c.getField(k).isNotNull
              else lit(false)
            case other => bail(s"struct $m with dynamic key: $other")
          }
          c = m match {
            case "missing" => !posi
            case "has"     => posi
            case _         => when(c.isNotNull, posi)
          }
          dt = Some(BooleanType)
        case Some(t) if (m == "get_path" || m == "has_path") &&
            args.length == 1 &&
            (t.isInstanceOf[StructType] ||
             (t match { case MapType(StringType, _, _) => true
                        case _ => false })) =>
          // Builtins.getPath: fold fieldOf over '.'-split segments —
          // a miss or non-container yields JNull for the rest of the
          // walk. Literal paths walk getField statically (struct
          // segments must exist in the schema — the bridge omission
          // makes a null field ≡ absent — and map segments are
          // null-on-miss); dynamic paths and walks into non-containers
          // stay on the document rungs. has_path is the non-null test,
          // total by construction.
          val p = argE(args, 0) match {
            case Lit(JStr(s)) => s
            case other        => bail(s"$m needs a literal path, got $other")
          }
          // a struct segment missing from the SCHEMA is absent in every
          // row's bridged document, so has_path is constantly false
          // (getPath's fieldOf miss → JNull for the rest of the walk);
          // get_path keeps bailing — its JNull would need a lane type
          var cc = c; var dd: Option[DataType] = Some(t); var dead = false
          p.split('.').foreach { k =>
            if (!dead) dd match {
              case Some(st: StructType) =>
                if (!st.fieldNames.contains(k)) {
                  if (m == "has_path") dead = true
                  else bail(s"$m segment $k not in ${st.simpleString}")
                } else { cc = cc.getField(k); dd = Some(st(k).dataType) }
              case Some(MapType(StringType, v, _)) =>
                cc = cc.getField(k); dd = Some(v)
              case Some(other) =>
                bail(s"$m walks into a ${other.simpleString}")
              case None => bail(s"$m segment $k untyped")
            }
          }
          if (m == "has_path") {
            c = if (dead) lit(false) else cc.isNotNull
            dt = Some(BooleanType)
          } else { c = cc; dt = dd }
        case Some(st: StructType)
            if Set("set_path", "del_path", "del_paths")(m) =>
          val (c2, dt2) = structPathMethod(m, c, st, args)
          c = c2; dt = Some(dt2)
        case Some(st: StructType) if m == "set" && args.length == 2 =>
          // JObj(objOnly(recv) + (k -> v)) — exactly one-segment
          // set_path (Builtins.scala:635; null receiver coerces to {})
          val (c2, dt2) = structPathMethod("set_path", c, st, args)
          c = c2; dt = Some(dt2)
        case Some(st: StructType) if m == "update" && args.length == 2 =>
          // fs + (k -> f(fs.getOrElse(k, JNull))) — the body reads the
          // (possibly null ≡ absent) field, the write is one-segment
          // set_path. Keys outside the schema would hand the body an
          // untypeable null — doc mode keeps those.
          val k = argE(args, 0) match {
            case Lit(JStr(s)) => s
            case other        => bail(s"update lowers only literal keys: $other")
          }
          val fdt = st.find(_.name == k).map(_.dataType)
            .getOrElse(bail(s"update key $k not in ${st.simpleString} — doc mode"))
          val b = new EBody(ArrayType(fdt, containsNull = true), args(1).e)
          val bdt = b.dt.getOrElse(bail("update body type unknown"))
          val v = letRow1(c.getField(k))(b(_))
          c = setPathDeepCol(c, Some(st), List(k), v, bdt)
          dt = setPathStructType(Some(st), List(k), bdt)
        case Some(st: StructType)
            if (m == "merge" || m == "deep_merge") && args.nonEmpty &&
               !args.exists(_.name.nonEmpty) =>
          val (c2, dt2) = structMergeMethod(m, c, st, args)
          c = c2; dt = Some(dt2)
        case Some(st: StructType) if structObjOps(m) =>
          // round-11 display peephole: values()/entries() over a struct
          // whose field kinds do NOT unify have no single-typed lane —
          // but when the very NEXT step only consumes their DISPLAY or
          // their COUNT, the pair fuses: join renders each element
          // (JValue.display) and len/count need only the present-key
          // cardinality. Raw read-backs of heterogeneous values keep
          // the doc-mode bail (a typed lane cannot hold them).
          def atomic(d: DataType) =
            numericDt(d) || d == StringType || d == BooleanType
          def hetero: Boolean =
            st.fields.forall(f => atomic(f.dataType)) &&
              st.fields.map(f => Option(f.dataType))
                .reduceLeft { (a, d) =>
                  for { x <- a; y <- d; u <- unifySameKind(x, y) } yield u
                }.isEmpty
          val fused = (m, nextStep) match {
            case ("values", Some(Step.Method("join", jargs)))
                if args.isEmpty && jargs.length <= 1 && hetero =>
              val sep = jargs.headOption.map(_.e) match {
                case None               => ""
                case Some(Lit(JStr(s))) => s
                case Some(other)        => bail(s"join needs a literal separator: $other")
              }
              val parts = st.fields.toIndexedSeq.map(f =>
                when(c.getField(f.name).isNotNull,
                  keyOf(c.getField(f.name), f.dataType)))
              c = coalesce(
                array_join(filter(array(parts: _*), _.isNotNull), sep),
                lit(""))
              dt = Some(StringType)
              consumed = 2
              true
            case ("entries" | "to_pairs",
                  Some(Step.Method("len" | "length" | "count", Vector())))
                if args.isEmpty && hetero =>
              // |entries| = present-key count (objOnly reads null as {})
              c = size(filter(array(st.fieldNames.toIndexedSeq.map(n =>
                when(c.getField(n).isNotNull, lit(n))): _*), _.isNotNull))
                .cast(LongType)
              dt = Some(LongType)
              consumed = 2
              true
            case _ => false
          }
          if (!fused) {
            val (c2, dt2) = structObjMethod(m, c, st, args)
            c = c2; dt = dt2
          }
        case Some(at: ArrayType) if arrayOps(m) =>
          val (c2, dt2) = arrayMethod(m, c, at, args)
          c = c2; dt = dt2
        case Some(mt: MapType) if mapOps(m) =>
          val (c2, dt2) = mapMethod(m, c, mt, args)
          c = c2; dt = dt2
        case _ =>
          // doc mode returns the RECEIVER unchanged when a string
          // method hits a non-string value (reference apply_or_recv,
          // mod.rs:1448-1455) — Spark's functions would coerce-and-
          // transform instead, so a statically non-string lane bails
          // to the interpreter rather than diverge
          dt match {
            case Some(t) if stringOnlyFns(m) && t != StringType =>
              bail(s"$m over a ${t.simpleString} lane (doc mode keeps the receiver)")
            case _ => ()
          }
          c = scalarFn(m, c, args); dt = scalarFnReturn(m)
      }
      case Step.Optional => () // Spark navigation is already null-safe
      case other         => bail(s"field-chain step $other")
    }
    si += consumed
    }
    c
  }

  /** String-receiver-only builtins: on any other receiver kind the
    * interpreter leaves the value untouched, so lowering them over a
    * known non-string lane must bail (see Step.Method above). Numeric
    * fns (abs/ceil/floor/round) and len are excluded — those have
    * their own cross-kind semantics. */
  private val stringOnlyFns: Set[String] = Set(
    "upper", "lower", "trim", "trim_left", "lstrip", "trim_right",
    "rstrip", "capitalize", "reverse_str", "byte_len", "starts_with",
    "ends_with", "replace_all", "split", "repeat", "pad_left",
    "pad_right", "to_base64", "from_base64", "re_match",
    "re_replace_all", "parse_int", "parse_float", "to_number",
    "index_of", "matches", "replace", "strip_prefix", "strip_suffix",
    "is_numeric", "is_alpha", "is_ascii",
    "lines", "chars_of", "url_encode", "url_decode", "html_escape",
    "html_unescape", "center", "last_index_of", "to_bool", "parse_bool",
    "contains_any", "contains_all", "scan", "re_split",
    "re_match_first", "re_match_all",
    "re_captures", "re_captures_all", "re_replace",
    "snake_case", "kebab_case", "camel_case", "pascal_case",
    "indent", "dedent",
    "title_case", "words", "is_blank", "bytes")

  /** Array-pipeline methods with an exact columnar lowering. Names that
    * double as string builtins (`len`, `reverse`, `includes`, …)
    * dispatch here only when the lane is statically array-typed. */
  private val arrayOps: Set[String] = Set(
    "filter", "find", "find_all", "where", "map", "flat_map", "compact",
    "count", "len", "length", "sum", "avg", "mean", "min", "max",
    "first", "last", "nth", "take", "skip", "drop", "unique", "distinct",
    "reverse", "any", "exists", "all", "includes", "contains",
    "has", "missing", "join",
    "sort", "sort_by",
    "collect", "append", "prepend", "flatten", "slice", "remove",
    "pick", "omit",
    "index", "index_of", "indices_of", "find_first", "find_one",
    "take_while", "takewhile", "drop_while", "dropwhile",
    "window", "chunk", "batch", "pairwise", "enumerate", "partition",
    "zip", "zip_longest", "diff", "intersect", "union", "from_pairs",
    "lag", "lead", "diff_window", "pct_change", "zscore",
    "cum_max", "cum_min", "cummax", "cummin",
    "rolling_sum", "rolling_avg", "rolling_min", "rolling_max")

  /** Object builtins with an exact columnar lowering over a
    * `map<string, V>` lane (Builtins.scala:580-650). `has`/`missing`
    * stay on the binary `has` lowering; `get_path`/`pick`/`omit` and
    * the named-arg `rename` form stay doc-mode. */
  private val mapOps: Set[String] = Set(
    "keys", "values", "entries", "to_pairs", "len", "length",
    "filter_keys", "filter_values", "transform_values", "transform_keys",
    "merge", "deep_merge", "defaults", "invert", "set", "update", "rename",
    "has", "missing", "includes", "contains", "pick", "omit",
    "set_path", "del_path", "del_paths", "to_json", "to_string")

  /** One per-element body (lambda or shorthand) over an array lane. */
  private final class EBody(at: ArrayType, raw: Expr) {
    private val (bodyExpr, bodyParam): (Expr, Option[String]) = raw match {
      case Lambda(ps, b) if ps.length == 1 => (b, Some(ps(0)))
      case Lambda(_, _)                    => bail("multi-param lambda at row scope")
      case other                           => (other, None)
    }
    private def scope(x: Column): ColLower = at.elementType match {
      case st: StructType => new ColLower(
        Some(st), current = Some(x), identBase = Some(x),
        currentDt = Some(st), param = bodyParam)
      case et => new ColLower(
        None, current = Some(x), currentDt = Some(et), param = bodyParam,
        scalarElem = true)
    }
    // the body's VALUE (map/flat_map bodies, keys): value position, so
    // bool-valued bodies get the interpreter's two-valued semantics
    def apply(x: Column): Column = scope(x).valueExpr(bodyExpr)
    /** Raw three-valued truthiness (null falls out in filter position). */
    def pred(x: Column): Column = {
      val s = scope(x); s.truthy(s.colExpr(bodyExpr), bodyExpr)
    }
    /** Two-valued truthiness for null-sensitive quantifiers. */
    def predStrict(x: Column): Column = coalesce(pred(x), lit(false))
    /** Static Spark type of the body, when derivable. */
    def dt: Option[DataType] = scope(lit(null)).inferDt(bodyExpr)
  }

  private def identityBody(at: ArrayType, args: Vector[Arg], i: Int): EBody =
    new EBody(at, if (i < args.length) args(i).e else Current)

  /** `[a:b]` with the interpreter's clamp semantics (Interp.sliceOf):
    * negative from the end, indices clamped into [0, len], empty when
    * a ≥ b. */
  private def sliceArr(c: Column, from: Option[Long], to: Option[Long]): Column = {
    val len = size(c).cast("long")
    def clamp(iOpt: Option[Long], dflt: Column): Column = iOpt match {
      case None    => dflt
      case Some(i) =>
        val base = if (i < 0) len + lit(i) else lit(i)
        greatest(least(base, len), lit(0L))
    }
    val a = clamp(from, lit(0L))
    val b = clamp(to, len)
    slice(c, (a + 1).cast("int"), greatest(b - a, lit(0L)).cast("int"))
  }

  private def arrayMethod(
      name: String, c: Column, at: ArrayType,
      args: Vector[Arg]): (Column, Option[DataType]) = {
    val someArr: Option[DataType] = Some(at)
    def body(i: Int): EBody = identityBody(at, args, i)
    // interpreter array-RETURNING builtins go through `elems`, which
    // reads a null receiver as the EMPTY sequence (Builtins.elems) — so
    // e.g. map/take on a missing field yield [], not null. Scalar-valued
    // ops keep the null-safe column forms (get/array_min/... already
    // return the interpreter's null). `reverse` and `{pred}` inline
    // filters pass null through, matching their non-elems interpreter
    // bodies.
    def nz(x: Column): Column = coalesce(x, array().cast(at))
    def mappedWithDt(): (Column, DataType) = {
      // the lane the aggregate consumes: the receiver itself, or the
      // receiver mapped through the shorthand/lambda argument
      if (args.isEmpty) (c, at.elementType)
      else {
        val b = body(0)
        val d = b.dt.getOrElse(bail(s"$name body type unknown"))
        (transform(c, b(_)), d)
      }
    }
    name match {
      case "filter" | "find" | "find_all" | "where" =>
        // multi-arg form ANDs all predicates (Builtins filter)
        if (args.isEmpty) (nz(c), someArr)
        else {
          val preds = args.indices.map(i => body(i))
          (filter(nz(c), x => preds.map(_.pred(x)).reduce(_ && _)), someArr)
        }
      case "map" =>
        val b = body(0)
        (transform(nz(c), b(_)),
          b.dt.map(ArrayType(_, containsNull = true)))
      case "flat_map" =>
        val b = body(0)
        b.dt match {
          case Some(ArrayType(et, _)) =>
            // interpreter flattens arrays and DROPS null results
            (flatten(filter(transform(nz(c), b(_)), _.isNotNull)),
              Some(ArrayType(et, containsNull = true)))
          case Some(d) =>
            // scalar body: like map, but null results are dropped
            (filter(transform(nz(c), b(_)), _.isNotNull),
              Some(ArrayType(d, containsNull = true)))
          case None => bail("flat_map body type unknown")
        }
      case "compact" => (filter(c, _.isNotNull), someArr) // null passes through (no elems)
      case "pick" | "omit" =>
        // the interpreter MAPS pick/omit over array ELEMENTS
        // (Builtins.pick/omit JArr rows). The element rules differ
        // from the receiver forms: pick applies `one` to EVERY element
        // — a null element still builds the object of nulls (the JNull
        // dispatch row guards only the RECEIVER) — while omit's
        // non-object row keeps null elements unchanged. Non-struct
        // element lanes stay doc-mode.
        at.elementType match {
          case st: StructType =>
            val outEt = structObjReturn(name, st, args)
              .getOrElse(bail(s"$name element shape untypeable"))
            if (name == "omit")
              (transform(nz(c), e => structObjMethod(name, e, st, args)._1),
                Some(ArrayType(outEt, containsNull = true)))
            else {
              val picked = args.map(a => a.e match {
                case Lit(JStr(s)) if a.name.isEmpty => s
                case Ident(n) if a.name.isEmpty     => n
                case other => bail(s"pick needs literal key names, got $other")
              })
              (transform(nz(c), e => struct(picked.map(n =>
                (if (st.fieldNames.contains(n)) e.getField(n)
                 else lit(null).cast(StringType)).as(n)): _*)),
                Some(ArrayType(outEt, containsNull = true)))
            }
          case other => bail(s"$name over ${other.simpleString} elements — doc mode")
        }
      case "count" =>
        // bare count() is len(): null receiver stays null (the
        // reference's shared len arm leaves non-arrays unchanged);
        // size() null-propagates natively. The predicate form keeps
        // the elems view (null → empty → 0).
        if (args.isEmpty) (size(c).cast("long"), Some(LongType))
        else (when(c.isNull, lit(0L))
          .otherwise(size(filter(c, x => body(0).pred(x))).cast("long")),
          Some(LongType))
      case "len" | "length" =>
        (size(c).cast("long"), Some(LongType)) // null lane → null (len_apply)
      case "sum" =>
        // empty → 0; non-numeric elements skipped; a NULL receiver is
        // null (bare: reference numeric_aggregate_apply; projected: the
        // reference errors, which the jetro_eval contract nulls).
        // One typed-lane representation note: on a FRACTIONAL lane the
        // empty/all-null sum is 0.0 (the column is double), where the
        // interpreter's polymorphic fold starts at int 0 — numerically
        // equal, differing only in int-vs-float rendering. A single
        // column cannot be int-or-double per row; DocColumnSpec pins
        // this as the documented exception to bit-identical output.
        val (mapped, d) = mappedWithDt()
        val zero =
          if (integralDt(d)) lit(0L)
          else if (numericDt(d)) lit(0.0)
          else bail(s"sum over non-numeric lane ${d.simpleString}")
        val nn = filter(mapped, _.isNotNull)
        (when(c.isNotNull, coalesce(aggregate(nn, zero, (a, x) => a + x), zero)),
          Some(if (integralDt(d)) LongType else DoubleType))
      case "avg" | "mean" =>
        // nulls skipped; empty → null; always float (Builtins avg)
        val (mapped, d) = mappedWithDt()
        if (!numericDt(d)) bail(s"avg over non-numeric lane ${d.simpleString}")
        val nn = filter(mapped, _.isNotNull)
        val n = size(nn)
        (when(n > 0,
          aggregate(nn, lit(0.0), (a, x) => a + x.cast("double")) / n),
          Some(DoubleType))
      case "min" | "max" =>
        // nulls skipped; empty → null; NUMERIC-only (the reference's
        // aggregate skips non-numbers entirely — a lexicographic
        // array_min over strings would diverge, so non-numeric lanes
        // stay with the interpreter)
        val (mapped, d) = mappedWithDt()
        if (!numericDt(d)) bail(s"$name over non-numeric lane ${d.simpleString}")
        ((if (name == "min") array_min(mapped) else array_max(mapped)), Some(d))
      case "first" if args.isEmpty => (get(c, lit(0)), Some(at.elementType))
      case "last" if args.isEmpty  =>
        (get(c, size(c) - 1), Some(at.elementType))
      case "first" => // first(n) ≡ take(n)
        (slice(nz(c), lit(1), lit(math.max(intLit(args, 0), 0L).toInt)), someArr)
      case "last" => // last(n) ≡ takeRight(n)
        val n = math.max(intLit(args, 0), 0L).toInt
        val a = nz(c)
        (slice(a,
          greatest(size(a) - n + 1, lit(1)),
          greatest(least(lit(n), size(a)), lit(0))), someArr)
      case "nth" =>
        val i = intLit(args, 0)
        val idx = if (i >= 0) lit(i.toInt) else size(c) + lit(i.toInt)
        (get(c, idx), Some(at.elementType)) // get: null out of bounds / negative
      case "take" =>
        (slice(nz(c), lit(1), lit(math.max(intLit(args, 0), 0L).toInt)), someArr)
      case "skip" | "drop" =>
        val n = math.max(intLit(args, 0), 0L).toInt
        if (n == 0) (nz(c), someArr)
        else (slice(nz(c), lit(n + 1), greatest(size(nz(c)) - n, lit(0))), someArr)
      case "unique" | "distinct" => (array_distinct(nz(c)), someArr) // keep-first
      case "reverse" => (reverse(c), someArr)
      case "sort" | "sort_by" =>
        // jetro's sorted (Builtins.sorted:114-129): stable ASCENDING
        // sort by the key via JValue.cmp — incomparable pairs (incl.
        // null keys) TIE and keep their relative order — and a `-key`
        // prefix means sort ascending THEN reverse (desc flag, not key
        // negation): ties come out REVERSED under `-`, and string keys
        // work. The lowering mirrors that exactly: strip the `-`, sort
        // asc with a cmp-style comparator (null comparisons fall
        // through both whens to 0; array_sort's TimSort and the
        // interpreter's sortWith are both stable), then reverse().
        // Mirrored two-param comparator lambdas rewrite to key form
        // (comparatorKey); `>` is the STABLE descending sort — swap the
        // comparator operands, do NOT reverse, so ties keep their
        // relative order exactly like sortWith does.
        // modes: 0 asc · 1 desc-by-reverse (`-key`) · 2 stable desc
        val (keyExpr, mode) =
          (if (args.isEmpty) Current else args(0).e) match {
            case Lambda(ps, b) if ps.length == 2 =>
              comparatorKey(ps, b).map { case (k, d) => (k, if (d) 2 else 0) }
                .getOrElse(bail("comparator-lambda sort has no columnar lowering"))
            case Unary("-", inner) => (inner, 1)
            case other             => (other, 0)
          }
        val b = new EBody(at, keyExpr)
        val kd = b.dt.getOrElse(bail("sort key type unknown"))
        if (!numericDt(kd) && kd != StringType && kd != BooleanType)
          bail(s"sort key must be atomic, got ${kd.simpleString}")
        val sorted = array_sort(nz(c), (x, y) => {
          val (kx, ky) = if (mode == 2) (b(y), b(x)) else (b(x), b(y))
          when(kx < ky, lit(-1)).when(kx > ky, lit(1)).otherwise(lit(0))
        })
        (if (mode == 1) reverse(sorted) else sorted, someArr)
      case "any" | "exists" =>
        (coalesce(exists(c, x => body(0).predStrict(x)), lit(false)),
          Some(BooleanType))
      case "all" =>
        (coalesce(forall(c, x => body(0).predStrict(x)), lit(true)),
          Some(BooleanType))
      case "includes" | "contains" | "has" | "missing" =>
        // Builtins.membership array case: JValue.eq finds null ELEMENTS
        // when the item is null (array_contains would null out). The
        // item binds via letRow so it evaluates once, not per element.
        // has/missing are TOTAL (a null receiver is false); includes/
        // contains only dispatch to membership for array/object
        // receivers (Builtins:566) — a null receiver falls through to
        // the string builtins, which return it unchanged: null.
        val posi = letRow(Seq(c, colExpr(argE(args, 0)))) { case Seq(cc, vv) =>
          if (name == "has" || name == "missing")
            coalesce(exists(cc, x => x <=> vv), lit(false))
          else when(cc.isNotNull, exists(cc, x => x <=> vv))
        }
        (if (name == "missing") !posi else posi, Some(BooleanType))
      case "join" =>
        // coercing join: each element takes its DISPLAY form
        // (JValue.display — strings raw, floats shortest, null elements
        // render the text "null", NOT dropped); a null receiver reads
        // as [] → "" (arrOnly)
        val sep = strLit(args, 0, "")
        at.elementType match {
          case t if t == StringType || numericDt(t) || t == BooleanType =>
            val disp = if (t == StringType) c else transform(c, keyOf(_, t))
            (coalesce(array_join(disp, sep, "null"), lit("")), Some(StringType))
          case other =>
            bail(s"join lowered only for atomic lanes, got ${other.simpleString}")
        }

      // ── element pushes / splices (O:collection.rs:379-404, D:850) ──
      case "collect" => (nz(c), someArr) // array → id, null → [] (M:98-99)
      case "append" | "prepend" =>
        // arrOnly reads null as [], then pushes the evaluated arg — a
        // MISSING arg pushes null (Builtins:267-270). The pushed value
        // must share the lane's kind (same type, or integral/fractional
        // widening); a cross-kind push makes a heterogeneous array the
        // static lane cannot hold.
        val (av, u) =
          if (args.isEmpty) (lit(null).cast(at.elementType), at.elementType)
          else {
            val e = argE(args, 0)
            val ad = inferDt(e).getOrElse(bail(s"$name arg type unknown"))
            val w = unifySameKind(at.elementType, ad)
              .getOrElse(bail(s"$name ${ad.simpleString} into ${at.elementType.simpleString} lane"))
            (colExpr(e).cast(w), w)
          }
        val base = castArr(nz(c), u)
        (if (name == "append") concat(base, array(av))
         else concat(array(av), base),
          Some(ArrayType(u, containsNull = true)))
      case "flatten" =>
        // splice one nesting level per depth (default 1); depth beyond
        // the statically-known nesting is identity — the interpreter
        // keeps non-array elements in place (D:850-862). Spark's
        // flatten nulls the WHOLE result when an element is null
        // (probed), but the interpreter keeps the null as an element —
        // substitute [null] before splicing.
        var d = if (args.isEmpty) 1L else intLit(args, 0)
        var cur = c; var dt: DataType = at
        var go = true
        while (d > 0 && go) dt match {
          case ArrayType(inner: ArrayType, _) =>
            cur = flatten(transform(cur,
              x => coalesce(x, array(lit(null).cast(inner.elementType)))))
            dt = inner.copy(containsNull = true); d -= 1
          case _ => go = false
        }
        (cur, Some(dt))
      case "slice" => // clamp semantics shared with `[a:b]` (Interp.sliceOf)
        (sliceArr(c, Some(intLit(args, 0)),
          if (args.length > 1) Some(intLit(args, 1)) else None), someArr)
      case "remove" => // value form filters by JValue.eq; lambda by truthiness
        if (args.isEmpty) bail("remove requires an argument")
        argE(args, 0) match {
          case Lambda(_, _) =>
            (filter(nz(c), x => !body(0).predStrict(x)), someArr)
          case _ =>
            val (tv, eqf) = eqBinding(at.elementType, args)
            (letRow1(tv) { t => filter(nz(c), x => !eqf(x, t)) }, someArr)
        }

      // ── positional search (O:collection.rs:470-495, D:975): the eq
      // target runs inside the lambda — letRow-bound ──
      case "index" | "index_of" => // first index by JValue.eq, null on miss
        val (tv, eqf) = eqBinding(at.elementType, args)
        (letRow1(tv) { t =>
          get(filter(
            transform(nz(c), (x, i) => when(eqf(x, t), i)), _.isNotNull),
            lit(0)).cast("long")
        }, Some(LongType))
      case "indices_of" =>
        val (tv, eqf) = eqBinding(at.elementType, args)
        (letRow1(tv) { t =>
          filter(transform(nz(c), (x, i) => when(eqf(x, t), i.cast("long"))),
            _.isNotNull)
        }, Some(ArrayType(LongType)))
      case "find_first" | "find_one" => // filter → first element, null when none
        (get(filter(nz(c), x => body(0).pred(x)), lit(0)),
          Some(at.elementType))

      // ── prefix cuts (D:421-481): truthiness is two-valued ──
      case "take_while" | "takewhile" | "drop_while" | "dropwhile" =>
        val b = body(0)
        (letRow1(nz(c)) { a =>
          // 0-based index of the first non-truthy element, null if all
          // pass — bound so the O(len) scan runs once, not per use
          letRow1(get(filter(
            transform(a, (x, i) => when(!b.predStrict(x), i)), _.isNotNull),
            lit(0))) { cut =>
            if (name.startsWith("take")) slice(a, lit(1), coalesce(cut, size(a)))
            else when(cut.isNull, emptyOf(at))
              .otherwise(slice(a, cut + 1, size(a) - cut))
          }
        }, someArr)

      // ── reshapes (§2.5 array forms): the lane is referenced INSIDE
      // the index lambda, so it is letRow-bound — once per row, not
      // once per produced window ──
      case "window" => // sliding windows of n; [] when n<=0 or short input
        val n = intLit(args, 0).toInt
        val out = ArrayType(at.copy(containsNull = true))
        if (n <= 0) (emptyOf(out), Some(out))
        else (letRow1(nz(c)) { a =>
          when(size(a) < n, emptyOf(out)).otherwise(
            transform(sequence(lit(1), size(a) - (n - 1)),
              i => slice(a, i, lit(n))))
        }, Some(out))
      case "chunk" | "batch" => // non-overlapping groups of n; n<=0 errs loudly
        val n = intLit(args, 0).toInt
        if (n <= 0) bail("chunk size must be positive (interpreter errors)")
        val out = ArrayType(at.copy(containsNull = true))
        (letRow1(nz(c)) { a =>
          // Column./ is double division — keep the chunk count integral
          val nChunks = floor((size(a) + (n - 1)) / n).cast("int")
          when(size(a) === 0, emptyOf(out)).otherwise(
            transform(sequence(lit(1), nChunks),
              i => slice(a, (i - 1) * n + 1, lit(n))))
        }, Some(out))
      case "pairwise" => // adjacent [a, b] pairs
        val out = ArrayType(ArrayType(at.elementType, containsNull = true))
        (letRow1(nz(c)) { a =>
          when(size(a) < 2, emptyOf(out)).otherwise(
            transform(sequence(lit(1), size(a) - 1),
              i => array(get(a, i - 1), get(a, i))))
        }, Some(out))
      case "enumerate" => // {index, value} rows (reference defs.rs)
        val st = StructType(Seq(StructField("index", LongType, nullable = false),
          StructField("value", at.elementType)))
        (transform(nz(c), (x, i) =>
          struct(i.cast("long").as("index"), x.as("value"))),
          Some(ArrayType(st)))
      case "partition" => // {"true": [...], "false": [...]} buckets
        val b = body(0)
        val outT = at.copy(containsNull = true)
        (struct(
          filter(nz(c), x => b.predStrict(x)).as("true"),
          filter(nz(c), x => !b.predStrict(x)).as("false")),
          Some(StructType(Seq(StructField("true", outT), StructField("false", outT)))))

      // ── zips (O:collection.rs zip/zip_longest) ──
      case "zip" | "zip_longest" =>
        val (ob, u) =
          if (args.isEmpty) (emptyOf(at), at.elementType)
          else {
            val e = argE(args, 0)
            inferDt(e) match {
              case Some(o: ArrayType) =>
                val w = unifySameKind(at.elementType, o.elementType)
                  .getOrElse(bail(s"$name pairs mix ${at.elementType.simpleString} and ${o.elementType.simpleString}"))
                (coalesce(colExpr(e), emptyOf(o)), w)
              case Some(o) => bail(s"$name over non-array arg ${o.simpleString}")
              case None    => bail(s"$name arg type unknown")
            }
          }
        val ua = ArrayType(u, containsNull = true)
        val out = ArrayType(ua)
        // both lanes are read inside the index lambda — bind them
        (letRow(Seq(castArr(nz(c), u), castArr(ob, u))) { case Seq(na, nb) =>
          val m = if (name == "zip") least(size(na), size(nb))
                  else greatest(size(na), size(nb))
          when(m === 0, emptyOf(out)).otherwise(
            transform(sequence(lit(1), m),
              i => array(get(na, i - 1), get(nb, i - 1))))
        }, Some(out))

      // ── from_pairs: [k, v] pairs → object (Builtins:586-597); the
      // key takes val_to_key display form, malformed pairs (wrong
      // length, null) are skipped, duplicates collapse first-position-
      // last-value ──
      case "from_pairs" => at.elementType match {
        case ArrayType(t, _) if atomicElem(t) =>
          (map_from_entries(dedupEntriesFPLV(
            transform(filter(nz(c), p => size(p) === 2),
              p => struct(keyOf(get(p, lit(0)), t).as("key"),
                get(p, lit(1)).as("value"))))),
            Some(MapType(StringType, t, valueContainsNull = true)))
        case other =>
          bail(s"from_pairs lowers over atomic pair lanes, got ${other.simpleString}")
      }

      // ── set ops by val_to_key (collection.rs:596-642): hash-set
      // membership on the DISPLAY string — "null" the string and a null
      // element deliberately collide, like the interpreter. diff keeps
      // receiver-side duplicates; intersect/union dedup keep-first. ──
      case "diff" | "intersect" | "union" =>
        if (!atomicElem(at.elementType))
          bail(s"$name over ${at.elementType.simpleString} lane (val_to_key)")
        val na = nz(c)
        val (other, otherDt): (Column, DataType) =
          if (args.isEmpty) (emptyOf(at), at.elementType)
          else {
            val e = argE(args, 0)
            inferDt(e) match {
              case Some(o: ArrayType) if atomicElem(o.elementType) =>
                (coalesce(colExpr(e), emptyOf(o)), o.elementType)
              case Some(o) => bail(s"$name arg must be an atomic-element array, got ${o.simpleString}")
              case None    => bail(s"$name arg type unknown")
            }
          }
        val ed = at.elementType
        // the OTHER side's key array is probed inside the filter lambda
        // — bound, or the whole key transform re-runs per element
        name match {
          case "diff" =>
            (letRow1(transform(other, keyOf(_, otherDt))) { bk =>
              filter(na, x => !array_contains(bk, keyOf(x, ed)))
            }, someArr)
          case "intersect" =>
            (letRow1(transform(other, keyOf(_, otherDt))) { bk =>
              dedupByKey(filter(na, x => array_contains(bk, keyOf(x, ed))), ed)
            }, someArr)
          case _ => // union concatenates, so the lanes must share a kind
            val u = unifySameKind(ed, otherDt)
              .getOrElse(bail("union pairs mixed-kind lanes"))
            (dedupByKey(concat(castArr(na, u), castArr(other, u)), u),
              Some(ArrayType(u, containsNull = true)))
        }

      // ── numeric sequence analytics (§2.5 array forms): the
      // interpreter's nums() lane — every element Some(double) or None,
      // non-numeric errors (statically excluded here); results are
      // always float (numArr) ──
      case "lag" | "lead" | "diff_window" | "pct_change" | "zscore" |
           "cum_max" | "cum_min" | "cummax" | "cummin" |
           "rolling_sum" | "rolling_avg" | "rolling_min" | "rolling_max" =>
        if (!numericDt(at.elementType))
          bail(s"$name over non-numeric lane ${at.elementType.simpleString}")
        // bind the cast lane: rolling/zscore read it inside lambdas,
        // and the shift shapes reference it several times
        (letRow1(transform(nz(c), _.cast("double"))) { xs =>
          numSeqOp(name, xs, args)
        }, Some(ArrayType(DoubleType)))

      case other => bail(s"no columnar array lowering for .$other()")
    }
  }

  /** The interpreter's numeric window family over a double lane
    * (Builtins:470-513, rolling:791-806). All shift/scan shapes are
    * linear (slice/concat or an aggregate scan); rolling_* is O(n·w)
    * like the interpreter's sliding fold. */
  private def numSeqOp(name: String, xs: Column, args: Vector[Arg]): Column = {
    val nullD = lit(null).cast("double")
    val emptyD = array().cast("array<double>")
    def prevOf(acc: Column) = get(acc, size(acc) - 1) // empty → null (probed)
    name match {
      case "lag" | "lead" =>
        val n = if (args.isEmpty) 1 else intLit(args, 0).toInt
        // a negative shift indexes out of bounds in the interpreter —
        // a loud error, so it stays there
        if (n < 0) bail(s"$name with negative shift errors loudly")
        val pads = array_repeat(nullD, least(lit(n), size(xs)).cast("int"))
        val kept = greatest(size(xs) - n, lit(0))
        if (name == "lag") concat(pads, slice(xs, lit(1), kept))
        else concat(slice(xs, lit(n + 1), kept), pads)
      case "diff_window" =>
        // zip_with pads the empty xs against prev=[null] (probed), so
        // guard the empty receiver explicitly
        val prev = concat(array(nullD), slice(xs, lit(1), greatest(size(xs) - 1, lit(0))))
        when(size(xs) === 0, emptyD).otherwise(
          zip_with(xs, prev, (x, p) => x - p)) // first / null gaps → null
      case "pct_change" =>
        val prev = concat(array(nullD), slice(xs, lit(1), greatest(size(xs) - 1, lit(0))))
        when(size(xs) === 0, emptyD).otherwise(
          zip_with(xs, prev, (x, p) => when(p =!= 0.0, (x - p) / p)))
      case "cum_max" | "cummax" | "cum_min" | "cummin" =>
        val wantMax = name == "cum_max" || name == "cummax"
        // scan: best-so-far carries over null elements; greatest/least
        // skip the null best before the first observation (probed)
        aggregate(xs, emptyD, (acc, x) => concat(acc, array(
          when(x.isNull, prevOf(acc)).otherwise(
            if (wantMax) greatest(prevOf(acc), x) else least(prevOf(acc), x)))))
      case "zscore" =>
        // mean and sd are read inside the per-element lambda — bind
        // each (sd's fold reads the bound mean), or every element
        // re-runs the O(len) aggregates: O(len²)
        // the binds are EAGER (a `when` branch is lazy, a struct field
        // is not) — guard the divisions for the empty lane, where the
        // n===0 branch means mean/sd are never read
        letRow1(filter(xs, _.isNotNull)) { nn =>
          letRow1(when(size(nn) > 0,
              aggregate(nn, lit(0.0), _ + _) / size(nn))) { mean =>
            letRow1(when(size(nn) > 0, sqrt(aggregate(nn, lit(0.0),
                (a, y) => a + (y - mean) * (y - mean)) / size(nn)))) { sd =>
              when(size(nn) === 0, transform(xs, _ => nullD)).otherwise(
                transform(xs, x => when(x.isNull, nullD)
                  .otherwise(when(sd === 0.0, lit(0.0)).otherwise((x - mean) / sd))))
            }
          }
        }
      case _ => // rolling_{sum,avg,min,max}
        val n = intLit(args, 0).toInt
        if (n <= 0) bail("rolling window size must be positive (interpreter errors)")
        transform(xs, (_, i) => when(i >= n - 1, {
          val w = filter(slice(xs, i - (n - 2), lit(n)), _.isNotNull)
          when(size(w) > 0, name match {
            case "rolling_sum" => aggregate(w, lit(0.0), _ + _)
            case "rolling_avg" => aggregate(w, lit(0.0), _ + _) / size(w)
            case "rolling_min" => array_min(w)
            case _             => array_max(w)
          })
        }))
    }
  }

  private def emptyOf(at: ArrayType): Column = array().cast(at)
  private def castArr(c: Column, u: DataType): Column =
    c.cast(ArrayType(u, containsNull = true))

  

  

  private def atomicElem(d: DataType): Boolean =
    numericDt(d) || d == StringType || d == BooleanType

  /** val_to_key (util.rs:215-226) for an atomic lane: the display
    * string, with null rendering as "null" (so it collides with the
    * string "null", exactly like the interpreter's key map). Fractional
    * lanes take the SHORTEST-FORM display (Rust f64::to_string: 5.0 →
    * "5"), so a float and an int of the same value share a key across
    * lanes — the fuzzer caught cum_max().intersect($.longs) diverging
    * under the naive cast, which renders "5.0". */
  private def keyOf(x: Column, dt: DataType): Column =
    if (fractionalDt(dt)) {
      val d = x.cast("double")
      coalesce(
        when(d === floor(d) && !d.isNaN && abs(d) < lit(1e15),
          d.cast("long").cast("string")).otherwise(d.cast("string")),
        lit("null"))
    } else coalesce(x.cast("string"), lit("null"))

  /** Keep-first dedup by val_to_key (Builtins.uniqueBy): an element
    * survives iff its position is the key's first occurrence. The
    * input and its key array are letRow-bound — both are read inside
    * the filter lambda, where an unbound derived lane would re-derive
    * per element. */
  private def dedupByKey(a: Column, dt: DataType): Column =
    letRow1(a) { aa =>
      letRow1(transform(aa, keyOf(_, dt))) { ks =>
        filter(aa, (_, i) => array_position(ks, get(ks, i)) === i + 1)
      }
    }

  /** VectorMap `+=` over possibly-duplicate keys (transform_keys /
    * invert / from_pairs, Builtins:585-601): the key keeps its FIRST
    * position but takes its LAST value. entries is array<struct<key:
    * string (non-null), value>>; O(n²) string compares, row-local. */
  private def dedupEntriesFPLV(entries: Column): Column =
    letRow1(entries) { es =>
      letRow(Seq(transform(es, _.getField("key")),
                 reverse(transform(es, _.getField("key"))))) { case Seq(ks, rks) =>
        filter(transform(es, (e, i) =>
          when(array_position(ks, get(ks, i)) === i + 1,
            struct(e.getField("key").as("key"),
              get(es, size(ks) - array_position(rks, get(ks, i)))
                .getField("value").as("value")))), _.isNotNull)
      }
    }

  /** Object builtins with an exact columnar lowering over a STRUCT
    * lane (round 10): the bridged document view of a struct — a null
    * field ≡ an absent key — makes every read a presence-filtered walk
    * of the static fields. `has`/`missing`/`get_path`/`set_path`/
    * `merge` families have their own struct cases above. */
  private val structObjOps: Set[String] = Set(
    "keys", "values", "len", "length", "entries", "to_pairs",
    "pick", "omit", "defaults", "invert", "rename",
    "filter_keys", "filter_values", "transform_keys", "transform_values",
    "flatten_keys", "unflatten_keys")

  /** Segment trie of a flat dotted-name shape for unflatten_keys. */
  private sealed trait UnflatTrie {
    def leafFields: Vector[String] = this match {
      case UnflatLeaf(f, _)  => Vector(f)
      case UnflatBranch(cs)  => cs.flatMap(_._2.leafFields)
    }
  }
  private final case class UnflatLeaf(field: String, dt: DataType) extends UnflatTrie
  private final case class UnflatBranch(
      children: Vector[(String, UnflatTrie)]) extends UnflatTrie

  /** Build the unflatten trie in field order (the interpreter's
    * setPath fold order — branches appear where their prefix is first
    * written). Prefix collisions re-order through setPath's coercion
    * and bail to doc mode. */
  private def unflattenTrie(st: StructType): UnflatBranch = {
    def insert(b: UnflatBranch, segs: List[String],
               field: String, d: DataType): UnflatBranch = segs match {
      case Nil => bail("unreachable unflatten segment")
      case k :: Nil =>
        if (b.children.exists(_._1 == k))
          bail(s"unflatten_keys prefix collision at '$k' — doc mode")
        UnflatBranch(b.children :+ (k -> UnflatLeaf(field, d)))
      case k :: rest =>
        b.children.indexWhere(_._1 == k) match {
          case -1 =>
            UnflatBranch(b.children :+
              (k -> insert(UnflatBranch(Vector.empty), rest, field, d)))
          case i => b.children(i)._2 match {
            case cb: UnflatBranch =>
              UnflatBranch(b.children.updated(i, k -> insert(cb, rest, field, d)))
            case _: UnflatLeaf =>
              bail(s"unflatten_keys prefix collision at '$k' — doc mode")
          }
        }
    }
    st.fields.foldLeft(UnflatBranch(Vector.empty)) { (acc, f) =>
      val segs = f.name.split('.').toList
      if (f.name.isEmpty || segs.exists(_.isEmpty))
        bail(s"unflatten_keys: empty path segment in '${f.name}'")
      insert(acc, segs, f.name, f.dataType)
    }
  }

  /** DFS pre-order leaves of a struct shape for flatten_keys: dotted
    * name, getField path, leaf type. Arrays are LEAVES (Builtins
    * flatten_keys recurses only into objects); map values descend
    * dynamically and bail. Boundary note: an all-null nested struct is
    * a present `{}` LEAF to the interpreter but bridges to absent
    * here — the same typed-lane limit the struct-`has` doctrine pins. */
  private def flattenLeaves(
      st: StructType, prefix: String = "",
      path: List[String] = Nil): Vector[(String, List[String], DataType)] =
    st.fields.toVector.flatMap { f =>
      val p = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
      f.dataType match {
        case s2: StructType if s2.fields.nonEmpty =>
          flattenLeaves(s2, p, path :+ f.name)
        case _: MapType =>
          bail("flatten_keys descends map values dynamically — doc mode")
        case d2 => Vector((p, path :+ f.name, d2))
      }
    }

  /** The object-builtin lane over STRUCT receivers — the struct
    * analogue of [[mapMethod]] (interpreter Builtins.scala:582-650,
    * objOnly coercion: a null receiver reads as {} except `len`, which
    * keeps it, and `omit`, which returns the non-object receiver
    * unchanged). Key presence is the bridge rule (non-null field);
    * entry order is the struct field order. */
  private def structObjMethod(
      m: String, c: Column, st: StructType,
      args: Vector[Arg]): (Column, Option[DataType]) = {
    val names = st.fieldNames.toVector
    def present(n: String) = c.getField(n).isNotNull
    def presentKeys: Column =
      filter(array(names.map(n => when(present(n), lit(n))): _*), _.isNotNull)
    def litName(a: Arg): String = a.e match {
      case Lit(JStr(s)) if a.name.isEmpty => s
      case Ident(n) if a.name.isEmpty     => n
      case other => bail(s"$m needs literal key names, got $other")
    }
    m match {
      case "keys" =>
        (presentKeys, Some(ArrayType(StringType)))
      case "len" | "length" =>
        // JObj → PRESENT-key count; null receiver keeps null (len_apply
        // non-collection rows return the receiver unchanged)
        (when(c.isNull, lit(null).cast(LongType))
          .otherwise(size(presentKeys).cast(LongType)), Some(LongType))
      case "values" =>
        val u = st.fields.map(_.dataType).reduceLeft { (a, d) =>
          unifySameKind(a, d).getOrElse(bail("values mixes field kinds"))
        }
        (filter(array(names.map(n => c.getField(n).cast(u)): _*), _.isNotNull),
          Some(ArrayType(u, containsNull = true)))
      case "entries" | "to_pairs" =>
        if (st.fields.exists(_.dataType != StringType))
          bail("entries pairs are heterogeneous off string objects")
        (filter(array(names.map(n =>
          when(present(n), array(lit(n), c.getField(n)))): _*), _.isNotNull),
          Some(ArrayType(ArrayType(StringType, containsNull = true))))
      case "pick" =>
        // every named key emits (a miss emits null — Builtins.pick
        // fieldOf), in ARG order; a NULL receiver stays null (pick's
        // JNull dispatch row, Builtins.scala:760)
        if (args.isEmpty) bail("pick needs key names")
        val picked = args.map(litName)
        val outT = StructType(picked.map(n =>
          st.find(_.name == n).getOrElse(StructField(n, StringType))))
        (when(c.isNull, lit(null).cast(outT)).otherwise(
          struct(picked.map(n =>
            (if (st.fieldNames.contains(n)) c.getField(n)
             else lit(null).cast(StringType)).as(n)): _*)),
          Some(outT))
      case "omit" =>
        if (args.isEmpty) bail("omit needs key names")
        val dropped = args.map(litName).toSet
        val kept = st.fields.filterNot(f => dropped(f.name))
        if (kept.isEmpty) bail("omit would drop every struct field")
        val outT = StructType(kept)
        // a null (non-object) receiver returns unchanged
        (when(c.isNull, lit(null).cast(outT)).otherwise(
          struct(kept.toIndexedSeq.map(f => c.getField(f.name).as(f.name)): _*)),
          Some(outT))
      case "defaults" =>
        // fill only MISSING keys from the arg, appended in arg order —
        // the precedence mirror of shallow merge (x wins when present)
        if (args.length != 1) bail("defaults takes one object arg")
        val ys = inferDt(args(0).e) match {
          case Some(s: StructType) => s
          case Some(o) => bail(s"defaults needs an object arg, got ${o.simpleString}")
          case None    => bail("defaults arg type unknown")
        }
        val t = mergeStructType(st, ys, deep = false)
        (letRow(Seq(c, valueExpr(args(0).e))) { case Seq(aa, dd) =>
          struct(t.fields.toIndexedSeq.map { f =>
            val inX = st.find(_.name == f.name)
            val inY = ys.find(_.name == f.name)
            ((inX, inY) match {
              case (Some(xf), None) => asShape(aa.getField(f.name), xf.dataType, f.dataType)
              case (None, Some(yf)) => asShape(dd.getField(f.name), yf.dataType, f.dataType)
              case (Some(xf), Some(yf)) =>
                val xc = aa.getField(f.name)
                when(xc.isNull, asShape(dd.getField(f.name), yf.dataType, f.dataType))
                  .otherwise(asShape(xc, xf.dataType, f.dataType))
              case (None, None) => bail("unreachable defaults field")
            }).as(f.name)
          }: _*)
        }, Some(t))
      case "invert" =>
        // value's display becomes the key (val_to_key), original key the
        // value; first-position-last-value collisions over PRESENT keys
        st.fields.foreach(f =>
          if (!atomicElem(f.dataType)) bail("invert values must be atomic (val_to_key)"))
        (map_from_entries(dedupEntriesFPLV(
          filter(array(names.map(n =>
            when(present(n),
              struct(keyOf(c.getField(n), st(n).dataType).as("key"),
                lit(n).as("value")))): _*), _.isNotNull))),
          Some(MapType(StringType, StringType, valueContainsNull = true)))
      case "filter_values" | "transform_values" =>
        // per-field body application over PRESENT keys (objOnly walks
        // the bridged object): a filtered-out / absent key reads null
        // (≡ absent); the body must type against EVERY field's lane.
        // transform_values keeps each field's own body-typed lane
        // (struct fields are independent — no cross-field unification).
        if (args.length != 1) bail(s"$m takes one body")
        val perField = st.fields.toVector.map { f =>
          val b = new EBody(ArrayType(f.dataType, containsNull = true), args(0).e)
          if (m == "filter_values")
            (f.name, f.dataType,
              (v: Column) => when(b.predStrict(v), v).otherwise(lit(null).cast(f.dataType)))
          else {
            val bdt = b.dt.getOrElse(bail(s"$m body type unknown for field ${f.name}"))
            (f.name, bdt, (v: Column) => when(v.isNotNull, b(v)))
          }
        }
        (struct(perField.map { case (n, _, fn) => fn(c.getField(n)).as(n) }: _*),
          Some(StructType(perField.map { case (n, d2, _) => StructField(n, d2) })))
      case "filter_keys" | "transform_keys" =>
        // the body is a pure function of the KEY — static strings — so
        // it evaluates ONCE per schema field at plan time through the
        // interpreter itself (the schema-directed analogue of the map
        // lane's per-entry lambda). Row references in the body bail.
        if (args.length != 1) bail(s"$m takes one body")
        val raw = args(0).e
        val param: Option[String] = raw match {
          case Lambda(ps, _) if ps.length == 1 => Some(ps(0))
          case Lambda(_, _)                    => bail("multi-param lambda at row scope")
          case _                               => None
        }
        var rowRef = false
        rewrite(raw) {
          case i @ Ident(n) if !param.contains(n) => rowRef = true; i
          case r @ Root                           => rowRef = true; r
          case cur @ Current if param.isDefined   => rowRef = true; cur
        }
        if (rowRef) bail(s"$m key body references row state — doc mode")
        val f =
          try graft.jexpr.Interp.body(raw,
            graft.jexpr.Env(graft.jexpr.JNull, graft.jexpr.JNull, Map.empty))
          catch { case _: graft.jexpr.EvalException => bail(s"$m body errors") }
        def evalKey(k: String): JValue =
          try f(JStr(k))
          catch { case _: graft.jexpr.EvalException => bail(s"$m body errors on '$k'") }
        if (m == "filter_keys") {
          val kept = st.fields.filter(g => evalKey(g.name).truthy)
          if (kept.isEmpty) bail("filter_keys would drop every struct field")
          (struct(kept.toIndexedSeq.map(g => c.getField(g.name).as(g.name)): _*),
            Some(StructType(kept)))
        } else {
          // new key = keyStr(f(k)) — FPLV collisions: first STATIC
          // position, value = last PRESENT collider (interpreter maps
          // only present keys, so later null colliders fall through)
          val renamed = st.fields.toVector.map(g =>
            (graft.jexpr.Builtins.keyStr(evalKey(g.name)), g))
          val outNames = renamed.map(_._1).distinct
          val outFields = outNames.map { n =>
            val colliders = renamed.filter(_._1 == n).map(_._2)
            val d2 = colliders.map(_.dataType).reduceLeft { (a, b2) =>
              unifySameKind(a, b2).getOrElse(bail("transform_keys collides mixed kinds"))
            }
            (n, colliders, d2)
          }
          (struct(outFields.map { case (n, colliders, d2) =>
            coalesce(colliders.reverse.map(g => c.getField(g.name).cast(d2)): _*).as(n)
          }: _*),
            Some(StructType(outFields.map { case (n, _, d2) => StructField(n, d2) })))
        }
      case "rename" =>
        // positional rename(old, new) only (Builtins.scala:610-614):
        // a present `from` moves to `to` — in place when `to` survives
        // the removal, else appended at the END; a missing/null `from`
        // keeps the object unchanged. A null receiver reads as {}.
        if (args.length != 2 || args.exists(_.name.nonEmpty))
          bail("only rename(old, new) lowers")
        val from = litName(args(0)); val to = litName(args(1))
        if (!st.fieldNames.contains(from))
          // schema-miss identity — but rename ALWAYS returns JObj(fs),
          // so a null receiver still coerces to {} (≡ struct of nulls)
          (struct(st.fieldNames.toIndexedSeq.map(n => c.getField(n).as(n)): _*),
            Some(st): Option[DataType])
        else {
          val fromDt = st(from).dataType
          val remaining = st.fields.filterNot(_.name == from)
          val toExisting = remaining.find(_.name == to)
          val toDt = toExisting match {
            case Some(f) => unifySameKind(fromDt, f.dataType)
              .getOrElse(bail("rename target kind differs from source"))
            case None => fromDt
          }
          val outFields =
            if (toExisting.isDefined)
              remaining.map(f => if (f.name == to) StructField(to, toDt) else f)
            else remaining :+ StructField(to, toDt)
          val outT = StructType(outFields)
          val fromC = c.getField(from)
          val toVal = when(fromC.isNotNull, fromC.cast(toDt)).otherwise(
            if (toExisting.isDefined) c.getField(to).cast(toDt)
            else lit(null).cast(toDt))
          (struct(outFields.toIndexedSeq.map { f =>
            (if (f.name == to) toVal else c.getField(f.name)).as(f.name)
          }: _*), Some(outT): Option[DataType])
        }
      case "flatten_keys" if args.isEmpty =>
        // dotted leaf keys in DFS pre-order (Builtins.scala:668):
        // static schema walk, getField chains are null-safe so a null
        // intermediate yields null leaves (≡ absent through the bridge)
        val ls = flattenLeaves(st)
        if (ls.isEmpty) bail("flatten_keys: no leaf fields")
        (struct(ls.map { case (n, path, _) =>
          path.foldLeft(c)(_.getField(_)).as(n)
        }: _*),
          Some(StructType(ls.map { case (n, _, d2) => StructField(n, d2) })))
      case "unflatten_keys" if args.isEmpty =>
        // setPath fold over the dotted field names (Builtins.scala:677)
        // built as a segment TRIE: the interpreter folds only over the
        // bridged object's PRESENT keys, so a branch whose contributing
        // receiver fields are all null per row must come out null (the
        // keys were never written) — except the ROOT, which is always
        // the fold's (possibly empty) object. Prefix collisions (a
        // leaf name that is also another name's branch) re-order
        // through setPath coercion and stay doc-mode.
        val tr = unflattenTrie(st)
        def build(node: UnflatTrie, root: Boolean): (Column, DataType) = node match {
          case UnflatLeaf(field, d2) => (c.getField(field), d2)
          case UnflatBranch(children) =>
            val built = children.map { case (seg, n2) =>
              val (cc, d2) = build(n2, root = false)
              (seg, cc, d2)
            }
            val t = StructType(built.map { case (seg, _, d2) => StructField(seg, d2) })
            val s2 = struct(built.map { case (seg, cc, _) => cc.as(seg) }: _*)
            if (root) (s2, t)
            else {
              val contrib = node.leafFields.map(f => c.getField(f).isNull)
              (when(contrib.reduce(_ && _), lit(null).cast(t)).otherwise(s2), t)
            }
        }
        val (out, t) = build(tr, root = true)
        (out, Some(t))
      case other => bail(s"no struct-lane lowering for .$other()")
    }
  }

  /** Static return type of [[structObjMethod]], for chain typing. */
  private def structObjReturn(
      m: String, st: StructType, margs: Vector[Arg]): Option[DataType] = {
    def litName(a: Arg): Option[String] = a.e match {
      case Lit(JStr(s)) if a.name.isEmpty => Some(s)
      case Ident(n) if a.name.isEmpty     => Some(n)
      case _                              => None
    }
    try m match {
      case "keys" => Some(ArrayType(StringType))
      case "len" | "length" => Some(LongType)
      case "values" =>
        st.fields.map(_.dataType).foldLeft(Option.empty[DataType]) {
          case (None, d)    => Some(d)
          case (Some(a), d) => unifySameKind(a, d) match {
            case Some(u) => Some(u)
            case None    => return None
          }
        }.map(ArrayType(_, containsNull = true))
      case "entries" | "to_pairs" if st.fields.forall(_.dataType == StringType) =>
        Some(ArrayType(ArrayType(StringType, containsNull = true)))
      case "pick" if margs.nonEmpty =>
        val picked = margs.map(a => litName(a).getOrElse(return None))
        Some(StructType(picked.map(n =>
          st.find(_.name == n).getOrElse(StructField(n, StringType)))))
      case "omit" if margs.nonEmpty =>
        val dropped = margs.map(a => litName(a).getOrElse(return None)).toSet
        val kept = st.fields.filterNot(f => dropped(f.name))
        if (kept.isEmpty) None else Some(StructType(kept))
      case "defaults" if margs.length == 1 =>
        inferDt(margs(0).e) match {
          case Some(ys: StructType) => Some(mergeStructType(st, ys, deep = false))
          case _                    => None
        }
      case "invert" if st.fields.forall(f => atomicElem(f.dataType)) =>
        Some(MapType(StringType, StringType, valueContainsNull = true))
      case "filter_keys" | "filter_values" |
           "transform_keys" | "transform_values" if margs.length == 1 =>
        // zero-drift mirror: run the lowering on a dummy column and
        // keep only its reported type (columns are lazy, never analyzed)
        structObjMethod(m, lit(null).cast(st), st, margs)._2
      case "rename" if margs.length == 2 && !margs.exists(_.name.nonEmpty) =>
        for {
          from <- litName(margs(0))
          to   <- litName(margs(1))
          out  <- if (!st.fieldNames.contains(from)) Some(st)
                  else {
                    val fromDt = st(from).dataType
                    val remaining = st.fields.filterNot(_.name == from)
                    val toDt = remaining.find(_.name == to) match {
                      case Some(f) => unifySameKind(fromDt, f.dataType)
                      case None    => Some(fromDt)
                    }
                    toDt.map { d =>
                      StructType(
                        if (remaining.exists(_.name == to))
                          remaining.map(f =>
                            if (f.name == to) StructField(to, d) else f)
                        else remaining :+ StructField(to, d))
                    }
                  }
        } yield out
      case "flatten_keys" if margs.isEmpty =>
        val ls = flattenLeaves(st)
        if (ls.isEmpty) None
        else Some(StructType(ls.map { case (n, _, d2) => StructField(n, d2) }))
      case "unflatten_keys" if margs.isEmpty =>
        def ty(n: UnflatTrie): DataType = n match {
          case UnflatLeaf(_, d)  => d
          case UnflatBranch(cs) =>
            StructType(cs.map { case (s2, c2) => StructField(s2, ty(c2)) })
        }
        Some(ty(unflattenTrie(st))).collect { case t: StructType => t }
      case _ => None
    } catch { case _: LowerException => None }
  }

  /** Shapes whose Spark `to_json` text is byte-identical to the
    * interpreter's render of the bridged document: integral/string/
    * bool leaves (longs render the same both sides), structs (null
    * fields omitted — the bridge rule — by jsonGenerator default),
    * arrays and string-keyed maps (null entries kept, both sides).
    * Fractional (shortest-form vs Jackson 1.0), dates, and binary
    * render differently and stay doc-mode. */
  private def jsonSafeShape(d: DataType): Boolean = d match {
    case LongType | IntegerType | ShortType | ByteType |
         StringType | BooleanType => true
    case s2: StructType            => s2.fields.forall(f => jsonSafeShape(f.dataType))
    case ArrayType(e, _)           => jsonSafeShape(e)
    case MapType(StringType, v, _) => jsonSafeShape(v)
    case _                         => false
  }

  /** Re-shape a value of type `from` into the (super)shape `to`: struct
    * fields missing from the source read null (≡ absent through the
    * bridge), common fields re-shape recursively, scalar kinds cast. A
    * null struct node stays null. */
  private def asShape(c: Column, from: DataType, to: DataType): Column =
    if (from == to) c
    else (from, to) match {
      case (f: StructType, t: StructType) =>
        when(c.isNull, lit(null).cast(t)).otherwise(
          struct(t.fields.toIndexedSeq.map { tf =>
            (f.find(_.name == tf.name) match {
              case Some(ff) => asShape(c.getField(tf.name), ff.dataType, tf.dataType)
              case None     => lit(null).cast(tf.dataType)
            }).as(tf.name)
          }: _*))
      case (MapType(kf, vf, _), mt @ MapType(kt, vt2, _)) if kf == kt =>
        // Spark's Cast on nested structs is positional, so map values
        // re-shape per entry instead (field-by-NAME, appended = null)
        when(c.isNull, lit(null).cast(mt)).otherwise(
          transform_values(c, (_, v) => asShape(v, vf, vt2)))
      case _ => c.cast(to)
    }

  /** merge/deep_merge of two NON-NULL struct values of shapes x and y
    * into [[Lower.mergeStructType]](x, y, deep): per common field, the
    * arg side wins when present (null ≡ absent through the bridge);
    * `deep` recurses on struct+struct pairs where both sides are
    * present (Builtins.deepMerge's (JObj, JObj) case). Callers guard
    * whole-value nullness (the rules differ: merge coerces null to {},
    * deep_merge lets a null arg win wholesale). */
  private def mergeStructCol(
      a: Column, b: Column, x: StructType, y: StructType,
      deep: Boolean): Column = {
    val out = mergeStructType(x, y, deep)
    struct(out.fields.toIndexedSeq.map { f =>
      val xf = x.find(_.name == f.name)
      val yf = y.find(_.name == f.name)
      ((xf, yf) match {
        case (Some(ff), None) =>
          asShape(a.getField(f.name), ff.dataType, f.dataType)
        case (None, Some(gf)) =>
          asShape(b.getField(f.name), gf.dataType, f.dataType)
        case (Some(ff), Some(gf)) =>
          val xc = a.getField(f.name)
          val yc = b.getField(f.name)
          (ff.dataType, gf.dataType) match {
            case (xs: StructType, ys: StructType) if deep =>
              val t = f.dataType.asInstanceOf[StructType]
              when(yc.isNull, asShape(xc, xs, t))
                .when(xc.isNull, asShape(yc, ys, t))
                .otherwise(mergeStructCol(xc, yc, xs, ys, deep))
            case (xm: MapType, ym: MapType) if deep =>
              // a null struct FIELD ≡ absent key (bridge): no collision
              when(yc.isNull, asShape(xc, xm, f.dataType))
                .when(xc.isNull, asShape(yc, ym, f.dataType))
                .otherwise(deepMergeMapCol(xc, yc, xm, ym))
            case (xd, yd) =>
              when(yc.isNull, asShape(xc, xd, f.dataType))
                .otherwise(asShape(yc, yd, f.dataType))
          }
        case (None, None) => bail("unreachable merge field")
      }).as(f.name)
    }: _*)
  }

  /** deepMerge of two NON-NULL string-keyed map values (round 11):
    * x's entries in order — collisions merge per [[Lower.deepMergeType]]
    * (struct/map values recurse, anything else takes `other` wholesale,
    * a PRESENT-null y entry nulls the key: unlike struct fields, map
    * entries do NOT bridge null to absent) — then y-only entries append
    * in y's order (VectorMap `++`). Callers guard whole-value nullness
    * (deepMerge's null rules live one level up). */
  private def deepMergeMapCol(
      a0: Column, b0: Column, ma: MapType, mb: MapType): Column = {
    val va = ma.valueType
    val vb = mb.valueType
    val u = Lower.deepMergeType(va, vb)
      .getOrElse(bail("deep_merge over mixed map value shapes — doc mode"))
    def entryOf2(k: Column, v: Column): Column =
      struct(k.as("key"), v.as("value"))
    def valMerge(xv: Column, yv: Column): Column = (va, vb) match {
      case (sa: StructType, sb: StructType) =>
        when(yv.isNull, lit(null).cast(u))
          .when(xv.isNull, asShape(yv, sb, u))
          .otherwise(mergeStructCol(xv, yv, sa, sb, deep = true))
      case (xm: MapType, ym: MapType) =>
        when(yv.isNull, lit(null).cast(u))
          .when(xv.isNull, asShape(yv, ym, u))
          .otherwise(deepMergeMapCol(xv, yv, xm, ym))
      case _ => yv.cast(u) // non-object collision: other wins (null too)
    }
    letRow(Seq(a0, b0)) { case Seq(aa, oo) =>
      map_from_entries(concat(
        transform(map_entries(aa), e =>
          entryOf2(e.getField("key"),
            when(!map_contains_key(oo, e.getField("key")),
              asShape(e.getField("value"), va, u))
              .otherwise(letRow(Seq(e.getField("value"),
                  element_at(oo, e.getField("key")))) {
                case Seq(xv, yv) => valMerge(xv, yv)
              }))),
        transform(filter(map_entries(oo),
            e => !map_contains_key(aa, e.getField("key"))),
          e => entryOf2(e.getField("key"), asShape(e.getField("value"), vb, u)))))
    }
  }

  /** `merge`/`deep_merge` over a STRUCT receiver with statically
    * struct-shaped args (object literals, struct columns): a schema-
    * directed fold of [[mergeStructCol]]. Null rules differ
    * (Builtins.scala:602-605): merge coerces null sides to {} (objOnly
    * — a null arg keeps the accumulator, a null accumulator takes the
    * arg's entries), while deep_merge's `(_, other) => other` lets a
    * null ARG win wholesale and a null accumulator take the arg
    * verbatim. Non-struct args stay doc-mode (scalar args would
    * replace the whole value — a per-row kind flip no static lane
    * holds). */
  private def structMergeMethod(
      m: String, c: Column, st: StructType,
      args: Vector[Arg]): (Column, DataType) = {
    val deep = m == "deep_merge"
    if (args.isEmpty) bail(s"$m needs at least one argument")
    var acc = c
    var accT = st
    args.foreach { a =>
      val ys = inferDt(a.e) match {
        case Some(s: StructType) => s
        case Some(o) => bail(s"$m over a ${o.simpleString} arg — doc mode")
        case None    => bail(s"$m arg type unknown")
      }
      val t = mergeStructType(accT, ys, deep)
      acc = letRow(Seq(acc, valueExpr(a.e))) { case Seq(aa, oo) =>
        val merged = mergeStructCol(aa, oo, accT, ys, deep)
        if (deep)
          when(oo.isNull, lit(null).cast(t))
            .when(aa.isNull, asShape(oo, ys, t))
            .otherwise(merged)
        else
          // objOnly coerces BOTH null sides to {} (Builtins.scala:602):
          // two nulls merge to an empty object, never null — emit the
          // non-null all-null-fields struct ({} through the bridge),
          // matching rename/defaults on null receivers
          when(aa.isNull && oo.isNull,
            struct(t.fields.toIndexedSeq.map(f =>
              lit(null).cast(f.dataType).as(f.name)): _*))
            .when(oo.isNull, asShape(aa, accT, t))
            .when(aa.isNull, asShape(oo, ys, t))
            .otherwise(merged)
      }
      accT = t
    }
    (acc, accT)
  }

  /** `set_path`/`del_path`/`del_paths` over STRUCT lanes (reference
    * builtins/ops/path.rs dotted-path surface; Builtins.setPath/delPath
    * are the conformance semantics): multi-segment LITERAL paths
    * compile to a guarded struct rebuild — the nested-write discipline
    * the patch compiler uses (patchTable withField chains), applied in
    * value position.
    *
    * Semantics run through the null-omitting struct document view (the
    * struct-`has` doctrine): a null field ≡ absent key, so
    *   - set_path coerces a null/non-object intermediate to {} by
    *     building the remaining write chain fresh (setPath's VectorMap
    *     coercion); existing keys update IN PLACE, new keys append at
    *     the END (VectorMap `+`); a null leaf VALUE reads back as an
    *     absent key through the bridge — same rule struct `has` pins;
    *   - del_path keeps the receiver unchanged when the walk dies
    *     statically (missing schema key / non-object intermediate) and
    *     keeps a null node null at every level (delPath's non-object
    *     identity);
    *   - del_paths folds del_path over a LITERAL path array in order.
    * Key-order caveat (StructPathSpec pins both halves): a typed lane
    * has ONE field order per schema, so when a written key is
    * null-bridged-to-absent in a ROW the interpreter re-appends it at
    * the end while the struct keeps schema position — per-row
    * reordering is unrepresentable columnar. On fully-defined rows the
    * orders agree exactly (in-place update / append-at-end).
    * Paths crossing a string-keyed MAP level lower too (round 11): the
    * literal segment rewrites the ONE entry and the lane's value type
    * widens when representable ([[setPathDeepType]]). Dynamic paths,
    * empty segments, and non-widenable map writes stay doc-mode. */
  private def structPathMethod(
      m: String, c: Column, st: StructType,
      args: Vector[Arg]): (Column, DataType) = {
    def segsOf(e: Expr): List[String] = e match {
      case Lit(JStr(p)) =>
        val segs = p.split('.').toList
        if (p.isEmpty || segs.exists(_.isEmpty))
          bail(s"$m path has empty segments: '$p'")
        segs
      case other => bail(s"$m lowers only literal paths: $other")
    }
    m match {
      case "set_path" =>
        if (args.length != 2) bail("set_path takes (path, value)")
        val segs = segsOf(argE(args, 0))
        val vdt = inferDt(argE(args, 1))
          .getOrElse(bail("set_path value type unknown"))
        val outT = setPathDeepType(Some(st), segs, vdt)
          .getOrElse(bail("set_path shape not statically representable — doc mode"))
        (setPathDeepCol(c, Some(st), segs, valueExpr(argE(args, 1)), vdt), outT)
      case "del_path" =>
        if (args.length != 1) bail("del_path takes (path)")
        delPathStructCol(c, st, segsOf(argE(args, 0)))
          .getOrElse((c, st): (Column, DataType))
      case "del_paths" =>
        if (args.length != 1) bail("del_paths takes (paths)")
        argE(args, 0) match {
          case ArrLit(elems) =>
            val paths = elems.map {
              case ArrElem.One(pe) => segsOf(pe)
              case other => bail(s"del_paths lowers only literal paths: $other")
            }
            paths.foldLeft((c, st: DataType)) { case ((cc, cdt), segs) =>
              cdt match {
                case cst: StructType =>
                  delPathStructCol(cc, cst, segs).getOrElse((cc, cdt))
                case _ => (cc, cdt)
              }
            }
          case other => bail(s"del_paths needs a literal path array: $other")
        }
    }
  }

  /** Column builder mirroring [[Lower.setPathDeepType]] level for
    * level. STRUCT nodes rebuild with the written field updated
    * in-place / appended; string-keyed MAP nodes (round 11) rewrite the
    * ONE addressed entry (in place when present, appended at the END
    * when missing — VectorMap `+`) while every untouched entry
    * re-shapes into the widened value type with nulls for appended
    * fields (≡ absent through the bridge). A null map node reads as {}
    * (setPath's non-object coercion), so the write lands in a
    * single-entry map. `vdt` is the static type of `v` (the type walk
    * re-derives each node's widened shape from it). */
  private def setPathDeepCol(
      c: Column, recvDt: Option[DataType], segs: List[String],
      v: Column, vdt: DataType): Column = {
    val k = segs.head
    recvDt match {
      case Some(mt: MapType) =>
        val xs = mt.valueType
        val z: DataType = segs.tail match {
          case Nil  => unifySameKind(xs, vdt).get
          case rest => setPathDeepType(Some(xs), rest, vdt).get
        }
        val m0 = coalesce(c, map().cast(
          MapType(StringType, xs, valueContainsNull = true)))
        val kLit = lit(k)
        def entryOf2(key: Column, value: Column): Column =
          struct(key.as("key"), value.as("value"))
        letRow(Seq(m0, v)) { case Seq(aa, vv) =>
          def written(old: Column): Column = segs.tail match {
            case Nil  => vv.cast(z)
            case rest => setPathDeepCol(old, Some(xs), rest, vv, vdt)
          }
          // a MISSING entry coerces to {} (setPath's fs.getOrElse(k,
          // JNull)); through the bridge that is a null value of the
          // existing entry shape, so the fresh chain is just `written`
          // over a null node — nested maps/structs keep their lanes
          def fresh: Column = written(lit(null).cast(xs))
          when(map_contains_key(aa, kLit),
            map_from_entries(transform(map_entries(aa), e =>
              entryOf2(e.getField("key"),
                when(e.getField("key") === kLit, written(e.getField("value")))
                  .otherwise(asShape(e.getField("value"), xs, z))))))
            .otherwise(map_concat(
              map_from_entries(transform(map_entries(aa), e =>
                entryOf2(e.getField("key"), asShape(e.getField("value"), xs, z)))),
              map_from_arrays(array(kLit), array(fresh))))
        }
      case _ =>
        val fields = recvDt match {
          case Some(s: StructType) => s.fields.toVector
          case _                   => Vector.empty[StructField]
        }
        val childDt = fields.find(_.name == k).map(_.dataType)
        val nc: Column = segs.tail match {
          case Nil  => v
          case rest =>
            val childCol = if (childDt.isDefined) c.getField(k) else lit(null)
            setPathDeepCol(childCol, childDt, rest, v, vdt)
        }
        val names =
          if (fields.exists(_.name == k)) fields.map(_.name)
          else fields.map(_.name) :+ k
        struct(names.map(n => (if (n == k) nc else c.getField(n)).as(n)): _*)
    }
  }

  

  

  /** Column builder mirroring [[Lower.delPathStructType]]: None =
    * provable identity (caller keeps the receiver). A null node stays
    * null at every level — delPath's non-object identity. Struct
    * levels drop the field from the schema; a MAP crossing hands the
    * remaining walk to the type-preserving [[delDeepTP]]. */
  private def delPathStructCol(
      c: Column, st: StructType, segs: List[String]): Option[(Column, DataType)] =
    delPathStructType(st, segs).map { outT =>
      def build(cc: Column, cur: StructType, ot: StructType, ss: List[String]): Column = {
        val k = ss.head
        when(cc.isNull, lit(null).cast(ot)).otherwise(
          struct(ot.fields.toIndexedSeq.map { f =>
            (if (f.name == k && ss.tail.nonEmpty)
               cur(k).dataType match {
                 case inner: StructType =>
                   build(cc.getField(k), inner,
                     f.dataType.asInstanceOf[StructType], ss.tail)
                 case mt: MapType =>
                   delDeepTP(mt, ss.tail).get.apply(cc.getField(k))
                 case _ => cc.getField(f.name) // unreachable: type walk guards
               }
             else cc.getField(f.name)).as(f.name)
          }: _*))
      }
      (letRow1(c)(cc => build(cc, st, outT, segs)), outT: DataType)
    }

  /** Object-builtin lane over `map<string, V>` columns — the map
    * analogue of [[arrayMethod]] (reference object ops, O:collection.rs
    * 648-745; interpreter Builtins.scala:580-650). Order rules are the
    * interpreter's VectorMap rules over the map's STORED entry order
    * (parquet/from_json keep parse order — the q_lower_deep_map
    * contract): filters/transforms keep positions, merge updates
    * in place and appends new keys, rename(old,new) moves the renamed
    * key to the end unless `new` already exists. A null receiver reads
    * as {} (objOnly, Builtins:74-78) except `len`, which returns the
    * receiver unchanged (null). */
  private def mapMethod(
      name: String, c: Column, mt: MapType,
      args: Vector[Arg]): (Column, Option[DataType]) = {
    if (mt.keyType != StringType)
      bail(s"object ops need string keys, got ${mt.keyType.simpleString}")
    val vt = mt.valueType
    def nzm(x: Column, t: MapType): Column =
      coalesce(x, map().cast(MapType(t.keyType, t.valueType, valueContainsNull = true)))
    val m0 = nzm(c, mt)
    def vBody(i: Int): EBody =
      new EBody(ArrayType(vt, containsNull = true),
        if (i < args.length) args(i).e else Current)
    def kBody(i: Int): EBody =
      new EBody(ArrayType(StringType),
        if (i < args.length) args(i).e else Current)
    /** An argument that must itself be an object: a string-keyed map,
      * or a struct (e.g. an object LITERAL, which lowers as one) whose
      * fields convert to entries in declaration order. Returns the
      * column as a map cast to the value type u-unified with vt. */
    def mapArg(i: Int): (Column, DataType) = {
      val e = argE(args, i)
      inferDt(e) match {
        case Some(o @ MapType(StringType, ov, _)) =>
          val u = unifySameKind(vt, ov)
            .getOrElse(bail(s"$name pairs mixed value kinds"))
          (nzm(colExpr(e), o).cast(MapType(StringType, u, valueContainsNull = true)), u)
        case Some(st: StructType) =>
          val u = st.fields.map(_.dataType).foldLeft(vt) { (acc, d) =>
            unifySameKind(acc, d).getOrElse(bail(s"$name pairs mixed value kinds"))
          }
          val sc = colExpr(e)
          val entries = st.fieldNames.map(f =>
            struct(lit(f).as("key"), sc.getField(f).cast(u).as("value")))
          // a null struct reads as {} (objOnly)
          (when(sc.isNull, map().cast(MapType(StringType, u, valueContainsNull = true)))
            .otherwise(map_from_entries(array(entries: _*))), u)
        case Some(o) => bail(s"$name needs an object arg, got ${o.simpleString}")
        case None    => bail(s"$name arg type unknown")
      }
    }
    def outMap(v: DataType) = MapType(StringType, v, valueContainsNull = true)
    def entryOf(k: Column, v: Column): Column =
      struct(k.as("key"), v.as("value"))

    /** Like [[mapArg]] but WITHOUT the null→{} read: returns the map
      * column (meaningful only off the null branch), the unified value
      * type, and the arg's own null test — deep_merge's null rule
      * needs the raw nullness. */
    def mapArgRaw(i: Int): (Column, DataType, Column) = {
      val e = argE(args, i)
      inferDt(e) match {
        case Some(o @ MapType(StringType, ov, _)) =>
          val u = unifySameKind(vt, ov)
            .getOrElse(bail(s"$name pairs mixed value kinds"))
          val cc = colExpr(e)
          (cc.cast(MapType(StringType, u, valueContainsNull = true)), u, cc.isNull)
        case Some(st: StructType) =>
          val u = st.fields.map(_.dataType).foldLeft(vt) { (acc, d) =>
            unifySameKind(acc, d).getOrElse(bail(s"$name pairs mixed value kinds"))
          }
          val sc = colExpr(e)
          val entries = st.fieldNames.map(f =>
            struct(lit(f).as("key"), sc.getField(f).cast(u).as("value")))
          (map_from_entries(array(entries: _*)), u, sc.isNull)
        case Some(o) => bail(s"$name needs an object arg, got ${o.simpleString}")
        case None    => bail(s"$name arg type unknown")
      }
    }

    /** VectorMap `++`: existing keys update IN PLACE, new keys append
      * in the right side's order. Both sides non-null maps of the same
      * value type. */
    def mergeInPlace(a: Column, o: Column): Column =
      letRow(Seq(a, o)) { case Seq(aa, oo) =>
        map_from_entries(concat(
          transform(map_entries(aa), e =>
            entryOf(e.getField("key"),
              when(map_contains_key(oo, e.getField("key")),
                element_at(oo, e.getField("key")))
                .otherwise(e.getField("value")))),
          filter(map_entries(oo),
            e => !map_contains_key(aa, e.getField("key")))))
      }

    name match {
      case "keys" =>
        (map_keys(m0), Some(ArrayType(StringType)))
      case "values" =>
        (map_values(m0), Some(ArrayType(vt, containsNull = true)))
      case "len" | "length" => // null receiver: len keeps it (null), not 0
        (size(c).cast("long"), Some(LongType))
      case "entries" | "to_pairs" =>
        // the interpreter's pair is [JStr(k), v] — a heterogeneous
        // array unless the values are strings too
        if (vt != StringType) bail("entries pairs are heterogeneous off string maps")
        (transform(map_entries(m0),
          e => array(e.getField("key"), e.getField("value"))),
          Some(ArrayType(ArrayType(StringType, containsNull = true))))
      case "filter_keys" =>
        val b = kBody(0)
        (map_filter(m0, (k, _) => b.predStrict(k)), Some(outMap(vt)))
      case "filter_values" =>
        val b = vBody(0)
        (map_filter(m0, (_, v) => b.predStrict(v)), Some(outMap(vt)))
      case "transform_values" =>
        val b = vBody(0)
        val bdt = b.dt.getOrElse(bail("transform_values body type unknown"))
        (transform_values(m0, (_, v) => b(v)), Some(outMap(bdt)))
      case "transform_keys" =>
        // new key = keyStr(f(k)) — the DISPLAY of the body's value —
        // and duplicate keys collapse first-position-last-value
        val b = kBody(0)
        val bdt = b.dt.getOrElse(bail("transform_keys body type unknown"))
        if (!atomicElem(bdt)) bail("transform_keys body must be atomic (val_to_key)")
        (map_from_entries(dedupEntriesFPLV(
          transform(map_entries(m0),
            e => entryOf(keyOf(b(e.getField("key")), bdt), e.getField("value"))))),
          Some(outMap(vt)))
      case "merge" =>
        // acc ++ obj per arg: existing keys update IN PLACE, new keys
        // append in the arg's order (VectorMap ++)
        var acc = m0
        var accV: DataType = vt
        args.indices.foreach { i =>
          val (o, u) = mapArg(i)
          val a = acc.cast(MapType(StringType, u, valueContainsNull = true))
          acc = mergeInPlace(a, o)
          accV = u
        }
        (acc, Some(outMap(accV)))
      case "deep_merge" =>
        // deepMerge recurses on (object, object) collisions
        // (Builtins.deepMerge:110); static shapes make the recursion
        // schema-directed to the TYPE's depth (rounds 10-11): struct
        // AND map values recurse via deepMergeMapCol/mergeStructCol,
        // non-object collisions take `other` wholesale. Null rules are
        // deepMerge's: a null ARG wins wholesale (result null), a null
        // acc takes the arg verbatim, and a PRESENT-null value at a
        // colliding key follows `(_, other) => other`. Only mixed
        // struct-vs-map collisions and non-unifiable kinds stay
        // doc-mode ([[Lower.deepMergeType]] bails).
        var accC: Column = c
        var accM: MapType = mt
        args.indices.foreach { i =>
          val e = argE(args, i)
          val (o, om, oNull) = inferDt(e) match {
            case Some(m2 @ MapType(StringType, _, _)) =>
              val cc = colExpr(e)
              (cc, m2, cc.isNull)
            case Some(st2: StructType) =>
              // object literal / struct column arg: fields are keys;
              // one value shape only (a map lane holds one value type)
              val vshape = st2.fields.map(_.dataType).distinct.toSeq match {
                case Seq(one) => one
                case _        => bail("deep_merge struct arg mixes value shapes")
              }
              val sc = colExpr(e)
              val entries = st2.fieldNames.map(f =>
                struct(lit(f).as("key"), sc.getField(f).as("value")))
              (map_from_entries(array(entries.toIndexedSeq: _*)),
                MapType(StringType, vshape, valueContainsNull = true), sc.isNull)
            case Some(o2) => bail(s"deep_merge needs an object arg, got ${o2.simpleString}")
            case None     => bail("deep_merge arg type unknown")
          }
          val t = Lower.deepMergeType(accM, om)
            .getOrElse(bail("deep_merge value shapes don't merge statically — doc mode"))
            .asInstanceOf[MapType]
          val prevC = accC
          val prevM = accM
          accC = when(oNull, lit(null).cast(t))
            .when(prevC.isNull, asShape(o, om, t))
            .otherwise(deepMergeMapCol(prevC, o, prevM, om))
          accM = t
        }
        (accC, Some(accM))
      case "defaults" => // fill only MISSING keys, appended in d's order
        val (d, u) = mapArg(0)
        val a = m0.cast(MapType(StringType, u, valueContainsNull = true))
        (letRow(Seq(a, d)) { case Seq(aa, dd) =>
          map_from_entries(concat(map_entries(aa),
            filter(map_entries(dd),
              e => !map_contains_key(aa, e.getField("key")))))
        }, Some(outMap(u)))
      case "invert" => // value's display becomes the key (val_to_key)
        if (!atomicElem(vt)) bail("invert values must be atomic (val_to_key)")
        (map_from_entries(dedupEntriesFPLV(
          transform(map_entries(m0),
            e => entryOf(keyOf(e.getField("value"), vt), e.getField("key"))))),
          Some(outMap(StringType)))
      case "set" if args.length == 2 =>
        // fs + (k -> v): update in place when present, else append
        val kDt = inferDt(argE(args, 0)).getOrElse(bail("set key type unknown"))
        if (!atomicElem(kDt)) bail("set key must be atomic")
        val vDt = inferDt(argE(args, 1)).getOrElse(bail("set value type unknown"))
        val u = unifySameKind(vt, vDt).getOrElse(bail("set value kind differs from lane"))
        val a = m0.cast(MapType(StringType, u, valueContainsNull = true))
        (letRow(Seq(a, keyOf(colExpr(argE(args, 0)), kDt),
            colExpr(argE(args, 1)).cast(u))) { case Seq(aa, k, v) =>
          when(map_contains_key(aa, k),
            map_from_entries(transform(map_entries(aa), e =>
              entryOf(e.getField("key"),
                when(e.getField("key") === k, v).otherwise(e.getField("value"))))))
            .otherwise(map_concat(aa, map_from_arrays(array(k), array(v))))
        }, Some(outMap(u)))
      case "update" if args.length == 2 =>
        // fs + (k -> f(fs.getOrElse(k, null))), same position rule
        val kDt = inferDt(argE(args, 0)).getOrElse(bail("update key type unknown"))
        if (!atomicElem(kDt)) bail("update key must be atomic")
        val b = new EBody(ArrayType(vt, containsNull = true), args(1).e)
        val bdt = b.dt.getOrElse(bail("update body type unknown"))
        val u = unifySameKind(vt, bdt).getOrElse(bail("update body kind differs from lane"))
        val a = m0.cast(MapType(StringType, u, valueContainsNull = true))
        (letRow(Seq(a, keyOf(colExpr(argE(args, 0)), kDt))) { case Seq(aa, k) =>
          letRow1(b(when(map_contains_key(aa, k), element_at(aa, k)).cast(vt))
              .cast(u)) { v =>
            when(map_contains_key(aa, k),
              map_from_entries(transform(map_entries(aa), e =>
                entryOf(e.getField("key"),
                  when(e.getField("key") === k, v).otherwise(e.getField("value"))))))
              .otherwise(map_concat(aa, map_from_arrays(array(k), array(v))))
          }
        }, Some(outMap(u)))
      case "has" | "missing" =>
        // key membership (Builtins.membership JObj case): a string key
        // tests presence — a null-VALUED entry still counts — and any
        // non-string item is false; a null receiver reads as {} and a
        // null key yields false, so membership never returns null
        val posi = inferDt(argE(args, 0)) match {
          case Some(StringType) =>
            coalesce(map_contains_key(m0, colExpr(argE(args, 0))), lit(false))
          case Some(_) => lit(false)
          case None    => bail(s"$name key type unknown")
        }
        (if (name == "missing") !posi else posi, Some(BooleanType))
      case "includes" | "contains" =>
        // same membership, EXCEPT the dispatch guard (Builtins:566) only
        // fires for array/object receivers — a null receiver falls
        // through to the string builtins, which keep a non-string
        // receiver unchanged: null in, null out
        val posi = inferDt(argE(args, 0)) match {
          case Some(StringType) =>
            when(c.isNotNull,
              coalesce(map_contains_key(c, colExpr(argE(args, 0))), lit(false)))
          case Some(_) => when(c.isNotNull, lit(false))
          case None    => bail(s"$name key type unknown")
        }
        (posi, Some(BooleanType))
      case "to_json" | "to_string" if args.isEmpty =>
        // recv.render (display(JObj) is render too); null renders the
        // TEXT "null". Spark's to_json keeps null MAP entries (only
        // struct fields honor ignoreNullFields — RowBridge.scala:17)
        // and escapes like JValue.writeString; fractional lanes are
        // excluded (shortest-form render vs Jackson's 1.0)
        if (!jsonSafeShape(vt))
          bail(s"$name lowers only integral/string/bool map shapes")
        (when(c.isNull, lit("null")).otherwise(to_json(c)), Some(StringType))
      case "pick" | "omit" =>
        // pick: JObj of the named keys in ARG order — a miss reads
        // null (Builtins.pick fieldOf), a NULL receiver stays null
        // (the JNull dispatch row). omit: entry filter — a null
        // receiver returns unchanged (the non-object row). Aliased or
        // computed selectors stay doc-mode.
        if (args.isEmpty) bail(s"$name needs key names")
        val names = args.map { a => a.e match {
          case Lit(JStr(s)) if a.name.isEmpty => s
          case Ident(n) if a.name.isEmpty     => n
          case other => bail(s"$name needs literal key names, got $other")
        }}
        if (name == "pick")
          // distinct: duplicate selectors collapse in the interpreter's
          // VectorMap (same value), while map_from_entries would throw
          (when(c.isNull, lit(null).cast(outMap(vt))).otherwise(
            map_from_entries(array(names.distinct.map(n =>
              entryOf(lit(n), element_at(c, lit(n)))): _*))),
            Some(outMap(vt)))
        else
          (map_from_entries(filter(map_entries(c),
            e => !names.map(n => e.getField("key") === lit(n))
              .foldLeft(lit(false))(_ || _))), Some(outMap(vt)))
      case "set_path" if args.length == 2 =>
        // a one-segment literal path is exactly set(k, v) — setPath's
        // VectorMap `+` (create-on-null, in-place-or-append). Deeper
        // literal paths (rounds 10-11) run the generalized deep-write
        // machinery: the addressed entry updates in place (or appends
        // fresh when missing — setPath's fs.getOrElse(k, JNull)
        // coercion), every other entry re-shapes into the widened
        // value type with nulls for appended fields (≡ absent through
        // the bridge), and the walk may continue through FURTHER
        // struct and string-keyed map levels. Writes that re-kind a
        // shared field stay doc-mode ([[setPathDeepType]] bails).
        argE(args, 0) match {
          case Lit(JStr(p)) if !p.contains('.') =>
            mapMethod("set", c, mt, Vector(Arg(None, Lit(JStr(p))), args(1)))
          case Lit(JStr(p)) if p.nonEmpty && !p.split('.').exists(_.isEmpty) =>
            val segs = p.split('.').toList
            val vdt = inferDt(argE(args, 1))
              .getOrElse(bail("set_path value type unknown"))
            val z = setPathDeepType(Some(mt), segs, vdt)
              .getOrElse(bail("set_path shape not statically representable — doc mode"))
            (setPathDeepCol(c, Some(mt), segs, valueExpr(argE(args, 1)), vdt),
              Some(z))
          case other => bail(s"set_path lowers only literal paths: $other")
        }
      case "del_path" if args.length == 1 =>
        // JObj(fs - k); a NULL receiver returns unchanged (delPath's
        // non-object case keeps the value) — so no null→{} read here.
        // Deeper literal paths (rounds 10-11) run the generalized
        // type-preserving delete: map entries FILTER at the leaf,
        // struct leaves NULL out inside the shared value shape
        // (≡ absent through the bridge), and the walk crosses further
        // struct/map levels; a walk that statically dies is delPath's
        // identity. Dynamic paths stay doc-mode.
        argE(args, 0) match {
          case Lit(JStr(p)) if p.nonEmpty && !p.split('.').exists(_.isEmpty) =>
            (delDeepTP(mt, p.split('.').toList)
              .map(b => b(c)).getOrElse(c), Some(outMap(vt)))
          case other => bail(s"del_path lowers only literal paths: $other")
        }
      case "del_paths" if args.length == 1 =>
        // fold of del_path over a LITERAL path array, in order
        argE(args, 0) match {
          case ArrLit(elems) =>
            val ps = elems.map {
              case graft.jexpr.Expr.ArrElem.One(Lit(JStr(p)))
                  if p.nonEmpty && !p.split('.').exists(_.isEmpty) =>
                p.split('.').toList
              case other => bail(s"del_paths lowers only literal paths: $other")
            }
            (ps.foldLeft(c) { (cc, segs) =>
              delDeepTP(mt, segs).map(b => b(cc)).getOrElse(cc)
            }, Some(outMap(vt)))
          case other => bail(s"del_paths needs a literal path array: $other")
        }
      case "rename" => // positional rename(old, new) only
        if (args.length != 2 || args.exists(_.name.nonEmpty))
          bail("only rename(old, new) lowers")
        val from = strLit(args, 0, ""); val to = strLit(args, 1, "")
        (letRow1(m0) { aa =>
          when(!map_contains_key(aa, lit(from)), aa).otherwise(
            // branch is lazy, so the unguarded element_at cannot see a
            // missing key; the letRow binds evaluate inside it
            letRow(Seq(element_at(aa, lit(from)),
              filter(map_entries(aa), e => e.getField("key") =!= from))) {
              case Seq(v, rem) =>
                // (fs - from) + (to -> v): in-place when `to` survives
                // the removal, else append at the END
                when(exists(rem, e => e.getField("key") === to),
                  map_from_entries(transform(rem, e =>
                    entryOf(e.getField("key"),
                      when(e.getField("key") === to, v)
                        .otherwise(e.getField("value"))))))
                  .otherwise(map_from_entries(concat(rem,
                    array(entryOf(lit(to), v)))))
            })
        }, Some(outMap(vt)))
      case other => bail(s"no columnar object lowering for .$other()")
    }
  }

  /** Static return type of a map-lane method, for chain typing. */
  private def mapMethodReturn(m: String, mt: MapType): Option[DataType] = m match {
    case "keys"                         => Some(ArrayType(StringType))
    case "values"                       => Some(ArrayType(mt.valueType, containsNull = true))
    case "len" | "length"               => Some(LongType)
    case "has" | "missing" | "includes" | "contains" => Some(BooleanType)
    case "to_json" | "to_string"        => Some(StringType)
    case "entries" | "to_pairs"         =>
      Some(ArrayType(ArrayType(StringType, containsNull = true)))
    case "filter_keys" | "filter_values" | "transform_keys" | "rename" |
         "del_path" | "del_paths" | "pick" | "omit" =>
      Some(MapType(StringType, mt.valueType, valueContainsNull = true))
    case "invert"                       =>
      Some(MapType(StringType, StringType, valueContainsNull = true))
    // transform_values/merge/defaults/set/update: body- or arg-typed
    case _                              => None
  }

  /** JValue.eq (JValue.scala:65-77) against the evaluated argument:
    * cross-kind numeric compares by value; NaN ≠ NaN (Spark's <=> says
    * true — probed — so fractional lanes guard isnan); kind mismatch is
    * statically never equal. Returns the target VALUE to letRow-bind
    * (the test runs inside filter/transform lambdas, where an unbound
    * derived target would re-evaluate per element) and the test over
    * (element, boundTarget). */
  private def eqBinding(elem: DataType,
                        args: Vector[Arg]): (Column, (Column, Column) => Column) =
    if (args.isEmpty) // eq with the missing-arg null
      (lit(null).cast("string"), (x, _) => x.isNull)
    else {
      val e = argE(args, 0)
      val ad = inferDt(e).getOrElse(bail("equality arg type unknown"))
      def guarded(x: Column, tc: Column, frac: Boolean): Column =
        if (frac) (x <=> tc) && !coalesce(isnan(x), lit(false))
        else x <=> tc
      if (elem == ad)
        (colExpr(e), (x, t) => guarded(x, t, fractionalDt(elem)))
      else if (numericDt(elem) && numericDt(ad)) {
        val frac = fractionalDt(elem) || fractionalDt(ad)
        (colExpr(e).cast("double"), (x, t) => guarded(x.cast("double"), t, frac))
      } else (colExpr(e), (_, _) => lit(false)) // kind mismatch never matches
    }

  

  /** Static Spark type of a row-scope expression, when derivable. Used
    * for array-op decisions (sum zero typing, flat_map shape, map result
    * lanes) — the KIND must be right; exact width may differ from the
    * analyzer's (e.g. int vs long), which only ever widens. */
  private[Lower] def inferDt(e: Expr): Option[DataType] = e match {
    case Lit(JInt(_))   => Some(LongType)
    case Lit(JFloat(_)) => Some(DoubleType)
    case Lit(JStr(_))   => Some(StringType)
    case Lit(JBool(_))  => Some(BooleanType)
    case Current        => currentDt
    case Ident(n)       => identDt(n)
    case Unary("-", x)  => inferDt(x)
    case Unary("not", _) => Some(BooleanType)
    case Binary(op, l, r) => op match {
      case "==" | "!=" | "<" | "<=" | ">" | ">=" | "and" | "~=" | "has" =>
        Some(BooleanType)
      case "or" => // value-preserving (ColLower.binop)
        (inferDt(l), inferDt(r)) match {
          case (Some(BooleanType), Some(BooleanType)) => Some(BooleanType)
          case (Some(a), Some(b)) if a == b           => Some(a)
          case _                                      => None
        }
      case "/" => Some(DoubleType) // jetro float division
      case "+" | "-" | "*" | "%" =>
        (inferDt(l), inferDt(r)) match {
          case (Some(a), Some(b)) if integralDt(a) && integralDt(b) => Some(LongType)
          case (Some(a), Some(b)) if numericDt(a) && numericDt(b)   => Some(DoubleType)
          // `+` is also string/array concat (colExpr's concat lanes) —
          // without this, a NESTED concat ((lit + col) + lit) loses its
          // lane and the outer + falls to the numeric add
          case (Some(StringType), Some(StringType)) if op == "+"    => Some(StringType)
          case (Some(a: ArrayType), Some(b: ArrayType))
            if op == "+" && a == b                                  => Some(a)
          case _                                                    => None
        }
      case "??" =>
        (inferDt(l), inferDt(r)) match {
          case (Some(a), Some(b)) if a == b => Some(a)
          case _                            => None
        }
      case _ => None
    }
    case IfElse(_, t, f) =>
      (inferDt(t), inferDt(f)) match {
        case (Some(a), Some(b)) if a == b => Some(a)
        case _                            => None
      }
    case TryElse(b, d) =>
      (inferDt(b), inferDt(d)) match {
        case (Some(a), Some(bb)) if a == bb => Some(a)
        case _                              => None
      }
    case Cast(_, to) => to match {
      case "int"              => Some(LongType)
      case "float" | "number" => Some(DoubleType)
      case "string"           => Some(StringType)
      case "bool"             => Some(BooleanType)
      case _                  => None
    }
    case FString(_)                 => Some(StringType)
    case GlobalCall("to_string", _) => Some(StringType)
    case GlobalCall("range", args) if args.nonEmpty && args.length <= 3 =>
      Some(ArrayType(LongType, containsNull = false))
    case GlobalCall("product", args) if args.length == 2 =>
      (inferDt(args(0).e), inferDt(args(1).e)) match {
        case (Some(a: ArrayType), Some(b: ArrayType)) =>
          unifySameKind(a.elementType, b.elementType)
            .map(u => ArrayType(ArrayType(u, containsNull = true)))
        case _ => None
      }
    case GlobalCall("chain" | "join", args) if args.nonEmpty =>
      val lanes = args.map(a => inferDt(a.e).map {
        case at: ArrayType => at.elementType
        case t             => t
      })
      if (lanes.exists(_.isEmpty)) None
      else lanes.flatten.reduceLeftOption[DataType] { (x, y) =>
        unifySameKind(x, y).getOrElse(return None)
      }.map(ArrayType(_, containsNull = true))
    // mirror the free-function rewrite so chains over global-call
    // receivers stay typed
    case GlobalCall(name, args)
        if !Set("coalesce", "chain", "join", "range",
                "product")(name) =>
      if (args.nonEmpty)
        inferDt(Chain(args.head.e, Vector(Step.Method(name, args.tail))))
      else inferDt(Chain(Current, Vector(Step.Method(name, Vector.empty))))
    case ObjLit(fields) =>
      val fs = fields.map {
        case ObjField.Short(n)                  => identDt(n).map(StructField(n, _))
        case ObjField.KV(Lit(JStr(k)), v, None) => inferDt(v).map(StructField(k, _))
        case ObjField.KV(Ident(k), v, None)     => inferDt(v).map(StructField(k, _))
        case _                                  => None
      }
      if (fs.forall(_.isDefined)) Some(StructType(fs.flatten)) else None
    case _ => dtOf(e)
  }

  /** Scalar builtins that map 1:1 onto codegen'd Spark functions
    * (SURVEY §2.8 table). */
  private def scalarFn(name: String, c: Column, args: Vector[Arg]): Column = {
    def a0 = colExpr(argE(args, 0))
    name match {
      case "upper"       => upper(c)
      case "lower"       => lower(c)
      // the trim family strips the Unicode White_Space set (Rust
      // str::trim, string.rs:152-168) — Spark's trim/ltrim/rtrim strip
      // the 0x20 space ONLY and would silently keep tabs/newlines.
      // \p{IsWhite_Space} is that exact property in Java regex.
      case "trim"        =>
        regexp_replace(c, "^[\\p{IsWhite_Space}]+|[\\p{IsWhite_Space}]+$", "")
      case "trim_left" | "lstrip"  =>
        regexp_replace(c, "^[\\p{IsWhite_Space}]+", "")
      case "trim_right" | "rstrip" =>
        regexp_replace(c, "[\\p{IsWhite_Space}]+$", "")
      // NOT initcap — that capitalizes every word; the reference
      // uppercases the first code point and lowercases the REST of the
      // whole string (string.rs:172-183, "hello world" → "Hello world")
      case "capitalize"  =>
        concat(upper(substring(c, 1, 1)), lower(substring(c, 2, Int.MaxValue)))
      case "reverse_str" => reverse(c)
      case "len" | "length" => length(c).cast("long")
      // UTF-8 byte count, NOT character count (Strings.scala:86) —
      // length() would silently diverge on non-ASCII text
      case "byte_len"       => octet_length(c).cast("long")
      case "abs"         => abs(c)
      case "ceil"        => ceil(c)
      case "floor"       => floor(c)
      case "round"       =>
        if (args.isEmpty) round(c) else round(c, intLit(args, 0).toInt)
      case "starts_with" => c.startsWith(a0)
      case "ends_with"   => c.endsWith(a0)
      case "includes" | "contains" => c.contains(a0)
      case "replace_all" =>
        // Spark's replace() no-ops on an empty needle, but the
        // reference (Rust str::replace, string.rs:100-115) inserts the
        // replacement at every CODE POINT boundary INCLUDING both ends
        // ("" → rep alone). Java regex's empty-pattern replaceAll is
        // NOT that — it matches between surrogate halves too (probed) —
        // so splice the code-point list from regexp_extract_all (Java
        // regex `.` IS code-point atomic) with the replacement.
        (argE(args, 0) match {
          case Lit(JStr("")) => Some(strLit(args, 1, ""))
          case _             => None
        }) match {
          case Some(rep) =>
            when(length(c) === 0, lit(rep)).otherwise(
              concat(lit(rep),
                array_join(regexp_extract_all(c, lit("(?s)."), lit(0)), rep),
                lit(rep)))
          case None => call_function("replace", c, a0, a0OrSecond(args))
        }
      case "split"       =>
        val sep = strLit(args, 0, "")
        if (sep.isEmpty) {
          // Rust str::split("") yields boundary empties around each CODE
          // POINT ("ab" → ["","a","b",""], "" → ["",""]). Spark's split
          // is surrogate-UNSAFE on empty-match patterns (it cuts pairs
          // into two replacement '?' chars — probed on "a𝄞b"), so
          // extract each code point as a regex match instead and add the
          // boundary empties explicitly
          concat(array(lit("")),
            regexp_extract_all(c, lit("(?s)."), lit(0)),
            array(lit("")))
        } else split(c, java.util.regex.Pattern.quote(sep))
      case "repeat"      => repeat(c, intLit(args, 0).toInt)
      case "pad_left" | "pad_right" =>
        // interpreter pad (Strings.scala:212-219): unchanged whenever
        // len >= w (incl. negative w — Spark lpad/rpad TRUNCATE there),
        // and pads with the FIRST char of the fill (Spark repeats the
        // whole fill string)
        val w = intLit(args, 0).toInt
        val f0 = strLit(args, 1, " ")
        val fill = // first CODE POINT of the fill (a Rust char)
          if (f0.isEmpty) " "
          else f0.substring(0, Character.charCount(f0.codePointAt(0)))
        val padded = if (name == "pad_left") lpad(c, w, fill) else rpad(c, w, fill)
        when(length(c) >= w, c).otherwise(padded)
      case "to_base64"   => base64(c.cast("binary"))
      // TryOrNull: the interpreter yields null on undecodable /
      // unparseable input (Strings.scala), but Spark 4's ANSI mode makes
      // the bare cast/decode a runtime ERROR — absorb it to the
      // documented null
      case "from_base64" =>
        graft.functions.TryOrNull(unbase64(c).cast("string"))
      case "re_match"    => c.rlike(strLit(args, 0, ""))
      case "re_replace_all" => regexp_replace(c, strLit(args, 0, ""), strLit(args, 1, ""))
      case "parse_int"   => graft.functions.TryOrNull(c.cast("long"))
      case "parse_float" | "to_number" =>
        graft.functions.TryOrNull(c.cast("double"))
      case "index_of"    => // 0-based, -1 on miss (mod.rs:2113-2122)
        (locate(strLit(args, 0, ""), c) - 1).cast("long")
      case "matches"     => // LITERAL containment, not regex (string.rs)
        c.contains(a0)
      // Spark locate/substr/length positions count CODE POINTS; a Java
      // String .length counts UTF-16 units — splice with codePointCount
      // or astral-plane needles cut at the wrong offset
      case "replace"     => // FIRST occurrence only (replace_all is the global form)
        val find = strLit(args, 0, "")
        val rep = strLit(args, 1, "")
        // empty needle: replacen(s, "", rep, 1) PREPENDS the
        // replacement (the first empty match is at position 0)
        if (find.isEmpty) concat(lit(rep), c)
        else {
          val loc = locate(find, c)
          val findCps = find.codePointCount(0, find.length)
          when(loc > 0, concat(
            c.substr(lit(1), loc - 1),
            lit(rep),
            c.substr(loc + findCps, length(c)))).otherwise(c)
        }
      case "strip_prefix" =>
        val p = strLit(args, 0, "")
        when(c.startsWith(p),
          c.substr(lit(p.codePointCount(0, p.length) + 1), length(c))).otherwise(c)
      case "strip_suffix" =>
        val p = strLit(args, 0, "")
        when(c.endsWith(p),
          c.substr(lit(1), length(c) - p.codePointCount(0, p.length))).otherwise(c)
      case "is_numeric"  => c.rlike("^[0-9]+$") // ascii digits only (mod.rs:2060-2062)
      case "is_alpha"    => c.rlike("^\\p{L}+$")
      case "is_ascii"    => c.rlike("^[\\x00-\\x7F]*$")
      case "is_blank"    => c.rlike("^[\\p{IsWhite_Space}]*$") // "" is blank (mod.rs:2059)
      case "words"       => // Rust split_whitespace: Unicode separators, empties dropped
        filter(split(c, "[\\p{IsWhite_Space}]+"), _ =!= "")
      case "bytes"       => // UTF-8 bytes as ints (Strings.scala:111): hex pairs → decimal
        transform(regexp_extract_all(hex(encode(c, "UTF-8")), lit(".."), lit(0)),
          x => conv(x, 16, 10).cast("long"))
      case "title_case"  =>
        // whitespace-preserving char walk (string.rs:188-208): first
        // char after a whitespace run takes Character.toUpperCase (the
        // SIMPLE 1:1 mapping — identity when the full mapping grows,
        // e.g. "ß"), the rest take Character.toLowerCase per char
        // (= first code point of the full mapping; only İ differs).
        // Token split keeps separators verbatim. Known micro-divergence:
        // the interpreter walks UTF-16 units, so CASED astral scripts
        // (Deseret/Osage/Adlam) stay uncased there but map here.
        val tokens = regexp_extract_all(c,
          lit("(?s)[\\p{IsWhite_Space}]+|[^\\p{IsWhite_Space}]+"), lit(0))
        def simpleUpper(ch: Column): Column = {
          val u = upper(ch); when(length(u) === 1, u).otherwise(ch)
        }
        def simpleLower(ch: Column): Column = {
          val l = lower(ch); when(length(l) === 1, l).otherwise(substring(l, 1, 1))
        }
        val titled = transform(tokens, t =>
          when(t.rlike("^[\\p{IsWhite_Space}]"), t).otherwise(concat(
            simpleUpper(t.substr(lit(1), lit(1))),
            array_join(transform(
              regexp_extract_all(t.substr(lit(2), length(t)), lit("(?s)."), lit(0)),
              simpleLower _), ""))))
        array_join(titled, "")
      case "lines"       => linesOf(c)
      case "snake_case"  => caseWordsJoin(c, "_")
      case "kebab_case"  => caseWordsJoin(c, "-")
      case "camel_case" =>
        // head word verbatim (already lowercase), tail words
        // first-code-point-uppercased (helpers.rs upper_first_into)
        val ws = split(caseWordsJoin(c, "_"),
          java.util.regex.Pattern.quote("_"))
        array_join(transform(ws,
          (w, i) => when(i === 0, w).otherwise(upperFirstCol(w))), "")
      case "pascal_case" =>
        array_join(transform(split(caseWordsJoin(c, "_"),
          java.util.regex.Pattern.quote("_")), upperFirstCol _), "")
      case "indent" => // prepend n spaces to every line (Strings.scala)
        val n = intLit(args, 0).toInt
        array_join(transform(linesOf(c),
          l => concat(lit(" " * math.max(n, 0)), l)), "\n")
      case "dedent" =>
        // min leading-whitespace margin over non-blank lines, dropped
        // from every line long enough (string.rs:301-319; positions in
        // code points — identical to the interpreter's UTF-16 count
        // whenever the margin is real whitespace, which is BMP)
        val ls = linesOf(c)
        val margins = transform(
          filter(ls, l => !l.rlike("^[\\p{IsWhite_Space}]*$")),
          l => length(l) -
            length(regexp_replace(l, "^[\\p{IsWhite_Space}]+", "")))
        val margin = coalesce(array_min(margins), lit(0))
        array_join(transform(ls, l =>
          when(length(l) >= margin,
            l.substr(margin + lit(1), length(l))).otherwise(l)), "\n")
      case "chars_of"    => // per code point (string.rs:414)
        regexp_extract_all(c, lit("(?s)."), lit(0))
      case "url_encode"  => call_function("url_encode", c)
      case "url_decode"  => // undecodable %-seq → interpreter null, not
        // Spark's raise (both sides are java.net.URLDecoder semantics)
        graft.functions.TryOrNull(call_function("url_decode", c))
      case "html_escape" => // replacement order mirrors Strings.scala
        Seq("&" -> "&amp;", "<" -> "&lt;", ">" -> "&gt;",
            "\"" -> "&quot;", "'" -> "&#39;")
          .foldLeft(c) { case (acc, (f, t)) =>
            call_function("replace", acc, lit(f), lit(t)) }
      case "html_unescape" =>
        Seq("&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">",
            "&quot;" -> "\"", "&#39;" -> "'")
          .foldLeft(c) { case (acc, (f, t)) =>
            call_function("replace", acc, lit(f), lit(t)) }
      case "center" =>
        val w = intLit(args, 0).toInt
        val f0 = strLit(args, 1, " ")
        val fill =
          if (f0.isEmpty) " "
          else f0.substring(0, Character.charCount(f0.codePointAt(0)))
        val total = lit(w) - length(c)
        val left = (total / lit(2)).cast("int")
        when(length(c) >= w, c).otherwise(concat(
          call_function("repeat", lit(fill), left), c,
          call_function("repeat", lit(fill), (total - left).cast("int"))))
      case "last_index_of" =>
        // rfind via the reversed lanes: the FIRST hit of the reversed
        // needle in the reversed string is the LAST hit in the
        // original; positions are code points on both sides
        // (mod.rs:2111-2122 counts chars before the byte offset)
        val find = strLit(args, 0, "")
        val fCps = find.codePointCount(0, find.length)
        val revFind = new java.lang.StringBuilder(find).reverse.toString
        val loc = locate(revFind, reverse(c))
        when(loc === 0, lit(-1L))
          .otherwise((length(c) - (loc - 1) - fCps).cast("long"))
      case "to_bool" => // strict (mod.rs:2076-2080)
        when(c === "true", lit(true)).when(c === "false", lit(false))
          .otherwise(lit(null).cast("boolean"))
      case "parse_bool" => // lenient (string.rs:526-532)
        val t = lower(regexp_replace(c,
          "^[\\p{IsWhite_Space}]+|[\\p{IsWhite_Space}]+$", ""))
        when(t.isin("true", "yes", "1", "on"), lit(true))
          .when(t.isin("false", "no", "0", "off"), lit(false))
          .otherwise(lit(null).cast("boolean"))
      case "contains_any" | "contains_all" =>
        val needles: Option[Vector[JValue]] = argE(args, 0) match {
          case Lit(JArr(xs)) => Some(xs)
          case ArrLit(es) => // parsed array literal of literal elements
            val ls = es.collect { case ArrElem.One(Lit(v)) => v }
            if (ls.length == es.length) Some(ls.toVector) else None
          case Lit(v) => Some(Vector(v)) // single-needle form
          case _      => None
        }
        needles match {
          case Some(xs) =>
            val tests = xs.map { x =>
              c.contains(lit(x match { // Strings.s0: raw for strings,
                case JStr(s) => s     // display form otherwise
                case v       => JValue.display(v)
              }))
            }
            if (tests.isEmpty) lit(name == "contains_all") // vacuous truth
            else if (name == "contains_any") tests.reduce(_ || _)
            else tests.reduce(_ && _)
          case None => bail(s"$name over non-literal needles")
        }
      case "scan" => // non-overlapping LITERAL occurrence list
        // (string.rs:630): the needle repeated count times, where count
        // falls out of the length delta of a replace-all
        val p = strLit(args, 0, "")
        // no-otherwise `when`: a null receiver stays null, not []
        if (p.isEmpty) when(c.isNotNull, array().cast("array<string>"))
        else {
          val pCps = p.codePointCount(0, p.length)
          val cnt = ((length(c) -
            length(call_function("replace", c, lit(p), lit("")))) /
            lit(pCps)).cast("int")
          array_repeat(lit(p), cnt)
        }
      case "re_split" =>
        // same java.util.regex dialect both sides; Spark's split keeps
        // trailing empties (limit -1) exactly like Pattern.split(s, -1).
        // (Zero-width patterns over astral text hit Spark's surrogate-
        // unsafe empty-match path — same caveat as split(""), which is
        // why split("") lowers via regexp_extract_all instead.)
        split(c, strLit(args, 0, ""))
      case "re_match_first" => // first full match, null when none
        val p = strLit(args, 0, "")
        when(c.rlike(p), regexp_extract(c, p, 0))
          .otherwise(lit(null).cast("string"))
      case "re_match_all" => regexp_extract_all(c, lit(strLit(args, 0, "")), lit(0))

      // ── first-match family: native expressions running the exact
      // java.util.regex calls of Strings.scala:245-256 (Spark's
      // regexp_replace is replace-ALL; regexp_extract can't tell an
      // unmatched group from an empty match). Dynamic patterns bail to
      // the per-row rungs; an INVALID pattern also bails, so it errors
      // loudly at eval time exactly where the interpreter does. ──
      case "re_captures" =>
        graft.functions.RegexCapturesFirst.column(c, regexLit(args))
      case "re_captures_all" =>
        graft.functions.RegexCapturesAll.column(c, regexLit(args))
      case "re_replace" =>
        val p = regexLit(args)
        val r = strLit(args, 1, "")
        // replacement group refs beyond the pattern's count (or `${`
        // named syntax) throw per-row in Java — keep that loudness on
        // the interpreter rungs
        if (!graft.functions.RegexFirst.replacementOk(
            r, java.util.regex.Pattern.compile(p).matcher("").groupCount()))
          bail("re_replace replacement needs interpreter error semantics")
        graft.functions.RegexReplaceFirst.column(c, p, r)

      case other => bail(s"no relational scalar fn .$other()")
    }
  }

  /** Rust str::lines (string.rs:380-386): normalize each \r\n
    * terminator to \n, split, then drop the one trailing empty a
    * terminated final line leaves ("" → []); an unterminated final
    * line keeps a bare \r. */
  private def linesOf(c: Column): Column = {
    val arr = split(regexp_replace(c, "\r\n", "\n"),
      java.util.regex.Pattern.quote("\n"))
    when(element_at(arr, -1) === "", slice(arr, lit(1), size(arr) - 1))
      .otherwise(arr)
  }

  /** caseWords (reference helpers.rs:9-34 split_words_lower) as a pure
    * regex pipeline: mark each lower→Upper camel boundary (the
    * javaLowerCase/javaUpperCase properties ARE Character.isLower/
    * UpperCase, the predicates the interpreter walks with), collapse
    * every run of separators (Unicode whitespace, `_`, `-`) to `sep`,
    * strip boundary separators (caseWords drops empty tokens), then
    * lowercase. Digits never arm a boundary — the mark requires a
    * lowercase LETTER-cased char on the left, exactly like prev_lower. */
  private def caseWordsJoin(c: Column, sep: String): Column = {
    val rep = java.util.regex.Matcher.quoteReplacement(sep)
    val marked = regexp_replace(c,
      "(\\p{javaLowerCase})(\\p{javaUpperCase})", "$1" + rep + "$2")
    val collapsed = regexp_replace(marked, "[\\p{IsWhite_Space}_-]+", rep)
    val esc = java.util.regex.Pattern.quote(sep)
    lower(regexp_replace(collapsed,
      "^(?:" + esc + ")+|(?:" + esc + ")+$", ""))
  }

  /** upper_first_into (helpers.rs:37-45): first CODE POINT takes its
    * full uppercase mapping (can grow, "ß" → "SS"), rest verbatim. */
  private def upperFirstCol(w: Column): Column =
    concat(upper(w.substr(lit(1), lit(1))), w.substr(lit(2), length(w)))

  private def a0OrSecond(args: Vector[Arg]): Column = colExpr(argE(args, 1))

  private def displayCol(c: Column): Column = c.cast("string")

  /** The interpreter's DISPLAY form for an expression (JValue.display):
    * floats print shortest — an integral double renders without the
    * trailing ".0" ("9", not the "9.0" a plain string cast emits).
    * floor-guarded so the long cast never runs on a value ANSI would
    * overflow on. Non-float lanes are exactly the string cast. */
  private def displayExpr(x: Expr): Column = {
    val c = colExpr(x)
    inferDt(x) match {
      case Some(DoubleType) | Some(FloatType) =>
        val d = c.cast("double")
        when(d.isNotNull && d === floor(d) && !d.isNaN && abs(d) < lit(1e15),
          d.cast("long").cast("string"))
          .otherwise(d.cast("string"))
      case _ => displayCol(c)
    }
  }

  /** f-string format specs, matching the interpreter's subset
    * (Interp.applyFmtSpec; reference vm/exec.rs:3112-3143): `.Nf`,
    * `d`, `>N`, `<N`, `^N`, `0N`. `format_string` is Java's Formatter —
    * the same engine the interpreter uses, so `.Nf` rounds and renders
    * identically (NOT `format_number`, which inserts grouping commas).
    * Pads never truncate (the interpreter's pad is a no-op when the
    * string is already wide enough). */
  private def fmtSpec(x: Expr, f: String): Column = {
    val c = colExpr(x)
    def disp = displayExpr(x)
    def padded(w: Int)(build: (Column, Column) => Column): Column = {
      val s = disp
      when(length(s) >= w, s).otherwise(build(s, length(s)))
    }
    if (f.startsWith(".") && f.endsWith("f") &&
        f.substring(1, f.length - 1).forall(_.isDigit) && f.length > 2) {
      format_string(s"%$f", c.cast("double"))
    } else if (f == "d") {
      kindOf(x) match {
        case Kind.Num => c.cast("long").cast("string")
        case _        => disp
      }
    } else if ((f.startsWith(">") || f.startsWith("<") || f.startsWith("^")) &&
               f.drop(1).toIntOption.isDefined) {
      val w = f.drop(1).toInt
      f.head match {
        case '>' => padded(w)((s, _) => lpad(s, w, " "))
        case '<' => padded(w)((s, _) => rpad(s, w, " "))
        case _ => padded(w) { (s, len) =>
          // left pad = floor((w - len) / 2), remainder goes right
          val target = (len + ((lit(w) - len) / lit(2)).cast("int")).cast("int")
          rpad(call_function("lpad", s, target, lit(" ")), w, " ")
        }
      }
    } else if (f.startsWith("0") && f.drop(1).toIntOption.isDefined) {
      if (isIntegral(x)) padded(f.drop(1).toInt)((s, _) => lpad(s, f.drop(1).toInt, "0"))
      else if (kindOf(x) != Kind.Unknown) disp // interpreter zero-pads ints only
      else bail(s"format spec $f on untyped operand")
    } else disp
  }

  private def isIntegral(e: Expr): Boolean = e match {
    case Lit(JInt(_)) => true
    case _ => dtOf(e).exists {
      case ByteType | ShortType | IntegerType | LongType => true
      case _                                             => false
    }
  }

  private def binop(op: String, lE: Expr, rE: Expr): Column = {
    // operands are VALUE position: a nested bool-valued expression
    // (e.g. `(a < b) == p`, `(a < b) ?? q`) must be two-valued BEFORE
    // it feeds this op — the interpreter's comparisons never produce
    // null. valueExpr falls through to colExpr for everything else, so
    // plain `col < lit` filters stay raw and pushable. Found by
    // NullSemanticsFuzzSpec round 8.
    lazy val l = valueExpr(lE)
    lazy val r = valueExpr(rE)
    op match {
      case "+"   =>
        // jetro `+` concatenates strings and arrays (Interp.binop);
        // statically-typed lanes lower to concat, numeric lanes to the
        // arithmetic add, anything else falls through to `l + r` whose
        // analysis failure routes to the interpreter
        (inferDt(lE), inferDt(rE)) match {
          case (Some(StringType), Some(StringType)) => concat(l, r)
          case (Some(a: ArrayType), Some(b: ArrayType)) if a == b =>
            concat(l, r)
          case _ => l + r
        }
      case "-"   => l - r
      case "*"   => l * r
      case "/"   =>
        // reference Div (vm/exec.rs:866-874): operands coerce via
        // as_f64().unwrap_or(0.0) — a null NUMERATOR divides as 0.0 —
        // and a zero (or null→0.0) DENOMINATOR is a hard "division by
        // zero" error. raise_error matches the interpreter's loud
        // error (try/else and ?? absorb it via TryOrNull); plain null
        // propagation and IEEE Infinity would both silently diverge.
        //
        // The 0.0 coercion applies only to VALUE nulls. A null coming
        // out of an arithmetic SUB-expression (`(a + b) / 2` with null
        // a) means the interpreter errored BEFORE the division — numOp
        // raises on non-numbers — so coercing it would silently turn a
        // loud per-row error into 0.0 (and `?? d` would keep the 0.0
        // instead of taking the default). Those nulls raise instead.
        // Found by the round-9 arithmetic-tier fuzzer.
        //
        // Reachability caveat (seed-204 sweep): nested under another
        // arithmetic op (`a + b / id`), Spark's null-short-circuiting
        // Add.eval can skip this whole branch on a row whose sibling
        // operand is null — that row then takes the documented
        // cell-null tier instead of the loud raise (SCALE.md).
        val rd = coalesce(r.cast("double"), lit(0.0))
        val ln =
          if (nullMeansArithError(lE))
            when(l.isNull,
              raise_error(lit("arithmetic on non-numbers")).cast("double"))
              .otherwise(l.cast("double"))
          else coalesce(l.cast("double"), lit(0.0))
        when(rd === lit(0.0),
          raise_error(lit("division by zero")).cast("double"))
          .otherwise(ln / rd)
      case "%"   =>
        // lane-aware remainder: the interpreter's FLOAT lane gives NaN
        // on a zero divisor (Java double %), while its integer lane
        // errors — matching ANSI's REMAINDER_BY_ZERO only for the
        // integer lane. Untypeable operands bail rather than guess.
        (inferDt(lE), inferDt(rE)) match {
          case (Some(a), Some(b)) if !integralDt(a) || !integralDt(b) =>
            val rd = r.cast("double")
            when(rd === lit(0.0), lit(Double.NaN))
              .otherwise(l.cast("double") % rd)
          // both integral, or untypeable (schema-free sort-key entry):
          // the raw remainder — ANSI errors on a zero divisor, which is
          // the interpreter's integer-lane behavior too
          case _ => l % r
        }
      // null-SAFE equality: jetro compares null as a value (JValue.eq —
      // `x == null` is a real test, `x != null` keeps non-null rows),
      // while SQL `=` yields NULL and silently drops the row in filter
      // position. EqualNullSafe matches the interpreter in both filter
      // and projection position AND still pushes to the parquet scan
      // (sources.EqualNullSafe). Found by RowwiseFuzzSpec round 8.
      case "=="  => l <=> r
      case "!="  => !(l <=> r)
      case "<"   => l < r
      case "<="  => l <= r
      case ">"   => l > r
      case ">="  => l >= r
      // and/or operands stay RAW (colExpr): their truthiness sink
      // already reads null as falsy, and wrapping them would turn a
      // pushable conjunction like `{a > 1 and b < 2}` into
      // coalesce(...) AND coalesce(...) — no parquet pushdown
      case "and" => truthy(colExpr(lE), lE) && truthy(colExpr(rE), rE)
      case "or"  =>
        // the interpreter's `or` is VALUE-preserving (Interp.binop: l
        // if truthy else r, vm OrOp). Bool operands collapse to l||r —
        // identical truthiness in filter position AND a pushable
        // disjunction (value position wraps via valueExpr); same-kinded
        // value operands lower to the picking form; mixed kinds have no
        // single column type → doc mode owns them.
        (kindOf(lE), kindOf(rE)) match {
          case (Kind.Bool, Kind.Bool) => colExpr(lE) || colExpr(rE)
          case (a, b) if a == b && a != Kind.Unknown =>
            when(coalesce(truthy(l, lE), lit(false)), l).otherwise(r)
          case _ => bail(s"`or` over mixed operand kinds: $lE or $rE")
        }
      case "??"  =>
        // Interp.binop "??" catches EvalException on the LEFT (a
        // division-by-zero or bad cast falls through to the default),
        // not just null — TryOrNull absorbs the ANSI runtime error
        // inside codegen exactly like the try/else lowering
        coalesce(graft.functions.TryOrNull(l), r)
      case "~="  =>
        // case-insensitive bidirectional substring (vm Fuzzy) over the
        // DISPLAY form. Only statically-string operands lower — numeric
        // display forms don't round-trip a cast (184.0 displays "184",
        // casts "184.0"). A null operand displays as the string "null"
        // (JValue.display(JNull), Interp.binop ~=) — pinned, so the
        // coalesce makes the lowering exact under nulls too.
        if (kindOf(lE) != Kind.Str || kindOf(rE) != Kind.Str)
          bail(s"~= lowers only over string operands: $lE ~= $rE")
        val ls = lower(coalesce(l, lit("null")))
        val rs = lower(coalesce(r, lit("null")))
        ls.contains(rs) || rs.contains(ls)
      case "has" =>
        // Builtins.membership: arrays test element equality with
        // null-as-value semantics (so `arr has null` finds null
        // elements); strings test substring of the item's display form
        // ("null" for a null item — pinned); objects test key
        // membership. dtOf picks the container form; anything untyped
        // bails to the interpreter.
        // membership() is TOTAL — a null receiver (or key) is false,
        // never null — so every container form coalesces at the source
        // and the result is position-independent (MapColumnSpec row 5
        // caught the raw map_contains_key leaking null in value
        // position)
        dtOf(lE) match {
          case Some(_: ArrayType) =>
            // the item binds via letRow: a computed r captured in the
            // exists body would re-evaluate per ELEMENT (the HOF
            // lambda-capture discipline)
            letRow(Seq(l, r)) { case Seq(ll, rr) =>
              coalesce(exists(ll, x => x <=> rr), lit(false))
            }
          case Some(StringType) =>
            if (kindOf(rE) != Kind.Str)
              bail(s"string has lowers only with a string item: $rE")
            coalesce(l.contains(coalesce(r, lit("null"))), lit(false))
          case Some(_: MapType) =>
            if (kindOf(rE) != Kind.Str)
              bail(s"map has lowers only with a string key: $rE")
            coalesce(map_contains_key(l, r), lit(false))
          case Some(st: StructType) =>
            // the interpreter tests key membership over the null-field-
            // OMITTING bridge document (RowBridge/to_json drop null
            // fields), so a struct `has k` is true iff the receiver is
            // non-null AND the named field's VALUE is non-null — a
            // static array_contains over schema names would return true
            // for null receivers/fields. isNotNull is two-valued and a
            // null receiver propagates getField→null→false, so the one
            // expression covers both. Dynamic keys would need a per-key
            // CASE over the schema; the interpreter owns those.
            rE match {
              case Lit(JStr(k)) =>
                if (st.fieldNames.contains(k)) l.getField(k).isNotNull
                else lit(false)
              case _ =>
                bail(s"object has with dynamic key over struct receiver: $rE")
            }
          case _ => bail(s"has container untyped: $lE")
        }
      case other => bail(s"operator $op")
    }
  }

  /** True when a SQL null produced by this expression's lowering can
    * only mean the INTERPRETER raised (numOp "arithmetic on
    * non-numbers" / unary-minus on a non-number) rather than a value
    * null: direct arithmetic forms whose lowering null-propagates where
    * the interpreter errors. Value-null producers (field refs, `??`,
    * try/else, ternaries) stay false — their null is a real JNull the
    * reference coerces. */
  private def nullMeansArithError(e: Expr): Boolean = e match {
    case Binary("+" | "-" | "*" | "%", _, _) => true
    case Unary("-", _)                       => true
    case _                                   => false
  }

  /** jetro truthiness (vm truthy): null/false → false, numbers ≠ 0,
    * strings non-empty, booleans pass through. The coercion is chosen
    * by the STATIC kind of the source expression — never a blind
    * boolean cast, which under ANSI (Spark 4 default) raises at
    * runtime on strings. Untypeable operands bail → doc-mode fallback.
    *
    * The result is the RAW three-valued coercion (null stays null): in
    * filter/when position SQL already treats null as false, exactly
    * jetro's falsy — and keeping the bare comparison lets it push down
    * to the parquet scan. Null-SENSITIVE sites (negation, universal
    * quantifier) must wrap with `coalesce(_, false)` themselves. */
  def truthy(c: Column, e: Expr): Column = kindOf(e) match {
    case Kind.Bool => c
    case Kind.Num  => c =!= lit(0)
    case Kind.Str  => length(c) > 0
    case Kind.Unknown => bail(s"cannot type truthiness of $e")
  }

  private def kindOf(e: Expr): Kind = e match {
    case Lit(JBool(_))                 => Kind.Bool
    case Lit(JInt(_)) | Lit(JFloat(_)) => Kind.Num
    case Lit(JStr(_))                  => Kind.Str
    case Unary("not", _)               => Kind.Bool
    case Unary("-", _)                 => Kind.Num
    case Binary(op, l, r) => op match {
      case "==" | "!=" | "<" | "<=" | ">" | ">=" | "and" | "~=" | "has" =>
        Kind.Bool
      case "or" => // value-preserving: the result carries the operands' kind
        (kindOf(l), kindOf(r)) match {
          case (Kind.Bool, Kind.Bool) => Kind.Bool
          case (a, b) if a == b       => a
          case _                      => Kind.Unknown
        }
      case "+" | "-" | "*" | "/" | "%" =>
        if (kindOf(l) == Kind.Num && kindOf(r) == Kind.Num) Kind.Num
        else Kind.Unknown
      case "??" =>
        val k = kindOf(l); if (k == kindOf(r)) k else Kind.Unknown
      case _ => Kind.Unknown
    }
    case IfElse(_, t, f) =>
      val k = kindOf(t); if (k == kindOf(f)) k else Kind.Unknown
    case TryElse(b, d) =>
      val k = kindOf(b); if (k == kindOf(d)) k else Kind.Unknown
    case Cast(_, to) => to match {
      case "int" | "float" | "number" => Kind.Num
      case "string"                   => Kind.Str
      case "bool"                     => Kind.Bool
      case _                          => Kind.Unknown
    }
    case GlobalCall("to_string", _) => Kind.Str
    case FString(_)                 => Kind.Str
    case _ => dtOf(e).map(dtKind).getOrElse(Kind.Unknown)
  }

  /** VALUE-position lowering: where a bool-valued expression lands in a
    * projected column (shape values, array elements, ternary branches),
    * the interpreter's comparisons and `and`/`or` always produce a real
    * bool (JValue.eq / truthiness — null operands give FALSE, Interp
    * .binop), while SQL three-valued logic yields NULL. Wrap those ops
    * with `coalesce(_, false)` here — and ONLY here, so predicate
    * position keeps the raw pushable comparison (Filter already treats
    * null as false, exactly the interpreter's falsy). Bool-kinded `or`
    * takes the value-preserving picking form (null right operand stays
    * null, as the interpreter returns it). */
  def valueExpr(e: Expr): Column = e match {
    case Binary(op, _, _) if Set("<", "<=", ">", ">=", "and", "has")(op) =>
      coalesce(colExpr(e), lit(false))
    case Binary("or", l, r)
        if kindOf(l) == Kind.Bool && kindOf(r) == Kind.Bool =>
      val lc = colExpr(l)
      when(coalesce(lc, lit(false)), lc).otherwise(colExpr(r))
    case IfElse(c, t, f) =>
      when(truthy(colExpr(c), c), valueExpr(t)).otherwise(valueExpr(f))
    case TryElse(b, d) =>
      coalesce(graft.functions.TryOrNull(valueExpr(b)), valueExpr(d))
    case _ => colExpr(e)
  }

  /** Resolve the Spark type of a field / field-chain expression against
    * the plan schema (structs descended, arrays element-typed, scalar
    * builtins mapped to their return types). */
  private def dtOf(e: Expr): Option[DataType] = e match {
    case Ident(n) => identDt(n)
    case Current  => currentDt
    case Root     => rootStruct.map(_._2)
    case Chain(base, steps) =>
      val b: Option[DataType] = base match {
        case Ident(n) => identDt(n)
        case Current  => currentDt
        case Root     => rootStruct.map(_._2)
        // computed receivers (nested chains, global calls, literals)
        // type through the full inference — the rewrite mirrors and
        // method walks depend on it
        case other    => inferDt(other)
      }
      steps.foldLeft(b) { (acc, s) =>
        s match {
          case Step.Field(f) => acc.flatMap {
            case st: StructType => st.find(_.name == f).map(_.dataType)
            case MapType(StringType, v, _) => Some(v)
            case _              => None
          }
          case Step.Index(_) => acc.flatMap {
            case ArrayType(et, _) => Some(et)
            case _                => None
          }
          case Step.Slice(_, _) => acc.collect { case at: ArrayType => at }
          case Step.InlineFilter(_) => acc.collect { case at: ArrayType => at }
          case Step.Optional      => acc
          case Step.Method(m, margs) => acc match {
            case Some(_)
                if Set("to_string", "to_json", "type", "type_of")(m) &&
                   margs.isEmpty => Some(StringType)
            case Some(_) if m == "has_path" && margs.length == 1 =>
              Some(BooleanType)
            case Some(t) if m == "get_path" && margs.length == 1 =>
              margs(0).e match {
                case Lit(JStr(p)) =>
                  p.split('.').foldLeft(Option(t)) { (a, k) =>
                    a.flatMap {
                      case st: StructType => st.find(_.name == k).map(_.dataType)
                      case MapType(StringType, v, _) => Some(v)
                      case _ => None
                    }
                  }
                case _ => None
              }
            case Some(st: StructType)
                if Set("set_path", "del_path", "del_paths", "set", "update")(m) =>
              // mirror of structPathMethod (type walks are shared)
              def segsOf(e: Expr): Option[List[String]] = e match {
                case Lit(JStr(p)) if p.nonEmpty =>
                  val segs = p.split('.').toList
                  if (segs.exists(_.isEmpty)) None else Some(segs)
                case _ => None
              }
              try m match {
                case "set_path" if margs.length == 2 =>
                  for {
                    segs <- segsOf(margs(0).e)
                    vdt  <- inferDt(margs(1).e)
                    out  <- setPathStructType(Some(st), segs, vdt)
                  } yield out
                case "del_path" if margs.length == 1 =>
                  segsOf(margs(0).e).map(segs =>
                    delPathStructType(st, segs).getOrElse(st))
                case "del_paths" if margs.length == 1 =>
                  margs(0).e match {
                    case ArrLit(elems) =>
                      elems.foldLeft(Option(st: DataType)) { (acc, el) =>
                        for {
                          d    <- acc
                          cst  <- Some(d).collect { case s: StructType => s }
                          segs <- el match {
                            case ArrElem.One(pe) => segsOf(pe)
                            case _               => None
                          }
                        } yield delPathStructType(cst, segs).getOrElse(cst)
                      }
                    case _ => None
                  }
                case "set" if margs.length == 2 =>
                  margs(0).e match {
                    case Lit(JStr(k)) if k.nonEmpty =>
                      inferDt(margs(1).e)
                        .flatMap(vdt => setPathStructType(Some(st), List(k), vdt))
                    case _ => None
                  }
                case "update" if margs.length == 2 =>
                  margs(0).e match {
                    case Lit(JStr(k)) if st.fieldNames.contains(k) =>
                      new EBody(ArrayType(st(k).dataType, containsNull = true),
                        margs(1).e).dt
                        .flatMap(bdt => setPathStructType(Some(st), List(k), bdt))
                    case _ => None
                  }
                case _ => None
              } catch { case _: LowerException => None }
            case Some(st: StructType)
                if (m == "merge" || m == "deep_merge") && margs.nonEmpty &&
                   !margs.exists(_.name.nonEmpty) =>
              // mirror of structMergeMethod (shared shape union)
              try margs.foldLeft(Option(st)) { (acc, a) =>
                acc.flatMap(x => inferDt(a.e) match {
                  case Some(ys: StructType) =>
                    Some(mergeStructType(x, ys, m == "deep_merge"))
                  case _ => None
                })
              } catch { case _: LowerException => None }
            case Some(st: StructType) if structObjOps(m) =>
              structObjReturn(m, st, margs)
            case Some(at: ArrayType) if (m == "pick" || m == "omit") =>
              at.elementType match {
                case st: StructType =>
                  structObjReturn(m, st, margs)
                    .map(ArrayType(_, containsNull = true))
                case _ => None
              }
            case Some(at: ArrayType) if arrayOps(m) => arrayMethodReturn(m, at)
            case Some(mt: MapType) if mapOps(m)     =>
              mapMethodReturn(m, mt).orElse(mapMethodArgReturn(m, mt, margs))
            case _                                  => scalarFnReturn(m)
          }
          case _                  => None
        }
      }
    case _ => None
  }

  /** ARG-typed map results — merge/deep_merge/defaults/set — typed by
    * the same vt-unification [[mapMethod]] performs, so chains over
    * them stay statically known for downstream dispatch (the operator
    * `has`, nested method calls). Body-typed lanes (transform_values /
    * update) still report None; deep_merge's object-valued shapes
    * report None to mirror its doc-mode bail. */
  private def mapMethodArgReturn(
      m: String, mt: MapType, args: Vector[Arg]): Option[DataType] = {
    if (mt.keyType != StringType) return None
    def objLike(d: DataType): Boolean =
      d.isInstanceOf[StructType] || d.isInstanceOf[MapType]
    def out(u: DataType) = MapType(StringType, u, valueContainsNull = true)
    // the arg's own value type: a string-keyed map's valueType, or a
    // struct literal's fields unified together
    def argVt(i: Int): Option[DataType] = inferDt(args(i).e).flatMap {
      case MapType(StringType, ov, _) => Some(ov)
      case st: StructType =>
        st.fields.map(_.dataType).toList match {
          case Nil    => Some(mt.valueType) // {} merges type-neutrally
          case h :: t => t.foldLeft(Option(h))((a, d) => a.flatMap(unifySameKind(_, d)))
        }
      case _ => None
    }
    def unifyAll: Option[DataType] =
      args.indices.foldLeft(Option(mt.valueType)) { (acc, i) =>
        acc.flatMap(u => argVt(i).flatMap(unifySameKind(u, _)))
      }
    m match {
      case "merge" if args.nonEmpty => unifyAll.map(out)
      case "deep_merge" if args.nonEmpty =>
        // mirror of the generalized lowering: fold the schema-directed
        // value union [[Lower.deepMergeType]] performs; args are
        // string-keyed maps or one-shape struct literals
        def argM(i: Int): Option[MapType] = inferDt(args(i).e).flatMap {
          case m2 @ MapType(StringType, _, _) => Some(m2)
          case st: StructType =>
            st.fields.map(_.dataType).distinct.toSeq match {
              case Seq(one) =>
                Some(MapType(StringType, one, valueContainsNull = true))
              case _ => None
            }
          case _ => None
        }
        args.indices.foldLeft(Option(mt: MapType)) { (acc, i) =>
          for {
            a  <- acc
            o  <- argM(i)
            t  <- Lower.deepMergeType(a, o)
            m2 <- Some(t).collect { case m3: MapType => m3 }
          } yield m2
        }
      case "defaults" if args.length == 1 => unifyAll.map(out)
      case "set_path" if args.length == 2 =>
        // mirror of the deep map-lane set_path: one-segment paths are
        // set(k, v); deeper paths share [[setPathDeepType]] with the
        // lowering (struct AND nested-map crossings)
        args(0).e match {
          case Lit(JStr(p)) if !p.contains('.') =>
            inferDt(args(1).e).flatMap(unifySameKind(mt.valueType, _)).map(out)
          case Lit(JStr(p)) if p.nonEmpty && !p.split('.').exists(_.isEmpty) =>
            inferDt(args(1).e).flatMap(vdt =>
              setPathDeepType(Some(mt), p.split('.').toList, vdt))
          case _ => None
        }
      case "set" if args.length == 2 =>
        inferDt(args(1).e).flatMap(unifySameKind(mt.valueType, _)).map(out)
      // body-typed lanes, via the same EBody scope mapMethod uses; a
      // body that cannot even scope (multi-param lambda) types as None
      // instead of aborting the type walk
      case "transform_values" if args.length == 1 =>
        try new EBody(ArrayType(mt.valueType, containsNull = true), args(0).e)
          .dt.map(out)
        catch { case _: LowerException => None }
      case "update" if args.length == 2 =>
        try new EBody(ArrayType(mt.valueType, containsNull = true), args(1).e)
          .dt.flatMap(unifySameKind(mt.valueType, _)).map(out)
        catch { case _: LowerException => None }
      case _ => None
    }
  }

  /** Static return type of an array-pipeline method, for chain typing
    * (body-dependent lanes — map/flat_map — report None). */
  private def arrayMethodReturn(m: String, at: ArrayType): Option[DataType] = m match {
    case "count" | "len" | "length"            => Some(LongType)
    case "sum" =>
      if (integralDt(at.elementType)) Some(LongType)
      else if (numericDt(at.elementType)) Some(DoubleType) else None
    case "avg" | "mean"                        => Some(DoubleType)
    case "min" | "max" | "nth" => Some(at.elementType)
    // first/last: element no-arg, array with n — args not visible here
    case "any" | "exists" | "all" | "includes" | "contains" |
         "has" | "missing" => Some(BooleanType)
    case "join"                                => Some(StringType)
    case "filter" | "find" | "find_all" | "where" | "compact" | "take" |
         "skip" | "drop" | "unique" | "distinct" | "reverse" |
         "sort" | "sort_by" |
         "collect" | "slice" | "remove" | "take_while" | "takewhile" |
         "drop_while" | "dropwhile" | "diff" | "intersect" => Some(at)
    case "append" | "prepend" | "union" => // lane may widen within its kind
      Some(at.copy(containsNull = true))
    case "index" | "index_of" => Some(LongType)
    case "indices_of" => Some(ArrayType(LongType))
    // pair lanes: the element kind is right, the width may widen to
    // the arg's unified type (the walker contract)
    case "zip" | "zip_longest" =>
      Some(ArrayType(ArrayType(at.elementType, containsNull = true)))
    case "find_first" | "find_one" => Some(at.elementType)
    case "from_pairs" => at.elementType match {
      case ArrayType(t, _) => Some(MapType(StringType, t, valueContainsNull = true))
      case _               => None
    }
    case "window" | "chunk" | "batch" =>
      Some(ArrayType(at.copy(containsNull = true)))
    case "pairwise" =>
      Some(ArrayType(ArrayType(at.elementType, containsNull = true)))
    case "lag" | "lead" | "diff_window" | "pct_change" | "zscore" |
         "cum_max" | "cum_min" | "cummax" | "cummin" |
         "rolling_sum" | "rolling_avg" | "rolling_min" | "rolling_max" =>
      if (numericDt(at.elementType)) Some(ArrayType(DoubleType)) else None
    case _ => None
  }

  private def scalarFnReturn(m: String): Option[DataType] = m match {
    case "upper" | "lower" | "trim" | "trim_left" | "lstrip" | "trim_right" |
         "rstrip" | "capitalize" | "reverse_str" | "replace_all" |
         "re_replace_all" | "repeat" | "pad_left" | "pad_right" |
         "to_base64" | "from_base64" | "url_encode" | "url_decode" |
         "html_escape" | "html_unescape" | "center" |
         "re_match_first" | "snake_case" | "kebab_case" | "camel_case" |
         "pascal_case" | "indent" | "dedent" | "title_case" |
         "re_replace" => Some(StringType)
    case "len" | "length" | "byte_len" | "parse_int" |
         "last_index_of" => Some(LongType)
    case "abs" | "ceil" | "floor" | "round" | "parse_float" | "to_number" =>
      Some(DoubleType)
    case "starts_with" | "ends_with" | "includes" | "contains" | "re_match" |
         "matches" | "is_numeric" | "is_alpha" | "is_ascii" | "to_bool" |
         "parse_bool" | "contains_any" | "contains_all" | "is_blank" =>
      Some(BooleanType)
    case "index_of" => Some(LongType)
    case "replace" | "strip_prefix" | "strip_suffix" => Some(StringType)
    case "lines" | "chars_of" | "scan" | "re_split" | "re_match_all" |
         "words" | "split" =>
      Some(ArrayType(StringType))
    case "bytes" => Some(ArrayType(LongType))
    case "re_captures" => Some(ArrayType(StringType, containsNull = true))
    case "re_captures_all" =>
      Some(ArrayType(ArrayType(StringType, containsNull = true)))
    case _ => None
  }

  private def dtKind(dt: DataType): Kind = dt match {
    case BooleanType    => Kind.Bool
    case _: NumericType => Kind.Num
    case StringType     => Kind.Str
    case _              => Kind.Unknown
  }
  }

  private def strLit(args: Vector[Arg], i: Int, default: String): String =
    if (i >= args.length) default
    else argE(args, i) match {
      case Lit(JStr(s)) => s
      case e            => bail(s"expected string literal, got $e")
    }

  /** A literal regex pattern that COMPILES — a syntax error bails so
    * the interpreter rung raises it per-row, loudly. */
  private def regexLit(args: Vector[Arg]): String = {
    val p = strLit(args, 0, "")
    try { java.util.regex.Pattern.compile(p); p }
    catch {
      case _: java.util.regex.PatternSyntaxException =>
        bail("invalid regex stays on the interpreter rungs")
    }
  }

  private def litOf(v: JValue): Column = v match {
    case JInt(n)   => lit(n)
    case JFloat(f) => lit(f)
    case JStr(s)   => lit(s)
    case JBool(b)  => lit(b)
    case JNull     => lit(null)
    case JArr(xs)  => array(xs.map(litOf): _*)
    case other     => bail(s"literal $other")
  }

  private def negate(c: Column): Column = c * lit(-1)
}
