package graft.jexpr

/** Expression AST for the document-mode query language.
  *
  * Shapes the same language surface as the reference's `Expr`
  * (/root/reference/jetro-core/src/parse/ast.rs:12-179) and grammar
  * (/root/reference/jetro-core/src/grammar.pest), re-derived from the
  * published grammar — not a translation of the Rust types.
  */
sealed trait Expr

object Expr {
  // ── primaries ──────────────────────────────────────────────────────
  case object Root extends Expr                        // $
  case object Current extends Expr                     // @
  final case class Lit(v: JValue) extends Expr
  final case class Ident(name: String) extends Expr {  // bare name: var, else field of @
    /** Memoised on the AST node: the bare-builtin-name check sits on
      * the interpreter's Ident path for array/string receivers
      * (Interp.scala eval Ident) — one Set lookup per NODE, not per
      * evaluated row. Lazy so object-init order never cycles. */
    lazy val isBuiltinName: Boolean = Builtins.knownNames.contains(name)
  }
  final case class FString(parts: Vector[FPart]) extends Expr
  final case class ArrLit(elems: Vector[ArrElem]) extends Expr
  final case class ObjLit(fields: Vector[ObjField]) extends Expr
  final case class Lambda(params: Vector[String], body: Expr) extends Expr
  final case class Let(bindings: Vector[(String, Expr)], body: Expr) extends Expr
  /** Comprehension; `clauses` = one or more `for vars in source` legs
    * (multiple legs ≈ the reference's nested-comprehension cross join,
    * SYNTAX.md:708-709). */
  final case class Comp(kind: CompKind, keyOrElem: Expr, valueOpt: Option[Expr],
                        clauses: Vector[(Vector[String], Expr)], cond: Option[Expr]) extends Expr
  final case class GlobalCall(name: String, args: Vector[Arg]) extends Expr
  final case class Patch(target: Expr, fields: Vector[PatchField]) extends Expr

  // ── postfix chains ─────────────────────────────────────────────────
  final case class Chain(base: Expr, steps: Vector[Step]) extends Expr

  // ── operators ──────────────────────────────────────────────────────
  final case class Unary(op: String, e: Expr) extends Expr          // "-", "not"
  final case class Binary(op: String, l: Expr, r: Expr) extends Expr // + - * / % == != < <= > >= ~= and or ?? has
  final case class IfElse(cond: Expr, t: Expr, f: Expr) extends Expr
  final case class TryElse(body: Expr, default: Expr) extends Expr
  final case class KindIs(e: Expr, kind: String, negated: Boolean) extends Expr
  final case class Cast(e: Expr, to: String) extends Expr
  final case class Pipe(base: Expr, steps: Vector[PipeStep]) extends Expr

  sealed trait Step
  object Step {
    final case class Field(name: String) extends Step
    final case class DynField(e: Expr) extends Step              // .{expr}
    final case class Method(name: String, args: Vector[Arg]) extends Step
    final case class DeepMethod(name: String, args: Vector[Arg]) extends Step // ..find(...)
    final case class Descendant(name: Option[String]) extends Step // ..field / ..
    final case class Index(e: Expr) extends Step                 // [expr] incl. negative int
    final case class Slice(from: Option[Long], to: Option[Long]) extends Step
    final case class InlineFilter(pred: Expr) extends Step       // {pred}
    final case class MapShape(pred: Option[Expr], shape: Expr) extends Step // [* if p] => shape
    case object Optional extends Step                            // ?
    case object ExactlyOne extends Step                          // !

    /** `s` rebuilt with `f` applied to each argument, index, filter
      * and shape expression — the step half of [[Expr.mapChildren]]. */
    def mapChildren(s: Step)(f: Expr => Expr): Step = s match {
      case DynField(e)        => DynField(f(e))
      case Method(n, as)      => Method(n, as.map(a => a.copy(e = f(a.e))))
      case DeepMethod(n, as)  => DeepMethod(n, as.map(a => a.copy(e = f(a.e))))
      case Index(e)           => Index(f(e))
      case InlineFilter(p)    => InlineFilter(f(p))
      case MapShape(p, shape) => MapShape(p.map(f), f(shape))
      case _: Field | _: Descendant | _: Slice | Optional | ExactlyOne => s
    }

    /** Direct sub-expressions of `s`, in [[mapChildren]]'s order. */
    def children(s: Step): Vector[Expr] = collected(mapChildren(s)(_))
  }

  sealed trait PipeStep
  object PipeStep {
    final case class Forward(e: Expr) extends PipeStep           // | f(...) / | expr
    final case class BindName(name: String) extends PipeStep     // -> x
    final case class BindObj(names: Vector[String], rest: Option[String]) extends PipeStep
    final case class BindArr(names: Vector[String]) extends PipeStep
  }

  final case class Arg(name: Option[String], e: Expr)

  sealed trait FPart
  object FPart {
    final case class Text(s: String) extends FPart
    final case class Interp(e: Expr, format: Option[String]) extends FPart
  }

  sealed trait ArrElem
  object ArrElem {
    final case class One(e: Expr) extends ArrElem
    final case class Spread(e: Expr) extends ArrElem
  }

  sealed trait ObjField
  object ObjField {
    final case class KV(key: Expr, value: Expr, when: Option[Expr]) extends ObjField
    final case class Short(name: String) extends ObjField        // {id} → id: @.id
    final case class OptShort(name: String) extends ObjField     // {id?} → omit when null
    final case class OptKV(key: Expr, value: Expr) extends ObjField // {k?: v} → omit when v null
    final case class Dyn(key: Expr, value: Expr) extends ObjField   // {[expr]: v}
    final case class Spread(e: Expr) extends ObjField
    final case class SpreadDeep(e: Expr) extends ObjField
  }

  sealed trait CompKind
  object CompKind { case object List extends CompKind; case object Dict extends CompKind
                    case object SetC extends CompKind; case object Gen extends CompKind }

  /** One patch assignment: `store.books[*].price: @ * 0.9 when cond`.
    * `value = None` encodes DELETE. */
  final case class PatchField(path: Vector[PatchStep], value: Option[Expr], when: Option[Expr])
  sealed trait PatchStep
  object PatchStep {
    final case class Field(name: String) extends PatchStep
    final case class Index(i: Long) extends PatchStep
    case object Wild extends PatchStep
    final case class WildIf(pred: Expr) extends PatchStep
    final case class Descendant(name: String) extends PatchStep
  }

  // ── traversal ──────────────────────────────────────────────────────
  // The one list of where a node keeps its sub-expressions (binder
  // bodies included); every walker over the AST derives from it, in
  // the way Catalyst's TreeNode derives its transforms from `children`.

  /** `e` rebuilt with `f` applied to every direct sub-expression:
    * lambda, let and comprehension bodies, pipe stages, patch targets,
    * values, `when` guards and `[* if p]` path guards, f-string
    * interpolations, object and array elements, and chain steps'
    * arguments ([[Step.mapChildren]]). Names are not expressions, so
    * `Ident`, shorthand object fields and bind stages stay as they are. */
  def mapChildren(e: Expr)(f: Expr => Expr): Expr = e match {
    case Root | Current | _: Lit | _: Ident => e
    case FString(ps) => FString(ps.map {
      case FPart.Interp(x, fmt) => FPart.Interp(f(x), fmt)
      case text                 => text
    })
    case ArrLit(es) => ArrLit(es.map {
      case ArrElem.One(x)    => ArrElem.One(f(x))
      case ArrElem.Spread(x) => ArrElem.Spread(f(x))
    })
    case ObjLit(fs) => ObjLit(fs.map {
      case ObjField.KV(k, v, w)   => ObjField.KV(f(k), f(v), w.map(f))
      case ObjField.OptKV(k, v)   => ObjField.OptKV(f(k), f(v))
      case ObjField.Dyn(k, v)     => ObjField.Dyn(f(k), f(v))
      case ObjField.Spread(x)     => ObjField.Spread(f(x))
      case ObjField.SpreadDeep(x) => ObjField.SpreadDeep(f(x))
      case short                  => short
    })
    case Lambda(ps, body) => Lambda(ps, f(body))
    case Let(bs, body)    => Let(bs.map { case (n, x) => (n, f(x)) }, f(body))
    case Comp(kind, k, v, cls, cond) =>
      Comp(kind, f(k), v.map(f), cls.map { case (vs, src) => (vs, f(src)) }, cond.map(f))
    case GlobalCall(n, as) => GlobalCall(n, as.map(a => a.copy(e = f(a.e))))
    case Patch(t, fs) => Patch(f(t), fs.map(pf => PatchField(
      pf.path.map {
        case PatchStep.WildIf(p) => PatchStep.WildIf(f(p))
        case step                => step
      }, pf.value.map(f), pf.when.map(f))))
    case Chain(b, steps)  => Chain(f(b), steps.map(Step.mapChildren(_)(f)))
    case Unary(op, x)     => Unary(op, f(x))
    case Binary(op, l, r) => Binary(op, f(l), f(r))
    case IfElse(c, t, el) => IfElse(f(c), f(t), f(el))
    case TryElse(b, d)    => TryElse(f(b), f(d))
    case KindIs(x, k, n)  => KindIs(f(x), k, n)
    case Cast(x, to)      => Cast(f(x), to)
    case Pipe(b, steps) => Pipe(f(b), steps.map {
      case PipeStep.Forward(x) => PipeStep.Forward(f(x))
      case bind                => bind
    })
  }

  /** Direct sub-expressions of `e`, in [[mapChildren]]'s order. */
  def children(e: Expr): Vector[Expr] = collected(mapChildren(e)(_))

  /** `e` and every expression below it, pre-order. */
  def descendants(e: Expr): Iterator[Expr] =
    Iterator.single(e) ++ children(e).iterator.flatMap(descendants)

  /** True when `p` holds for `e` or any expression below it. */
  def exists(e: Expr)(p: Expr => Boolean): Boolean = descendants(e).exists(p)

  private def collected(walk: (Expr => Expr) => Any): Vector[Expr] = {
    val out = Vector.newBuilder[Expr]
    walk { x => out += x; x }
    out.result()
  }
}
