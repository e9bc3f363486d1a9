package graft.jexpr

import Expr._

/** Structural patches: `patch $ { path: value when cond, … }` plus the
  * chain-write sugar (`.set/.modify/.delete/.unset`).
  *
  * Semantics from the reference (INDEPTH.md §10/§12,
  * /root/reference/jetro-core/src/parse/ast.rs:168-208): each field is a
  * path of steps (`.f`, `[n]`, `[*]`, `[* if pred]`, `..f`); at each
  * matched leaf the value expression runs with `@` bound to the old
  * leaf; `when` guards per leaf; value DELETE (None) removes the leaf.
  * Missing intermediate objects are created for plain field steps.
  *
  * `@` and `when` guards bind against the PRE-BATCH document — the value
  * before ANY field of this patch applied — not the rolling state left
  * by earlier fields (reference patch_fusion_soundness.rs
  * `modify_after_set_reads_prebatch_value` / `conditional_reads_prebatch_state`
  * lock exactly this weakening of the write-fusion plan). Structural
  * application still folds in source order, so same-path writes are
  * last-wins.
  *
  * A write that never fired — falsy `when`, index out of range, wildcard
  * over a non-container — propagates as [[Skipped]], so missing
  * intermediate fields are NOT synthesized for it (chain_write.rs:262+).
  * A write whose VALUE is null still fires and creates the leaf
  * (chain_write.rs:452-471 pins `$.b.set(@)` on a missing `b` → b:null).
  */
object PatchEval {

  private sealed trait Res
  private final case class Changed(v: JValue) extends Res
  private case object Deleted extends Res
  private case object Skipped extends Res

  def apply(target: JValue, fields: Vector[PatchField], env: Env): JValue =
    fields.foldLeft(target) { (acc, f) =>
      patch(acc, target, f.path.toList, f, env) match {
        case Changed(v) => v
        case Deleted    => JNull // whole doc deleted
        case Skipped    => acc
      }
    }

  /** `orig` is the pre-batch node at the same path (JNull when the path
    * did not exist pre-batch) — the binding for `@` and `when`. */
  private def patch(node: JValue, orig: JValue, path: List[PatchStep], f: PatchField, env: Env): Res =
    path match {
      case Nil =>
        val leafEnv = env.withCurrent(orig)
        if (!f.when.forall(w => Interp.eval(w, leafEnv).truthy)) Skipped
        else f.value match {
          case None => Deleted
          // a lambda value applies to the old leaf (tier1_chain_modify_lambda)
          case Some(l @ Expr.Lambda(_, _)) => Changed(Interp.body(l, leafEnv)(orig))
          case Some(v) => Changed(Interp.eval(v, leafEnv))
        }
      case PatchStep.Field(name) :: rest =>
        val fields = node match {
          case JObj(fs) => fs
          case _        => Fields.empty
        }
        val child = fields.getOrElse(name, JNull)
        val origChild = orig match {
          case JObj(fs) => fs.getOrElse(name, JNull)
          case _        => JNull
        }
        patch(child, origChild, rest, f, env) match {
          case Changed(nv) => Changed(JObj(fields + (name -> nv)))
          case Deleted     => Changed(JObj(fields - name))
          case Skipped     => Skipped
        }
      case PatchStep.Index(i) :: rest => node match {
        case JArr(xs) =>
          val idx = (if (i < 0) xs.length + i else i).toInt
          if (idx < 0 || idx >= xs.length) Skipped
          else {
            val origAt = orig match {
              case JArr(os) =>
                val oi = (if (i < 0) os.length + i else i).toInt
                if (oi >= 0 && oi < os.length) os(oi) else JNull
              case _ => JNull
            }
            patch(xs(idx), origAt, rest, f, env) match {
              case Changed(nv) => Changed(JArr(xs.updated(idx, nv)))
              case Deleted     => Changed(JArr(xs.patch(idx, Nil, 1)))
              case Skipped     => Skipped
            }
          }
        case _ => Skipped
      }
      case PatchStep.Wild :: rest => node match {
        case JArr(xs) =>
          val os = orig match { case JArr(o) => o; case _ => Vector.empty }
          var any = false
          val out = xs.zipWithIndex.flatMap { case (x, i) =>
            patch(x, if (i < os.length) os(i) else JNull, rest, f, env) match {
              case Changed(nv) => any = true; Some(nv)
              case Deleted     => any = true; None
              case Skipped     => Some(x)
            }
          }
          if (any) Changed(JArr(out)) else Skipped
        case JObj(fs) =>
          val om = orig match { case JObj(o) => o; case _ => Fields.empty }
          var any = false
          val out = Fields.from(fs.iterator.flatMap { case (k, v) =>
            patch(v, om.getOrElse(k, JNull), rest, f, env) match {
              case Changed(nv) => any = true; Some(k -> nv)
              case Deleted     => any = true; None
              case Skipped     => Some(k -> v)
            }
          })
          if (any) Changed(JObj(out)) else Skipped
        case _ => Skipped
      }
      case PatchStep.WildIf(pred) :: rest => node match {
        case JArr(xs) =>
          val os = orig match { case JArr(o) => o; case _ => Vector.empty }
          var any = false
          val out = xs.zipWithIndex.flatMap { case (x, i) =>
            if (Interp.eval(pred, env.withCurrent(x)).truthy)
              patch(x, if (i < os.length) os(i) else JNull, rest, f, env) match {
                case Changed(nv) => any = true; Some(nv)
                case Deleted     => any = true; None
                case Skipped     => Some(x)
              }
            else Some(x)
          }
          if (any) Changed(JArr(out)) else Skipped
        case _ => Skipped
      }
      case PatchStep.Descendant(name) :: rest =>
        // apply at EVERY descendant entry named `name` (nearest match wins;
        // no further descent inside a patched subtree)
        def go(x: JValue, ox: JValue): (JValue, Boolean) = x match {
          case JObj(fs) =>
            val om = ox match { case JObj(o) => o; case _ => Fields.empty }
            var any = false
            val out = Fields.from(fs.iterator.flatMap { case (k, v) =>
              if (k == name) patch(v, om.getOrElse(k, JNull), rest, f, env) match {
                case Changed(nv) => any = true; Some(k -> nv)
                case Deleted     => any = true; None
                case Skipped     => Some(k -> v)
              } else {
                val (nv, a) = go(v, om.getOrElse(k, JNull))
                if (a) any = true
                Some(k -> nv)
              }
            })
            (JObj(out), any)
          case JArr(xs) =>
            val os = ox match { case JArr(o) => o; case _ => Vector.empty }
            var any = false
            val out = xs.zipWithIndex.map { case (v, i) =>
              val (nv, a) = go(v, if (i < os.length) os(i) else JNull)
              if (a) any = true
              nv
            }
            (JArr(out), any)
          case other => (other, false)
        }
        val (nv, any) = go(node, orig)
        if (any) Changed(nv) else Skipped
    }
}
