package graft.jexpr

import Expr._

final class EvalException(msg: String) extends RuntimeException(msg)

/** Evaluation environment: `$` root, `@` current, lexical bindings. */
final case class Env(root: JValue, current: JValue, vars: Map[String, JValue],
    rootAliases: Set[String] = Set.empty) {
  def withCurrent(c: JValue): Env = copy(current = c)
  def bind(n: String, v: JValue): Env =
    copy(vars = vars + (n -> v), rootAliases = rootAliases - n)
  def bindRootAlias(n: String, v: JValue): Env =
    copy(vars = vars + (n -> v), rootAliases = rootAliases + n)
}

/** Tree-walk evaluator for document mode — the semantic anchor,
  * mirroring the role of the reference's VM backend
  * (/root/reference/jetro-core/src/vm/exec.rs) with the semantics
  * re-derived from its published behavior: truthiness, Int/Float
  * promotion, null-as-missing, value-preserving `or`, `try` catching
  * both errors and null, float division with a division-by-zero error.
  */
object Interp {
  def err(msg: String): Nothing = throw new EvalException(msg)

  def evalQuery(e: Expr, doc: JValue): JValue =
    eval(e, Env(doc, doc, Map.empty))

  def eval(e: Expr, env: Env): JValue = e match {
    case Root        => env.root
    case Current     => env.current
    case Lit(v)      => v
    case id @ Ident(name) =>
      // a default that reads `env` would be a closure made per lookup
      val bound = env.vars.getOrElse(name, null)
      if (bound != null) bound
      else {
        // bare builtin name over an ARRAY or STRING current applies the
        // zero-arg builtin — `map(len)` on strings is len(@), not a
        // field lookup (reference exec.rs:829-846 LoadIdent). Objects
        // and numbers keep plain field semantics. The name check is
        // memoised per AST node (Ident.isBuiltinName).
        val asBuiltin = env.current match {
          case JArr(_) | JStr(_) => id.isBuiltinName
          case _                 => false
        }
        if (asBuiltin) Builtins.call(name, env.current, Vector.empty, env)
        else fieldOf(env.current, name)
      }
    case Lambda(ps, body) => JFun(ps, body, env.vars)
    case FString(parts)   => JStr(parts.map(fpart(_, env)).mkString)
    case ArrLit(elems)    =>
      JArr(elems.flatMap {
        case ArrElem.One(x)    => Vector(eval(x, env))
        case ArrElem.Spread(x) => eval(x, env) match {
          case JArr(xs) => xs
          case JNull    => Vector.empty
          case other    => Vector(other)
        }
      })
    case ObjLit(fields) => evalObjLit(fields, env)
    case Let(binds, body) =>
      val env2 = binds.foldLeft(env) { case (acc, (n, init)) =>
        val v = eval(init, acc)
        // an init that is itself a root write yields the post-init root
        // doc — mark the binding so body chain-writes against it lift,
        // and roll `$` forward so root reads/writes in the body observe
        // the post-init state (patch_fusion_soundness.rs
        // let_alias_to_root_then_chain_write_via_root_fuses)
        if (isRootWrite(init, acc)) acc.bindRootAlias(n, v).copy(root = v)
        else acc.bind(n, v)
      }
      eval(body, env2)
    case Comp(kind, keyE, valE, clauses, condE) => evalComp(kind, keyE, valE, clauses, condE, env)
    case GlobalCall(name, args) => globalCall(name, args, env)
    case Chain(base, steps) =>
      // `.set/.modify/.delete/.unset/.merge` desugar to a patch ONLY on
      // $-rooted chains (INDEPTH.md §10 "Rooted $.<path> chains") and
      // return the whole written document; non-rooted forms stay plain
      // method calls (tier1_non_root_set_is_method_call). A let-bound
      // name whose init was itself a root write aliases the post-init
      // root doc, so chain-writes against it lift too
      // (patch_fusion_soundness.rs let_aliases_root_and_fuses).
      val liftable = base == Root || (base match {
        case Ident(n) => env.rootAliases.contains(n)
        case _        => false
      })
      val write = if (liftable) chainWrite(steps, env) else None
      write match {
        case Some((pf, rest)) =>
          val patched = PatchEval.apply(eval(base, env), Vector(pf), env)
          if (rest.isEmpty) patched else evalChain(patched, rest, env)
        case None => evalChain(eval(base, env), steps, env)
      }
    case Pipe(base, steps) =>
      // a pipeline of ≥2 chain-writes all against the SAME non-root
      // binding fuses into one patch on that binding's value — the
      // lambda-body write-fusion shape (patch_fusion_phase_e.rs); a
      // single write keeps the v1 rhs-value semantics
      fusedBindingWrites(base, steps, env).getOrElse {
        val bv = eval(base, env)
        // a root WRITE rolls the document forward: later stages' `$`
        // is the patched doc (patch_fusion_soundness.rs
        // three_chained_sets_apply_in_order), and `@`-rooted
        // chain-writes in later stages target that same rolled doc
        // (chain_write.rs phaseb_pipe_chain_fuses_at_rooted_stages)
        val rolled = isRootWrite(base, env)
        val e1 = if (rolled) env.copy(root = bv) else env
        evalPipe(bv, steps, e1, rolled)
      }
    case Unary("-", x) => eval(x, env) match {
      case JInt(n)   => JInt(-n)
      case JFloat(f) => JFloat(-f)
      case _         => err("unary minus requires a number")
    }
    case Unary("not", x) => JBool(!eval(x, env).truthy)
    case Unary(op, _)    => err(s"unknown unary $op")
    case Binary(op, l, r) => binop(op, l, r, env)
    case IfElse(c, t, f)  => if (eval(c, env).truthy) eval(t, env) else eval(f, env)
    case TryElse(body, default) =>
      // reference vm/exec.rs: Ok(non-null) → value; null or error → default
      (try eval(body, env) catch { case _: EvalException | _: JsonParseException => JNull }) match {
        case JNull => eval(default, env)
        case v     => v
      }
    case KindIs(x, k, neg) =>
      val is = eval(x, env).kind == k
      JBool(if (neg) !is else is)
    case Cast(x, to) => cast(eval(x, env), to)
    case Patch(target, fields) => PatchEval.apply(eval(target, env), fields, env)
  }

  // ── navigation ───────────────────────────────────────────────────────

  /** Field access: object-only, null on anything else (vm GetField). */
  def fieldOf(v: JValue, name: String): JValue = v match {
    case JObj(fs) => fs.getOrElse(name, JNull)
    case _        => JNull
  }

  def indexOf(v: JValue, i: Long): JValue = v match {
    case JArr(xs) =>
      val idx = if (i < 0) xs.length + i else i
      if (idx >= 0 && idx < xs.length) xs(idx.toInt) else JNull
    case JStr(s) =>
      val idx = if (i < 0) s.length + i else i
      if (idx >= 0 && idx < s.length) JStr(s.charAt(idx.toInt).toString) else JNull
    case _ => JNull
  }

  def sliceOf(v: JValue, from: Option[Long], to: Option[Long]): JValue = {
    def clamp(i: Long, len: Int): Int = {
      val j = if (i < 0) len + i else i
      math.max(0, math.min(len, j)).toInt
    }
    v match {
      case JArr(xs) =>
        val a = clamp(from.getOrElse(0L), xs.length)
        val b = clamp(to.getOrElse(xs.length.toLong), xs.length)
        JArr(if (a < b) xs.slice(a, b) else Vector.empty)
      case JStr(s) =>
        val a = clamp(from.getOrElse(0L), s.length)
        val b = clamp(to.getOrElse(s.length.toLong), s.length)
        JStr(if (a < b) s.substring(a, b) else "")
      case _ => JNull
    }
  }

  private def isWriteMethod(s: Step): Boolean = s match {
    case Step.Method("set" | "modify", as)       => as.length == 1
    case Step.Method("delete", as)               => as.isEmpty
    case Step.Method("unset", as)                => as.length == 1
    case Step.Method("merge" | "deep_merge", as) => as.nonEmpty
    case _                                       => false
  }

  /** Does `e` evaluate to the (whole) patched root document? True for
    * root-based chain-writes ending in the write and for patches whose
    * target is the root (directly or through a root alias). Used to
    * roll `$` forward across pipe stages and to mark let bindings. */
  private def isRootWrite(e: Expr, env: Env): Boolean = e match {
    case Chain(Root, steps) =>
      steps.nonEmpty && isWriteMethod(steps.last)
    case Chain(Ident(n), steps) if env.rootAliases.contains(n) =>
      steps.nonEmpty && isWriteMethod(steps.last)
    // NOT Patch(Chain(Root, steps), _): that expression evaluates to the
    // patched SUB-value (PatchEval over eval(target)), not the whole
    // document — rolling `$` forward to it would resolve later stages
    // against the sub-document.
    case Patch(Root, _)     => true
    case Patch(Ident(n), _) => env.rootAliases.contains(n)
    case _                        => false
  }

  /** Pipeline of ≥2 chain-writes, every stage against the SAME non-root
    * binding: fuse into one patch batch on the binding's value and
    * return the patched value (reference patch_fusion_phase_e.rs E1/E2).
    * Anything else — a single write, a read between writes, mixed
    * bases — returns None and keeps per-stage v1 semantics. */
  private def fusedBindingWrites(
      base: Expr, steps: Vector[PipeStep], env: Env): Option[JValue] =
    base match {
      case Chain(Ident(x), s0)
          if env.vars.contains(x) && !env.rootAliases.contains(x) =>
        val stageSteps = steps.map {
          case PipeStep.Forward(Chain(Ident(`x`), s)) => s
          case _                                      => return None
        }
        val all = s0 +: stageSteps
        if (all.length < 2) return None
        val pfs = all.map { s =>
          chainWrite(s, env) match {
            case Some((pf, rest)) if rest.isEmpty => pf
            case _                                => return None
          }
        }
        Some(PatchEval.apply(env.vars(x), pfs, env))
      case _ => None
    }

  /** Detects a chain-write method (`set(v)`, `modify(e)`, `delete()`,
    * `unset(k)`) whose preceding steps form a pure path, and returns the
    * equivalent PatchField plus the steps remaining after the write.
    * Non-path prefixes (method calls, slices, pipes) fall through to the
    * ordinary builtin dispatch, mirroring the reference's rooted-chain
    * restriction on the sugar.
    */
  private def chainWrite(steps: Vector[Step], env: Env): Option[(PatchField, Vector[Step])] = {
    val wi = steps.indexWhere {
      case Step.Method("set", as)    => as.length == 1
      case Step.Method("modify", as) => as.length == 1
      case Step.Method("delete", as) => as.isEmpty
      case Step.Method("unset", as)  => as.length == 1
      case Step.Method("merge" | "deep_merge", as) => as.nonEmpty
      case _ => false
    }
    if (wi < 0) return None
    val path = Vector.newBuilder[PatchStep]
    var ok = true
    steps.take(wi).foreach {
      case Step.Field(n)                     => path += PatchStep.Field(n)
      case Step.Index(Lit(JInt(i)))          => path += PatchStep.Index(i)
      case Step.Index(e) => // dynamic index: resolved once, against root scope
        (try eval(e, env) catch { case _: EvalException => JNull }) match {
          case JInt(i) => path += PatchStep.Index(i)
          case JStr(f) => path += PatchStep.Field(f)
          case _       => ok = false
        }
      case Step.MapShape(None, Current)      => path += PatchStep.Wild // `[*]`
      case Step.InlineFilter(p)              => path += PatchStep.WildIf(p)
      case Step.Descendant(Some(n))          => path += PatchStep.Descendant(n)
      case _                                 => ok = false
    }
    if (!ok) return None
    val rest = steps.drop(wi + 1)
    steps(wi) match {
      case Step.Method("set", as)    => Some((PatchField(path.result(), Some(as(0).e), None), rest))
      case Step.Method("modify", as) => Some((PatchField(path.result(), Some(as(0).e), None), rest))
      case Step.Method("delete", _)  => Some((PatchField(path.result(), None, None), rest))
      case Step.Method("unset", as)  =>
        val key = as(0).e match {
          case Ident(n)     => n
          case Lit(JStr(s)) => s
          case e            => JValue.display(eval(e, env))
        }
        Some((PatchField(path.result() :+ PatchStep.Field(key), None, None), rest))
      case Step.Method(m @ ("merge" | "deep_merge"), as) =>
        // rooted `.merge(o)` writes the merged object back
        // (regression.rs tier1_chain_merge / tier1_chain_deep_merge)
        val valueE = Chain(Current, Vector(Step.Method(m, as)))
        Some((PatchField(path.result(), Some(valueE), None), rest))
      case _ => None
    }
  }

  private def evalChain(base: JValue, steps: Vector[Step], env: Env): JValue = {
    var v = base
    var i = 0
    while (i < steps.length) {
      val prevWasOptional = i > 0 && steps(i - 1) == Step.Optional
      steps(i) match {
        case Step.Field(n)    => v = fieldOf(v, n)
        case Step.DynField(e) => eval(e, env) match {
          case JStr(s) => v = fieldOf(v, s)
          case JInt(n) => v = indexOf(v, n)
          case _       => v = JNull
        }
        case Step.Method(name, args) =>
          if (v == JNull && prevWasOptional) () // `.m()?`-guarded: skip on null
          else v = Builtins.call(name, v, args, env)
        case Step.DeepMethod(name, args) => v = Builtins.deepCall(name, v, args, env)
        case Step.Descendant(name)       => v = JArr(Deep.descend(v, name))
        case Step.Index(e) => eval(e, env) match {
          case JInt(n) => v = indexOf(v, n)
          case JStr(s) => v = fieldOf(v, s)
          case _       => v = JNull
        }
        case Step.Slice(a, b)      => v = sliceOf(v, a, b)
        case Step.InlineFilter(p)  => v = v match {
          case JArr(xs) => JArr(xs.filter(x => eval(p, env.withCurrent(x)).truthy))
          case other    => if (eval(p, env.withCurrent(other)).truthy) other else JNull
        }
        case Step.MapShape(pred, shape) => v = v match {
          case JArr(xs) =>
            val kept = pred.fold(xs)(p => xs.filter(x => eval(p, env.withCurrent(x)).truthy))
            JArr(kept.map(x => eval(shape, env.withCurrent(x))))
          case _ => JNull
        }
        case Step.Optional => v = v match {
          case JArr(xs) => xs.headOption.getOrElse(JNull)
          case other    => other
        }
        case Step.ExactlyOne => v = v match {
          case JArr(xs) if xs.length == 1 => xs.head
          case JArr(xs)                   => err(s"expected exactly one element, got ${xs.length}")
          case JNull                      => err("expected exactly one element, got null")
          case other                      => other
        }
      }
      i += 1
    }
    v
  }

  private def evalPipe(base: JValue, steps: Vector[PipeStep], env: Env,
                       rolled0: Boolean): JValue = {
    var v = base
    var e = env
    var rolled = rolled0
    steps.foreach {
      // bare identifier in a pipe: field of the piped value when present,
      // else a zero-arg builtin call (`xs | len` ≡ xs.len(), SYNTAX.md
      // free-function style); unknown names stay null like field misses
      case PipeStep.Forward(Ident(n)) if !e.vars.contains(n) =>
        v = fieldOf(v, n) match {
          case JNull =>
            try Builtins.call(n, v, Vector.empty, e)
            catch { case _: EvalException => JNull }
          case fv => fv
        }
        rolled = false // v is now a sub-value, not the rolled document
      // `xs | filter(pred)` — a call in a pipe is a method application on
      // the piped value (examples.rs complex_pipeline_reshape), unless the
      // name is a lambda binding or a true global
      case PipeStep.Forward(GlobalCall(n, args))
          if !e.vars.contains(n) &&
             !Set("coalesce", "chain", "join", "zip", "zip_longest",
                  "product", "range", "to_string", "type_of", "len")(n) =>
        v = Builtins.call(n, v, args, e.withCurrent(v))
        rolled = false // a method application ends the write pipeline
      case PipeStep.Forward(expr0) =>
        // when the pipeline head wrote the root, `@` in a stage IS the
        // rolled document, so `@.path.set(v)` is a patch against it —
        // the reference's phase-B pipe fusion shape (patch_fusion.rs:
        // 1382-1390 canonicalises a stage's Current root to the acc)
        val lifted =
          if (!rolled) None
          else expr0 match {
            case Chain(Current, s) =>
              chainWrite(s, e.withCurrent(v)).map { case (pf, rest) =>
                val ec = e.withCurrent(v)
                val patched = PatchEval.apply(v, Vector(pf), ec)
                (if (rest.isEmpty) patched else evalChain(patched, rest, ec),
                  rest.isEmpty)
              }
            case _ => None
          }
        lifted match {
          case Some((nv, pureWrite)) =>
            v = nv
            // a pure write keeps the pipeline on the rolled document;
            // trailing reads after the write yield a plain value
            if (pureWrite) e = e.copy(root = v) else rolled = false
          case None =>
            v = eval(expr0, e.withCurrent(v))
            // a root write rolls `$` forward for the remaining stages;
            // any other stage ends the write pipeline (the reference
            // fuses `@`-writes only while the acc is still one Patch)
            rolled = isRootWrite(expr0, e)
            if (rolled) e = e.copy(root = v)
        }
      case PipeStep.BindName(n)    => e = e.bind(n, v)
      case PipeStep.BindObj(names, rest) => v match {
        case JObj(fs) =>
          names.foreach(n => e = e.bind(n, fs.getOrElse(n, JNull)))
          rest.foreach { r => e = e.bind(r, JObj(fs.filterNot { case (k, _) => names.contains(k) })) }
        case _ => names.foreach(n => e = e.bind(n, JNull)); rest.foreach(r => e = e.bind(r, JObj.empty))
      }
      case PipeStep.BindArr(names) => v match {
        case JArr(xs) => names.zipWithIndex.foreach { case (n, i) =>
          e = e.bind(n, if (i < xs.length) xs(i) else JNull) }
        case _ => names.foreach(n => e = e.bind(n, JNull))
      }
    }
    v
  }

  private def evalObjLit(fields: Vector[ObjField], env: Env): JValue = {
    val out = Fields.newBuilder
    def keyOf(e: Expr): String = eval(e, env) match {
      case JStr(s) => s
      case other   => JValue.display(other)
    }
    fields.foreach {
      case ObjField.Short(n)    => out.add(n, eval(Ident(n), env))
      case ObjField.OptShort(n) =>
        eval(Ident(n), env) match { case JNull => (); case v => out.add(n, v) }
      case ObjField.KV(k, v, when) =>
        if (when.forall(w => eval(w, env).truthy)) out.add(keyOf(k), eval(v, env))
      case ObjField.OptKV(k, v) =>
        eval(v, env) match { case JNull => (); case x => out.add(keyOf(k), x) }
      case ObjField.Dyn(k, v) => out.add(keyOf(k), eval(v, env))
      case ObjField.Spread(e) => eval(e, env) match {
        case JObj(fs) => fs.foreachEntry((k, v) => out.add(k, v))
        case JNull    => ()
        case _        => ()
      }
      case ObjField.SpreadDeep(e) => eval(e, env) match {
        // deep_merge_concat semantics: objects recurse, arrays at the
        // same key CONCATENATE (reference regression.rs
        // spread_deep_concatenates_arrays), scalars replace
        case JObj(fs) => fs.foreachEntry { (k, v) =>
          out.add(k, out.get(k) match {
            case Some(prev) => Builtins.deepMergeConcat(prev, v)
            case None       => v
          })
        }
        case _ => ()
      }
    }
    JObj(out.result())
  }

  private def evalComp(kind: CompKind, keyE: Expr, valE: Option[Expr],
                       clauses: Vector[(Vector[String], Expr)],
                       condE: Option[Expr], env: Env): JValue = {
    // expand clauses left-to-right into the cross-product of environments
    def expand(cs: List[(Vector[String], Expr)], e: Env): Vector[Env] = cs match {
      case Nil => Vector(e)
      case (vars, srcE) :: rest =>
        val pairs: Vector[(JValue, JValue)] = eval(srcE, e) match {
          case JArr(xs) => xs.zipWithIndex.map { case (x, i) => (JInt(i.toLong), x) }
          case JObj(fs) => fs.toVector.map { case (k, v) => (JStr(k), v) }
          case JNull    => Vector.empty
          case other    => Vector((JInt(0), other))
        }
        pairs.flatMap { case (k, v) =>
          val bound =
            if (vars.length == 2) e.bind(vars(0), k).bind(vars(1), v)
            else e.bind(vars(0), v)
          expand(rest, bound.withCurrent(v))
        }
    }
    val kept = expand(clauses.toList, env).filter(e => condE.forall(c => eval(c, e).truthy))
    kind match {
      case CompKind.List | CompKind.Gen => JArr(kept.map(eval(keyE, _)))
      case CompKind.SetC =>
        val seen = scala.collection.mutable.LinkedHashSet.empty[String]
        val out = Vector.newBuilder[JValue]
        kept.foreach { e =>
          val x = eval(keyE, e)
          if (seen.add(x.render)) out += x
        }
        JArr(out.result())
      case CompKind.Dict =>
        val out = Fields.newBuilder
        kept.foreach { e =>
          val kk = eval(keyE, e) match {
            case JStr(s) => s
            case other   => JValue.display(other)
          }
          out.add(kk, eval(valE.get, e))
        }
        JObj(out.result())
    }
  }

  private def fpart(p: FPart, env: Env): String = p match {
    case FPart.Text(s)            => s
    case FPart.Interp(e, None)    => JValue.display(eval(e, env))
    case FPart.Interp(e, Some(f)) => applyFmtSpec(eval(e, env), f)
  }

  /** Python-ish format specs, matching the reference's supported subset
    * (vm/exec.rs:3112-3143): `.Nf`, `d`, `>N`, `<N`, `^N`, `0N`. */
  def applyFmtSpec(v: JValue, spec: String): String = {
    if (spec.endsWith("f") && spec.startsWith(".")) {
      spec.substring(1, spec.length - 1).toIntOption match {
        case Some(prec) => JValue.asNum(v) match {
          case Some(f) => String.format(s"%.${prec}f", Double.box(f))
          case None    => JValue.display(v)
        }
        case None => JValue.display(v)
      }
    } else if (spec == "d") {
      v match {
        case JInt(n)   => n.toString
        case JFloat(f) => f.toLong.toString
        case _         => JValue.display(v)
      }
    } else {
      val s = JValue.display(v)
      def pad(w: Int, left: Boolean): String =
        if (s.length >= w) s
        else if (left) s + " " * (w - s.length)
        else " " * (w - s.length) + s
      if (spec.startsWith(">")) spec.drop(1).toIntOption.fold(s)(w => pad(w, left = false))
      else if (spec.startsWith("<")) spec.drop(1).toIntOption.fold(s)(w => pad(w, left = true))
      else if (spec.startsWith("^")) spec.drop(1).toIntOption.fold(s) { w =>
        if (s.length >= w) s else {
          val total = w - s.length; val l = total / 2
          " " * l + s + " " * (total - l)
        }
      }
      else if (spec.startsWith("0")) spec.drop(1).toIntOption.fold(s) { w =>
        v match {
          case JInt(n)  => val t = n.toString; if (t.length >= w) t else "0" * (w - t.length) + t
          case _        => s
        }
      }
      else s
    }
  }

  // ── operators ────────────────────────────────────────────────────────

  private def binop(op: String, lE: Expr, rE: Expr, env: Env): JValue = op match {
    case "and" =>
      val l = eval(lE, env)
      if (!l.truthy) JBool(false) else JBool(eval(rE, env).truthy)
    case "or" => // value-preserving (vm OrOp)
      val l = eval(lE, env)
      if (l.truthy) l else eval(rE, env)
    case "??" =>
      val l = try eval(lE, env) catch { case _: EvalException => JNull }
      if (l != JNull) l else eval(rE, env)
    case "has" => JBool(Builtins.membership(eval(lE, env), eval(rE, env)))
    case _ =>
      val l = eval(lE, env)
      val r = eval(rE, env)
      op match {
        case "+" => (l, r) match {
          case (JInt(x), JInt(y))     => JInt(x + y)
          case (JFloat(x), JFloat(y)) => JFloat(x + y)
          case (JInt(x), JFloat(y))   => JFloat(x + y)
          case (JFloat(x), JInt(y))   => JFloat(x + y)
          case (JStr(x), JStr(y))     => JStr(x + y)
          case (JArr(x), JArr(y))     => JArr(x ++ y)
          case _                      => err("+ not supported between these types")
        }
        case "-" => numOp(l, r, _ - _, _ - _)
        case "*" => numOp(l, r, _ * _, _ * _)
        case "%" =>
          // integer % 0 must be a catchable EvalException (so try/??
          // take their default and the per-row UDFs null the row), not
          // a raw ArithmeticException that escapes the interpreter's
          // error contract and kills the executor task
          (l, r) match {
            case (JInt(_), JInt(0)) => err("modulo by zero")
            case _ => numOp(l, r, _ % _, _ % _) // float lane: % 0 is NaN
          }
        case "/" =>
          val b = JValue.asNum(r).getOrElse(0.0)
          if (b == 0.0) err("division by zero")
          JFloat(JValue.asNum(l).getOrElse(0.0) / b)
        case "==" => JBool(JValue.eq(l, r))
        case "!=" => JBool(!JValue.eq(l, r))
        case "<"  => JBool(JValue.cmpOk(l, r) && JValue.cmp(l, r) < 0)
        case "<=" => JBool(JValue.cmpOk(l, r) && JValue.cmp(l, r) <= 0)
        case ">"  => JBool(JValue.cmpOk(l, r) && JValue.cmp(l, r) > 0)
        case ">=" => JBool(JValue.cmpOk(l, r) && JValue.cmp(l, r) >= 0)
        case "~=" => // case-insensitive bidirectional substring (vm Fuzzy)
          val ls = JValue.display(l).toLowerCase
          val rs = JValue.display(r).toLowerCase
          JBool(ls.contains(rs) || rs.contains(ls))
        case _ => err(s"unknown operator $op")
      }
  }

  private def numOp(l: JValue, r: JValue, fi: (Long, Long) => Long, ff: (Double, Double) => Double): JValue =
    (l, r) match {
      case (JInt(x), JInt(y))     => JInt(fi(x, y))
      case (JFloat(x), JFloat(y)) => JFloat(ff(x, y))
      case (JInt(x), JFloat(y))   => JFloat(ff(x.toDouble, y))
      case (JFloat(x), JInt(y))   => JFloat(ff(x, y.toDouble))
      case _                      => err("arithmetic on non-numbers")
    }

  /** `as <type>` cast (reference vm/exec.rs:3044-3109). */
  def cast(v: JValue, to: String): JValue = to match {
    case "string" => JStr(JValue.display(v))
    case "bool"   => JBool(v.truthy)
    case "number" | "float" => v match {
      case JInt(n)   => JFloat(n.toDouble)
      case JFloat(_) => v
      case JStr(s)   => s.toDoubleOption.map(JFloat(_)).getOrElse(err(s"as float: bad number '$s'"))
      case JBool(b)  => JFloat(if (b) 1.0 else 0.0)
      case JNull     => JFloat(0.0)
      case _         => err("as float: cannot convert")
    }
    case "int" => v match {
      case JInt(_)   => v
      case JFloat(f) => JInt(f.toLong)
      case JStr(s)   => s.toLongOption.orElse(s.toDoubleOption.map(_.toLong)).map(JInt(_))
                          .getOrElse(err(s"as int: bad number '$s'"))
      case JBool(b)  => JInt(if (b) 1L else 0L)
      case JNull     => JInt(0L)
      case _         => err("as int: cannot convert")
    }
    case "array" => v match {
      case JArr(_) => v
      case JNull   => JArr(Vector.empty)
      case other   => JArr(Vector(other))
    }
    case "object" => v match {
      case JObj(_) => v
      case _       => err("as object: cannot convert non-object")
    }
    case "null" => JNull
    case other  => err(s"unknown cast type $other")
  }

  // ── lambda application / method-body protocol ────────────────────────

  /** Compile a method-body argument into elem → value. A lambda literal
    * or lambda-valued variable applies with its params bound; any other
    * expression evaluates with `@` = the element and bare idents falling
    * through to the element's fields (reference defs.rs:74-90). */
  def body(argE: Expr, env: Env): JValue => JValue = argE match {
    case Lambda(ps, b) =>
      elem => applyFun(JFun(ps, b, env.vars), Vector(elem), env)
    case Ident(n) if env.vars.get(n).exists(_.isInstanceOf[JFun]) =>
      val f = env.vars(n).asInstanceOf[JFun]
      elem => applyFun(f, Vector(elem), env)
    case other =>
      elem => eval(other, env.withCurrent(elem))
  }

  def applyFun(f: JFun, args: Vector[JValue], env: Env): JValue = {
    var vars = env.vars ++ f.captured
    f.params.zipWithIndex.foreach { case (p, i) =>
      vars += p -> (if (i < args.length) args(i) else JNull)
    }
    eval(f.body, Env(env.root, args.headOption.getOrElse(env.current), vars))
  }

  // ── global (free-function) calls ─────────────────────────────────────

  private def globalCall(name: String, args: Vector[Arg], env: Env): JValue = name match {
    case "coalesce" =>
      args.iterator
        .map(a => try eval(a.e, env) catch { case _: EvalException => JNull })
        .find(_ != JNull).getOrElse(JNull)
    case "chain" | "join" => // concatenate arrays; scalars (incl null) push through
      JArr(args.flatMap(a => eval(a.e, env) match {
        case JArr(xs) => xs
        case other    => Vector(other)
      }))
    case "range" => // range(n) / range(from, to) / range(from, to, step)
      val ns = args.map(a => eval(a.e, env) match {
        case JInt(n) => n
        case other   => err(s"range: expected integer arg, got ${other.kind}")
      })
      val (from, upto, step) = ns match {
        case Vector(n)       => (0L, n, 1L)
        case Vector(f, u)    => (f, u, 1L)
        case Vector(f, u, s) => (f, u, s)
        case _               => err(s"range: expected 1..3 args, got ${ns.length}")
      }
      if (step == 0) JArr(Vector.empty)
      else {
        val out = Vector.newBuilder[JValue]
        var i = from
        while (if (step > 0) i < upto else i > upto) { out += JInt(i); i += step }
        JArr(out.result())
      }
    case "zip" =>
      val xs = args.map(a => eval(a.e, env))
      Builtins.call("zip", xs.head, Vector(Arg(None, Lit(xs(1)))), env)
    case "zip_longest" =>
      val xs = args.map(a => eval(a.e, env))
      Builtins.call("zip_longest", xs.head, Vector(Arg(None, Lit(xs(1)))), env)
    case "product" =>
      val xs = args.map(a => eval(a.e, env))
      (xs(0), xs(1)) match {
        case (JArr(a), JArr(b)) => JArr(for { x <- a; y <- b } yield JArr(Vector(x, y)))
        case _                  => JNull
      }
    // argless forms operate on `@` (pipe usage: `x | to_string()`)
    case "to_string" =>
      JStr(JValue.display(args.headOption.map(a => eval(a.e, env)).getOrElse(env.current)))
    case "type_of" =>
      JStr(args.headOption.map(a => eval(a.e, env)).getOrElse(env.current).kind)
    case "len" =>
      Builtins.call("len",
        args.headOption.map(a => eval(a.e, env)).getOrElse(env.current), Vector.empty, env)
    case _ =>
      // lambda-in-scope call, else any builtin free-function style:
      // upper(x) ≡ x.upper() (SYNTAX.md:504-520)
      env.vars.get(name) match {
        case Some(f: JFun) => applyFun(f, args.map(a => eval(a.e, env)), env)
        case _ =>
          // empty args: method on `@` (compiler.rs:563-575 CallMethod on
          // current); with args: first arg is the receiver (free-function
          // style, compiler.rs:543-561)
          if (args.isEmpty) Builtins.call(name, env.current, Vector.empty, env)
          else Builtins.call(name, eval(args.head.e, env), args.tail, env)
      }
  }
}
