package graft.jexpr

import scala.collection.immutable.SeqMap
import scala.collection.mutable
import Expr.Arg
import Interp.err

/** Document-mode builtin methods — the §2 operator inventory of
  * SURVEY.md implemented over [[JValue]].
  *
  * Mirrors the catalog declared by the reference's `BuiltinMethod` enum
  * (/root/reference/jetro-core/src/builtins/mod.rs:18-401) with runtime
  * semantics re-derived from its published docs and op signatures
  * (builtins/ops/array.rs, collection.rs, string.rs, path.rs, misc.rs);
  * the code is written fresh for Scala. In
  * relational mode the same names lower to Catalyst (see
  * graft.queries.*); this registry is the completeness/semantics anchor.
  */
object Builtins {

  // ── helpers ──────────────────────────────────────────────────────────

  private def ev(a: Arg, env: Env): JValue = Interp.eval(a.e, env)

  private def evOpt(args: Vector[Arg], i: Int, env: Env): Option[JValue] =
    if (i < args.length) Some(ev(args(i), env)) else None

  private def intArg(args: Vector[Arg], i: Int, env: Env, default: Long = 0): Long =
    evOpt(args, i, env) match {
      case Some(JInt(n))   => n
      case Some(JFloat(f)) => f.toLong
      case Some(other)     => err(s"expected integer argument, got ${other.kind}")
      case None            => default
    }

  private def strArg(args: Vector[Arg], i: Int, env: Env): String =
    args.lift(i).map(_.e) match {
      // bare identifiers name the string directly — the reference's
      // args.str ident_arg short-circuit (mod.rs:529-537), which even
      // shadows a same-named binding: `explode(xs)` == `explode("xs")`
      case Some(Expr.Ident(n)) => n
      case _ => evOpt(args, i, env) match {
        case Some(JStr(s)) => s
        case Some(other)   => JValue.display(other)
        case None          => err("missing string argument")
      }
    }

  /** Body arg: the per-element expression/lambda, or identity when absent. */
  private def bodyOr(args: Vector[Arg], i: Int, env: Env): JValue => JValue =
    if (i < args.length) Interp.body(args(i).e, env) else identity

  /** Numeric-aggregate receiver rule (reference mod.rs:1485-1490,
    * string.rs:667-669): bare form on a non-array is null (None here);
    * projected form on a non-array is a loud error. */
  private def aggElems(name: String, recv: JValue, args: Vector[Arg]): Option[Vector[JValue]] =
    recv match {
      case JArr(xs)            => Some(xs)
      case _ if args.isEmpty   => None
      case other               => err(s"$name: expected array for numeric aggregate, got ${other.kind}")
    }

  private def elems(v: JValue): Vector[JValue] = v match {
    case JArr(xs) => xs
    case JNull    => Vector.empty
    case other    => Vector(other)
  }

  private def arrOnly(v: JValue, what: String): Vector[JValue] = v match {
    case JArr(xs) => xs
    case JNull    => Vector.empty
    case other    => err(s"$what requires an array, got ${other.kind}")
  }

  private def objOnly(v: JValue, what: String): SeqMap[String, JValue] = v match {
    case JObj(fs) => fs
    case JNull    => Fields.empty
    case other    => err(s"$what requires an object, got ${other.kind}")
  }

  private def strOnly(v: JValue): String = v match {
    case JStr(s) => s
    case other   => JValue.display(other)
  }

  /** val_to_key (reference util.rs:215-226). */
  def keyStr(v: JValue): String = JValue.display(v)

  /** Numeric lane extraction: numbers → Some, null → None; any other
    * element kind aborts (reference collection.rs numeric_options). */
  private def nums(v: JValue): Vector[Option[Double]] =
    arrOnly(v, "numeric op").map {
      case JInt(n)   => Some(n.toDouble)
      case JFloat(f) => Some(f)
      case JNull     => None
      case other     => err(s"numeric op on ${other.kind}")
    }

  private def numArr(xs: Vector[Option[Double]]): JValue =
    JArr(xs.map { case Some(f) => JFloat(f); case None => JNull })

  /** `has` / includes / contains (reference D:2564): array → element
    * equality, object → key existence, string → substring. */
  def membership(container: JValue, item: JValue): Boolean = container match {
    case JArr(xs) => xs.exists(JValue.eq(_, item))
    case JObj(fs) => item match { case JStr(k) => fs.contains(k); case _ => false }
    case JStr(s)  => s.contains(JValue.display(item))
    case _        => false
  }

  def deepMerge(a: JValue, b: JValue): JValue = (a, b) match {
    case (JObj(x), JObj(y)) =>
      var out = x
      y.foreach { case (k, v) =>
        out += k -> (x.get(k) match {
          case Some(xv) => deepMerge(xv, v)
          case None     => v
        })
      }
      JObj(out)
    case (_, other) => other
  }

  /** The `...**` deep-SPREAD merge: like [[deepMerge]], but array
    * values at the same key CONCATENATE instead of being overwritten
    * (reference util.rs:478-505 deep_merge_concat — distinct from the
    * `deep_merge` METHOD, which replaces arrays via util.rs:457). */
  def deepMergeConcat(a: JValue, b: JValue): JValue = (a, b) match {
    case (JObj(x), JObj(y)) =>
      var out = x
      y.foreach { case (k, v) =>
        out += k -> (x.get(k) match {
          case Some(xv) => deepMergeConcat(xv, v)
          case None     => v
        })
      }
      JObj(out)
    case (JArr(x), JArr(y)) => JArr(x ++ y)
    case (_, other)         => other
  }

  private def uniqueBy(xs: Vector[JValue], key: JValue => JValue): Vector[JValue] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    // keep-first by val_to_key (collection.rs:77-86, array.rs:273-289)
    // — the same display keying group_by/count_by/index_by use, under
    // which "1" and 1 COLLIDE (render-quoting would keep them apart)
    xs.filter(x => seen.add(keyStr(key(x))))
  }

  /** sort with `-key` meaning descending (SortSpec, pipeline.rs:182-205);
    * a two-param lambda is a less-than comparator (examples.rs:411).
    * Key sorts are stable both ways: equal keys keep input order, and
    * each element's key is evaluated once. */
  private def sorted(xs: Vector[JValue], args: Vector[Arg], env: Env): Vector[JValue] = {
    args.headOption.map(_.e) match {
      case Some(l @ Expr.Lambda(ps, _)) if ps.length == 2 =>
        val f = Interp.eval(l, env).asInstanceOf[JFun]
        xs.sortWith((a, b) => Interp.applyFun(f, Vector(a, b), env).truthy)
      case _ if xs.length < 2 => xs
      case _ =>
        val (keyFn, desc) =
          if (args.isEmpty) (identity[JValue] _, false)
          else args(0).e match {
            case Expr.Unary("-", inner) => (Interp.body(inner, env), true)
            case other                  => (Interp.body(other, env), false)
          }
        val byKey: Ordering[(JValue, JValue)] = (a, b) => JValue.cmp(a._1, b._1)
        xs.map(x => (keyFn(x), x)).sorted(if (desc) byKey.reverse else byKey).map(_._2)
    }
  }

  private def groupedBy(xs: Vector[JValue], key: JValue => JValue): Vector[(String, Vector[JValue])] = {
    var order = Vector.empty[String]
    val m = scala.collection.mutable.HashMap.empty[String, Vector[JValue]]
    xs.foreach { x =>
      val k = keyStr(key(x))
      if (!m.contains(k)) order :+= k
      m(k) = m.getOrElse(k, Vector.empty) :+ x
    }
    order.map(k => k -> m(k))
  }

  // ── deep (`$..find` / `..shape` / `..like`) ─────────────────────────

  def deepCall(name: String, recv: JValue, args: Vector[Arg], env: Env): JValue = name match {
    case "find" | "deep_find" =>
      // multi-arg form ANDs all predicates (complex_payload.rs q7)
      val ps = if (args.isEmpty) Vector((_: JValue) => JBool(true))
               else args.indices.map(i => bodyOr(args, i, env)).toVector
      JArr(Deep.find(recv, x => ps.forall(p => p(x).truthy)))
    case "shape" | "deep_shape" =>
      JArr(Deep.shape(recv, shapeKeys(args, env)))
    case "like" | "deep_like" =>
      JArr(Deep.like(recv, likeFields(args, env)))
    case other =>
      // `$..method(...)`: descend then call — e.g. `$..price.sum()` parses
      // as Descendant+Method, so only find/shape/like land here.
      call(other, JArr(Deep.allNodes(recv).drop(1)), args, env)
  }

  private def shapeKeys(args: Vector[Arg], env: Env): Vector[String] = args.headOption.map(_.e) match {
    case Some(Expr.ObjLit(fields)) => fields.collect {
      case Expr.ObjField.Short(n)                        => n
      case Expr.ObjField.KV(Expr.Lit(JStr(n)), _, _)     => n
    }
    case Some(e) => Interp.eval(e, env) match {
      case JArr(xs) => xs.map(keyStr)
      case JStr(s)  => Vector(s)
      case _        => Vector.empty
    }
    case None => Vector.empty
  }

  private def likeFields(args: Vector[Arg], env: Env): Vector[(String, JValue)] =
    args.headOption.map(_.e) match {
      case Some(Expr.ObjLit(fields)) => fields.collect {
        case Expr.ObjField.KV(Expr.Lit(JStr(n)), v, _) => n -> Interp.eval(v, env)
      }
      case Some(e) => Interp.eval(e, env) match {
        case JObj(fs) => fs.toVector
        case _        => Vector.empty
      }
      case None => Vector.empty
    }

  // ── the registry ─────────────────────────────────────────────────────

  def call(name: String, recv: JValue, args: Vector[Arg], env: Env): JValue = name match {

    // ═══ filters / projections (§2.2) ═══
    case "filter" | "find" | "find_all" | "where" =>
      // multi-arg form ANDs all predicates (deep_search.rs find_shallow_multi_pred_and)
      // one predicate, made once: a closure per element is slow to make
      val keep = args.indices.map(i => bodyOr(args, i, env))
        .foldLeft((_: JValue) => true)((acc, p) => x => acc(x) && p(x).truthy)
      JArr(elems(recv).filter(keep))
    case "map" =>
      val f = bodyOr(args, 0, env)
      JArr(elems(recv).map(f))
    case "flat_map" =>
      val f = bodyOr(args, 0, env)
      JArr(elems(recv).flatMap(x => f(x) match {
        case JArr(ys) => ys
        case JNull    => Vector.empty
        case other    => Vector(other)
      }))
    case "collect" => recv match { // M:98-99: scalar→[scalar], array→id, null→[]
      case JArr(_) => recv
      case JNull   => JArr(Vector.empty)
      case other   => JArr(Vector(other))
    }
    case "compact" => recv match { // drop nulls (M:116-117)
      case JArr(xs) => JArr(xs.filterNot(_ == JNull))
      case JObj(fs) => JObj(fs.filterNot(_._2 == JNull))
      case other    => other
    }
    case "remove" => // value or predicate form (M:134-135, D:148-163)
      val xs = arrOnly(recv, "remove")
      args.headOption.map(_.e) match {
        case Some(l @ Expr.Lambda(_, _)) =>
          val p = Interp.body(l, env); JArr(xs.filterNot(x => p(x).truthy))
        case Some(e) =>
          val v = Interp.eval(e, env)
          if (v.isInstanceOf[JFun]) {
            val p = Interp.body(e, env); JArr(xs.filterNot(x => p(x).truthy))
          } else JArr(xs.filterNot(JValue.eq(_, v)))
        case None => err("remove requires an argument")
      }
    case "find_first" | "find_one" => // filter → first element (D:975-1005)
      val p = bodyOr(args, 0, env)
      elems(recv).find(x => p(x).truthy).getOrElse(JNull)
    case "append" => // push to end (O:collection.rs:379)
      JArr(arrOnly(recv, "append") :+ evOpt(args, 0, env).getOrElse(JNull))
    case "prepend" => // insert at front (O:collection.rs:387)
      JArr(evOpt(args, 0, env).getOrElse(JNull) +: arrOnly(recv, "prepend"))
    case "flatten" => // concat nested arrays to depth, default 1 (D:850-862)
      def flat(v: JValue, d: Long): JValue = v match {
        case JArr(xs) if d > 0 =>
          JArr(xs.flatMap(x => flat(x, d - 1) match {
            case JArr(ys) if x.isInstanceOf[JArr] => ys
            case other                            => Vector(other)
          }))
        case other => other
      }
      flat(recv, intArg(args, 0, env, 1))
    case "pick" => pick(recv, args, env)
    case "omit" =>
      val keys = args.map(a => a.e match {
        case Expr.Ident(n)       => n
        case Expr.Lit(JStr(s))   => s
        case e                   => keyStr(Interp.eval(e, env))
      }).toSet
      recv match {
        case JObj(fs) => JObj(fs.filterNot { case (k, _) => keys(k) })
        case JArr(xs) => JArr(xs.map {
          case JObj(fs) => JObj(fs.filterNot { case (k, _) => keys(k) })
          case other    => other
        })
        case other => other
      }

    // ═══ sorts / limits / dedup (§2.6) ═══
    case "sort" | "sort_by" => JArr(sorted(arrOnly(recv, "sort"), args, env))
    case "reverse" => recv match {
      case JArr(xs) => JArr(xs.reverse)
      // java StringBuilder.reverse keeps surrogate pairs intact — the
      // same codepoint-wise reversal as Rust's chars().rev()
      // (collection.rs:67); Scala's StringOps.reverse would split them
      case JStr(s)  => JStr(new java.lang.StringBuilder(s).reverse.toString)
      case other    => other
    }
    case "take"  => JArr(elems(recv).take(intArg(args, 0, env).toInt))
    case "skip" | "drop" => JArr(elems(recv).drop(intArg(args, 0, env).toInt))
    case "take_while" | "takewhile" => // alias: D:421
      val p = bodyOr(args, 0, env)
      JArr(elems(recv).takeWhile(x => p(x).truthy))
    case "drop_while" | "dropwhile" => // alias: D:481
      val p = bodyOr(args, 0, env)
      JArr(elems(recv).dropWhile(x => p(x).truthy))
    case "unique" | "distinct" => JArr(uniqueBy(arrOnly(recv, "unique"), identity))
    case "unique_by" => JArr(uniqueBy(arrOnly(recv, "unique_by"), bodyOr(args, 0, env)))

    // ═══ positional selection / aggregates (§2.4) ═══
    case "first" =>
      if (args.isEmpty) elems(recv).headOption.getOrElse(JNull)
      else JArr(elems(recv).take(intArg(args, 0, env).toInt))
    case "last" =>
      if (args.isEmpty) elems(recv).lastOption.getOrElse(JNull)
      else JArr(elems(recv).takeRight(intArg(args, 0, env).toInt))
    case "nth" => Interp.indexOf(recv, intArg(args, 0, env))
    case "count" =>
      // bare count() IS len() in the reference (one shared dispatch
      // arm, mod.rs:1491-1493): "abc".count() == 3, scalars unchanged
      if (args.isEmpty) call("len", recv, args, env)
      else { val p = bodyOr(args, 0, env); JInt(elems(recv).count(x => p(x).truthy).toLong) }
    // ═══ numeric aggregates (string.rs:646-798 + pipeline num_fold:
    // both reference backends SKIP non-numeric elements; a bare
    // aggregate on a non-array receiver is null, a projected one on a
    // non-array is a loud error) ═══
    case "sum" => // empty/all-skipped → 0, Int/Float polymorphic
      aggElems(name, recv, args).map(_.map(bodyOr(args, 0, env))
        .foldLeft(JInt(0L): JValue) {
          case (JInt(a), JInt(b))     => JInt(a + b)
          case (JInt(a), JFloat(b))   => JFloat(a + b)
          case (JFloat(a), JInt(b))   => JFloat(a + b)
          case (JFloat(a), JFloat(b)) => JFloat(a + b)
          case (acc, _)               => acc // non-numeric: skipped
        }).getOrElse(JNull)
    case "avg" | "mean" => // no numeric observations → null
      aggElems(name, recv, args).map { xs =>
        val vs = xs.map(bodyOr(args, 0, env)).flatMap(JValue.asNum)
        if (vs.isEmpty) JNull else JFloat(vs.sum / vs.length)
      }.getOrElse(JNull)
    case "min" | "max" =>
      aggElems(name, recv, args).map { xs =>
        // numeric ORDER, original VALUE kind kept, first-wins ties
        val vs = xs.map(bodyOr(args, 0, env))
          .flatMap(v => JValue.asNum(v).map(v -> _))
        if (vs.isEmpty) JNull
        else if (name == "min") vs.reduce((a, b) => if (a._2 <= b._2) a else b)._1
        else vs.reduce((a, b) => if (a._2 >= b._2) a else b)._1
      }.getOrElse(JNull)
    case "min_by" | "max_by" =>
      val f = bodyOr(args, 0, env)
      val xs = arrOnly(recv, name)
      if (xs.isEmpty) JNull
      else if (name == "min_by") xs.minBy(f)(Ordering.fromLessThan((a, b) => JValue.cmp(a, b) < 0))
      else xs.maxBy(f)(Ordering.fromLessThan((a, b) => JValue.cmp(a, b) < 0))
    case "any" | "exists" =>
      val p = bodyOr(args, 0, env)
      JBool(elems(recv).exists(x => p(x).truthy))
    case "all" =>
      val p = bodyOr(args, 0, env)
      JBool(elems(recv).forall(x => p(x).truthy))
    case "find_index" =>
      val p = bodyOr(args, 0, env)
      val i = elems(recv).indexWhere(x => p(x).truthy)
      if (i < 0) JNull else JInt(i.toLong)
    case "indices_where" =>
      val p = bodyOr(args, 0, env)
      JArr(elems(recv).zipWithIndex.collect { case (x, i) if p(x).truthy => JInt(i.toLong) })
    case "approx_count_distinct" => // doc mode runs exact (estimate superset)
      JInt(elems(recv).map(_.render).distinct.length.toLong)
    case "accumulate" => // running fold / scan (M:160-161)
      val xs = arrOnly(recv, "accumulate")
      val f = args.headOption.map(_.e).map(Interp.eval(_, env)) match {
        case Some(fn: JFun) => fn
        case _              => err("accumulate requires a lambda")
      }
      val init = evOpt(args, 1, env)
      var acc = init.getOrElse(JNull)
      var started = init.isDefined
      val out = Vector.newBuilder[JValue]
      xs.foreach { x =>
        if (!started) { acc = x; started = true }
        else acc = Interp.applyFun(f, Vector(acc, x), env)
        out += acc
      }
      JArr(out.result())
    case "partition" => // keys "true"/"false" (reference regression.rs:351-357)
      val p = bodyOr(args, 0, env)
      val (pass, failV) = arrOnly(recv, "partition").partition(x => p(x).truthy)
      JObj.of("true" -> JArr(pass), "false" -> JArr(failV))

    // ═══ grouping (§2.4) ═══
    case "group_by" =>
      val k = bodyOr(args, 0, env)
      JObj(Fields.from(groupedBy(arrOnly(recv, "group_by"), k).map { case (g, xs) => g -> JArr(xs) }))
    case "count_by" =>
      val k = bodyOr(args, 0, env)
      JObj(Fields.from(groupedBy(arrOnly(recv, "count_by"), k).map { case (g, xs) => g -> JInt(xs.length.toLong) }))
    case "index_by" => // last wins (M:72-73)
      val k = bodyOr(args, 0, env)
      val out = Fields.newBuilder
      arrOnly(recv, "index_by").foreach(x => out.add(keyStr(k(x)), x))
      JObj(out.result())
    case "group_shape" =>
      val k = bodyOr(args, 0, env)
      val shape = bodyOr(args, 1, env)
      JObj(Fields.from(groupedBy(arrOnly(recv, "group_shape"), k).map {
        case (g, xs) => g -> shape(JArr(xs))
      }))
    case "pivot" => pivot(recv, args, env)
    case "explode" =>
      val field = strArg(args, 0, env)
      // a missing / null / non-array field keeps the row unchanged, and
      // non-object rows pass through (reference collection.rs:497-520);
      // an EMPTY array explodes to zero rows
      JArr(arrOnly(recv, "explode").flatMap {
        case row @ JObj(fs) => fs.get(field) match {
          case Some(JArr(items)) => items.map(it => JObj(fs + (field -> it)))
          case _                 => Vector(row)
        }
        case other => Vector(other)
      })
    case "implode" =>
      val field = strArg(args, 0, env)
      val rows = arrOnly(recv, "implode")
      val grouped = groupedBy(rows, {
        case JObj(fs) => JObj(fs - field)
        case other    => other
      })
      JArr(grouped.map { case (_, xs) =>
        xs.head match {
          case JObj(fs) =>
            JObj((fs - field) + (field -> JArr(xs.map {
              case JObj(g) => g.getOrElse(field, JNull)
              case _       => JNull
            })))
          case other => other
        }
      })
    case "fanout" => JArr(args.map(a => Interp.body(a.e, env)(recv)))
    case "zip_shape" =>
      val out = Fields.newBuilder
      args.foreach { a =>
        val k = a.name.getOrElse(err("zip_shape requires named args"))
        out.add(k, Interp.body(a.e, env)(recv))
      }
      JObj(out.result())

    // ═══ windows / sequences (§2.5) ═══
    case "window" =>
      val n = intArg(args, 0, env).toInt
      val xs = arrOnly(recv, "window")
      if (n <= 0 || xs.length < n) JArr(Vector.empty)
      else JArr(xs.sliding(n).map(w => JArr(w.toVector)).toVector)
    case "chunk" | "batch" =>
      val n = intArg(args, 0, env).toInt
      if (n <= 0) err("chunk size must be positive")
      JArr(arrOnly(recv, "chunk").grouped(n).map(g => JArr(g.toVector)).toVector)
    case "pairwise" =>
      val xs = arrOnly(recv, "pairwise")
      JArr(xs.lazyZip(xs.drop(1)).map((a, b) => JArr(Vector(a, b))).toVector)
    case "rolling_sum" | "rolling_avg" | "rolling_min" | "rolling_max" =>
      rolling(name, nums(recv), intArg(args, 0, env).toInt)
    case "lag" =>
      val n = intArg(args, 0, env, 1).toInt
      val xs = nums(recv)
      numArr(xs.indices.map(i => if (i >= n) xs(i - n) else None).toVector)
    case "lead" =>
      val n = intArg(args, 0, env, 1).toInt
      val xs = nums(recv)
      numArr(xs.indices.map(i => if (i + n < xs.length) xs(i + n) else None).toVector)
    case "diff_window" =>
      val xs = nums(recv)
      numArr(xs.indices.map(i =>
        if (i == 0) None
        else (xs(i - 1), xs(i)) match { case (Some(p), Some(c)) => Some(c - p); case _ => None }).toVector)
    case "pct_change" =>
      val xs = nums(recv)
      numArr(xs.indices.map(i =>
        if (i == 0) None
        else (xs(i - 1), xs(i)) match {
          case (Some(p), Some(c)) if p != 0.0 => Some((c - p) / p)
          case _                              => None
        }).toVector)
    case "cum_max" | "cum_min" | "cummax" | "cummin" => // cummax/cummin: reference defs.rs:2299,2321
      val wantMax = name == "cum_max" || name == "cummax"
      val xs = nums(recv)
      var best: Option[Double] = None
      numArr(xs.map { v =>
        (v, best) match {
          case (Some(x), Some(b)) => best = Some(if (wantMax) math.max(x, b) else math.min(x, b))
          case (Some(x), None)    => best = Some(x)
          case _                  =>
        }
        best
      })
    case "zscore" =>
      val xs = nums(recv)
      val vs = xs.flatten
      if (vs.isEmpty) numArr(xs.map(_ => None))
      else {
        val mean = vs.sum / vs.length
        val sd = math.sqrt(vs.map(y => (y - mean) * (y - mean)).sum / vs.length)
        numArr(xs.map(_.map(x => if (sd == 0.0) 0.0 else (x - mean) / sd)))
      }
    case "enumerate" =>
      JArr(arrOnly(recv, "enumerate").zipWithIndex.map { case (x, i) =>
        JObj.of("index" -> JInt(i.toLong), "value" -> x)
      })

    // ═══ joins / zips / set ops (§2.3, §2.7) ═══
    case "equi_join" => // inner hash join, right wins on collision (O:array.rs:489-548)
      if (args.length < 2) err("equi_join requires (right, key) or (right, lkey, rkey) arguments")
      val right = arrOnly(evOpt(args, 0, env).getOrElse(JNull), "equi_join")
      // key args are field names when string literals (SYNTAX.md:668),
      // arbitrary key expressions otherwise
      def keyAcc(i: Int): JValue => JValue = args(i).e match {
        case Expr.Lit(JStr(name)) => Interp.fieldOf(_, name)
        case _                    => bodyOr(args, i, env)
      }
      val lk = keyAcc(1)
      val rk = if (args.length > 2) keyAcc(2) else keyAcc(1)
      val idx = right.groupBy(r => keyStr(rk(r)))
      JArr(arrOnly(recv, "equi_join").flatMap { l =>
        idx.getOrElse(keyStr(lk(l)), Vector.empty).map { r =>
          (l, r) match {
            case (JObj(a), JObj(b)) => JObj(a ++ b)
            case _                  => JArr(Vector(l, r))
          }
        }
      })
    case "zip" =>
      val other = arrOnly(evOpt(args, 0, env).getOrElse(JNull), "zip")
      JArr(arrOnly(recv, "zip").lazyZip(other).map((a, b) => JArr(Vector(a, b))).toVector)
    case "zip_longest" =>
      val a = arrOnly(recv, "zip_longest")
      val b = arrOnly(evOpt(args, 0, env).getOrElse(JNull), "zip_longest")
      JArr((0 until math.max(a.length, b.length)).map { i =>
        JArr(Vector(if (i < a.length) a(i) else JNull, if (i < b.length) b(i) else JNull))
      }.toVector)
    // set ops match by val_to_key like every keyed builtin
    // (collection.rs:596-642) — hash-set membership, not O(n·m) typed
    // scans. Dedup follows the reference's DOCUMENTED semantics
    // (mod.rs:136-141: union/intersect without duplicates); its code
    // keeps receiver-side duplicates — a docs/code conflict noted in
    // SURVEY §2's divergence list.
    case "diff" =>
      val otherKeys = arrOnly(evOpt(args, 0, env).getOrElse(JNull), "diff")
        .iterator.map(keyStr).toSet
      JArr(arrOnly(recv, "diff").filterNot(x => otherKeys(keyStr(x))))
    case "intersect" =>
      val otherKeys = arrOnly(evOpt(args, 0, env).getOrElse(JNull), "intersect")
        .iterator.map(keyStr).toSet
      JArr(uniqueBy(arrOnly(recv, "intersect").filter(x => otherKeys(keyStr(x))), identity))
    case "union" =>
      val other = arrOnly(evOpt(args, 0, env).getOrElse(JNull), "union")
      JArr(uniqueBy(arrOnly(recv, "union") ++ other, identity))
    case "includes" | "contains" if recv.isInstanceOf[JArr] || recv.isInstanceOf[JObj] =>
      JBool(membership(recv, evOpt(args, 0, env).getOrElse(JNull)))
    case "index" => // first index of value, null if absent (O:collection.rs:470)
      val target = evOpt(args, 0, env).getOrElse(JNull)
      val i = arrOnly(recv, "index").indexWhere(JValue.eq(_, target))
      if (i < 0) JNull else JInt(i.toLong)
    case "indices_of" => // all indices of value (O:collection.rs:483)
      val target = evOpt(args, 0, env).getOrElse(JNull)
      JArr(arrOnly(recv, "indices_of").zipWithIndex.collect {
        case (x, i) if JValue.eq(x, target) => JInt(i.toLong)
      })
    case "join" => // coercing string join (O:collection.rs:421)
      val sep = if (args.isEmpty) "" else strArg(args, 0, env)
      JStr(arrOnly(recv, "join").map(JValue.display).mkString(sep))

    // ═══ object / map ops (§2.8) ═══
    case "keys"     => JArr(objOnly(recv, "keys").keysIterator.map(JStr(_)).toVector)
    case "values"   => JArr(objOnly(recv, "values").valuesIterator.toVector)
    case "entries" | "to_pairs" =>
      JArr(objOnly(recv, name).toVector.map { case (k, v) => JArr(Vector(JStr(k), v)) })
    case "from_pairs" =>
      val out = Fields.newBuilder
      arrOnly(recv, "from_pairs").foreach {
        case JArr(Vector(k, v)) => out.add(keyStr(k), v)
        case JObj(fs) if fs.size == 2 =>
          (fs.get("key"), fs.get("value")) match {
            case (Some(k), Some(v)) => out.add(keyStr(k), v)
            case _                  =>
          }
        case _ =>
      }
      JObj(out.result())
    case "invert" =>
      val out = Fields.newBuilder
      objOnly(recv, "invert").foreachEntry((k, v) => out.add(keyStr(v), JStr(k)))
      JObj(out.result())
    case "merge" =>
      JObj(args.foldLeft(objOnly(recv, "merge")) { (acc, a) => acc ++ objOnly(ev(a, env), "merge") })
    case "deep_merge" =>
      args.foldLeft(recv) { (acc, a) => deepMerge(acc, ev(a, env)) }
    case "defaults" => // fill only missing keys
      val d = objOnly(evOpt(args, 0, env).getOrElse(JNull), "defaults")
      val fs = objOnly(recv, "defaults")
      JObj(fs ++ d.filterNot { case (k, _) => fs.contains(k) })
    case "rename" =>
      var fs = objOnly(recv, "rename")
      if (args.length == 2 && args.forall(_.name.isEmpty)) {
        val from = strArg(args, 0, env); val to = strArg(args, 1, env)
        fs.get(from).foreach { v => fs = (fs - from) + (to -> v) }
      } else args.foreach { a => // rename(new: old)
        val to = a.name.getOrElse(err("rename: use rename(old, new) or rename(new: old)"))
        val from = a.e match { case Expr.Ident(n) => n; case e => keyStr(Interp.eval(e, env)) }
        fs.get(from).foreach { v => fs = (fs - from) + (to -> v) }
      }
      JObj(fs)
    case "transform_keys" =>
      val f = bodyOr(args, 0, env)
      val out = Fields.newBuilder
      objOnly(recv, name).foreachEntry((k, v) => out.add(keyStr(f(JStr(k))), v))
      JObj(out.result())
    case "transform_values" =>
      val f = bodyOr(args, 0, env)
      JObj(Fields.from(objOnly(recv, name).iterator.map { case (k, v) => k -> f(v) }))
    case "filter_keys" =>
      val p = bodyOr(args, 0, env)
      JObj(objOnly(recv, name).filter { case (k, _) => p(JStr(k)).truthy })
    case "filter_values" =>
      val p = bodyOr(args, 0, env)
      JObj(objOnly(recv, name).filter { case (_, v) => p(v).truthy })
    case "set" if args.length == 2 =>
      JObj(objOnly(recv, "set") + (strArg(args, 0, env) -> ev(args(1), env)))
    case "set" if args.length == 1 => // pipe form `x | set(v)` returns v
      ev(args(0), env)                // (INDEPTH.md §10 v1-compat note; M:1514)
    case "update" if args.length == 1 => // value form: apply fn to receiver
      Interp.body(args(0).e, env)(recv)   // (examples.rs method_update)
    case "update" =>
      val k = strArg(args, 0, env)
      val f = bodyOr(args, 1, env)
      val fs = objOnly(recv, "update")
      JObj(fs + (k -> f(fs.getOrElse(k, JNull))))
    case "has" => JBool(membership(recv, evOpt(args, 0, env).getOrElse(JNull)))
    case "missing" => JBool(!membership(recv, evOpt(args, 0, env).getOrElse(JNull)))
    case "type" | "type_of" => JStr(recv.kind)
    case "len" | "length" => recv match {
      // unicode-scalar count, like Rust's chars().count() (collection.rs:14)
      case JStr(s)  => JInt(s.codePointCount(0, s.length).toLong)
      case JArr(xs) => JInt(xs.length.toLong)
      case JObj(fs) => JInt(fs.size.toLong)
      // numbers/bools/null: receiver unchanged (len_apply → None →
      // apply_or_recv, collection.rs:6-19 + mod.rs:1491-1493)
      case other    => other
    }

    // ═══ dot-path ops (§2.8, O:path.rs) ═══
    case "get_path" => getPath(recv, strArg(args, 0, env))
    case "has_path" => JBool(getPath(recv, strArg(args, 0, env)) != JNull)
    case "set_path" => setPath(recv, strArg(args, 0, env).split('.').toList, ev(args(1), env))
    case "del_path" => delPath(recv, strArg(args, 0, env).split('.').toList)
    case "del_paths" =>
      arrOnly(evOpt(args, 0, env).getOrElse(JNull), "del_paths").foldLeft(recv) {
        (acc, p) => delPath(acc, strOnly(p).split('.').toList)
      }
    case "flatten_keys" =>
      val out = Fields.newBuilder
      def go(prefix: String, v: JValue): Unit = v match {
        case JObj(fs) if fs.nonEmpty =>
          fs.foreach { case (k, x) => go(if (prefix.isEmpty) k else s"$prefix.$k", x) }
        case leaf => out.add(prefix, leaf)
      }
      go("", recv)
      JObj(out.result())
    case "unflatten_keys" =>
      objOnly(recv, "unflatten_keys").foldLeft(JObj.empty: JValue) {
        case (acc, (k, v)) => setPath(acc, k.split('.').toList, v)
      }

    // ═══ deep traversal, method form (§2.8) ═══
    case "deep_find" | "deep_shape" | "deep_like" => deepCall(name, recv, args, env)
    case "walk"      => Deep.walkPost(recv, bodyOr(args, 0, env))
    case "walk_pre"  => Deep.walkPre(recv, bodyOr(args, 0, env))
    case "rec" => // fixpoint of a transform; bound + loud overflow (reference array.rs:741-755)
      val f = bodyOr(args, 0, env)
      var cur = recv
      var i = 0
      var done = false
      while (i < 10000 && !done) {
        val next = f(cur)
        // converging returns NEXT, not cur: the fixpoint test is
        // numeric-tolerant, so the post-transform value's KIND wins
        // (0.0 -> literal 0 lands as the int; array.rs:745-750)
        if (JValue.eq(next, cur)) done = true
        cur = next
        i += 1
      }
      if (!done) err("rec: exceeded 10000 iterations without reaching fixpoint")
      cur
    case "trace_path" => JArr(Deep.tracePaths(recv))
    case "schema" => schemaOf(recv) // structural schema inference (O:schema.rs:219)

    // ═══ serialisation (§2.1) ═══
    case "to_string" => JStr(JValue.display(recv))
    case "to_json"   => JStr(recv.render)
    case "from_json" => JValue.parse(strOnly(recv))
    case "to_csv"    => csv(recv, ",")
    case "to_tsv"    => csv(recv, "\t")

    // ═══ math (§2.8) ═══
    case "ceil"  => mathOp(recv, math.ceil)
    case "floor" => mathOp(recv, math.floor)
    case "round" =>
      if (args.isEmpty) mathOp(recv, f => math.round(f).toDouble)
      else {
        val d = intArg(args, 0, env).toInt
        val scale = math.pow(10, d)
        recv match {
          case JFloat(f) => JFloat(math.round(f * scale) / scale)
          case JInt(_)   => recv
          case _         => err("round on non-number")
        }
      }
    case "abs" => recv match {
      case JInt(n)   => JInt(math.abs(n))
      case JFloat(f) => JFloat(math.abs(f))
      case _         => err("abs on non-number")
    }

    // ═══ coalesce-ish (§2.2) ═══
    case "or" => if (recv != JNull) recv else evOpt(args, 0, env).getOrElse(JNull)

    // ═══ strings & regex (§2.8) ═══
    case _ if Strings.handles(name) => Strings.call(name, recv, args.map(a => ev(a, env)))

    case other => err(s"unknown method .$other()")
  }

  // ── helpers for specific ops ─────────────────────────────────────────

  private def pick(recv: JValue, args: Vector[Arg], env: Env): JValue = {
    def one(o: JValue): JValue = {
      val out = Fields.newBuilder
      args.foreach { a =>
        a.name match {
          case Some(alias) => out.add(alias, Interp.body(a.e, env)(o))
          case None => a.e match {
            case Expr.Ident(n)     => out.add(n, Interp.fieldOf(o, n))
            case Expr.Lit(JStr(n)) => out.add(n, Interp.fieldOf(o, n))
            case e                 => err(s"pick: unsupported selector $e")
          }
        }
      }
      JObj(out.result())
    }
    recv match {
      case JArr(xs) => JArr(xs.map(one))
      case JNull    => JNull
      case o        => one(o)
    }
  }

  private def pivot(recv: JValue, args: Vector[Arg], env: Env): JValue = {
    if (args.length < 2) err("pivot requires (key, value) or (row, col, value) arguments")
    val xs = arrOnly(recv, "pivot")
    // string-literal args are FIELD NAMES (examples.rs obj_pivot), other
    // expressions evaluate per element
    def accessor(i: Int): JValue => JValue = args(i).e match {
      case Expr.Lit(JStr(name)) => Interp.fieldOf(_, name)
      case _                    => bodyOr(args, i, env)
    }
    if (args.length >= 3) { // pivot(row, col, val) → {rowK: {colK: v}}
      val rk = accessor(0); val ck = accessor(1); val vk = accessor(2)
      val rows = mutable.LinkedHashMap.empty[String, Fields.Builder]
      xs.foreach { x =>
        val r = keyStr(rk(x)); val c = keyStr(ck(x)); val v = vk(x)
        rows.getOrElseUpdate(r, Fields.newBuilder).add(c, v)
      }
      val out = Fields.newBuilder
      rows.foreachEntry((r, row) => out.add(r, JObj(row.result())))
      JObj(out.result())
    } else { // pivot(k, v) → flat {k: v}
      val kf = accessor(0); val vf = accessor(1)
      val out = Fields.newBuilder
      xs.foreach(x => out.add(keyStr(kf(x)), vf(x)))
      JObj(out.result())
    }
  }

  private def rolling(name: String, xs: Vector[Option[Double]], n: Int): JValue = {
    if (n <= 0) err("window size must be positive")
    numArr(xs.indices.map { i =>
      if (i + 1 < n) None
      else {
        val w = xs.slice(i + 1 - n, i + 1).flatten
        if (w.isEmpty) None
        else name match {
          case "rolling_sum" => Some(w.sum)
          case "rolling_avg" => Some(w.sum / w.length)
          case "rolling_min" => Some(w.min)
          case "rolling_max" => Some(w.max)
        }
      }
    }.toVector)
  }

  private def mathOp(v: JValue, f: Double => Double): JValue = v match {
    case JInt(_)   => v
    case JFloat(x) => JFloat(f(x))
    case _         => err("math op on non-number")
  }

  /** Array-of-objects → CSV/TSV text; header = union of keys in
    * first-seen order (M:215-217, O:misc.rs:5-13). */
  private def csv(recv: JValue, sep: String): JValue = {
    val rows = arrOnly(recv, "to_csv")
    var header = Vector.empty[String]
    val seen = scala.collection.mutable.HashSet.empty[String]
    rows.foreach {
      case JObj(fs) => fs.keysIterator.foreach(k => if (seen.add(k)) header :+= k)
      case _        =>
    }
    def cell(v: JValue): String = {
      val s = JValue.display(v match { case JNull => JStr(""); case x => x })
      if (s.contains(sep) || s.contains('"') || s.contains('\n'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    }
    val sb = new StringBuilder(header.mkString(sep))
    rows.foreach {
      case JObj(fs) =>
        sb.append('\n')
        sb.append(header.map(k => cell(fs.getOrElse(k, JNull))).mkString(sep))
      case _ =>
    }
    JStr(sb.toString)
  }

  /** Structural schema descriptor (reference ops/schema.rs:5-223):
    * scalars → {type}, arrays → {type:"Array", len, items} with items
    * unified across elements, objects → {type:"Object", required, fields}
    * where null-valued fields are nullable and not required. Unification
    * widens mismatched types to "Mixed" and absent fields to optional.
    */
  private def schemaOf(v: JValue): JValue = v match {
    case JNull      => tyObj("Null")
    case JBool(_)   => tyObj("Bool")
    case JInt(_)    => tyObj("Int")
    case JFloat(_)  => tyObj("Float")
    case JStr(_)    => tyObj("String")
    case JArr(xs)   =>
      val items =
        if (xs.isEmpty) tyObj("Unknown")
        else xs.map(schemaOf).reduce(unifySchema)
      JObj.of("type" -> JStr("Array"), "len" -> JInt(xs.length.toLong), "items" -> items)
    case JObj(fs) =>
      var required = Vector.empty[JValue]
      val fields = Fields.newBuilder
      fs.foreachEntry { (k, child) =>
        var f = schemaOf(child)
        if (child == JNull) f = setField(f, "nullable", JBool(true))
        else required :+= JStr(k)
        fields.add(k, f)
      }
      JObj.of("type" -> JStr("Object"), "required" -> JArr(required), "fields" -> JObj(fields.result()))
    case _ => tyObj("Mixed")
  }

  private def tyObj(name: String): JValue = JObj.of("type" -> JStr(name))

  private def setField(o: JValue, k: String, v: JValue): JValue = o match {
    case JObj(fs) => JObj(fs + (k -> v))
    case other    => other
  }

  private def schemaTy(v: JValue): Option[String] = v match {
    case JObj(fs) => fs.get("type").collect { case JStr(s) => s }
    case _        => None
  }

  private def schemaNullable(v: JValue): Boolean = v match {
    case JObj(fs) => fs.get("nullable").contains(JBool(true))
    case _        => false
  }

  private def unifySchema(a: JValue, b: JValue): JValue =
    (schemaTy(a), schemaTy(b)) match {
      case (Some(x), Some(y)) if x == y => x match {
        case "Object" => unifyObjSchemas(a, b)
        case "Array"  => unifyArrSchemas(a, b)
        case _ => if (schemaNullable(a) || schemaNullable(b)) setField(a, "nullable", JBool(true)) else a
      }
      case (Some("Null"), _) => setField(b, "nullable", JBool(true))
      case (_, Some("Null")) => setField(a, "nullable", JBool(true))
      case _                 => tyObj("Mixed")
    }

  private def unifyArrSchemas(a: JValue, b: JValue): JValue = {
    def field(v: JValue, k: String) = v match { case JObj(fs) => fs.get(k); case _ => None }
    val items = (field(a, "items"), field(b, "items")) match {
      case (Some(x), Some(y)) => unifySchema(x, y)
      case (Some(x), None)    => x
      case (None, Some(y))    => y
      case _                  => tyObj("Unknown")
    }
    val len = Seq(a, b).flatMap(v => field(v, "len").collect { case JInt(n) => n }).sum
    JObj.of("type" -> JStr("Array"), "len" -> JInt(len), "items" -> items)
  }

  private def unifyObjSchemas(a: JValue, b: JValue): JValue = {
    def fields(v: JValue) = v match {
      case JObj(fs) => fs.get("fields") match { case Some(JObj(m)) => m; case _ => Fields.empty }
      case _        => Fields.empty
    }
    def req(v: JValue): Set[String] = v match {
      case JObj(fs) => fs.get("required") match {
        case Some(JArr(xs)) => xs.collect { case JStr(s) => s }.toSet
        case _              => Set.empty
      }
      case _ => Set.empty
    }
    val (fa, fb) = (fields(a), fields(b))
    val (ra, rb) = (req(a), req(b))
    var required = Vector.empty[JValue]
    val out = Fields.newBuilder
    (fa.keysIterator ++ fb.keysIterator.filterNot(fa.contains)).foreach { k =>
      val f = (fa.get(k), fb.get(k)) match {
        case (Some(x), Some(y)) => unifySchema(x, y)
        case (Some(x), None)    => setField(x, "optional", JBool(true))
        case (None, Some(y))    => setField(y, "optional", JBool(true))
        case _                  => tyObj("Unknown")
      }
      if (ra.contains(k) && rb.contains(k)) required :+= JStr(k)
      out.add(k, f)
    }
    JObj.of("type" -> JStr("Object"), "required" -> JArr(required), "fields" -> JObj(out.result()))
  }

  private def getPath(v: JValue, path: String): JValue =
    path.split('.').foldLeft(v)((acc, k) => Interp.fieldOf(acc, k))

  private def setPath(v: JValue, path: List[String], nv: JValue): JValue = path match {
    case Nil => nv
    case k :: rest =>
      val fs = v match { case JObj(m) => m; case _ => Fields.empty }
      JObj(fs + (k -> setPath(fs.getOrElse(k, JNull), rest, nv)))
  }

  private def delPath(v: JValue, path: List[String]): JValue = (v, path) match {
    case (JObj(fs), k :: Nil)  => JObj(fs - k)
    case (JObj(fs), k :: rest) =>
      fs.get(k) match {
        case Some(child) => JObj(fs + (k -> delPath(child, rest)))
        case None        => v
      }
    case _ => v
  }

  /** Every builtin name AND alias the reference's registry resolves
    * (defs.rs NAME/ALIASES consts, registry.rs by_name) — the gate for
    * the bare-ident-as-builtin rule in Interp.eval (exec.rs:829-846):
    * `map(len)` over strings applies `len`, not a field lookup. */
  val knownNames: Set[String] = Set(
    "abs", "accumulate", "all", "any", "append", "approx_count_distinct",
    "avg", "batch", "byte_len", "bytes", "camel_case", "capitalize",
    "captures", "captures_all", "ceil", "center", "chars", "chars_of",
    "chunk", "collect", "compact", "contains", "contains_all",
    "contains_any", "count", "count_by", "cummax", "cummin", "dedent",
    "deep_find", "deep_like", "deep_merge", "deep_shape", "defaults",
    "del_path", "del_paths", "diff", "diff_window", "distinct", "drop",
    "drop_while", "dropwhile", "ends_with", "entries", "enumerate",
    "equi_join", "exists", "explode", "fanout", "filter", "filter_keys",
    "filter_values", "find", "find_all", "find_first", "find_index",
    "find_one", "first", "flat_map", "flatten", "flatten_keys", "floor",
    "from_base64", "from_json", "from_pairs", "get_path", "group_by",
    "group_shape", "has", "has_path", "html_escape", "html_unescape",
    "implode", "includes", "indent", "index", "index_by", "index_of",
    "indices_of", "indices_where", "intersect", "invert", "is_alpha",
    "is_ascii", "is_blank", "is_numeric", "join", "kebab_case", "keys",
    "lag", "last", "last_index_of", "lead", "len", "lines", "lower",
    "lstrip", "map", "match_all", "match_first", "matches", "max",
    "max_by", "merge", "min", "min_by", "missing", "nth", "omit", "or",
    "pad_left", "pad_right", "pairwise", "parse_bool", "parse_float",
    "parse_int", "partition", "pascal_case", "pct_change", "pick", "pivot",
    "prepend", "re_match", "rec", "remove", "rename", "repeat",
    "repeat_str", "replace", "replace_all", "replace_all_re", "replace_re",
    "reverse", "reverse_str", "rolling_avg", "rolling_max", "rolling_min",
    "rolling_sum", "round", "rstrip", "scan", "schema", "set", "set_path",
    "skip", "slice", "snake_case", "sort", "sort_by", "split", "split_re",
    "starts_with", "strip_prefix", "strip_suffix", "sum", "take",
    "take_while", "takewhile", "title_case", "to_base64", "to_bool",
    "to_csv", "to_json", "to_number", "to_pairs", "to_string", "to_tsv",
    "trace_path", "transform_keys", "transform_values", "trim",
    "trim_left", "trim_right", "type", "unflatten_keys", "union", "unique",
    "unique_by", "update", "upper", "url_decode", "url_encode", "values",
    "walk", "walk_pre", "window", "words", "zip", "zip_longest",
    "zip_shape", "zscore")
}
