package graft.jexpr

import Expr._

final class ParseException(msg: String, val pos: Int) extends RuntimeException(s"$msg at $pos")

/** Recursive-descent parser for the document-mode language.
  *
  * Follows the precedence ladder of the reference's published grammar
  * (/root/reference/jetro-core/src/grammar.pest): cond → pipe → coalesce
  * → or → and → not → kind → has → cmp → add → mul → cast → unary →
  * postfix → primary. Backtracking (save/restore of the cursor) covers
  * the grammar's ordered-choice spots: comprehension-vs-literal braces,
  * arrow-lambda-vs-paren, ternary.
  */
object Parser {
  def parse(src: String): Expr = {
    val p = new Parser(src)
    val e = p.expr()
    p.ws()
    if (!p.atEnd) throw new ParseException(s"unexpected trailing input '${p.rest.take(20)}'", p.pos)
    e
  }
}

private final class Parser(s: String) {
  var pos = 0

  private val keywords = Set(
    "true", "false", "null", "and", "or", "not", "for", "in", "if",
    "else", "let", "lambda", "kind", "is", "as", "when", "patch",
    "DELETE", "try", "has")
  private val kindTypes = Set("number", "string", "array", "object", "bool", "null")
  private val castTypes = Set("int", "float", "number", "string", "array", "object", "bool", "null")

  def atEnd: Boolean = pos >= s.length
  def rest: String = s.substring(math.min(pos, s.length))
  private def fail(msg: String): Nothing = throw new ParseException(msg, pos)

  def ws(): Unit =
    while (pos < s.length && (s.charAt(pos) == ' ' || s.charAt(pos) == '\t' ||
      s.charAt(pos) == '\n' || s.charAt(pos) == '\r')) pos += 1

  private def peekCh: Char = if (atEnd) '\u0000' else s.charAt(pos)
  private def identChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'
  private def fieldChar(c: Char): Boolean = c.isLetterOrDigit || c == '_' || c == '-'

  /** Consume literal text (after skipping ws). */
  private def eat(lit: String): Boolean = {
    ws()
    if (s.startsWith(lit, pos)) { pos += lit.length; true } else false
  }

  /** Keyword: literal + word boundary. */
  private def eatKw(kw: String): Boolean = {
    ws()
    if (s.startsWith(kw, pos) &&
        (pos + kw.length >= s.length || !identChar(s.charAt(pos + kw.length)))) {
      pos += kw.length; true
    } else false
  }

  private def peekKw(kw: String): Boolean = { val p0 = pos; val r = eatKw(kw); pos = p0; r }

  private def expect(lit: String): Unit = if (!eat(lit)) fail(s"expected '$lit'")

  private def tryParse[A](f: => A): Option[A] = {
    val p0 = pos
    try Some(f) catch { case _: ParseException => pos = p0; None }
  }

  private def identOpt(): Option[String] = {
    ws()
    if (atEnd) return None
    val c = peekCh
    if (!(c.isLetter || c == '_')) return None
    val start = pos
    pos += 1
    while (pos < s.length && identChar(s.charAt(pos))) pos += 1
    val name = s.substring(start, pos)
    if (keywords.contains(name)) { pos = start; None } else Some(name)
  }

  private def ident(): String = identOpt().getOrElse(fail("expected identifier"))

  private def fieldName(): String = {
    ws()
    val c = peekCh
    if (!(c.isLetter || c == '_')) fail("expected field name")
    val start = pos
    pos += 1
    while (pos < s.length && fieldChar(s.charAt(pos))) pos += 1
    s.substring(start, pos)
  }

  // ── expression ladder ────────────────────────────────────────────────

  def expr(): Expr = condExpr()

  private def condExpr(): Expr = {
    if (peekKw("try")) return tryExpr()
    val base = pipeExpr()
    val p0 = pos
    if (eatKw("if")) {
      // ternary needs its `else`; a bare `if` belongs to an enclosing
      // comprehension — backtrack (pest's `?` group does the same)
      tryParse {
        val cond = pipeExpr()
        if (!eatKw("else")) fail("ternary requires else")
        IfElse(cond, base, condExpr())
      } match {
        case Some(t) => t
        case None    => pos = p0; base
      }
    } else base
  }

  private def tryExpr(): Expr = {
    if (!eatKw("try")) fail("expected try")
    val body =
      if (eat("(")) { val e = expr(); expect(")"); e }
      else pipeExpr()
    if (!eatKw("else")) fail("try requires else")
    TryElse(body, condExpr())
  }

  private def pipeExpr(): Expr = {
    val base = coalesceExpr()
    val steps = Vector.newBuilder[PipeStep]
    var n = 0
    var continue = true
    while (continue) {
      ws()
      if (eat("->")) {
        steps += bindTarget(); n += 1
      } else if (eat("|>")) {
        steps += PipeStep.Forward(pipeForwardBody()); n += 1
      } else if (peekCh == '|' && !(pos + 1 < s.length && s.charAt(pos + 1) == '|')) {
        pos += 1
        steps += PipeStep.Forward(pipeForwardBody()); n += 1
      } else continue = false
    }
    if (n == 0) base else Pipe(base, steps.result())
  }

  /** `| f(args)` forwards to a method application on the piped value;
    * `| expr` evaluates expr with @ bound to the piped value. */
  private def pipeForwardBody(): Expr = {
    val p0 = pos
    identOpt() match {
      case Some(name) if eat("(") =>
        val args = argList()
        expect(")")
        // bare-call form applies as a method on the receiver
        Chain(Current, Vector(Step.Method(name, args)))
      case _ =>
        pos = p0
        coalesceExpr()
    }
  }

  private def bindTarget(): PipeStep = {
    ws()
    if (eat("{")) {
      val names = Vector.newBuilder[String]
      var rest: Option[String] = None
      var done = false
      while (!done) {
        ws()
        if (eat("...")) { rest = Some(ident()) }
        else identOpt().foreach(names += _)
        if (!eat(",")) done = true
      }
      expect("}")
      PipeStep.BindObj(names.result(), rest)
    } else if (eat("[")) {
      val names = Vector.newBuilder[String]
      names += ident()
      while (eat(",")) names += ident()
      expect("]")
      PipeStep.BindArr(names.result())
    } else PipeStep.BindName(ident())
  }

  private def coalesceExpr(): Expr = {
    var l = orExpr()
    var continue = true
    while (continue) {
      ws()
      if (eat("??") || eat("?|")) l = Binary("??", l, orExpr())
      else continue = false
    }
    l
  }

  private def orExpr(): Expr = {
    var l = andExpr()
    while (eatKw("or")) l = Binary("or", l, andExpr())
    l
  }

  private def andExpr(): Expr = {
    var l = notExpr()
    while (eatKw("and")) l = Binary("and", l, notExpr())
    l
  }

  private def notExpr(): Expr =
    if (eatKw("not")) Unary("not", notExpr()) else kindExpr()

  private def kindExpr(): Expr = {
    val e = containsExpr()
    val p0 = pos
    if (eatKw("kind") || eatKw("is")) {
      val neg = eatKw("not")
      ws()
      kindTypes.find(k => eatKw(k)) match {
        case Some(k) => KindIs(e, k, neg)
        case None    => pos = p0; e
      }
    } else e
  }

  // NOTE: there is deliberately no `x in xs` membership operator — the
  // reference grammar excludes it as ambiguous with `let … in` and
  // `for … in` (grammar.pest:136-137); membership is `has`/`includes`.
  private def containsExpr(): Expr = {
    val l = cmpExpr()
    if (eatKw("has")) Binary("has", l, cmpExpr()) else l
  }

  private def cmpExpr(): Expr = {
    val l = addExpr()
    ws()
    val op =
      if (eat("~=")) "~=" else if (eat("==")) "==" else if (eat("!=")) "!="
      else if (eat(">=")) ">=" else if (eat("<=")) "<="
      else if (peekCh == '>' ) { pos += 1; ">" }
      else if (peekCh == '<' ) { pos += 1; "<" }
      else null
    if (op == null) l else Binary(op, l, addExpr())
  }

  private def addExpr(): Expr = {
    var l = mulExpr()
    var continue = true
    while (continue) {
      ws()
      if (peekCh == '+') { pos += 1; l = Binary("+", l, mulExpr()) }
      else if (peekCh == '-' && !s.startsWith("->", pos)) { pos += 1; l = Binary("-", l, mulExpr()) }
      else continue = false
    }
    l
  }

  private def mulExpr(): Expr = {
    var l = castExpr()
    var continue = true
    while (continue) {
      ws()
      if (peekCh == '*') { pos += 1; l = Binary("*", l, castExpr()) }
      else if (peekCh == '/') { pos += 1; l = Binary("/", l, castExpr()) }
      else if (peekCh == '%') { pos += 1; l = Binary("%", l, castExpr()) }
      else continue = false
    }
    l
  }

  private def castExpr(): Expr = {
    var e = unaryExpr()
    while (peekKw("as")) {
      val p0 = pos
      eatKw("as")
      ws()
      castTypes.find(t => eatKw(t)) match {
        case Some(t) => e = Cast(e, t)
        case None    => pos = p0; return e
      }
    }
    e
  }

  private def unaryExpr(): Expr = {
    ws()
    if (peekCh == '-' && !s.startsWith("->", pos)) { pos += 1; Unary("-", unaryExpr()) }
    else postfixExpr()
  }

  private def postfixExpr(): Expr = {
    val base = primary()
    val steps = Vector.newBuilder[Step]
    var n = 0
    var continue = true
    while (continue) {
      postfixStep() match {
        case Some(st) => steps += st; n += 1
        case None     => continue = false
      }
    }
    if (n == 0) base else Chain(base, steps.result())
  }

  private def postfixStep(): Option[Step] = {
    ws()
    if (atEnd) return None
    val c = peekCh
    if (c == '.' && s.startsWith("..", pos)) {
      // deep method / descendant
      val p0 = pos
      pos += 2
      ws()
      if (peekCh.isLetter || peekCh == '_') {
        val name = fieldName()
        if (eat("(")) {
          val args = argList(); expect(")")
          Some(Step.DeepMethod(name, args))
        } else Some(Step.Descendant(Some(name)))
      } else if (peekCh == '{' || peekCh == '[') { pos = p0 + 2; Some(Step.Descendant(None)) }
      else { pos = p0; None }
    } else if (c == '.') {
      pos += 1
      ws()
      if (peekCh == '{') {
        pos += 1
        val e = expr(); expect("}")
        Some(Step.DynField(e))
      } else {
        val name = fieldName()
        if (eat("(")) {
          val args = argList(); expect(")")
          Some(Step.Method(name, args))
        } else Some(Step.Field(name))
      }
    } else if (c == '[') {
      // map-into-shape / index / slice
      val p0 = pos
      pos += 1
      ws()
      if (peekCh == '*') {
        pos += 1
        val pred = if (eatKw("if")) Some(expr()) else None
        if (eat("]")) {
          if (eat("=>")) Some(Step.MapShape(pred, expr()))
          else if (pred.isEmpty) Some(Step.MapShape(None, Current)) // [*] = identity over elements
          else Some(Step.InlineFilter(pred.get))                   // [* if p] without shape
        } else { pos = p0; None }
      } else {
        bracketInner() match {
          case Some(st) => Some(st)
          case None     => pos = p0; None
        }
      }
    } else if (c == '{') {
      // inline filter — backtrack if it turns out not to close properly
      val p0 = pos
      pos += 1
      tryParse { val e = expr(); expect("}"); e } match {
        case Some(e) => Some(Step.InlineFilter(e))
        case None    => pos = p0; None
      }
    } else if (c == '?' && !s.startsWith("?|", pos) && !s.startsWith("??", pos)) {
      pos += 1; Some(Step.Optional)
    } else if (c == '!' && !s.startsWith("!=", pos)) {
      pos += 1; Some(Step.ExactlyOne)
    } else None
  }

  private def bracketInner(): Option[Step] = {
    // [idx], [a:b], [a:], [:b], [expr]
    ws()
    val p0 = pos
    def intOpt(): Option[Long] = {
      ws()
      val st = pos
      if (peekCh == '-') pos += 1
      while (pos < s.length && s.charAt(pos).isDigit) pos += 1
      if (pos == st || (pos == st + 1 && s.charAt(st) == '-')) { pos = st; None }
      else Some(s.substring(st, pos).toLong)
    }
    val a = intOpt()
    ws()
    if (peekCh == ':') {
      pos += 1
      val b = intOpt()
      if (eat("]")) return Some(Step.Slice(a, b))
      pos = p0; return None
    }
    a match {
      case Some(i) if eat("]") => Some(Step.Index(Lit(JInt(i))))
      case _ =>
        pos = p0
        tryParse { val e = expr(); expect("]"); e }.map(Step.Index)
    }
  }

  private def argList(): Vector[Arg] = {
    ws()
    if (peekCh == ')') return Vector.empty
    val args = Vector.newBuilder[Arg]
    var done = false
    while (!done) {
      args += arg()
      if (!eat(",")) done = true
    }
    args.result()
  }

  private def arg(): Arg = {
    val p0 = pos
    identOpt() match {
      case Some(name) if eat(":") => Arg(Some(name), expr())
      case _                      => pos = p0; Arg(None, expr())
    }
  }

  // ── primaries ────────────────────────────────────────────────────────

  private def primary(): Expr = {
    ws()
    if (atEnd) fail("unexpected end of input")
    if (peekKw("patch")) return patchBlock()
    if (peekKw("let")) return letExpr()
    if (peekKw("lambda")) return lambdaKw()
    if (peekKw("DELETE")) { eatKw("DELETE"); return Lit(JStr("__DELETE__")) }
    if (peekKw("try")) return tryExpr()
    val c = peekCh
    if (c == '$') { pos += 1; return Root }
    if (c == '@') { pos += 1; return Current }
    if (c == '(') return parenOrLambdaOrGen()
    if (c == '[') return listCompOrArray()
    if (c == '{') return dictSetCompOrObject()
    if (c == 'f' && pos + 1 < s.length && s.charAt(pos + 1) == '"') return fstring()
    if (c == '"' || c == '\'') return Lit(JStr(stringLit()))
    if (c.isDigit) return numberLit()
    if (eatKw("true")) return Lit(JBool(true))
    if (eatKw("false")) return Lit(JBool(false))
    if (eatKw("null")) return Lit(JNull)
    identOpt() match {
      case Some(name) =>
        ws()
        if (s.startsWith("=>", pos)) { pos += 2; return Lambda(Vector(name), expr()) }
        if (peekCh == '(') { pos += 1; val args = argList(); expect(")"); return GlobalCall(name, args) }
        Ident(name)
      case None => fail(s"unexpected character '$c'")
    }
  }

  // Each bracket form parses its head once and branches on what follows
  // (`for`, `:` or the closing bracket): re-parsing the head on a miss
  // would double the parse time at every nesting level.

  private def parenOrLambdaOrGen(): Expr = {
    // arrow lambda `(a, b) => e` / gen comp `(e for x in s)` / `(expr)`
    val lambdaParams = tryParse {
      expect("(")
      val params = Vector.newBuilder[String]
      ws()
      if (peekCh != ')') { params += ident(); while (eat(",")) params += ident() }
      expect(")")
      if (!eat("=>")) fail("not a lambda")
      params.result()
    }
    lambdaParams match {
      case Some(ps) => Lambda(ps, expr())
      case None =>
        expect("(")
        val e = expr()
        if (eatKw("for")) compTail(CompKind.Gen, e, None, ")")
        else { expect(")"); e }
    }
  }

  /** A comprehension's `for` legs and closing bracket, after its head. */
  private def compTail(kind: CompKind, e: Expr, v: Option[Expr], close: String): Expr = {
    val (clauses, cond) = compClauses()
    expect(close)
    Comp(kind, e, v, clauses, cond)
  }

  private def compVars(): Vector[String] = {
    val vars = Vector.newBuilder[String]
    vars += ident()
    val p0 = pos
    if (eat(",")) {
      identOpt() match {
        case Some(v) => vars += v
        case None    => pos = p0
      }
    }
    vars.result()
  }

  /** One or more `for vars in src` legs, then optional `if cond`. */
  private def compClauses(): (Vector[(Vector[String], Expr)], Option[Expr]) = {
    val clauses = Vector.newBuilder[(Vector[String], Expr)]
    var done = false
    while (!done) {
      val vars = compVars()
      if (!eatKw("in")) fail("expected in")
      clauses += (vars -> expr())
      if (!eatKw("for")) done = true
    }
    val cond = if (eatKw("if")) Some(expr()) else None
    (clauses.result(), cond)
  }

  private def listCompOrArray(): Expr = {
    expect("[")
    val elems = Vector.newBuilder[ArrElem]
    ws()
    var done = eat("]")
    var first = true
    while (!done) {
      ws()
      if (eat("...")) elems += ArrElem.Spread(expr())
      else {
        val e = expr()
        if (first && eatKw("for")) return compTail(CompKind.List, e, None, "]")
        elems += ArrElem.One(e)
      }
      first = false
      if (!eat(",")) { expect("]"); done = true }
      else { ws(); done = eat("]") } // trailing comma
    }
    ArrLit(elems.result())
  }

  /** `{k: v for x in s if p}` (dict comp), `{e for x in s}` (set comp)
    * or an object literal. A name or string key followed by `:` may
    * still open a dict comp, so its value parses once and a following
    * `for` decides; any other head that is not a field parses as an
    * expression and opens a comprehension or a computed key `[k]: v`. */
  private def dictSetCompOrObject(): Expr = {
    expect("{")
    ws()
    val p0 = pos
    if (peekCh == '}' || s.startsWith("...", pos)) return objLiteral(None)
    def fieldMarker: Boolean = {
      val p1 = pos
      if (peekCh == '?') { pos += 1; ws() }
      val r = peekCh == ',' || peekCh == '}' || peekCh == ':'
      pos = p1; r
    }
    tryParse(objKey()).filter { _ => ws(); fieldMarker } match {
      case Some(k) if eat(":") =>
        val v = expr()
        if (!eatKw("for")) objLiteral(Some(kvField(k, v)))
        else compTail(CompKind.Dict, k.fold(n =>
          if (keywords(n)) fail("keyword as comprehension key") else Ident(n), identity),
          Some(v), "}")
      case Some(k) => objLiteral(Some(objFieldAfterKey(k)))
      case None =>
        pos = p0
        val e = expr()
        if (eatKw("for")) compTail(CompKind.SetC, e, None, "}")
        else {
          expect(":")
          val v = expr()
          if (eatKw("for")) compTail(CompKind.Dict, e, Some(v), "}")
          else e match {
            case ArrLit(Vector(ArrElem.One(k))) => objLiteral(Some(ObjField.Dyn(k, v)))
            case _ => fail("expected identifier")
          }
        }
    }
  }

  /** An object literal's fields after its `{`, the first one given when
    * already parsed. */
  private def objLiteral(first: Option[ObjField]): Expr = {
    val fields = Vector.newBuilder[ObjField]
    ws()
    var done = first.isEmpty && peekCh == '}'
    if (!done) fields += first.getOrElse(objField())
    while (!done) {
      if (!eat(",")) done = true
      else { ws(); if (peekCh == '}') done = true else fields += objField() } // trailing comma
    }
    expect("}")
    ObjLit(fields.result())
  }

  private def objField(): ObjField = {
    ws()
    if (eat("...**")) return ObjField.SpreadDeep(expr())
    if (eat("...")) return ObjField.Spread(expr())
    if (peekCh == '[') {
      pos += 1
      val k = expr()
      expect("]"); expect(":")
      return ObjField.Dyn(k, expr())
    }
    objFieldAfterKey(objKey())
  }

  /** key: ident or string literal; keywords (`kind`, `in`, …) are legal
    * keys when immediately followed by ':' (INDEPTH.md:255 `kind: …`) */
  private def objKey(): Either[String, Expr] = {
    ws()
    if (peekCh == '"' || peekCh == '\'') Right(Lit(JStr(stringLit())))
    else identOpt() match {
      case Some(n) => Left(n)
      case None =>
        val p0 = pos
        val kw = fieldName()
        ws()
        if (peekCh == ':' || (peekCh == '?' && pos + 1 < s.length && s.charAt(pos + 1) == ':'))
          Left(kw)
        else { pos = p0; fail("expected identifier") }
    }
  }

  private def objFieldAfterKey(key: Either[String, Expr]): ObjField = {
    ws()
    if (peekCh == '?' && pos + 1 < s.length && s.charAt(pos + 1) == ':') {
      pos += 2
      val v = expr()
      val kExpr = key.fold(n => Lit(JStr(n)), identity)
      ObjField.OptKV(kExpr, v)
    } else if (peekCh == '?') {
      pos += 1
      key match {
        case Left(n)  => ObjField.OptShort(n)
        case Right(_) => fail("string key requires a value")
      }
    } else if (eat(":")) kvField(key, expr())
    else key match {
      case Left(n)  => ObjField.Short(n)
      case Right(_) => fail("string key requires a value")
    }
  }

  private def kvField(key: Either[String, Expr], v: Expr): ObjField = {
    val when = if (eatKw("when")) Some(expr()) else None
    ObjField.KV(key.fold(n => Lit(JStr(n)), identity), v, when)
  }

  private def letExpr(): Expr = {
    if (!eatKw("let")) fail("expected let")
    val binds = Vector.newBuilder[(String, Expr)]
    var done = false
    while (!done) {
      val n = ident()
      expect("=")
      binds += (n -> expr())
      if (!eat(",")) done = true
    }
    if (!eatKw("in")) fail("let requires in")
    Let(binds.result(), expr())
  }

  private def lambdaKw(): Expr = {
    if (!eatKw("lambda")) fail("expected lambda")
    val params = Vector.newBuilder[String]
    params += ident()
    while (eat(",")) params += ident()
    expect(":")
    Lambda(params.result(), expr())
  }

  private def stringLit(): String = {
    ws()
    val quote = peekCh
    if (quote != '"' && quote != '\'') fail("expected string")
    pos += 1
    val start = pos
    while (pos < s.length && s.charAt(pos) != quote) pos += 1
    if (atEnd) fail("unterminated string")
    val raw = s.substring(start, pos)
    pos += 1
    raw
  }

  private def numberLit(): Expr = {
    ws()
    val start = pos
    while (pos < s.length && s.charAt(pos).isDigit) pos += 1
    if (pos < s.length && s.charAt(pos) == '.' && pos + 1 < s.length && s.charAt(pos + 1).isDigit) {
      pos += 1
      while (pos < s.length && s.charAt(pos).isDigit) pos += 1
      Lit(JFloat(s.substring(start, pos).toDouble))
    } else Lit(JInt(s.substring(start, pos).toLong))
  }

  // ── f-strings ────────────────────────────────────────────────────────
  // Raw body to the closing quote; `{expr[:spec | pipe]}` interpolations,
  // `{{`/`}}` escapes (reference parser.rs:806-885 defines the behavior).
  private def fstring(): Expr = {
    pos += 2 // f"
    val start = pos
    while (pos < s.length && s.charAt(pos) != '"') pos += 1
    if (atEnd) fail("unterminated f-string")
    val raw = s.substring(start, pos)
    pos += 1
    val parts = Vector.newBuilder[FPart]
    val lit = new StringBuilder
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c == '{' && i + 1 < raw.length && raw.charAt(i + 1) == '{') { lit.append('{'); i += 2 }
      else if (c == '}' && i + 1 < raw.length && raw.charAt(i + 1) == '}') { lit.append('}'); i += 2 }
      else if (c == '{') {
        if (lit.nonEmpty) { parts += FPart.Text(lit.toString); lit.clear() }
        var depth = 1
        val inner = new StringBuilder
        i += 1
        while (i < raw.length && depth > 0) {
          val c2 = raw.charAt(i)
          if (c2 == '{') depth += 1
          else if (c2 == '}') depth -= 1
          if (depth > 0) inner.append(c2)
          i += 1
        }
        parts += parseInterp(inner.toString)
      } else { lit.append(c); i += 1 }
    }
    if (lit.nonEmpty) parts += FPart.Text(lit.toString)
    FString(parts.result())
  }

  /** Split `{…}` interior at the first depth-0 `|` (pipe format) or `:`
    * (spec); pipe form becomes a method application on the value. */
  private def parseInterp(inner: String): FPart = {
    var depth = 0
    var pipeAt = -1
    var colonAt = -1
    var i = 0
    while (i < inner.length) {
      inner.charAt(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => if (depth > 0) depth -= 1
        case '|' if depth == 0 && pipeAt < 0  => pipeAt = i
        case ':' if depth == 0 && colonAt < 0 => colonAt = i
        case _ =>
      }
      i += 1
    }
    if (pipeAt >= 0) {
      val e = Parser.parse(inner.substring(0, pipeAt).trim)
      val m = inner.substring(pipeAt + 1).trim
      FPart.Interp(Pipe(e, Vector(PipeStep.Forward(
        Chain(Current, Vector(Step.Method(m, Vector.empty)))))), None)
    } else if (colonAt >= 0) {
      FPart.Interp(Parser.parse(inner.substring(0, colonAt).trim),
        Some(inner.substring(colonAt + 1)))
    } else FPart.Interp(Parser.parse(inner.trim), None)
  }

  // ── patch blocks ─────────────────────────────────────────────────────
  private def patchBlock(): Expr = {
    if (!eatKw("patch")) fail("expected patch")
    val target = coalesceExpr()
    expect("{")
    val fields = Vector.newBuilder[PatchField]
    ws()
    if (peekCh != '}') {
      var done = false
      while (!done) {
        fields += patchField()
        if (!eat(",")) done = true
        else { ws(); if (peekCh == '}') done = true }
      }
    }
    expect("}")
    Patch(target, fields.result())
  }

  private def patchField(): PatchField = {
    val steps = Vector.newBuilder[PatchStep]
    steps += PatchStep.Field(ident())
    var done = false
    while (!done) {
      ws()
      if (s.startsWith("..", pos)) { pos += 2; steps += PatchStep.Descendant(fieldName()) }
      else if (peekCh == '.') { pos += 1; steps += PatchStep.Field(fieldName()) }
      else if (peekCh == '[') {
        pos += 1
        ws()
        if (peekCh == '*') {
          pos += 1
          if (eatKw("if")) { val p = expr(); expect("]"); steps += PatchStep.WildIf(p) }
          else { expect("]"); steps += PatchStep.Wild }
        } else {
          ws()
          val st = pos
          if (peekCh == '-') pos += 1
          while (pos < s.length && s.charAt(pos).isDigit) pos += 1
          val i = s.substring(st, pos).toLong
          expect("]")
          steps += PatchStep.Index(i)
        }
      } else done = true
    }
    expect(":")
    val v = expr()
    val value = v match {
      case Lit(JStr("__DELETE__")) => None
      case other                   => Some(other)
    }
    val when = if (eatKw("when")) Some(expr()) else None
    PatchField(steps.result(), value, when)
  }
}
