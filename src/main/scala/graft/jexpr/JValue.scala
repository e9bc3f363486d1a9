package graft.jexpr

import scala.collection.immutable.{AbstractMap, ArraySeq, SeqMap, VectorMap}
import scala.collection.mutable

/** Dynamically-typed JSON value — the document-mode currency.
  *
  * Mirrors the reference's `Val` data model (jetro-core
  * `data/value.rs:22-53`): Int/Float duality, null as the missing-value
  * sentinel, insertion-ordered objects. Columnar lanes and zero-copy
  * slices stay out; on Spark those jobs belong to Tungsten/Parquet. The
  * object representation does matter, because building objects is most
  * of what a document parse does. Like the reference's `IndexMap` with
  * interned `Arc<str>` keys (value.rs:31-32, 46-47), an object built
  * once is a flat [[Fields]] table of two arrays, and [[JsonParser]]
  * shares one `String` per key text within a parse.
  */
sealed trait JValue {
  /** jetro truthiness (reference util.rs:63-73): null→false, bool
    * itself, numbers ≠ 0, non-empty strings/arrays/objects. */
  def truthy: Boolean = this match {
    case JNull        => false
    case JBool(b)     => b
    case JInt(n)      => n != 0L
    case JFloat(f)    => f != 0.0
    case JStr(s)      => s.nonEmpty
    case JArr(xs)     => xs.nonEmpty
    case JObj(fs)     => fs.nonEmpty
    case _: JFun      => true
  }

  def kind: String = this match {
    case JNull     => "null"
    case _: JBool  => "bool"
    case _: JInt   => "number"
    case _: JFloat => "number"
    case _: JStr   => "string"
    case _: JArr   => "array"
    case _: JObj   => "object"
    case _: JFun   => "lambda"
  }

  def render: String = { val sb = new StringBuilder; JValue.write(sb, this); sb.toString }
}

case object JNull extends JValue
final case class JBool(v: Boolean) extends JValue
final case class JInt(v: Long) extends JValue
final case class JFloat(v: Double) extends JValue
final case class JStr(v: String) extends JValue
final case class JArr(v: Vector[JValue]) extends JValue
/** Insertion-ordered object (reference uses IndexMap, value.rs:46-47).
  * Objects built once are [[Fields]]; `+`, `-` and `++` on one copy into
  * a `VectorMap`. Either way the map's equality is by content. */
final case class JObj(v: SeqMap[String, JValue]) extends JValue
/** Internal closure value — exists only during evaluation, renders as null. */
final case class JFun(params: Vector[String], body: Expr, captured: Map[String, JValue]) extends JValue

object JObj {
  def of(fields: (String, JValue)*): JObj = JObj(Fields.from(fields))
  val empty: JObj = JObj(Fields.empty)
}

/** The field table of an object that is built once: keys and values in
  * two arrays, in insertion order. A lookup scans the keys; a table of
  * more than [[Fields.ScanMax]] fields also gets an open-addressing hash
  * index, built once with the table. `updated` and `removed` copy into
  * a `VectorMap`, so an object that is edited pays for the copy once
  * and is a `VectorMap` from then on. */
final class Fields private (keys: Array[String], vals: Array[JValue], index: Array[Int])
    extends AbstractMap[String, JValue] with SeqMap[String, JValue] with Serializable {

  private def indexOf(k: String): Int =
    if (index == null) {
      var i = 0
      while (i < keys.length) { if (keys(i) == k) return i; i += 1 }
      -1
    } else Fields.probe(index, keys, k)

  def get(k: String): Option[JValue] = { val i = indexOf(k); if (i < 0) None else Some(vals(i)) }
  override def getOrElse[V1 >: JValue](k: String, default: => V1): V1 = {
    val i = indexOf(k); if (i < 0) default else vals(i)
  }
  override def apply(k: String): JValue = {
    val i = indexOf(k); if (i < 0) default(k) else vals(i)
  }
  override def contains(k: String): Boolean = indexOf(k) >= 0
  override def size: Int = keys.length
  override def knownSize: Int = keys.length
  override def isEmpty: Boolean = keys.length == 0

  def iterator: Iterator[(String, JValue)] = Iterator.range(0, keys.length).map(i => (keys(i), vals(i)))
  override def keysIterator: Iterator[String] = keys.iterator
  override def valuesIterator: Iterator[JValue] = vals.iterator
  override def foreach[U](f: ((String, JValue)) => U): Unit = {
    var i = 0
    while (i < keys.length) { f((keys(i), vals(i))); i += 1 }
  }
  override def foreachEntry[U](f: (String, JValue) => U): Unit = {
    var i = 0
    while (i < keys.length) { f(keys(i), vals(i)); i += 1 }
  }

  def updated[V1 >: JValue](k: String, v: V1): SeqMap[String, V1] = VectorMap.from[String, V1](this).updated(k, v)
  def removed(k: String): SeqMap[String, JValue] = if (contains(k)) VectorMap.from(this).removed(k) else this

  // `filter`, `filterNot` and `partition` build their results here
  override def empty: Fields = Fields.empty
  override protected def fromSpecific(coll: IterableOnce[(String, JValue)]): Fields = Fields.from(coll)
  override protected def newSpecificBuilder: mutable.Builder[(String, JValue), Fields] = Fields.newBuilder
}

object Fields {
  /** Up to this many fields a lookup scans the keys; past it, a hash
    * index keeps lookups and the builder's duplicate check O(1). */
  final val ScanMax = 8

  val empty: Fields = new Fields(new Array[String](0), new Array[JValue](0), null)

  def from(fs: IterableOnce[(String, JValue)]): Fields = (newBuilder ++= fs).result()

  def newBuilder: Builder = new Builder

  /** Builds a [[Fields]] with `VectorMap`'s rule for a repeated key: the
    * key keeps its first position and takes its last value. `result()`
    * copies the fields out and empties the builder, which keeps its
    * arrays for the next object. `get` reads a value added so far (the
    * deep spread merges into it). */
  final class Builder extends mutable.Builder[(String, JValue), Fields] {
    private var keys = new Array[String](ScanMax)
    private var vals = new Array[JValue](ScanMax)
    private var n = 0
    private var index: Array[Int] = null

    private def indexOf(k: String): Int =
      if (index == null) {
        var i = 0
        while (i < n) { if (keys(i) == k) return i; i += 1 }
        -1
      } else probe(index, keys, k)

    def get(k: String): Option[JValue] = { val i = indexOf(k); if (i < 0) None else Some(vals(i)) }

    def add(k: String, v: JValue): this.type = {
      val i = indexOf(k)
      if (i >= 0) vals(i) = v
      else {
        if (n == keys.length) {
          keys = copy(keys, n, new Array[String](n * 2))
          vals = copy(vals, n, new Array[JValue](n * 2))
        }
        keys(n) = k; vals(n) = v; n += 1
        if (index != null && n * 2 <= index.length) insert(index, k, n - 1)
        else if (n > ScanMax) index = buildIndex(keys, n)
      }
      this
    }

    def addOne(kv: (String, JValue)): this.type = add(kv._1, kv._2)

    def result(): Fields = {
      val r =
        if (n == 0) empty
        else new Fields(copy(keys, n, new Array[String](n)), copy(vals, n, new Array[JValue](n)), index)
      clear()
      r
    }

    /** Empties the builder; the index, if any, now belongs to a result.
      * The arrays keep their old entries until the next object writes
      * over them. */
    def clear(): Unit = { n = 0; index = null }
  }

  /** `to` with the first `n` entries of `from`. (`Arrays.copyOf` would
    * make a typed array by reflection, which C1-compiled code pays for
    * on every object.) */
  private def copy[A <: AnyRef](from: Array[A], n: Int, to: Array[A]): Array[A] = {
    System.arraycopy(from, 0, to, 0, n)
    to
  }

  // ── the hash index: slot -> field position + 1 (0 = empty), linear
  // probing over a power-of-two table at most half full ──────────────
  private def slot(k: String, mask: Int): Int = {
    val h = k.hashCode
    (h ^ (h >>> 16)) & mask
  }

  private def probe(index: Array[Int], keys: Array[String], k: String): Int = {
    val mask = index.length - 1
    var s = slot(k, mask)
    while (true) {
      val p = index(s)
      if (p == 0) return -1
      if (keys(p - 1) == k) return p - 1
      s = (s + 1) & mask
    }
    -1
  }

  private def insert(index: Array[Int], k: String, pos: Int): Unit = {
    val mask = index.length - 1
    var s = slot(k, mask)
    while (index(s) != 0) s = (s + 1) & mask
    index(s) = pos + 1
  }

  private def buildIndex(keys: Array[String], n: Int): Array[Int] = {
    val index = new Array[Int](Integer.highestOneBit(n * 4 - 1))
    var i = 0
    while (i < n) { insert(index, keys(i), i); i += 1 }
    index
  }
}

object JValue {
  def num(d: Double): JValue =
    if (d.isWhole && math.abs(d) < 9.007199254740992e15 && !d.isInfinite) JInt(d.toLong)
    else JFloat(d)

  /** Structural equality with Int/Float cross-comparison
    * (reference util.rs:78-96). */
  def eq(a: JValue, b: JValue): Boolean = (a, b) match {
    case (JNull, JNull)         => true
    case (JBool(x), JBool(y))   => x == y
    case (JInt(x), JInt(y))     => x == y
    case (JFloat(x), JFloat(y)) => x == y
    case (JInt(x), JFloat(y))   => x.toDouble == y
    case (JFloat(x), JInt(y))   => x == y.toDouble
    case (JStr(x), JStr(y))     => x == y
    case (JArr(x), JArr(y))     => x.length == y.length && x.lazyZip(y).forall(eq)
    case (JObj(x), JObj(y))     =>
      x.size == y.size && x.forall { case (k, v) => y.get(k).exists(eq(v, _)) }
    case _                      => false
  }

  /** Total order used by sort: numbers promoted, strings/bools lexical;
    * incomparable pairs tie (reference util.rs:99-137). Matched one side
    * at a time: a sort calls this n log n times, and matching on the
    * pair `(a, b)` would allocate a tuple per call. */
  def cmp(a: JValue, b: JValue): Int = a match {
    case JInt(x) => b match {
      case JInt(y)   => java.lang.Long.compare(x, y)
      case JFloat(y) => java.lang.Double.compare(x.toDouble, y)
      case _         => 0
    }
    case JFloat(x) => b match {
      case JFloat(y) => java.lang.Double.compare(x, y)
      case JInt(y)   => java.lang.Double.compare(x, y.toDouble)
      case _         => 0
    }
    case JStr(x)  => b match { case JStr(y) => x.compareTo(y); case _ => 0 }
    case JBool(x) => b match { case JBool(y) => java.lang.Boolean.compare(x, y); case _ => 0 }
    case _        => 0
  }

  /** Comparison binop: `< <= > >=` on incompatible kinds → false
    * (reference util.rs:141-170). */
  def cmpOk(a: JValue, b: JValue): Boolean = (a, b) match {
    case (JInt(_) | JFloat(_), JInt(_) | JFloat(_)) => true
    case (JStr(_), JStr(_))                         => true
    case (JBool(_), JBool(_))                       => true
    case _                                          => false
  }

  def asNum(v: JValue): Option[Double] = v match {
    case JInt(n)   => Some(n.toDouble)
    case JFloat(f) => Some(f)
    case _         => None
  }

  // ── JSON text → JValue (recursive descent; no third-party deps) ──────
  def parse(s: String): JValue = {
    val p = new JsonParser(s)
    val v = p.parseValue()
    p.skipWs()
    if (!p.atEnd) throw new JsonParseException(s"trailing input at ${p.pos}")
    v
  }

  def parseOpt(s: String): Option[JValue] =
    try Some(parse(s)) catch { case _: JsonParseException => None }

  // ── JValue → JSON text ───────────────────────────────────────────────
  def write(sb: StringBuilder, v: JValue): Unit = v match {
    case JNull | _: JFun => sb.append("null")
    case JBool(b)  => sb.append(b)
    case JInt(n)   => sb.append(n)
    case JFloat(f) => sb.append(renderDouble(f))
    case JStr(s)   => writeString(sb, s)
    case JArr(xs)  =>
      sb.append('[')
      var first = true
      xs.foreach { x => if (!first) sb.append(','); first = false; write(sb, x) }
      sb.append(']')
    case JObj(fs)  =>
      sb.append('{')
      var first = true
      fs.foreach { case (k, x) =>
        if (!first) sb.append(','); first = false
        writeString(sb, k); sb.append(':'); write(sb, x)
      }
      sb.append('}')
  }

  /** Doubles print shortest-round-trip like serde_json (312.20 → 312.2);
    * whole doubles keep a `.0` to stay floats on re-parse. */
  def renderDouble(f: Double): String = {
    if (f.isNaN || f.isInfinite) "null"
    else if (f == f.toLong && math.abs(f) < 1e15) s"${f.toLong}.0"
    else {
      val s = f.toString
      if (s.endsWith(".0")) s.dropRight(2) else s
    }
  }

  /** Display form used by f-strings / to_string: no quotes on strings,
    * floats shortest (184.5 not 184.50). */
  def display(v: JValue): String = v match {
    case JStr(s)   => s
    case JFloat(f) =>
      if (f == f.toLong && math.abs(f) < 1e15) f.toLong.toString else f.toString
    case JNull | _: JBool | _: JInt => v.render
    case _         => v.render
  }

  private def writeString(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      (s.charAt(i): @annotation.switch) match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c    => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }
}

final class JsonParseException(msg: String) extends RuntimeException(msg)

/** Minimal strict JSON parser. */
private final class JsonParser(s: String) {
  import JsonParser._
  var pos = 0
  // the text as chars: indexing an array is cheaper than String.charAt's
  // coder and bounds checks on every character
  private val cs = s.toCharArray
  // Depth guard: a pathologically nested document must fail as a
  // catchable JsonParseException (→ null row in the eval UDFs), not as a
  // StackOverflowError that kills the executor task at scale.
  private var depth = 0
  private val MaxDepth = 512
  // Keys read so far in this parse, by the hash of their text: the same
  // key in every record of an array is one String, not one per record.
  // Only a text of KeyTableMinChars or more gets one: a small document
  // (one row's JSON) repeats too few keys to pay for the table.
  private val keyTable: Array[String] =
    if (cs.length >= KeyTableMinChars) new Array[String](KeySlots) else null
  // One object builder per nesting depth, reused by every object at that
  // depth, and one stack for the elements of the open arrays: a value
  // allocates only its own exact-size storage. Both are made on first use.
  private var objBuilders: Array[Fields.Builder] = null
  private var elems: Array[AnyRef] = null
  private var top = 0
  def atEnd: Boolean = pos >= cs.length

  def skipWs(): Unit = {
    var p = pos
    while (p < cs.length && { val c = cs(p); c <= ' ' && (c == ' ' || c == '\n' || c == '\t' || c == '\r') })
      p += 1
    pos = p
  }

  private def fail(msg: String): Nothing = throw new JsonParseException(s"$msg at $pos")

  private def expect(c: Char): Unit = {
    if (atEnd || cs(pos) != c) fail(s"expected '$c'")
    pos += 1
  }

  def parseValue(): JValue = {
    skipWs()
    if (atEnd) fail("unexpected end")
    cs(pos) match {
      case '{' =>
        depth += 1
        if (depth > MaxDepth) fail(s"nesting deeper than $MaxDepth")
        val v = parseObj(); depth -= 1; v
      case '[' =>
        depth += 1
        if (depth > MaxDepth) fail(s"nesting deeper than $MaxDepth")
        val v = parseArr(); depth -= 1; v
      case '"' => JStr(parseString(key = false))
      case 't' => literal("true"); JBool(true)
      case 'f' => literal("false"); JBool(false)
      case 'n' => literal("null"); JNull
      case c if c == '-' || (c >= '0' && c <= '9') => parseNumber()
      case c   => fail(s"unexpected '$c'")
    }
  }

  private def literal(lit: String): Unit = {
    if (!s.startsWith(lit, pos)) fail(s"expected $lit")
    pos += lit.length
  }

  private def parseObj(): JValue = {
    expect('{'); skipWs()
    if (!atEnd && cs(pos) == '}') { pos += 1; return JObj.empty }
    if (objBuilders == null) objBuilders = new Array[Fields.Builder](depth + 4)
    else if (objBuilders.length <= depth) objBuilders = java.util.Arrays.copyOf(objBuilders, depth * 2)
    var b = objBuilders(depth)
    if (b == null) { b = Fields.newBuilder; objBuilders(depth) = b }
    var done = false
    while (!done) {
      skipWs()
      val k = parseString(key = true)
      skipWs(); expect(':')
      b.add(k, parseValue())
      skipWs()
      if (!atEnd && cs(pos) == ',') pos += 1
      else { expect('}'); done = true }
    }
    JObj(b.result())
  }

  private def parseArr(): JValue = {
    expect('['); skipWs()
    if (!atEnd && cs(pos) == ']') { pos += 1; return JArr(Vector.empty) }
    if (elems == null) elems = new Array[AnyRef](16)
    val base = top
    var done = false
    while (!done) {
      val v = parseValue()
      if (top == elems.length) elems = java.util.Arrays.copyOf(elems, top * 2)
      elems(top) = v; top += 1
      skipWs()
      if (!atEnd && cs(pos) == ',') pos += 1
      else { expect(']'); done = true }
    }
    val xs = java.util.Arrays.copyOfRange(elems, base, top)
    top = base
    // a Vector of up to 32 elements takes the array as it is
    JArr(Vector.from(ArraySeq.unsafeWrapArray(xs)).asInstanceOf[Vector[JValue]])
  }

  /** Escape-free fast path: scan to the closing quote and take one
    * substring (the overwhelmingly common case); fall to the
    * builder-based unescape loop only when a backslash appears. An
    * escape-free key comes from the key table when this parse has
    * already read the same text. */
  private def parseString(key: Boolean): String = {
    expect('"')
    val start = pos
    val cs = this.cs
    var p = start
    var h = 0
    while (p < cs.length) {
      val c = cs(p)
      if (c == '"') {
        pos = p + 1
        if (!key || keyTable == null) return s.substring(start, p)
        val slot = (h ^ (h >>> 16)) & (KeySlots - 1)
        val seen = keyTable(slot)
        if (seen != null && seen.length == p - start && s.regionMatches(start, seen, 0, p - start)) return seen
        val r = s.substring(start, p)
        keyTable(slot) = r
        return r
      }
      if (c == '\\') { pos = p; return parseStringSlow(start) }
      h = 31 * h + c
      p += 1
    }
    pos = p
    fail("unterminated string")
  }

  private def parseStringSlow(start: Int): String = {
    val sb = new StringBuilder(pos - start + 16)
    sb.append(s.substring(start, pos)) // clean prefix before the first escape
    while (true) {
      if (atEnd) fail("unterminated string")
      val c = cs(pos)
      pos += 1
      if (c == '"') return sb.toString
      else if (c == '\\') {
        if (atEnd) fail("bad escape")
        val e = cs(pos); pos += 1
        e match {
          case '"'  => sb.append('"')
          case '\\' => sb.append('\\')
          case '/'  => sb.append('/')
          case 'n'  => sb.append('\n')
          case 't'  => sb.append('\t')
          case 'r'  => sb.append('\r')
          case 'b'  => sb.append('\b')
          case 'f'  => sb.append('\f')
          case 'u'  =>
            // exactly four ASCII hex digits
            var code = 0
            val end = pos + 4
            while (pos < end) {
              val d = if (pos < cs.length) hexDigit(cs(pos)) else -1
              if (d < 0) fail("bad \\u escape")
              code = code * 16 + d
              pos += 1
            }
            sb.append(code.toChar)
          case x    => fail(s"bad escape \\$x")
        }
      } else sb.append(c)
    }
    sys.error("unreachable")
  }

  private def isAsciiDigit(c: Char): Boolean = c >= '0' && c <= '9'

  private def parseNumber(): JValue = {
    val cs = this.cs
    val len = cs.length
    val start = pos
    var p = start
    var neg = false
    if (p < len && cs(p) == '-') { neg = true; p += 1 }
    // integer fast path: accumulate digits directly; fall back to the
    // substring parse on overflow or a float tail
    val digitsStart = p
    var acc = 0L
    var overflow = false
    var sig = 0 // significant digits: leading zeros do not count
    var d = 0
    while (p < len && { d = cs(p) - '0'; d >= 0 && d <= 9 }) {
      if (acc > (Long.MaxValue - 9) / 10) overflow = true
      else acc = acc * 10 + d
      if (sig > 0 || d != 0) sig += 1
      p += 1
    }
    var isFloat = false
    var fracDigits = 0
    if (p < len && cs(p) == '.') {
      isFloat = true; p += 1
      while (p < len && { d = cs(p) - '0'; d >= 0 && d <= 9 }) {
        if (sig > 0 || d != 0) sig += 1
        if (sig <= FastDigits) acc = acc * 10 + d
        fracDigits += 1
        p += 1
      }
    }
    var hasExp = false
    if (p < len && (cs(p) == 'e' || cs(p) == 'E')) {
      isFloat = true; hasExp = true; p += 1
      if (p < len && (cs(p) == '+' || cs(p) == '-')) p += 1
      while (p < len && isAsciiDigit(cs(p))) p += 1
    }
    pos = p
    if (p == digitsStart) fail("bad number")
    if (!isFloat && !overflow) return JInt(if (neg) -acc else acc)
    // Clinger's fast path: a mantissa of at most 15 digits and a power of
    // ten up to 1e22 are both exact doubles, so one correctly rounded
    // division gives the same double as Double.parseDouble. The digit
    // count needs one digit beside the point ("-." is not a number).
    if (isFloat && !hasExp && sig <= FastDigits && fracDigits < Pow10.length &&
        p - digitsStart > 1) {
      val f = acc.toDouble / Pow10(fracDigits)
      return JFloat(if (neg) -f else f)
    }
    val txt = s.substring(start, pos)
    // toDoubleOption (not toDouble): a malformed literal like "77E" must
    // surface as a catchable parse error, not a NumberFormatException
    if (isFloat) txt.toDoubleOption.map(JFloat(_)).getOrElse(fail(s"bad number '$txt'"))
    else txt.toLongOption.map(JInt(_))
      .orElse(txt.toDoubleOption.map(JFloat(_)))
      .getOrElse(fail(s"bad number '$txt'"))
  }
}

private object JsonParser {
  /** Slots in a parse's key table (a power of two). */
  final val KeySlots = 512
  /** The shortest text whose parse keeps a key table. */
  final val KeyTableMinChars = 1024
  /** Most significant digits an exact double mantissa holds for sure. */
  final val FastDigits = 15
  /** 1e0 … 1e22: every power of ten a double holds exactly. */
  private val Pow10: Array[Double] = Array.iterate(1.0, 23)(_ * 10)

  def hexDigit(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1
}
