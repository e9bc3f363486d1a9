package graft.jexpr

/** Recursive-descent traversal: `$..field`, `..find/shape/like`, walk.
  * DFS pre-order over the value tree, mirroring the reference's deep
  * search semantics (/root/reference/jetro-core/src/exec/structural.rs:22-40,
  * builtins/ops/array.rs:599-806). The structural-index fast path is a
  * non-goal here (SURVEY §1.6): in relational mode Parquet pushdown plays
  * that role; document mode takes the plain walk.
  */
object Deep {

  /** All nodes in DFS pre-order, self included. */
  def allNodes(v: JValue): Vector[JValue] = {
    val out = Vector.newBuilder[JValue]
    def go(x: JValue): Unit = {
      out += x
      x match {
        case JArr(xs) => xs.foreach(go)
        case JObj(fs) => fs.valuesIterator.foreach(go)
        case _        =>
      }
    }
    go(v)
    out.result()
  }

  /** `..field` — every value bound to `name` in any descendant object;
    * bare `..` — every descendant node (self excluded). */
  def descend(v: JValue, name: Option[String]): Vector[JValue] = name match {
    case Some(n) =>
      val out = Vector.newBuilder[JValue]
      def go(x: JValue): Unit = x match {
        case JObj(fs) =>
          fs.get(n).foreach(out += _)
          fs.valuesIterator.foreach(go)
        case JArr(xs) => xs.foreach(go)
        case _        =>
      }
      go(v)
      out.result()
    case None => allNodes(v).drop(1)
  }

  /** `..find(pred)` — every node (pre-order, self included) where pred
    * is truthy with `@` bound to the node. */
  def find(v: JValue, pred: JValue => Boolean): Vector[JValue] =
    allNodes(v).filter(pred)

  /** `..shape({k,…})` — every descendant object that has ALL keys. */
  def shape(v: JValue, keys: Vector[String]): Vector[JValue] =
    allNodes(v).collect { case o @ JObj(fs) if keys.forall(fs.contains) => o }

  /** `..like({k: lit})` — every descendant object whose listed keys
    * structurally equal the given values. */
  def like(v: JValue, fields: Vector[(String, JValue)]): Vector[JValue] =
    allNodes(v).collect {
      case o @ JObj(fs) if fields.forall { case (k, expect) =>
        fs.get(k).exists(JValue.eq(_, expect)) } => o
    }

  /** `walk(fn)` — post-order transform: children first, then the node. */
  def walkPost(v: JValue, f: JValue => JValue): JValue = {
    val rebuilt = v match {
      case JArr(xs) => JArr(xs.map(walkPost(_, f)))
      case JObj(fs) => JObj(Fields.from(fs.iterator.map { case (k, x) => k -> walkPost(x, f) }))
      case other    => other
    }
    f(rebuilt)
  }

  /** `walk_pre(fn)` — pre-order: node first, then recurse into result. */
  def walkPre(v: JValue, f: JValue => JValue): JValue = f(v) match {
    case JArr(xs) => JArr(xs.map(walkPre(_, f)))
    case JObj(fs) => JObj(Fields.from(fs.iterator.map { case (k, x) => k -> walkPre(x, f) }))
    case other    => other
  }

  /** `trace_path()` — `{path, value}` rows for every leaf, path in
    * dotted/bracket notation rooted at `$`. */
  def tracePaths(v: JValue): Vector[JValue] = {
    val out = Vector.newBuilder[JValue]
    def go(x: JValue, path: String): Unit = x match {
      case JArr(xs) if xs.nonEmpty =>
        xs.zipWithIndex.foreach { case (e, i) => go(e, s"$path[$i]") }
      case JObj(fs) if fs.nonEmpty =>
        fs.foreach { case (k, e) => go(e, s"$path.$k") }
      case leaf =>
        out += JObj.of("path" -> JStr(path), "value" -> leaf)
    }
    go(v, "$")
    out.result()
  }
}
