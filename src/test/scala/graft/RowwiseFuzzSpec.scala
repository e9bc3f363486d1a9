package graft

import org.apache.spark.sql.DataFrame
import graft.jexpr.JValue

/** Randomized differential for the distributed per-row fallback rung
  * (Graft.rowwiseCompile): generated element-wise chains — including
  * the round-8 additions `explode(field)` and row-iterating
  * chain-writes / `patch $` blocks — must produce exactly the rows the
  * whole-document interpreter produces over the same table, and (where
  * the chain also lowers) the rows the Catalyst compiler produces.
  * This is the same two-backend contract LowerFuzzSpec pins for the
  * relational lane, applied to the rung that is now the default middle
  * path of the fallback ladder.
  */
class RowwiseFuzzSpec extends SparkSpec {

  /** Canonical row multiset: parse each JSON row, sort object keys
    * (Lower keeps select order, read.json alphabetizes), then sort the
    * row texts — partition order and document order both normalize
    * away. */
  private def canonRows(df: DataFrame): Vector[String] = {
    def canon(v: JValue): String = v match {
      case jexpr.JObj(fs) => fs.toVector.sortBy(_._1)
        .map { case (k, x) => s""""$k":${canon(x)}""" }.mkString("{", ",", "}")
      case jexpr.JArr(xs) => xs.map(canon).mkString("[", ",", "]")
      // integral doubles: a typed 17.0 and an interpreter-rendered 17
      // are the same value to this comparison
      case jexpr.JFloat(f) if f.isWhole && math.abs(f) < 1e15 =>
        f.toLong.toString
      case other => other.render
    }
    df.toJSON.collect().toVector.map(s => canon(JValue.parse(s))).sorted
  }

  /** One generated case: rowwise must qualify, and must match the
    * document interpreter run of the SAME evaluated expression (the
    * plan's evalExpr — identical text for plain chains, the
    * `(expr).table` rewrite for writes). When the chain also lowers,
    * the Catalyst rows must match too. Returns true when the Lower leg
    * ran. */
  private def check(e: String): Boolean = {
    val plan = Graft.rowwisePlan(e)
    assert(plan.isDefined, s"should qualify for the rowwise rung: $e")
    val rw = canonRows(Graft.rowwiseCompile(spark, sf, e).get)
    val doc = canonRows(Graft.docFallback(spark, sf, plan.get.evalExpr))
    assert(rw == doc, s"rowwise != document for: $e")
    graft.plans.Lower.tryCompile(e, t => graft.core.Tables(spark, sf, t)) match {
      case Some(ldf) =>
        assert(canonRows(ldf) == doc, s"rowwise/doc != lowered for: $e")
        true
      case None => false
    }
  }

  private val preds = Seq(
    "c_acctbal > 1000", "c_nationkey < 13", "c_custkey % 3 == 0",
    "c_acctbal > -100 and c_nationkey >= 3", "c_mktsegment == \"BUILDING\"",
    "c_acctbal > 999999", // empty-result stressor
    // where a lowered predicate and the interpreter's could part: the
    // rowwise rung runs a chain's leading filters in the scan
    // (Lower.scanFilter), so each of these must keep what the
    // interpreter keeps
    "c_name < \"Customer#000000005\"",                 // string order
    "c_acctbal", "c_nationkey % 2", "c_mktsegment",     // bare truthiness
    "c_comment",                                         // absent field
    "c_name > 5",                                        // across kinds
    "c_acctbal == null", "c_mktsegment != null",
    "c_acctbal / (c_nationkey + 1) > 300")              // division

  test("random element-wise chains: rowwise == interpreter (== lowered where lowerable)") {
    val rng = new scala.util.Random(fuzzSeed(20260814))
    var lowered = 0
    (0 until 70).foreach { _ =>
      val pred = preds(rng.nextInt(preds.length))
      val filterStage = rng.nextInt(4) match {
        case 0 => s"{$pred}"
        case 1 => s".filter($pred)"
        case 2 => s".where($pred)"
        case _ => s"{$pred}$unlowered" // only the first filter lowers
      }
      // shape slot: lowerable projections and interpreter-only builtins
      // mix so the Lower leg runs on a real subset of cases
      val shape = rng.nextInt(6) match {
        case 0 => ".map({k: c_custkey, seg: c_mktsegment})"
        case 1 => ".map({k: c_custkey, u: c_name.upper(), b: c_acctbal * 2})"
        case 2 => ".map({k: c_custkey, s: c_name.title_case()})"
        case 3 => ".map({k: c_custkey, w: c_mktsegment.words()})" // array lane
        case 4 => s".pick(${"\"c_custkey\", \"c_mktsegment\""})"
        case _ => s".omit(${"\"c_name\", \"c_acctbal\""})"
      }
      val post = rng.nextInt(6) match {
        case 0 => ""
        case 1 if shape.contains("w:") => """.explode("w")"""
        case 1 => s".find_all(c_custkey >= 0)"
        case 2 => ".compact()"
        case 3 => s"{k != null}" // post-shape inline filter
        // round-9: top-level walk/walk_pre/rec with an array-identity
        // kind guard — the receiver (stream vs singleton) application
        // is identity, so the per-element recursion distributes
        case 4 =>
          val m = if (rng.nextBoolean()) "walk" else "walk_pre"
          s""".$m(lambda x: x.upper() if x is string and x != "zz" else x)"""
        case _ => ".rec(@ - 11 if @ is number and @ > 50 else @)"
      }
      // post stages referencing k only make sense after a k-shape
      val e0 = s"$$.customer$filterStage$shape"
      val e = if (post.contains("k") && !shape.contains("k:")) e0 else s"$e0$post"
      if (check(e)) lowered += 1
    }
    // the pool must genuinely exercise the Lower leg too
    assert(lowered > 5, s"only $lowered generated chains lowered")
  }

  /** A filter with no relational lowering that keeps most rows. */
  private val unlowered = """{c_mktsegment.rec(@) != "AUTOMOBILE"}"""

  test("every predicate as a leading filter: rowwise == interpreter") {
    // the non-lowerable shape keeps each chain off the relational rung,
    // so every predicate runs in the rowwise rung's scan
    val shape = ".map({k: c_custkey, s: c_name.title_case().rec(@)})"
    for (p <- preds; stage <- Seq(s"{$p}", s".filter($p)", s"{$p}$unlowered",
                                 s"$unlowered{$p}"))
      check(s"$$.customer$stage$shape")
  }

  test("random chain-writes and patch batches: rowwise == interpreter") {
    val rng = new scala.util.Random(fuzzSeed(8042026))
    (0 until 40).foreach { _ =>
      val pred = preds(rng.nextInt(preds.length))
      val fan = if (rng.nextBoolean()) "[*]" else s"{$pred}"
      val e = rng.nextInt(7) match {
        case 0 => s"$$.customer$fan.c_acctbal.set(${rng.nextInt(100)})"
        case 1 => s"$$.customer$fan.c_acctbal.modify(@ * 2 + ${rng.nextInt(5)})"
        case 2 => s"$$.customer$fan.c_name.modify(@.title_case())"
        case 3 => s"$$.customer$fan.c_mktsegment.delete()"
        case 4 => s"""$$.customer$fan.unset("c_nationkey")"""
        case 5 => s"$$.customer$fan.merge({flag: ${rng.nextInt(2)}})"
        case _ =>
          val when = if (rng.nextBoolean()) " when @ < 1000" else ""
          s"patch $$ { customer[*].c_acctbal: @ * 2$when, customer[*].c_name: @.lower() }"
      }
      check(e)
    }
  }

  test("whole-row chain-delete == interpreter filter-out") {
    preds.foreach { p =>
      check(s"$$.customer{$p}.delete()")
    }
  }
}
