package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, ExprId, SparkPartitionID}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins the distributed order machinery (`Lower.runningOverOrder`,
  * and `withGlobalRn` on top of it): the per-bucket aggregate side and
  * the row side each derive a row's `__bucket` from range boundaries
  * sampled ONCE at plan time, as a pure function of the row's order
  * key, and join the per-bucket exclusive prefixes back on that bucket.
  * Correctness therefore holds by construction — it must not depend on
  * two reads of one exchange observing the same partitioning, on
  * `ReuseExchange` firing, or on AQE leaving a shuffle un-coalesced.
  *
  * The spec asserts that no partition id or other nondeterministic
  * expression feeds the join / grouping keys of the executed plan, and
  * the end-to-end properties (global row numbers are a permutation in
  * key order, running aggregates match the single-window reference)
  * over a SKEWED and a unique-key multi-partition input, collected as
  * full rows (so Catalyst prunes the two sides differently), with
  * exchange reuse and AQE partition coalescing both on and off. No
  * query may leave a cached block behind.
  */
class OrderMachinerySpec extends SparkSpec {

  private def executed(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val extra = p match {
      case q: QueryStageExec        => Seq(q.plan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case r: ReusedExchangeExec    => Seq(r.child)
      case _                        => Nil
    }
    p +: (p.children ++ extra).flatMap(nodes)
  }

  /** 5,000 rows, heavily skewed sort key (93% share one value, so one
    * range partition owns most rows), spread over 8 input partitions. */
  private def skewed: DataFrame = {
    import spark.implicits._
    spark.range(0, 5000, 1, 8)
      .select(col("id"),
        when(col("id") % 15 =!= 0, lit(42L))
          .otherwise(col("id")).as("k"),
        (col("id") % 97).cast("double").as("v"))
  }

  private def withConf[A](key: String, on: Boolean)(body: => A): A = {
    val prev = spark.conf.get(key, "true")
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, prev)
  }

  private def withCoalesce[A](on: Boolean)(body: => A): A =
    withConf("spark.sql.adaptive.coalescePartitions.enabled", on)(body)

  private def withReuse[A](on: Boolean)(body: => A): A =
    withConf("spark.sql.exchange.reuse", on)(body)

  /** `df` collected as FULL rows, asserting it persisted nothing. */
  private def collected(df: DataFrame): Array[Row] = {
    val rows = df.collect()
    assert(spark.sharedState.cacheManager.isEmpty, "a query left cached blocks behind")
    rows
  }

  /** 5,000 unique, hash-scattered sort keys over 8 input partitions —
    * many distinct keys per range, so two independently sampled range
    * boundaries would disagree on real rows. */
  private def uniqueKeys: DataFrame =
    spark.range(0, 5000, 1, 8)
      .select(col("id"), xxhash64(col("id")).as("k"),
        (col("id") % 97).cast("double").as("v"))

  /** Each id's 0-based rank in `k` order (the reference row number). */
  private def rankOfId: Map[Long, Long] =
    uniqueKeys.select("id", "k").collect()
      .sortBy(_.getLong(1)).map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => id -> i.toLong }.toMap

  /** The executed plan's join keys and aggregate grouping keys, each
    * expanded through the aliases that define its attributes. */
  private def joinAndGroupKeys(p: SparkPlan): (Seq[Expression], Seq[Expression]) = {
    val all = nodes(p)
    val defs: Map[ExprId, Expression] = all.flatMap(_.expressions.flatMap(_.collect {
      case a: Alias => a.exprId -> a.child
    })).toMap
    def expand(e: Expression): Expression = e.transform {
      case a: Attribute if defs.contains(a.exprId) => expand(defs(a.exprId))
    }
    val joinKeys = all.flatMap {
      case j: HashJoin         => j.leftKeys ++ j.rightKeys
      case j: SortMergeJoinExec => j.leftKeys ++ j.rightKeys
      case _                   => Nil
    }
    val groupKeys = all.flatMap {
      case a: BaseAggregateExec => a.groupingExpressions
      case _                    => Nil
    }
    (joinKeys.map(expand), groupKeys.map(expand))
  }

  test("global row numbers are a permutation of 0..n-1 over a skewed input, AQE coalescing on AND off") {
    for (coalesce <- Seq(true, false)) withCoalesce(coalesce) {
      val df = graft.plans.Lower.compile(
        "$.t.sort_by(k).enumerate()", _ => skewed)
      val idx = df.select("index").collect().map(_.getLong(0)).sorted
      assert(idx.length == 5000, s"coalesce=$coalesce: ${idx.length} rows")
      assert(idx.sameElements(0L until 5000L),
        s"coalesce=$coalesce: row numbers are not a permutation " +
          s"(head=${idx.take(5).mkString(",")}, last=${idx.last})")
    }
  }

  test("the two consumers share ONE reused range exchange, never coalesced or locally re-read") {
    // Restated for the order-bucket machinery: a single physical range
    // exchange is no longer the mechanism. Stronger invariant: nothing
    // physical (partition ids, other nondeterministic expressions)
    // feeds the offset join or the per-bucket grouping, and the global
    // row numbers are a permutation over full-row reads under every
    // reuse / coalescing combination.
    for (reuse <- Seq(true, false); co <- Seq(true, false))
      withReuse(reuse)(withCoalesce(co) {
        val df = graft.plans.Lower.compile(
          "$.t.sort_by(k).enumerate()", _ => skewed)
        val idx = collected(df).map(_.getAs[Long]("index")).sorted
        assert(idx.sameElements(0L until 5000L),
          s"reuse=$reuse coalesce=$co: ${idx.length} rows, " +
            s"${idx.distinct.length} distinct indices")
        val (joinKeys, groupKeys) = joinAndGroupKeys(executed(df))
        assert(joinKeys.nonEmpty && groupKeys.nonEmpty, executed(df))
        (joinKeys ++ groupKeys).foreach { k =>
          assert(!k.exists(e => e.isInstanceOf[SparkPartitionID] || !e.deterministic),
            s"reuse=$reuse coalesce=$co: physical/nondeterministic key $k:\n${executed(df)}")
        }
      })
  }

  test("enumerate over unique hashed keys, collected as full rows, numbers every row by its rank, with and without a map (reuse on AND off)") {
    val rank = rankOfId
    for (e <- Seq("$.t.sort_by(k).enumerate()", "$.t.sort_by(k).map({id, r: v}).enumerate()");
         reuse <- Seq(true, false)) withReuse(reuse) {
      val rows = collected(graft.plans.Lower.compile(e, _ => uniqueKeys))
      assert(rows.map(_.getAs[Long]("index")).sorted.sameElements(0L until 5000L),
        s"$e reuse=$reuse: not a permutation")
      rows.foreach { r =>
        val id = r.getAs[Row]("value").getAs[Long]("id")
        assert(r.getAs[Long]("index") == rank(id), s"$e reuse=$reuse id=$id")
      }
    }
  }

  test("runningOverOrder over unique hashed keys, collected with every column, matches the single-window reference (reuse on AND off)") {
    val expect = uniqueKeys
      .withColumn("r", sum("v").over(
        Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)))
      .select("id", "r").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (reuse <- Seq(true, false)) withReuse(reuse) {
      val got = collected(graft.plans.Lower.runningOverOrder(
        uniqueKeys, Seq(col("k").asc), col("v"), sum,
        (pre, w) => coalesce(pre + w, pre, w), "r"))
      assert(got.length == 5000)
      got.foreach { r =>
        val id = r.getAs[Long]("id")
        assert(math.abs(r.getAs[Double]("r") - expect(id)) < 1e-9,
          s"reuse=$reuse id=$id: ${r.getAs[Double]("r")} vs ${expect(id)}")
      }
    }
  }

  test("runningOverOrder (accumulate) matches the single-window reference on a skewed input, both AQE settings") {
    import org.apache.spark.sql.expressions.Window
    // unique sort key (ties would make the running sum tie-order
    // dependent in ANY engine); skewed VALUE distribution
    val base = spark.range(0, 4000, 1, 8)
      .select(col("id").as("k"), (col("id") % 13).cast("double").as("v"))
    val expect = base
      .withColumn("r", sum("v").over(
        Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)))
      .select("k", "r").collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    for (co <- Seq(true, false)) withCoalesce(co) {
      val got = graft.plans.Lower.runningOverOrder(
          base, Seq(col("k").asc), col("v"), sum,
          (pre, w) => coalesce(pre + w, pre, w), "r")
        .select("k", "r").collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.length == 4000)
      got.foreach { case (k, r) =>
        assert(math.abs(r - expect(k)) < 1e-9, s"coalesce=$co k=$k: $r vs ${expect(k)}")
      }
    }
  }
}
