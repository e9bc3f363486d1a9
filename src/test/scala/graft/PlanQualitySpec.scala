package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Plan-quality regression tests — the 100 TB design contract from the
  * build brief, asserted on the actual physical plans so a refactor
  * that silently loses pushdown, pruning, broadcast, top-k, or
  * shuffle-free bucketing fails CI rather than a future benchmark.
  */
class PlanQualitySpec extends SparkSpec {

  private def executed(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }

  private def planString(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  /** All plan nodes incl. adaptive/reused-stage children. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val extra = p match {
      case q: QueryStageExec        => Seq(q.plan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case r: ReusedExchangeExec    => Seq(r.child)
      case _                        => Nil
    }
    p +: (p.children ++ extra).flatMap(nodes)
  }

  test("filters push down to the parquet scan") {
    val q = graft.queries.Catalog.queries("q_filter")(spark, sf)
    val s = planString(q)
    assert(s.contains("PushedFilters:") &&
      s.contains("GreaterThan(o_totalprice"), s)
  }

  test("projections prune the scan schema") {
    val q = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val s = planString(q)
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_extendedprice"),
      readSchema)
  }

  test("sort+limit plans as TakeOrderedAndProject (bounded top-k, no full sort)") {
    val q = graft.queries.Catalog.queries("q_sort_topk")(spark, sf)
    assert(planString(q).contains("TakeOrderedAndProject"))
  }

  test("the compiled jetro pipeline also gets top-k and pushdown") {
    val q = graft.plans.Lower.compile(
      """$.orders{o_orderstatus == "O"}.sort_by(-o_totalprice).take(5).map({id: o_orderkey, total: o_totalprice})""",
      t => Tables(spark, sf, t))
    val s = planString(q)
    assert(s.contains("TakeOrderedAndProject"), s)
    // jetro `==` lowers null-safe (EqualNullSafe) — still a pushed
    // parquet source filter, matching the interpreter's null-as-value
    // equality
    assert(s.contains("EqualNullSafe(o_orderstatus,O)"), s)
  }

  test("small dimension joins broadcast") {
    val q = graft.queries.Catalog.queries("q_join_broadcast")(spark, sf)
    assert(planString(q).contains("BroadcastHashJoin"))
  }

  test("aggregation is partial (map-side combine) before the shuffle") {
    val q = graft.queries.Catalog.queries("q1_agg")(spark, sf)
    val s = planString(q)
    // two HashAggregate nodes (partial + final) around one Exchange
    assert("HashAggregate".r.findAllIn(s).length >= 2, s)
  }

  test("bucketed tables join without a shuffle on either side") {
    // default warehouse (./spark-warehouse, gitignored) — warehouse.dir
    // is a static conf that can't change on a live session
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    Seq("b_orders", "b_lineitem").foreach { t =>
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        java.nio.file.Files.walk(dir.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
    graft.ops.Layout.bucketedWrite(
      Tables.orders(spark, sf), "b_orders", "o_orderkey", buckets = 8)
    graft.ops.Layout.bucketedWrite(
      Tables.lineitem(spark, sf), "b_lineitem", "l_orderkey", buckets = 8)
    // force the sort-merge path (tiny test tables would broadcast and
    // trivially skip the shuffle; bucketing is for when neither side fits)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val s = try {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").count()
      // materialise, then check the final adaptive plan: the join itself
      // must not be fed by any shuffle exchange
      joined.collect()
      executed(joined).toString
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    val joinIdx = s.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, s)
    val afterJoin = s.substring(joinIdx)
    // the only exchange allowed is the post-join groupBy shuffle — which
    // sits ABOVE the join in the plan string, not below it
    assert(!afterJoin.contains("Exchange hashpartitioning"), afterJoin)
  }

  test("error-absorbing try stays inside whole-stage codegen") {
    val df = graft.queries.Catalog.queries("q_lower_try")(spark, sf)
    df.collect() // finalize the adaptive plan so codegen marks appear
    val plan = executed(df).toString
    // the TryOrNull expression sits inside a codegen'd (*-marked)
    // projection — no interpreted-eval fallback in the hot path
    assert(plan.linesIterator.exists(l =>
      l.contains("try_or_null") && l.contains("*(")), plan)
  }

  test("IVF centroid assignment is a partial aggregate, not a window") {
    import org.apache.spark.sql.functions._
    // the corpus-side argmax (nearest centroid per vector) must fold
    // map-side: HashAggregate pairs around one exchange on cid, and NO
    // Window (a window would sort corpus×nlist rows after the shuffle)
    val emb = Tables.embeddings(spark, sf)
    val cents = graft.ops.Similarity.kmeansCentroids(
      emb, "vec_id", "embedding", nlist = 4, iters = 1)
    val plan = executed(cents).toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"), plan)
  }

  test("full IVF top-k plan carries no Window node") {
    // probe ranking (top-nprobe centroids per query) and the re-rank
    // both ride bounded TopK buffers now — the whole IVF pipeline is
    // aggregates + joins; a Window anywhere would re-introduce a
    // per-group sort the buffers exist to avoid
    val emb = Tables.embeddings(spark, sf)
    val q = emb.limit(3)
    val df = graft.ops.Similarity.ivfTopK(
      q, emb, "vec_id", "embedding", k = 5, nlist = 4, nprobe = 2)
    df.collect()
    assert(!executed(df).toString.contains("Window"), executed(df).toString)
  }

  test("lowered total-order windows are blocked, not single-task") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    for (e <- Seq(
        "$.events.sort_by(event_id).map(event_id).rolling_sum(3)",
        "$.events.sort_by(event_id).map(event_id).cum_max()",
        "$.events.sort_by(event_id).map(event_id).accumulate(lambda a, x: a + x)")) {
      val df = graft.plans.Lower.compile(e, t => Tables(spark, sf, t))
      df.collect() // finalize the adaptive plan
      val wins = nodes(executed(df)).collect { case w: WindowExec => w }
      assert(wins.nonEmpty, e)
      // every data-frame window partitions (by __blk or __bucket); the
      // only unpartitioned windows allowed are the prefix-combines over
      // the per-bucket stats aggregate (≤ #buckets rows)
      wins.filter(_.partitionSpec.isEmpty).foreach { w =>
        assert(nodes(w).exists(_.isInstanceOf[BaseAggregateExec]),
          s"$e: unpartitioned window over a non-aggregated frame:\n$w")
      }
      assert(wins.exists(_.partitionSpec.nonEmpty), e)
    }
  }

  test("banded range join plans as a hash join, not BroadcastNestedLoop") {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), unix_micros(col("ts")).as("pt"))
    val prox = graft.ops.RangeJoin.proximityPairs(ev, "event_id", "pt", 60000000L)
    val s = planString(prox)
    assert(!s.contains("BroadcastNestedLoop"), s)
    assert(s.contains("HashJoin") || s.contains("SortMergeJoin"), s)
    // the naive non-equi encoding this replaces really does go BNL
    val a = ev.select(col("event_id").as("id_a"), col("pt").as("pt_a"))
    val b = ev.select(col("event_id").as("id_b"), col("pt").as("pt_b"))
    val naive = a.join(b,
      col("id_a") < col("id_b") &&
        abs(col("pt_b") - col("pt_a")) <= 60000000L)
    assert(planString(naive).contains("BroadcastNestedLoop"))
  }

  test("as-of join is one window pass, no join of the two sides") {
    val ev = Tables.events(spark, sf)
    val probe = ev.where(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val build = ev.where(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("value").as("last_purchase"))
    val asof = graft.ops.AsOf.joinAsOf(
      probe, build, Seq("user_id"), "ts", Seq("last_purchase"))
    val s = planString(asof)
    // union + running-last: a Window over the key, and NO join node
    // between probe and build (the blow-up the operator exists to avoid)
    assert(s.contains("Window"), s)
    assert(!s.contains("Join"), s)
    assert(s.contains("Union"), s)
  }

  test("hash sampling pushes its filter into the scan-side projection") {
    val sampled = graft.ops.Sampling.sampleByHash(
      Tables.documents(spark, sf), col("doc_id"), 0x29)
    // a pure per-row filter: no shuffle anywhere in the plan
    val s = planString(sampled)
    assert(!s.contains("Exchange"), s)
  }

  test("sequence packing runs on the distributed prefix machinery") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val df = graft.ops.Pack.contiguous(
      Tables.documents(spark, sf).select(col("doc_id"),
        graft.functions.Text.tokenCount(col("text")).as("n_tok")),
      "doc_id", "n_tok", "doc_id", budget = 64L)
    df.collect() // finalize the adaptive plan
    val wins = nodes(executed(df)).collect { case w: WindowExec => w }
    assert(wins.nonEmpty)
    // the only unpartitioned window allowed is the tiny prefix-combine
    // over the per-bucket totals aggregate (≤ #buckets rows); the
    // full-table running sum must partition by __bucket
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(nodes(w).exists(_.isInstanceOf[BaseAggregateExec]),
        s"unpartitioned window over a non-aggregated frame:\n$w")
    }
    assert(wins.exists(_.partitionSpec.nonEmpty))
  }

  test("sliding chunking is a narrow shuffle-free fan-out") {
    val df = graft.ops.Chunk.sliding(
      Tables.documents(spark, sf), "doc_id", "text", size = 120, overlap = 20)
    val s = planString(df)
    assert(!s.contains("Exchange"), s)
    assert(!s.contains("Window"), s)
    // parent-document filters still reach the parquet scan through the
    // explode
    val filtered = planString(graft.ops.Chunk.sliding(
      Tables.documents(spark, sf).where(col("lang") === "en"),
      "doc_id", "text", size = 120, overlap = 20))
    assert(filtered.contains("PushedFilters:") &&
      filtered.contains("EqualTo(lang,en)"), filtered)
  }

  test("duplicate-span windows partition per document; DF cut aggregates partially") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.ops.Dedup.duplicateSpans(
      Tables.documents(spark, sf), "doc_id", "text", n = 3, minDf = 2)
    // the duplicated-gram set folds map-side, never a window on the
    // gram key
    assert(planString(df).toLowerCase.contains("partial"))
    df.collect()
    val wins = nodes(executed(df)).collect { case w: WindowExec => w }
    // gaps-and-islands runs per document — every window partitions
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty))
  }

  test("grouped top-k aggregates partially, with no window or full sort") {
    val q = graft.ops.TopK.perGroup(
      Tables.orders(spark, sf), Seq("o_custkey"), "o_totalprice", "o_orderkey", 2)
    val s = planString(q)
    assert(!s.contains("Window"), s)
    // partial (map-side) aggregation bounds what reaches the shuffle
    assert(s.contains("ObjectHashAggregate") || s.contains("SortAggregate"), s)
    assert(s.contains("partial_topkagg") || s.toLowerCase.contains("partial"), s)
  }

  test("stratified sampling aggregates partially, with no window or per-stratum sort") {
    val q = graft.ops.Sampling.stratified(
      Tables.documents(spark, sf), Seq("lang"), col("doc_id"), k = 20)
    val s = planString(q)
    // the k-smallest-hashes aggregate bounds what crosses the shuffle
    // (≤ k values per stratum per partition); the survivor set joins
    // back broadcast — never a row_number window sorting whole strata
    assert(!s.contains("Window"), s)
    assert(s.contains("ObjectHashAggregate") || s.contains("SortAggregate"), s)
    assert(s.toLowerCase.contains("partial"), s)
    assert(s.contains("BroadcastHashJoin"), s)
  }

  test("decontam gram-DF cap aggregates partially, with no window on the gram key") {
    val docs = Tables.documents(spark, sf)
    val q = graft.ops.Decontam.overlaps(
      docs, docs.where(col("doc_id") >= 450), "doc_id", "text",
      n = 5, maxGramDf = 2)
    val s = planString(q)
    // hot grams are counted via map-side partial aggregation and
    // removed by an anti-join (join side left to the planner/AQE — a
    // forced broadcast would be unbounded at maxGramDf=1) — never a
    // count-over-window clustering a hot gram's whole postings list
    // into one task
    assert(!s.contains("Window"), s)
    assert(s.toLowerCase.contains("partial"), s)
    assert(s.contains("LeftAnti"), s)
  }

  test("tiny-input windows keep a non-foldable partition key through optimization") {
    // these windows run over provably tiny inputs (10-row top-k
    // survivors; the ≤#shuffle-partitions prefix table) and are
    // single-partition BY DESIGN — but the intent must survive
    // EliminateWindowPartitions, which strips foldable keys like
    // lit(0) and reverts to an unpartitioned window whose warning spam
    // would mask a real single-task regression
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (name <- Seq("q_zip_tables", "q_zip_longest",
        "q_lower_rolling", "q_lower_enumerate")) {
      val df = graft.queries.Catalog.queries(name)(spark, sf)
      val bad = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$name has unpartitioned windows:\n${bad.mkString("\n")}")
    }
  }

  test("chained struct patches fuse to a single update_fields rewrite") {
    import org.apache.spark.sql.functions._
    val base = Tables(spark, sf, "nation").select(
      col("n_nationkey"),
      struct(col("n_name").as("name"),
        struct(col("n_regionkey").as("rk")).as("geo")).as("s"))
    // fused = at most one update_fields node (Catalyst often collapses
    // all the way to a single named_struct — zero update_fields) and NO
    // stacked per-patch projections: just the struct build + one rewrite
    def assertFused(df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.optimizedPlan.toString
      assert("update_fields".r.findAllIn(plan).length <= 1, plan)
      assert("(?m)^\\s*\\+?-? ?Project".r.findAllIn(plan).length <= 2, plan)
    }
    // the batched patch API: many leaves, one rewrite
    val batched = graft.ops.StructOps.patchFields(base, Seq(
      "s.name" -> upper(col("s.name")),
      "s.geo.rk" -> (col("s.geo.rk") * 10),
      "s.flag" -> lit(true)))
    assertFused(batched)
    // and even a NAIVE chain of separate withColumn patches must fuse
    // (CollapseProject + OptimizeUpdateFields — the §4.5 contract)
    val naive = base
      .withColumn("s", col("s").withField("name", upper(col("s.name"))))
      .withColumn("s", col("s").withField("geo.rk", col("s.geo.rk") * 10))
      .withColumn("s", col("s").withField("flag", lit(true)))
    assertFused(naive)
    // semantics: both shapes produce identical rows
    assert(batched.orderBy("n_nationkey").collect().toSeq ==
      naive.orderBy("n_nationkey").collect().toSeq)
  }

  test("map-column patch stays one shuffle-free projection over the scan") {
    import org.apache.spark.sql.functions._
    val shaped = Tables(spark, sf, "events").select(col("event_id"),
      from_json(col("props"), "map<string,bigint>",
        new java.util.HashMap[String, String]()).as("props"))
    // the patch REWRITE itself must not need any data-dependent shuffle;
    // patch chains are per-row HEAVY so the compiler adds the
    // compute-spread on under-parallelised scans (r11) — that input-
    // layout remedy is orthogonal to the rewrite shape pinned here, so
    // assert with it off, then separately pin that the spread (when on)
    // is the ONLY exchange and is the deterministic xxhash64 hash
    // repartition directly over the scan (r12: round-robin's
    // sortBeforeRepartition ran a full local sort inside the single
    // scan task; the hash key is also retry-deterministic)
    spark.conf.set("spark.graft.scan.spread", "false")
    try {
      val patched = graft.plans.Lower.compile(
        """patch $ { events[*].props.k: @ * 2 when @ < 50,
          |          events[*].props.z: 9 }""".stripMargin, _ => shaped)
      val plan = patched.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      val opt = patched.queryExecution.optimizedPlan.toString
      assert("(?m)^\\s*\\+?-? ?Project".r.findAllIn(opt).length <= 2, opt)
    } finally spark.conf.set("spark.graft.scan.spread", "true")
    val spreadPlan = graft.plans.Lower.compile(
      """patch $ { events[*].props.k: @ * 2 when @ < 50,
        |          events[*].props.z: 9 }""".stripMargin, _ => shaped)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(spreadPlan).length
      == "hashpartitioning\\(xxhash64".r.findAllIn(spreadPlan).length, spreadPlan)
  }

  test("snapshot diff shuffles digests, never payload columns") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val neu = docs.where(col("doc_id") % 3 =!= 0)
    val d = graft.ops.SnapshotDiff.diff(docs, neu, "doc_id", Seq("text"))
    d.collect()
    val plan = executed(d).toString
    // every exchange carries (doc_id, digest) — the text column must be
    // projected away BELOW the join's shuffles
    for (line <- plan.linesIterator if line.contains("Exchange"))
      assert(!line.contains("text#"), line)
  }

  test("corpus mixing: the corpus side never shuffles (broadcast rates + per-row filter)") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).select("doc_id", "lang")
    val mixed = graft.ops.Mix.toProportions(
      docs, "lang", col("doc_id"), Map("en" -> 0.6, "de" -> 0.4))
    mixed.collect()
    val plan = executed(mixed).toString
    // the rate join against the corpus must be broadcast; the only
    // exchanges allowed are inside the tiny rates computation (grouped
    // counts), which never carry doc_id
    assert(plan.contains("BroadcastHashJoin"), plan)
    for (line <- plan.linesIterator if line.contains("Exchange hashpartitioning"))
      assert(!line.contains("doc_id#"), line)
    // the α-temperature variant shares the shape contract
    val temp = graft.ops.Mix.temperature(docs, "lang", col("doc_id"), 0.5)
    temp.collect()
    val tplan = executed(temp).toString
    assert(tplan.contains("BroadcastHashJoin"), tplan)
    for (line <- tplan.linesIterator if line.contains("Exchange hashpartitioning"))
      assert(!line.contains("doc_id#"), line)
  }

  test("heavy hitters: candidates broadcast back; the exact pass is partial-aggregable") {
    import org.apache.spark.sql.functions._
    val toks = Tables.documents(spark, sf)
      .select(explode(graft.functions.Text.tokens(col("text"))).as("value"))
    val hh = graft.ops.Frequent.heavyHitters(toks, "value", denom = 30L)
    hh.collect()
    val plan = executed(hh).toString
    // the candidate set meets the token stream via broadcast (≤m rows
    // by construction) and the exact count has a partial/final
    // HashAggregate pair — the full vocabulary never hash-shuffles raw
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("editPairs block cap is a bounded aggregate, not a per-block sort window") {
    val q = graft.queries.Catalog.queries("q_edit_pairs")(spark, sf)
    q.collect()
    val plan = executed(q).toString
    // the cap's k-smallest survivor set comes from partial-aggregable
    // ObjectHashAggregate buffers (≤ maxBlock ids per block per
    // partition cross the shuffle) — no degenerate-block sort anywhere
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("ANN re-ranks are bounded k-buffer aggregates, not per-query sort windows") {
    for (name <- Seq("q_cosine_topk", "q_ann_lsh", "q_ann_ivf")) {
      val q = graft.queries.Catalog.queries(name)(spark, sf)
      q.collect()
      val plan = executed(q).toString
      // probe-list windows (bounded by nlist per query) are fine; the
      // corpus-sized candidate re-rank must never be a Window sort.
      // q_cosine_topk's candidate set is the whole corpus, so its plan
      // must carry NO Window at all
      assert(plan.contains("ObjectHashAggregate"), s"$name: $plan")
      if (name == "q_cosine_topk") assert(!plan.contains("Window"), s"$name: $plan")
    }
  }

  test("array deep descent is a narrow codegen fan-out: pushdown, no window, no join") {
    val q = graft.queries.Catalog.queries("q_lower_deep_arr")(spark, sf)
    q.collect()
    val plan = executed(q).toString
    // the transform+flatten match collection is a single Generate over
    // one projection; the predicate reaches the parquet scan, and the
    // only exchange is the ordered-output range partitioning
    assert(plan.contains("PushedFilters: [IsNotNull(c_custkey), LessThanOrEqual(c_custkey,60)]"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
    assert("Exchange".r.findAllIn(plan).length == 1, plan)
  }

  test("array-lane and regex-first chains stay narrow: pushdown, pruning, no window/join") {
    // the round-9 widenings are per-row projections — the plan must
    // keep the filter in the parquet scan, read only the referenced
    // columns, and introduce no cross-row machinery
    val q = graft.queries.Catalog.queries("q_lower_regex_first")(spark, sf)
    val s = planString(q)
    assert(s.contains("PushedFilters:") && s.contains("LessThan(doc_id,300)"), s)
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"), readSchema)
    assert(!readSchema.contains("lang") && !readSchema.contains("n_chars"), readSchema)
    assert(!s.contains("Window") && !s.contains("Join"), s)
    val s2 = planString(graft.queries.Catalog.queries("q_lower_arr_ops")(spark, sf))
    assert(s2.contains("LessThan(doc_id,300)"), s2)
    assert(!s2.contains("Window") && !s2.contains("Join"), s2)
    val s3 = planString(graft.queries.Catalog.queries("q_lower_arr_seq")(spark, sf))
    assert(!s3.contains("Window") && !s3.contains("Join"), s3)
  }

  test("struct path-write and merge lanes stay narrow: pruning, no window/join/extra shuffle") {
    // the round-10 struct rebuilds are per-row projections — guarded
    // withField-style struct construction must introduce no cross-row
    // machinery; the only exchange is the ordered-output partitioning
    val s = planString(graft.queries.Catalog.queries("q_lower_set_path_deep")(spark, sf))
    val rs = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs.contains("o_orderkey") && rs.contains("o_totalprice"), rs)
    assert(!rs.contains("o_comment") && !rs.contains("o_clerk"), rs)
    assert(!s.contains("Window") && !s.contains("Join"), s)
    // formatted plans list each node in the tree AND the detail section
    assert("\\+- Exchange".r.findAllIn(s).length <= 1, s)
    val s2 = planString(graft.queries.Catalog.queries("q_lower_deep_merge")(spark, sf))
    assert(!s2.contains("Window") && !s2.contains("Join"), s2)
    assert("\\+- Exchange".r.findAllIn(s2).length <= 1, s2)
  }

  test("rowwise fallback query never collects the table on the driver") {
    val q = graft.queries.Catalog.queries("q_lower_rowwise_fallback")(spark, sf)
    // the interpreter runs per row on the executors: the lineage starts
    // at the parquet scan, with no driver-side parallelized collection
    val lineage = q.rdd.toDebugString
    assert(lineage.contains("FileScanRDD"), lineage)
    assert(!lineage.contains("ParallelCollectionRDD"), lineage)
  }

  test("rowwise rung runs the interpreter ONCE per row (no inference double pass)") {
    // schema inference used to re-execute the per-row interpreter over
    // the whole table before the real parse pass; now the string output
    // persists through inference and the parse reads the cache with an
    // explicit schema. The evaluatedRows accumulator counts interpreter
    // invocations directly: compile + full materialization must cost
    // exactly |table| evaluations, not 2×.
    val c = Graft.rowwiseCounters(spark)
    val e = """$.supplier.filter(s_acctbal >= 0).map({k: s_suppkey, nw: s_name.words().len()})"""
    val before = c.evaluated.value
    val rw = Graft.rowwiseCompile(spark, sf, e).get // inference pass
    rw.collect()                                    // parse pass (cached)
    val n = Tables(spark, sf, "supplier").count()
    assert(c.evaluated.value - before == n,
      s"interpreter ran ${c.evaluated.value - before} times for $n rows")
    // and a SECOND materialization still reads the cache, not the UDF
    rw.collect()
    assert(c.evaluated.value - before == n)
  }
}
