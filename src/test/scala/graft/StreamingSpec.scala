package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.core.Tables
import graft.streaming.StreamOps

/** Structured-streaming surface: each op runs as a real file-source
  * stream (Trigger.AvailableNow → memory sink) and is checked against
  * the equivalent batch computation on the same events data — the
  * batch/stream parity contract that makes the surface trustworthy.
  */
class StreamingSpec extends SparkSpec with org.scalactic.Tolerance {

  /** Stage the single events.parquet file into a directory so the
    * streaming file source (which monitors directories) can read it. */
  private lazy val streamDir: String = {
    val dir = Paths.get("target", "stream-events")
    Files.createDirectories(dir)
    Files.copy(
      Paths.get(sf, "events.parquet"),
      dir.resolve("part-0.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    dir.toAbsolutePath.toString
  }

  private def runToTable(df: DataFrame, name: String): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(
        if (df.isStreaming && df.queryExecution.analyzed.collectFirst {
              case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
            }.isDefined) "complete" else "append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  private lazy val batchEvents: DataFrame = Tables.events(spark, sf)
  private lazy val streamEvents: DataFrame =
    StreamOps.readEventStream(spark, streamDir)

  test("compiled jetro pipelines run on streams (batch/stream parity)") {
    val e = """$.events{event_type == "purchase" and value > 50}
              |.map({id: event_id, user: user_id, amt: value * 2})""".stripMargin
    val lowered = StreamOps.lowerStream(e, "events", streamEvents)
    assert(lowered.isDefined && lowered.get.isStreaming)
    val got = runToTable(lowered.get, "t_lowered_jetro")
    val want = graft.plans.Lower.compile(e, _ => batchEvents)
    assert(got.count() === want.count() && got.count() > 0)
    assert(got.agg(sum("amt")).head.getDouble(0)
      === want.agg(sum("amt")).head.getDouble(0) +- 1e-6)
    // order-dependent chains either bail at compile or are rejected by
    // Structured Streaming when the query starts — never silently wrong
    StreamOps.lowerStream(
      "$.events.sort_by(event_id).map(event_id).rolling_sum(3)",
      "events", streamEvents) match {
      case Some(df) => intercept[Exception] { runToTable(df, "t_lowered_sorted") }
      case None     => ()
    }
  }

  test("rowwise interpreter rung runs on streams (non-lowerable element-wise)") {
    // a `rec` fixpoint has no relational lowering by design (rec(@) is
    // the identity) — the batch path takes Graft's rowwise rung; the
    // stream must produce the same per-event results via
    // StreamOps.rowwiseStream
    val e = """$.events{event_type == "purchase"}
              |.map({id: event_id, tokens: props.words().len().rec(@)})""".stripMargin
    assert(StreamOps.lowerStream(e, "events", streamEvents).isEmpty)
    val Some(("rowwise", js)) = StreamOps.compileStream(e, "events", streamEvents)
    assert(js.isStreaming)
    val got = runToTable(js, "t_rowwise_stream")
      .select(from_json(col("json"),
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, tokens BIGINT")).as("r"))
      .select("r.id", "r.tokens")
    val want = graft.Graft.query(spark, sf, e)
    assert(graft.Graft.backend(spark, sf, e) == "rowwise")
    assert(got.count() === want.count() && got.count() > 0)
    assert(got.agg(sum("tokens")).head.getLong(0)
      === want.agg(sum("tokens")).head.getLong(0))
    // cross-row stages refuse the rowwise rung on streams too
    assert(StreamOps.rowwiseStream(
      "$.events.sort_by(event_id).map(event_id)", "events", streamEvents).isEmpty)
  }

  test("the streaming rowwise rung runs the leading filter before the interpreter") {
    // the micro-batch's scan drops the events the leading filter rejects,
    // as the batch rung's does: the interpreter sees only the survivors
    val e = """$.events{event_type == "purchase" and event_id % 2 == 0}
              |.map({id: event_id, tokens: props.words().len().rec(@)})""".stripMargin
    val Some(("rowwise", js)) = StreamOps.compileStream(e, "events", streamEvents)
    var got: DataFrame = null
    val n = SparkSpec.interpreterRowsDuring(spark) {
      got = runToTable(js, "t_rowwise_pushed_stream")
    }
    val survivors =
      batchEvents.filter("event_type = 'purchase' and event_id % 2 = 0").count()
    assert(n == survivors && n > 0, s"interpreter ran on $n events, $survivors survive")
    val rows = (df: DataFrame) =>
      df.collect().map(_.toString).toVector.sorted
    val want = graft.Graft.query(spark, sf, e).select("id", "tokens")
    assert(rows(got.select(from_json(col("json"),
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, tokens BIGINT")).as("r"))
      .select("r.id", "r.tokens")) == rows(want))
  }

  test("exploding chains run on the streaming rowwise rung (batch parity)") {
    // per-event fan-out distributes over micro-batches: explode is
    // element-wise, and the non-lowerable words() forces the rung
    val e = """$.events{event_type == "purchase"}
              |.map({id: event_id, w: props.words()}).explode("w")""".stripMargin
    assert(StreamOps.lowerStream(e, "events", streamEvents).isEmpty)
    val Some(("rowwise", js)) = StreamOps.compileStream(e, "events", streamEvents)
    val got = runToTable(js, "t_rowwise_explode_stream")
      .select(from_json(col("json"),
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, w STRING")).as("r"))
      .select("r.id", "r.w")
    val want = graft.Graft.query(spark, sf, e)
    assert(graft.Graft.backend(spark, sf, e) == "rowwise")
    assert(got.count() === want.count() && got.count() > want.select("id").distinct().count())
  }

  test("guarded walk chains run on the streaming rowwise rung (batch parity)") {
    // round-9 qualification: a kind-guarded walk distributes over
    // micro-batches exactly like batch rows; the conjunctive guard
    // bails the relational lowering so the rowwise rung must carry it
    val e = """$.events{event_type == "purchase"}
              |.map({id: event_id, t: event_type})
              |.walk(lambda x: x.upper() if x is string and x != "" else x)""".stripMargin
    assert(StreamOps.lowerStream(e, "events", streamEvents).isEmpty)
    val Some(("rowwise", js)) = StreamOps.compileStream(e, "events", streamEvents)
    val got = runToTable(js, "t_walk_stream")
      .select(from_json(col("json"),
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, t STRING")).as("r"))
      .select("r.id", "r.t")
    val want = graft.Graft.query(spark, sf, e)
    assert(graft.Graft.backend(spark, sf, e) == "rowwise")
    assert(got.count() === want.count() && got.count() > 0)
    assert(got.filter(col("t") === "PURCHASE").count() === got.count())
  }

  test("map-value deep descent lowers on streams (batch parity)") {
    // round-8 batch lowering (q_lower_deep_map): `..k` walks map
    // entries in stored order via map_entries HOFs — stateless
    // expressions, so the same plan must lower and run on a stream
    def shaped(df: DataFrame) = df.select(col("event_id"),
      from_json(col("props"), "map<string,bigint>",
        new java.util.HashMap[String, String]()).as("props"))
    val e = "$.events{event_id < 3000}..k"
    val lowered = StreamOps.lowerStream(e, "events", shaped(streamEvents))
    assert(lowered.isDefined && lowered.get.isStreaming)
    val got = runToTable(lowered.get, "t_deep_map_stream")
    val want = graft.plans.Lower.compile(e, _ => shaped(batchEvents))
    assert(got.count() === want.count() && got.count() > 0)
    assert(got.agg(sum("value")).head.getLong(0)
      === want.agg(sum("value")).head.getLong(0))
  }

  test("struct path writes and merges lower on streams (batch parity)") {
    // round-10 batch lowerings (structPathMethod / structMergeMethod /
    // structObjMethod): guarded struct rebuilds are stateless per-row
    // projections, so the same plans must lower and run on a stream
    def shaped(df: DataFrame) = df.select(col("event_id"),
      struct(col("event_type").as("et"),
        struct(col("value").as("v"),
          col("user_id").as("u")).as("inner")).as("s"))
    val e = """$.events{event_id < 3000}.map({
              |  id: event_id,
              |  w: s.set_path("inner.w", 5).inner.w,
              |  et2: s.del_path("inner.v").et,
              |  n: s.deep_merge({inner: {z: 1}}).keys().len()})""".stripMargin
    val lowered = StreamOps.lowerStream(e, "events", shaped(streamEvents))
    assert(lowered.isDefined && lowered.get.isStreaming)
    val got = runToTable(lowered.get, "t_struct_path_stream")
    val want = graft.plans.Lower.compile(e, _ => shaped(batchEvents))
    assert(got.count() === want.count() && got.count() > 0)
    assert(got.agg(sum("w"), sum("n")).head.toSeq
      === want.agg(sum("w"), sum("n")).head.toSeq)
  }

  test("spread-of-row shapes lower on streams (batch parity)") {
    // round-8 batch lowering (q_lower_spread): `{...@, k: v}` inserts
    // every row column in schema order with in-place override — one
    // stateless projection, so streams take it unchanged
    val e = """$.events{event_type == "purchase"}
              |.map({...@, dbl: value * 2, event_type: event_type.lower()})""".stripMargin
    val lowered = StreamOps.lowerStream(e, "events", streamEvents)
    assert(lowered.isDefined && lowered.get.isStreaming)
    val got = runToTable(lowered.get, "t_spread_stream")
    val want = graft.plans.Lower.compile(e, _ => batchEvents)
    assert(got.columns.toSeq == want.columns.toSeq) // spread order + override in place
    assert(got.count() === want.count() && got.count() > 0)
    assert(got.agg(sum("dbl")).head.getDouble(0)
      === want.agg(sum("dbl")).head.getDouble(0) +- 1e-6)
  }

  test("patching chains run on the streaming rowwise rung (batch parity)") {
    // a row-iterating chain-write patches each event independently —
    // stateless, so the same per-row patch runs on micro-batches
    val e = """$.events{event_type == "purchase"}.value.modify(@ * 2)"""
    assert(StreamOps.lowerStream(e, "events", streamEvents).isEmpty)
    val Some(("rowwise", js)) = StreamOps.compileStream(e, "events", streamEvents)
    val got = runToTable(js, "t_rowwise_patch_stream")
      .select(from_json(col("json"),
        org.apache.spark.sql.types.StructType.fromDDL("event_id BIGINT, value DOUBLE")).as("r"))
      .select("r.event_id", "r.value")
    val want = graft.Graft.query(spark, sf, e)
    assert(graft.Graft.backend(spark, sf, e) == "rowwise")
    assert(got.count() === want.count() && got.count() > 0)
    assert(got.agg(sum("value")).head.getDouble(0)
      === want.agg(sum("value")).head.getDouble(0) +- 1e-6)
  }

  test("patch $ batches run on the streaming rowwise rung (batch parity)") {
    // a non-lowerable leaf forces the per-event rowwise rung
    val e2 = """patch $ { events[*].props: @.words().len().rec(@) }"""
    val Some(("rowwise", js)) = StreamOps.compileStream(e2, "events", streamEvents)
    val got = runToTable(js, "t_rowwise_patchdollar_stream")
      .select(from_json(col("json"),
        org.apache.spark.sql.types.StructType.fromDDL("event_id BIGINT, props BIGINT")).as("r"))
      .select("r.event_id", "r.props")
    val want = graft.Graft.query(spark, sf, e2)
    assert(graft.Graft.backend(spark, sf, e2) == "rowwise")
    assert(got.count() === want.count() && got.count() > 0)
    assert(got.agg(sum("props")).head.getLong(0)
      === want.agg(sum("props")).head.getLong(0))
  }

  test("stateless filter/shape parity") {
    val got = runToTable(StreamOps.filterShape(streamEvents), "t_filter")
    val want = StreamOps.filterShape(batchEvents)
    assert(got.count() === want.count())
    assert(got.agg(sum("amount")).head.getDouble(0)
      === want.agg(sum("amount")).head.getDouble(0) +- 1e-6)
  }

  test("sliding chunking runs unchanged on streams (stateless narrow op)") {
    def chunk(df: DataFrame) = graft.ops.Chunk.sliding(
      df.select("event_id", "props"), "event_id", "props",
      size = 40, overlap = 10)
    val got = runToTable(chunk(streamEvents), "t_chunk_stream")
    val want = chunk(batchEvents)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streaming HLL sketches estimate like their batch twins") {
    import graft.ops.Sketch
    def est(sketches: DataFrame): Map[String, Long] =
      Sketch.rollup(sketches, Seq("event_type"))
        .select("event_type", "estimate").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = est(runToTable(
      Sketch.grouped(streamEvents, Seq("event_type"), "user_id"),
      "t_sketch_stream"))
    val want = est(Sketch.grouped(batchEvents, Seq("event_type"), "user_id"))
    // HLL registers are an order-independent max — identical data must
    // give identical estimates however the micro-batches sliced it
    assert(got == want && got.nonEmpty)
  }

  test("streaming KLL quantile sketches: exact n and banded quantiles vs batch") {
    import graft.ops.Sketch
    val got = runToTable(
      Sketch.quantileGrouped(
        streamEvents.selectExpr("event_type", "CAST(value AS BIGINT) AS v"),
        Seq("event_type"), "v"),
      "t_kll_stream")
    val rolled = Sketch.quantileRollup(got, Seq.empty, Seq(0.5))
    val row = rolled.head
    assert(row.getAs[Long]("n") == batchEvents.count()) // every row ingested
    val batch = Sketch.quantileRollup(
      Sketch.quantileGrouped(
        batchEvents.selectExpr("event_type", "CAST(value AS BIGINT) AS v"),
        Seq("event_type"), "v"),
      Seq.empty, Seq(0.5)).head
    // KLL compaction is randomized, so estimates may differ between
    // builds — but both are ~1.65%-rank-accurate order statistics of
    // the same data, so the two medians must sit close in value space
    val (a, b) = (row.getAs[Long]("q50"), batch.getAs[Long]("q50"))
    assert(math.abs(a - b) <= math.max(25L, math.max(a, b) / 10), s"$a vs $b")
  }

  test("windowed count_by parity with batch window agg") {
    val got = runToTable(
      StreamOps.countByWindow(streamEvents), "t_countby")
    val want = batchEvents
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    assert(got.count() === want.count())
    assert(got.agg(sum("cnt")).head.getLong(0) === batchEvents.count())
  }

  test("sliding window agg produces overlapping windows") {
    val got = runToTable(StreamOps.slidingAgg(streamEvents), "t_sliding")
    // each event lands in exactly 2 windows (2h window, 1h slide)
    assert(got.agg(sum("cnt")).head.getLong(0) === 2 * batchEvents.count())
  }

  test("watermarked dedup keeps one row per event_id") {
    val doubled = Paths.get("target", "stream-events-dup")
    Files.createDirectories(doubled)
    Files.copy(Paths.get(sf, "events.parquet"),
      doubled.resolve("a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(sf, "events.parquet"),
      doubled.resolve("b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val s = StreamOps.readEventStream(spark, doubled.toAbsolutePath.toString)
    val got = runToTable(
      StreamOps.dedupeByIdWithinWatermark(s), "t_dedup")
    assert(got.count() === batchEvents.count())
  }

  test("sessionize emits per-user session windows") {
    val got = runToTable(StreamOps.sessionize(streamEvents), "t_sess")
    assert(got.count() > 0)
    assert(got.agg(sum("n_events")).head.getLong(0) === batchEvents.count())
    // sessions never overlap per user: start times unique per user
    assert(
      got.select("user_id", "sess_start").distinct().count() === got.count())
  }

  test("flatMapGroupsWithState running totals match batch group sums") {
    val got = runToTable(
      StreamOps.runningTotals(spark, streamEvents).toDF(), "t_state")
    // single batch → one emitted record per user, equal to the batch fold
    val want = batchEvents.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
    assert(got.count() === want.count())
    val gotMap = got.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    want.collect().foreach { r =>
      val (n, t) = gotMap(r.getLong(0))
      assert(n === r.getLong(1))
      assert(t === r.getDouble(2) +- 1e-6)
    }
  }

  test("streaming LSH near-dup flags carry bucket state across micro-batches") {
    import java.nio.file.attribute.FileTime
    val bands = 4
    val docsA = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"),
        lit("2026-01-01 00:00:00").cast("timestamp").as("ts"))
    // batch B: the same texts under fresh ids, ten minutes later — every
    // band bucket was already claimed in batch A, so every B flag must
    // come back collided IF the bucket state survived the batch boundary
    val docsB = docsA
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("ts", lit("2026-01-01 00:10:00").cast("timestamp"))
    val dir = Paths.get("target", "stream-docs")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    Files.createDirectories(dir)
    def stage(df: DataFrame, name: String, mtimeMs: Long): Unit = {
      val tmp = Paths.get("target", s"stream-docs-tmp-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, dir.resolve(s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(
        dir.resolve(s"$name.parquet"), FileTime.fromMillis(mtimeMs))
    }
    val now = System.currentTimeMillis()
    stage(docsA, "a", now - 60000)
    stage(docsB, "b", now)
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1") // two sequential micro-batches
      .parquet(dir.toString)
    val flags = runToTable(
      StreamOps.nearDupFlags(spark, stream, bands = bands).toDF, "t_neardup")
    val nDocs = docsA.count()
    assert(flags.count() === 2 * nDocs * bands)
    // every band of every B doc collides — only possible with state
    // carried from batch A (fresh state would let B docs claim buckets)
    val bFlags = flags.filter(col("doc_id") >= 1000000L)
    assert(bFlags.count() === nDocs * bands)
    assert(bFlags.filter(!col("collided")).count() === 0)
    // batch A itself contains only the corpus's few near-dup pairs —
    // most A flags claim fresh buckets
    val aColl = flags.filter(col("doc_id") < 1000000L && col("collided")).count()
    assert(aColl < nDocs * bands / 5, s"A collisions: $aColl")
    // doc-level collapse on batch B's flags: all B docs are dups at the
    // strictest threshold (every band collided)
    val collapsed = StreamOps.collapseBandFlags(bFlags, minCollided = bands)
    assert(collapsed.filter(col("is_dup")).count() === nDocs)
  }

  test("document-mode expressions run on streams (jetro_eval over props)") {
    // the interpreter UDF is a plain deterministic expression, so the
    // full jetro language composes with Structured Streaming untouched
    val shaped = streamEvents.select(
      col("event_id"),
      graft.jexpr.Jetro.jetroEvalStr("patch $ { k: @ * 2 }.k", col("props"))
        .cast("long").as("doubled"))
    val got = runToTable(shaped, "t_jetro")
    val want = batchEvents.select(
      col("event_id"),
      (get_json_object(col("props"), "$.k").cast("long") * 2).as("doubled"))
    assert(got.count() === want.count())
    val gotMap = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    want.collect().foreach(r => assert(gotMap(r.getLong(0)) === r.getLong(1)))
  }

  test("stream-static broadcast enrichment parity") {
    // dim: distinct event types labeled — bounded, broadcastable
    val dim = batchEvents.select(col("event_type")).distinct()
      .withColumn("label", upper(col("event_type")))
    val got = runToTable(
      StreamOps.enrich(streamEvents, dim, "event_type")
        .select("event_id", "label"), "t_enrich")
    val want = batchEvents.join(dim, Seq("event_type"))
      .select("event_id", "label")
    assert(got.count() === want.count())
    val gotMap = got.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    want.collect().foreach(r => assert(gotMap(r.getLong(0)) === r.getString(1)))
  }

  test("streaming running top-k matches the batch TopK aggregator") {
    val got = runToTable(
      StreamOps.runningTopK(spark, streamEvents, k = 3).toDF(), "t_topk")
      .select(col("user_id"), posexplode(col("top")).as(Seq("r", "p")))
      .select(col("user_id"), (col("r") + 1).cast("long").as("rank"),
        col("p._1").as("value"), col("p._2").as("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val want = graft.ops.TopK.perGroup(
        batchEvents, Seq("user_id"), "value", "event_id", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(got == want && got.nonEmpty)
  }

  test("streaming running Misra-Gries keeps the heavy-hitter guarantee") {
    val m = 8
    val got = runToTable(
      StreamOps.runningFrequent(
        spark, streamEvents.select(col("event_type")), "event_type", m).toDF(),
      "t_mg")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactDf = batchEvents.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exactDf.values.sum
    // every value above n/(m+1) must be present with a sound lower bound
    for ((v, c) <- exactDf if c > n / (m + 1)) {
      assert(got.contains(v), s"$v (count $c) missing")
      assert(got(v) <= c && c - got(v) <= n / (m + 1), s"$v lb=${got(v)} true=$c")
    }
  }

  test("stream-stream interval join matches the batch interval join") {
    val clicks = streamEvents.where(col("event_type") === "click")
      .select("user_id", "ts", "event_id")
    val purchases = streamEvents.where(col("event_type") === "purchase")
      .select("user_id", "ts", "event_id", "value")
    val joined = StreamOps.intervalJoin(
      clicks, purchases, "user_id", withinSeconds = 3600)
    assert(joined.isStreaming)
    val got = runToTable(
      joined.select(
        col("l_event_id").as("click_id"),
        col("event_id").as("purchase_id")), "t_ssjoin")

    val bc = batchEvents.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("click_id"))
    val bp = batchEvents.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
    val want = bc.join(bp, Seq("user_id"))
      .where(col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 3600 SECONDS"))
      .select("click_id", "purchase_id")
    assert(got.count() > 0)
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      want.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("round-9 map-lane lowerings run on streams (parity)") {
    // the object-builtin lane is a stateless projection too — resolver
    // shaping (from_json map) composes with the streaming source
    val shaped = streamEvents.select(col("event_id"),
      from_json(col("props"), "map<string,bigint>",
        new java.util.HashMap[String, String]()).as("props"))
    val q = graft.plans.Lower.tryCompile(
      """$.events.map({id: event_id, n: props.merge({z: 1}).len(),
        |  ks: props.set("w", 2).keys().join(",")})""".stripMargin,
      _ => shaped)
    assert(q.nonEmpty && q.get.isStreaming)
    val got = runToTable(q.get, "t_lowered_maplane")
    val batchShaped = batchEvents.select(col("event_id"),
      from_json(col("props"), "map<string,bigint>",
        new java.util.HashMap[String, String]()).as("props"))
    val want = graft.plans.Lower.compile(
      """$.events.map({id: event_id, n: props.merge({z: 1}).len(),
        |  ks: props.set("w", 2).keys().join(",")})""".stripMargin,
      _ => batchShaped)
    assert(got.count() === want.count() && got.count() > 0)
    assert(got.agg(sum("n")).head.getLong(0) === want.agg(sum("n")).head.getLong(0))
  }

  test("map-column patch writes lower on streams (parity)") {
    // the map-level patch rewrite is a stateless projection — the same
    // compiled plan must run incrementally on the shaped stream
    val e = """patch $ { events[*].props.k: @ * 2 when @ < 50,
              |          events[*].props.z: 9 }""".stripMargin
    def shaped(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"),
        from_json(col("props"), "map<string,bigint>",
          new java.util.HashMap[String, String]()).as("props"))
    val q = graft.plans.Lower.tryCompile(e, _ => shaped(streamEvents))
    assert(q.nonEmpty && q.get.isStreaming)
    val got = runToTable(q.get, "t_lowered_mappatch")
    val want = graft.plans.Lower.compile(e, _ => shaped(batchEvents))
    assert(got.count() === want.count() && got.count() > 0)
    Seq("k", "z").foreach { key =>
      assert(got.select(sum(col("props").getField(key))).head.getLong(0)
        === want.select(sum(col("props").getField(key))).head.getLong(0), key)
    }
  }

  test("map dot-path/render/membership lanes lower on streams (parity)") {
    val e = """$.events.map({id: event_id,
              |  v: props.get_path("k") ?? -1,
              |  h: props has "k",
              |  j: props.set_path("z", 1).to_json(),
              |  t: props.type()})""".stripMargin
    def shaped(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"),
        from_json(col("props"), "map<string,bigint>",
          new java.util.HashMap[String, String]()).as("props"))
    val q = graft.plans.Lower.tryCompile(e, _ => shaped(streamEvents))
    assert(q.nonEmpty && q.get.isStreaming)
    val got = runToTable(q.get, "t_lowered_mappath")
    val want = graft.plans.Lower.compile(e, _ => shaped(batchEvents))
    assert(got.count() === want.count() && got.count() > 0)
    assert(got.agg(sum("v")).head.getLong(0) === want.agg(sum("v")).head.getLong(0))
    assert(got.select(length(col("j"))).agg(sum("length(j)")).head.getLong(0)
      === want.select(length(col("j"))).agg(sum("length(j)")).head.getLong(0))
  }

  test("value pipes and free-function calls lower on streams (parity)") {
    val e = """$.events{event_type == "view"}
              |.map({id: event_id,
              |      u: (event_type | upper()),
              |      v: ((event_id % 7) | @ * 2 | @ + 1),
              |      n: len(event_type)})""".stripMargin
    val lowered = StreamOps.lowerStream(e, "events", streamEvents)
    assert(lowered.isDefined && lowered.get.isStreaming)
    val got = runToTable(lowered.get, "t_lowered_pipes")
    val want = graft.plans.Lower.compile(e, _ => batchEvents)
    assert(got.count() === want.count() && got.count() > 0)
    Seq("v", "n").foreach { k =>
      assert(got.agg(sum(k)).head.getLong(0) === want.agg(sum(k)).head.getLong(0), k)
    }
  }

  test("round-9 array-lane and regex-first lowerings run on streams (parity)") {
    // per-row HOF pipelines and the native first-match expressions are
    // stateless projections — the streaming lane must take the same
    // compiled plan as batch
    val e = """$.events{event_type == "view"}
              |.map({id: event_id,
              |      wc: props.split(" ").window(2).len(),
              |      rs: props.split(" ").map(@.len()).rolling_sum(2).compact().max(),
              |      cf: props.re_captures_all("\w+").len()})""".stripMargin
    val lowered = StreamOps.lowerStream(e, "events", streamEvents)
    assert(lowered.isDefined && lowered.get.isStreaming)
    val got = runToTable(lowered.get, "t_lowered_arrlane")
    val want = graft.plans.Lower.compile(e, _ => batchEvents)
    assert(got.count() === want.count() && got.count() > 0)
    assert(got.agg(sum("wc")).head.getLong(0) === want.agg(sum("wc")).head.getLong(0))
    assert(got.agg(sum("cf")).head.getLong(0) === want.agg(sum("cf")).head.getLong(0))
    assert(got.agg(sum("rs")).head.getDouble(0)
      === want.agg(sum("rs")).head.getDouble(0) +- 1e-6)
  }
}
