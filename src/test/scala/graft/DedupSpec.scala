package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Dedup

/** Invariants for the hash-based dedup family (no SQL oracle — these
  * are the correctness checks for the rows-only queries). */
class DedupSpec extends SparkSpec {

  lazy val docs = Tables.documents(spark, sf)

  test("exact dedup partitions the table: sum of copies == row count") {
    val total = docs.count()
    val agg = Dedup.exact(docs, "doc_id", "text")
      .agg(sum("n_copies")).collect()(0).getLong(0)
    assert(agg == total)
  }

  test("native minhash_sig expression matches the k-lane HOF formulation exactly") {
    val base = Dedup.withShingleHashes(docs.limit(200), "doc_id", "text")
    graft.functions.TextFunctions.register(spark)
    val diff = base
      .withColumn("native", expr("minhash_sig(sh, 16)"))
      .withColumn("hof", graft.functions.Text.minhashSignature(col("sh"), 16))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(diff == 0)
  }

  test("native simhash64 expression matches the per-bit HOF formulation exactly") {
    val base = docs.limit(200)
      .select(col("doc_id"), graft.functions.Text.tokenHashes(col("text")).as("th"))
    val diff = base
      .withColumn("native", Dedup.simhash(col("th")))
      .withColumn("hof", Dedup.simhashHof(col("th")))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(diff == 0)
  }

  test("minhash signatures are deterministic and k-wide") {
    val a = Dedup.withSignature(docs, "doc_id", "text", k = 16)
      .select("id", "sig").collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    val b = Dedup.withSignature(docs, "doc_id", "text", k = 16)
      .select("id", "sig").collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(a.toMap == b.toMap)
    assert(a.forall(_._2.length == 16))
  }

  test("minhash LSH candidates include the highest-jaccard exact pairs") {
    // exact all-pairs jaccard on a slice; every pair >= 0.9 must be
    // recalled by the banded LSH (16 lanes / 4 bands recalls J>=0.9
    // with probability ~1 - (1-0.9^4)^4 ~ 0.996 per pair)
    val slice = docs.filter(col("doc_id") < 200)
    val exact = Dedup.ngramJaccardPairs(slice, "doc_id", "text")
      .filter(col("jaccard") >= 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDups(slice, "doc_id", "text", minJaccard = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain near-dup pairs")
    val recalled = exact.intersect(lsh)
    assert(recalled.size.toDouble / exact.size >= 0.9,
      s"LSH recall too low: ${recalled.size}/${exact.size}")
  }

  test("simhash near-dups are symmetric-free (a<b) and within radius") {
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", radius = 4)
      .collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(r => r.getAs[Number](2).longValue <= 4))
  }

  test("bucket cap keeps a degenerate hot bucket sub-quadratic") {
    import spark.implicits._
    // 400 identical documents — every band hashes them into ONE bucket,
    // so uncapped candidate generation is C(400,2) * 4 bands ≈ 320k rows
    val hot = (0L until 400L).map(i => (i, "the same boilerplate text repeated verbatim"))
      .toDF("doc_id", "text")
      .union(Seq((1000L, "an unrelated document about spark joins"),
                 (1001L, "another unrelated document about parquet")).toDF("doc_id", "text"))
    val capped = Dedup.minhashNearDups(
      hot, "doc_id", "text", minJaccard = 0.5, maxBucket = 10)
    val pairs = capped.collect()
    // pair volume is bounded by the cap, not the cluster size …
    assert(pairs.length <= 10 * 9 / 2, s"cap leaked: ${pairs.length} pairs")
    // … while the retained prefix still detects the duplication
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getDouble(2) >= 0.5))
    // and the capped banded relation never exceeds maxBucket per bucket
    val banded = Dedup.capBuckets(
      Dedup.withSignature(hot, "doc_id", "text")
        .select(col("id"), org.apache.spark.sql.functions.posexplode(
          org.apache.spark.sql.functions.array(
            (0 until 4).map(b => org.apache.spark.sql.functions.xxhash64(
              org.apache.spark.sql.functions.lit(b), col("sig"))): _*))
          .as(Seq("band", "bucket"))), "id", 10)
      .groupBy("band", "bucket").count()
    assert(banded.agg(max("count")).collect()(0).getLong(0) <= 10)
  }

  test("native word_ngrams matches the HOF formulation exactly") {
    import spark.implicits._
    import graft.functions.Text
    // real corpus text
    val docs = Tables.documents(spark, sf).select(col("text"))
    for (n <- Seq(1, 2, 3, 5, 200)) {
      val diff = docs.select(
        Text.wordNgrams(Text.tokens(col("text")), n).as("a"),
        Text.wordNgramsHof(Text.tokens(col("text")), n).as("b"))
        .where(not(col("a") <=> col("b")))
      assert(diff.isEmpty, s"n=$n")
    }
    // crafted: nulls inside, empty array, null array, short arrays
    val edge = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq[String]("a", null, "c", "d")),
      (3L, Seq.empty[String]),
      (5L, Seq("only")),
      (6L, Seq("x", "y"))).toDF("id", "toks")
      .union(Seq((4L, null.asInstanceOf[Seq[String]])).toDF("id", "toks"))
    val diff2 = edge.select(
      Text.wordNgrams(col("toks"), 2).as("a"),
      Text.wordNgramsHof(col("toks"), 2).as("b"))
      .where(not(col("a") <=> col("b")))
    assert(diff2.isEmpty)
  }

  test("duplicate spans: planted boilerplate found, merged, bounded") {
    import spark.implicits._
    val boiler = "terms of service apply here" // 5 tokens, planted 3x
    val docs = Seq(
      (1L, s"alpha beta gamma $boiler delta epsilon"),
      (2L, s"$boiler zeta eta theta iota kappa"),
      (3L, s"unique words only lambda mu nu $boiler"),
      (4L, "entirely fresh content with no repeats at all")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", n = 3, minDf = 3)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every doc containing the boilerplate reports exactly ONE merged
    // span of its 5 tokens (3 overlapping 3-grams), nothing else
    assert(spans.length == 3)
    assert(spans.map(_._1).toSeq == Seq(1L, 2L, 3L))
    spans.foreach { case (id, s, e, g) =>
      assert(e - s == 5 && g == 3, s"doc $id: [$s,$e) grams=$g")
    }
    // span positions: doc 1 boilerplate starts at token 3, doc 2 at 0,
    // doc 3 at 6
    assert(spans.map(x => (x._1, x._2)).toSeq ==
      Seq((1L, 3L), (2L, 0L), (3L, 6L)))
    // a doc with no duplicated grams reports nothing (doc 4)
  }

  test("crossDocOnly spans ignore within-document repetition") {
    import spark.implicits._
    val boiler = "terms of service apply"
    val docs = Seq(
      // internal repetition only: the refrain recurs 3x INSIDE doc 1
      (1L, "la la la song la la la song la la la song"),
      (2L, s"alpha beta $boiler gamma"),
      (3L, s"$boiler delta epsilon zeta")
    ).toDF("doc_id", "text")
    val all = Dedup.duplicateSpans(docs, "doc_id", "text", n = 3, minDf = 2)
      .select("doc_id").distinct().as[Long].collect().toSet
    val xdoc = Dedup.duplicateSpans(docs, "doc_id", "text", n = 3, minDf = 2,
        crossDocOnly = true)
      .select("doc_id").distinct().as[Long].collect().toSet
    // the count-only cut flags doc 1's internal refrain; the cross-doc
    // cut keeps it and reports only the shared boilerplate docs
    assert(all == Set(1L, 2L, 3L))
    assert(xdoc == Set(2L, 3L))
  }

  test("editPairs cap requires string/integral ids; uncapped accepts any") {
    import spark.implicits._
    // the bounded-buffer cap is keyed on the id's native order; an id
    // type outside string/integral must fail LOUDLY instead of falling
    // back to the per-block sort window the cap exists to avoid
    val ts = Seq(("2024-01-01", "alpha cat"), ("2024-01-02", "alpha bat"))
      .toDF("d", "t").select(to_date(col("d")).as("d"), col("t"))
    val err = intercept[IllegalArgumentException] {
      graft.ops.Dedup.editPairs(ts, "d", "t", lit("k"),
        maxDist = 3, maxBlock = 2)
    }
    assert(err.getMessage.contains("string or integral"), err.getMessage)
    // the uncapped join path compares ids with `<` — any orderable type
    val got = graft.ops.Dedup.editPairs(ts, "d", "t", lit("k"), maxDist = 3)
    assert(got.count() == 1)
  }

  test("editPairs: blocked fuzzy pairs match a naive Levenshtein sweep") {
    import spark.implicits._
    val rows = Seq(
      (1L, "alpha cat"), (2L, "alpha bat"), (3L, "alpha cart"),
      (4L, "beta cat"), (5L, "beta cast"), (6L, "gamma zebra"),
      (7L, "alpha wolverine")).toDF("id", "t")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val data = rows.as[(Long, String)].collect()
    val naive = (for {
      (ia, ta) <- data; (ib, tb) <- data
      if ia < ib && ta.split(" ")(0) == tb.split(" ")(0)
      d = lev(ta, tb) if d >= 1 && d <= 3
    } yield (ia, ib, d.toLong)).toSet
    val got = graft.ops.Dedup.editPairs(
        rows, "id", "t", split(col("t"), " ").getItem(0),
        maxDist = 3, minDist = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == naive && got.nonEmpty)
    // minDist = 0 admits exact duplicates
    val withExact = graft.ops.Dedup.editPairs(
        rows.union(Seq((8L, "alpha cat")).toDF("id", "t")),
        "id", "t", split(col("t"), " ").getItem(0), maxDist = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(withExact.contains((1L, 8L, 0L)))
    // block cap bounds the quadratic: cap 2 keeps only id-order members
    val capped = graft.ops.Dedup.editPairs(
        rows, "id", "t", split(col("t"), " ").getItem(0),
        maxDist = 3, minDist = 1, maxBlock = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(capped.forall { case (a2, b2, _) => Set(a2, b2).subsetOf(Set(1L, 2L, 4L, 5L, 6L)) })
    // null blocking keys are unblockable by policy: excluded entirely
    val withNull = rows.union(
      Seq((9L, "alpha care"), (10L, "alpha card")).toDF("id", "t"))
    val nullBlocked = graft.ops.Dedup.editPairs(
        withNull, "id", "t",
        when(col("id") >= 9L, lit(null)).otherwise(lit("k")),
        maxDist = 30)
      .as[(Long, Long, Long)].collect().toSet
    assert(nullBlocked.nonEmpty &&
      nullBlocked.forall { case (a3, b3, _) => a3 < 9L && b3 < 9L })
    // null TEXT rows are excluded by the same explicit policy
    val withNullText = rows.union(
      Seq((11L, null.asInstanceOf[String])).toDF("id", "t"))
    val nullText = graft.ops.Dedup.editPairs(
        withNullText, "id", "t", lit("k"), maxDist = 30)
      .as[(Long, Long, Long)].collect().toSet
    assert(nullText.nonEmpty &&
      nullText.forall { case (a4, b4, _) => a4 != 11L && b4 != 11L })
    // string-typed ids cap lexicographically (the KSmallestAgg lane)
    val strIds = rows.withColumn("sid", concat(lit("x"), col("id")))
    val strCapped = graft.ops.Dedup.editPairs(
        strIds, "sid", "t", split(col("t"), " ").getItem(0),
        maxDist = 3, minDist = 1, maxBlock = 2)
      .as[(String, String, Long)].collect().toSet
    assert(strCapped.forall { case (a5, b5, _) =>
      Set(a5, b5).subsetOf(Set("x1", "x2", "x4", "x5", "x6")) })
  }

  test("minhash near-dups release their signature table once the result is dropped") {
    // the signature table lives as long as the query's DataFrame: once
    // the result is collected and unreachable, Spark's ContextCleaner
    // drops the persisted RDD (the ContextCleanerSuite idiom: GC, then
    // poll)
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val sc = spark.sparkContext
    // ids copied out of the map: a keySet view would hold its RDDs
    def persisted(): Set[Int] = sc.getPersistentRDDs.keysIterator.toSet
    val before = persisted()
    def runAndDrop(): Set[Int] = {
      val pairs = Dedup.minhashNearDups(docs.filter(col("doc_id") < 200),
        "doc_id", "text", minJaccard = 0.5)
      pairs.collect()
      persisted() -- before
    }
    val made = runAndDrop()
    assert(made.nonEmpty, "minhashNearDups persisted nothing")
    eventually(timeout(30.seconds), interval(200.millis)) {
      System.gc()
      assert((persisted() & made).isEmpty)
      assert(sc.getPersistentRDDs.size <= before.size)
    }
  }
}
