package graft

import org.apache.spark.sql.SparkSession

/** The SparkSessionExtensions entry point: a session configured with
  * `spark.sql.extensions=graft.GraftExtensions` can call the native
  * expressions from SQL text with no programmatic registration.
  */
class ExtensionsSpec extends NoCachedLeftovers {

  test("extension-injected functions resolve from SQL") {
    // All suites share one JVM and one SparkContext. `spark.sql
    // .extensions` is a STATIC conf read from the context's conf at
    // session build, so it can only take effect in a fresh JVM; the
    // builder's `withExtensions` hook runs the SAME injection entry
    // point (GraftExtensions.apply) on a new session over the reused
    // context. Detach the shared session first so getOrCreate builds a
    // new one, and re-attach it afterwards instead of stopping (stop()
    // would kill the context for every later suite).
    val prevDefault = SparkSession.getDefaultSession
    val prevActive  = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-spec")
      .withExtensions(new GraftExtensions().apply(_))
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val row = spark.sql(
        """SELECT
          |  cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
          |             array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
          |  minhash_sig(array(CAST(7 AS BIGINT)), 4) AS m,
          |  simhash64(array(CAST(7 AS BIGINT))) AS s,
          |  try_or_null(1 / 0) AS t,
          |  word_ngrams(array('a', 'b', 'c'), 2) AS w,
          |  re_captures('abcd', '([a-z]+)(\\d)?') AS rc,
          |  re_captures('999', '([a-z]+)') AS rcn,
          |  re_captures_all('a1 b2', '([a-z])(\\d)') AS rca,
          |  re_replace_first('a1 b2', '(\\d)', '[$1]') AS rr
          |""".stripMargin).collect()(0)
      assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
      assert(row.getSeq[Long](1).length == 4)
      assert(row.getLong(2) == 7L) // single voter: its bits carry
      assert(row.isNullAt(3)) // ANSI div-by-zero absorbed to null
      assert(row.getSeq[String](4) == Seq("a b", "b c"))
      // group 2 is optional and UNMATCHED — null element, not ""
      assert(row.getSeq[String](5) == Seq("abcd", "abcd", null))
      assert(row.isNullAt(6)) // no match → null, not empty array
      assert(row.getSeq[Seq[String]](7) ==
        Seq(Seq("a1", "a", "1"), Seq("b2", "b", "2")))
      assert(row.getString(8) == "a[1] b2") // replace-FIRST with $1 ref
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("optimizer rule rewrites naive range joins into banded hash joins") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive  = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-rangejoin-spec")
      .withExtensions(new GraftExtensions().apply(_))
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import org.apache.spark.sql.functions._
      val points = spark.range(0, 400)
        .select(col("id").as("pid"), (col("id") * 7 % 500 - 50).as("pt"))
      val ivals = spark.range(0, 40)
        .select(col("id").as("bid"),
          (col("id") * 13 - 60).as("lo"),
          (col("id") * 13 - 60 + (col("id") % 5) * 9).as("hi"))
      def naive() = points.join(ivals,
        col("pt") >= col("lo") && col("pt") <= col("hi"))
        .select("pid", "bid")
      def results() =
        naive().collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      // rule off: BNL (the shape the rewrite exists to kill)
      spark.conf.unset("spark.graft.rangeJoin.bandWidth")
      val off = naive().queryExecution.executedPlan.toString
      assert(off.contains("BroadcastNestedLoop"), off)
      val expect = results()
      assert(expect.nonEmpty)

      // rule on: banded equi-join, identical rows
      spark.conf.set("spark.graft.rangeJoin.bandWidth", "16")
      val on = naive().queryExecution.executedPlan.toString
      assert(!on.contains("BroadcastNestedLoop"), on)
      assert(on.contains("HashJoin") || on.contains("SortMergeJoin"), on)
      assert(results() == expect)

      // join with a real equi key is left alone (already hash-joinable)
      val withKey = points.withColumn("k", col("pid") % 7)
        .join(ivals.withColumn("k", col("bid") % 7), "k")
        .where(col("pt") >= col("lo") && col("pt") <= col("hi"))
      assert(!withKey.queryExecution.optimizedPlan.toString.contains("__graft_band"))

      // EMPTY intervals (lo > hi): the un-rewritten BNL just produced
      // no match; the rewrite's Sequence stop is clamped to >= start,
      // so such rows no-match instead of throwing at runtime
      val flipped = spark.range(0, 40)
        .select(col("id").as("bid"),
          (col("id") * 13 - 60 + lit(100)).as("lo"), // lo > hi for all
          (col("id") * 13 - 60).as("hi"))
      def naiveFlipped() = points.join(flipped,
        col("pt") >= col("lo") && col("pt") <= col("hi"))
      assert(naiveFlipped().count() == 0) // rule still on — must not throw
      // mixed: some empty, some valid — the valid ones still match
      val mixed = spark.range(0, 40)
        .select(col("id").as("bid"),
          (col("id") * 13 - 60).as("lo"),
          (col("id") * 13 - 60 + (col("id") % 5) * 9 - 18).as("hi"))
      def naiveMixed() = points.join(mixed,
        col("pt") >= col("lo") && col("pt") <= col("hi"))
        .select("pid", "bid")
      val mixedOn = naiveMixed().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.conf.unset("spark.graft.rangeJoin.bandWidth")
      val mixedOff = naiveMixed().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.conf.set("spark.graft.rangeJoin.bandWidth", "16")
      assert(mixedOn == mixedOff && mixedOn.nonEmpty)
    } finally {
      spark.conf.unset("spark.graft.rangeJoin.bandWidth")
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
