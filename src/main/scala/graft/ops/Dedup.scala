package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Deduplication operators for training-data pipelines, each designed
  * around one shuffle on a hash key:
  *
  *  - exact: hash-groupBy on content digest — one shuffle, combiner-
  *    friendly, no skew beyond true duplicate mass.
  *  - MinHash + LSH: shingle → k-lane signature → band buckets →
  *    bucket-local candidate pairs → exact Jaccard verify. The band
  *    join shuffles on (band, bandHash), so candidate generation never
  *    compares across buckets — the all-pairs O(n²) never materialises.
  *  - SimHash: 64-bit sign-aggregated token hashes; near-dups = equal
  *    prefix bands then Hamming ≤ radius verify.
  *  - n-gram Jaccard: the exact verifier, also usable standalone on a
  *    bounded candidate set.
  *
  * All signature math is native Spark HOFs except SimHash's bit fold
  * (see [[simhash]]).
  */
object Dedup {

  /** Exact dedup: keep the minimum id per content group. One shuffle on
    * the digest; at 100 TB hash first so the shuffle key is 16 bytes,
    * not the document. */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** Word-3-gram shingle set (distinct) — the unit for Jaccard. */
  def shingles(text: Column): Column =
    array_distinct(Text.wordNgrams(Text.tokens(text), 3))

  /** Hashed-shingle pipeline staged so each non-cheap array is its own
    * projection (multi-referenced → CollapseProject materialises it once
    * per row): token strings hashed once, grams are long folds, Jaccard
    * runs on long sets. ~6× cheaper than string shingles at equal
    * semantics (gram-hash collisions are ~2⁻⁶⁴ — invisible to Jaccard).
    */
  def withShingleHashes(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    // tokenize+shingle is per-row HEAVY: spread an under-parallelised
    // scan so the signature pass uses the whole cluster (r11 measurement;
    // no-op when the scan is already split)
    graft.core.Tables.spreadCompute(df)
      .select(col(idCol).as("id"), Text.tokenHashes(col(textCol)).as("th"))
      .select(col("id"), array_distinct(Text.gramHashes(col("th"), 3)).as("sh"))

  /** MinHash signatures: (id, sh = hashed shingles, sig[k]) — computed
    * by the one-pass native expression (graft.functions.MinHashSignature;
    * bit-identical to the k-lane HOF form in Text.minhashSignature). */
  def withSignature(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 16): DataFrame = {
    graft.functions.TextFunctions.register(df.sparkSession)
    withShingleHashes(df, idCol, textCol)
      .withColumn("sig", expr(s"minhash_sig(sh, $k)"))
  }

  /** Bucket-size cap for banded LSH self-joins: a degenerate bucket
    * (boilerplate text, empty documents, an adversarial key) makes the
    * bucket-local pair generation quadratic in that bucket's size. Keep
    * only the first `maxBucket` members per (band, bucket) in id order —
    * deterministic, one window over the same (band, bucket) shuffle the
    * join needs anyway, and it bounds any bucket's pair count at
    * maxBucket²/2. Members beyond the cap still pair through their
    * other bands (a truly identical cluster is exact-dedup's job, not
    * LSH's). `maxBucket <= 0` disables the cap.
    */
  def capBuckets(
      banded: DataFrame, idName: String, maxBucket: Int): DataFrame =
    if (maxBucket <= 0) banded
    else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("band", "bucket").orderBy(col(idName))
      banded.withColumn("__bpos", row_number().over(w))
        .filter(col("__bpos") <= maxBucket)
        .drop("__bpos")
    }

  /** Banded bucket keys for a k-lane signature: bucket(b) = xxhash64 of
    * band index + the band's signature slice. One array column of
    * `bands` longs — the SAME formula for batch near-dup joins and the
    * streaming bucket-claim state, so a signature buckets identically
    * on both paths. */
  def bandHashes(sig: Column, k: Int, bands: Int): Column = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    array((0 until bands).map { b =>
      xxhash64(lit(b), concat_ws(",",
        (0 until r).map(i => element_at(sig, b * r + i + 1)): _*))
    }: _*)
  }

  /** LSH candidate pairs + exact Jaccard, filtered at `minJaccard`.
    * bands × rowsPerBand must equal k. Returns (id_a, id_b, jaccard)
    * with id_a < id_b. `maxBucket` bounds bucket-local candidate
    * generation (see [[capBuckets]]).
    */
  def minhashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    // The signature table is read three times (banding + both verify
    // joins); materialising it for the query's lifetime
    // (graft.core.Intermediate) beats re-shingling the full text.
    // DISK_ONLY so corpus-sized shingle arrays never compete with
    // shuffle/agg memory at 100 TB (the unified pool borrows from
    // execution); measured r11: MEMORY_AND_DISK is no faster even at
    // bench scale (the three reads hit the OS page cache either way), so
    // the safe level is also the fast one. Conf'able for other
    // deployments.
    val level = org.apache.spark.storage.StorageLevel.fromString(
      df.sparkSession.conf
        .get("spark.graft.minhash.storage", "DISK_ONLY"))
    val signed = graft.core.Intermediate.persist(
      withSignature(df, idCol, textCol, k), level)

    // band hash = xxhash64 of the band's signature slice + band index.
    // Only (id, band, bucket) flows into the self-join: 24-byte rows,
    // never the shingle arrays — at 100 TB the candidate shuffle stays
    // ~n·bands·24 B regardless of document size.
    val banded = capBuckets(signed.select(
      col("id"),
      posexplode(bandHashes(col("sig"), k, bands)).as(Seq("band", "bucket"))),
      "id", maxBucket)

    // bucket-local pairs (shuffle on (band, bucket) only)
    val cand = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(banded.select(
        col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    // exact verify: join the shingle sets back per side (AQE broadcasts
    // when small; hash-shuffles on id at scale).
    val shs = signed.select(col("id"), col("sh"))
    cand
      .join(shs.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a")), Seq("id_a"))
      .join(shs.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b")), Seq("id_b"))
      .withColumn("jaccard", round(jaccard(col("sh_a"), col("sh_b")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Fully engine-portable MinHash+LSH near-dup pairs: char-8-gram
    * shingles, md5 lane hashes, md5 band buckets, bucket-local pairs,
    * exact Jaccard verify — every stage expressible in ANSI SQL, so a
    * second engine (the DuckDB oracle) can replay the ENTIRE pipeline
    * and hash-match the result. Same algebra and join shape as
    * [[minhashNearDups]]; the production path differs only in hash
    * function (codegen'd xxhash64, ~6x cheaper than md5 strings) and
    * the bucket cap. Use this variant for cross-engine reproducibility,
    * the xxhash one for throughput. */
  def minhashNearDupsPortable(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, bands: Int = 2, minJaccard: Double = 0.2): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val laneCols = (0 until k).map { l =>
      array_min(transform(col("ss"), s => md5(concat(s, lit("#" + l)))))
        .as(s"__l$l")
    }
    val signed = graft.core.Tables.spreadCompute(df)
      .select(col(idCol).as("id"),
        array_distinct(Text.charShingles(textCol, 8)).as("ss"))
      .select(col("id") +: col("ss") +: laneCols: _*)
    val bandCols = (0 until bands).map { b =>
      md5(concat_ws(":",
        lit(b.toString) +: (0 until r).map(i => col(s"__l${b * r + i}")): _*))
    }
    val banded = signed.select(col("id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
    val cand = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val shs = signed.select(col("id"), col("ss"))
    cand
      .join(shs.withColumnsRenamed(Map("id" -> "id_a", "ss" -> "ss_a")), Seq("id_a"))
      .join(shs.withColumnsRenamed(Map("id" -> "id_b", "ss" -> "ss_b")), Seq("id_b"))
      .withColumn("jaccard", round(jaccard(col("ss_a"), col("ss_b")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Engine-portable SimHash: 60-bit token hashes from the md5 hex
    * prefix (15 nibbles — fits a signed long, parseable by any SQL
    * engine), strict-majority bit votes, 4×15-bit band buckets,
    * Hamming verify. Same algebra as [[simhashNearDups]]; only the
    * token hash differs (portable md5 vs codegen'd xxhash64), so the
    * DuckDB oracle can replay the pipeline end-to-end. */
  def simhash60Portable(thCol: Column): Column =
    aggregate(
      transform(sequence(lit(0), lit(59)), j =>
        when(size(filter(thCol,
            h => call_function("shiftright", h, j).bitwiseAND(lit(1L)) === 1L))
            * 2 > size(thCol),
          call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))

  /** Portable SimHash near-dup pairs (see [[simhash60Portable]]):
    * (id_a, id_b, hamming) with hamming <= radius, id_a < id_b. */
  def simhashNearDupsPortable(
      df: DataFrame, idCol: String, textCol: String,
      radius: Int = 8): DataFrame = {
    val th = transform(Text.tokens(col(textCol)),
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    val h = graft.core.Tables.spreadCompute(df)
      .select(col(idCol).as("id"), simhash60Portable(th).as("sh"))
    val banded = h.select(
      col("id"), col("sh"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sh"), b * 15).bitwiseAND(lit(0x7FFFL))): _*))
        .as(Seq("band", "bucket")))
    val l = banded.select(col("band"), col("bucket"),
      col("id").as("id_a"), col("sh").as("h_a"))
    val r = banded.select(col("band"), col("bucket"),
      col("id").as("id_b"), col("sh").as("h_b"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", expr("CAST(bit_count(h_a ^ h_b) AS BIGINT)"))
      .filter(col("hamming") <= radius)
      .select("id_a", "id_b", "hamming")
  }

  /** Exact Jaccard of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column =
    (size(array_intersect(a, b)).cast("double") /
      greatest(size(array_union(a, b)), lit(1)).cast("double"))

  /** All-pairs n-gram Jaccard over a bounded subset (the exact
    * verifier; quadratic — gate the input). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val g = withShingleHashes(df, idCol, textCol)
      .select(col("id"), col("sh").as("gs"))
    val a = g.select(col("id").as("id_a"), col("gs").as("gs_a"))
    val b = g.select(col("id").as("id_b"), col("gs").as("gs_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("gs_a"), col("gs_b")), 4).as("jaccard"))
  }

  /** 64-bit SimHash over a token-HASH array column: each hash votes its
    * bits, bit j of the output is the majority vote — computed by the
    * one-pass native expression (graft.functions.SimHash64). */
  def simhash(thCol: Column): Column =
    graft.functions.SimHash64.column(thCol)

  /** HOF formulation of [[simhash]] (64 interpreted passes) — kept as
    * the differential oracle for the native expression. */
  def simhashHof(thCol: Column): Column =
    aggregate(
      transform(sequence(lit(0), lit(63)), j =>
        when(size(filter(thCol,
            h => call_function("shiftright", h, j).bitwiseAND(lit(1L)) === 1L))
            * 2 > size(thCol),
          call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))

  /** SimHash near-dup candidates: equal 16-bit band ⇒ candidate, then
    * Hamming distance ≤ radius verify via bit_count(xor). */
  def simhashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      radius: Int = 8, maxBucket: Int = 1000): DataFrame = {
    val h = graft.core.Tables.spreadCompute(df)
      .select(col(idCol).as("id"), Text.tokenHashes(col(textCol)).as("th"))
      .select(col("id"), simhash(col("th")).as("sh64"))
    val banded = capBuckets(h.select(
      col("id"), col("sh64"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sh64"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "bucket"))), "id", maxBucket)
    val l = banded.select(col("band"), col("bucket"),
      col("id").as("id_a"), col("sh64").as("h_a"))
    val r = banded.select(col("band"), col("bucket"),
      col("id").as("id_b"), col("sh64").as("h_b"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", expr("bit_count(h_a ^ h_b)"))
      .filter(col("hamming") <= radius)
      .select("id_a", "id_b", "hamming")
  }

  /** Span-level exact-duplicate detection — the "remove repeated
    * substrings, not whole documents" dedup shape (re-derived from the
    * published duplicated-n-gram approach: text regions covered by word
    * n-grams that recur corpus-wide are boilerplate/templating and get
    * cut, while the rest of the document survives).
    *
    * Returns maximal duplicated spans per document in TOKEN units:
    * `idCol`, `span_start` (inclusive), `span_end` (exclusive),
    * `n_grams` (how many duplicated n-grams cover the span). A gram
    * counts as duplicated when its corpus-wide occurrence count
    * (including same-document repeats) is ≥ `minDf`; with
    * `crossDocOnly` it must ALSO occur in at least two DISTINCT
    * documents (the training-data setting: internal repetition is the
    * document's own business, cross-document repetition is
    * boilerplate). The distinctness test is `min(doc) != max(doc)` —
    * partial-aggregable in the same pass as the count, no
    * count-distinct shuffle.
    *
    * Scale: grams shuffle as 16-byte (id, pos, hash) rows, never text;
    * the duplicated-gram set comes from a partial-aggregable
    * `groupBy(hash).count()` + semi-join (AQE picks the side to
    * broadcast); span merging is a gaps-and-islands window PER DOCUMENT
    * — bounded by one document's duplicated positions, never the
    * corpus. At corpus scale use LONG grams (the published setting is
    * ~50 tokens): with short n most grams recur somewhere and the
    * "duplicated" set approaches the corpus itself; long grams keep it
    * a sliver (the testdata queries use n=3 only because the synthetic
    * vocabulary is ~30 words). */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, minDf: Int = 2,
                     crossDocOnly: Boolean = false): DataFrame = {
    require(n > 0 && minDf > 1, "need n > 0 and minDf > 1")
    import org.apache.spark.sql.expressions.Window
    // hash AFTER the explode: md5 runs codegen'd over flat rows instead
    // of interpreted inside a transform lambda (~3x on the gram pass)
    // tokenize + n-gram explode is per-row heavy — spread an
    // under-parallelised scan first (both gram passes inherit it).
    // Gram identity is xxhash64, not md5: the hash never reaches the
    // output (only per-gram occurrence counts keyed by it do), so any
    // injective-enough hash computes the same spans — and xxhash64 is
    // codegen'd, allocation-free, and an 8-byte shuffle key instead of
    // a 32-char hex string (guide §2.3 "narrower types").
    val grams = graft.core.Tables.spreadCompute(df)
      .select(col(idCol).as("__doc"),
        posexplode(Text.wordNgrams(Text.tokens(col(textCol)), n))
          .as(Seq("pos", "g")))
      .select(col("__doc"), col("pos"), xxhash64(col("g")).as("h"))
    val hot =
      if (crossDocOnly)
        grams.groupBy("h").agg(count(lit(1)).as("__df"),
            min("__doc").as("__lo"), max("__doc").as("__hi"))
          .where(col("__df") >= minDf && col("__lo") =!= col("__hi"))
          .select("h")
      else grams.groupBy("h").agg(count(lit(1)).as("__df"))
        .where(col("__df") >= minDf).select("h")
    val dup = grams.join(hot, Seq("h"), "left_semi")
    val w = Window.partitionBy("__doc").orderBy("pos")
    val prev = lag(col("pos"), 1).over(w)
    // same span while the next duplicated gram starts within (or
    // adjacent to) the previous gram's extent — contiguous coverage
    val isl = dup
      .withColumn("__brk",
        when(prev.isNull || col("pos") > prev + n, 1).otherwise(0))
      .withColumn("__isl", sum("__brk")
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    isl.groupBy(col("__doc"), col("__isl"))
      .agg(
        min("pos").cast("long").as("span_start"),
        (max("pos") + n).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("__doc").as(idCol),
        col("span_start"), col("span_end"), col("n_grams"))
  }

  /** Per-document duplicated-token fraction — the curation signal on
    * top of [[duplicateSpans]] ("drop documents that are mostly
    * boilerplate"). One row per INPUT document: `n_tokens`,
    * `dup_tokens` (total token coverage of the merged duplicated
    * spans; spans never overlap, so the sum is exact), and
    * `dup_ratio` = dup/total as one IEEE division (replayable
    * bit-exactly). Documents with no duplicated spans report 0.
    *
    * Scale: the span side aggregates span LENGTHS per doc (one row per
    * doc) before the join back to the id+count projection — the join
    * never carries text. */
  def duplicatedTokenRatio(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, minDf: Int = 2,
                           crossDocOnly: Boolean = false): DataFrame = {
    val dup = duplicateSpans(df, idCol, textCol, n, minDf, crossDocOnly)
      .groupBy(idCol)
      .agg(sum(col("span_end") - col("span_start")).as("dup_tokens"))
    df.select(col(idCol),
        size(Text.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(dup, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("n_tokens") <= 0, lit(0.0))
          .otherwise(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
            col("n_tokens"))
          .as("dup_ratio"))
  }

  /** Fuzzy (edit-distance) near-dup pairs over SHORT strings — titles,
    * names, URLs: all unordered id pairs inside a blocking key whose
    * texts sit within `maxDist` Levenshtein edits (optionally at least
    * `minDist`, to hand exact duplicates to the cheaper digest path).
    *
    * Scale shape: the quadratic verify only ever runs INSIDE a block —
    * the caller picks the blocking column (first token, length band,
    * simhash band, …) to bound block sizes, and [[capBuckets]]-style
    * degenerate blocks can additionally be capped via `maxBlock`. Two
    * cheap guards run before the O(len²) distance: the length
    * difference bound (|len a − len b| ≤ maxDist is necessary) pushes
    * into the join filter, and the distance itself uses Spark's
    * early-abandon 3-arg `levenshtein(a, b, threshold)` (−1 past the
    * threshold, so the scan stops at maxDist+1 edits).
    *
    * Id-type CONTRACT (since round 7): with `maxBlock > 0` the id
    * column must be string or integral — the cap keeps the maxBlock
    * smallest ids per block through a bounded-buffer aggregate keyed
    * on the id's native order, and there is deliberately NO windowed
    * fallback for other types (a per-block sort window is the
    * degenerate-block pathology the cap exists to bound). Exotic ids
    * (decimal, date, …) raise IllegalArgumentException with this
    * guidance: render the id to string/integral yourself — an explicit
    * cast keeps the "smallest ids" tie-break visible — or run
    * uncapped (`maxBlock = 0`), where any id type with `<` works. */
  def editPairs(
      df: DataFrame, idCol: String, textCol: String,
      block: Column, maxDist: Int, minDist: Int = 0,
      maxBlock: Int = 0): DataFrame = {
    require(maxDist >= 0 && minDist >= 0 && minDist <= maxDist,
      "need 0 <= minDist <= maxDist")
    // a null blocking key is "unblockable" — such rows are EXCLUDED
    // from pairing (SQL join semantics would drop them silently;
    // making the policy explicit here keeps it visible and testable).
    // Callers who want null-keyed rows to pair among themselves should
    // coalesce the blocking expression to a sentinel. A null TEXT is
    // excluded for the same reason: length/levenshtein comparisons on
    // null would drop the row silently inside the join filter, so the
    // policy is made explicit (and testable) up front.
    // the capped path's bounded-buffer partial aggregate does per-row
    // buffer work in the scan stage — spread an under-parallelised scan
    val base = graft.core.Tables.spreadCompute(df)
      .select(block.as("__blk"),
        col(idCol).as("__id"), col(textCol).as("__t"))
      .where(col("__blk").isNotNull && col("__t").isNotNull)
    // The cap keeps the maxBlock SMALLEST ids per block (deterministic,
    // oracle-replayable). NOT the row_number window idiom — that sorts
    // the entire degenerate block in one task, i.e. the very pathology
    // the cap exists to bound pays a straggler to enforce it. Instead a
    // bounded-buffer k-smallest aggregate whose buffer carries the
    // (id, text) survivor PAIRS (the stratified-sampling shape, payload
    // included): map-side combine caps each partition's buffer at
    // maxBlock, so ≤ maxBlock short rows per block per partition cross
    // the shuffle, and the pair fan-out double-explodes the per-block
    // survivor array — ONE scan, no join-back, no window, no sort.
    // Ids are distinct per row by contract (a duplicate id would keep
    // one arbitrary text); null ids are excluded under a cap.
    def pairsOf(aId: Column, aT: Column, bId: Column, bT: Column,
                idLt: Column): DataFrame => DataFrame = df0 =>
      df0.where(idLt && abs(length(aT) - length(bT)) <= maxDist)
        .withColumn("dist", levenshtein(aT, bT, maxDist).cast("long"))
        .where(col("dist") >= minDist && col("dist") =!= -1L)
        .select(aId.as("id_a"), bId.as("id_b"), col("dist"))
    val cappedPairs: Option[DataFrame] =
      if (maxBlock <= 0) None
      else {
        import org.apache.spark.sql.types._
        val idType = base.schema("__id").dataType
        val keyed = base.where(col("__id").isNotNull)
        val kept: DataFrame = idType match {
          case StringType =>
            val agg = udaf(new KSmallestStrRowAgg(maxBlock))
            keyed.groupBy("__blk")
              .agg(agg(col("__id"), col("__t")).as("__ks"))
          case ByteType | ShortType | IntegerType | LongType =>
            val agg = udaf(new KSmallestLongRowAgg(maxBlock))
            keyed.groupBy("__blk")
              .agg(agg(col("__id").cast("long"), col("__t")).as("__ks"))
          case other => throw new IllegalArgumentException(
            s"editPairs maxBlock cap requires a string or integral id " +
            s"column ($idCol is $other): the cap keeps the maxBlock " +
            "smallest ids per block through a bounded-buffer aggregate " +
            "keyed on the id's native order — the alternative (a " +
            "per-block sort window) is exactly the degenerate-block " +
            "pathology the cap exists to bound. Cast or render the id " +
            "to string/integral, or run uncapped (maxBlock = 0).")
        }
        val ex = kept
          .select(explode(col("__ks")).as("__a"), col("__ks"))
          .select(col("__a"), explode(col("__ks")).as("__b"))
        Some(pairsOf(col("__a._1").cast(idType), col("__a._2"),
          col("__b._1").cast(idType), col("__b._2"),
          col("__a._1") < col("__b._1"))(ex))
      }
    cappedPairs.getOrElse {
      // uncapped: plain blocked self-join — any id type with `<`
      val a = base.select(col("__blk"), col("__id").as("id_a"),
        col("__t").as("t_a"))
      val b = base.select(col("__blk"), col("__id").as("id_b"),
        col("__t").as("t_b"))
      pairsOf(col("id_a"), col("t_a"), col("id_b"), col("t_b"),
        col("id_a") < col("id_b"))(a.join(b, Seq("__blk")))
    }
  }

  /** Bounded-buffer k-smallest (id, text) pairs, asc by LONG id with
    * id-dedup — the [[Sampling.KSmallestLongAgg]] shape carrying the
    * text payload so a capped block needs no join-back. */
  final class KSmallestLongRowAgg(k: Int)
      extends Aggregator[(Long, String), List[(Long, String)], Seq[(Long, String)]] {
    override def zero: List[(Long, String)] = Nil
    override def reduce(buf: List[(Long, String)], in: (Long, String)): List[(Long, String)] = {
      // rejection fast path: a full buffer whose max id <= in cannot change
      var n = 0; var it = buf; var last = Long.MinValue
      while (it.nonEmpty && n < k) { last = it.head._1; it = it.tail; n += 1 }
      if (n == k && last <= in._1) buf else merge(buf, List(in))
    }
    override def merge(a: List[(Long, String)], b: List[(Long, String)]): List[(Long, String)] = {
      val out = List.newBuilder[(Long, String)]
      var (x, y, n) = (a, b, 0)
      var last = Long.MinValue; var first = true
      while (n < k && (x.nonEmpty || y.nonEmpty)) {
        val v =
          if (y.isEmpty || (x.nonEmpty && x.head._1 <= y.head._1)) { val h = x.head; x = x.tail; h }
          else { val h = y.head; y = y.tail; h }
        if (first || v._1 != last) { out += v; last = v._1; first = false; n += 1 }
      }
      out.result()
    }
    override def finish(r: List[(Long, String)]): Seq[(Long, String)] = r
    override def bufferEncoder: Encoder[List[(Long, String)]] =
      ExpressionEncoder[List[(Long, String)]]()
    override def outputEncoder: Encoder[Seq[(Long, String)]] =
      ExpressionEncoder[Seq[(Long, String)]]()
  }

  /** String-id twin of [[KSmallestLongRowAgg]]. */
  final class KSmallestStrRowAgg(k: Int)
      extends Aggregator[(String, String), List[(String, String)], Seq[(String, String)]] {
    override def zero: List[(String, String)] = Nil
    override def reduce(buf: List[(String, String)], in: (String, String)): List[(String, String)] =
      if (in._1 == null) buf
      else {
        var n = 0; var it = buf; var last: String = null
        while (it.nonEmpty && n < k) { last = it.head._1; it = it.tail; n += 1 }
        if (n == k && last <= in._1) buf else merge(buf, List(in))
      }
    override def merge(a: List[(String, String)], b: List[(String, String)]): List[(String, String)] = {
      val out = List.newBuilder[(String, String)]
      var (x, y, n) = (a, b, 0)
      var last: String = null
      while (n < k && (x.nonEmpty || y.nonEmpty)) {
        val v =
          if (y.isEmpty || (x.nonEmpty && x.head._1 <= y.head._1)) { val h = x.head; x = x.tail; h }
          else { val h = y.head; y = y.tail; h }
        if (v._1 != last) { out += v; last = v._1; n += 1 }
      }
      out.result()
    }
    override def finish(r: List[(String, String)]): Seq[(String, String)] = r
    override def bufferEncoder: Encoder[List[(String, String)]] =
      ExpressionEncoder[List[(String, String)]]()
    override def outputEncoder: Encoder[Seq[(String, String)]] =
      ExpressionEncoder[Seq[(String, String)]]()
  }
}
