package graft.queries

/** DuckDB-SQL generator for Spark's `xxhash64` (the XXH64 algorithm,
  * seed 42) so the ORACLE can replay the production dedup pipelines —
  * xxhash64 token hashes, gram folds, salted MinHash lanes, band
  * buckets — bit-for-bit instead of needing portable md5 twins.
  *
  * All arithmetic runs in the unsigned-64 domain emulated with
  * UHUGEINT (128-bit) multiply/add mod 2^64; xor and logical right
  * shift act on UBIGINT natively. Strings are byte-addressed with
  * `ascii(substr(...))`, which equals the UTF-8 byte ONLY for ASCII
  * text — the driver's synthetic `documents.text` is ASCII (verified),
  * and the band-bucket CSV strings are digits/commas/minus by
  * construction. Long-loop stages (32-byte stripes, 8-byte tail words,
  * tail bytes) fold via `list_reduce` with the init value prepended
  * (DuckDB 1.0 list_reduce has no init parameter).
  *
  * Every generated fragment was validated bit-for-bit in round 11
  * against Spark's own `xxhash64` output over ~900 reference vectors
  * (strings of every tail-length class incl. multi-stripe, longs, ints,
  * multi-arg chains); the oracle's xxhash dedup queries (TextQueries)
  * cross-check the same fragments end to end on every run.
  */
object XxSql {
  private val M = "18446744073709551616" // 2^64
  private val MASK = (BigInt(1) << 64) - 1
  private val P1 = BigInt("9E3779B185EBCA87", 16)
  private val P2 = BigInt("C2B2AE3D27D4EB4F", 16)
  private val P3 = BigInt("165667B19E3779F9", 16)
  private val P4 = BigInt("85EBCA77C2B2AE63", 16)
  private val P5 = BigInt("27D4EB2F165667C5", 16)

  private def mul(a: String, b: String) =
    s"CAST((CAST($a AS UHUGEINT) * CAST($b AS UHUGEINT)) % $M AS UBIGINT)"
  private def add(a: String, b: String) =
    s"CAST((CAST($a AS UHUGEINT) + CAST($b AS UHUGEINT)) % $M AS UBIGINT)"
  private def xor(a: String, b: String) = s"xor($a, $b)"
  private def shr(a: String, n: Int)    = s"($a >> $n)"
  private def rotl(x: String, n: Int) = // disjoint bit ranges: + is |
    s"CAST(((CAST($x AS UHUGEINT) << $n) % $M) + CAST($x >> ${64 - n} AS UHUGEINT) AS UBIGINT)"
  private def u(v: BigInt) = s"CAST($v AS UBIGINT)"

  /** unsigned-64 expr → signed BIGINT expr. */
  def u2s(e: String): String =
    s"CAST(CAST($e AS HUGEINT) - (CASE WHEN $e >= 9223372036854775808 THEN $M ELSE 0 END) AS BIGINT)"

  /** signed BIGINT expr → unsigned-64 expr. */
  def s2u(e: String): String =
    s"CAST((CAST($e AS HUGEINT) % $M + $M) % $M AS UBIGINT)"

  private def fmixStaged(h: String, pfx: String): Vector[(String, String)] =
    Vector(
      s"${pfx}f1"  -> mul(xor(h, shr(h, 33)), u(P2)),
      s"${pfx}f2"  -> mul(xor(s"${pfx}f1", shr(s"${pfx}f1", 29)), u(P3)),
      s"${pfx}out" -> xor(s"${pfx}f2", shr(s"${pfx}f2", 32)))

  /** Staged XXH64.hashLong: `inp`/`seed` are (short) column refs or
    * literals; the final unsigned hash lands in column `{pfx}out`. */
  def hashLongStages(inp: String, seed: String, pfx: String): Vector[(String, String)] =
    Vector(
      s"${pfx}s1" -> xor(add(add(seed, u(P5)), "8"),
        mul(rotl(mul(inp, u(P2)), 31), u(P1))),
      s"${pfx}s2" -> add(mul(rotl(s"${pfx}s1", 27), u(P1)), u(P4))) ++
      fmixStaged(s"${pfx}s2", pfx)

  /** One-shot XXH64.hashInt with a LITERAL int input and a (short)
    * seed column ref. */
  def hashIntLitExpr(litInt: Int, seed: String): String = {
    val h1 = add(add(seed, u(P5)), "4")
    val h2 = xor(h1, mul(u(BigInt(litInt) & BigInt("FFFFFFFF", 16)), u(P1)))
    val h3 = add(mul(rotl(h2, 23), u(P2)), u(P3))
    val f1 = mul(xor(h3, shr(h3, 33)), u(P2))
    val f2 = mul(xor(f1, shr(f1, 29)), u(P3))
    xor(f2, shr(f2, 32))
  }

  /** Pure-Scala XXH64.hashInt over literals (seed precompute). */
  def hashIntLit(input: Int, seed: Long): BigInt = {
    def m(a: BigInt, b: BigInt) = (a * b) & MASK
    def rl(x: BigInt, r: Int)   = ((x << r) | (x >> (64 - r))) & MASK
    def fmix(h0: BigInt): BigInt = {
      var h = h0
      h ^= h >> 33; h = m(h, P2); h ^= h >> 29; h = m(h, P3); h ^= h >> 32
      h
    }
    val s = BigInt(seed) & MASK
    var h = (s + P5 + 4) & MASK
    h ^= m(BigInt(input) & BigInt("FFFFFFFF", 16), P1)
    h = (m(rl(h, 23), P2) + P3) & MASK
    fmix(h)
  }

  private def word8(t: String, off0: String): String =
    (0 until 8).map { j =>
      val b = s"CAST(ascii(substr($t, ($off0) + ${j + 1}, 1)) AS UBIGINT)"
      if (j == 0) b else s"$b * ${BigInt(1) << (8 * j)}"
    }.mkString("(", " + ", ")")

  private def word4(t: String, off0: String): String =
    (0 until 4).map { j =>
      val b = s"CAST(ascii(substr($t, ($off0) + ${j + 1}, 1)) AS UBIGINT)"
      if (j == 0) b else s"$b * ${BigInt(1) << (8 * j)}"
    }.mkString("(", " + ", ")")

  private def stripeRound(v: String, k: String) =
    mul(rotl(add(v, mul(k, u(P2))), 31), u(P1))
  private def mergeRound(h: String, v: String) =
    add(mul(xor(h, mul(rotl(mul(v, u(P2)), 31), u(P1))), u(P1)), u(P4))
  private def wordRound(h: String, k: String) =
    add(mul(rotl(xor(h, mul(rotl(mul(k, u(P2)), 31), u(P1))), 27), u(P1)), u(P4))

  /** Staged XXH64 over the UTF-8 (ASCII) bytes of string column `t`
    * with a LITERAL seed: stripe accumulators → merge → 8-byte tail
    * words → 4-byte chunk → tail bytes → avalanche. Result (unsigned)
    * in column `{pfx}out`. */
  def hashBytesStages(t: String, seed: BigInt, pfx: String): Vector[(String, String)] = {
    val s  = seed & MASK
    val v1 = (s + P1 + P2) & MASK
    val v2 = (s + P2) & MASK
    val v3 = s
    val v4 = (s - P1) & MASK
    val hsmall = (s + P5) & MASK
    val lanes = (0 until 4).map(j => word8(t, s"si*32 + ${8 * j}")).mkString(", ")
    val accStep = (0 until 4)
      .map(i => stripeRound(s"acc[${i + 1}]", s"st[${i + 1}]")).mkString(", ")
    val init = s"[${u(v1)}, ${u(v2)}, ${u(v3)}, ${u(v4)}]"
    val tw = s"list_transform(range(${pfx}ns*32, ${pfx}n - 7, 8), o -> ${word8(t, "o")})"
    val four = add(mul(rotl(xor(s"${pfx}h2",
      mul(word4(t, s"${pfx}wend"), u(P1))), 23), u(P2)), u(P3))
    val bs = s"list_transform(range(${pfx}boff, ${pfx}n), o -> CAST(ascii(substr($t, o + 1, 1)) AS UBIGINT))"
    val byteStep = mul(rotl(xor("acc", mul("b", u(P5))), 11), u(P1))
    Vector(
      s"${pfx}n"    -> s"CAST(strlen($t) AS BIGINT)",
      s"${pfx}ns"   -> s"(${pfx}n // 32)",
      s"${pfx}accs" -> (s"CASE WHEN ${pfx}ns = 0 THEN $init " +
        s"ELSE list_reduce(list_prepend($init, " +
        s"list_transform(range(0, ${pfx}ns), si -> [$lanes])), " +
        s"(acc, st) -> [$accStep]) END"),
      s"${pfx}m0" -> add(add(add(rotl(s"${pfx}accs[1]", 1), rotl(s"${pfx}accs[2]", 7)),
        rotl(s"${pfx}accs[3]", 12)), rotl(s"${pfx}accs[4]", 18)),
      s"${pfx}m1" -> mergeRound(s"${pfx}m0", s"${pfx}accs[1]"),
      s"${pfx}m2" -> mergeRound(s"${pfx}m1", s"${pfx}accs[2]"),
      s"${pfx}m3" -> mergeRound(s"${pfx}m2", s"${pfx}accs[3]"),
      s"${pfx}m4" -> mergeRound(s"${pfx}m3", s"${pfx}accs[4]"),
      s"${pfx}h0" -> s"CASE WHEN ${pfx}ns = 0 THEN ${u(hsmall)} ELSE ${pfx}m4 END",
      s"${pfx}h1" -> add(s"${pfx}h0", s"CAST(${pfx}n AS UBIGINT)"),
      s"${pfx}h2" -> (s"list_reduce(list_prepend(${pfx}h1, $tw), " +
        s"(acc, k) -> ${wordRound("acc", "k")})"),
      s"${pfx}wend" -> s"(${pfx}ns*32 + ((${pfx}n - ${pfx}ns*32) // 8) * 8)",
      s"${pfx}h3"   -> s"CASE WHEN ${pfx}n - ${pfx}wend >= 4 THEN $four ELSE ${pfx}h2 END",
      s"${pfx}boff" -> s"CASE WHEN ${pfx}n - ${pfx}wend >= 4 THEN ${pfx}wend + 4 ELSE ${pfx}wend END",
      s"${pfx}h4"   -> s"list_reduce(list_prepend(${pfx}h3, $bs), (acc, b) -> $byteStep)"
    ) ++ fmixStaged(s"${pfx}h4", pfx)
  }

  /** Stack stages as nested SELECTs over `base` (linear SQL size), keep
    * only `keep` in the outer projection. */
  def stagedSelect(base: String, stages: Vector[(String, String)], keep: Seq[String]): String = {
    var q = s"($base)"
    stages.foreach { case (c, e) => q = s"(SELECT *, $e AS $c FROM $q)" }
    s"SELECT ${keep.mkString(", ")} FROM $q"
  }
}
