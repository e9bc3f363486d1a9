package graft

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

/** Randomized STATEFUL streaming-vs-batch differential (round 11):
  * StreamFuzzSpec covers the stateless rungs; this spec generates
  * event streams with OUT-OF-ORDER event times (bounded by the
  * watermark), replays them through ≥3 genuine micro-batches, and
  * asserts the stateful operators equal their deterministic batch
  * twins:
  *
  *  - sessionize            == gaps-and-islands over (user, ts asc)
  *  - runningTopK           == per-chunk-prefix TopK.mergeK folds
  *  - intervalJoin          == the nested-loop range join
  *  - nearDupFlags          == ordered keep-first bucket-claim replay
  *  - runningFrequent       == the Misra-Gries guarantee (presence of
  *                             every > n/(m+1) value + sound bounds —
  *                             MG summaries are partition-order
  *                             dependent, so set equality is not the
  *                             contract; the GUARANTEE is)
  *
  * Values are integer-valued doubles so sums are exact; disorder stays
  * strictly inside the watermark so streaming drops nothing the batch
  * twin keeps. Outputs are captured per micro-batch via foreachBatch
  * so emission-per-batch contracts (running state echoes) are checked
  * exactly, not just as a final union.
  */
class StateFuzzSpec extends SparkSpec {

  import StreamOps.Ev // (event_id, tsMicros, user_id, event_type, value)

  private case class GenEv(
      event_id: Long, tsMs: Long, user_id: Long,
      event_type: String, value: Double)

  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val T0 = 1700000000000L // fixed epoch base (UTC)

  /** Events in roughly increasing time with bounded disorder. */
  private def gen(rng: scala.util.Random, n: Int, nUsers: Int,
      stepMs: Long, disorderMs: Long): Vector[GenEv] =
    (0 until n).map { i =>
      GenEv(
        event_id = i.toLong,
        tsMs = T0 + i * stepMs +
          (rng.nextLong(2 * disorderMs + 1) - disorderMs),
        user_id = rng.nextInt(nUsers).toLong,
        event_type = if (rng.nextBoolean()) "click" else "purchase",
        value = rng.nextInt(20).toDouble)
    }.toVector

  private def chunksOf(evs: Vector[GenEv], k: Int): Seq[Vector[GenEv]] =
    evs.grouped((evs.size + k - 1) / k).toSeq

  private var q = 0

  /** Drive `build` over a MemoryStream of events fed as one micro-batch
    * per chunk; collect each batch's rows via foreachBatch. */
  private def runChunks(
      chunks: Seq[Vector[GenEv]])(
      build: DataFrame => DataFrame): Vector[(Long, Vector[org.apache.spark.sql.Row])] = {
    import spark.implicits._
    val ms = MemoryStream[GenEv]
    val src = ms.toDF()
      .select(col("event_id"), timestamp_millis(col("tsMs")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val out = build(src)
    assert(out.isStreaming)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Vector[org.apache.spark.sql.Row])]
    q += 1
    val query = out.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"target/statefuzz-ckpt-$q")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        got.synchronized { got += ((id, df.collect().toVector)) }
        ()
      }
      .start()
    try chunks.foreach { c => ms.addData(c); query.processAllAvailable() }
    finally query.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"target/statefuzz-ckpt-$q"))
    got.toVector
  }

  // ───────────────────────────── sessionize ─────────────────────────────

  private def sessionTwin(evs: Vector[GenEv], gapMs: Long)
      : Set[(Long, Long, Long, Double)] =
    evs.groupBy(_.user_id).iterator.flatMap { case (uid, us) =>
      val sorted = us.sortBy(e => (e.tsMs, e.event_id))
      val sessions = sorted.tail.foldLeft(Vector(Vector(sorted.head))) {
        (acc, e) =>
          if (e.tsMs - acc.last.last.tsMs < gapMs) acc.init :+ (acc.last :+ e)
          else acc :+ Vector(e)
      }
      sessions.map(s =>
        (s.map(_.tsMs).min, uid, s.size.toLong, s.map(_.value).sum))
    }.toSet

  test("sessionize == gaps-and-islands batch twin over out-of-order streams") {
    Seq(20260821L, 20260822L).foreach { seed =>
      val rng = new scala.util.Random(fuzzSeed(seed))
      (0 until 7).foreach { _ =>
        val evs = gen(rng, n = 120 + rng.nextInt(120), nUsers = 1 + rng.nextInt(5),
          stepMs = 60000L + rng.nextInt(120000), disorderMs = 120000L)
        val gapMin = 3 + rng.nextInt(8)
        // a sentinel far-future event advances the watermark so the TAIL
        // sessions flush (append mode emits a session only once the
        // watermark passes its close); the sentinel user is excluded
        val flush = Vector(GenEv(-1L,
          evs.map(_.tsMs).max + (gapMin + 60) * 60000L, -1L, "click", 0.0))
        val batches = runChunks(chunksOf(evs, 3 + rng.nextInt(2)) :+ flush)(
          StreamOps.sessionize(_, gap = s"$gapMin minutes", watermark = "10 minutes"))
        val got = batches.flatMap(_._2).map(r =>
          (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2), r.getDouble(3)))
          .filter(_._2 >= 0L).toSet
        val want = sessionTwin(evs, gapMin * 60000L)
        assert(got == want,
          s"seed=$seed gap=$gapMin only-stream=${got -- want} only-batch=${want -- got}")
      }
    }
  }

  // ───────────────────────────── runningTopK ─────────────────────────────

  test("runningTopK emissions == per-chunk-prefix mergeK folds") {
    Seq(20260823L, 20260824L).foreach { seed =>
      val rng = new scala.util.Random(fuzzSeed(seed))
      (0 until 7).foreach { _ =>
        val k = 1 + rng.nextInt(4)
        val evs = gen(rng, n = 80 + rng.nextInt(100), nUsers = 1 + rng.nextInt(4),
          stepMs = 30000L, disorderMs = 300000L)
        val chunks = chunksOf(evs, 3)
        val batches = runChunks(chunks)(df =>
          StreamOps.runningTopK(spark, df, k).toDF())
        // expected: for chunk i, each user PRESENT in it emits the fold
        // over chunks 0..i (top-k of a totally ordered multiset is
        // insertion-order independent)
        var seen = Map.empty[Long, List[(Double, Long)]]
        val want = scala.collection.mutable.ArrayBuffer.empty[(Long, List[(Double, Long)])]
        chunks.foreach { c =>
          val byUser = c.groupBy(_.user_id)
          byUser.foreach { case (uid, us) =>
            val next = us.foldLeft(seen.getOrElse(uid, Nil))((acc, e) =>
              graft.ops.TopK.mergeK(k, acc, List((e.value, e.event_id))))
            seen += uid -> next
            want += ((uid, next))
          }
        }
        val got = batches.flatMap(_._2).map { r =>
          (r.getLong(0),
            r.getSeq[org.apache.spark.sql.Row](1).toList
              .map(p => (p.getDouble(0), p.getLong(1))))
        }
        assert(got.sortBy(x => (x._1, x._2.mkString)) ==
          want.toVector.sortBy(x => (x._1, x._2.mkString)), s"seed=$seed k=$k")
      }
    }
  }

  // ───────────────────────────── intervalJoin ─────────────────────────────

  test("intervalJoin == nested-loop batch twin with bounded disorder") {
    Seq(20260825L, 20260826L).foreach { seed =>
      val rng = new scala.util.Random(fuzzSeed(seed))
      (0 until 4).foreach { _ =>
        val evs = gen(rng, n = 120, nUsers = 1 + rng.nextInt(4),
          stepMs = 60000L, disorderMs = 120000L)
        val within = 300L + rng.nextInt(1200)
        val got = {
          import spark.implicits._
          val ms = MemoryStream[GenEv]
          val src = ms.toDF()
            .select(col("event_id"), timestamp_millis(col("tsMs")).as("ts"),
              col("user_id"), col("event_type"), col("value"))
          val clicks = src.where(col("event_type") === "click")
            .select("user_id", "ts", "event_id")
          val purchases = src.where(col("event_type") === "purchase")
            .select("user_id", "ts", "event_id")
          val joined = StreamOps.intervalJoin(
            clicks, purchases, "user_id", withinSeconds = within,
            watermark = "10 minutes")
          q += 1
          val name = s"sjz_$q"
          val query = joined
            .select(col("l_event_id"), col("event_id"))
            .writeStream.format("memory").queryName(name).start()
          try chunksOf(evs, 3).foreach { c => ms.addData(c); query.processAllAvailable() }
          finally query.stop()
          val rows = spark.table(name).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          spark.sql(s"DROP TABLE IF EXISTS $name")
          rows
        }
        val clicks = evs.filter(_.event_type == "click")
        val purch = evs.filter(_.event_type == "purchase")
        val want = (for {
          c <- clicks
          p <- purch
          if c.user_id == p.user_id
          if c.tsMs <= p.tsMs && c.tsMs >= p.tsMs - within * 1000L
        } yield (c.event_id, p.event_id)).toSet
        assert(got == want,
          s"seed=$seed within=$within only-stream=${got -- want} only-batch=${want -- got}")
      }
    }
  }

  // ───────────────────────────── nearDupFlags ─────────────────────────────

  test("nearDupFlags == ordered keep-first bucket-claim replay") {
    import spark.implicits._
    val words = Vector("alpha", "bravo", "carol", "delta", "echo", "fox",
      "golf", "hotel", "india", "jolt", "kilo", "lima")
    Seq(20260827L, 20260828L).foreach { seed =>
      val rng = new scala.util.Random(fuzzSeed(seed))
      (0 until 4).foreach { _ =>
        // near-dup-prone corpus: few base templates, light mutations
        val bases = Vector.fill(3 + rng.nextInt(3))(
          Vector.fill(8 + rng.nextInt(6))(words(rng.nextInt(words.length))))
        val docs = (0 until 40 + rng.nextInt(30)).map { i =>
          val b = bases(rng.nextInt(bases.length))
          val mut = b.map(w =>
            if (rng.nextInt(10) == 0) words(rng.nextInt(words.length)) else w)
          (i.toLong, mut.mkString(" "), T0 + i * 60000L + rng.nextLong(50000L))
        }.toVector
        val chunks = docs.grouped((docs.size + 2) / 3).toSeq

        val ms = MemoryStream[(Long, String, Long)]
        val src = ms.toDF().select(col("_1").as("doc_id"), col("_2").as("text"),
          timestamp_millis(col("_3")).as("ts"))
        val flags = StreamOps.nearDupFlags(spark, src,
          watermark = "10 minutes", stateTtlMs = 365L * 24 * 3600 * 1000)
        q += 1
        val name = s"ndz_$q"
        val query = flags.toDF().writeStream.format("memory").queryName(name).start()
        try chunks.foreach { c => ms.addData(c); query.processAllAvailable() }
        finally query.stop()
        val got = spark.table(name).collect()
          .map(r => (r.getLong(0), r.getInt(2), r.getBoolean(3))).toSet
        spark.sql(s"DROP TABLE IF EXISTS $name")

        // deterministic replay: batch bandedDocs gives each doc's band
        // buckets; claims process per chunk in (ts, doc_id) order
        val banded = StreamOps.bandedDocs(
          docs.toDF("doc_id", "text", "tsMs")
            .withColumn("ts", timestamp_millis(col("tsMs"))),
          "doc_id", "text", "ts")
          .select("doc_id", "band", "bucket").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
          .groupBy(_._1)
        val tsOf = docs.map(d => d._1 -> d._3).toMap
        var claims = Map.empty[(Int, Long), Long]
        val want = scala.collection.mutable.Set.empty[(Long, Int, Boolean)]
        chunks.foreach { c =>
          // arrival order within a micro-batch: (ts, doc_id) per bucket
          val rows = c.flatMap(d => banded(d._1).map { case (id, b, bk) =>
            (tsOf(id), id, b, bk)
          }).sortBy(r => (r._1, r._2))
          rows.foreach { case (_, id, b, bk) =>
            val dup = claims.get((b, bk)).exists(_ != id)
            if (!claims.contains((b, bk))) claims += (b, bk) -> id
            want += ((id, b, dup))
          }
        }
        assert(got == want.toSet,
          s"seed=$seed only-stream=${got -- want} only-batch=${want.toSet -- got}")
      }
    }
  }

  // ───────────────────────────── runningFrequent ─────────────────────────────

  test("runningFrequent upholds the Misra-Gries guarantee per micro-batch prefix") {
    Seq(20260829L, 20260830L).foreach { seed =>
      val rng = new scala.util.Random(fuzzSeed(seed))
      (0 until 4).foreach { _ =>
        val m = 3 + rng.nextInt(5)
        // skewed value stream: a few heavy hitters + noise
        val evs = gen(rng, n = 200, nUsers = 3, stepMs = 1000L, disorderMs = 0L)
          .map(e => e.copy(event_type =
            if (rng.nextInt(3) > 0) s"hot${rng.nextInt(2)}" else s"cold${rng.nextInt(30)}"))
        val chunks = chunksOf(evs, 3)
        val batches = runChunks(chunks)(df =>
          StreamOps.runningFrequent(spark, df, "event_type", m).toDF())
        // after each batch: every value above prefixN/(m+1) is present,
        // and each reported lower bound is sound (lb <= true count,
        // true - lb <= prefixN/(m+1))
        var prefix = Vector.empty[GenEv]
        batches.sortBy(_._1).zip(chunks).foreach { case ((_, rows), c) =>
          prefix ++= c
          val truth = prefix.groupBy(_.event_type).view.mapValues(_.size.toLong).toMap
          val n = prefix.size.toLong
          val gotMap = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
          truth.foreach { case (v, cnt) =>
            if (cnt > n / (m + 1))
              assert(gotMap.contains(v), s"seed=$seed m=$m: $v ($cnt of $n) missing")
          }
          gotMap.foreach { case (v, lb) =>
            val t = truth.getOrElse(v, 0L)
            assert(lb <= t && t - lb <= n / (m + 1),
              s"seed=$seed m=$m: $v lb=$lb true=$t n=$n")
          }
        }
      }
    }
  }
}
