package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Chunk

/** Invariants of sliding-window chunking (ops.Chunk) against a
  * driver-side re-chunk of the same text. */
class ChunkSpec extends SparkSpec {

  private val (size, overlap) = (50, 10)

  private lazy val docs = Tables.documents(spark, sf)
    .select("doc_id", "text").orderBy("doc_id")
    .collect().map(r => (r.getLong(0), r.getString(1)))

  private def rechunk(sz: Int, ov: Int): Vector[(Long, Long, Long, String)] = {
    val st = sz - ov
    docs.flatMap { case (id, text) =>
      val n = math.max(1L, (text.length - ov + st - 1L) / st)
      (0L until n).map { i =>
        val s = (i * st).toInt
        (id, i, i * st.toLong, text.substring(s, math.min(s + sz, text.length)))
      }
    }.toVector
  }

  test("matches a sequential driver-side re-chunk exactly") {
    val got = Chunk.sliding(Tables.documents(spark, sf), "doc_id", "text",
        size, overlap)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toVector
    assert(got == rechunk(size, overlap))
  }

  test("re-chunk parity across a (size, overlap) sweep") {
    for ((sz, ov) <- Seq((1, 0), (7, 3), (64, 63), (200, 0), (500, 250))) {
      val got = Chunk.sliding(Tables.documents(spark, sf), "doc_id", "text",
          sz, ov)
        .orderBy("doc_id", "chunk_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toVector
      assert(got == rechunk(sz, ov), s"size=$sz overlap=$ov")
    }
  }

  test("consecutive chunks overlap by exactly `overlap` characters") {
    val got = Chunk.sliding(Tables.documents(spark, sf), "doc_id", "text",
        size, overlap)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getString(3)))
    got.sliding(2).foreach {
      case Array((idA, a), (idB, b)) if idA == idB && a.length == size =>
        assert(a.takeRight(overlap) == b.take(overlap), s"doc $idA")
      case _ =>
    }
  }

  test("chunks reassemble the document (overlap-aware concat)") {
    val byDoc = Chunk.sliding(Tables.documents(spark, sf), "doc_id", "text",
        size, overlap)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getString(3)))
      .groupBy(_._1)
    docs.foreach { case (id, text) =>
      val parts = byDoc(id).map(_._2)
      val rebuilt = parts.head + parts.tail.map(_.drop(overlap)).mkString
      assert(rebuilt == text, s"doc $id")
    }
  }

  test("empty text still yields one (empty) chunk") {
    import spark.implicits._
    val one = Seq((1L, ""), (2L, "ab")).toDF("id", "t")
    val got = Chunk.sliding(one, "id", "t", size = 4, overlap = 1)
      .orderBy("id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getString(3)))
    assert(got.toSeq == Seq((1L, ""), (2L, "ab")))
  }
}
