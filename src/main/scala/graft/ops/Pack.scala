package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequence packing for LLM pretraining batches: lay documents
  * head-to-tail in a deterministic order and cut the concatenated token
  * stream every `budget` tokens ("concat-then-chunk" — the standard
  * packing used to build fixed-length training sequences without
  * padding waste). A document may span sequence boundaries; the output
  * describes every (document, sequence) slice so a downstream tokenizer
  * shard can materialize each sequence independently.
  *
  * Scale design: the only global state is the running token offset,
  * computed with the same order-bucket machinery the lowered window
  * family uses ([[graft.plans.Lower.runningOverOrder]]): a plan-time
  * key sample fixes the bucket of every row, one shuffle by bucket
  * carries the rows, and a tiny prefix-combine window over the
  * partial-agged per-bucket totals supplies each bucket's offset — no
  * single-task OrderBarrier, no driver collect of rows. The explode is
  * a narrow per-row fan-out of (tokens/budget + 1) rows max.
  */
object Pack {

  /** One row per (document, sequence) slice.
    *
    * Output: `idCol`, `seq_id` (0-based sequence number), `doc_start`
    * (the document's global token offset), `slice_start`/`slice_len`
    * (the token range OF THIS DOCUMENT that lands in `seq_id`), and
    * `seq_off` (where that range begins inside the sequence).
    * Invariants: every sequence except the last holds exactly `budget`
    * tokens; slices of a sequence tile [0, budget) without gaps.
    *
    * `orderCol` must be unique per row (it defines the concatenation
    * order — ties would make the packing nondeterministic). Zero-token
    * documents are dropped (they occupy no stream positions). */
  def contiguous(df: DataFrame, idCol: String, tokCol: String,
                 orderCol: String, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val cum = graft.plans.Lower.runningOverOrder(
      df.filter(col(tokCol) > 0), Seq(col(orderCol)),
      col(tokCol).cast("long"), sum,
      (pre, w) => coalesce(pre, lit(0L)) + w, "__cum")
    // integer `div` keeps the arithmetic exact for stream offsets past
    // 2^53 (a 100 TB corpus is ~1e13 tokens; doubles would still be
    // exact there, but div costs nothing and never rounds)
    val start = col("__cum") - col(tokCol)
    val firstSeq = expr(s"(__cum - ${tokCol}) div $budget")
    val lastSeq = expr(s"(__cum - 1) div $budget")
    val b = lit(budget)
    val sliceAbs = greatest(col("seq_id") * b, start) // global slice start
    cum.withColumn("seq_id", explode(sequence(firstSeq, lastSeq)))
      .select(
        col(idCol), col("seq_id"),
        start.as("doc_start"),
        (sliceAbs - start).as("slice_start"),
        (least((col("seq_id") + 1) * b, col("__cum")) - sliceAbs).as("slice_len"),
        (sliceAbs - col("seq_id") * b).as("seq_off"))
  }

  /** Materialized sequences: the [[contiguous]] plan joined back to the
    * per-document token arrays (`toksCol`: `array<...>`), each slice
    * cut out of its document and the slices of a sequence assembled in
    * stream order. One row per sequence: `seq_id`, `n_docs`,
    * `n_tokens`, `tokens` (the packed array — every sequence but the
    * last holds exactly `budget` elements).
    *
    * Scale: the slice plan costs [[contiguous]]; the join-back is one
    * hash join on the doc id (arrays cross the shuffle once, not
    * through the prefix machinery); the per-sequence collect is bounded
    * by `budget` elements — group state never exceeds one sequence. */
  def sequences(df: DataFrame, idCol: String, toksCol: String,
                orderCol: String, budget: Long): DataFrame = {
    // only (id, order, count) ride the prefix machinery's shuffle;
    // the arrays join back afterwards
    val slim = df.withColumn("__n_tok", size(col(toksCol)).cast("long"))
      .select(Seq(idCol, orderCol).distinct.map(col) :+ col("__n_tok"): _*)
    val slices = contiguous(slim, idCol, "__n_tok", orderCol, budget)
    slices.join(df.select(col(idCol), col(toksCol)), Seq(idCol))
      .withColumn("__part", slice(col(toksCol),
        (col("slice_start") + 1).cast("int"), col("slice_len").cast("int")))
      .groupBy("seq_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("slice_len").as("n_tokens"),
        flatten(transform(
          sort_array(collect_list(struct(col("seq_off"), col("__part")))),
          s => s.getField("__part"))).as("tokens"))
  }
}
