package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.algo.Superstep

/** TextRank extractive summarization (Mihalcea & Tarau, EMNLP 2004) —
  * weighted PageRank over each document's sentence-similarity graph,
  * selecting the top-k central sentences: the corpus-distillation op
  * that trims every document to its load-bearing content before
  * token-budgeted training.
  *
  * The Spark shape is the whole point: ALL documents' graphs iterate
  * SIMULTANEOUSLY in one superstep dataflow — state keyed
  * (doc_id, sid), edges keyed (doc_id, src, dst) — so the per-round
  * cost is one edges⨝state shuffle-hash join + one map-side-combinable
  * (doc_id, dst) partial sum + two skinny per-doc aggregates
  * (teleport n_d and dangling mass are PER DOCUMENT), identical to a
  * single PageRank superstep regardless of how many millions of
  * documents ride it. No per-document driver loop exists anywhere.
  *
  * Determinism: sentences are fixed-width token windows (the corpus
  * has no punctuation; a real pipeline swaps in a sentence splitter),
  * similarity = |shared distinct tokens| (exact integers), ranks run
  * a FIXED number of iterations in doubles whose 6dp rounding seals
  * the engine-order fp drift (the PageRank-twin discipline), and the
  * top-k pick orders by (rounded rank desc, sid asc).
  */
object TextRank {

  /** Fixed-width pseudo-sentences: (doc_id, sid, tok) with distinct
    * tokens per sentence.
    */
  def sentences(docs: DataFrame, width: Int = 8,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "tok")))
      .select(col("doc_id"), (col("pos") / width).cast("long").as("sid"),
        col("tok"))
      .distinct()

  /** Within-doc sentence-pair similarity edges, BOTH directions:
    * (doc_id, src, dst, w) with w = |shared distinct tokens| ≥ 1.
    */
  def simEdges(sent: DataFrame): DataFrame = {
    val a = sent.select(col("doc_id"), col("sid").as("src"), col("tok"))
    val b = sent.select(col("doc_id"), col("sid").as("dst"), col("tok"))
    a.join(b, Seq("doc_id", "tok"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("doc_id"), col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** @param ranks (doc_id, sid, rank) — rank rounded to 6dp
    * @param summary (doc_id, sid, pos) — the top-k sentences per doc,
    *   pos = 1..k by (rank desc, sid)
    */
  final case class Result(ranks: DataFrame, summary: DataFrame)

  def run(docs: DataFrame, iters: Int = 5, topK: Int = 3,
          width: Int = 8, numPartitions: Int = 32,
          idCol: String = "doc_id",
          textCol: String = "text"): Result = Superstep.scope(docs.sparkSession) {
    val sent = sentences(docs, width, idCol, textCol)
    val edges = simEdges(sent)
      .repartition(numPartitions, col("doc_id"), col("src"))
      .localCheckpoint(true)

    // vertex set = every sentence (isolated ones still rank: they get
    // teleport + their doc's dangling share). Fresh ids: `edges` keeps
    // `sent`'s, and with AQE off the join below cannot re-instance the
    // checkpoint to tell the two `doc_id`s apart (INTERNAL_ERROR)
    val verts = sent.select(col("doc_id").as("doc_id"), col("sid").as("sid")).distinct()
    val outw = edges.groupBy(col("doc_id"), col("src").as("sid"))
      .agg(sum(col("w")).as("outw"))
    val base = verts.join(outw, Seq("doc_id", "sid"), "left")
      .select(col("doc_id"), col("sid"),
        coalesce(col("outw"), lit(0L)).as("outw"))
      .repartition(numPartitions, col("doc_id"), col("sid"))
      .localCheckpoint(true)
    val nDoc = base.groupBy(col("doc_id")).agg(count(lit(1)).as("n_d"))

    // a fixed number of rounds, none measured: each state is a lazy
    // checkpoint, and the skeleton counts the last one
    val (state, _, _) = Superstep.iterate(docs.sparkSession,
      base.join(nDoc, Seq("doc_id"))
        .select(col("doc_id"), col("sid"), col("outw"), col("n_d"),
          (lit(1.0) / col("n_d")).as("rank"))
        .localCheckpoint(true), iters) { state =>
      val contrib = edges
        .join(state.select(col("doc_id"), col("sid").as("src"),
          col("outw"), col("rank")).hint("shuffle_hash"),
          Seq("doc_id", "src"))
        .groupBy(col("doc_id"), col("dst").as("sid"))
        .agg(sum(col("w") * col("rank") / col("outw")).as("contrib"))
      val dang = state.groupBy(col("doc_id"))
        .agg(sum(when(col("outw") === 0L, col("rank"))
          .otherwise(lit(0.0))).as("dang"))
      Superstep.Step(state
        .join(contrib.hint("shuffle_hash"), Seq("doc_id", "sid"), "left")
        .join(dang.hint("shuffle_hash"), Seq("doc_id"))
        .select(col("doc_id"), col("sid"), col("outw"), col("n_d"),
          ((lit(1.0) - lit(0.85)) / col("n_d") + lit(0.85) *
            (coalesce(col("contrib"), lit(0.0)) + col("dang") / col("n_d")))
            .as("rank"))
        .localCheckpoint(false))
    }

    val ranks = state.select(col("doc_id"), col("sid"),
      round(col("rank"), 6).as("rank"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("rank"), asc("sid"))
    val summary = ranks
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= topK)
      .select(col("doc_id"), col("sid"), col("pos"))
    Result(ranks, summary)
  }
}
