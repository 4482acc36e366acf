package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rank fusion for hybrid retrieval — combine the rankings of several
  * heterogeneous retrievers (BM25 postings, ANN cosine, scored tally
  * search, …) over one corpus into a single ranking, without ever
  * comparing their incommensurable raw scores.
  *
  * Beyond the reference (littletable's search returns one tally-scored
  * ranking, littletable.py:1865-1942) — this is the composition layer a
  * training-data retrieval stack needs once it has BOTH a lexical and a
  * vector index over the same documents.
  *
  * Scale shape: every input is a retriever's top-N — a frame bounded by
  * N, not by the corpus — so fusion is a union of tiny frames, one
  * id-keyed partial aggregate, and a TakeOrdered. Nothing here scales
  * with corpus bytes; the 100 TB story lives in the retrievers' own
  * serving layouts (word-bucketed postings, bucket/cell-partitioned ANN),
  * which this operator consumes unchanged.
  *
  * Determinism: both methods score from integer RANKS, not raw scores,
  * so the fused doubles are exact functions of small integers and
  * reproduce bit-identically across engines (the oracle contract). Ties
  * break by id. With more than two input lists a fused sum's addend
  * order is aggregation-order-dependent in the last ulp; rank outputs
  * are stable unless two fused scores collide within that ulp.
  */
object Fusion {

  private def checkArgs(rankings: Seq[DataFrame], topK: Int): Unit = {
    require(rankings.nonEmpty, "fusion of zero rankings")
    require(topK > 0, "topK must be positive")
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
    * fused(d) = Σ_lists 1 / (k0 + rank_d), documents absent from a list
    * contributing nothing for it. k0 = 60 is the paper's constant —
    * large enough that tail ranks still matter, small enough that rank 1
    * dominates. Returns `(idCol, n_lists, rrf_rank)` for the fused
    * top-k: `n_lists` = how many input rankings surfaced the document
    * (the agreement signal), `rrf_rank` the fused position. */
  def rrf(rankings: Seq[DataFrame], idCol: String, rankCol: String,
      topK: Int, k0: Int = 60): DataFrame = {
    checkArgs(rankings, topK)
    require(k0 >= 0, "k0 must be non-negative")
    fuse(rankings.map(_.select(col(idCol),
      (lit(1).cast("double") / (lit(k0) + col(rankCol)).cast("double"))
        .as("__fs"))), idCol, topK, "rrf_rank")
  }

  /** [[rrf]] over a WORKLOAD: every input ranking carries `queryCol`,
    * contributions aggregate per (query, id), and the fused rank is a
    * window PARTITIONED BY query — per-query k-row state, never a
    * global sort. The batch-retrieval companion: fuse
    * `Search.searchBm25Batch` with `Similarity.bruteForceTopKBatch`
    * per query in one plan. Returns (queryCol, idCol, n_lists,
    * rrf_rank) with rank ≤ topK, ordered by (query, rank). */
  def rrfByQuery(rankings: Seq[DataFrame], queryCol: String,
      idCol: String, rankCol: String, topK: Int, k0: Int = 60): DataFrame = {
    checkArgs(rankings, topK)
    require(k0 >= 0, "k0 must be non-negative")
    val agg = rankings.map(_.select(col(queryCol), col(idCol),
        (lit(1).cast("double") / (lit(k0) + col(rankCol)).cast("double"))
          .as("__fs")))
      .reduce(_ unionByName _)
      .groupBy(col(queryCol), col(idCol))
      .agg(sum(col("__fs")).as("__fused"), count(lit(1)).as("n_lists"))
    val w = Window.partitionBy(col(queryCol))
      .orderBy(col("__fused").desc, col(idCol).asc)
    agg.withColumn("rrf_rank", row_number().over(w))
      .filter(col("rrf_rank") <= topK)
      .select(col(queryCol), col(idCol), col("n_lists"), col("rrf_rank"))
      .orderBy(col(queryCol), col("rrf_rank"))
  }

  /** Weighted Borda-count fusion: list i of size N_i awards
    * w_i * (N_i + 1 - rank) / N_i — rank 1 earns the full weight, the
    * last rank 1/N_i of it, absence zero. The classic positional voting
    * rule; unlike [[rrf]] it decays linearly (tail ranks keep real
    * weight) and it takes per-retriever weights. List sizes are taken
    * from the frames themselves (keeps the signature honest rather than
    * trusting a caller-passed N), computed IN-PLAN as a window count
    * over each list — a single-partition window whose partition holds
    * exactly the top-N rows, never the corpus — so the whole fusion is
    * ONE job like [[rrf]], instead of an eager checkpoint + count pair
    * of driver actions per input list. The count long and the
    * (N+1−rank)·w/N arithmetic are the same ops on the same values as
    * the former driver-side literals, so fused scores bit-match.
    *
    * Input contract: every ranking must be TOP-N-BOUNDED — a
    * retriever's `.limit(N)` output (or a rank ≤ N filter of it), the
    * shape every retriever in this codebase returns. The list-size
    * count is an unpartitioned window, so its one task reads the whole
    * input frame: over a top-N list that is N rows, over an unbounded
    * frame it would be the corpus through a single task. The plan audit
    * whitelists borda's global windows on exactly this contract. */
  def borda(rankings: Seq[(DataFrame, Double)], idCol: String,
      rankCol: String, topK: Int): DataFrame = {
    checkArgs(rankings.map(_._1), topK)
    rankings.foreach { case (_, w) =>
      require(w > 0, "borda weights must be positive") }
    val wAll = Window.partitionBy()
    fuse(rankings.map { case (r, w) =>
      r.select(col(idCol), col(rankCol),
          count(lit(1)).over(wAll).as("__n"))
        .select(col(idCol),
          ((col("__n") + 1 - col(rankCol)).cast("double") * lit(w)
            / col("__n").cast("double")).as("__fs"))
    }, idCol, topK, "borda_rank")
  }

  /** Shared tail: union the per-list `(id, __fs)` contributions, one
    * id-keyed aggregate (map-side partial over frames this small), then
    * TakeOrdered-k and a k-row window for the output rank — the
    * searchBm25 idiom: the window's single partition holds exactly k
    * rows, never the corpus. */
  private def fuse(scored: Seq[DataFrame], idCol: String, topK: Int,
      rankName: String): DataFrame = {
    val agg = scored.reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(sum(col("__fs")).as("__fused"), count(lit(1)).as("n_lists"))
    val top = agg.orderBy(col("__fused").desc, col(idCol).asc).limit(topK)
    val w = Window.orderBy(col("__fused").desc, col(idCol).asc)
    top.withColumn(rankName, row_number().over(w))
      .select(col(idCol), col("n_lists"), col(rankName))
      .orderBy(col(rankName))
  }
}
