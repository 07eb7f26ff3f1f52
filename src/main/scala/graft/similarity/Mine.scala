package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-corpus margin-ratio mining (SURVEY §2.G45) — the bitext-mining /
  * hard-pair-mining recipe of Artetxe & Schwenk 2019 ("Margin-based Parallel
  * Corpus Mining with Multilingual Sentence Embeddings"): a pair (x ∈ A,
  * y ∈ B) is mined when its cosine stands OUT of both rows' neighborhoods,
  *
  *   margin(x, y) = cos(x, y) / ((avgₖNN(x→B) + avgₖNN(y→A)) / 2),
  *
  * not merely when the absolute cosine is high — the ratio normalizes away
  * "hub" vectors that are near everything. The same primitive mines aligned
  * text pairs across languages, near-duplicate pairs across two crawl
  * snapshots, and hard positives for contrastive training.
  *
  * Spark-first shape (NOT a pairwise driver loop):
  *
  *  1. forward and backward top-k neighbor lists come from
  *     [[Ann.bruteForceTopK]] — one broadcast cross join per direction, the
  *     corpus never shuffles; at 100 TB swap in [[Ann.ivfTopK]]
  *     ([[marginMineIvf]]) so each direction routes through coarse cells
  *     and scores ~nprobe/nlist of the corpus instead of all of it;
  *  2. the per-row neighborhood mean is a k-sized aggregate (collect the
  *     ≤ k cosines, fold in RANK order) — O(n·k) rows through one shuffle;
  *  3. margins are a projection over the forward pairs joined to the two
  *     mean tables (both keyed by the id that partitioned step 2 — AQE
  *     broadcasts them when small); best-pair selection is a per-src
  *     window over ≤ k candidates.
  *
  * Oracle-parity notes (SURVEY §6 conventions): the neighborhood mean folds
  * cosines in rank order — a deterministic left-to-right double sum the SQL
  * oracle replays by adding the rank-pivoted cosines in the same order; the
  * margin is the single expression `cos / ((avg_f + avg_b) / 2)` in both
  * engines; output surfaces `floor(margin · 10⁶)` as a BIGINT (the two
  * engines compute bit-identical doubles, so the floor is exact).
  */
object Mine {

  /** Rank-ordered neighborhood mean: Σ cosine (folded in rank order) ÷
    * count. `collect_list` order is nondeterministic; sorting the (rank,
    * cosine) structs first makes the double fold deterministic and
    * engine-replayable.
    */
  private def rankMean(topk: DataFrame, outId: String, outAvg: String): DataFrame =
    topk.groupBy(col("query_id").as(outId))
      .agg(
        aggregate(
          transform(array_sort(collect_list(struct(col("rank"), col("cosine")))),
            x => x.getField("cosine")),
          lit(0.0), (acc, x) => acc + x).as("__s"),
        count(lit(1)).as("__n"))
      .select(col(outId), (col("__s") / col("__n").cast("double")).as(outAvg))

  /** One direction of margin scoring: for each `top-k` pair, margin =
    * cos / ((avg of the query side + avg of the neighbor side) / 2), with
    * non-positive denominators dropped (a neighborhood of net-negative
    * cosines has no meaningful ratio), then the rank-1 pair per query by
    * (margin desc, neighbor asc).
    */
  private def bestByMargin(topk: DataFrame, qAvg: DataFrame, nAvg: DataFrame,
                           tau: Double): DataFrame = {
    val denom = (col("__qa") + col("__na")) / lit(2.0)
    val w = Window.partitionBy("query_id")
      .orderBy(col("__m").desc, col("neighbor_id").asc)
    topk
      .join(qAvg.withColumnRenamed("avg", "__qa"), Seq("query_id"))
      .join(nAvg.withColumnRenamed("avg", "__na")
        .withColumnRenamed("id", "neighbor_id"), Seq("neighbor_id"))
      .filter(denom > 0.0)
      .withColumn("__m", col("cosine") / denom)
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1 && col("__m") >= tau)
      .select(col("query_id"), col("neighbor_id"), col("__m").as("margin"))
  }

  private def finish(best: DataFrame): DataFrame =
    best.select(col("query_id").as("src_id"), col("neighbor_id").as("tgt_id"),
      floor(col("margin") * lit(1e6)).cast("long").as("margin_ppm"))

  /** Mine margin pairs from precomputed directional top-k lists (both in
    * [[Ann.bruteForceTopK]]'s output shape). `mutual = true` keeps only
    * pairs that are the margin-best in BOTH directions — the
    * high-precision setting of the original recipe; `false` keeps every
    * src's forward-best pair above `tau`.
    */
  def marginFromTopK(fwd: DataFrame, bwd: DataFrame, tau: Double,
                     mutual: Boolean): DataFrame = {
    val avgF = rankMean(fwd, "query_id", "avg")
    val avgB = rankMean(bwd, "query_id", "avg")
    val fBest = bestByMargin(fwd, avgF, avgB.withColumnRenamed("query_id", "id"), tau)
    if (!mutual) finish(fBest)
    else {
      val bBest = bestByMargin(bwd, avgB, avgF.withColumnRenamed("query_id", "id"), tau)
        .select(col("neighbor_id").as("query_id"), col("query_id").as("neighbor_id"))
      finish(fBest.join(bBest, Seq("query_id", "neighbor_id"), "left_semi"))
    }
  }

  /** Exact margin mining: brute-force neighbor lists in both directions.
    * `src` and `tgt` must not share ids (same-id cross pairs are excluded
    * by the underlying top-k). Output: (src_id, tgt_id, margin_ppm), one
    * row per src whose best margin reaches `tau`.
    */
  def marginMine(src: DataFrame, tgt: DataFrame, idCol: String, vecCol: String,
                 k: Int, tau: Double, mutual: Boolean = false): DataFrame =
    marginFromTopK(
      Ann.bruteForceTopK(src, tgt, idCol, vecCol, k),
      Ann.bruteForceTopK(tgt, src, idCol, vecCol, k),
      tau, mutual)

  /** The 100 TB candidate-generation path: IVF-routed neighbor lists
    * (coarse cells + routed equi-join, see [[Ann.ivfTopK]]) feed the same
    * margin pipeline. With `nprobe == nlist` the routing is exhaustive and
    * the result is exactly [[marginMine]]'s (shared oracle); at
    * `nprobe < nlist` recall trades against a ~nprobe/nlist scan fraction.
    * Reads both inputs twice (each side's centroid collect, then the
    * returned plan): persist computed inputs first. ConfigPipeline's
    * `margin_mine` stage materializes them once.
    */
  def marginMineIvf(src: DataFrame, tgt: DataFrame, idCol: String, vecCol: String,
                    k: Int, tau: Double, nlist: Int, nprobe: Int,
                    mutual: Boolean = false): DataFrame =
    marginFromTopK(
      Ann.ivfTopK(src, tgt, idCol, vecCol, k, nlist, nprobe),
      Ann.ivfTopK(tgt, src, idCol, vecCol, k, nlist, nprobe),
      tau, mutual)
}
