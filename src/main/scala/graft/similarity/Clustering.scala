package graft.similarity

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Vectors
import graft.Checkpoints.PinSyntax

/** Distributed k-means over an embedding column — the clustering step of a
  * training-data curation pipeline (topic balancing, cluster-based dedup,
  * and semdedup-style pruning all start from a k-means assignment) — plus
  * [[semDedup]], the SemDeDup pruning recipe built on top of it.
  *
  * Design for determinism AND scale (reference has no clustering operator;
  * this is a first-class extension per the build brief):
  *
  *  - Components quantize to INTEGRAL doubles (`floor(x · scale)`): sums of
  *    integral doubles are exact while |Σ| < 2^53, so centroid means are
  *    partition-order-independent and bit-identical in any engine
  *    (|component| ≤ 1 at scale=2^20 supports corpora to ~8·10^9 rows).
  *  - Seeding = the `k` rows with the smallest `md5(id)` (the same
  *    deterministic device as [[Ann.ivfTopK]]) — no RNG, engine-portable.
  *  - Each Lloyd round: assignment is a pure PROJECTION against broadcast
  *    centroid literals (argmin via `array_min` over (dist², cid) structs —
  *    distances fold left-to-right, matching DuckDB's `list_dot_product`
  *    evaluation order exactly); the update is ONE shuffle of
  *    (cluster, position) partial sums — map-side combined, k·dim rows to
  *    the driver, never the corpus. The corpus itself never shuffles.
  *
  * `rounds` = number of assignment passes; centroids update between passes
  * (rounds=2 ⇒ seed → assign → update → assign). Clusters that lose all
  * members drop out of later rounds. The driver holds k·dim doubles —
  * model-config-sized, like [[Ann.ivfTopK]]'s centroid set.
  */
object Clustering {

  /** Shared with [[Pq]]: the determinism contract (floor-quantize, then
    * left-to-right fold of squared diffs ≡ DuckDB list_dot_product) must
    * live in ONE place — two copies drifting apart would silently break
    * oracle parity for whichever operator kept the stale one.
    *
    * Both are native codegen expressions (`graftglue.QuantizeVec` /
    * `graftglue.SqDistLit`), bit-identical to the HOF forms they replaced
    * (`transform(floor·scale)` / `aggregate(zip_with(-), acc+d²)`): the HOF
    * lambdas were CodegenFallback, and one of them in the assignment
    * projection kept every corpus × k distance evaluation interpreted.
    */
  private[similarity] def quantize(vec: org.apache.spark.sql.Column, scale: Double) = {
    import org.apache.spark.sql.graftglue.{ColumnBridge, QuantizeVec}
    ColumnBridge.column(QuantizeVec(ColumnBridge.expression(vec), scale))
  }

  /** Squared L2 between a quantized vector column and a centroid literal,
    * folded left-to-right (see [[quantize]] note).
    */
  private[similarity] def dist2(v: org.apache.spark.sql.Column,
                                cv: Array[Double]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftglue.{ColumnBridge, SqDistLit}
    ColumnBridge.column(SqDistLit(ColumnBridge.expression(v), cv))
  }

  /** Append `cluster` and `dist2` (squared L2 in quantized units) to `df`
    * by nearest-centroid assignment — a zero-shuffle codegen projection
    * whose PLAN is constant size in the centroid count: the (cid, center)
    * set rides as ONE reference object inside the native
    * [[org.apache.spark.sql.graftglue.NearestCenter]] expression (the
    * ProbeCells/MinDistToSet recipe — plans/SCALE.md r8.5/r9.1/r9.2).
    * The r8 formulation (`array_min` over one `struct(SqDistLit, cid)`
    * per centroid) embedded every centroid as a dim-length literal with a
    * full distance expansion — plan size, analysis, and Janino time
    * O(k·dim) per assignment site, and PQ training pays this m×rounds
    * times ([[Pq.trainCodebooks]]): a production regime (SemDeDup k in
    * the hundreds, PQ k = 256) was a plan-size wall. Values bit-identical
    * (same SqDistLit fold, min-cid tie-break via cid-ascending iteration)
    * except on length-MISMATCHED centroids, where the struct form let the
    * corrupt centroid WIN with a null dist2 (null sorts first in struct
    * order) — NearestCenter skips it, the sane divergence stated in its
    * scaladoc.
    */
  def withCluster(df: DataFrame, vecCol: String,
                  cents: Seq[(Int, Array[Double])],
                  scale: Double = 1048576.0): DataFrame = {
    import org.apache.spark.sql.graftglue.{ColumnBridge, NearestCenter}
    require(cents.nonEmpty, "centroid set must be non-empty")
    val sorted = cents.sortBy(_._1) // cid-ascending ⇒ min-cid tie-break
    val qv = quantize(col(vecCol), scale)
    df.withColumn("__best", ColumnBridge.column(NearestCenter(
        ColumnBridge.expression(qv),
        sorted.map(_._1).toArray, sorted.map(_._2).toArray)))
      .withColumn("cluster", col("__best.cid"))
      .withColumn("dist2", col("__best.dist2"))
      .drop("__best")
  }

  /** Lloyd-iterated centroids: md5-order seeding, `rounds - 1` update
    * steps. Each update is one shuffle of (cluster, position) partial sums;
    * only k·dim (sum, count) rows ever reach the driver.
    */
  def lloydCentroids(df: DataFrame, idCol: String, vecCol: String,
                     k: Int, rounds: Int = 2,
                     scale: Double = 1048576.0): Seq[(Int, Array[Double])] = {
    require(k > 0, s"k must be positive, got $k")
    require(rounds > 0, s"rounds must be positive, got $rounds")
    val q = df.select(col(idCol).as("id"), quantize(col(vecCol), scale).as("qv"))
    val seeds: Seq[(Int, Array[Double])] = q
      .withColumn("__h", md5(col("id").cast(StringType)))
      .orderBy(col("__h"), col("id"))
      .limit(k)
      .select(col("qv")).collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0).toArray) }.toSeq
    lloydRounds(q, seeds, rounds)
  }

  /** The Lloyd update loop over an already-quantized (id, qv) frame and an
    * explicit seed set — the shared engine behind [[lloydCentroids]]'s
    * md5-order seeding (the oracled q_kmeans/q_semdedup recipe, which must
    * stay bit-identical) and [[Ann.trainedCentroids]]'s farthest-point
    * seeding (the coarse-quantizer training path, where md5-order seeds
    * can land two in one cluster and Lloyd can never escape it). Each of
    * the `rounds - 1` updates is one (cluster, position) partial-sum
    * shuffle; only k·dim (sum, count) rows reach the driver.
    */
  private[similarity] def lloydRounds(q: DataFrame,
      seeds: Seq[(Int, Array[Double])], rounds: Int): Seq[(Int, Array[Double])] = {
    var cents = seeds
    for (_ <- 1 until rounds) {
      val sums = withCluster(q, "qv", cents, scale = 1.0)
        .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy("cluster", "pos")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()
      cents = sums.groupBy(_.getInt(0)).toSeq.map { case (cid, rows: Array[Row]) =>
        val mean = new Array[Double](rows.length)
        rows.foreach { r =>
          // exact: integral-double sum ÷ count, both engines IEEE-divide
          mean(r.getInt(1)) = r.getDouble(2) / r.getLong(3).toDouble
        }
        (cid, mean)
      }.sortBy(_._1)
    }
    cents
  }

  /** K-means assignment after `rounds` Lloyd passes.
    * Output: (id, cluster, dist2) — dist2 in quantized units (divide by
    * scale² for the unquantized value). Reads `df` once per Lloyd round
    * and again in the returned plan: persist a computed input first.
    * ConfigPipeline's `cluster_sample` stage materializes it once.
    */
  def kmeans(df: DataFrame, idCol: String, vecCol: String,
             k: Int, rounds: Int = 2, scale: Double = 1048576.0): DataFrame = {
    val cents = lloydCentroids(df, idCol, vecCol, k, rounds, scale)
    withCluster(df.select(col(idCol).as("id"),
        quantize(col(vecCol), scale).as("qv")), "qv", cents, scale = 1.0)
      .select(col("id"), col("cluster").cast(LongType).as("cluster"), col("dist2"))
  }

  /** K-center greedy / farthest-point selection (Gonzalez 1985; the coreset
    * selection recipe of Sener & Savarese 2018, arXiv:1708.00489) — pick `k`
    * rows that COVER the embedding space: start from a deterministic seed
    * (smallest `md5(id)`, the same device as [[lloydCentroids]]), then
    * repeatedly take the row FARTHEST from every center chosen so far. The
    * output's `radius` column traces the k-center objective (the max-min
    * distance the next center collapses), the standard diversity-sampling
    * diagnostic for "how many exemplars until the corpus is covered".
    *
    * Scale posture: each of the `k` rounds is ONE corpus scan — `min dist²`
    * to the picked set is the native
    * [[org.apache.spark.sql.graftglue.MinDistToSet]] projection (the
    * picked-center MATRIX rides as one reference object, so the plan is
    * CONSTANT size in the picked count — the ProbeCells recipe; the
    * previous `least()` over per-center [[dist2]] literal expansions grew
    * the plan linearly per round, O(k²·dim) literal work across the run,
    * plan-explosive at the Sener & Savarese coreset regime of k in the
    * thousands — measured at k = 256 in plans/SCALE.md r9), and the argmax
    * is a TakeOrdered(1) (per-partition top-1, driver merges one row per
    * partition). The corpus never shuffles; the driver holds k·dim doubles.
    * k is a sample-size knob (10²–10⁴), not data-sized.
    *
    * Determinism: vectors quantize to integral doubles first (see class
    * doc), so every distance is an exact integer-valued double — argmax
    * ties break on id with NO cross-engine ulp risk, and `radius` is
    * hash-exact in any engine (quantized units; divide by scale² for raw).
    *
    * Output: (step 1..k, center_id, radius) — `radius` is null for the seed
    * row and non-increasing afterwards. Selection STOPS EARLY (fewer than
    * `k` rows) once the farthest remaining row is at distance 0 — every row
    * is then a center (or an exact duplicate of one), and further rounds
    * would only re-emit already-picked ids with radius 0. Each round
    * re-reads `df`: persist a computed input first. ConfigPipeline's
    * `kcenter` stage materializes it once.
    */
  def kCenterGreedy(df: DataFrame, idCol: String, vecCol: String, k: Int,
                    scale: Double = 1048576.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val spark = df.sparkSession
    val q = df.select(col(idCol).as("id"), quantize(col(vecCol), scale).as("qv"))
    // limit(1) stays the plan ROOT in both the seed and the argmax:
    // TakeOrderedAndProject then collect-executes as per-partition top-1 +
    // a driver merge — zero shuffle stages (a projection above the limit
    // would force a singlePartition exchange instead; PlanSpec pins this)
    val seed = q.withColumn("__h", md5(col("id").cast(StringType)))
      .orderBy(col("__h"), col("id")).limit(1).collect()
    require(seed.nonEmpty, "empty input")
    var picked = Vector[(Any, Array[Double], Option[Double])](
      (seed(0).get(0), seed(0).getSeq[Double](1).toArray, None))
    var covered = false
    for (_ <- 2 to k if !covered) {
      import org.apache.spark.sql.graftglue.{ColumnBridge, MinDistToSet}
      val mind = ColumnBridge.column(MinDistToSet(
        ColumnBridge.expression(col("qv")),
        picked.map(_._2).toArray))
      val next = q.withColumn("__mind", mind)
        .orderBy(col("__mind").desc, col("id").asc).limit(1).collect()(0)
      val radius = next.getDouble(2)
      // radius 0 ⇒ every row coincides with a picked center: the argmax is
      // an already-picked id (or an exact duplicate), so stop instead of
      // emitting duplicate centers round after round
      if (radius == 0.0) covered = true
      else picked :+= ((next.get(0), next.getSeq[Double](1).toArray,
        Some(radius)))
    }
    val idType = df.schema(idCol).dataType
    val schema = StructType(Seq(
      StructField("step", LongType, nullable = false),
      StructField("center_id", idType, nullable = true),
      StructField("radius", DoubleType, nullable = true)))
    val rows = picked.zipWithIndex.map { case ((id, _, r), i) =>
      Row((i + 1).toLong, id, r.orNull)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup =
    * k-means the embeddings, then compare vectors ONLY within a cluster and
    * mark every vector whose cosine to a LOWER-id cluster-mate reaches
    * `tau` as a duplicate (keep-lowest-id, the same greedy convention as
    * the exact-dedup family). The cluster equi-join cuts the all-pairs
    * O(n²) to O(n²/k) and — unlike [[graft.dedup.Dedup.cosineNearDup]] —
    * needs no row-count guard: `k` is the knob that keeps per-cluster
    * blocks bounded.
    *
    * The assignment is computed once (eager checkpoint): the pair join
    * references it twice and the rollup once — without materialization the
    * corpus would re-scan and re-assign three times. Cosine parity with the
    * oracle comes from [[Vectors.fcosine]] (codegen dot ≡ DuckDB
    * `list_dot_product`, zero-norm guard included).
    *
    * Output: (id, cluster, is_dup) — filter `!is_dup` for the kept corpus.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               k: Int, tau: Double, rounds: Int = 2,
               scale: Double = 1048576.0): DataFrame = {
    val cents = lloydCentroids(df, idCol, vecCol, k, rounds, scale)
    val assigned = withCluster(
        df.select(col(idCol).as("id"), col(vecCol).as("vec")),
        "vec", cents, scale)
      .withColumn("nrm", Vectors.fnorm(col("vec")))
      .select("id", "vec", "nrm", "cluster")
      .pinned()
    // alias both sides: a cluster self-join on one lineage degenerates to
    // a trivially-true predicate (see Ops.intervalJoin)
    val a = assigned.select(col("cluster").as("__c"), col("id").as("id_a"),
      col("vec").as("__va"), col("nrm").as("__na"))
    val b = assigned.select(col("cluster").as("__c"), col("id").as("id_b"),
      col("vec").as("__vb"), col("nrm").as("__nb"))
    val dup = a.join(b, Seq("__c"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        Vectors.fcosine(col("__va"), col("__vb"), col("__na"), col("__nb")))
      .filter(col("cosine") >= tau)
      .select(col("id_b").as("id")).distinct()
      .withColumn("__dup", lit(true))
    assigned.select(col("id"), col("cluster").cast(LongType).as("cluster"))
      .join(dup, Seq("id"), "left")
      .select(col("id"), col("cluster"),
        coalesce(col("__dup"), lit(false)).as("is_dup"))
  }
}
