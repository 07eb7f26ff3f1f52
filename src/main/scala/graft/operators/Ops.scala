package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Caching.TrackedSyntax

/** Relational re-expressions of the reference's processor nodes.
  *
  * Each method is a lazy DataFrame → DataFrame transform (a Catalyst plan
  * fragment), not an eager loop: the reference runs one Python thread per
  * node pulling dicts off a queue (`metalpipe/node.py:102`); here every
  * "node" is a projection/filter/aggregate that whole-stage codegen fuses,
  * and the only shuffles are the ones the semantics require (group-bys,
  * joins, global batching).
  */
object Ops {

  // -------------------------------------------------------------------
  // Row-level transforms (pure projections — no shuffle, codegen-fused)
  // -------------------------------------------------------------------

  /** Insert constant keys (reference `InsertData`, node.py:1034).
    *
    * `overwrite=false` matches the reference's "only if absent/None":
    * existing non-null values win via `coalesce`.
    */
  def insertData(df: DataFrame, values: Map[String, Any], overwrite: Boolean = true): DataFrame =
    values.foldLeft(df) { case (d, (name, v)) =>
      if (overwrite || !d.columns.contains(name)) d.withColumn(name, lit(v))
      else d.withColumn(name, coalesce(col(name), lit(v)))
    }

  /** Regex substitution (reference `SubstituteRegex`, node.py:1068).
    * Spark `regexp_replace` replaces all occurrences (DuckDB needs 'g').
    */
  def substituteRegex(df: DataFrame, column: String, pattern: String,
                      replacement: String, out: Option[String] = None): DataFrame =
    df.withColumn(out.getOrElse(column), regexp_replace(col(column), pattern, replacement))

  /** Key remapping / projection (reference `Remapper`, node.py:1694 and the
    * ubiquitous `input_mapping`). `mapping` is (sourcePath → outName); source
    * paths may be nested (`a.b.c`). Pure `select` — prunes columns at the
    * scan.
    */
  def remap(df: DataFrame, mapping: Seq[(String, String)]): DataFrame =
    df.select(mapping.map { case (path, name) => col(path).as(name) }: _*)

  /** Arbitrary column expression as a new key (reference `FunctionOfMessage`,
    * node.py:996). Caller supplies a `Column` so the function stays inside
    * codegen — the reference calls an arbitrary Python function per message.
    */
  def applyExpr(df: DataFrame, out: String, expr: Column): DataFrame =
    df.withColumn(out, expr)

  /** Transform the value at a nested struct path in place (reference
    * `SimpleTransforms`, node.py:1194: apply a function at a key-path).
    * `path` is dot-separated; intermediate fields must be structs. Pure
    * projection via `withField` — no shuffle, stays in codegen.
    */
  def transformAt(df: DataFrame, path: String, f: Column => Column): DataFrame = {
    val parts = path.split('.')
    if (parts.length == 1) df.withColumn(path, f(col(path)))
    else df.withColumn(parts.head,
      col(parts.head).withField(parts.tail.mkString("."), f(col(path))))
  }

  /** Transform every element of the array at `arrayPath` (nested transform
    * of the reference applied to list values).
    */
  def transformEachAt(df: DataFrame, arrayPath: String, f: Column => Column): DataFrame = {
    val parts = arrayPath.split('.')
    val mapped = transform(col(arrayPath), f)
    if (parts.length == 1) df.withColumn(arrayPath, mapped)
    else df.withColumn(parts.head,
      col(parts.head).withField(parts.tail.mkString("."), mapped))
  }

  /** Explode an iterable value into one message per element (reference
    * `Serializer`, node.py:1257). `values=true` explodes a map's values.
    */
  def serialize(df: DataFrame, column: String, out: String = "value",
                values: Boolean = false): DataFrame = {
    val c = if (values) map_values(col(column)) else col(column)
    df.withColumn(out, explode(c))
  }

  /** Parse a JSON-string column into a typed struct (the reference's
    * messages ARE parsed JSON dicts — `CSVToDictionaryList`, the recorder's
    * replay format). Schema is explicit DDL: at scale, `schema_of_json`
    * inference is an extra pass and a correctness hazard on heterogeneous
    * rows. `from_json` runs inside codegen, no UDF.
    */
  def parseJson(df: DataFrame, jsonCol: String, schemaDdl: String,
                out: String = "parsed"): DataFrame =
    df.withColumn(out, from_json(col(jsonCol), StructType.fromDDL(schemaDdl)))

  // -------------------------------------------------------------------
  // Filters & sampling
  // -------------------------------------------------------------------

  sealed trait FilterTest
  /** Message passes iff the key path exists in the schema (plan-time check —
    * whole input passes or none, mirroring dict-key presence per message for
    * a fixed schema). */
  case object KeyExists extends FilterTest
  /** Pass iff value casts to true (non-zero / literal true / "true"). */
  case object ValueIsTrue extends FilterTest
  /** Pass iff value is not null. */
  case object ValueIsNotNone extends FilterTest

  /** Filter node (reference `Filter`, node.py:1294). All three tests compile
    * to predicates Catalyst pushes into the parquet scan.
    */
  def filterTest(df: DataFrame, keyPath: String, test: FilterTest): DataFrame = test match {
    case KeyExists =>
      if (hasPath(df.schema, keyPath.split('.').toList)) df else df.limit(0)
    case ValueIsTrue     => df.filter(col(keyPath).cast(BooleanType) === true)
    case ValueIsNotNone  => df.filter(col(keyPath).isNotNull)
  }

  private def hasPath(schema: StructType, path: List[String]): Boolean = path match {
    case Nil => true
    case head :: rest =>
      schema.fields.find(_.name == head) match {
        case Some(StructField(_, st: StructType, _, _)) => hasPath(st, rest)
        case Some(_)                                    => rest.isEmpty
        case None                                       => false
      }
  }

  /** Drop rows whose URL's domain — or ANY parent domain — appears in
    * `blocklist(blockedCol)`: the URL-filter step every web-corpus pipeline
    * runs (RefinedWeb/C4 blocklist filtering). `blocked("ads.example.com")`
    * removes exactly that host; `blocked("example.com")` removes the whole
    * domain tree.
    *
    * Scale shape: each row explodes into its domain-suffix chain (a.b.c →
    * [a.b.c, b.c, c] — ≤ label-count rows of two narrow columns, never the
    * payload), equi-joins the blocklist (broadcast when small — blocklists
    * are usually ≤ millions of rows), and the matched ids anti-join back.
    * No non-equi join, no regex per blocklist entry.
    */
  def domainBlocklistFilter(df: DataFrame, idCol: String, urlCol: String,
                            blocklist: DataFrame, blockedCol: String): DataFrame = {
    val dom = graft.functions.Text.domainOf(col(urlCol))
    val parts = split(dom, "\\.")
    val suffixes = transform(sequence(lit(1), size(parts)),
      i => array_join(slice(parts, i, size(parts)), "."))
    val hit = df.select(col(idCol).as("__bid"), explode(suffixes).as("__suf"))
      .join(blocklist.select(col(blockedCol).as("__suf")), "__suf")
      .select(col("__bid").as(idCol)).distinct()
    df.join(hit, Seq(idCol), "left_anti")
  }

  /** Bernoulli sample (reference `RandomSample`, node.py:1055). Seeded for
    * repeatability within Spark; not oracle-comparable across engines — use
    * [[modSample]] for oracled paths.
    */
  def randomSample(df: DataFrame, fraction: Double, seed: Long = 42L): DataFrame =
    df.sample(withReplacement = false, fraction, seed)

  /** Deterministic sample: keep rows where `key mod n == r`. Cross-engine
    * reproducible (the oracle-checkable stand-in for RandomSample).
    */
  def modSample(df: DataFrame, key: String, n: Int, r: Int = 0): DataFrame =
    df.filter(pmod(col(key), lit(n)) === r)

  /** Deterministic global corpus shuffle (query form of
    * [[graft.operators.Sinks.shuffledWrite]]): shard
    * `md5(seed|id) mod numShards` plus the row's position in its shard's
    * seeded-hash order. Pure function of (seed, id) — reruns at any
    * parallelism agree, a new `seed` is a fresh epoch permutation, and the
    * DuckDB oracle replays both columns exactly (q_corpus_shuffle).
    *
    * Scale shape: one hash shuffle on `shard` + a per-shard window sort —
    * each shard sorts in its own tasks (size corpus/numShards; pick
    * numShards so a shard fits a task, exactly as the writer does). The
    * writer path skips even the rank: `sortWithinPartitions` orders files
    * without materializing positions.
    */
  /** The seeded shuffle key and shard id — ONE definition shared by
    * [[corpusShuffle]] and [[graft.operators.Sinks.shuffledWrite]], so the
    * oracled query form pins the writer's assignment by construction.
    */
  private[graft] def shuffleKey(idCol: String, seed: Long): Column =
    md5(concat_ws("|", lit(seed), col(idCol).cast(StringType)))
  private[graft] def shuffleShard(key: Column, numShards: Int): Column =
    pmod(conv(substring(key, 1, 15), 16, 10).cast(LongType),
      lit(numShards.toLong))

  /** Global `row_number` in `order` WITHOUT `Window.orderBy()`'s
    * all-rows-to-one-task sort: range-repartition on the order key (a
    * parallel sort — every partition holds one contiguous key range),
    * count rows per range partition (one tiny eager job), and add the
    * partition-local position to the partition's cumulative offset. Ranks
    * depend only on the total order, not on where the sampled range
    * boundaries fall, so the result is deterministic whenever `order` is a
    * total order (the same contract as [[batchRows]]).
    *
    * The per-partition position is the one genuinely imperative step — a
    * running counter over each sorted partition — done with the RDD's own
    * `zipWithIndex`: its index is STRUCTURAL to the RDD's partitions, so
    * it stays correct under any downstream re-layout (a `coalesce(1)`
    * above a `mapPartitions`/`spark_partition_id` formulation silently
    * resets `TaskContext.getPartitionId` to the merged task's id and
    * restarts every offset at zero — found the hard way by the oracle).
    * No declarative construct yields partition-local order without
    * re-introducing a window, and a window keyed by partition id would
    * re-shuffle the frame a second time for nothing.
    *
    * The range-sorted frame is persisted (zipWithIndex's partition-count
    * job and the output both read it); the persist is scoped to the
    * returned plan — in a long-lived session drain via [[graft.Caching]]
    * once consumed.
    */
  def globalRowNumber(df: DataFrame, order: Seq[Column],
                      out: String = "rn"): DataFrame = {
    val sorted = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
      .trackedPersist()
    val schema = sorted.schema.add(out, LongType, nullable = false)
    val ranked = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    df.sparkSession.createDataFrame(ranked, schema)
  }

  def corpusShuffle(df: DataFrame, idCol: String, seed: Long,
                    numShards: Int): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    df.withColumn("__key", shuffleKey(idCol, seed))
      .withColumn("shard", shuffleShard(col("__key"), numShards))
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("__key"), col(idCol))))
      .drop("__key")
  }

  /** Per-shard integrity MANIFEST of a sharded export (no reference
    * counterpart — the reproducibility primitive of a large training
    * run): one row per shard with the row count, summed content length,
    * and an ORDER-INDEPENDENT content digest — `bit_xor` of each row's
    * 60-bit md5 prefix over (id, text) — so two exports match iff every
    * shard holds the same (id, text) SET, regardless of file order,
    * partitioning, or write parallelism. XOR (not SUM) keeps the digest
    * in exact 64-bit space on both engines (DuckDB widens SUM(BIGINT) to
    * HUGEINT); the id sits INSIDE the hash, so an id↔text crosswire
    * between two rows changes the digest even though both strings
    * survive. Scale: one scan + one shard-keyed exchange of fixed-width
    * partials (count/sum/xor all combine map-side); the manifest itself
    * is shard-count-sized. Null handling (identical on both engines): a
    * null id or text keeps the row in `n_rows` and contributes NOTHING
    * to the digest (null propagates through the hash); `n_chars` skips
    * the row only when TEXT is null — a null id with non-null text still
    * counts its characters. Assert non-null upstream if nulls should
    * fail the export instead.
    */
  def shardManifest(df: DataFrame, shardCol: String, idCol: String,
                    textCol: String): DataFrame =
    df.select(col(shardCol),
        length(col(textCol)).cast(LongType).as("__len"),
        // U+0001 separator: without one, (id=1, "2x") and (id=12, "x")
        // would hash identically (DuckDB replays it as chr(1)). concat,
        // NOT concat_ws: concat_ws SKIPS nulls (a null-text row would
        // hash as md5(id) alone, diverging from the oracle's
        // null-propagating `||`); with concat a null id/text row COUNTS
        // in n_rows but contributes nothing to the digest or char sum —
        // identically on both engines
        conv(substring(md5(concat(col(idCol).cast(StringType),
          lit("\u0001"), col(textCol))), 1, 15), 16, 10)
          .cast(LongType).as("__h"))
      .groupBy(shardCol)
      .agg(count(lit(1)).as("n_rows"), sum(col("__len")).as("n_chars"),
        expr("bit_xor(__h)").as("content_xor"))

  // -------------------------------------------------------------------
  // Aggregation
  // -------------------------------------------------------------------

  /** Collect all values of `valueCol` per group, sorted (reference
    * `AggregateValues`, node.py:1278 collects a list per window). Sorted so
    * output is deterministic; partial aggregation happens map-side.
    */
  def aggregateValues(df: DataFrame, keys: Seq[String], valueCol: String,
                      out: String = "values"): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col(valueCol))).as(out))

  /** Group-by aggregation with caller-supplied aggregate columns. */
  def groupAgg(df: DataFrame, keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)

  /** Salted two-phase aggregation for SKEWED group keys: phase 1 aggregates
    * by (keys, salt) — spreading one hot key over `saltBuckets` reducers —
    * phase 2 merges the partials by keys alone. `aggs` maps an input column
    * to (phase-1 agg, phase-2 re-agg) pairs via the [[Reaggregatable]]
    * shapes (sum/count/min/max — the decomposable aggregates).
    *
    * AQE's skew handling covers joins; this covers the aggregation side,
    * where a single hot group otherwise lands on one task.
    */
  def saltedAgg(df: DataFrame, keys: Seq[String],
                aggs: Seq[(Column, String, String)], // (phase1 agg col AS name, name, reagg fn)
                saltBuckets: Int = 16): DataFrame = {
    val salt = pmod(monotonically_increasing_id(), lit(saltBuckets)).as("__salt")
    val phase1 = df.withColumn("__salt", salt)
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(aggs.head._1, aggs.tail.map(_._1): _*)
    val phase2Aggs = aggs.map { case (_, name, re) =>
      (re match {
        case "sum"   => sum(col(name))
        case "min"   => min(col(name))
        case "max"   => max(col(name))
        case "count" => sum(col(name)) // counts merge by summation
        case other   => sys.error(s"non-decomposable re-agg '$other'")
      }).as(name)
    }
    phase1.groupBy(keys.map(col): _*).agg(phase2Aggs.head, phase2Aggs.tail: _*)
  }

  /** Exact money sum: accumulate in DECIMAL(18,2) (order-independent),
    * surface as double — bit-identical across engines regardless of
    * partitioning / summation order.
    */
  def moneySum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Exact mean built from the decimal sum: decimal-sum → double, ÷ count in
    * double. Identical operands → identical IEEE result in any engine.
    */
  def moneyAvg(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType) / count(c).cast(DoubleType)

  /** Fixed-size batching with a global, deterministic batch id (reference
    * `BatchMessages`, node.py:1731). Orders by `orderCols` (must be a total
    * order for determinism), assigns `batch_id = ceil(row_number/n)`.
    *
    * NOTE the single-partition window is the oracle-parity path. At 100 TB
    * use [[batchRowsPartitioned]] — batch identity rarely needs a global
    * order, and a global sort of the fact table is the bottleneck.
    */
  def batchRows(df: DataFrame, orderCols: Seq[String], n: Int,
                out: String = "batch_id"): DataFrame = {
    val w = Window.orderBy(orderCols.map(col): _*)
    df.withColumn(out, ceil((row_number().over(w)).cast(DoubleType) / lit(n)).cast(LongType))
  }

  /** Scale-path batching: groups of ≤ n consecutive rows within each
    * partition, batch id = the `monotonically_increasing_id` of the batch's
    * first row. Pure projection — no shuffle, no sort, no window; a
    * partition-id window would itself reshuffle and scramble the grouping.
    * (mid = partitionId·2^33 + offset, so `mid - offset % n` is constant
    * exactly for n consecutive rows of one partition and globally unique.)
    */
  def batchRowsPartitioned(df: DataFrame, n: Int, out: String = "batch_id"): DataFrame = {
    val mid = monotonically_increasing_id()
    val off = mid.bitwiseAND(lit((1L << 33) - 1))
    df.withColumn(out, mid - pmod(off, lit(n.toLong)))
  }

  /** Sequence packing for training batches: assign each row wholly to a
    * contiguous token-budget bin — bin id = exclusive-prefix-sum of
    * `weightCol` (in `orderCols` order, within `keys`) integer-divided by
    * `budget`. The standard contiguous-fill packing LLM data pipelines use
    * to build fixed-token-count training sequences; a bin may overshoot by
    * at most one document (greedy reset packing is inherently sequential
    * and not worth a non-relational operator).
    *
    * With non-empty `keys` the window partitions by them — one shuffle,
    * parallel across keys, the 100 TB shape (pack per language/shard/
    * source, which is what training mixers want anyway). Empty `keys` =
    * one global sequence = single-partition window: oracle/debug only,
    * same caveat as [[batchRows]].
    */
  def packByBudget(df: DataFrame, keys: Seq[String], orderCols: Seq[String],
                   weightCol: String, budget: Long,
                   out: String = "bin_id"): DataFrame = {
    // integral div by zero yields null, which would silently null every bin id
    require(budget > 0, s"budget must be positive, got $budget")
    val base = if (keys.isEmpty) Window.orderBy(orderCols.map(col): _*)
               else Window.partitionBy(keys.map(col): _*).orderBy(orderCols.map(col): _*)
    val prior = sum(col(weightCol))
      .over(base.rowsBetween(Window.unboundedPreceding, -1))
    // integral `div`, never `/`+cast: Column `/` divides in DOUBLE, and a
    // cumulative weight past 2^53 (real at byte-weighted 100 TB inputs)
    // would round rows near bin boundaries into the wrong bin
    df.withColumn("__prior", coalesce(prior, lit(0L)).cast(LongType))
      .withColumn(out, expr(s"__prior div ${budget}L"))
      .drop("__prior")
  }

  /** Per-group percentiles (quality-threshold computation: "keep docs
    * above the per-language p25 quality score"). Exact mode uses Spark's
    * `percentile` — the exact linear-interpolated quantile, one
    * partial-agg pass, same shuffle shape as any group-by, but agg state
    * holds a per-group value map (fine at oracle scale, unbounded at
    * corpus scale). `approx = true` switches to `percentile_approx`
    * (Greenwald-Khanna, agg state bounded by `accuracy` regardless of
    * group size) — the 100 TB posture, exposed through ConfigPipeline's
    * `percentiles` op. Exact quarter fractions over integer-valued
    * doubles interpolate FP-exactly, which is what makes the cross-engine
    * oracle possible; the approx form trades that bit-exactness for
    * bounded memory (rank error ≤ 1/accuracy), so oracle-bound paths stay
    * exact and production config paths default to approx.
    */
  def percentiles(df: DataFrame, keys: Seq[String], valueCol: String,
                  ps: Seq[(Double, String)],
                  approx: Boolean = false, accuracy: Int = 10000): DataFrame = {
    require(accuracy > 0, s"accuracy must be positive, got $accuracy")
    def one(p: Double, name: String) =
      (if (approx) percentile_approx(col(valueCol), lit(p), lit(accuracy))
       else percentile(col(valueCol), lit(p))).as(name)
    df.groupBy(keys.map(col): _*)
      .agg(one(ps.head._1, ps.head._2),
        ps.tail.map { case (p, n) => one(p, n) }: _*)
  }

  /** Deterministic train/val split (B8 companion): bucket = the md5 of the
    * id's 60-bit prefix mod 100, split = "train" below `trainPct` else
    * "val". Pure codegen projection, no shuffle; the SAME rows land in the
    * same split on every engine and every run (no RNG state), which is what
    * a reproducible training pipeline needs from its holdout.
    */
  def hashSplit(df: DataFrame, idCol: String, trainPct: Int,
                out: String = "split"): DataFrame = {
    require(trainPct >= 0 && trainPct <= 100, s"trainPct out of range: $trainPct")
    val bucket = conv(substring(md5(col(idCol).cast(StringType)), 1, 15), 16, 10)
      .cast(LongType) % 100
    df.withColumn(out, when(bucket < trainPct, "train").otherwise("val"))
  }

  /** Deterministic stratified sampling: per-stratum keep rates (permille),
    * decided by the row's md5 bucket — no RNG state, so the SAME rows
    * survive on every engine, run, and partitioning, while each stratum
    * downsamples at its own rate (the corpus-mixing knob: "keep 100% of
    * low-resource languages, 50‰ of English"). Pure filter projection —
    * zero shuffle. Strata absent from `permille` use `defaultPermille`.
    */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       permille: Map[String, Int],
                       defaultPermille: Int): DataFrame = {
    (defaultPermille +: permille.values.toSeq).foreach(p =>
      require(p >= 0 && p <= 1000, s"permille out of range: $p"))
    val bucket = conv(substring(md5(col(idCol).cast(StringType)), 1, 15), 16, 10)
      .cast(LongType) % 1000
    val rate = permille.foldLeft(lit(defaultPermille)) { case (acc, (s, p)) =>
      when(col(stratumCol) === s, lit(p)).otherwise(acc)
    }
    df.filter(bucket < rate)
  }

  /** Downsample-only mixture resampling — the data-mixing step (DoReMi /
    * The Pile style): bring group shares to the target `weights` ratio by
    * downsampling over-represented groups, never upsampling. The group
    * with the scarcest data relative to its weight keeps 100% (the
    * bottleneck); every other group keeps
    * `floor(1000 · w_g · c_m / (w_m · c_g))` permille — ALL-INTEGER
    * arithmetic, so the rates are engine-exact, and the row-level decision
    * is the same md5-bucket filter as [[stratifiedSample]] (no RNG state;
    * identical survivors on every engine/run/partitioning). Groups absent
    * from `weights` are dropped.
    *
    * Scale: one count aggregate (group-cardinality rows to the driver,
    * like [[percentiles]]), then a pure filter projection — zero shuffle
    * on the kept corpus. Weights are relative integer parts
    * (e.g. en:50, zh:30, es:20); rates are computed driver-side in BigInt,
    * so no weight/count combination can overflow.
    *
    * Reads its input twice (the group-count collect, then the returned plan):
    * persist a computed input first. ConfigPipeline's `mixture` stage
    * declares this and materializes its input once.
    */
  def resampleMixture(df: DataFrame, idCol: String, groupCol: String,
                      weights: Map[String, Int]): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.values.forall(w => w > 0 && w <= 100000),
      s"weights must be in (0, 100000], got $weights")
    val counts = df.groupBy(col(groupCol).cast(StringType).as("g"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val present = weights.filter { case (g, _) => counts.getOrElse(g, 0L) > 0L }
    require(present.nonEmpty, "no weighted group present in the data")
    // bottleneck group: minimum data-per-weight, compared as exact
    // rationals (c_a/w_a < c_b/w_b ⟺ c_a·w_b < c_b·w_a in BigInt — no
    // double rounding at any magnitude); ties by group name so the choice
    // is total
    val m = present.keys.toSeq.sorted.reduceLeft { (a, b) =>
      if (BigInt(counts(a)) * weights(b) <= BigInt(counts(b)) * weights(a)) a
      else b
    }
    val permille: Map[String, Long] = present.map { case (g, w) =>
      g -> (BigInt(1000) * w * counts(m) / (BigInt(weights(m)) * counts(g)))
        .min(1000).toLong
    }
    val bucket = conv(substring(md5(col(idCol).cast(StringType)), 1, 15), 16, 10)
      .cast(LongType) % 1000
    val rate = present.keys.foldLeft(lit(0L)) { (acc, g) =>
      when(col(groupCol) === g, lit(permille(g))).otherwise(acc)
    }
    df.filter(bucket < rate)
  }

  /** Temperature-based mixture sampling — the multilingual-corpus mixing
    * rule (mT5/T5-style α-sampling): group g's share of the `total`-doc
    * output is proportional to n_g^α, so α=1 preserves natural proportions
    * and α→0 approaches uniform-over-groups — the standard lever for
    * keeping low-resource languages represented without letting the head
    * language drown them. [[resampleMixture]] takes EXPLICIT ratios; this
    * derives them from the data with one knob.
    *
    * quota_g = min(n_g, round(total · n_g^α / Σ n^α)) — downsample-only
    * (a group smaller than its quota keeps everything; upsampling is a
    * repeat-read at training time, not a data-selection concern). The
    * row-level decision is a per-group (md5(id), id)-order row_number ≤
    * quota — the same deterministic permutation as [[tokenBudgetSample]],
    * so the kept set is identical on every engine, run, and partitioning.
    *
    * Determinism across engines: the only floating arithmetic is
    * driver-side on the GROUP-CARDINALITY table — n^α, a k-term sum in
    * sorted-group order, one multiply, one divide — and for α=0.5 (the
    * oracled operating point: sqrt is IEEE-correctly-rounded everywhere,
    * `pow` is not) DuckDB reproduces every double bit-for-bit with
    * `SUM(sqrt(n) ORDER BY grp)`. Row-side there is no floating point at
    * all.
    *
    * Scale shape: one count aggregate (group-cardinality rows to the
    * driver, model-sized), then one hash shuffle on the group for the
    * quota cut — (id, group) only, text never shuffles — and when
    * maxQuota · numGroups fits the in-memory heap budget (see the gate
    * below) the cut is the bounded TopKStruct heap aggregate, so at most
    * maxQuota rows per (group, partition) reach that exchange and no
    * group ever sorts in a single task (the [[tokenBudgetSample]]
    * degenerate-group caveat only applies on the big-quota window
    * fallback).
    *
    * Output: (id, grp) for the kept documents.
    *
    * Reads its input twice (the group-count collect, then the returned plan):
    * persist a computed input first. ConfigPipeline's `temperature_sample` stage
    * declares this and materializes its input once.
    */
  def temperatureSample(df: DataFrame, idCol: String, groupCol: String,
                        total: Long, alpha: Double = 0.5): DataFrame = {
    require(total > 0L, s"total must be positive, got $total")
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    // null groups are unsampleable (no n^α share) — dropped, like groups
    // absent from tokenBudgetSample's budgets
    val dfNN = df.filter(col(groupCol).isNotNull)
    val counts = dfNN.groupBy(col(groupCol).cast(StringType).as("g"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    require(counts.nonEmpty, "temperatureSample on an empty frame")
    // α=0.5 goes through sqrt, NOT pow: sqrt is IEEE-correctly-rounded,
    // pow is only 1-ulp (JIT intrinsic), and the oracle's bit-for-bit
    // claim rests on sqrt — a 1-ulp weight wobble at a round-half quota
    // boundary would flip a quota. Other alphas are documented as not
    // oracle-exact.
    val ws = counts.map { case (_, n) =>
      if (alpha == 0.5) math.sqrt(n.toDouble) else math.pow(n.toDouble, alpha) }
    val z = ws.sum // sorted-group order — the oracle sums in the same order
    val quotas: Map[String, Long] = counts.zip(ws).map { case ((g, n), w) =>
      g -> math.min(n, math.round(total * w / z))
    }.toMap
    // quotas join as a broadcast table, NOT a per-group when-chain: group
    // cardinality is data-derived (a url-domain grouping can run to 10^5
    // distinct values) and a chain that deep breaks Catalyst; the
    // when-chain precedent in tokenBudgetSample is safe only because its
    // depth is capped by the user-supplied budget map
    val quotaDf = df.sparkSession.createDataFrame(
      quotas.toSeq.map { case (g, q) => org.apache.spark.sql.Row(g, q) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("grp",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("__q", LongType))))
    // null ids are unsampleable too (the md5 permutation needs an
    // identity) — filtered in BOTH paths, so the kept set cannot depend
    // on which path the quota gate picks (the heap skips null ids; an
    // unfiltered window fallback would rank them FIRST)
    val ids = dfNN.filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"), col(groupCol).cast(StringType).as("grp"))
    val idType = ids.schema("id").dataType
    val maxQ = quotas.values.max
    // Bounded path (the common, eval-set-sized case): the per-group quota
    // cut is the bounded TopKStruct heap (k = max quota, per-group quotas
    // re-applied on the emitted rank), so at most maxQ rows per (group,
    // partition) reach the exchange and no group ever sorts in one task.
    // The heaps are executor memory with NO size-based spill (the
    // ObjectHashAggregate fallback triggers on group COUNT, raised to 2^16
    // by GraftSession.tune), and one task can hold a heap for EVERY group,
    // so the gate bounds the worst-case total — maxQ · numGroups boxed
    // (md5-string, id) pairs, capped at 2^21 (~10²MB at ~100 B/entry) —
    // not just the single-heap size. Large-quota/high-cardinality mixes
    // (and id types the aggregate doesn't order) keep the window form,
    // whose per-group sort is spill-backed.
    if (maxQ >= 1L && maxQ <= (1L << 20) &&
        maxQ * counts.length <= (1L << 21) &&
        (idType == LongType || idType == IntegerType || idType == StringType)) {
      import org.apache.spark.sql.graftglue.{ColumnBridge, TopKStruct}
      val bot = ColumnBridge.column(TopKStruct(
        ColumnBridge.expression(md5(col("id").cast(StringType))),
        ColumnBridge.expression(col("id")), maxQ.toInt,
        smallest = true).toAggregateExpression())
      ids.groupBy("grp").agg(bot.as("__ks"))
        .select(col("grp"), posexplode(col("__ks")).as(Seq("__p", "__kv")))
        .join(broadcast(quotaDf), Seq("grp"))
        .filter(col("__p") < col("__q"))
        .select(col("__kv.neighbor").as("id"), col("grp"))
    } else {
      val w = Window.partitionBy("grp")
        .orderBy(md5(col("id").cast(StringType)), col("id"))
      ids.join(broadcast(quotaDf), Seq("grp"))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= col("__q"))
        .select(col("id"), col("grp"))
    }
  }

  /** Token-budget mixture selection — the data-recipe step stated in
    * TOKENS, not rows ("300B tokens of web, 30B of code"): per group, walk
    * the documents in md5(id) order (a deterministic per-group permutation
    * — crawl/insert order never leaks into the recipe) and keep documents
    * until the group's token budget is reached; the document that crosses
    * the budget is the last one kept, so every group with enough data
    * reaches ≥ its budget and overshoots by < 1 document. Groups absent
    * from `budgets` are dropped. [[resampleMixture]] holds group RATIOS;
    * this holds absolute token TARGETS — production recipes compose both
    * (ratio-mix, then cap to the compute budget).
    *
    * Determinism: ordering is (md5(id), id) — total even across hash
    * collisions — and token counts are exact BIGINTs, so the kept set is
    * identical on every engine, run, and partitioning; the oracle replays
    * the same cumulative-sum window.
    *
    * Scale shape: one projection computes per-doc token counts (codegen'd
    * `size(split)` — text never shuffles; only (id, group, n_tokens)
    * enters the exchange), then ONE hash shuffle on the group for the
    * running-sum window. The window sort is per-group: a running sum is
    * sequentially dependent, so an md5-heavy group sorts in one task's
    * spill-backed sort — for the degenerate single-group 100 TB corpus,
    * pre-filter with the rate-based approximation below and run the exact
    * window over the ~budget-sized survivor set: `tokenBudgetRate` keeps
    * `budget / total_tokens` of each group's md5 buckets (the zero-shuffle
    * [[stratifiedSample]] shape), landing within sampling error of the
    * budget instead of exactly on it.
    *
    * Output: (id, group, n_tokens) for the kept documents.
    */
  def tokenBudgetSample(df: DataFrame, idCol: String, groupCol: String,
                        textCol: String, budgets: Map[String, Long]): DataFrame = {
    require(budgets.nonEmpty, "budgets must be non-empty")
    require(budgets.values.forall(_ > 0L), s"budgets must be positive: $budgets")
    val inBudget = budgets.keys.toSeq.sorted
      .foldLeft(lit(false))((acc, g) => acc || col(groupCol) === g)
    val budget = budgets.toSeq.sortBy(_._1).foldLeft(lit(0L)) {
      case (acc, (g, b)) => when(col(groupCol) === g, lit(b)).otherwise(acc)
    }
    val counted = df.filter(inBudget).select(
      col(idCol).as("id"), col(groupCol).as("grp"),
      size(array_remove(split(col(textCol), " "), "")).cast(LongType).as("n_tokens"),
      md5(col(idCol).cast(StringType)).as("__ord"))
    val w = Window.partitionBy("grp").orderBy(col("__ord"), col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    counted
      .withColumn("__prior", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("__prior") < budget)
      .select(col("id"), col("grp"), col("n_tokens"))
  }

  /** The zero-shuffle approximation of [[tokenBudgetSample]] for groups too
    * large (or too skewed) for a per-group window sort: keep the fraction
    * `budget / group_token_total` of each group's md5(id) buckets — the
    * [[stratifiedSample]] filter with token-weighted rates. Hits the budget
    * in expectation (md5 buckets are token-unbiased); error shrinks as
    * 1/√n_docs. One token-count aggregate (group-sized collect, like
    * [[resampleMixture]]'s), then a pure filter projection.
    *
    * Reads its input twice (the token-count collect, then the returned plan):
    * persist a computed input first. ConfigPipeline's `token_budget` stage
    * declares this and materializes its input once.
    */
  def tokenBudgetRate(df: DataFrame, idCol: String, groupCol: String,
                      textCol: String, budgets: Map[String, Long]): DataFrame = {
    require(budgets.nonEmpty, "budgets must be non-empty")
    require(budgets.values.forall(_ > 0L), s"budgets must be positive: $budgets")
    val nTok = size(array_remove(split(col(textCol), " "), "")).cast(LongType)
    val totals = df.filter(budgets.keys.toSeq.sorted
        .foldLeft(lit(false))((acc, g) => acc || col(groupCol) === g))
      .groupBy(col(groupCol).cast(StringType).as("g"))
      .agg(sum(nTok).as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val permille: Map[String, Long] = budgets.collect {
      case (g, b) if totals.getOrElse(g, 0L) > 0L =>
        g -> (BigInt(1000) * b / totals(g)).min(1000).toLong
    }
    require(permille.nonEmpty, "no budgeted group present in the data")
    val bucket = conv(substring(md5(col(idCol).cast(StringType)), 1, 15), 16, 10)
      .cast(LongType) % 1000
    val rate = permille.foldLeft(lit(0L)) { case (acc, (g, p)) =>
      when(col(groupCol) === g, lit(p)).otherwise(acc)
    }
    df.filter(bucket < rate)
  }

  /** Corpus snapshot diff — the incremental-crawl primitive: given the
    * PREVIOUS corpus snapshot and the CURRENT one (both keyed by `idCol`),
    * classify every document as `added` (new id), `removed` (id gone),
    * `changed` (id present in both, content hash differs), or `unchanged`.
    * Downstream incremental curation re-processes only added ∪ changed
    * (filter on the status column) instead of re-running dedup/quality/
    * tokenization over the full 100 TB — and `removed` drives retention
    * deletes in derived stores.
    *
    * Scale shape: each side reduces to (id, md5(text)) in its scan
    * projection — document TEXT never shuffles, only 32-byte hashes — then
    * one full-outer hash join on the id (two hash exchanges, AQE-planned;
    * on bucketed snapshot tables it is exchange-free). Status is a pure
    * projection over null-ness + hash equality. The oracle replays the
    * identical join in SQL.
    *
    * Output: (id, status, old_hash, new_hash); hashes NULL on the absent
    * side, exposed so callers can route content-addressed work without
    * rehashing.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    val o = oldSnap.select(col(idCol).as("id"), md5(col(textCol)).as("old_hash"))
    val n = newSnap.select(col(idCol).as("id"), md5(col(textCol)).as("new_hash"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("old_hash").isNull, lit("added"))
          .when(col("new_hash").isNull, lit("removed"))
          .when(col("old_hash") === col("new_hash"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("old_hash"), col("new_hash"))
  }

  /** KMV (k-minimum-values) distinct-count sketch: the k smallest md5-
    * derived 60-bit hashes per group estimate the group's distinct count as
    * `(k-1) / u_k` with `u_k` the k-th smallest hash normalized to [0,1).
    * Unlike HLL (whose register layout is engine-specific), KMV is
    * DETERMINISTIC given the hash — an exact SQL oracle can reproduce the
    * estimate bit-for-bit: the hash→double cast is correctly rounded and
    * the 2^60 normalization is a power-of-two scale (exact), so both
    * engines compute identical doubles. Groups with fewer than k distinct
    * values report the EXACT count.
    *
    * Shape: distinct (group, hash) — one shuffle with map-side partials —
    * then the k smallest hashes per group come from the bounded
    * [[org.apache.spark.sql.graftglue.TopKStruct]] heap aggregate
    * (`smallest = true`): O(n·log k) heap updates in k-sized memory,
    * where the rank window this replaced SORTED the entire distinct-hash
    * set map-side (WindowGroupLimit's partial mode bounds the shuffle but
    * demands sorted input) and again after its exchange. Same kept set
    * (hashes are unique per group after the distinct, so the order is
    * total), so the SQL oracle's window form remains bit-identical.
    *
    * NULL values are excluded EXPLICITLY before the sketch (and the oracle
    * filters them identically): a null is not a distinct VALUE, so
    * counting it would bias the estimate — the pre-r8 window form ranked
    * the null hash FIRST (ASC = NULLS FIRST) and silently counted it into
    * `n_kept`, which was wrong; the explicit filter makes the (more
    * correct) semantics deterministic rather than an accident of the heap
    * aggregate skipping null scores.
    *
    * Output: (keys..., n_kept, distinct_est).
    */
  def approxDistinctKmv(df: DataFrame, keys: Seq[String], valueCol: String,
                        k: Int = 256): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    import org.apache.spark.sql.graftglue.{ColumnBridge, TopKStruct}
    val hash = conv(substring(md5(col(valueCol).cast(StringType)), 1, 15), 16, 10)
      .cast(LongType)
    val uniq = df.filter(col(valueCol).isNotNull)
      .select(keys.map(col) :+ hash.as("__h"): _*).distinct()
    val bot = ColumnBridge.column(TopKStruct(
      ColumnBridge.expression(col("__h")), ColumnBridge.expression(col("__h")),
      k, smallest = true).toAggregateExpression())
    uniq.groupBy(keys.map(col): _*).agg(bot.as("__ks"))
      .select(keys.map(col) :+ size(col("__ks")).cast(LongType).as("n_kept") :+
        element_at(col("__ks"), -1).getField("score").as("__kth"): _*)
      .withColumn("distinct_est",
        when(col("n_kept") < k, col("n_kept").cast(DoubleType))
          .otherwise(lit((k - 1).toDouble) /
            (col("__kth").cast(DoubleType) / lit((1L << 60).toDouble))))
      .drop("__kth")
  }

  /** Heavy hitters (frequent items) with an EXACT answer at sketch cost:
    * every value whose frequency strictly exceeds `supportPermille`‰ of the
    * row count — the "which domains / boilerplate n-grams / user-agents
    * dominate this corpus" question that a full `GROUP BY value` answers by
    * shuffling the entire distinct-value universe (at 100 TB of URLs, a
    * shuffle bigger than the answer by many orders of magnitude).
    *
    * Two passes, both scan-shaped: (1) `df.stat.freqItems` — Spark's
    * single-pass Karp/Misra-Gries-family counter sketch, ~1/support
    * counters per partition merged on the driver, NO shuffle — yields a
    * candidate set guaranteed to contain every item above support (false
    * positives possible, false negatives not); (2) one verify scan folds
    * every NON-candidate row into a single null group, so ONE partial-agg
    * shuffle of candidate-sized cardinality produces both the exact
    * candidate counts and (as the group-count sum) the exact total row
    * count — no separate `count()` job. False positives die on the exact
    * threshold, so the output EQUALS the full group-by answer (the oracle
    * runs exactly that), deterministically, while only candidate values
    * ever enter an exchange.
    *
    * Output: (value, cnt) for values with cnt · 1000 > n · supportPermille.
    *
    * Reads its input twice (the freqItems sketch, then the returned plan):
    * persist a computed input first. ConfigPipeline's `heavy_hitters` stage
    * declares this and materializes its input once.
    * Null values never qualify (they fold into the rest-group).
    */
  def heavyHitters(df: DataFrame, valueCol: String,
                   supportPermille: Int): DataFrame = {
    require(supportPermille >= 1 && supportPermille < 1000,
      s"supportPermille must be in [1, 1000), got $supportPermille")
    val support = supportPermille / 1000.0
    val cands: Seq[String] = df.stat.freqItems(Seq(valueCol), support)
      .head.getSeq[Any](0).map(String.valueOf)
    val counts = df
      .select(when(col(valueCol).cast(StringType).isInCollection(cands),
        col(valueCol).cast(StringType)).as("value"))
      .groupBy("value").agg(count(lit(1)).as("cnt"))
      .trackedPersist()
    val total = counts.agg(sum(col("cnt")).as("__n"))
    counts.filter(col("value").isNotNull)
      .crossJoin(broadcast(total))
      .filter(col("cnt") * lit(1000L) > col("__n") * lit(supportPermille.toLong))
      .select(col("value"), col("cnt"))
  }

  /** Deterministic weighted Bernoulli sampling: keep a row with probability
    * `probCol` (clamped to [0,1]) decided by the row's md5 bucket — no RNG
    * state, so the SAME rows survive on every engine, run, and partitioning
    * (what quality-weighted corpus downsampling needs to be reproducible).
    * The 60-bit bucket compares against `prob · 2^60` computed in double —
    * exact for the probability resolutions that matter.
    */
  def weightedSample(df: DataFrame, idCol: String, probCol: String): DataFrame = {
    val bucket = conv(substring(md5(col(idCol).cast(StringType)), 1, 15), 16, 10)
      .cast(LongType)
    // NULL probability = 0 (drop): least/greatest SKIP nulls, so without
    // the coalesce an unscored row would silently clamp to keep-always.
    // floor() before the long cast pins truncation semantics explicitly —
    // engines disagree on double→int cast rounding, and the oracle must
    // floor the same way.
    val p = greatest(lit(0.0), least(lit(1.0), coalesce(col(probCol), lit(0.0))))
    val threshold = floor(p * lit((1L << 60).toDouble)).cast(LongType)
    df.filter(bucket < threshold)
  }

  /** Tumbling/sliding time-window aggregation (reference
    * `TimeWindowAccumulator`, node.py:1453). Batch flavor; streaming variant
    * in `graft.streaming.Streams` adds the watermark.
    */
  def timeWindowAgg(df: DataFrame, tsCol: String, duration: String,
                    keys: Seq[String], aggs: Seq[Column],
                    slide: Option[String] = None): DataFrame = {
    val win = slide.fold(window(col(tsCol), duration))(s => window(col(tsCol), duration, s))
    df.groupBy(win +: keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Interval (time-range) join — the batch semantics of the reference's
    * `StreamingJoin` (node.py:1528), whose TimedDict buffer holds the last
    * `timeout` seconds of each stream. Left row joins right rows with the
    * same key and `rightTs ∈ [leftTs + lower, leftTs + upper]`.
    *
    * Scale note: the equality key makes this a shuffle hash join with a
    * range post-filter, not a cartesian range join; AQE handles key skew.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTs: Column, rightTs: Column,
                   lower: Column, upper: Column): DataFrame = {
    // Alias both sides: with self-joins (left and right derived from the same
    // scan) `left(k) === right(k)` degenerates to a trivially-true predicate.
    val l = left.alias("__ij_l")
    val r = right.alias("__ij_r")
    val keyCond = keys.map(k => col(s"__ij_l.$k") === col(s"__ij_r.$k")).reduce(_ && _)
    l.join(r, keyCond && rightTs >= leftTs + lower && rightTs <= leftTs + upper)
  }

  /** Scale path for [[intervalJoin]]: shuffle on (key, time-bucket) instead
    * of key alone, so one hot key no longer lands an entire history in a
    * single task. Each RIGHT row replicates into the buckets its match
    * window can touch (≤ 2 when `bucketWidth >= upper - lower`); the exact
    * range predicate then filters within the bucket. Identical results to
    * [[intervalJoin]] — only the shuffle key changes.
    *
    * Timestamps are integral (e.g. epoch micros); `lower <= upper`.
    */
  def intervalJoinBucketed(left: DataFrame, right: DataFrame, keys: Seq[String],
                           leftTsCol: String, rightTsCol: String,
                           lower: Long, upper: Long,
                           bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0 && upper >= lower)
    // integral `div` (not `/` + floor): ts values may exceed double's 2^53
    // integer range. Assumes non-negative timestamps.
    val l = left.withColumn("__bucket", expr(s"$leftTsCol div ${bucketWidth}L"))
    // right row rt matches left ts in [rt - upper, rt - lower]
    val r = right.withColumn("__bucket",
      explode(sequence(
        expr(s"($rightTsCol - ${upper}L) div ${bucketWidth}L"),
        expr(s"($rightTsCol - ${lower}L) div ${bucketWidth}L"))))
    val la = l.alias("__ij_l")
    val ra = r.alias("__ij_r")
    val keyCond = (keys :+ "__bucket")
      .map(k => col(s"__ij_l.$k") === col(s"__ij_r.$k")).reduce(_ && _)
    // Qualified per-side references: with identical ts column names on both
    // sides (homogeneous streams) the bare names are ambiguous.
    la.join(ra, keyCond &&
        col(s"__ij_r.$rightTsCol") >= col(s"__ij_l.$leftTsCol") + lower &&
        col(s"__ij_r.$rightTsCol") <= col(s"__ij_l.$leftTsCol") + upper)
      .drop("__bucket")
  }

  /** As-of join: each left row pairs with the LATEST right row having the
    * same key and `rightTs <= leftTs` — the point-in-time lookup semantics
    * of the reference's TimedDict-buffered join (node.py:1528), which keeps
    * the most recent value per key, made exact over full history.
    * Left rows with no prior right row keep nulls (left-outer as-of).
    *
    * Spark-first shape: NO range join. Both sides union into one frame,
    * sorted per key by (ts, side) with right-before-left on ties (a right
    * row AT leftTs matches); `last(_, ignoreNulls)` over a running row
    * frame carries each right payload forward; filter back to left rows.
    * Exactly ONE shuffle (the window partitionBy) and no pair blowup —
    * linear in |left| + |right| where a range join would replicate rows.
    *
    * Determinism requires right rows unique per (keys, rightTs) — pre-
    * aggregate the right side otherwise (ties would resolve by partition
    * order). Hot keys: one key = one task's sort; use [[asOfJoinBucketed]]
    * when a single key's history exceeds a task.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTsCol: String, rightTsCol: String,
               rightCols: Seq[String]): DataFrame = {
    val leftOther = left.columns.toSeq.filterNot(keys.contains)
    val rPayload = rightTsCol +: rightCols
    require(rPayload.forall(c => !leftOther.contains(c) && !keys.contains(c)),
      s"right output columns ${rPayload.mkString(",")} collide with left columns or join keys")
    // The whole right payload travels as ONE struct so a single
    // last(ignoreNulls) fills it: every output value then comes from the
    // SAME matched right row. Per-column fills would let a NULL payload
    // column reach back to an OLDER right row — wrong (ASOF returns the
    // matched row's NULL, not an earlier row's value).
    val rStructType = StructType(rPayload.map(c => right.schema(c).copy(name = c)))
    val lSel = keys.map(col) ++
      Seq(col(leftTsCol).as("__ts"), lit(1).as("__side")) ++
      leftOther.map(col) :+
      lit(null).cast(rStructType).as("__r")
    val rSel = keys.map(col) ++
      Seq(col(rightTsCol).as("__ts"), lit(0).as("__side")) ++
      leftOther.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
      struct(rPayload.map(c => col(c).as(c)): _*).as("__r")
    val un = left.select(lSel: _*).unionByName(right.select(rSel: _*))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = un.withColumn("__r", last(col("__r"), ignoreNulls = true).over(w))
    filled.filter(col("__side") === 1)
      .select(keys.map(col) ++ leftOther.map(col) ++
        rPayload.map(c => col("__r").getField(c).as(c)): _*)
  }

  /** Hot-key scale path for [[asOfJoin]] — identical results, different
    * shuffle key. [[asOfJoin]] partitions its window by key alone, so one
    * pathological key (a firehose user, a default id) is one task's sort.
    * Here both sides shuffle on (key, `ts div bucketWidth`): a key's
    * history splits across its time buckets, and cross-bucket visibility
    * is restored by a CARRY-IN pre-pass (the [[intervalJoinBucketed]]
    * pattern, adapted to as-of semantics):
    *
    *  1. per (key, bucket): the bucket's LAST right payload — one
    *     partial-agg shuffle of the right side, aggregate-sized output;
    *  2. per key over the bucket-AGGREGATE table (rows = distinct
    *     (key, bucket), not history rows): the newest payload over
    *     strictly-earlier buckets — this window's partitions are bucket
    *     counts, so the hot key costs rows-per-bucket, not its history;
    *  3. main window per (key, bucket) over left ∪ right ∪ carry-in rows,
    *     carry-ins anchored at the bucket start and ordered before any
    *     real row there (__side -1 < 0 < 1) — a right row exactly on the
    *     boundary still wins over the carry it duplicates.
    *
    * Same contracts as [[asOfJoin]]: right rows unique per (keys, ts);
    * whole-struct fill (NULL payload columns stay the matched row's NULL);
    * integral non-negative timestamps (`div` truncates toward zero).
    */
  def asOfJoinBucketed(left: DataFrame, right: DataFrame, keys: Seq[String],
                       leftTsCol: String, rightTsCol: String,
                       rightCols: Seq[String], bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val leftOther = left.columns.toSeq.filterNot(keys.contains)
    val rPayload = rightTsCol +: rightCols
    require(rPayload.forall(c => !leftOther.contains(c) && !keys.contains(c)),
      s"right output columns ${rPayload.mkString(",")} collide with left columns or join keys")
    val rStructType = StructType(rPayload.map(c => right.schema(c).copy(name = c)))
    val rStruct = struct(rPayload.map(c => col(c).as(c)): _*)
    val tsType = left.schema(leftTsCol).dataType

    val lB = left.withColumn("__bkt", expr(s"$leftTsCol div ${bucketWidth}L"))
    val rB = right.withColumn("__bkt", expr(s"$rightTsCol div ${bucketWidth}L"))
    val keyBkt = keys :+ "__bkt"

    // (1) bucket-local last right payload; (keys, ts) uniqueness makes
    // max_by deterministic
    val rAgg = rB.groupBy(keyBkt.map(col): _*)
      .agg(max_by(rStruct, col(rightTsCol)).as("__last"))
    // (2) carry-in over the bucket universe BOTH sides touch: a left-only
    // bucket still needs the newest earlier payload
    val universe = lB.select(keyBkt.map(col): _*).distinct()
      .unionByName(rAgg.select(keyBkt.map(col): _*)).distinct()
    val wCarry = Window.partitionBy(keys.map(col): _*).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = universe.join(rAgg, keyBkt, "left")
      .withColumn("__carry", last(col("__last"), ignoreNulls = true).over(wCarry))
      .filter(col("__carry").isNotNull)
    // (3) main union: left (side 1), right (side 0), carry-in (side -1,
    // anchored at the bucket's first representable ts)
    val lSel = keys.map(col) ++ Seq(col("__bkt"),
        col(leftTsCol).as("__ts"), lit(1).as("__side")) ++
      leftOther.map(col) :+ lit(null).cast(rStructType).as("__r")
    val rSel = keys.map(col) ++ Seq(col("__bkt"),
        col(rightTsCol).as("__ts"), lit(0).as("__side")) ++
      leftOther.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
      rStruct.as("__r")
    val cSel = keys.map(col) ++ Seq(col("__bkt"),
        (col("__bkt") * lit(bucketWidth)).cast(tsType).as("__ts"),
        lit(-1).as("__side")) ++
      leftOther.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
      col("__carry").as("__r")
    val un = lB.select(lSel: _*)
      .unionByName(rB.select(rSel: _*))
      .unionByName(carry.select(cSel: _*))
    val w = Window.partitionBy(keyBkt.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    un.withColumn("__r", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(keys.map(col) ++ leftOther.map(col) ++
        rPayload.map(c => col("__r").getField(c).as(c)): _*)
  }

  // -------------------------------------------------------------------
  // Stats / schema (reference table_nodes.py:46, utils/data_structures.py)
  // -------------------------------------------------------------------

  /** Per-column profile: nulls + distincts (+ min/max as strings for
    * debugging). One aggregate pass; `approx=true` swaps exact distinct for
    * HLL at scale. Output: (column, n_rows, n_nulls, n_distinct).
    */
  def rowStats(df: DataFrame, approx: Boolean = false): DataFrame = {
    val perCol = df.columns.map { c =>
      val d = if (approx) approx_count_distinct(col(c)) else count_distinct(col(c))
      struct(
        lit(c).as("column"),
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col(c))).as("n_nulls"),
        d.cast(LongType).as("n_distinct"))
    }
    df.agg(array(perCol.toIndexedSeq: _*).as("stats"))
      .select(explode(col("stats")).as("s"))
      .select("s.*")
  }

  // -------------------------------------------------------------------
  // Relational core (C7): top-k, ranked windows, anti joins
  // -------------------------------------------------------------------

  /** Deterministic top-k: total order required (break ties in `order`). */
  def topK(df: DataFrame, order: Seq[Column], k: Int): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** Per-group top-k via rank over a window. */
  def windowRank(df: DataFrame, partitionCols: Seq[String], order: Seq[Column],
                 k: Int, out: String = "rnk"): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(order: _*)
    df.withColumn(out, rank().over(w)).filter(col(out) <= k)
  }

  /** Pivot (long → wide): per-key columns from `pivotCol`'s values — the
    * relational form of the reference's dict-reshaping `Remapper`
    * (node.py:1694), as a first-class aggregate.
    *
    * `values` is REQUIRED: Spark without it runs an extra distinct pass to
    * discover the column set, and at 100 TB an unbounded value domain
    * silently becomes an unbounded-width row. Caller names the domain;
    * unknown values drop, missing combinations fill `fillValue`. Two
    * shuffles by construction (Spark pre-aggregates on (keys, pivotCol),
    * then widens on keys — the second exchange moves already-reduced
    * rows), both with map-side partials.
    */
  def pivotAgg(df: DataFrame, keys: Seq[String], pivotCol: String,
               values: Seq[String], agg: Column, fillValue: Any = null): DataFrame = {
    val wide = df.groupBy(keys.map(col): _*).pivot(pivotCol, values).agg(agg)
    fillValue match {
      case null      => wide
      case v: Long   => wide.na.fill(v, values)
      case v: Int    => wide.na.fill(v.toLong, values)
      case v: Double => wide.na.fill(v, values)
      case v: String => wide.na.fill(v, values)
      case other => sys.error(s"unsupported fillValue type: ${other.getClass}")
    }
  }

  /** Unpivot (wide → long): the inverse reshaping, via the built-in
    * `unpivot` (= SQL stack) — pure projection+generate, zero shuffle.
    */
  def unpivotCols(df: DataFrame, keys: Seq[String], valueCols: Seq[String],
                  varName: String = "key", valueName: String = "value"): DataFrame =
    df.unpivot(keys.map(col).toArray, valueCols.map(col).toArray, varName, valueName)

  /** Rolling window aggregate over the previous `lookback` rows (inclusive
    * of current) per key in `orderCol` order — moving averages / running
    * totals for trend features. ONE shuffle on the key; every aggregate
    * rides the same window frame.
    *
    * Determinism: `orderCol` must be a total order within each key (tie
    * rows would make frame membership ambiguous); pass e.g. (ts, id) as a
    * struct column if timestamps repeat.
    */
  def rollingAgg(df: DataFrame, keys: Seq[String], orderCol: Column,
                 lookback: Int, aggs: Seq[(String, Column)]): DataFrame = {
    require(lookback >= 1, s"lookback must be >= 1, got $lookback")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCol)
      .rowsBetween(-(lookback.toLong - 1), Window.currentRow)
    aggs.foldLeft(df) { case (d, (out, aggExpr)) => d.withColumn(out, aggExpr.over(w)) }
  }

  /** Schema-evolving fan-in: union frames whose schemas drifted (columns
    * added/removed over time — the multi-source ingest reality the
    * reference's fan-in queues hand-wave). Missing columns null-fill per
    * side; column ORDER differences are immaterial (`unionByName`). Pure
    * union — no shuffle.
    */
  def unionEvolved(frames: Seq[DataFrame]): DataFrame = {
    require(frames.nonEmpty, "unionEvolved needs at least one frame")
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Declarative data-quality gate: row-level expectations (+ optional
    * uniqueness checks) evaluated in ONE aggregate pass over the frame —
    * the validation step between ingest and downstream consumers that the
    * reference's per-message `Filter` tests (node.py:1294) only approximate
    * row by row.
    *
    * `rowChecks`: (name, boolean Column) — true = row passes; nulls count
    * as failures (a null predicate is not a pass). `uniqueCols`: columns
    * whose values must be unique; violations = n_rows − n_distinct.
    *
    * Output: (check, n_rows, n_violations) — one row per check, long
    * format (feed a threshold filter or alert sink). Scale: single
    * partial-agg scan for all row checks; each unique column adds a
    * count_distinct (planned via expand — still one pass, no join).
    */
  def qualityChecks(df: DataFrame, rowChecks: Seq[(String, Column)],
                    uniqueCols: Seq[String] = Nil): DataFrame = {
    require(rowChecks.nonEmpty || uniqueCols.nonEmpty, "no checks given")
    // positional __rc_0/__uq_1 aliases, NOT user-supplied names: a check
    // called "value.nonneg" would otherwise turn the col() lookup into a
    // struct-field access and fail analysis
    val n = count(lit(1)).as("__n")
    val rowAggs = rowChecks.zipWithIndex.map { case ((_, pred), i) =>
      // coalesce BOTH levels: a null predicate is a row violation, and
      // sum() over ZERO rows is null — an empty batch must report 0
      // violations, not a null that silently passes threshold filters
      coalesce(sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)), lit(0L))
        .as(s"__rc_$i")
    }
    val uniqAggs = uniqueCols.zipWithIndex.map { case (c, i) =>
      count_distinct(col(c)).as(s"__uq_$i")
    }
    val agg = df.agg(n, rowAggs ++ uniqAggs: _*)
    val rows = rowChecks.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("check"), col("__n").as("n_rows"),
        col(s"__rc_$i").as("n_violations"))
    } ++ uniqueCols.zipWithIndex.map { case (c, i) =>
      struct(lit(s"unique:$c").as("check"), col("__n").as("n_rows"),
        (col("__n") - col(s"__uq_$i")).as("n_violations"))
    }
    agg.select(explode(array(rows: _*)).as("r")).select("r.*")
  }

  /** Equal-width histogram of a numeric column — the profiling companion
    * to [[rowStats]] (the reference's table-statistics nodes report
    * min/max; a distribution shape is what a curation run actually reads
    * before picking thresholds). Bin edges derive from one (min, max)
    * aggregate (1-row driver fetch, the [[percentiles]] pattern); each row
    * then bins as a pure projection and ONE partial-agg shuffle counts the
    * bins. The maximum value lands in the LAST bin (least(floor, bins-1)),
    * nulls are excluded, and an all-equal column degenerates to a single
    * zero-width bin. Width/edges are plain IEEE double expressions in the
    * same operation order the oracle runs — bit-stable cross-engine.
    *
    * Output: (bin, lo, hi, n) for non-empty bins.
    *
    * Reads its input twice (the (min, max) fetch, then the returned plan):
    * persist a computed input first. ConfigPipeline's `histogram` stage
    * declares this and materializes its input once.
    */
  def histogram(df: DataFrame, valueCol: String, bins: Int): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    val vals = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast(DoubleType).as("__v"))
    val mm = vals.agg(min(col("__v")).as("mn"), max(col("__v")).as("mx")).head()
    if (mm.isNullAt(0))
      return vals.select(lit(0L).as("bin"), col("__v").as("lo"),
        col("__v").as("hi"), lit(0L).as("n")).limit(0)
    val mn = mm.getDouble(0)
    val width = (mm.getDouble(1) - mn) / bins
    val bin =
      if (width == 0d) lit(0L)
      else least(floor((col("__v") - mn) / width).cast(LongType), lit(bins - 1L))
    vals.select(bin.as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .select(col("bin"), (lit(mn) + col("bin") * width).as("lo"),
        (lit(mn) + (col("bin") + 1) * width).as("hi"), col("n"))
  }

  /** Deterministic N-per-group sample: rank each group's rows by
    * md5(id) — a pseudo-random order ANY engine reproduces (no RNG state,
    * the [[modSample]]/[[stratifiedSample]] device) — and keep the first
    * `n`. The balanced-subset step of a curation run (equal examples per
    * language/source for eval sets or labeling budgets), where
    * [[stratifiedSample]] keeps a per-stratum FRACTION.
    *
    * Scale shape: the n smallest (md5, id) pairs per group come from the
    * bounded [[org.apache.spark.sql.graftglue.TopKStruct]] heap aggregate
    * over a (keys, id) PROJECTION — at most n rows per (group, partition)
    * reach its exchange — and the winners semi-join back as a BROADCAST
    * (n·|groups| rows, small by this operator's contract), so full-width
    * corpus rows never sort OR shuffle at all. The rank-window form this
    * replaced sorted the whole corpus map-side by (group, md5) at full row
    * width (WindowGroupLimit bounds its shuffle, not its sort) and sorted
    * the survivors again after the exchange. The selected ID set is the
    * window form's exactly (md5 makes the order total per id; the join is
    * null-SAFE on the group keys, so NULL-keyed groups sample like any
    * other); the contracts that differ, both deliberate: rows with a NULL
    * id are never kept (the window form's order among them was undefined),
    * and if `idCol` is not unique per group the semi join keeps EVERY row
    * of a selected id — deterministic, where the window form kept n
    * arbitrary copies by partition order. Sample by a unique identity, as
    * the md5-permutation semantics assume. Ids of long/int/string type
    * take this path; other types fall back to the window form.
    */
  def sampleNPerGroup(df: DataFrame, keys: Seq[String], idCol: String,
                      n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    import org.apache.spark.sql.graftglue.{ColumnBridge, TopKStruct}
    val idType = df.schema(idCol).dataType
    val bounded = idType == LongType || idType == IntegerType ||
      idType == StringType
    if (!bounded) {
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(md5(col(idCol).cast(StringType)), col(idCol))
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= n).drop("__rn")
    } else {
      val bot = ColumnBridge.column(TopKStruct(
        ColumnBridge.expression(md5(col(idCol).cast(StringType))),
        ColumnBridge.expression(col(idCol)), n,
        smallest = true).toAggregateExpression())
      val sel = df.groupBy(keys.map(col): _*).agg(bot.as("__ks"))
        .select(keys.map(col) :+ explode(col("__ks")).as("__kv"): _*)
        .select(keys.map(col) :+ col("__kv.neighbor").as(idCol): _*)
        .toDF((keys :+ idCol).map("__sel_" + _): _*)
      // null-SAFE equality: a NULL group key is a group like any other
      // (the window form partitioned nulls together; a plain equi-join
      // would silently drop them)
      val cond = (keys :+ idCol).map(k => col(k) <=> col("__sel_" + k))
        .reduce(_ && _)
      df.join(broadcast(sel), cond, "left_semi")
    }
  }

  /** Error-budget gate (reference `MetalNode` max_errors, node.py:102: a
    * node tolerates N bad messages before killing the pipeline). Rows
    * matching `isError` (null counts as error — an unevaluable predicate
    * is a bad row, not a pass) are DROPPED from the output, and the whole
    * job fails loudly the moment the total error count exceeds
    * `maxErrors` — permissive up to the budget, never silently lossy past
    * it.
    *
    * The budget check runs AT CALL TIME — one counting job over the input,
    * the [[cosineNearDup]] guard precedent. It must be eager: a lazy
    * raise_error gate riding the output rows never fires when EVERY row is
    * bad (zero surviving rows → AQE elides the gate's branch — measured),
    * which is exactly the case that must abort hardest. The input is
    * therefore read twice (count + emit) — persist upstream or read from
    * stable storage; the reference pays the same bookkeeping per message.
    * ConfigPipeline's `error_budget` stage materializes its input once.
    * Pair with a PERMISSIVE-mode read (`columnNameOfCorruptRecord`) so
    * malformed source rows arrive as data instead of exceptions:
    * `isError = col("_corrupt_record").isNotNull`.
    */
  def errorBudget(df: DataFrame, isError: Column, maxErrors: Long): DataFrame = {
    require(maxErrors >= 0, s"maxErrors must be non-negative, got $maxErrors")
    val bad = coalesce(isError, lit(true))
    val nErr = df.agg(
      coalesce(sum(when(bad, 1L).otherwise(0L)), lit(0L))).head().getLong(0)
    require(nErr <= maxErrors,
      s"error budget exceeded: $nErr bad rows > maxErrors=$maxErrors")
    df.filter(!bad)
  }

  // -------------------------------------------------------------------
  // Sessionization (C4 companion: the reference's TimeWindowAccumulator
  // with DYNAMIC gap windows instead of fixed buckets)
  // -------------------------------------------------------------------

  /** Gap-based sessionization, batch shape: a new session starts when the
    * time since the key's previous event exceeds `gap` (same units as
    * `tsCol`). Output: keys + (session_id, session_start, session_end,
    * n_events), session_id counting 1.. per key.
    *
    * Scale: ONE shuffle on the key; the two window passes and the final
    * aggregate all reuse that partitioning (no extra exchange — the plan
    * shows Window → Window → partial/final HashAggregate back-to-back).
    * Equal timestamps land in one session regardless of intra-key order, so
    * the result is deterministic without a total order on events.
    */
  def sessionize(df: DataFrame, keys: Seq[String], tsCol: String, gap: Long): DataFrame =
    sessionTag(df, keys, tsCol, gap)
      .groupBy((keys :+ "session_id").map(col): _*)
      .agg(min(col(tsCol)).as("session_start"), max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"))

  /** Session-id tagging WITHOUT the rollup: every input row back, plus
    * the `session_id` its (keys, ts) gap-partition assigns — the first
    * half of [[sessionize]] (which is now its rollup, so the two can
    * never drift), exposed for flows that need a session's MEMBER rows:
    * dialogue assembly (q_dialogue_pack concatenates each session's
    * events in time order), per-session transforms, session-scoped
    * dedup. Same shuffle shape as sessionize — one exchange on `keys`
    * shared by both windows.
    */
  def sessionTag(df: DataFrame, keys: Seq[String], tsCol: String,
                 gap: Long): DataFrame = {
    val byKey = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    val prev = lag(col(tsCol), 1).over(byKey)
    val brk = when(prev.isNull || col(tsCol) - prev > gap, 1L).otherwise(0L)
    df.withColumn("__brk", brk)
      .withColumn("session_id",
        sum(col("__brk")).over(byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__brk")
  }

  /** [[sessionTag]] for CELEBRITY-KEY distributions — bot/power users
    * holding a visible fraction of the whole corpus, the dialogue-data
    * reality. [[sessionTag]]'s per-key window puts one user's ENTIRE
    * history through one task's sort; measured at 10× with one user
    * holding 10% of events, that task dominates the stage wall-clock
    * (plans/SKEW.md r11). This form is the asOfJoinBucketed device
    * applied to C4 — two phases, BIT-IDENTICAL output:
    *
    *  1. tag within (keys, `ts div segment`) partitions — the hot user's
    *    events sort in parallel, one coarse time bucket per task;
    *  2. chain the per-(key, segment) SUMMARIES (first/last ts, session
    *    count; one row per non-empty segment, bounded by time range ÷
    *    `segment`, never by event count) with a per-key window: a
    *    segment's first local session merges into the previous non-empty
    *    segment's last iff the boundary gap is ≤ `gap`, and each event's
    *    global id is `sessions-before + local-id − merges-so-far`.
    *
    * A session spanning any number of segments chains through
    * consecutive merge flags; equal boundary timestamps cannot split
    * (same ts ⇒ same segment). `tsCol` must be integral (the `div`
    * segmenting is exact where float division would corrupt ts_ns-scale
    * values past 2^53).
    *
    * Cost: one extra summary-sized window + one (keys, segment) join over
    * [[sessionTag]]'s single exchange — the flat price for removing the
    * per-key skew ceiling. The summary branch deliberately RE-DERIVES the
    * local tags from a second scan instead of persisting the tagged
    * corpus: Catalyst prunes that branch to (keys, ts) — fixed-width rows
    * through its exchange — where a persist would pin every carry column
    * (the dialogue text) in memory (PLANS.md shows both scans pruned to
    * 2 columns; AQE broadcasts the summary side of the join back). Pick
    * `segment` ≥ the typical session span
    * (e.g. hours for a 10-minute gap): too-fine segments only grow the
    * summary table, they never change the result.
    */
  def sessionTagSegmented(df: DataFrame, keys: Seq[String], tsCol: String,
                          gap: Long, segment: Long): DataFrame = {
    require(segment > 0, s"segment must be positive, got $segment")
    val segc = expr(s"`$tsCol` div $segment")
    val keySegW = Window.partitionBy((keys.map(col) :+ col("__seg")): _*)
      .orderBy(col(tsCol))
    val prev = lag(col(tsCol), 1).over(keySegW)
    val brk = when(prev.isNull || col(tsCol) - prev > gap, 1L).otherwise(0L)
    val tagged = df.withColumn("__seg", segc)
      .withColumn("__lid", sum(brk).over(
        keySegW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val byKey = Window.partitionBy(keys.map(col): _*).orderBy(col("__seg"))
    val prevLast = lag(col("__last"), 1).over(byKey)
    val summaries = tagged
      .groupBy((keys :+ "__seg").map(col): _*)
      .agg(min(col(tsCol)).as("__first"), max(col(tsCol)).as("__last"),
        max(col("__lid")).as("__ns"))
      .withColumn("__m",
        when(prevLast.isNotNull && col("__first") - prevLast <= gap, 1L)
          .otherwise(0L))
      .withColumn("__cumS", coalesce(sum(col("__ns")).over(
        byKey.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__cumM", sum(col("__m")).over(
        byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select((keys.map(col) :+ col("__seg") :+ col("__cumS") :+ col("__cumM")): _*)
    tagged.join(summaries, keys :+ "__seg")
      .withColumn("session_id", col("__cumS") + col("__lid") - col("__cumM"))
      .drop("__seg", "__lid", "__cumS", "__cumM")
  }

  /** [[sessionize]] through [[sessionTagSegmented]] — identical rollup,
    * identical output (q_sessionize_segmented shares q_sessionize's
    * oracle), celebrity-key-safe.
    */
  def sessionizeSegmented(df: DataFrame, keys: Seq[String], tsCol: String,
                          gap: Long, segment: Long): DataFrame =
    sessionTagSegmented(df, keys, tsCol, gap, segment)
      .groupBy((keys :+ "session_id").map(col): _*)
      .agg(min(col(tsCol)).as("session_start"), max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"))
}
