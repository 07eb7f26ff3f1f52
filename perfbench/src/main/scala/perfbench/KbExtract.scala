package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Caching, RunPipeline}
import graft.graph.Graph
import graft.json.MtlParser
import graft.schema.JsonSchemaGate

/** `kb_extract`: batch, closed loop, one client — the TreeHorn path. Raw
  * JSON order documents pass the schema gate; the valid ones feed an MTL
  * program (captures, relations, COREFER) whose knowledge base is closed
  * transitively and ranked with PageRank. Each run ends with a bounded
  * stream-index phase ([[LexStream]]). Driver-bound: many small jobs over
  * small iteration state.
  */
final class KbExtract(seed: Long) extends BatchWorkload {
  private var orders: Inputs.Orders = _
  private var jsonl: File = _
  private val lex = new LexStream(seed)

  /** One core stays free for the stream phase's load-generator thread. */
  override def cores(nproc: Int): Int = math.max(1, math.min(nproc, 4) - 1)

  val PageRankIters = 2

  def inputDocs: Long = orders.rows
  def load(spark: SparkSession): Long = spark.read.text(jsonl.getPath).count()

  def generate(inputDir: File, info: scala.collection.mutable.Map[String, Any]): Unit = {
    jsonl = new File(inputDir, "orders.jsonl")
    orders = Inputs.orders(seed, jsonl, customers = 200, invalidPermille = 40)
    info ++= Seq("input_rows" -> orders.rows, "input_bytes" -> orders.bytes,
      "input_sha" -> orders.sha, "planted_invalid_rows" -> orders.invalid.size,
      "customers" -> orders.customers)
    val notes = lex.generate(inputDir)
    info ++= Seq("index_input_rows" -> notes.rows, "index_input_sha" -> notes.sha.take(16),
      "index_docs_per_file" -> lex.docsPerFile, "index_files_per_run" -> lex.filesPerPhase,
      "index_probes_per_run" -> lex.probesPerPhase)
  }

  override def setup(spark: SparkSession, dir: File): Unit = {
    super.setup(spark, dir)
    lex.bootstrap(spark, new File(dir, "lex"))
  }

  override def measure(spark: SparkSession, tracer: Tracer, seconds: Double,
                       out: Outcome): Unit = {
    super.measure(spark, tracer, seconds, out)
    lex.endToEnd(out)
    if (tracer.enabled) lex.layers(tracer, runRoots.map(_.trace).toSet, out)
  }

  private val program = MtlParser.parse(
    """QUERY kb IS SELECT ord.o_orderkey AS order_key, ord.prev_orderkey AS prev_key,
      |cust.c_custkey AS cust_key, cust.c_name AS cust_name, item.l_partkey AS part_key
      |FROM obj START AT TOP
      |GO DOWN UNTIL HAS KEY o_orderkey AS ord
      |GO DOWN UNTIL HAS KEY c_name AS cust
      |GO DOWN UNTIL HAS KEY l_quantity AS item;
      |IN QUERY kb cust NAMED BY cust_key IS RELATED TO part NAMED BY part_key AS ordered;
      |IN QUERY kb ord NAMED BY order_key IS RELATED TO prev NAMED BY prev_key AS follows;
      |IN QUERY kb cust_key AND cust_name COREFER;""".stripMargin)

  def runOnce(spark: SparkSession, outDir: File, run: Int,
              trace: Option[(Tracer, String)]): Unit = {
    def sp[T](name: String)(body: => T): T =
      trace.fold(body) { case (t, id) => t.span(id, name)(body) }
    // traced runs materialize each layer's lazy result at its boundary
    def boundary(df: DataFrame): Unit = if (trace.isDefined) df.count()
    val out = outDir.getPath
    val raw = spark.read.text(jsonl.getPath)
    val gated = sp("schema") {
      val v = JsonSchemaGate.validate(raw, "value", Inputs.orderSchema).persist()
      boundary(v); v
    }
    sp("operators.write") {
      RunPipeline.writeBatch(gated.filter(!col("is_valid")).select(
        get_json_object(col("value"), "$.o_orderkey").cast("long").as("o_orderkey"),
        col("violations")), s"$out/rejected", None)
    }
    val (kb, inferred) = sp("json") {
      val docs = gated.filter(col("is_valid")).select("parsed.*")
      val kb = MtlParser.knowledgeBase(docs, program, "kb")
        .filter(col("dst_id").isNotNull).select("src_id", "dst_id", "rel").persist()
      boundary(kb)
      (kb, MtlParser.inferTransitive(kb, "follows", "before"))
    }
    val edges = kb.unionByName(inferred)
    val ranks = sp("graph") {
      val r = Graph.pageRank(edges, iters = PageRankIters)
      boundary(r); r
    }
    sp("operators.write") {
      RunPipeline.writeBatch(edges, s"$out/kb", None)
      RunPipeline.writeBatch(ranks, s"$out/ranks", None)
    }
    kb.unpersist(); gated.unpersist()
    Caching.drain()
    sp("streaming")(lex.phase(run, trace))
  }

  protected def workloadLayers(t: Tracer, out: Outcome,
                               layer: (Span, Set[String]) => SpanStats): Unit = {
    val sc = (r: Span) => layer(r, Set("schema"))
    val js = (r: Span) => layer(r, Set("json"))
    val gr = (r: Span) => layer(r, Set("graph"))
    out.perLayer ++= Seq(
      "schema.wall_s" -> Metric(perRun(sc(_).wall), "s"),
      "schema.cpu_s" -> Metric(perRun(sc(_).cpu), "s"),
      "json.wall_s" -> Metric(perRun(js(_).wall), "s"),
      "json.jobs" -> Metric(perRun(js(_).jobs), "count"),
      "json.driver_gap_s" -> Metric(perRun(js(_).gap), "s"),
      "json.shuffle_mb" -> Metric(perRun(js(_).shuffleMb), "MB"),
      "graph.wall_s" -> Metric(perRun(gr(_).wall), "s"),
      "graph.jobs" -> Metric(perRun(gr(_).jobs), "count"),
      "graph.jobs_per_iter" -> Metric(perRun(gr(_).jobs.toDouble / PageRankIters), "count"),
      "graph.driver_gap_s" -> Metric(perRun(gr(_).gap), "s"))
  }

  /** The expected knowledge base, built independently of graft: the
    * `ordered` and `follows` relations joined straight out of the raw JSON
    * of the documents known to be valid, with customer keys (and names)
    * mapped to the smallest key string among customers sharing a name.
    */
  private def expectedKb(spark: SparkSession): DataFrame = {
    val schema = "o_orderkey BIGINT, prev_orderkey BIGINT, " +
      "customer STRUCT<c_custkey: BIGINT, c_name: STRING>, " +
      "lines ARRAY<STRUCT<l_partkey: BIGINT>>"
    val invalid = orders.invalid.toSeq
    val docs = spark.read.text(jsonl.getPath)
      .select(from_json(col("value"), schema, Map.empty[String, String]).as("d")).select("d.*")
      .filter(!col("o_orderkey").isin(invalid: _*))
    val cust = docs.select(col("customer.c_custkey").cast("string").as("k"),
      col("customer.c_name").as("n")).distinct()
    val canonByName = cust.groupBy("n").agg(min("k").as("canon"))
    val canon = cust.join(canonByName, "n").select(col("k").as("v"), col("canon"))
      .unionByName(canonByName.select(col("n").as("v"), col("canon")))
    val ordered = docs.select(col("customer.c_custkey").cast("string").as("src_id"),
        explode(col("lines.l_partkey")).as("p"))
      .select(col("src_id"), col("p").cast("string").as("dst_id"), lit("ordered").as("rel"))
    val follows = docs.filter(col("prev_orderkey").isNotNull)
      .select(col("o_orderkey").cast("string").as("src_id"),
        col("prev_orderkey").cast("string").as("dst_id"))
      .withColumn("rel", lit("follows"))
    def mapEnd(df: DataFrame, c: String): DataFrame =
      df.join(canon.withColumnRenamed("v", c), Seq(c), "left")
        .withColumn(c, coalesce(col("canon"), col(c))).drop("canon")
    mapEnd(mapEnd(ordered.unionByName(follows), "src_id"), "dst_id")
      .select("src_id", "dst_id", "rel").distinct()
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).sorted.toSeq

  def verify(spark: SparkSession, out: Outcome): Unit = {
    val expected = rows(expectedKb(spark))
    val hashes = scala.collection.mutable.ArrayBuffer.empty[String]
    var rejectedShare = 0.0
    for ((dir, (run, _, _)) <- outputs.zip(runWalls)) {
      val kb = rows(spark.read.parquet(s"${dir.getPath}/kb").select("src_id", "dst_id", "rel"))
      if (dir == outputs.last) {
        val got = kb.filter(r => r.endsWith("|ordered") || r.endsWith("|follows"))
        val extra = got.diff(expected).size; val missing = expected.diff(got).size
        out.check(s"kb_extract run $run: KB edges equal the independent join",
          extra == 0 && missing == 0, s"$extra extra, $missing missing")
      }
      val rejected = spark.read.parquet(s"${dir.getPath}/rejected").select("o_orderkey")
        .collect().map(_.getLong(0)).toSet
      out.check(s"kb_extract run $run: rejected rows are the planted invalid ids",
        rejected == orders.invalid,
        s"${rejected.size} rejected, ${orders.invalid.size} planted")
      rejectedShare = rejected.size.toDouble / orders.rows
      hashes += Inputs.sha((kb ++ rows(spark.read.parquet(s"${dir.getPath}/ranks"))).map(_ + "\n"))
    }
    out.check("kb_extract: result hash stable across runs", hashes.distinct.size == 1,
      hashes.distinct.mkString(","))
    out.info("result_sha") = hashes.headOption.getOrElse("")
    out.perLayer("schema.rejected") = Metric(rejectedShare, "ratio")
    out.info("planted_invalid_share") = orders.invalid.size.toDouble / orders.rows
    lex.verify(out)
  }
}
