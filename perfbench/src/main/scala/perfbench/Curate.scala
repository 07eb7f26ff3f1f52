package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Caching, RunPipeline}
import graft.functions.Bpe
import graft.pipeline.ConfigPipeline

/** `curate`: batch, closed loop, one client. A config pipeline (the
  * RunPipeline path) cleans, dedups, language-tags, rebalances and splits a
  * seeded HTML corpus, writes it to parquet, then trains a few BPE merges on
  * the survivors. Executor-bound: text kernels and dedup shuffles dominate.
  */
final class Curate(seed: Long) extends BatchWorkload {
  private var corpus: Inputs.Corpus = _
  private var jsonl: File = _
  private var parquet: File = _
  private val merges = scala.collection.mutable.Map.empty[Int, Seq[String]]

  /** Parquet files of the input: one per core, so every stage can use them all. */
  val inputFiles = 4
  val uniqueDocs = 900

  def inputDocs: Long = corpus.rows
  def load(spark: SparkSession): Long = spark.read.parquet(parquet.getPath).count()

  def generate(inputDir: File, info: scala.collection.mutable.Map[String, Any]): Unit = {
    jsonl = new File(inputDir, "docs.jsonl")
    parquet = new File(inputDir, "docs.parquet")
    corpus = Inputs.curate(seed, jsonl, uniqueDocs)
    info ++= Seq("input_rows" -> corpus.rows, "input_bytes" -> corpus.bytes,
      "input_sha" -> corpus.sha, "planted_exact_dup_rows" -> corpus.exactDupRows,
      "planted_near_dup_rows" -> corpus.nearDupRows,
      "planted_low_quality_rows" -> corpus.lowQuality.size)
  }

  override def prepare(spark: SparkSession): Unit =
    spark.read.schema("doc_id BIGINT, html STRING, src_lang STRING").json(jsonl.getPath)
      .repartition(inputFiles).write.mode("overwrite").parquet(parquet.getPath)

  /** The pipeline as (layer, stage) pairs in declaration order. A stage only
    * reads stages of its own layer segment or the last stage of the segment
    * before it, so a traced run can cut the list at layer boundaries.
    */
  private val stages: Seq[(String, String)] = Seq(
    "functions" -> """{"name":"text","op":"html_text","from":"raw","html":"html","as":"text"}""",
    "functions" -> """{"name":"nfc","op":"normalize_unicode","from":"text","text":"text"}""",
    "functions" -> """{"name":"c4","op":"c4_clean","from":"nfc","text":"text","as":"clean"}""",
    "functions" -> """{"name":"rep","op":"repetition","from":"c4","id":"doc_id","text":"clean","n":2}""",
    "functions" -> """{"name":"repj","op":"join","from":["c4","rep"],"on":"doc_id = id","how":"left"}""",
    "functions" -> """{"name":"repok","op":"filter","from":"repj","expr":"coalesce(dup_frac, 0.0) <= 0.5"}""",
    "functions" -> """{"name":"cleaned","op":"select","from":"repok","exprs":["doc_id","clean"]}""",
    "dedup" -> """{"name":"dx","op":"dedup_exact","from":"cleaned","id":"doc_id","text":"clean"}""",
    "dedup" -> """{"name":"dxj","op":"join","from":["cleaned","dx"],"on":"doc_id = keep_id"}""",
    "dedup" -> """{"name":"dxs","op":"select","from":"dxj","exprs":["doc_id","clean"]}""",
    "dedup" -> """{"name":"unique","op":"dedup_near","from":"dxs","id":"doc_id","text":"clean"}""",
    "functions" -> """{"name":"lid","op":"langid","from":"unique","id":"doc_id","text":"clean"}""",
    "functions" -> """{"name":"lid2","op":"select","from":"lid","exprs":["doc_id AS lid_id","lang_pred"]}""",
    "functions" -> """{"name":"lj","op":"join","from":["unique","lid2"],"on":"doc_id = lid_id"}""",
    "functions" -> """{"name":"tagged","op":"select","from":"lj","exprs":["doc_id","clean","lang_pred"]}""",
    "operators" -> """{"name":"mix","op":"mixture","from":"tagged","id":"doc_id","group":"lang_pred","weights":{"en":40,"de":20,"es":20,"fr":20}}""",
    "operators" -> """{"name":"out","op":"split","from":"mix","id":"doc_id","trainPct":90}""")

  private def stageName(j: String): String =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(j).get("name").asText()

  private def config(source: String, from: String, body: Seq[String]): String =
    (s"""{"name":"$source","op":"parquet","path":${Inputs.js(from)}}""" +: body)
      .mkString("""{"stages":[""", ",", "]}")

  /** Consecutive stages of one layer. */
  private lazy val segments: Seq[(String, Seq[String])] =
    stages.foldLeft(Vector.empty[(String, Vector[String])]) { case (acc, (l, s)) =>
      if (acc.nonEmpty && acc.last._1 == l) acc.init :+ (l -> (acc.last._2 :+ s))
      else acc :+ (l -> Vector(s))
    }

  /** One run: the whole stage list as one config, written to parquet by one
    * `RunPipeline.writeBatch`, then BPE on the train split. A traced run
    * instead cuts the list at layer boundaries and runs each segment as its
    * own config, written to parquet and read back by the next, so each layer
    * is timed on its own. Its output is the same.
    */
  def runOnce(spark: SparkSession, outDir: File, run: Int,
              trace: Option[(Tracer, String)]): Unit = {
    val out = outDir.getPath
    trace match {
      case None =>
        RunPipeline.writeBatch(ConfigPipeline.fromJson(spark,
          config("raw", parquet.getPath, stages.map(_._2))).output("out"), out, None)
      case Some((t, id)) =>
        var (src, path) = ("raw", parquet.getPath)
        segments.zipWithIndex.foreach { case ((layer, body), k) =>
          val last = stageName(body.last)
          val dst = if (k == segments.size - 1) out else s"$out.seg$k"
          t.span(id, if (layer == "operators") "operators.write" else layer) {
            RunPipeline.writeBatch(
              ConfigPipeline.fromJson(spark, config(src, path, body)).output(last), dst, None)
          }
          Caching.drain()
          src = last; path = dst
        }
    }
    Caching.drain()
    val survivors = spark.read.parquet(out).filter(col("split") === "train")
    val m = trace match {
      case Some((t, id)) => t.span(id, "functions.bpe")(bpe(survivors))
      case None => bpe(survivors)
    }
    merges(run) = m
  }

  private def bpe(docs: DataFrame): Seq[String] = {
    val m = Bpe.train(docs, "clean", nMerges = 16, mergesPerRound = 16, maxRounds = 1)._1
      .orderBy("rank").collect().map(r => s"${r.get(1)} ${r.get(2)}").toSeq
    Caching.drain()
    m
  }

  protected def workloadLayers(t: Tracer, out: Outcome,
                               layer: (Span, Set[String]) => SpanStats): Unit = {
    val fn = (r: Span) => layer(r, Set("functions"))
    val bp = (r: Span) => layer(r, Set("functions.bpe"))
    val dd = (r: Span) => layer(r, Set("dedup"))
    out.perLayer ++= Seq(
      "functions.wall_s" -> Metric(perRun(fn(_).wall), "s"),
      "functions.cpu_s" -> Metric(perRun(fn(_).cpu), "s"),
      "functions.bpe_s" -> Metric(perRun(bp(_).wall), "s"),
      "functions.bpe_jobs" -> Metric(perRun(bp(_).jobs), "count"),
      "functions.bpe_driver_gap_s" -> Metric(perRun(bp(_).gap), "s"),
      "dedup.wall_s" -> Metric(perRun(dd(_).wall), "s"),
      "dedup.cpu_s" -> Metric(perRun(dd(_).cpu), "s"),
      "dedup.jobs" -> Metric(perRun(dd(_).jobs), "count"),
      "dedup.shuffle_mb" -> Metric(perRun(dd(_).shuffleMb), "MB"))
  }

  /** Normalized text: lower case, non-alphanumerics to spaces, collapsed. */
  private def norm(s: String): String =
    s.toLowerCase.replaceAll("[^\\p{L}\\p{N} ]", " ").trim.replaceAll(" +", " ")

  def verify(spark: SparkSession, out: Outcome): Unit = {
    val hashes = ArrayBuffer.empty[String]
    val exactLosers = corpus.exactGroups.flatMap(_.tail).toSet
    for ((dir, (run, _, _)) <- outputs.zip(runWalls)) {
      val rows = spark.read.parquet(dir.getPath)
        .select("doc_id", "clean", "lang_pred", "split").collect()
      val ids = rows.map(_.getLong(0))
      out.check(s"curate run $run: output ids are input ids",
        ids.forall(corpus.allIds) && ids.distinct.length == ids.length)
      val texts = rows.map(r => norm(r.getString(1)))
      out.check(s"curate run $run: no two kept docs share normalized text",
        texts.distinct.length == texts.length)
      val leaked = ids.filter(exactLosers)
      out.check(s"curate run $run: every planted exact duplicate removed", leaked.isEmpty,
        s"${leaked.length} duplicate copies kept")
      hashes += Inputs.sha(rows.map(r => s"${r.get(0)}|${r.get(2)}|${r.get(3)}|${r.get(1)}\n")
        .sorted.toSeq ++ merges(run))
    }
    out.check("curate: result hash stable across runs", hashes.distinct.size == 1,
      hashes.distinct.mkString(","))
    out.info("result_sha") = hashes.headOption.getOrElse("")
    out.info("output_rows") = outputs.headOption
      .map(d => spark.read.parquet(d.getPath).count()).getOrElse(0L)
    // dedup layer quality, from a traced run's layer-boundary outputs
    outputs.zip(runWalls).find(_._2._2).map(_._1).foreach { d =>
      def ids(p: String) = spark.read.parquet(p).select("doc_id").collect().map(_.getLong(0)).toSet
      val reached = ids(d.getPath + ".seg0"); val kept = ids(d.getPath + ".seg1")
      val planted = (corpus.exactGroups.flatMap(_.tail) ++ corpus.nearClusters.flatMap(_.tail))
        .filter(reached)
      out.perLayer("dedup.recall") = Metric(
        planted.count(id => !kept(id)).toDouble / math.max(1, planted.size), "ratio")
      out.perLayer("dedup.kept_frac") = Metric(kept.size.toDouble / math.max(1, reached.size),
        "ratio")
    }
  }
}
