package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Caching
import graft.operators.Sinks
import graft.similarity.Search
import graft.streaming.Streams

/** The stream-index phase of `kb_extract`: newly landed documents are merged
  * into a live lexical index while probes read it.
  *
  * Set-up bootstraps the index over `baseDocs` documents. Each phase lands
  * `filesPerPhase` files in a watched directory. Every file admits
  * `docsPerFile` new documents and retires as many of the oldest, so the
  * index size stays constant: `writeLexDelta` rewrites every kept posting, so
  * a growing index would make the phase slower with every run. One
  * AvailableNow drain of `Streams.watchDirectory` + `toForeachBatch` takes one
  * file per micro-batch and runs `Search.lexIndexDelta` + `writeLexDelta` on
  * it. Meanwhile a load-generator thread sends `probesPerPhase` multi-query
  * `Search.bm25ManyFromIndex` probes against the live index on a fixed
  * schedule.
  */
final class LexStream(seed: Long) {
  val baseDocs = 600
  val docsPerFile = 10
  val filesPerPhase = 1
  val probesPerPhase = 2
  val probeEveryS = 2.0
  val queriesPerProbe = 2
  val buckets = 8
  private val schemaDdl = "doc_id BIGINT, text STRING, retire BIGINT"

  /** One micro-batch that took input, from its StreamingQueryProgress. */
  final case class Batch(run: Int, id: Long, startMs: Long, durations: Map[String, Long]) {
    def seconds(keys: String*): Double = keys.map(durations.getOrElse(_, 0L)).sum / 1e3
    def wall: Double = seconds("triggerExecution")
    def commitMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  }
  /** One probe: latency from its scheduled send to results collected, and
    * how late the load generator sent it.
    */
  final case class Probe(run: Int, latency: Double, late: Double)

  private var baseFile: File = _
  private var dir: File = _
  private var spark: SparkSession = _
  /** Landed file seq -> (run, landing time in epoch ms). */
  private val landedAt = scala.collection.mutable.LinkedHashMap.empty[Int, (Int, Long)]
  val batches = ArrayBuffer.empty[Batch]
  val probes = new ConcurrentLinkedQueue[Probe]()

  def generate(inputDir: File): Inputs.Written = {
    baseFile = new File(inputDir, "notes.jsonl")
    Inputs.bootstrapCorpus(seed, baseFile, baseDocs)
  }

  private def idx: String = new File(dir, "index").getPath
  private def inDir: File = new File(dir, "landed")

  def bootstrap(s: SparkSession, d: File): Unit = {
    spark = s; dir = d
    inDir.mkdirs()
    // probes read the index while micro-batches swap it: the pointer
    // protocol keeps each generation readable for keepMinAgeMs
    spark.conf.set("spark.graft.swap.protocol", "pointer")
    spark.conf.set("spark.graft.swap.keepMinAgeMs", "10000")
    Search.writeLexIndex(spark.read.schema("doc_id BIGINT, text STRING").json(baseFile.getPath),
      "doc_id", "text", idx, buckets = buckets)
  }

  /** Land the next file atomically in the watched directory. */
  private def land(run: Int): Unit = {
    val seq = landedAt.size
    val stage = new File(dir, s"stage/f-$seq.json")
    Inputs.writeLines(stage, (0 until docsPerFile).iterator.map { i =>
      val j = seq.toLong * docsPerFile + i
      val (id, text) = Inputs.streamDoc(seed, baseDocs, j)
      s"""{"doc_id":$id,"text":${Inputs.js(text)},"retire":${j + 1}}"""
    })
    Files.move(stage.toPath, new File(inDir, f"f-$seq%06d.json").toPath,
      StandardCopyOption.ATOMIC_MOVE)
    landedAt(seq) = (run, System.currentTimeMillis())
  }

  /** One micro-batch: retire-then-append maintenance of the live index. */
  private def maintain(batch: org.apache.spark.sql.DataFrame): Unit = {
    val (posts, doclens, stats, terms) = Search.lexIndexDelta(
      batch.select("doc_id", "text"), "doc_id", "text", idx, batch.select(col("retire").as("id")))
    Search.writeLexDelta(idx, posts, doclens, stats, terms)
    Caching.drain()
  }

  private def probeQueries(k: Int): Seq[(Long, String)] = {
    val rng = new Inputs.Rng(seed * 31 + k)
    (0 until queriesPerProbe).flatMap(q => Inputs.probeTerms(rng, 2).map(q.toLong -> _))
  }

  private def probe(k: Int): Array[Row] = {
    val s = spark
    import s.implicits._
    Search.bm25ManyFromIndex(spark, idx, probeQueries(k).toDF("qid", "term"), "qid", "term",
      k = 10).collect()
  }

  /** One phase of run `run` (-1 for the warm-up). When traced, every
    * micro-batch and probe is a span below the caller's open span. Throws
    * if a micro-batch or a probe failed.
    */
  def phase(run: Int, trace: Option[(Tracer, String)]): Unit = {
    (0 until filesPerPhase).foreach(_ => land(run))
    val parent = trace.map(_._1.currentSpan).orNull
    def sp[T](name: String)(body: => T): T = trace match {
      case Some((t, id)) => t.under(parent)(t.span(id, name)(body))
      case None => body
    }
    val probeErrors = new ConcurrentLinkedQueue[Throwable]()
    val start = Stats.now
    val loadgen = new Thread(() => (0 until probesPerPhase).foreach { k =>
      val due = start + k * probeEveryS
      while (Stats.now < due) Thread.sleep(math.max(1L, ((due - Stats.now) * 1000).toLong))
      val late = Stats.now - due
      try {
        sp("similarity.probe")(probe((run + 1) * probesPerPhase + k + 1))
        probes.add(Probe(run, Stats.now - due, late))
      } catch { case e: Throwable => probeErrors.add(e) }
    }, "perfbench-loadgen")
    def drain(): Unit = {
      val stream = Streams.watchDirectory(spark, inDir.getPath, format = "json",
        schemaDdl = Some(schemaDdl), maxFilesPerTrigger = 1)
      val q = Streams.toForeachBatch(stream, new File(dir, "ckpt").getPath,
        availableNow = true)((b, _) => sp("similarity.maintain")(maintain(b)))
      q.awaitTermination()
      q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
        batches += Batch(run, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
    }
    if (run < 0) {
      // the first writeLexDelta after writeLexIndex moves the index from
      // its flat layout to the pointer layout and deletes the flat files at
      // once, without the keepMinAgeMs floor, so a probe reading them fails:
      // the warm-up probes only after that first micro-batch
      drain(); loadgen.start(); loadgen.join()
    } else {
      loadgen.start()
      try drain() finally loadgen.join()
    }
    if (!probeErrors.isEmpty) throw probeErrors.peek()
  }

  /** File seq -> id of the micro-batch that took it, from the source log in
    * the checkpoint (plain and compacted entries both carry `batchId`).
    */
  private def fileBatches(): Map[Int, Long] = {
    val log = new File(dir, "ckpt/sources/0")
    val pat = """"path":"[^"]*/f-(\d+)\.json".*"batchId":(\d+)""".r.unanchored
    Option(log.listFiles()).toSeq.flatten.filter(f => f.isFile && !f.getName.startsWith("."))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toList finally src.close()
      }
      .collect { case pat(seq, b) => seq.toInt -> b.toLong }.toMap
  }

  /** End-to-end readings over the measured runs (printed, not gated). */
  def endToEnd(out: Outcome): Unit = {
    val commits = batches.map(b => b.id -> b.commitMs).toMap
    val taken = fileBatches()
    val ingest = landedAt.toSeq.collect { case (seq, (run, at)) if run >= 0 =>
      taken.get(seq).flatMap(commits.get).map(c => (c - at) / 1e3)
    }.flatten
    val lat = probes.asScala.toSeq.filter(_.run >= 0).map(_.latency)
    out.endToEnd ++= Seq(
      "ingest_p50_s" -> Metric(Stats.quantile(ingest, 0.5), "s"),
      "ingest_p90_s" -> Metric(Stats.quantile(ingest, 0.9), "s"),
      "probe_p50_s" -> Metric(Stats.quantile(lat, 0.5), "s"),
      "probe_p90_s" -> Metric(Stats.quantile(lat, 0.9), "s"))
    out.info ++= Seq("index_docs" -> baseDocs, "files_landed" -> landedAt.size,
      "micro_batches" -> batches.count(_.run >= 0), "probes" -> lat.size)
  }

  /** Bytes of the live generation of every index part, in MB. */
  private def indexMb(): Double = {
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("postings", "doclens", "stats", "terms").map { sub =>
      fs.getContentSummary(new org.apache.hadoop.fs.Path(Sinks.resolveLive(spark, s"$idx/$sub")))
        .getLength
    }.sum / (1024.0 * 1024.0)
  }

  /** Per-layer metrics: stream counters from StreamingQueryProgress over the
    * measured runs; span counters from the traced runs in `traces`.
    */
  def layers(t: Tracer, traces: Set[String], out: Outcome): Unit = {
    val timed = batches.filter(_.run >= 0).toSeq
    def med(xs: Seq[Double]): Double = Stats.median(xs)
    val spans = t.allSpans.filter(s => traces(s.trace))
    val maint = spans.filter(_.name == "similarity.maintain").map(t.subtree)
    val probeSpans = spans.filter(_.name == "similarity.probe").map(t.subtree)
    val postingRows = Streams.readIndex(spark, s"$idx/postings", recursive = false).count()
    val late = probes.asScala.toSeq.filter(_.run >= 0).map(_.late)
    out.perLayer ++= Seq(
      "streaming.batches" -> Metric(
        med(timed.groupBy(_.run).values.map(_.size.toDouble).toSeq), "count"),
      "streaming.batch_p50_s" -> Metric(med(timed.map(_.wall)), "s"),
      "streaming.plan_s" -> Metric(med(timed.map(_.seconds("queryPlanning"))), "s"),
      "streaming.list_s" -> Metric(med(timed.map(_.seconds("latestOffset", "getBatch"))), "s"),
      "streaming.commit_s" -> Metric(med(timed.map(_.seconds("walCommit", "commitOffsets"))), "s"),
      // every job of a micro-batch runs inside its maintenance call
      "streaming.jobs_per_batch" -> Metric(med(maint.map(_.jobs.toDouble)), "count"),
      "similarity.maintain_p50_s" -> Metric(med(maint.map(_.wall)), "s"),
      "similarity.maintain_jobs" -> Metric(med(maint.map(_.jobs.toDouble)), "count"),
      "similarity.write_amp" -> Metric(med(maint.map(_.outRecs.toDouble / docsPerFile)),
        "rows/doc"),
      "similarity.index_mb" -> Metric(indexMb(), "MB"),
      "similarity.probe_p50_s" -> Metric(med(probeSpans.map(_.wall)), "s"),
      "similarity.probe_jobs" -> Metric(med(probeSpans.map(_.jobs.toDouble)), "count"),
      "similarity.probe_scan_frac" -> Metric(
        med(probeSpans.map(_.inRecs.toDouble / math.max(1L, postingRows))), "ratio"),
      "loadgen.late_p90_s" -> Metric(Stats.quantile(late, 0.9), "s"))
  }

  def verify(out: Outcome): Unit = {
    // final membership: the newest `baseDocs` ids (each admission retired
    // the oldest live document)
    val admitted = landedAt.size.toLong * docsPerFile
    val docs = spark.read.schema("doc_id BIGINT, text STRING").json(baseFile.getPath)
      .unionByName(spark.read.schema(schemaDdl).json(inDir.getPath).select("doc_id", "text"))
      .filter(col("doc_id").between(admitted + 1, admitted + baseDocs)).persist()
    val scratch = new File(dir, "scratch-index").getPath
    Search.writeLexIndex(docs, "doc_id", "text", scratch, buckets = buckets)
    def postings(d: String): Seq[String] = Streams.readIndex(spark, s"$d/postings",
        recursive = false)
      .select(col("id"), col("term"), col("tf"), col("dl"), col("bucket").cast("long"))
      .collect().map(_.mkString("|")).sorted.toSeq
    val live = postings(idx); val fresh = postings(scratch)
    val extra = live.diff(fresh).size; val missing = fresh.diff(live).size
    out.check("kb_extract index: maintained postings equal a from-scratch writeLexIndex",
      extra == 0 && missing == 0, s"$extra extra, $missing missing")
    val many = probe(0)
    val ok = probeQueries(0).groupBy(_._1).toSeq.forall { case (qid, ts) =>
      val got = many.filter(_.getAs[Long]("query_id") == qid)
        .map(r => (r.getAs[Any]("id").toString, r.getAs[Double]("score")))
        .sortBy(x => (-x._2, x._1))
      val want = Search.bm25TopK(docs, "doc_id", "text", ts.map(_._2), 10).collect()
        .map(r => (r.getAs[Any]("id").toString, r.getAs[Double]("score")))
        .sortBy(x => (-x._2, x._1))
      got.toSeq == want.toSeq
    }
    out.check("kb_extract index: final probe equals bm25TopK over the final membership", ok)
    docs.unpersist()
    out.info("index_sha") = Inputs.sha(fresh.map(_ + "\n"))
  }
}
