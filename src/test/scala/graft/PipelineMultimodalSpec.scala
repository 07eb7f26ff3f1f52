package graft

import org.apache.spark.sql.functions._

import graft.json.TreeWalk
import graft.multimodal.Multimodal
import graft.operators.Ops
import graft.pipeline.Pipeline
import graft.sources.Sources

class PipelineMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("transformAt rewrites a nested struct field in place") {
    val df = Seq((1L, 10.0)).toDF("id", "v")
      .select(col("id"), struct(struct(col("v").as("x")).as("inner")).as("pay"))
    val got = Ops.transformAt(df, "pay.inner.x", _ * 3)
      .select(col("pay.inner.x")).as[Double].head()
    assert(got == 30.0)
    val flat = Ops.transformAt(Seq(("a")).toDF("s"), "s", upper(_)).as[String].head()
    assert(flat == "A")
  }

  test("transformEachAt maps over an array at a nested path") {
    val df = Seq((1L, Seq(1, 2, 3))).toDF("id", "xs")
      .select(col("id"), struct(col("xs")).as("pay"))
    val got = Ops.transformEachAt(df, "pay.xs", _ + 10)
      .select(col("pay.xs")).as[Seq[Int]].head()
    assert(got == Seq(11, 12, 13))
  }

  test("extract runs multiple labeled captures sharing a prefix") {
    val df = Seq((1L, ("o1", Seq(("s1", 2), ("s2", 3))))).toDF("id", "raw")
      .select(col("id"), struct(
        struct(col("raw._1").as("owner_name")).as("owner"),
        transform(col("raw._2"),
          x => struct(x.getField("_1").as("sku"), x.getField("_2").as("qty"))).as("items"))
        .as("doc"))
    val got = TreeWalk.extract(df,
      Seq(TreeWalk.Capture("owner_name", "o"), TreeWalk.Capture("sku", "i")),
      Seq("o.owner_name" -> "owner", "i.sku" -> "sku", "i.qty" -> "qty"),
      keep = Seq("id"))
    assert(got.as[(Long, String, String, Int)].collect().toSet ==
      Set((1L, "o1", "s1", 2), (1L, "o1", "s2", 3)))
  }

  test("relations emits distinct edge triples; entities dedup on id") {
    val df = Seq(
      (1L, "alice", Seq("p1", "p2")), (2L, "alice", Seq("p1")))
      .toDF("id", "raw_owner", "raw_parts")
      .select(col("id"), struct(
        struct(col("raw_owner").as("owner_id")).as("owner"),
        transform(col("raw_parts"), p => struct(p.as("part_id"))).as("parts")).as("doc"))
    val edges = TreeWalk.relations(df,
      TreeWalk.Capture("owner_id", "o"), "owner_id",
      TreeWalk.Capture("part_id", "p"), "part_id", "HAS")
    assert(edges.as[(String, String, String)].collect().toSet ==
      Set(("alice", "p1", "HAS"), ("alice", "p2", "HAS")))
    val ents = TreeWalk.entities(df, TreeWalk.Capture("owner_id", "o"), "owner_id")
    assert(ents.count() == 1)
  }

  test("Pipeline resolves a DAG with fan-out and fan-in") {
    val p = Pipeline.empty
      .source("nums", spark.range(10).toDF("n"))
      .stage("evens", "nums")(_.filter(col("n") % 2 === 0))
      .stage("odds", "nums")(_.filter(col("n") % 2 === 1))
      .fanIn("all", Seq("evens", "odds"))()
      .stage("total", "all")(_.agg(sum("n").as("s")))
    assert(p.output("total").as[Long].head() == 45L)
    intercept[IllegalArgumentException] { Pipeline.empty.stage("x", "missing")(identity) }
    intercept[IllegalArgumentException] {
      Pipeline.empty.source("a", spark.range(1).toDF())
        .source("a", spark.range(1).toDF())
    }
  }

  test("a twoPass stage derives its computed input once; drain releases it") {
    spark.catalog.clearCache() // other suites' leftovers are not ours
    // counts the rows the tagging projection evaluates: once per derivation
    val evals = spark.sparkContext.longAccumulator("twoPass-evals")
    val tag = udf { (n: Long) => evals.add(1); Seq("a", "b", "c")((n % 3).toInt) }
    def survivors(twoPass: Boolean): Set[Long] = {
      evals.reset()
      val p = Pipeline.empty
        .source("raw", spark.range(300).toDF("n"))
        .stage("tagged", "raw")(_.withColumn("g", tag(col("n"))))
        .stage("mix", "tagged", twoPass)(Ops.resampleMixture(_, "n", "g",
          Map("a" -> 2, "b" -> 1, "c" -> 1)))
      p.output("mix").select("n").as[Long].collect().toSet
    }
    val plain = survivors(twoPass = false)
    assert(evals.value >= 600L, "control: the count job and the filter each derive it")
    val declared = survivors(twoPass = true)
    assert(evals.value == 300L, s"input derived ${evals.value / 300.0} times")
    assert(declared == plain && declared.nonEmpty)
    assert(!spark.sharedState.cacheManager.isEmpty)
    Caching.drain()
    assert(spark.sharedState.cacheManager.isEmpty,
      "the materialized input outlived Caching.drain()")
  }

  test("a twoPass stage over an already persisted input leaves that cache " +
       "to its owner") {
    spark.catalog.clearCache() // other suites' leftovers are not ours
    val own = spark.range(100).toDF("v").persist()
    val hist = Pipeline.empty.source("own", own)
      .stage("hist", "own", twoPass = true)(Ops.histogram(_, "v", 4))
      .output("hist")
    assert(hist.select(sum("n")).as[Long].head() == 100L)
    Caching.drain()
    assert(own.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "the pipeline persisted and drained a frame the caller had cached")
    own.unpersist(blocking = true)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("recorder sink appends across runs; blackHole counts everything") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rec").toString + "/log"
    graft.operators.Sinks.recorder(spark.range(3).toDF("n"), dir)
    graft.operators.Sinks.recorder(spark.range(2).toDF("n"), dir)
    assert(spark.read.parquet(dir).count() == 5)
    assert(graft.operators.Sinks.blackHole(spark.range(7).toDF()) == 7L)
  }

  test("jdbcOptions builds a partitioned read spec") {
    val opts = Sources.jdbcOptions("jdbc:mysql://h/db", "t", Some("id"), 0, 1000, 8,
      Map("user" -> "u"))
    assert(opts("partitionColumn") == "id" && opts("numPartitions") == "8" &&
      opts("dbtable") == "t" && opts("user") == "u")
    assert(!Sources.jdbcOptions("u", "t").contains("partitionColumn"))
  }

  test("paginatedApi fetches pages distributed with a pluggable fetcher") {
    val df = Sources.paginatedApi(spark, 5, p => Seq(s"a$p", s"b$p"), partitions = 2)
    assert(df.count() == 10)
    assert(df.filter(col("page") === 3).select("body").as[String].collect().toSet ==
      Set("a3", "b3"))
    assert(df.rdd.getNumPartitions == 2)
  }

  test("withRetries retries with capped exponential backoff, then rethrows") {
    // flaky: fails 3 times, then succeeds — retry schedule must be
    // 100, 200, 400 (doubling), and the result must come through
    var calls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val flaky = (u: String) => {
      calls += 1
      if (calls <= 3) throw new RuntimeException(s"boom $calls") else s"ok:$u"
    }
    val got = Sources.withRetries(flaky, maxRetries = 5, sleep = sleeps.+=(_))("x")
    assert(got == "ok:x" && calls == 4)
    assert(sleeps.toSeq == Seq(100L, 200L, 400L))
    // backoff caps at maxBackoffMs; exhausted retries rethrow the last cause
    var always = 0
    val dead = (_: String) => { always += 1; throw new RuntimeException(s"dead $always") }
    val sleeps2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ex = intercept[RuntimeException] {
      Sources.withRetries(dead, maxRetries = 4, initialBackoffMs = 300L,
        maxBackoffMs = 1000L, sleep = sleeps2.+=(_))("y")
    }
    assert(ex.getMessage.contains("failed after 4 retries"))
    assert(ex.getCause.getMessage == "dead 5") // initial try + 4 retries
    assert(sleeps2.toSeq == Seq(300L, 600L, 1000L, 1000L))
    // the wrapped fetch is serializable — it must survive a Spark closure
    val df = Sources.paginatedApi(spark, 3,
      Sources.withRetries((p: Long) => Seq(s"v$p"), maxRetries = 1), partitions = 2)
    assert(df.count() == 3)
  }

  test("paginatedApiChase follows next-page keys and stops on missing key") {
    // fake API: offset "" → next "a" → next "b" → terminal (no key)
    val pages = Map(
      "u/" -> """{"data": [1, 2], "paging": {"next": "a"}}""",
      "u/a" -> """{"data": [3], "paging": {"next": "b"}}""",
      "u/b" -> """{"data": [4]}""")
    val df = Sources.paginatedApiChase(spark, o => s"u/$o", pages(_),
      Sources.jsonKey("next"))
    assert(df.orderBy("page").select("offset").as[String].collect().toSeq
      == Seq("", "a", "b"))
    // normal end-of-pages is NOT flagged as a cycle
    assert(df.filter(col("cycled")).count() == 0)
    // cycle guard: an API that points back at a seen offset terminates,
    // and the loop is signalled in-band on every row (vs silent truncation)
    val cyc = Sources.paginatedApiChase(spark, o => s"u/$o",
      Map("u/" -> """{"next": "a"}""", "u/a" -> """{"next": "a"}""")(_),
      Sources.jsonKey("next"))
    assert(cyc.count() == 2 && cyc.filter(col("cycled")).count() == 2)
    // driver accumulation is bounded: with flushEvery=3, a 9-page walk of
    // 64 KiB bodies flushes the in-memory chunk to parquet three times (it
    // CLEARS on every flush — at most 3 bodies live at once) and the
    // read-back frame is complete, page-ordered, and byte-identical
    val big = "x" * 65536
    val chain = (0 until 9).map(i =>
      s"u/o$i" -> s"""{"body": "$big", "next": ${if (i < 8) s"\"o${i + 1}\"" else "null"}}""").toMap
    val spilledDf = Sources.paginatedApiChase(spark, o => s"u/$o", chain(_),
      Sources.jsonKey("next"), firstOffset = "o0", maxPages = 10, flushEvery = 3)
    val got = spilledDf.orderBy("page")
      .select("page", "offset", "cycled").as[(Long, String, Boolean)].collect()
    assert(got.toSeq == (0 until 9).map(i => (i.toLong, s"o$i", false)))
    assert(spilledDf.filter(col("body").contains(big)).count() == 9)
    // maxPages is a loud cap, not a silent truncation
    intercept[IllegalArgumentException] {
      // each page's next offset is the full url — strictly growing, no cycle
      Sources.paginatedApiChase(spark, o => s"u/$o",
        (u: String) => s"""{"next": "$u"}""",
        Sources.jsonKey("next"), maxPages = 5).count()
    }
    // jsonKey descends into nested objects and treats junk as terminal
    assert(Sources.jsonKey("next")("""{"a": {"b": {"next": "deep"}}}""")
      == Some("deep"))
    assert(Sources.jsonKey("next")("""{"next": null}""").isEmpty)
    assert(Sources.jsonKey("next")("not json at all").isEmpty)
  }

  test("httpTemplate fills url placeholders from row fields and constants") {
    val in = Seq((7L, "us"), (9L, "fr")).toDF("uid", "cc")
    val got = Sources.httpTemplate(in, "http://h/{v}/u/{uid}?c={cc}",
        url => Seq(s"ok:$url"), keep = Seq("uid"), constants = Map("v" -> "v1"))
      .as[(Long, String, String)].collect().toSet
    assert(got == Set(
      (7L, "http://h/v1/u/7?c=us", "ok:http://h/v1/u/7?c=us"),
      (9L, "http://h/v1/u/9?c=fr", "ok:http://h/v1/u/9?c=fr")))
    // unknown placeholder fails at plan time, not per row
    intercept[org.apache.spark.sql.AnalysisException] {
      Sources.httpTemplate(in, "http://h/{nope}", _ => Nil).collect()
    }
    // a fetch returning several payloads yields several rows
    assert(Sources.httpTemplate(in, "u/{uid}", u => Seq(u, u)).count() == 4)
  }

  test("fake media decode is deterministic and frame sampling follows stride") {
    val docs = Seq((0L, "x"), (5L, "y")).toDF("doc_id", "text")
    val media = Multimodal.fakeMedia(spark, docs, "doc_id")
    val feats = Multimodal.decodeFeatures(spark, media).collect()
    val again = Multimodal.decodeFeatures(spark,
      Multimodal.fakeMedia(spark, docs, "doc_id")).collect()
    assert(feats.map(_.byte_sum).toSeq == again.map(_.byte_sum).toSeq)
    val m5 = feats.find(_.id == 5L).get
    assert(m5.format == "mp4" && m5.frame_hashes.nonEmpty)
    val sampled = Multimodal.frameSample(media.toDF(), 2)
    assert(sampled.filter(col("id") === 5).count() == (8 + 5 % 16 + 1) / 2)
  }

  test("decoder seam: a swapped Decoder reaches the same pipeline shape, " +
       "and ImageIoDecoder really decodes a PNG") {
    val docs = Seq((0L, "x"), (5L, "y")).toDF("doc_id", "text")
    val media = Multimodal.fakeMedia(spark, docs, "doc_id")
    // swapping the decoder changes VALUES only — schema, row count, and
    // every downstream plan stay identical (the seam's whole contract)
    val fake = Multimodal.decodeFeatures(spark, media)
    val swapped = Multimodal.decodeFeatures(spark,
      Multimodal.fakeMedia(spark, docs, "doc_id"),
      decoder = Multimodal.ImageIoDecoder)
    assert(fake.schema == swapped.schema)
    assert(fake.count() == swapped.count())
    // fakeMedia payloads are not parseable images, so ImageIoDecoder's
    // corrupt-input fallback kicks in and values agree with the fake —
    // the batch survives unparseable bytes instead of dying
    assert(fake.collect().map(f => (f.id, f.byte_sum)).toSeq.sorted ==
      swapped.collect().map(f => (f.id, f.byte_sum)).toSeq.sorted)
    // a REAL PNG (rendered with the same JDK imaging stack) decodes to
    // pixel-luminance stats: 2x2 pure white -> lum = 4 * 3 * 255
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 2).foreach(y => (0 until 2).foreach(x =>
      img.setRGB(x, y, 0xffffff)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val m = Multimodal.Media(1L, bos.toByteArray, "png", 2, 2, 1)
    val got = Multimodal.ImageIoDecoder.decode(m, frameStride = 1)
    assert(got.byte_sum == 4L * 3L * 255L)
    assert(got.mean_byte == 255.0)
    assert(got.n_bytes == bos.toByteArray.length)
    assert(got.frame_hashes == Seq(31L * (4L * 3L * 255L)))
  }

  test("config decode_features op: source → decode → filter from JSON " +
       "config equals the Scala path, for both media adapters") {
    val base = java.nio.file.Files.createTempDirectory("mmcfg").toString
    val docs = Seq((0L, "x"), (5L, "y"), (11L, "z")).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$base/docs")
    // the real-crawl shape: media COLUMNS persisted, read back through the
    // "columns" adapter with the imageio decoder (fake payloads fall back)
    Multimodal.fakeMedia(spark, docs, "doc_id").toDF()
      .write.mode("overwrite").parquet(s"$base/media")
    def run(conf: String) =
      graft.pipeline.ConfigPipeline.fromJson(spark, conf)
    val viaFake = run(
      s"""{"stages": [
         | {"name": "src", "op": "parquet", "path": "$base/docs"},
         | {"name": "feats", "op": "decode_features", "from": "src",
         |  "media": "fake", "id": "doc_id", "decoder": "fake"},
         | {"name": "big", "op": "filter", "from": "feats",
         |  "expr": "n_bytes >= 300"}]}""".stripMargin).output("big")
    val direct = Multimodal.decodeFeatures(spark,
        Multimodal.fakeMedia(spark, docs, "doc_id")).toDF()
      .filter(col("n_bytes") >= 300)
    assert(viaFake.schema == direct.schema)
    assert(viaFake.collect().map(_.getLong(0)).sorted.toSeq ==
      direct.collect().map(_.getLong(0)).sorted.toSeq && direct.count() > 0)
    val viaColumns = run(
      s"""{"stages": [
         | {"name": "m", "op": "parquet", "path": "$base/media"},
         | {"name": "feats", "op": "decode_features", "from": "m",
         |  "media": "columns", "decoder": "imageio"}]}""".stripMargin)
      .output("feats")
    assert(viaColumns.select("id", "byte_sum")
        .as[(Long, Long)].collect().sorted.toSeq ==
      direct.unionByName(Multimodal.decodeFeatures(spark,
          Multimodal.fakeMedia(spark, docs, "doc_id")).toDF()
        .filter(col("n_bytes") < 300))
        .select("id", "byte_sum").as[(Long, Long)].collect().sorted.toSeq)
    // unknown decoder aborts loudly at compile, not silently at runtime
    // ConfigPipeline wraps stage-compile failures with the stage context
    val e = intercept[Exception] { run(
      s"""{"stages": [
         | {"name": "src", "op": "parquet", "path": "$base/docs"},
         | {"name": "f", "op": "decode_features", "from": "src",
         |  "media": "fake", "id": "doc_id", "decoder": "opencv"}]}""".stripMargin)
      .output("f") }
    assert(e.getMessage.contains("unknown decoder"))
  }
}
