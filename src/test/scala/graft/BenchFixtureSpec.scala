package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The harness fixture Bench and Prof share: the split copy of the sf dir
  * (file count by table size) and the guard that keeps a filtered run off
  * the committed full-suite artifact.
  */
class BenchFixtureSpec extends SparkSpec {

  test("split fixture: cpus files for >= 20000 rows, 8 for >= 2000, " +
       "1 otherwise") {
    // sf0.001 has no table past 20000 rows: grow lineitem 4x (24000) and
    // orders 2x (3000) in a copy so every branch of the rule is hit
    val src = Files.createTempDirectory("graft_fixture_src").toString
    val grow = Map("lineitem" -> 4, "orders" -> 2)
    for (t <- sources.Tables.names) {
      val df = spark.read.parquet(s"$sfDir/$t.parquet")
      grow.get(t) match {
        case Some(k) => Seq.fill(k)(df).reduce(_ union _).coalesce(1)
          .write.parquet(s"$src/$t.parquet")
        case None => Files.copy(Paths.get(s"$sfDir/$t.parquet"),
          Paths.get(s"$src/$t.parquet"))
      }
    }
    val cpus = 4
    val split = Bench.splitFixture(spark, src, cpus)
    assert(split != src, "the split fell back to the source dir")
    for (t <- sources.Tables.names) {
      val rows = spark.read.parquet(s"$src/$t.parquet").count()
      val files = Files.list(Paths.get(s"$split/$t.parquet")).iterator.asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      val expected = if (rows >= 20000) cpus else if (rows >= 2000) 8 else 1
      assert(files == expected, s"$t: $rows rows in $files files")
      assert(spark.read.parquet(s"$split/$t.parquet").count() == rows)
    }
    assert(spark.read.parquet(s"$src/lineitem.parquet").count() >= 20000)
  }

  test("a filtered run never writes the committed full-suite artifact") {
    val subset = "/tmp/BENCH_SUBSET.json"
    assert(Bench.fullArtifactPath(None, filtered = false) ==
      "plans/BENCH_FULL.json")
    assert(Bench.fullArtifactPath(None, filtered = true) == subset)
    for (p <- Seq("plans/BENCH_FULL.json", "/repo/plans/other.json",
                  "/elsewhere/BENCH_FULL.json"))
      assert(Bench.fullArtifactPath(Some(p), filtered = true) == subset, p)
    assert(Bench.fullArtifactPath(Some("/tmp/mine.json"), filtered = true) ==
      "/tmp/mine.json")
    assert(Bench.fullArtifactPath(Some("plans/BENCH_FULL.json"),
      filtered = false) == "plans/BENCH_FULL.json")
  }
}
