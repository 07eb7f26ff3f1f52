package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Everything here is plain JVM code (no Spark), so
  * the same seed yields byte-identical files on every run, and the program
  * under test only ever sees the files written here.
  */
object Inputs {

  final class Rng(seed: Long) {
    private val r = new java.util.SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def chance(p: Double): Boolean = r.nextDouble() < p
    def pick[A](xs: IndexedSeq[A]): A = xs(r.nextInt(xs.size))
    def shuffle[A](xs: IndexedSeq[A]): IndexedSeq[A] = {
      val a = xs.toArray[Any]
      var i = a.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
    }
  }

  /** Zipf(s) sampler over ranks 0 until n (inverse CDF by binary search). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(rng: Rng): Int = {
      val u = rng.int(1 << 30).toDouble / (1 << 30)
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  val stopwords: Map[String, IndexedSeq[String]] = Map(
    "en" -> Vector("the", "a", "of", "and", "is", "to", "in", "that", "it", "for"),
    "de" -> Vector("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "auf", "zu"),
    "es" -> Vector("el", "la", "de", "que", "y", "en", "un", "es", "no", "por"),
    "fr" -> Vector("le", "la", "de", "et", "est", "un", "une", "que", "pas", "pour"))
  val langs: IndexedSeq[String] = Vector("en", "en", "en", "de", "es", "fr")

  /** Content vocabulary: syllable words, some carrying a combining accent
    * (NFD form) so Unicode normalization has real work to do. Fixed (seed 7),
    * so every seed draws from the same language.
    */
  val vocab: IndexedSeq[String] = {
    val rng = new Rng(7L)
    val cons = "bcdfghjklmnprstvwz"; val vow = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 20000) {
      val sb = new StringBuilder
      for (_ <- 0 until rng.between(2, 4)) {
        sb += cons(rng.int(cons.length)); sb += vow(rng.int(vow.length))
        if (rng.chance(0.3)) sb += cons(rng.int(cons.length))
      }
      if (rng.chance(0.06)) sb ++= "é"
      seen += sb.toString
    }
    seen.toVector
  }
  private val zipf = new Zipf(vocab.size, 0.6)

  def sentence(rng: Rng, lang: String): String = {
    val sw = stopwords(lang)
    (0 until rng.between(8, 16)).map { _ =>
      if (rng.chance(0.08)) rng.pick(sw) else vocab(zipf.sample(rng))
    }.mkString(" ") + "."
  }

  def text(rng: Rng, lang: String, sentences: Int): String =
    (0 until sentences).map(_ => sentence(rng, lang)).mkString(" ")

  /** Probe terms: mid-frequency content words (not stop terms). */
  def probeTerms(rng: Rng, n: Int): IndexedSeq[String] =
    (0 until n).map(_ => vocab(rng.between(20, 400)))

  // ------------------------------------------------------------- file output

  final case class Written(rows: Long, bytes: Long, sha: String)

  /** Write lines to `file`; returns counts and a SHA-256 over the bytes. */
  def writeLines(file: File, lines: Iterator[String]): Written = {
    file.getParentFile.mkdirs()
    val md = MessageDigest.getInstance("SHA-256")
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(file), UTF_8))
    var rows = 0L; var bytes = 0L
    try lines.foreach { l =>
      val b = (l + "\n").getBytes(UTF_8)
      md.update(b); bytes += b.length; rows += 1
      w.write(l); w.write('\n')
    } finally w.close()
    Written(rows, bytes, hex(md.digest()))
  }

  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  def sha(parts: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.getBytes(UTF_8)))
    hex(md.digest()).take(16)
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
  def js(s: String): String = json.writeValueAsString(s)

  // ---------------------------------------------------------------- curate

  /** The curate corpus: HTML pages with planted exact duplicates, markup
    * variants (same visible text, different markup), near-duplicate
    * clusters (one token changed per copy) and low-quality pages
    * (`lorem ipsum` boilerplate; a sentence repeated many times).
    */
  final case class Corpus(rows: Long, bytes: Long, sha: String,
                          exactGroups: Seq[Seq[Long]], nearClusters: Seq[Seq[Long]],
                          lowQuality: Set[Long], allIds: Set[Long]) {
    def exactDupRows: Int = exactGroups.map(_.size - 1).sum
    def nearDupRows: Int = nearClusters.map(_.size - 1).sum
  }

  private def wrap(rng: Rng, visible: String, variant: Int): String = {
    val scripts = Vector("var n = 1; if (n < 2) { n = 2; }", "window.x = [1, 2];",
      "track('page');")
    val styles = Vector("p { color: red; }", "div.c { margin: 0; }", "h1 { font: x; }")
    val v = variant % 3
    s"<html><head><script type=\"text/javascript\">\n${scripts(v)}\n</script>" +
      s"<style>\n${styles(v)}\n</style></head>\n<body><!-- crawl v$variant\n" +
      s"artifact --><div class=\"c$v\"><p>$visible</p></div></body></html>"
  }

  def curate(seed: Long, file: File, uniqueDocs: Int): Corpus = {
    val rng = new Rng(seed * 1000003L + 11)
    // (html, lang, group tag) before id assignment
    final case class Row(html: String, lang: String, exact: Int, near: Int, low: Boolean)
    val rows = ArrayBuffer.empty[Row]
    val base = (0 until uniqueDocs).map { _ =>
      val lang = rng.pick(langs)
      (lang, text(rng, lang, rng.between(6, 9)))
    }
    var exactTag = 0; var nearTag = 0
    base.zipWithIndex.foreach { case ((lang, t), i) =>
      val kind = i % 20
      if (kind == 0 || kind == 1) { // exact copies (identical bytes)
        exactTag += 1
        val h = wrap(rng, t, 0)
        (0 until 1 + rng.between(1, 2)).foreach(_ => rows += Row(h, lang, exactTag, 0, low = false))
      } else if (kind == 2) { // markup variants: same visible text
        exactTag += 1
        (0 until 3).foreach(v => rows += Row(wrap(rng, t, v), lang, exactTag, 0, low = false))
      } else if (kind == 3 || kind == 4) { // near-duplicate cluster
        nearTag += 1
        rows += Row(wrap(rng, t, 0), lang, 0, nearTag, low = false)
        val toks = t.split(" ")
        (0 until 2).foreach { _ =>
          val c = toks.clone(); val p = rng.int(c.length - 1)
          c(p) = vocab(rng.between(1000, 19999))
          rows += Row(wrap(rng, c.mkString(" "), 0), lang, 0, nearTag, low = false)
        }
      } else if (kind == 5) { // lorem boilerplate: dropped by the C4 doc gate
        rows += Row(wrap(rng, "lorem ipsum dolor sit amet. " + t, 0), lang, 0, 0, low = true)
      } else if (kind == 6) { // repetition spam
        val s = sentence(rng, lang)
        rows += Row(wrap(rng, Seq.fill(8)(s).mkString(" "), 0), lang, 0, 0, low = true)
      } else rows += Row(wrap(rng, t, rng.int(3)), lang, 0, 0, low = false)
    }
    val shuffled = rng.shuffle(rows.toIndexedSeq)
    val withIds = shuffled.zipWithIndex.map { case (r, i) => (i + 1L, r) }
    val w = writeLines(file, withIds.iterator.map { case (id, r) =>
      s"""{"doc_id":$id,"html":${js(r.html)},"src_lang":"${r.lang}"}"""
    })
    Corpus(w.rows, w.bytes, w.sha.take(16),
      withIds.filter(_._2.exact > 0).groupBy(_._2.exact).values.map(_.map(_._1).sorted).toSeq,
      withIds.filter(_._2.near > 0).groupBy(_._2.near).values.map(_.map(_._1).sorted).toSeq,
      withIds.filter(_._2.low).map(_._1).toSet,
      withIds.map(_._1).toSet)
  }

  // ------------------------------------------------------------ kb_extract

  /** Raw-JSON order documents (order ⋈ customer ⋈ nested lineitems). Order
    * keys, customer keys and part keys live in disjoint ranges; a few
    * customer pairs share one name (so COREFER merges them); a planted share
    * of documents violates the schema.
    */
  final case class Orders(rows: Long, bytes: Long, sha: String, invalid: Set[Long],
                          customers: Int)

  val OrderKeyBase = 1000000L
  val PartKeyBase = 2000000L

  def orders(seed: Long, file: File, customers: Int, invalidPermille: Int): Orders = {
    val rng = new Rng(seed * 1000003L + 23)
    val names = Array.tabulate(customers)(c => f"Customer#${c + 1}%09d")
    (0 until customers / 20).foreach { _ =>
      val a = rng.int(customers); val b = rng.int(customers)
      names(b) = names(a)
    }
    val partZipf = new Zipf(3000, 0.9)
    var key = OrderKeyBase
    val invalid = scala.collection.mutable.Set.empty[Long]
    val lines = ArrayBuffer.empty[String]
    for (c <- 0 until customers) {
      var prev: Option[Long] = None
      var day = rng.between(0, 200)
      for (_ <- 0 until rng.between(1, 6)) {
        key += 1; day += rng.between(1, 20)
        val date = java.time.LocalDate.of(1995, 1, 1).plusDays(day.toLong).toString
        val items = (1 to rng.between(1, 5)).map { ln =>
          val qty = if (rng.chance(invalidPermille / 3000.0)) { invalid += key; "\"12\"" }
                    else rng.between(1, 50).toString
          s"""{"l_linenumber":$ln,"l_partkey":${PartKeyBase + partZipf.sample(rng)},"l_quantity":$qty}"""
        }
        val dropName = rng.chance(invalidPermille / 3000.0)
        val negPrice = rng.chance(invalidPermille / 3000.0)
        if (dropName || negPrice) invalid += key
        val cust = if (dropName) s"""{"c_custkey":${c + 1}}"""
                   else s"""{"c_custkey":${c + 1},"c_name":${js(names(c))}}"""
        val price = if (negPrice) -1.5 else rng.between(100, 90000) / 10.0
        val prevJs = prev.map(p => s""","prev_orderkey":$p""").getOrElse("")
        lines += s"""{"o_orderkey":$key$prevJs,"o_orderdate":"$date","o_totalprice":$price,""" +
          s""""customer":$cust,"lines":${items.mkString("[", ",", "]")}}"""
        prev = Some(key)
      }
    }
    val w = writeLines(file, rng.shuffle(lines.toIndexedSeq).iterator)
    Orders(w.rows, w.bytes, w.sha.take(16), invalid.toSet, customers)
  }

  val orderSchema: String =
    """{"type":"object","required":["o_orderkey","o_orderdate","o_totalprice","customer","lines"],
      |"properties":{
      | "o_orderkey":{"type":"integer"},
      | "prev_orderkey":{"type":"integer"},
      | "o_orderdate":{"type":"string","minLength":10,"maxLength":10},
      | "o_totalprice":{"type":"number","minimum":0},
      | "customer":{"type":"object","required":["c_custkey","c_name"],
      |   "properties":{"c_custkey":{"type":"integer"},"c_name":{"type":"string"}}},
      | "lines":{"type":"array","minItems":1,"items":{"type":"object",
      |   "required":["l_linenumber","l_partkey","l_quantity"],
      |   "properties":{"l_linenumber":{"type":"integer"},"l_partkey":{"type":"integer"},
      |     "l_quantity":{"type":"integer","minimum":1}}}}}}""".stripMargin

  // ------------------------------------------- kb_extract stream-index phase

  /** Document `j` of the stream (0-based admission order); ids continue after
    * the bootstrap corpus `1..base`. Deterministic per (seed, j).
    */
  def streamDoc(seed: Long, base: Int, j: Long): (Long, String) = {
    val rng = new Rng(seed * 1000003L + 31 + j * 7919L)
    val lang = rng.pick(langs)
    (base + j + 1, text(rng, lang, rng.between(3, 6)))
  }

  def bootstrapCorpus(seed: Long, file: File, base: Int): Written = {
    val rng = new Rng(seed * 1000003L + 37)
    writeLines(file, (1 to base).iterator.map { id =>
      val lang = rng.pick(langs)
      s"""{"doc_id":$id,"text":${js(text(rng, lang, rng.between(3, 6)))}}"""
    })
  }
}
