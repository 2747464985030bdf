package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.fixtures.Corpus

/** One planned input document: the source documents `first until
  * first + count` (space-joined) become one webpage row with `doc_id`. */
final case class Plan(doc_id: Long, first: Long, count: Int, hot: Boolean)

/** Generator output row: the webpage the program reads, plus what the checks
  * need — the expected text built here from the generator's words, the
  * generator's format label and the url's resume bucket. */
final case class GenRow(
    url: String, warc_ts: java.sql.Timestamp, html: Array[Byte], text: String, lang: String,
    expected: String, fmt: String, bucket: Int, doc_id: Long)

/** Seeded input generation. Source documents mimic the shape of the sf0.1
  * `documents.parquet` table (10-100 words from a 31-word vocabulary, joined
  * by single spaces; five languages; twenty sources), so every payload goes
  * through `fixtures.Corpus.buildPage`, the same builder the repository's
  * own corpora use. Every choice is a pure function of (seed, index). */
object Gen {

  val numBuckets = 64

  private val vocab = Array("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  private def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream << 56) ^ i * 0xBF58476D1CE4E5B9L)

  /** Fisher-Yates shuffle of `xs` driven by `r`. */
  def shuffled(r: SplittableRandom, xs: Seq[Int]): Array[Int] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  /** Words of source document `j`: 10-100 words, single-space joined. */
  def sourceText(seed: Long, j: Long, sb: java.lang.StringBuilder): Unit = {
    val r = rng(seed, 1, j)
    val n = 10 + r.nextInt(91)
    var k = 0
    while (k < n) {
      if (k > 0 || sb.length > 0) sb.append(' ')
      sb.append(vocab(r.nextInt(vocab.length)))
      k += 1
    }
  }

  private def langOf(seed: Long, docId: Long): String = {
    val u = rng(seed, 2, docId).nextInt(100)
    if (u < 41) "en" else if (u < 56) "zh" else if (u < 71) "es" else if (u < 86) "fr" else "de"
  }

  /** The expected extraction, computed apart from the program: the text cut
    * into paragraphs of 25 words, a last paragraph of fewer than 17 words
    * merged into the one before, paragraphs joined by '\n'. */
  def golden(text: String): String = {
    val words = text.split(' ')
    val paras = words.grouped(25).map(_.mkString(" ")).toVector
    val merged =
      if (paras.length > 1 && words.length % 25 != 0 && words.length % 25 < 17)
        paras.dropRight(2) :+ (paras(paras.length - 2) + " " + paras.last)
      else paras
    merged.mkString("\n")
  }

  /** The resume bucket, from the documented rule: the first four bytes of
    * MD5(url as UTF-8), read big-endian as a signed 32-bit value, floorMod
    * the bucket count. */
  def bucketOf(url: String): Int = {
    val d = MessageDigest.getInstance("MD5").digest(url.getBytes("UTF-8"))
    val v = ((d(0) & 0xff) << 24) | ((d(1) & 0xff) << 16) | ((d(2) & 0xff) << 8) | (d(3) & 0xff)
    Math.floorMod(v, numBuckets)
  }

  /** Format label the generator intends for `docId`: Corpus's routing wheel,
    * with gzip-wrapped html (every sixth id) labelled `gz`. */
  def fmtOf(docId: Long): String = {
    val f = Corpus.formatOf(docId)
    if (f == "html" && docId % 6 == 0) "gz" else f
  }

  /** Doc ids start at a seed-dependent base that is a multiple of every
    * variant period in Corpus (24 slots x lcm(1..10)), so the mix of
    * formats, templates, encodings and writer variants is the same for
    * every seed. */
  def base(seed: Long): Long = Math.floorMod(seed, 1000L) * 24L * 2520L * 10L

  /** Workload input plans. */
  def plans(workload: String, seed: Long, n: Int, tailDocs: Int, tailMaxChars: Int): Seq[Plan] = {
    val b = base(seed)
    workload match {
      case "crawl_full" =>
        (0 until n).map(i => Plan(b + i, i.toLong, 1, hot = false))
      case "html_hot_host" =>
        (0 until n).map { i =>
          Plan(b + 2L * i, i.toLong, 1, hot = rng(seed, 3, i).nextBoolean())
        }
      case "binary_tail_resume" =>
        // n small documents (one source document each) plus a tail of
        // tailDocs documents whose text sizes are log-spread from ~1 KB to
        // tailMaxChars: the k-th tail rank gets 1 KB * R^((k+u)/tailDocs),
        // u a seeded jitter in [0,1). Tail documents take seeded positions
        // among the non-pdf formats: pdf text longer than a few hundred
        // words does not round-trip byte-identically for some PdfWriter
        // layouts (see README), so pdf payloads stay one source document.
        val total = n + tailDocs
        val ids = (0 until total).map(i => b + 2L * i + 1)
        val tailPos = shuffled(rng(seed, 4, 0), ids.indices.filter(i => fmtOf(ids(i)) != "pdf"))
          .take(tailDocs)
        val ratio = tailMaxChars / 1024.0
        val counts = Array.fill(total)(1)
        tailPos.zipWithIndex.foreach { case (pos, k) =>
          val u = rng(seed, 5, k).nextDouble()
          counts(pos) =
            math.max(1, math.round(1024.0 * math.pow(ratio, (k + u) / tailDocs) / 300.0).toInt)
        }
        val firsts = counts.scanLeft(0L)(_ + _)
        ids.indices.map(i => Plan(ids(i), firsts(i), counts(i), hot = false))
    }
  }

  /** Build one generator row through `Corpus.buildPage`. */
  def build(seed: Long, p: Plan): GenRow = {
    val sb = new java.lang.StringBuilder()
    var j = p.first
    while (j < p.first + p.count) { sourceText(seed, j, sb); j += 1 }
    val text = sb.toString
    val doc = Corpus.Doc(p.doc_id, text, langOf(seed, p.doc_id), s"src${p.doc_id % 20}",
      text.length.toLong)
    val page = Corpus.buildPage(doc, skewHost = p.hot)
    GenRow(page.url, page.warc_ts, page.html, page.text, page.lang,
      golden(text), fmtOf(p.doc_id), bucketOf(page.url), p.doc_id)
  }

  /** Generate the workload's table at `dir`: the webpage columns the
    * program reads (url, warc_ts, html, text, lang) next to the columns
    * only the checks read (expected, fmt, bucket, doc_id). */
  def write(spark: SparkSession, dir: String, seed: Long, plan: Seq[Plan], files: Int): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(plan, files).map(p => build(seed, p)).toDS()
      .write.mode(SaveMode.Overwrite).parquet(dir)
  }
}
