package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.Extractor
import graft.extract.html.{BlockBuilder, Charsets, Classifier, HtmlTokenizer}
import graft.model.WebPage
import graft.pipeline.{ExtractionPipeline, ResumableRunner}

/** Per-layer probes for the traced run. Each layer is timed from outside,
  * around calls into its public functions; Spark task metrics come from the
  * trace's listener spans. A metric of a layer the workload does not run
  * (the sink on html_hot_host, a format absent from its inputs) reads 0. */
final class Layers(spark: SparkSession, b: Bench, tr: Trace, passes: Seq[PassStat]) {
  import Main.{median, secs}
  import spark.implicits._

  val formats: Seq[String] = Seq("html", "gz", "pdf", "docx", "pptx", "xlsx", "odt", "odp",
    "ods", "rtf", "doc", "xls", "ppt", "epub")
  val htmlStages: Seq[String] = Seq("decode", "tokenize", "blocks", "classify")
  val reps = 3
  /** Documents per format in the single-threaded kernel sample, and the
    * least time measured per format. */
  val sampleDocs = 48
  val minKernelS = 0.2

  private val threadMx =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def medianTime(name: String)(body: => Unit): Double =
    median((1 to reps).map(_ => secs(tr.span(name)(body))._2))

  private def ratio(xs: Seq[Double]): Double = {
    val m = median(xs)
    if (xs.isEmpty || m <= 0) 0.0 else xs.max / m
  }

  def metrics(): Map[String, (Double, String)] = {
    Trace.drain(spark.sparkContext)
    val spans = tr.all
    val byParent = spans.groupBy(_.parent)
    def below(id: Long): Vector[Span] =
      byParent.getOrElse(id, Vector.empty).flatMap(s => s +: below(s.id))
    val passSpans = spans.filter(_.name == "pass").sortBy(_.start)

    // exchange: per pass, the stage that writes the most shuffle bytes is the
    // balancing exchange's map side; the stage reading the most is the
    // kernel stage behind it.
    case class PassLayers(shuffleMb: Double, bytesRatio: Double, timeRatio: Double,
                          runS: Double, metricsS: Double, manifestS: Double)
    val perPass = passSpans.map { p =>
      val sub = below(p.id)
      val stages = sub.filter(_.name == "spark.stage")
      def attr(s: Span, k: String) = s.attrs.getOrElse(k, 0.0)
      val shuffleMb = if (stages.isEmpty) 0.0
        else stages.map(attr(_, "shuffle_write_bytes")).max / 1e6
      val kernelStage = if (stages.isEmpty) None else Some(stages.maxBy(attr(_, "shuffle_read_bytes")))
      val tasks = kernelStage.toVector.flatMap(k => byParent.getOrElse(k.id, Vector.empty))
      val run = sub.find(_.name == "call.ResumableRunner.run")
      val met = sub.find(_.name == "call.ExtractionPipeline.metrics")
      // manifest commit: from the end of the job that wrote the result rows
      // to the end of ResumableRunner.run
      val manifestS = run.map { r =>
        val jobs = below(r.id).filter(_.name == "spark.job")
        val writeJobEnd = jobs.filter(j => below(j.id).exists(s =>
          s.name == "spark.stage" && attr(s, "output_records") >= b.summary.docs && b.summary.docs > 0))
          .map(_.end).sorted.lastOption
        writeJobEnd.map(e => (r.end - e) / 1e9).getOrElse(0.0)
      }.getOrElse(0.0)
      PassLayers(shuffleMb, ratio(tasks.map(attr(_, "shuffle_read_bytes"))),
        ratio(tasks.map(attr(_, "run_ns"))), run.map(_.dur / 1e9).getOrElse(0.0),
        met.map(_.dur / 1e9).getOrElse(0.0), manifestS)
    }
    def pm(f: PassLayers => Double) = if (perPass.isEmpty) 0.0 else median(perPass.map(f))

    // scan: the columns both job paths read (the golden `text` column is
    // blanked before their exchange, so parquet skips it) into a no-op sink
    val pages = b.sparkPages
    val scanS = medianTime("layer.scan")(noop(pages.toDF().withColumn("text", lit(""))))

    // ResumableRunner.run's plan up to its exchange, built from its public
    // pieces
    lazy val remaining = ResumableRunner.remainingAfterManifest(
      pages.withColumn("bucket", ResumableRunner.bucketCol(col("url"), Gen.numBuckets)),
      b.doneBuckets).withColumn("text", lit(""))

    // exchange self time: the exchange's plan into a no-op sink, minus the
    // same plan without the repartition
    val exchangeS = b.workload match {
      case "html_hot_host" =>
        medianTime("layer.exchange")(noop(
          ExtractionPipeline.prepare(pages, Main.gatePartitions, carryGolden = false).toDF())) - scanS
      case _ =>
        medianTime("layer.exchange")(noop(remaining.repartition(col("bucket")))) -
          medianTime("layer.exchange.base")(noop(remaining))
    }

    // sink: ResumableRunner.run minus the same scan -> exchange -> kernel
    // plan into a no-op sink
    val (sinkS, files, outMb) = b.workload match {
      case "html_hot_host" => (0.0, 0.0, 0.0)
      case _ =>
        val kernelOnly = medianTime("layer.kernel.spark") {
          noop(remaining.repartition(col("bucket"))
            .select("bucket", "url", "warc_ts", "html", "text", "lang")
            .as[ResumableRunner.BucketedPage]
            .mapPartitions(_.map(p => Extractor.extractOne(
              WebPage(p.url, p.warc_ts, p.html, p.text, p.lang), p.bucket))).toDF())
        }
        val parts = Option(new File(s"${b.out}/results").listFiles).toSeq.flatten
          .filter(_.isDirectory).flatMap(d => Option(d.listFiles).toSeq.flatten)
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        (pm(_.runS) - kernelOnly, parts.length.toDouble, parts.map(_.length).sum / 1e6)
    }

    val kernel = kernelTable()
    val html = htmlStageTable()
    val s = b.summary

    val m = ListMap.newBuilder[String, (Double, String)]
    m += "scan.s" -> (scanS, "s")
    m += "scan.mb_per_s" -> (b.inputByteTotal / 1e6 / scanS, "MB/s")
    m += "exchange.s" -> (exchangeS, "s")
    m += "exchange.shuffle_mb" -> (pm(_.shuffleMb), "MB")
    m += "exchange.task_bytes_max_over_median" -> (pm(_.bytesRatio), "ratio")
    m += "exchange.task_s_max_over_median" -> (pm(_.timeRatio), "ratio")
    formats.foreach { f =>
      val (dps, mbps, alloc) = kernel.getOrElse(f, (0.0, 0.0, 0.0))
      m += s"kernel.$f.docs_per_s" -> (dps, "docs/s")
      m += s"kernel.$f.mb_per_s" -> (mbps, "MB/s")
      m += s"kernel.$f.alloc_bytes_per_doc" -> (alloc, "bytes/doc")
    }
    htmlStages.foreach { st =>
      val (ns, alloc) = html.getOrElse(st, (0.0, 0.0))
      m += s"kernel.html.$st.ns_per_doc" -> (ns, "ns/doc")
      m += s"kernel.html.$st.alloc_bytes_per_doc" -> (alloc, "bytes/doc")
    }
    m += "sink.s" -> (sinkS, "s")
    m += "sink.manifest_s" -> (pm(_.manifestS), "s")
    m += "sink.files" -> (files, "count")
    m += "sink.output_mb" -> (outMb, "MB")
    m += "metrics.s" -> (pm(_.metricsS), "s")
    m += "resume.buckets_run" -> (if (s == null) 0.0 else s.bucketsRun.toDouble, "count")
    m += "resume.docs_rerun" -> (if (s == null) 0.0 else s.docs.toDouble, "count")
    m += "jvm.gc_s" -> (median(passes.map(_.gcS)), "s")
    m += "jvm.gc_count" -> (median(passes.map(_.gcCount.toDouble)), "count")
    m += "trace.docs_per_s" -> (median(passes.map(p => p.docs / p.wallS)), "docs/s")
    m.result()
  }

  /** Fixed sample: the first [[sampleDocs]] documents of each format, by
    * doc_id, with their expected texts. */
  private def sample(): Map[String, Array[(WebPage, String)]] = {
    val g = b.sparkPages.toDF().join(b.expectedTable, "url")
    formats.flatMap { f =>
      val rows = g.filter(col("fmt") === f).orderBy("doc_id").limit(sampleDocs)
        .select("url", "warc_ts", "html", "text", "lang", "expected")
        .as[(String, java.sql.Timestamp, Array[Byte], String, String, String)].collect()
      if (rows.isEmpty) None
      else Some(f -> rows.map(r => (WebPage(r._1, r._2, r._3, r._4, r._5), r._6)))
    }.toMap
  }

  /** Single-threaded kernel throughput per format on this thread:
    * (docs/s, MB/s, allocated bytes/doc) through Extractor.extractOne. */
  private def kernelTable(): Map[String, (Double, Double, Double)] = {
    sample().map { case (f, docs) =>
      docs.foreach { case (p, exp) =>
        val r = Extractor.extractOne(p, 0)
        if (!r.success || r.text != exp) b.fail(s"kernel sample: ${p.url} ($f) not byte-identical")
      }
      val bytesPerSweep = docs.map(_._1.html.length.toLong).sum
      tr.span(s"kernel.$f") {
        var n = 0L; var bytes = 0L
        val a0 = threadMx.getCurrentThreadAllocatedBytes
        val t0 = System.nanoTime()
        while (n == 0 || System.nanoTime() - t0 < minKernelS * 1e9) {
          docs.foreach { case (p, _) => Extractor.extractOne(p, 0) }
          n += docs.length; bytes += bytesPerSweep
        }
        val s = (System.nanoTime() - t0) / 1e9
        val alloc = threadMx.getCurrentThreadAllocatedBytes - a0
        f -> (n / s, bytes / 1e6 / s, alloc.toDouble / n)
      }
    }
  }

  /** The html kernel's stages, each timed alone on the html sample:
    * (ns/doc, allocated bytes/doc). */
  private def htmlStageTable(): Map[String, (Double, Double)] = {
    val docs = sample().get("html").map(_.map(_._1.html)).getOrElse(Array.empty)
    if (docs.isEmpty) return Map.empty
    val strings = docs.map(Charsets.decode)
    val toks = strings.map(s => HtmlTokenizer.tokenize(s).toVector)
    val blocks = toks.map(t => BlockBuilder.build(t.iterator))
    def stage(name: String)(one: Int => Any): (String, (Double, Double)) = tr.span(s"kernel.html.$name") {
      (0 until docs.length).foreach(one) // warm
      var n = 0L
      val a0 = threadMx.getCurrentThreadAllocatedBytes
      val t0 = System.nanoTime()
      while (n == 0 || System.nanoTime() - t0 < minKernelS * 1e9) {
        var i = 0
        while (i < docs.length) { one(i); i += 1 }
        n += docs.length
      }
      val ns = (System.nanoTime() - t0).toDouble
      name -> (ns / n, (threadMx.getCurrentThreadAllocatedBytes - a0).toDouble / n)
    }
    Map(
      stage("decode")(i => Charsets.decode(docs(i))),
      stage("tokenize") { i =>
        val it = HtmlTokenizer.tokenize(strings(i))
        while (it.hasNext) it.next()
      },
      stage("blocks")(i => BlockBuilder.build(toks(i).iterator)),
      stage("classify")(i => Classifier.extractText(blocks(i))))
  }
}
