package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{ExtractionResult, ManifestEntry, WebPage}
import graft.pipeline.{ExtractionPipeline, ResumableRunner}

/** The extraction-job benchmark. One process runs one workload:
  *
  *   set-up (session, seeded inputs, warm-up passes)
  *   -> timed passes until `--seconds` of pass time is measured
  *   -> with `--trace 1`, per-layer probes.
  *
  * Every pass is one whole round of the same documents. After each pass,
  * untimed, its output rows are checked against the expected texts built
  * by [[Gen]]. The last stdout line is the result object; the line before
  * it is the full report, also written to `--report`.
  */
object Main {

  final case class Sizes(docs: Int, tailDocs: Int, tailMaxChars: Int, files: Int)

  /** Input sizes per workload. On a 4-core box an html_hot_host pass takes
    * about 1 s and a crawl_full pass about 3 s, most of it the sink's fixed
    * cost (64 bucket directories, manifest, metrics rollup), so more
    * crawl_full documents buy little steadiness for their time. */
  val sizes: Map[String, Sizes] = Map(
    "crawl_full" -> Sizes(6000, 0, 0, 8),
    "html_hot_host" -> Sizes(24000, 0, 0, 8),
    "binary_tail_resume" -> Sizes(1200, 48, 2 << 20, 8))

  /** Partition count handed to ExtractionPipeline.extract: the scaling
    * gate's constant (graft.Bench). */
  val gatePartitions = 64
  /** Untimed passes before timing; only the first is checked. Pass times
    * keep falling for several passes while the JIT compiles the job, so
    * timing starts near the plateau. html_hot_host's checked extraction and
    * binary_tail_resume's full first run come before these. */
  val warmupPasses: Map[String, Int] =
    Map("crawl_full" -> 5, "html_hot_host" -> 5, "binary_tail_resume" -> 1)
  val minPasses = 3

  private val threadMx =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  def allocatedTotal(): Long = threadMx.getTotalThreadAllocatedBytes
  def gcTotals(): (Double, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum / 1e3, gcs.map(_.getCollectionCount).sum)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, report: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match { case "1" => true; case "0" => false
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t") },
      need("work"), need("report"))
    require(sizes.contains(a.workload), s"unknown workload ${a.workload}; one of ${sizes.keys.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be >= 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors()
    new File(args.work).mkdirs()
    val (spark, sessionS) = secs {
      SparkSession.builder()
        .master(s"local[$nproc]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", nproc.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${args.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  session up in $sessionS%.2f s")
    try {
      val report = new Bench(spark, args, nproc, sessionS, t0).run()
      val text = Json.render(report)
      val w = new java.io.PrintWriter(args.report, "UTF-8")
      try w.println(text) finally w.close()
      println(text)
      println(Json.render(report("result")))
    } finally spark.stop()
  }
}

/** Per-pass measurement. */
final case class PassStat(wallS: Double, docs: Long, bytes: Long, allocBytes: Long,
                          gcS: Double, gcCount: Long, failed: Long)

/** Outcome of checking one pass's output rows. */
final case class Verdict(rows: Long, missing: Long, extra: Long, unsuccessful: Long,
                         mismatched: Long, bytes: Long, badByBucket: Map[Int, Long],
                         sample: Seq[String]) {
  def bad: Long = unsuccessful + mismatched
}

final class Bench(spark: SparkSession, args: Main.Args, nproc: Int, sessionS: Double, t0: Long) {
  import Main._
  import spark.implicits._

  private val dir = args.work
  private val sz = sizes(args.workload)
  private val problems = ArrayBuffer[String]()
  /** A few failed documents (url, fmt, size, success, error), for the report. */
  private val failureSample = scala.collection.mutable.LinkedHashSet[String]()
  private def expect(ok: Boolean, what: => String): Unit = if (!ok) problems += what
  private var trace: Option[Trace] = None
  private def span[T](name: String)(body: => T): T = trace.fold(body)(_.span(name)(body))

  // ---- inputs ----
  private val plan = Gen.plans(args.workload, args.seed, sz.docs, sz.tailDocs, sz.tailMaxChars)
  private val table = s"$dir/webpages"
  private val (_, genS) = secs(Gen.write(spark, table, args.seed, plan, sz.files))
  /** The program's input: the webpages columns of the generated table. */
  private def pages: Dataset[WebPage] =
    spark.read.parquet(table).select("url", "warc_ts", "html", "text", "lang").as[WebPage]
  private val expected: DataFrame = spark.read.parquet(table)
    .selectExpr("url", "expected", "fmt", "bucket", "doc_id", "length(html) AS size",
      "text = expected AS fixture_agrees")
  private val inputDocs: Long = plan.length.toLong
  /** Per bucket: (docs, payload bytes, rows whose fixture golden disagrees
    * with the expected text). */
  private val bucketStats: Map[Int, (Long, Long, Long)] = expected.groupBy("bucket")
    .agg(count(lit(1)), sum("size"), sum(when(col("fixture_agrees"), 0L).otherwise(1L)))
    .as[(Int, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
  private val bucketDocs: Map[Int, Long] = bucketStats.map { case (b, s) => b -> s._1 }
  private val bucketBytes: Map[Int, Long] = bucketStats.map { case (b, s) => b -> s._2 }
  /** Input byte total, from the parquet. */
  private val inputBytes: Long = bucketBytes.values.sum
  expect(bucketStats.values.map(_._3).sum == 0,
    "fixture text column disagrees with the independently built expected text")
  expect(bucketDocs.values.sum == inputDocs, "generated table size differs from the plan")

  /** Check result rows against the expected table: exactly one row per
    * input url, success and byte-identical text, original_size summing to
    * the input bytes. `corrupt` alters one expected text (self-check). */
  def verify(results: DataFrame, corrupt: Option[String] = None): Verdict = {
    val e = corrupt.fold(expected)(u => expected.withColumn("expected",
      when(col("url") === u, concat(col("expected"), lit("\u0001"))).otherwise(col("expected"))))
    val r = results.select(col("url").as("r_url"), col("success"), col("text"), col("original_size"),
      col("error"))
    val both = col("r_url").isNotNull && col("url").isNotNull
    val joined = r.join(e, r("r_url") === e("url"), "full_outer")
    val rows = joined
      .groupBy(coalesce(col("bucket"), lit(-1)).as("b"))
      .agg(count(col("r_url")), sum(when(col("r_url").isNull, 1L).otherwise(0L)),
        sum(when(col("url").isNull, 1L).otherwise(0L)),
        sum(when(both && !col("success"), 1L).otherwise(0L)),
        sum(when(both && col("success") && col("text") =!= col("expected"), 1L).otherwise(0L)),
        coalesce(sum(col("original_size")), lit(0L)))
      .as[(Int, Long, Long, Long, Long, Long, Long)].collect()
    Verdict(rows.map(_._2).sum, rows.map(_._3).sum, rows.map(_._4).sum, rows.map(_._5).sum,
      rows.map(_._6).sum, rows.map(_._7).sum,
      rows.map(x => x._1 -> (x._5 + x._6)).toMap,
      if (rows.forall(x => x._5 + x._6 == 0)) Nil
      else joined.filter(both && (!col("success") || col("text") =!= col("expected")))
        .select(concat_ws(" ", col("url"), col("fmt"), col("size").cast("string"),
          col("success").cast("string"), substring(col("error"), 1, 300)))
        .as[String].take(5).toSeq)
  }

  /** The verdict's whole-table checks, plus the corrupted-text self-check
    * on the first call. */
  private var selfChecked = false
  def checkAll(resultsPlan: DataFrame, what: String): Verdict = {
    val results = resultsPlan.persist()
    try checkAllOf(results, what) finally results.unpersist(blocking = true)
  }

  private def checkAllOf(results: DataFrame, what: String): Verdict = {
    val v = verify(results)
    expect(v.rows == inputDocs && v.missing == 0 && v.extra == 0,
      s"$what: ${v.rows} rows, ${v.missing} urls missing, ${v.extra} unknown urls for $inputDocs inputs")
    expect(v.bytes == inputBytes, s"$what: sum(original_size)=${v.bytes} but input bytes=$inputBytes")
    v.sample.foreach(x => if (failureSample.size < 10) failureSample += x)
    if (!selfChecked) {
      selfChecked = true
      val victim = expected.select("url").orderBy("url").head().getString(0)
      val c = verify(results, Some(victim))
      expect(c.mismatched == v.mismatched + 1,
        s"self-check: a corrupted expected text was not counted as a failure")
    }
    v
  }

  // ---- workloads ----
  private val outDir = s"$dir/out"
  private val runId = s"perfbench_${args.workload}_${args.seed}"
  private var lastSummary: ResumableRunner.RunSummary = _

  /** The production Main sequence: resumable run, then the metrics rollup. */
  private def runAndRollup(): Unit = {
    lastSummary = span("call.ResumableRunner.run") {
      ResumableRunner.run(spark, pages, outDir, runId, Gen.numBuckets)
    }
    span("call.ExtractionPipeline.metrics") {
      ExtractionPipeline.metrics(spark.read.parquet(s"$outDir/results").as[ExtractionResult], runId)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/metrics")
    }
  }

  private def readManifest(): Array[ManifestEntry] =
    spark.read.parquet(s"$outDir/manifest").as[ManifestEntry].collect()

  private def checkManifest(what: String): Unit = {
    val m = readManifest()
    expect(m.map(_.partition_id).toSet == bucketDocs.keySet && m.length == bucketDocs.size,
      s"$what: manifest covers ${m.length} buckets, input has ${bucketDocs.size}")
    expect(m.map(_.docs).sum == inputDocs, s"$what: manifest docs ${m.map(_.docs).sum} != $inputDocs")
    val mt = spark.read.parquet(s"$outDir/metrics").agg(sum("docs"), sum("bytes_in")).head()
    expect(mt.getLong(0) == inputDocs && mt.getLong(1) == inputBytes,
      s"$what: metrics rollup docs/bytes ${mt.getLong(0)}/${mt.getLong(1)}")
  }

  /** Buckets whose manifest rows are removed before each resume pass:
    * half of them, chosen by the seed. */
  private val resetBuckets: Set[Int] =
    Gen.shuffled(new java.util.SplittableRandom(args.seed ^ 0x5DEECE66DL), 0 until Gen.numBuckets)
      .take(Gen.numBuckets / 2).toSet
  private var fullManifest: Array[ManifestEntry] = Array.empty
  private var verifiedBad: Long = 0L

  /** Untimed preparation before a pass. */
  def before(): Unit = args.workload match {
    case "crawl_full" => deleteTree(new File(outDir))
    case "binary_tail_resume" =>
      fullManifest.filterNot(e => resetBuckets.contains(e.partition_id)).toSeq.toDS()
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/manifest")
    case _ =>
  }

  /** The timed job; returns (docs processed, bytes processed). */
  def job(): (Long, Long) = args.workload match {
    case "html_hot_host" =>
      val row = span("call.ExtractionPipeline.extract") {
        ExtractionPipeline.extract(pages, gatePartitions, carryGolden = false).toDF()
          .agg(count(lit(1)), sum(col("original_size")),
            sum(when(!col("success"), 1L).otherwise(0L))).head()
      }
      expect(row.getLong(0) == inputDocs && row.getLong(1) == inputBytes,
        s"count-only sink saw ${row.getLong(0)} docs / ${row.getLong(1)} bytes")
      (row.getLong(0), row.getLong(1))
    case "crawl_full" =>
      runAndRollup()
      (lastSummary.docs, inputBytes)
    case "binary_tail_resume" =>
      runAndRollup()
      (lastSummary.docs, resetBuckets.toSeq.map(b => bucketBytes.getOrElse(b, 0L)).sum)
  }

  /** Untimed check after a pass; returns the pass's failed documents. */
  def check(): Long = args.workload match {
    case "html_hot_host" =>
      verifiedBad // the extraction is a pure function of the payload
    case "crawl_full" =>
      val v = checkAll(spark.read.parquet(s"$outDir/results"), "crawl_full")
      val s = lastSummary
      expect(s.docs == inputDocs && s.docsTotal == inputDocs && s.bucketsRun == bucketDocs.size &&
        s.failures == v.unsuccessful, s"crawl_full: run summary $s")
      checkManifest("crawl_full")
      v.bad
    case "binary_tail_resume" =>
      val v = checkAll(spark.read.parquet(s"$outDir/results"), "binary_tail_resume")
      val s = lastSummary
      val rerun = resetBuckets.toSeq.map(b => bucketDocs.getOrElse(b, 0L)).sum
      val rerunBuckets = resetBuckets.count(bucketDocs.contains)
      expect(s.docs == rerun && s.bucketsRun == rerunBuckets && s.docsTotal == inputDocs,
        s"binary_tail_resume: run summary $s, expected $rerun docs in $rerunBuckets buckets")
      checkManifest("binary_tail_resume")
      // the pass's operations are the re-run documents
      v.badByBucket.filter(kv => resetBuckets.contains(kv._1)).values.sum
  }

  /** Untimed set-up specific to a workload, run before the warm-up. */
  def prepare(): Unit = args.workload match {
    case "html_hot_host" =>
      val v = checkAll(ExtractionPipeline.extract(pages, gatePartitions, carryGolden = false).toDF(),
        "html_hot_host")
      verifiedBad = v.bad
    case "binary_tail_resume" =>
      deleteTree(new File(outDir))
      runAndRollup()
      checkAll(spark.read.parquet(s"$outDir/results"), "binary_tail_resume full run")
      checkManifest("binary_tail_resume full run")
      fullManifest = readManifest()
    case _ =>
  }

  def pass(checked: Boolean = true): PassStat = {
    before()
    val (a0, (g0, c0)) = (allocatedTotal(), gcTotals())
    val ((docs, bytes), wall) = secs(span("pass")(job()))
    val (a1, (g1, c1)) = (allocatedTotal(), gcTotals())
    PassStat(wall, docs, bytes, a1 - a0, g1 - g0, c1 - c0, if (checked) check() else 0L)
  }

  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")

  def run(): Map[String, Any] = {
    log(f"inputs generated in $genS%.2f s")
    val (_, prepS) = secs(prepare())
    log(f"prepared in $prepS%.2f s")
    val (_, warmS) = secs((1 to warmupPasses(args.workload)).foreach { i =>
      val p = pass(checked = i == 1); log(f"warm-up pass ${p.wallS}%.2f s")
    })
    val setupS = (System.nanoTime() - t0) / 1e9
    if (args.trace) {
      trace = Some(new Trace(spark.sparkContext))
    }
    val passes = ArrayBuffer[PassStat]()
    while (passes.length < minPasses || passes.map(_.wallS).sum < args.seconds) {
      passes += pass()
      log(f"timed pass ${passes.last.wallS}%.2f s")
    }
    val attempted = passes.map(_.docs).sum
    val failed = passes.map(_.failed).sum
    val docsPerS = median(passes.map(p => p.docs / p.wallS).toSeq)
    val metrics: Map[String, (Double, String)] =
      if (!args.trace) ListMap(
        "setup_s" -> (setupS, "s"),
        "docs_per_s" -> (docsPerS, "docs/s"),
        "mb_per_s" -> (median(passes.map(p => p.bytes / 1e6 / p.wallS).toSeq), "MB/s"),
        "alloc_bytes_per_doc" -> (median(passes.map(p => p.allocBytes.toDouble / p.docs).toSeq),
          "bytes/doc"))
      else new Layers(spark, this, trace.get, passes.toSeq).metrics()
    val correct = problems.isEmpty
    problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    val spansFile = args.report.stripSuffix(".json") + "-spans.jsonl"
    trace.foreach { t => Trace.drain(spark.sparkContext); t.write(spansFile) }
    val result = ListMap[String, Any](
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })
    ListMap(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace,
      "env" -> Env.describe(nproc),
      "inputs" -> ListMap("docs" -> inputDocs, "bytes" -> inputBytes,
        "gen_s" -> genS,
        "session_s" -> sessionS, "prepare_s" -> prepS, "warmup_s" -> warmS),
      "passes" -> passes.map(p => ListMap("wall_s" -> p.wallS, "docs" -> p.docs,
        "bytes" -> p.bytes, "alloc_bytes" -> p.allocBytes, "gc_s" -> p.gcS,
        "gc_count" -> p.gcCount, "failed" -> p.failed)),
      "problems" -> problems.toSeq,
      "failure_sample" -> failureSample.toSeq,
      "self_time_s" -> trace.map(_.selfTimes).getOrElse(Map.empty),
      "spans_file" -> trace.map(_ => spansFile),
      "result" -> result)
  }

  // ---- accessors for the per-layer probes ----
  def workload: String = args.workload
  def sparkPages: Dataset[WebPage] = pages
  def expectedTable: DataFrame = expected
  def inputByteTotal: Long = inputBytes
  def out: String = outDir
  def doneBuckets: Set[Int] = args.workload match {
    case "binary_tail_resume" => bucketDocs.keySet -- resetBuckets
    case _ => Set.empty
  }
  def summary: ResumableRunner.RunSummary = lastSummary
  def fail(what: String): Unit = problems += what
}

/** Machine facts recorded in every report. */
object Env {
  def describe(nproc: Int): Map[String, Any] = {
    val mem = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong)
      finally src.close()
    }.toOption.flatten
    ListMap(
      "nproc" -> nproc,
      "mem_total_kb" -> mem,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "java_version" -> sys.props("java.version"),
      "git_head" -> sys.env.get("PERFBENCH_GIT_HEAD").filter(_.nonEmpty),
      "source_sha256" -> sys.env.get("PERFBENCH_SOURCE_SHA256"))
  }
}
