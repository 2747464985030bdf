package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A recorded interval. Times are nanoseconds on one clock (System.nanoTime;
  * Spark's millisecond event times are mapped onto it). `attrs` carries the
  * counts measured at the same boundary. */
final case class Span(id: Long, name: String, parent: Long, start: Long, end: Long,
                      attrs: Map[String, Double] = Map.empty) {
  def dur: Long = end - start
}

/** In-memory span recorder: the benchmark's own spans around each call into
  * a layer, plus Spark job, stage and task spans from a listener. A job's
  * parent is the benchmark span active on the submitting thread when the job was
  * submitted (passed through the job's local properties). Nothing is written
  * until [[write]]. */
final class Trace(sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private var stack: List[Long] = Nil
  private val msBase = System.currentTimeMillis()
  private val nsBase = System.nanoTime()
  private def ms2ns(ms: Long): Long = nsBase + (ms - msBase) * 1000000L
  private val prop = "perfbench.span"

  private def current: Long = stack.headOption.getOrElse(0L)

  /** Time `body` as a span named `name` under the current span. */
  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = current
    stack = id :: stack
    sc.setLocalProperty(prop, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, name, parent, t0, System.nanoTime()))
      stack = stack.tail
      sc.setLocalProperty(prop, if (stack.isEmpty) null else stack.head.toString)
    }
  }

  // Spark ids are mapped into a disjoint id range per kind.
  private def jobId(j: Int) = 1L << 40 | j
  private def stageId(s: Int, attempt: Int) = 2L << 40 | s.toLong << 8 | attempt
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(prop))).map(_.toLong)
        .getOrElse(0L)
      jobStarts.put(e.jobId, (ms2ns(e.time), parent))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (t0, parent) = jobStarts.getOrDefault(e.jobId, (ms2ns(e.time), 0L))
      spans.add(Span(jobId(e.jobId), "spark.job", parent, t0, ms2ns(e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val attrs = if (m == null) Map.empty[String, Double] else Map(
        "tasks" -> i.numTasks.toDouble,
        "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "output_bytes" -> m.outputMetrics.bytesWritten.toDouble,
        "output_records" -> m.outputMetrics.recordsWritten.toDouble)
      val job = Option(stageJob.get(i.stageId)).map(j => jobId(j)).getOrElse(0L)
      spans.add(Span(stageId(i.stageId, i.attemptNumber()), "spark.stage", job,
        ms2ns(i.submissionTime.getOrElse(0L)), ms2ns(i.completionTime.getOrElse(0L)), attrs))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = e.taskInfo
      val m = e.taskMetrics
      val attrs = if (m == null) Map.empty[String, Double] else Map(
        "run_ns" -> m.executorRunTime * 1e6,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
        "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
        "output_records" -> m.outputMetrics.recordsWritten.toDouble)
      spans.add(Span(3L << 40 | t.taskId, "spark.task", stageId(e.stageId, e.stageAttemptId),
        ms2ns(t.launchTime), ms2ns(t.finishTime), attrs))
    }
  }
  sc.addSparkListener(listener)

  /** All spans recorded so far. Call after `sc.listenerBus` has drained
    * (see [[Trace.drain]]). */
  def all: Vector[Span] = spans.asScala.toVector

  /** Self time: a span's duration minus the part of its interval covered by
    * its direct children. */
  def selfTimes: Map[String, Double] = {
    val sp = all
    val byParent = sp.groupBy(_.parent)
    sp.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = byParent.getOrElse(s.id, Vector.empty)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter(iv => iv._2 > iv._1).sortBy(_._1)
        var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
        kids.foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        if (curE > curS) covered += curE - curS
        (s.dur - covered) / 1e9
      }.sum
    }
  }

  /** Spans as JSON lines. */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(Json.render(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> (s.start - nsBase), "end_ns" -> (s.end - nsBase), "attrs" -> s.attrs)))
    } finally w.close()
  }
}

object Trace {
  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(sc: SparkContext): Unit = {
    // listenerBus is private[spark]; waiting, through a listener on the same
    // queue, for the end of a marker job submitted last is the public
    // equivalent.
    val done = new java.util.concurrent.CountDownLatch(1)
    val markerJob = new AtomicLong(-1)
    val marker = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("perfbench.drain") != null))
          markerJob.set(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) done.countDown()
    }
    sc.addSparkListener(marker)
    sc.setLocalProperty("perfbench.drain", "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty("perfbench.drain", null)
    done.await(30, java.util.concurrent.TimeUnit.SECONDS)
    sc.removeSparkListener(marker)
  }
}
