package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval. Times are epoch milliseconds (fractional), so spans
  * timed here and spans reported by Spark's listener share one clock. */
final case class Span(id: String, parent: String, req: Long, name: String,
                      startMs: Double, endMs: Double, attrs: Map[String, Long] = Map.empty)

/**
 * In-memory span recorder for the traced run. The benchmark wraps each call
 * into a layer's public function in [[span]]; a listener adds the Spark
 * jobs, stages and tasks those calls launch as children of the span that
 * was open when the job started (carried to Spark's execution threads as a
 * local property). Spans are written out once, when the run ends.
 */
final class Tracer(spark: SparkSession) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val seq = new AtomicLong()
  private val sc = spark.sparkContext
  // Wall-clock anchor for System.nanoTime, so phase spans line up with the
  // listener's millisecond event times.
  private val nanoToEpochMs: Double = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  private def nowMs(): Double = System.nanoTime() / 1e6 + nanoToEpochMs

  private val SpanKey = "perfbench.span"
  private val ReqKey = "perfbench.req"

  private val jobParent = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val parent = p.flatMap(x => Option(x.getProperty(SpanKey)))
      val req = p.flatMap(x => Option(x.getProperty(ReqKey))).map(_.toLong)
      for (par <- parent; r <- req) {
        jobParent.put(e.jobId, (par, r))
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobParent.get(e.jobId)).foreach { case (par, r) =>
        spans.add(Span(s"j${e.jobId}", par, r, "spark.job",
          jobStart.get(e.jobId).toDouble, e.time.toDouble))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (job <- Option(stageJob.get(i.stageId)); (_, r) <- Option(jobParent.get(job));
           t0 <- i.submissionTime; t1 <- i.completionTime)
        spans.add(Span(s"s${i.stageId}.${i.attemptNumber()}", s"j$job", r, "spark.stage",
          t0.toDouble, t1.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (job <- Option(stageJob.get(e.stageId)); (_, r) <- Option(jobParent.get(job))) {
        val m = e.taskMetrics
        val attrs =
          if (m == null) Map.empty[String, Long]
          else Map(
            "rows" -> m.inputMetrics.recordsRead,
            "bytes" -> m.inputMetrics.bytesRead,
            "shuffle_bytes" -> m.shuffleWriteMetrics.bytesWritten,
            "run_ms" -> m.executorRunTime)
        spans.add(Span(s"t${e.taskInfo.taskId}", s"s${e.stageId}.${e.stageAttemptId}", r,
          "spark.task", e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble, attrs))
      }
  }
  sc.addSparkListener(listener)

  /** Time `body` as span `name` under `parent` for request `req`; Spark jobs
    * it starts become its children. Returns the body's value and span id. */
  def span[T](name: String, parent: String, req: Long, fixedId: String = null)(body: => T): (T, String) = {
    val id = Option(fixedId).getOrElse(s"b${seq.incrementAndGet()}")
    val outerSpan = sc.getLocalProperty(SpanKey)
    val outerReq = sc.getLocalProperty(ReqKey)
    sc.setLocalProperty(SpanKey, id)
    sc.setLocalProperty(ReqKey, req.toString)
    val t0 = nowMs()
    try (body, id)
    finally {
      spans.add(Span(id, parent, req, name, t0, nowMs()))
      sc.setLocalProperty(SpanKey, outerSpan)
      sc.setLocalProperty(ReqKey, outerReq)
    }
  }

  /** Deliver every posted listener event, detach, and return all spans. */
  def finish(): Seq[Span] = {
    org.apache.spark.GraftListenerBus.waitUntilEmpty(sc, 30000)
    sc.removeSparkListener(listener)
    spans.asScala.toSeq
  }
}

object Trace {
  def toJsonLines(spans: Seq[Span]): Iterator[String] = spans.iterator.map { s =>
    Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "req" -> s.req, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++
      (if (s.attrs.isEmpty) Nil else Seq("attrs" -> s.attrs)))
  }
}
