package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev tool (guide §1): run one or more SparkEntry queries with a job
  * listener and print every Spark job's wall time + description, so a
  * multi-second query can be attributed to its constituent jobs (k-means
  * iterations, fixture writes, collects, the final count) instead of
  * guessing from the plan. Usage:
  *   runMain graft.ProfileJobs <sfDir> <name> [name...]
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
                else Seq("ann_ivfpq_saved")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    // Dedicated lock: synchronizing on `rows` itself would lock whatever Seq
    // instance the @volatile var happens to hold (reassigned on every append,
    // initially the shared Seq.empty singleton) — not a valid mutex.
    val rowsLock = new Object
    @volatile var rows = Seq.empty[(Int, Double, Int, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, desc) =>
          val secs = (System.nanoTime() - t0) / 1e9
          val nTasks = 0
          rowsLock.synchronized { rows = rows :+ ((je.jobId, secs, nTasks, desc)) }
        }
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = for (a <- si.completionTime; b <- si.submissionTime)
          yield (a - b) / 1e3
        println(f"    stage ${si.stageId}%3d  ${wall.getOrElse(-1.0)}%6.3f s  " +
          f"tasks=${si.numTasks}%3d  ${si.name.takeWhile(_ != '\n').take(90)}")
      }
    })

    // Streaming rows' micro-batch duration split: a listener HERE never
    // fires — every st_* query runs its stream on a CHILD session, and a
    // session's listener bus only sees its own queries. Set
    // SPARK_GRAFT_STREAM_DEBUG=1 instead: StreamingQueries.runToBatch
    // prints each batch's durationMs + state rows from inside the child.

    // Listener events post asynchronously: deliver every event posted so
    // far, so a label's counters hold exactly its own jobs.
    def drainBus(): Unit =
      org.apache.spark.GraftListenerBus.waitUntilEmpty(spark.sparkContext, 30000)

    for (n <- names) {
      val fn = SparkEntry.queries(n)
      // warmup (codegen/caches), same as Bench
      spark.catalog.clearCache()
      System.gc()
      try fn(spark, sfDir).count()
      catch { case scala.util.control.NonFatal(e) => println(s"warmup err: $e") }
      // Reset AFTER the drain: the warmup's (and the previous label's) late
      // events would otherwise land in this label's rows.
      drainBus()
      starts.clear()
      rowsLock.synchronized { rows = Seq.empty }
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      drainBus()
      println(s"\n===== $n  total=${f"$total%.3f"}s =====")
      val snap = rowsLock.synchronized(rows)
      snap.sortBy(_._1).foreach { case (id, secs, _, desc) =>
        println(f"  job $id%3d  $secs%7.3f s  $desc")
      }
      val jobSum = snap.map(_._2).sum
      println(f"  [${snap.size} jobs, sum=$jobSum%.3f s; gap=${total - jobSum}%.3f s driver-side]")
      graft.util.Caches.drain()
    }
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.stop()
  }
}
