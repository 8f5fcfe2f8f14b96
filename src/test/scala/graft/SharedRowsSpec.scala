package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame

import graft.engine.{DatasetSpec, PlannedQuery, QueryEngine}
import graft.query.QueryParser
import graft.result.{JobStats, ResultJson}
import graft.util.Caches

/** The shared-row-set path of multi-frame window-plan queries
  * ([[PlannedQuery.shared]]): `ResultJson.build` materializes the row set
  * once and collects the frames rebuilt over it concurrently. Over a
  * decimal-valued parquet fixture (exact sums, so a different physical plan
  * could not hide behind float rounding) it must render exactly what the
  * library frames render serially, stay byte-stable under concurrency and
  * repetition, keep per-request stats attribution, keep planning free of
  * jobs and leave no blocks behind its request scope. */
class SharedRowsSpec extends SparkSpec {

  private val inputRows = 3000

  /** 300 users × 10 events, one parquet file: small enough that the
    * default routing gate keeps every shape on the window plan. */
  private lazy val dir = java.nio.file.Files.createTempDirectory("graft-shared-rows").toString

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    super.afterAll()
  }

  private lazy val events: DataFrame = {
    val s = spark
    import s.implicits._
    val types = Array("view", "cart", "search", "buy")
    (0 until inputRows).map { i =>
      val user = (i % 300).toLong
      (user, 1000L * i + (i * 7919L) % 997, types((i * 31 + i / 300) % 4),
        BigDecimal((i * 7919L) % 50000, 2), s"p${(i * 13) % 9}")
    }.toDF("user_id", "ts", "event_type", "value", "props")
      .withColumn("value", org.apache.spark.sql.functions.col("value").cast("decimal(10,2)"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events")
    val df = spark.read.parquet(s"$dir/events")
    df.schema // resolve the file listing now, outside every measured block
    df
  }

  private lazy val engine = new QueryEngine(DatasetSpec("user_id", "ts"))

  private val shapes = Seq(
    "count_target" ->
      """{"query": {"conditions": [{"filter": ["event_type", "==", "view"],
        |  "target": ["count", ">=", 3]}],
        |  "aggregations": [{"column": "user_id", "type": "count"}]}}""",
    "per_value" ->
      """{"query": {"conditions": [{"filter": ["value", ">", 250.5]}],
        |  "aggregations": [
        |   {"column": "event_type", "type": "countPerValue", "top": 3},
        |   {"column": "props", "type": "groupsPerValue"},
        |   {"column": "props", "type": "sumPerValue", "otherColumn": "value", "top": 4},
        |   {"column": "event_type", "type": "meanPerValue", "otherColumn": "value"}]}}""",
    "funnel" ->
      """{"funnel": {"sequence": [{"filter": ["event_type", "==", "view"]},
        |  {"filter": ["event_type", "==", "cart"]}, {"filter": ["event_type", "==", "buy"]}],
        |  "stepAggregations": [{"column": "event_type", "type": "countPerValue"}],
        |  "endAggregations": [{"column": "props", "type": "meanPerValue",
        |   "otherColumn": "value", "top": 5}]}}""",
    "or_relation" ->
      """{"query": {"relation": "$a || $b", "conditions": [
        |  {"name": "a", "filter": ["event_type", "==", "buy"], "target": ["count", ">=", 4]},
        |  {"name": "b", "filters": [["event_type", "==", "search"], ["value", ">", 400]]}],
        |  "aggregations": [{"column": "props", "type": "sumPerValue", "otherColumn": "value"},
        |   {"column": "value", "type": "count"}]}}"""
  ).map { case (k, v) => k -> v.stripMargin }

  private def plan(json: String): PlannedQuery =
    engine.runValidated(events, QueryParser.parse(json))

  /** The serial rendering of the library frames: each frame's own plan,
    * one frame after another. */
  private def serial(p: PlannedQuery): String =
    Caches.scoped(ResultJson.build(p.copy(shared = None)))

  private def shared(json: String): String = Caches.scoped(ResultJson.build(plan(json)))

  private def drainBus(): Unit =
    org.apache.spark.GraftListenerBus.waitUntilEmpty(spark.sparkContext, 10000)

  test("every shape plans a shared row set on the window plan") {
    for ((name, json) <- shapes) {
      val p = plan(json)
      assert(p.plan == "window", name)
      assert(p.shared.nonEmpty, s"$name: multi-frame window query without a shared row set")
    }
    // Single-frame and condition-free queries keep the frames alone.
    assert(plan("""{"query": {"conditions": [{"filter": ["event_type", "==", "buy"]}]}}""")
      .shared.isEmpty)
    assert(plan("""{"query": {"aggregations": [{"column": "props", "type": "countPerValue"}]}}""")
      .shared.isEmpty)
  }

  test("ResultJson.build equals the serial rendering of the library frames") {
    for ((name, json) <- shapes)
      assert(shared(json) == serial(plan(json)), name)
  }

  test("two concurrent builds and a repeat build are byte-identical") {
    for ((name, json) <- shapes) {
      val first = shared(json)
      val out = new Array[String](2)
      val threads = (0 until 2).map(i => new Thread(() => out(i) = shared(json)))
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(out.toSeq == Seq(first, first), s"$name: concurrent builds differ")
      assert(shared(json) == first, s"$name: repeat build differs")
    }
  }

  test("JobStats.measure attributes every job; the funnel scans its input once") {
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = { tasks.incrementAndGet(); () }
    }
    def measured(build: => String): (String, JobStats.Snapshot) = {
      drainBus()
      tasks.set(0)
      spark.sparkContext.addSparkListener(listener)
      try {
        val (json, snap) = JobStats.measure(spark)(Caches.scoped(build))
        drainBus()
        assert(snap.tasks == tasks.get, "a frame thread's tasks escaped the measurement")
        (json, snap)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    for ((name, json) <- shapes)
      assert(measured(ResultJson.build(plan(json)))._2.tasks > 0, name)
    // rowsScanned sums task input records, and Spark counts a read of
    // cached blocks as input too. The library frames scan the parquet
    // input once per frame (6 frames); the shared path scans it once to
    // materialize the row set, then each frame reads that set once.
    val funnel = shapes.toMap.apply("funnel")
    val (_, before) = measured(ResultJson.build(plan(funnel).copy(shared = None)))
    val (out, after) = measured(ResultJson.build(plan(funnel)))
    val rowSet = (org.json4s.jackson.JsonMethods.parse(out) \ "query" \ "matchingGroupRows")
      .asInstanceOf[org.json4s.JInt].num.toLong
    assert(before.rowsScanned == 6L * inputRows,
      s"library frames: 6 scans of $inputRows rows, got ${before.rowsScanned}")
    assert(after.rowsScanned == inputRows + 6L * rowSet,
      s"shared row set: one scan plus 6 reads of $rowSet rows, got ${after.rowsScanned}")
  }

  test("runValidated runs zero Spark jobs") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    events // write and list the fixture before listening
    drainBus()
    spark.sparkContext.addSparkListener(listener)
    try {
      shapes.foreach { case (_, json) => plan(json) }
      drainBus()
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, s"planning ran ${jobs.get} jobs")
  }

  test("the request scope frees the materialized row set") {
    val sc = spark.sparkContext
    for ((name, json) <- shapes) {
      val before = sc.getPersistentRDDs.keySet
      val during = Caches.scoped {
        ResultJson.build(plan(json))
        sc.getPersistentRDDs.keySet
      }
      assert((during -- before).nonEmpty, s"$name: no row set was materialized")
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$name: blocks outlived the request scope: $left")
    }
  }
}
