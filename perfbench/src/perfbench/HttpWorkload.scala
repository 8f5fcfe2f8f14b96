package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.catalog.Catalog
import graft.engine.{DatasetSpec, PlannedQuery, QueryEngine}
import graft.query.QueryParser
import graft.result.ResultJson
import graft.server.ApiServer
import graft.sources.GroupedWriter

/**
 * The two HTTP workloads (serve-small, scan-large): set up the dataset in
 * the reference's group-partitioned layout, register it through the API,
 * drive the server as a closed loop for the run's seconds, optionally replay
 * the executed stream in-process with spans, then check every response
 * against the window-plan reference off the clock.
 */
final class HttpWorkload(spark: SparkSession, cfg: Config, work: String) {
  private val DatasetName = "bench"
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private var base = ""

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  final case class Req(q: Int, latNs: Long, status: Int, body: String)

  /** A stats field of a response; -1 for responses without one (errors). */
  private def stat(j: JValue, k: String): Long = j \ "stats" \ k match {
    case JNothing => -1L
    case v        => long(v)
  }

  def run(): Seq[(String, Any)] = {
    Main.log("session up")
    val raw = s"$work/data/raw"
    val layout = s"$work/data/layout"
    Data.events(spark, cfg.seed, cfg.rows, cfg.groups, cfg.propTokens, cfg.parts)
      .write.mode("overwrite").parquet(raw)
    // Row groups of 1 MB: with the log's time order surviving the
    // repartition as per-source runs, timeframe queries can skip row groups.
    spark.sparkContext.hadoopConfiguration.setInt("parquet.block.size", 1 << 20)

    val server = new ApiServer(spark, 0)
    server.start()
    base = s"http://127.0.0.1:${server.boundPort}"
    try runWith(raw, layout)
    finally server.stop()
  }

  private def runWith(raw: String, layout: String): Seq[(String, Any)] = {
    val registerBody = Json.obj(Seq("name" -> DatasetName, "basepath" -> layout,
      "groupIdColumn" -> "user_id", "timestampColumn" -> "ts"))
    var registered: JValue = JNothing
    val setups = (1 to cfg.setupReps).map { _ =>
      val t0 = System.nanoTime()
      GroupedWriter.repartitionByGroup(spark.read.parquet(raw), "user_id", cfg.parts, layout)
      val t1 = System.nanoTime()
      val r = post("/datasets/register", registerBody)
      val t2 = System.nanoTime()
      require(r.statusCode() == 200, s"register failed: ${r.body()}")
      registered = JsonMethods.parse(r.body())
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }

    Main.log(s"set up: write ${setups.map(_._1)} register ${setups.map(_._2)}")
    // Warm JIT, codegen and the parquet footers before timing, with the
    // timed loop's concurrency.
    val warmErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val warmers = cfg.warmup.grouped(math.max(1, cfg.warmup.size / cfg.clients)).toSeq.map { qs =>
      new Thread(() => qs.foreach { q =>
        val r = post(s"/datasets/$DatasetName/query", q)
        if (r.statusCode() != 200) warmErrors.add(r.body())
      })
    }
    warmers.foreach(_.start())
    warmers.foreach(_.join())
    require(warmErrors.isEmpty, s"warm-up query failed: ${warmErrors.peek()}")

    Main.log("warm-up done")
    val (reqs, wallS, gcMs) = closedLoop()
    Main.log(s"measured ${reqs.size} requests in $wallS s")

    // The replay covers the first two blocks of the executed stream.
    val traced =
      if (cfg.trace) Some(tracedReplay(reqs.map(_.q).sorted.take(2 * cfg.block))) else None

    val mismatches = check(reqs)
    Main.log("checked")
    val files = listParts(layout)
    val ds = Catalog.load(spark, Catalog.get(DatasetName).get)
    val estBytes = ds.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    Seq(
      "setup" -> Map("write_s" -> setups.map(_._1), "register_s" -> setups.map(_._2)),
      "requests" -> reqs.map { r =>
        val j = JsonMethods.parse(r.body)
        Json.Raw(Json.obj(Seq("q" -> r.q, "lat_ms" -> r.latNs / 1e6, "status" -> r.status,
          "server_wall_ms" -> stat(j, "wallTimeMs"), "rows_scanned" -> stat(j, "rowsScanned"),
          "plan" -> (j \ "stats" \ "plan" match { case JString(p) => p; case _ => "" }))))
      },
      "measure_wall_s" -> wallS,
      "gc_ms" -> gcMs,
      "mismatches" -> mismatches,
      "props" -> Map(
        "rows" -> long(registered \ "rows"),
        "groups" -> long(registered \ "groups"),
        "parts" -> files.size,
        "bytes_on_disk" -> files.map(_.length()).sum,
        "catalyst_size_estimate" -> estBytes,
        "routing_min_bytes" -> QueryEngine.DefaultRoutingMinBytes,
        "digest" -> Data.digest(spark.read.parquet(layout)))) ++
      traced.map(t => Seq("traced" -> Json.Raw(t))).getOrElse(Nil)
  }

  private def long(j: JValue): Long = j match {
    case JInt(v)  => v.toLong
    case JLong(v) => v
    case other    => sys.error(s"expected an integer, got $other")
  }

  private def listParts(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  /** `clients` threads share one cursor into the stream; each sends its next
    * request only after the previous one answered. After the deadline no new
    * block of the stream is started (the stream is made of blocks holding
    * the workload's full shape mix), so every run measures whole blocks; the
    * wall runs until the last request completes. */
  private def closedLoop(): (Seq[Req], Double, Long) = {
    var next = 0
    var stopped = false
    val t0 = System.nanoTime()
    val deadline = t0 + (cfg.seconds * 1e9).toLong
    def take(): Int = synchronized {
      if (!stopped && next < cfg.stream.size &&
          (next % cfg.block != 0 || System.nanoTime() < deadline)) { next += 1; next - 1 }
      else { stopped = true; -1 }
    }
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Req]()
    val gc0 = Main.gcMillis()
    val threads = (1 to cfg.clients).map { _ =>
      new Thread(() => {
        var i = take()
        while (i >= 0) {
          val s = System.nanoTime()
          val (status, body) =
            try { val r = post(s"/datasets/$DatasetName/query", cfg.stream(i)); (r.statusCode(), r.body()) }
            catch { case e: java.io.IOException => (-1, Json.obj(Seq("clientError" -> e.toString))) }
          out.add(Req(i, System.nanoTime() - s, status, body))
          i = take()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    require(next < cfg.stream.size, "query stream exhausted before the deadline")
    import scala.jdk.CollectionConverters._
    (out.asScala.toSeq.sortBy(_.q), wall, Main.gcMillis() - gc0)
  }

  /** Engine exactly as the server builds it for this registration. */
  private def servingEngine(): (QueryEngine, org.apache.spark.sql.DataFrame) = {
    val ds = Catalog.get(DatasetName).get
    val engine = new QueryEngine(DatasetSpec(ds.groupIdColumn, ds.timestampColumn,
      dayPartitionColumn = ds.dayPartitionColumn,
      numGroups = if (ds.statsExact) Some(ds.numGroups) else None,
      gidMaxBytes = if (ds.statsExact) ds.gidMaxBytes else None))
    (engine, Catalog.load(spark, ds))
  }

  private def frames(p: PlannedQuery) =
    Seq(p.summary) ++ p.aggregations.map(_._2) ++ p.funnel.toSeq ++ p.funnelAggregations.map(_._2)

  /** The executed stream, in stream order, through the library path: once
    * plain, timing each request, then again with a span around each layer
    * call. The difference between the two is the tracing overhead. */
  private def tracedReplay(qs: Seq[Int]): String = {
    val (engine, df) = servingEngine()
    val plainMs = qs.map { i =>
      val t0 = System.nanoTime()
      graft.util.Caches.scoped(ResultJson.build(engine.runValidated(df, QueryParser.parse(cfg.stream(i)))))
      (System.nanoTime() - t0) / 1e6
    }
    val tracer = new Tracer(spark)
    val gc0 = Main.gcMillis()
    val plans = qs.map { i =>
      val req = i.toLong
      val rid = s"r$i"
      var plan = ""
      tracer.span("request", "", req, rid) {
        graft.util.Caches.scoped {
          val (q, _) = tracer.span("query.parse", rid, req)(QueryParser.parse(cfg.stream(i)))
          val (planned, _) = tracer.span("engine.plan", rid, req)(engine.runValidated(df, q))
          tracer.span("catalyst.plan", rid, req)(frames(planned).foreach(_.queryExecution.executedPlan))
          tracer.span("result.exec", rid, req)(ResultJson.build(planned))
          plan = planned.plan
        }
      }
      plan
    }
    val gcMs = Main.gcMillis() - gc0
    val spans = tracer.finish()
    val path = s"$work/spans.jsonl"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      Trace.toJsonLines(spans).mkString("", "\n", "\n").getBytes("UTF-8"))
    Main.log("traced replay done")
    Json.obj(Seq("spans" -> path, "plans" -> plans, "plain_ms" -> plainMs, "gc_ms" -> gcMs))
  }

  /** Every response minus its stats block against the window-plan answer
    * for the same query, computed once per distinct query. */
  private def check(reqs: Seq[Req]): Seq[String] = {
    val (engine, df) = servingEngine()
    val reference = engine.withWindowPlan
    val distinct = reqs.map(r => cfg.stream(r.q)).distinct
    val expected = distinct.par.map { q =>
      q -> JsonMethods.parse(graft.util.Caches.scoped(
        ResultJson.build(reference.runValidated(df, QueryParser.parse(q)))))
    }.seq.toMap
    Main.log(s"checked against ${distinct.size} distinct queries")
    reqs.flatMap { r =>
      val want = expected(cfg.stream(r.q))
      if (r.status != 200) Some(s"q${r.q}: HTTP ${r.status}: ${r.body.take(200)}")
      else {
        val got = JsonMethods.parse(r.body).removeField { case (k, _) => k == "stats" }
        if (got == want) None
        else Some(s"q${r.q}: ${JsonMethods.compact(got).take(200)} != " +
          JsonMethods.compact(want).take(200))
      }
    }
  }
}
