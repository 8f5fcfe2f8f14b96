package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.Catalog
import graft.engine.{DatasetSpec, QueryEngine}
import graft.query.{QueryParser, QueryValidationException, SchemaValidator}
import graft.result.{JobStats, ResultJson}
import graft.result.ResultJson.{quote => q}

/**
 * HTTP API front — parity with the reference's Flask apiserver
 * (frocket/apiserver.py), on the JDK's built-in HttpServer (zero deps):
 *
 *   POST /datasets/register              {"name","basepath","groupIdColumn","timestampColumn"}
 *   GET  /datasets                       list registered datasets
 *   POST /datasets/<name>/unregister     ?force=true overrides the last-used safety interval
 *   GET  /datasets/<name>/schema         ?full=true for per-column attributes
 *   GET  /datasets/<name>/parts          file listing (naming method LIST)
 *   GET  /datasets/<name>/empty-query    basic group/row stats (empty query, GET)
 *   POST /datasets/<name>/query          JSON query body → reference-shaped result
 *        ?stream=true                    chunked: progress lines, then the result
 *        ?async=true                     → {"queryId"}; poll GET /queries/<id>/status
 *   GET  /queries/<id>/status            {"stage","done",...,"result"? }
 *   GET  /metrics                        Prometheus text exposition (counters)
 *
 * Errors return the reference's shape: {"errorMessage": ...} with 400 for
 * validation failures and 500 otherwise (apiserver.py error handling).
 * The Spark driver hosts the server; queries run as ordinary Spark jobs.
 * At 100 TB a query takes minutes — `stream`/`async` are how clients
 * actually call this (the reference's run_streamable, apiserver.py:125-172);
 * the sync path stays for small interactive queries.
 *
 * Server-side query state — the versioned result cache with its
 * single-flight latch, per-registration DataFrame handles and async job
 * payloads — lives in three instances of ONE bounded future-valued store
 * ([[FutureStore]]; see "stores" below), the role the reference gives its
 * TTL'd Redis datastore. Repeated queries opt into the result cache with
 * `resultCacheSize`.
 */
final class ApiServer(spark: SparkSession, port: Int, unregisterSafetySec: Int = 0,
                      catalogStore: Option[String] = None,
                      /** Override the engine's Auto-routing size gate
                        * (QueryEngine.DefaultRoutingMinBytes when None;
                        * 0 = route every shape-compatible query). An ops
                        * knob: the default crossover was measured on one
                        * box — a deployment whose storage/CPU balance
                        * differs can re-pin it without a rebuild
                        * (GRAFT_ROUTING_MIN_BYTES in ApiServerMain). */
                      routingMinBytes: Option[Long] = None,
                      /** Entries in the versioned query-result cache;
                        * 0 (default) disables. See `results` below —
                        * sound under the reference's dataset-immutability
                        * contract. GRAFT_RESULT_CACHE_SIZE in
                        * ApiServerMain. */
                      resultCacheSize: Int = 0,
                      /** Per-entry byte ceiling for the result cache: the
                        * LRU bounds entry COUNT, so without this a handful
                        * of giant results (countPerValue over a
                        * high-cardinality column) could pin GBs on the
                        * driver. Oversized results are still served (and
                        * still coalesce concurrent identical requests via
                        * the in-flight future) — they just aren't kept.
                        * GRAFT_RESULT_CACHE_MAX_ENTRY_BYTES in
                        * ApiServerMain. */
                      resultCacheMaxEntryBytes: Long = 8L << 20,
                      /** HTTP worker threads. The measured serving floor
                        * scales with this up to the sync-path concurrency a
                        * deployment wants to allow (async queries run on
                        * their own bounded pool regardless); 2 keeps the
                        * default behavior — one query can run while
                        * /queries status polls answer. Note coalescing
                        * (result cache ON): waiters hold their HTTP worker
                        * thread for up to `coalesceWaitSec`, so a herd of
                        * SYNC clients on a slow cold query can occupy the
                        * whole pool for the scan's duration — size
                        * httpThreads for the sync herd a deployment allows,
                        * or point herding dashboards at ?async=true.
                        * GRAFT_HTTP_THREADS in ApiServerMain. */
                      httpThreads: Int = 2,
                      /** Async-query executor size (r16; the reference
                        * bounds this identically with a sized pool,
                        * invoker_api.py:36,147-161). A burst beyond the
                        * pool QUEUES (stage "QUEUED" in /queries status)
                        * instead of spawning one driver thread + one
                        * concurrent Spark job per request — at the measured
                        * O(10) req/s floor an unbounded client burst would
                        * otherwise degrade the whole driver. Queued jobs
                        * are never evicted from the job registry (eviction
                        * removes only finished jobs). GRAFT_ASYNC_THREADS
                        * in ApiServerMain. */
                      asyncThreads: Int = 8,
                      /** Ceiling on how long a coalesced waiter blocks on
                        * the in-flight winner before giving up and
                        * executing the query itself (uncoalesced but
                        * correct). Bounds the worker-thread starvation
                        * window described on `httpThreads`. */
                      coalesceWaitSec: Int = 600,
                      /** Cap on async jobs WAITING behind the pool (r17):
                        * the fixed pool bounds concurrency but its FIFO
                        * queue — and the QUEUED population of the job
                        * registry — would otherwise grow without bound
                        * under a sustained flood. Beyond `asyncThreads`
                        * running + `asyncQueueMax` queued, submissions are
                        * rejected with 429 + Retry-After (counted in
                        * graft_query_rejected_total) instead of admitted.
                        * This EXCEEDS the reference, whose Flask pool has
                        * the same unbounded-queue shape
                        * (invoker_api.py:36,147-161). Generous default:
                        * 1000 queued jobs is hours of backlog at the
                        * measured serving floor — the cap is an
                        * abuse/runaway-client backstop, not a normal-load
                        * limiter. GRAFT_ASYNC_QUEUE_MAX in ApiServerMain. */
                      asyncQueueMax: Int = 1000,
                      /** Request-body byte ceiling (r17): readBody
                        * otherwise buffers the whole POST on the driver —
                        * a multi-GB body (malicious or a client bug) is
                        * unbounded driver memory, the same vector family
                        * the async queue cap closes. Real bodies are
                        * KB-scale (query JSON, register request); past the
                        * cap the request answers 413 and the connection
                        * drops the rest. GRAFT_MAX_BODY_BYTES in
                        * ApiServerMain. */
                      maxBodyBytes: Int = 8 << 20,
                      /** Byte budget over retained async RESULTS (r17) —
                        * see `payloads`. Oldest payloads are
                        * dropped past it (job entries stay, flagged
                        * "resultEvicted"); the newest completion is always
                        * retained. GRAFT_ASYNC_RESULTS_MAX_BYTES in
                        * ApiServerMain. */
                      asyncResultsMaxBytes: Long = 256L << 20,
                      /** Age ceiling (seconds) on retained async RESULT
                        * payloads (r19) — the byte budget above bounds how
                        * MUCH a quiet server retains, not for how LONG: a
                        * server that goes idle after a burst would hold up
                        * to `asyncResultsMaxBytes` of stale payloads
                        * forever. The reference expires task results by
                        * Redis TTL (redis_store.py:174-180,253-275); here
                        * payloads older than the TTL are dropped lazily —
                        * on status reads, metrics scrapes and retention —
                        * so an idle server's
                        * retained-bytes gauge returns to 0 on the next
                        * observation. The job ENTRY stays (stage DONE,
                        * "resultEvicted": true), same late-poller contract
                        * as byte eviction. Unlike the byte budget, the TTL
                        * has no newest-always-kept carve-out: an absolute
                        * age bound is the contract (the client had
                        * `asyncResultTtlSec` to poll), exactly as a Redis
                        * TTL would expire the newest too. 0 disables.
                        * GRAFT_ASYNC_RESULT_TTL_SEC in ApiServerMain. */
                      asyncResultTtlSec: Long = 3600L) {

  // Validated BEFORE the server field binds the port: start() would
  // otherwise throw out of newFixedThreadPool with the socket still held,
  // and a corrected retry on the same fixed port would hit BindException
  // (the same asymmetry the catalog-store failure path guards against).
  require(httpThreads >= 1, s"httpThreads must be >= 1, got $httpThreads")
  require(asyncThreads >= 1, s"asyncThreads must be >= 1, got $asyncThreads")
  // A negative wait would silently degrade every coalesced waiter to
  // immediate-timeout self-execution, defeating single-flight coalescing
  // (0 is a legitimate explicit opt-out, used by the fallback tests).
  require(coalesceWaitSec >= 0, s"coalesceWaitSec must be >= 0, got $coalesceWaitSec")
  require(asyncQueueMax >= 0, s"asyncQueueMax must be >= 0, got $asyncQueueMax")
  // Strict upper bound: readBody reads limit+1 to detect overflow, which
  // must not wrap past Int.MaxValue.
  require(maxBodyBytes >= 1 && maxBodyBytes < Int.MaxValue,
    s"maxBodyBytes must be in [1, ${Int.MaxValue - 1}], got $maxBodyBytes")
  require(asyncResultsMaxBytes >= 0,
    s"asyncResultsMaxBytes must be >= 0, got $asyncResultsMaxBytes")
  require(asyncResultTtlSec >= 0,
    s"asyncResultTtlSec must be >= 0 (0 disables), got $asyncResultTtlSec")

  // TCP_NODELAY on the JDK's built-in HttpServer (its static ServerConfig
  // reads this once, at first server creation): without it a small
  // response's header+body writes can sit behind the peer's 40ms
  // delayed-ACK timer — measured as ~40ms of the per-request serving
  // floor (BENCH.md §"Serving-path latency floor").
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  def boundPort: Int = server.getAddress.getPort

  def start(): Unit = {
    // Durable registrations (reference redis_store.py:83-94): with a store
    // configured, a server restart reloads every registered dataset.
    // Attached here, not at construction: merely constructing a server
    // must not mutate the process-global catalog. The catalog itself
    // rejects a second, different store (one store per JVM) — on that
    // failure, release the port the constructor bound so a corrected
    // retry on the same port doesn't hit BindException.
    try catalogStore.foreach(Catalog.enablePersistence)
    catch { case e: Throwable => server.stop(0); throw e }
    server.createContext("/datasets", (ex: HttpExchange) => handle(ex))
    server.createContext("/queries", (ex: HttpExchange) => handle(ex))
    server.createContext("/metrics", (ex: HttpExchange) => handle(ex))
    // Worker threads (default 2: one can poll /queries status while a
    // sync query runs).
    pool = java.util.concurrent.Executors.newFixedThreadPool(httpThreads)
    // Bounded async-query pool (r16): a fixed pool with its unbounded
    // queue gives the explicit overflow semantics — burst N > pool size
    // runs `asyncThreads` jobs concurrently and queues the rest in FIFO
    // order (visible as stage "QUEUED"). Named threads so boundedness is
    // observable (the burst test counts live graft-async-* threads).
    val seq = new AtomicLong()
    asyncPool = java.util.concurrent.Executors.newFixedThreadPool(asyncThreads,
      (r: Runnable) => new Thread(r, s"graft-async-${seq.incrementAndGet()}"))
    server.setExecutor(pool)
    server.start()
  }

  // HttpServer.stop does NOT shut down a user-supplied executor, and the
  // pools' non-daemon threads otherwise keep the JVM alive after stop()
  // (observed: probe mains printing their result and then hanging).
  private var pool: java.util.concurrent.ExecutorService = _
  private var asyncPool: java.util.concurrent.ExecutorService = _

  def stop(): Unit = {
    server.stop(0)
    if (pool != null) pool.shutdown()
    // shutdownNow: stop() must not wait for queued async jobs; a running
    // query that dies fails its latch, which answers its waiters.
    if (asyncPool != null) asyncPool.shutdownNow()
  }

  /** Graceful stop (r16): drain in-flight work for up to `drainSec`
    * before tearing down — an abrupt `stop()` can kill a coalesce winner
    * mid-latch (its waiters are then failed; a drain answers them
    * instead). Stops accepting connections immediately, lets active HTTP
    * exchanges and already-RUNNING async jobs finish within the budget,
    * then force-stops whatever remains. QUEUED async jobs also run if the
    * budget permits (pool shutdown drains its queue); leftovers are
    * dropped — a restarted server has a fresh registry anyway, matching
    * the reference, whose async state dies with the apiserver process.
    * Returns true iff every submitted async job completed within the
    * budget (false = something was force-dropped). The budget is SHARED
    * across the two waits (r17): `server.stop` can itself block up to
    * `drainSec` for active HTTP exchanges, so the async-pool wait gets
    * only what remains — total blocking is bounded by ~drainSec, not 2×. */
  def stopGracefully(drainSec: Int): Boolean = {
    val deadline = System.nanoTime() + drainSec.toLong * 1000000000L
    server.stop(drainSec)
    if (pool != null) pool.shutdown()
    if (asyncPool == null) true
    else {
      asyncPool.shutdown()
      val remainingMs = math.max(0L, (deadline - System.nanoTime()) / 1000000L)
      val drained =
        try asyncPool.awaitTermination(remainingMs, java.util.concurrent.TimeUnit.MILLISECONDS)
        catch { case _: InterruptedException => Thread.currentThread().interrupt(); false }
      asyncPool.shutdownNow()
      drained
    }
  }

  // ------------------------------------------------------------ async jobs

  /** Registry entry of an async job. Its payload lives in `payloads`: a
    * DONE job whose id the store no longer holds was evicted. */
  private final case class AsyncJob(id: String, dataset: String,
                                    @volatile var stage: String,
                                    @volatile var error: Option[String] = None)

  private val jobs = new ConcurrentHashMap[String, AsyncJob]()
  private val jobSeq = new AtomicLong()

  /** Jobs admitted but not yet finished (QUEUED + RUNNING) — the quantity
    * `asyncQueueMax` bounds (see submitAsync). Incremented at admission,
    * decremented when the job's runnable exits either way. */
  private val pendingAsync = new AtomicLong()

  /** Stage → count over the async-job registry. Ops introspection: the
    * shutdown path reports FAILED jobs so a drain that technically
    * completed every runnable but let the queries inside them die (e.g.
    * Spark torn down mid-drain) is visible, not silently "drained". */
  def asyncJobCounts: Map[String, Int] =
    jobs.values.asScala.toSeq.groupBy(_.stage).map { case (k, v) => k -> v.size }

  // ---------------------------------------------------------------- stores
  //
  // All server-side query state lives in three instances of one bounded
  // future-valued store ([[FutureStore]]), as the reference keeps it in one
  // TTL'd datastore (redis_store.py). Every key is versioned by the
  // registration (`registeredAt`) or is a fresh job id, and `unregister`
  // sweeps each store with one call. A value is kept only if its key still
  // maps to the future it completed, so a computation that finishes after
  // the sweep answers its waiters but never re-inserts the dead entry.

  /** Versioned query results (extension): (body WITHOUT the per-execution
    * stats block, plan). The reference's analog is the worker-side parquet
    * part cache (part_loader.py LRU); both lean on the same contract — a
    * registered dataset's files are IMMUTABLE, updating data means
    * re-registering under a new DatasetId (dataset.py:36-53
    * `DatasetId.now()`), so a new registeredAt makes new [[QueryKey]]s and
    * stale entries age out of the LRU; two textual spellings of one query
    * share an entry. Every battery query is deterministic
    * (exact aggregations; top-K has a total-order tie-break), so a hit is
    * bit-identical to a re-run; at 100 TB it answers a repeated dashboard
    * query at the HTTP floor instead of re-scanning the corpus.
    *
    * Its in-flight futures are the single-flight latch: N concurrent
    * requests for the SAME cold key — hardest right after a
    * re-registration invalidates a popular key (the thundering herd) —
    * run ONE execution; the rest await it and are answered from its value
    * (counted as cache hits plus the coalesced counter). A failure reaches
    * every waiter (same deterministic query, same dataset version) and
    * frees the key. Only used when `resultCacheSize` > 0: coalescing would
    * otherwise break the every-query-executes stats contract uncached
    * clients rely on. `resultCacheMaxEntryBytes` is measured on the UTF-8
    * encoding (bodies carry raw non-ASCII). */
  private[server] val results = new FutureStore[QueryKey, (String, String)](
    maxEntries = resultCacheSize, maxValueBytes = resultCacheMaxEntryBytes,
    weigh = r => FutureStore.utf8Length(r._1))

  /** Per-registration DataFrame handles (r16): every uncached query paid
    * `Catalog.load` — a parquet footer/file-index read that runs a small
    * Spark job on multi-part datasets — before its first real job (~10% of
    * the measured ~270ms serving floor; BENCH.md §"Serving-path latency
    * floor"). A DataFrame is an immutable logical plan over the listing
    * captured at load, stable for a given (name, registeredAt) by the same
    * immutability contract; a re-registration misses (pinned in
    * ApiServerSpec). Plan-sized, so 16 entries; always on. A failed load is
    * never kept. */
  private val handles = new FutureStore[(String, Long), DataFrame](maxEntries = 16)

  /** Async job payloads, by job id (r17, r19): ~1000 finished registry
    * entries × an unbounded body (countPerValue over a high-cardinality
    * column is multi-MB) would be unbounded driver memory, so payloads are
    * held to `asyncResultsMaxBytes` of UTF-8, oldest completion dropped
    * first. The NEWEST completion is always kept even if it alone exceeds
    * the budget: async delivery IS the one-shot persistence of that result,
    * and evicting it before anyone polled would destroy completed work.
    * `asyncResultTtlSec` bounds for how LONG — the reference expires task
    * results by Redis TTL (redis_store.py:174-180,253-275), and a status
    * poll or metrics scrape past it sees the payload gone. Either way the
    * job entry stays DONE and its status says "resultEvicted", so a late
    * poller re-runs instead of reading a 404. */
  private val payloads = new FutureStore[String, String](
    maxTotalBytes = asyncResultsMaxBytes, ttlSec = asyncResultTtlSec,
    weigh = FutureStore.utf8Length)

  private def handle(ex: HttpExchange): Unit =
    try {
      val path = ex.getRequestURI.getPath.stripSuffix("/")
      val method = ex.getRequestMethod
      (method, path.split("/").toList.filter(_.nonEmpty)) match {
        case ("POST", List("datasets", "register"))         => register(ex)
        case ("GET",  List("datasets"))                     => list(ex)
        case ("POST", List("datasets", name, "unregister")) => unregister(ex, name)
        case ("GET",  List("datasets", name, "schema"))     => schema(ex, name)
        case ("GET",  List("datasets", name, "parts"))      => parts(ex, name)
        case ("GET",  List("datasets", name, "empty-query")) => query(ex, name, emptyBody = true)
        case ("POST", List("datasets", name, "query"))      => query(ex, name, emptyBody = false)
        case ("GET",  List("queries", id, "status"))        => queryStatus(ex, id)
        case ("GET",  List("metrics"))                      => metrics(ex)
        case _ => respond(ex, 404, """{"errorMessage": "not found"}""")
      }
    } catch {
      case e @ (_: QueryValidationException | _: Catalog.RegistrationException) =>
        respond(ex, 400, s"""{"errorMessage": ${q(e.getMessage)}}""")
      case e: com.fasterxml.jackson.core.JacksonException =>
        respond(ex, 400, s"""{"errorMessage": ${q("malformed JSON: " + e.getOriginalMessage)}}""")
      case e: BodyTooLargeException =>
        // 413 Payload Too Large; ex.close() in the finally aborts whatever
        // the client is still sending.
        respond(ex, 413, s"""{"errorMessage": ${q(e.getMessage)}}""")
      case e: Throwable =>
        respond(ex, 500, s"""{"errorMessage": ${q(e.getMessage)}}""")
    } finally ex.close()

  private final class BodyTooLargeException(limit: Int) extends RuntimeException(
    s"request body exceeds the $limit-byte limit")

  private def dataset(name: String): Catalog.RegisteredDataset =
    Catalog.get(name).getOrElse(throw QueryValidationException("schema", s"Unknown dataset '$name'"))

  private def arg(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getQuery).toSeq
      .flatMap(_.split("&").toSeq)
      .map(_.split("=", 2))
      .collectFirst { case Array(k, v) if k == name => v }

  private def boolArg(ex: HttpExchange, name: String): Boolean =
    arg(ex, name).exists(_.trim.equalsIgnoreCase("true"))

  // ---------------------------------------------------------------- routes

  private def register(ex: HttpExchange): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val body = JsonMethods.parse(readBody(ex))
    def str(k: String): String = body \ k match {
      case JString(s) => s
      case _ => throw QueryValidationException("schema", s"register requires string field '$k'")
    }
    val (name, path, gid, ts) =
      (str("name"), str("basepath"), str("groupIdColumn"), str("timestampColumn"))
    // validationMode: FULL (default — exact stats) | SINGLE | FIRST_LAST |
    // SAMPLE, mirroring the reference's register request (docs/api.md:50-55).
    // Sampled modes scan only the chosen part files, so stats come back
    // flagged approximate.
    val mode = body \ "validationMode" match {
      case JString(s) => Catalog.ValidationMode.parse(s)
      case _          => Catalog.ValidationMode.Full
    }
    // Opt-in migration check: assert each group id lives in one part file,
    // as the reference's execution model requires (registration_job.py:252-272).
    val vgl = body \ "validateGroupLocality" match {
      case JBool(b) => b
      case _        => false
    }
    // Optional GroupedWriter.partitionByDay declaration: validated against
    // the data at registration, then used for timeframe partition pruning
    // on every query against this dataset. A malformed (non-string) value
    // is a 400 — silently dropping it would leave the client believing the
    // declaration is active.
    val dayCol = body \ "dayPartitionColumn" match {
      case JString(s) => Some(s)
      // Explicit JSON null is a semantically absent declaration, same as an
      // omitted field — clients serializing optional fields as null must
      // not be 400'd for it.
      case JNothing | JNull => None
      case other      => throw QueryValidationException("schema",
        s"dayPartitionColumn must be a string, got $other")
    }
    def doRegister(): String = {
      val ds = Catalog.register(spark, name, path, gid, ts, mode = mode,
        validateGroupLocality = vgl, dayPartitionColumn = dayCol)
      val cats = ds.columnAttrs.collect { case (n, a) if a.categorical => n }.toSeq.sorted
      s"""{"dataset": ${q(ds.name)}, "rows": ${ds.numRows}, "groups": ${ds.numGroups},
         | "minTimestamp": ${ds.minTimestamp}, "maxTimestamp": ${ds.maxTimestamp},
         | "statsExact": ${ds.statsExact}, "sampledParts": ${ds.sampledParts},
         | "totalParts": ${ds.totalParts},
         | "potentialCategoricals": [${cats.map(q).mkString(", ")}],
         | "unsupportedColumns": [${ds.unsupportedColumns.map(q).mkString(", ")}]}""".stripMargin
    }
    // Registration scans the whole dataset (stats + categorical pass) — at
    // 100 TB that's a long job, so the async path mirrors the reference's
    // streamed registration (apiserver.py:176-184).
    if (boolArg(ex, "async")) submitAsync(ex, s"register:$name")(doRegister())
    else respond(ex, 200, doRegister())
  }

  private def list(ex: HttpExchange): Unit = {
    val items = Catalog.list().sortBy(_.name).map { ds =>
      s"""{"name": ${q(ds.name)}, "basepath": ${q(ds.basepath)}, "rows": ${ds.numRows}}"""
    }
    respond(ex, 200, s"""{"datasets": [${items.mkString(", ")}]}""")
  }

  private def unregister(ex: HttpExchange, name: String): Unit =
    Catalog.get(name) match {
      case None =>
        respond(ex, 200, """{"success": true, "datasetFound": false, "datasetLastUsed": null}""")
      case Some(_) =>
        val lastUsed = Catalog.lastUsed(name)
        val sinceSec = lastUsed.map(t => (System.currentTimeMillis() - t) / 1000)
        val blocked = sinceSec.exists(_ < unregisterSafetySec) && !boolArg(ex, "force")
        if (blocked)
          // Reference invoker_api.unregister_dataset: refuse within the
          // safety interval unless forced (success=false, not an HTTP error).
          respond(ex, 200,
            s"""{"success": false, "datasetFound": true, "datasetLastUsed": ${lastUsed.get},
               | "errorMessage": "Dataset was last used ${sinceSec.get} seconds ago, which is less than safety interval $unregisterSafetySec. Use the 'force' parameter to unregister anyway."}""".stripMargin)
        else {
          Catalog.unregister(name)
          // Sweep the stores (r17). Correctness never depended on this —
          // every key is registeredAt-versioned and the name lookup fails
          // post-unregister — but the dead registration's handle (logical
          // plan + file index) and results would otherwise stay pinned
          // until LRU churn. A query still running for it answers its
          // waiters, and its late completion keeps nothing (see `results`).
          handles.removeIf(_._1 == name)
          results.removeIf(_.dataset == name)
          respond(ex, 200,
            s"""{"success": true, "datasetFound": true, "datasetLastUsed": ${lastUsed.map(_.toString).getOrElse("null")}}""")
        }
    }

  private def schema(ex: HttpExchange, name: String): Unit = {
    val ds = dataset(name)
    if (!boolArg(ex, "full")) {
      // Short schema (reference DatasetShortSchema, dataset.py:142-150).
      // Parquet/Spark has no pandas "category" dtype, so sourceCategoricals
      // is always empty; registration-detected ones are potential.
      val cols = ds.columns.toSeq.sortBy(_._1)
        .map { case (n, t) => s"${q(n)}: ${q(t.toString.toUpperCase)}" }
      val cats = ds.columnAttrs.collect { case (n, a) if a.categorical => n }.toSeq.sorted
      respond(ex, 200,
        s"""{"columns": {${cols.mkString(", ")}},
           | "minTimestamp": ${ds.minTimestamp}, "maxTimestamp": ${ds.maxTimestamp},
           | "sourceCategoricals": [], "potentialCategoricals": [${cats.map(q).mkString(", ")}]}""".stripMargin)
    } else {
      // Full schema (reference DatasetSchema: per-column DatasetColumn with
      // dtype name + attributes from registration).
      val cols = ds.columns.toSeq.sortBy(_._1).map { case (n, t) =>
        val a = ds.columnAttrs.getOrElse(n, Catalog.ColumnAttrs())
        val attrs = Seq(
          a.numericMin.map(v => s""""numericMin": $v"""),
          a.numericMax.map(v => s""""numericMax": $v"""),
          Some(s""""categorical": ${a.categorical}"""),
          a.catUniqueRatio.map(v => s""""catUniqueRatio": $v"""),
          if (a.catTopValues.nonEmpty)
            Some(s""""catTopValues": {${a.catTopValues.map { case (v, r) => s"${q(v)}: $r" }.mkString(", ")}}""")
          else None
        ).flatten.mkString(", ")
        s"""${q(n)}: {"name": ${q(n)}, "dtypeName": ${q(ds.dtypeNames.getOrElse(n, ""))}, "coltype": ${q(t.toString.toUpperCase)}, "colattrs": {$attrs}}"""
      }
      val unsup = ds.unsupportedColumns.sorted
        .map(n => s"${q(n)}: ${q(ds.dtypeNames.getOrElse(n, ""))}")
      respond(ex, 200,
        s"""{"groupIdColumn": ${q(ds.groupIdColumn)}, "timestampColumn": ${q(ds.timestampColumn)},
           | "columns": {${cols.mkString(", ")}},
           | "unsupportedColumns": {${unsup.mkString(", ")}}}""".stripMargin)
    }
  }

  private def parts(ex: HttpExchange, name: String): Unit = {
    val ds = dataset(name)
    // Hadoop FS listing — works for local paths and s3a alike (reference
    // DatasetPartsInfo with naming method LIST, dataset.py:81-96).
    val path = new org.apache.hadoop.fs.Path(ds.basepath)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val f = it.next()
      val base = f.getPath.getName
      if (!base.startsWith("_") && !base.startsWith("."))
        files += ((f.getPath.toUri.getPath, f.getLen))
    }
    val sorted = files.sortBy(_._1)
    respond(ex, 200,
      s"""{"namingMethod": "LIST", "totalParts": ${sorted.size},
         | "totalSize": ${sorted.map(_._2).sum},
         | "filenames": [${sorted.map(f => q(f._1)).mkString(", ")}]}""".stripMargin)
  }

  /** Plan + execute a query; `emptyBody` serves GET empty-query. */
  private def query(ex: HttpExchange, name: String, emptyBody: Boolean): Unit = {
    val ds = dataset(name)
    val parsed = QueryParser.parse(if (emptyBody) "{}" else readBody(ex))
    SchemaValidator.validateTimeframeScale(parsed, ds.minTimestamp, ds.maxTimestamp)

    // Cache key captured with the SAME catalog snapshot the query runs on
    // (ds fetched once at request entry): registeredAt versions the entry.
    val cacheKey = QueryKey(ds.name, ds.registeredAt, parsed)

    // The (body, plan) answer plus its stats block. "plan" names WHICH
    // plan answered (r14): routing is deliberately invisible in the
    // results — the operability surface is the stats block, where "plan"
    // rides as a trailing key. An answer someone else paid for — a cache
    // hit or a coalesced wait (no `stats`) — gets a zero-cost block,
    // schema-identical to a real run's (clients read
    // stats.rowsScanned/coreSecs as the cost basis — a hit's cost IS
    // zero), with "cached": true; it is still a use for the unregister
    // safety interval.
    def withStats(answer: (String, String), stats: Option[JobStats.Snapshot]): String = {
      mQueries.incrementAndGet()
      if (stats.isEmpty) { mCacheHits.incrementAndGet(); Catalog.touch(name) }
      ResultJson.addTopLevelField(answer._1, "stats",
        stats.getOrElse(JobStats.Snapshot(0, 0, 0, 0, 0, 0, 0))
          .toJsonWith("plan" -> q(answer._2), "cached" -> stats.isEmpty.toString))
    }

    def runQuery(): ((String, String), JobStats.Snapshot) = {
      // Loaded on the result-cache miss path only (a hit must not pay the
      // parquet footer/file-index read — the cache test's zero-jobs
      // assertion watches exactly this), and even misses reuse the
      // per-registration handle (see `handles`): the footer/index read
      // happens once per (name, registeredAt), not once per query. A
      // handle hit is still a use for the unregister safety interval.
      // Load through the ds SNAPSHOT bound at request entry, never by
      // name (r16 race fix): a re-registration landing mid-request would
      // otherwise swap the basepath under this request's registeredAt —
      // a torn version that would also poison the handle store's key.
      Catalog.touch(name)
      val df = handles.getOrCompute((ds.name, ds.registeredAt))(Catalog.load(spark, ds))
      // The registration-validated day-partition declaration flows into
      // the engine here — timeframe queries over partitionByDay layouts
      // prune whole day directories on the serving path too.
      // numGroups (+ gidMaxBytes for string gids, r16) gate the routed
      // plan's survivor-sharing broadcast (QueryEngine.SurvivorShareMax*);
      // passed only when the registration scanned every part — a sampled
      // registration's approximate stats could undercount past the gate's
      // headroom.
      val baseEngine = new QueryEngine(DatasetSpec(ds.groupIdColumn, ds.timestampColumn,
        dayPartitionColumn = ds.dayPartitionColumn,
        numGroups = if (ds.statsExact) Some(ds.numGroups) else None,
        gidMaxBytes = if (ds.statsExact) ds.gidMaxBytes else None))
      val engine = routingMinBytes.fold(baseEngine)(baseEngine.withRoutingThreshold)
      // Caches.scoped: each query owns (and on exit drains) exactly the
      // frames IT retained — async/stream queries run concurrently on
      // their own threads, and the r14 global drain-per-request let one
      // query's finally unpersist another's in-flight shared
      // candidate-pass table (perf-only, but it silently re-introduced
      // the per-frame recomputation the cache exists to avoid).
      val result = graft.util.Caches.scoped(JobStats.measure(spark) {
        val planned = engine.runValidated(df, parsed)
        (ResultJson.build(planned), planned.plan)
      })
      val stats = result._2
      mQueryMs.addAndGet(stats.wallTimeMs)
      mRowsScanned.addAndGet(stats.rowsScanned)
      mBytesScanned.addAndGet(stats.bytesScanned)
      mShuffleBytes.addAndGet(stats.shuffleBytesWritten)
      mCoreMs.addAndGet(stats.executorRunMs)
      result
    }

    // With the cache on, identical requests share one execution: a kept
    // result answers at once, and a request arriving while the same key is
    // running awaits it (counted coalesced whatever the outcome). A
    // propagated failure is this client's own failure too — N herding
    // clients seeing the one failed scan is N failed requests — and is the
    // winner's own exception, so the status code matches (400 stays 400).
    // The wait is TIMED (r16): a waiter holds an HTTP worker thread, so an
    // untimed wait on a wedged winner would starve the status/metrics
    // endpoints under a small pool. Past `coalesceWaitSec` the waiter runs
    // the query itself — uncoalesced but correct — and its result settles
    // the wedged latch (r17), so later arrivals hit instead of re-executing
    // serially. The cache off, every request executes.
    def execute(): String = {
      var stats: Option[JobStats.Snapshot] = None // set iff THIS request ran
      def run(): (String, String) = { val (answer, s) = runQuery(); stats = Some(s); answer }
      val answer =
        try
          if (resultCacheSize == 0) run()
          else results.getOrCompute(cacheKey, coalesceWaitSec, () => mCoalesced.incrementAndGet())(run())
        catch { case e: Throwable => mQueryErrors.incrementAndGet(); throw e }
      withStats(answer, stats)
    }

    if (boolArg(ex, "async")) submitAsync(ex, name)(execute())
    else if (boolArg(ex, "stream")) {
      // Chunked response: progress lines while the query runs, then the
      // result as the last line (reference run_streamable, apiserver.py:125-172).
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, 0) // length 0 → chunked
      val out = ex.getResponseBody
      def emit(line: String): Unit = { out.write((line + "\n").getBytes(StandardCharsets.UTF_8)); out.flush() }
      // Timed future get, not a sleep-poll (r16): the former 200ms poll
      // granularity added ~180ms p50 to every short stream request
      // (BENCH.md serving floor: stream p50 403ms vs sync 222ms) — the
      // waiter now wakes the instant the query completes, emitting a
      // progress line each second it doesn't.
      val done = java.util.concurrent.CompletableFuture.supplyAsync(() => execute(),
        (r: Runnable) => new Thread(r, "graft-query-stream").start())
      var last: String = null
      var waited = 0L
      while (last == null) {
        try last = done.get(1, java.util.concurrent.TimeUnit.SECONDS)
        catch {
          case _: java.util.concurrent.TimeoutException =>
            waited += 1000
            emit(s"""{"stage": "RUNNING", "message": "query running", "elapsedMs": $waited}""")
          case e: java.util.concurrent.ExecutionException =>
            last = s"""{"errorMessage": ${q(e.getCause.getMessage)}}"""
        }
      }
      emit(last)
    } else respond(ex, 200, execute())
  }

  /** Submit `work` to the bounded async pool, track it in the job
    * registry, answer 202 with the id + status URL. Beyond `asyncThreads`
    * concurrent jobs, submissions queue FIFO (stage "QUEUED") up to
    * `asyncQueueMax` waiting; past that the submission is REJECTED with
    * 429 + Retry-After (r17) — the pool queue and the QUEUED registry
    * population stay bounded under a flood, at the price of the client
    * retrying. Admission is exact (atomic increment-then-check, backed
    * out on rejection), never approximate under concurrency. */
  private def submitAsync(ex: HttpExchange, dataset: String)(work: => String): Unit = {
    if (pendingAsync.incrementAndGet() > asyncThreads.toLong + asyncQueueMax) {
      pendingAsync.decrementAndGet()
      mRejected.incrementAndGet()
      // Retry-After sized to one pool-drain round at the measured floor —
      // a hint, not a promise (RFC 6585 §4 requires no accuracy).
      ex.getResponseHeaders.set("Retry-After", "1")
      respond(ex, 429,
        s"""{"errorMessage": "async queue full ($asyncQueueMax queued); retry later"}""")
      return
    }
    // Bound the job registry: evict FINISHED jobs beyond the last 1000 (a
    // long-lived server would otherwise accumulate one entry per query).
    // Only DONE/FAILED are evictable — a QUEUED job's registry entry is
    // the client's only handle on work the pool hasn't started yet (and
    // with the admission cap above, the un-evictable population is now
    // bounded by asyncThreads + asyncQueueMax).
    if (jobs.size > 1000) {
      jobs.values.asScala.filter(j => j.stage == "DONE" || j.stage == "FAILED")
        .toSeq.sortBy(_.id.drop(1).toLong)
        // A removed entry's payload is unreachable: release it too.
        .dropRight(500).foreach(j => if (jobs.remove(j.id) != null) payloads.remove(j.id))
    }
    val id = s"q${jobSeq.incrementAndGet()}"
    val job = AsyncJob(id, dataset, stage = "QUEUED")
    jobs.put(id, job)
    // A rejected submit (pool shut down mid-stop) must release the
    // admission slot it claimed — the 500 it surfaces as is fine, a
    // stuck-high pendingAsync that 429s forever is not.
    try asyncPool.submit(new Runnable {
      override def run(): Unit = {
        job.stage = "RUNNING"
        // Payload first: a poller that sees DONE finds it, or its eviction.
        try { payloads.put(id, work); job.stage = "DONE" }
        catch { case e: Throwable => job.error = Some(String.valueOf(e.getMessage)); job.stage = "FAILED" }
        finally pendingAsync.decrementAndGet()
      }
    })
    catch { case e: Throwable =>
      pendingAsync.decrementAndGet(); jobs.remove(id); throw e
    }
    respond(ex, 202, s"""{"queryId": ${q(id)}, "status": "/queries/$id/status"}""")
  }

  private def queryStatus(ex: HttpExchange, id: String): Unit =
    Option(jobs.get(id)) match {
      case None => respond(ex, 404, s"""{"errorMessage": "unknown query '$id'"}""")
      case Some(job) =>
        // The store read expires past-TTL payloads first, so a poll never
        // observes a payload older than the bound.
        val payload = if (job.stage == "DONE") payloads.get(id) else None
        val result = payload.map(r => s""", "result": $r""").getOrElse("")
        val error = job.error.map(e => s""", "errorMessage": ${q(e)}""").getOrElse("")
        // A DONE job whose payload fell to the byte budget or the TTL says
        // so: the late poller re-runs the query instead of reading "done
        // with no result" as a server bug.
        val evicted = if (job.stage == "DONE" && payload.isEmpty) s""", "resultEvicted": true""" else ""
        val done = job.stage == "DONE" || job.stage == "FAILED"
        respond(ex, 200,
          s"""{"queryId": ${q(job.id)}, "dataset": ${q(job.dataset)}, "stage": ${q(job.stage)}, "done": $done$error$evicted$result}""")
    }

  // ----------------------------------------------------------------- metrics

  // Cumulative server counters, exposed in the Prometheus text format —
  // parity with the reference's Prometheus export (frocket/common/
  // metrics.py:126-174, invoker/stats_builder.py). Per-query detail stays
  // in each response's "stats" block; this is the fleet-scrape view.
  private val mQueries      = new AtomicLong()
  private val mCacheHits    = new AtomicLong()
  private val mCoalesced    = new AtomicLong()
  private val mQueryErrors  = new AtomicLong()
  private val mRejected     = new AtomicLong()
  private val mQueryMs      = new AtomicLong()
  private val mRowsScanned  = new AtomicLong()
  private val mBytesScanned = new AtomicLong()
  private val mShuffleBytes = new AtomicLong()
  private val mCoreMs       = new AtomicLong()

  private def metrics(ex: HttpExchange): Unit = {
    // The store gauges expire past-TTL payloads before they read, so an
    // idle server's retained-bytes gauge reports 0 past the TTL.
    def m(name: String, kind: String, help: String, value: Long): String =
      s"# HELP $name $help\n# TYPE $name $kind\n$name $value\n"
    val body =
      m("graft_queries_total", "counter", "Queries executed successfully", mQueries.get) +
      m("graft_query_cache_hits_total", "counter", "Queries answered from the versioned result cache", mCacheHits.get) +
      m("graft_query_coalesced_total", "counter", "Queries coalesced onto an identical in-flight execution", mCoalesced.get) +
      m("graft_query_errors_total", "counter", "Queries that failed", mQueryErrors.get) +
      m("graft_query_wall_ms_total", "counter", "Total query wall time (ms)", mQueryMs.get) +
      m("graft_rows_scanned_total", "counter", "Rows read by queries", mRowsScanned.get) +
      m("graft_bytes_scanned_total", "counter", "Bytes read by queries", mBytesScanned.get) +
      m("graft_shuffle_bytes_total", "counter", "Shuffle bytes written by queries", mShuffleBytes.get) +
      m("graft_core_ms_total", "counter", "Executor-core milliseconds consumed by queries (cost basis)", mCoreMs.get) +
      m("graft_datasets_registered", "gauge", "Currently registered datasets", Catalog.list().size.toLong) +
      m("graft_query_rejected_total", "counter", "Async submissions rejected 429 at the queue cap", mRejected.get) +
      m("graft_result_cache_entries", "gauge", "Entries currently in the versioned result cache", results.size.toLong) +
      m("graft_df_handle_entries", "gauge", "Per-registration DataFrame handles currently cached", handles.size.toLong) +
      m("graft_async_jobs_pending", "gauge", "Async jobs admitted but not yet finished (QUEUED + RUNNING)", pendingAsync.get) +
      m("graft_async_result_bytes_retained", "gauge", "UTF-8 bytes of async results currently retained in the job registry", payloads.bytes) +
      m("graft_inflight_coalescable_queries", "gauge", "Cold-key queries executing under the single-flight latch right now", results.pending.toLong)
    respond(ex, 200, body, "text/plain; version=0.0.4; charset=utf-8")
  }

  // ----------------------------------------------------------------- plumbing

  // Bounded read (r17): readNBytes allocates incrementally up to the
  // requested limit, so an oversized body costs at most maxBodyBytes+1 of
  // driver memory before the 413, never the client's full payload.
  private def readBody(ex: HttpExchange): String = {
    val bytes = ex.getRequestBody.readNBytes(maxBodyBytes + 1)
    if (bytes.length > maxBodyBytes) throw new BodyTooLargeException(maxBodyBytes)
    new String(bytes, StandardCharsets.UTF_8)
  }

  private def respond(ex: HttpExchange, code: Int, body: String,
                      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
  }
}

/** Result-store key: dataset name + registration version + the parsed
  * query's case-class AST, compared STRUCTURALLY (r16). The r15 key
  * rendered the AST through case-class `toString`, which does not quote
  * embedded strings — a filter value containing AST-rendering text
  * (`")), RowFilter("`…) could make two structurally different queries
  * render identical keys, serving one query's cached result to the other
  * (and riding its single-flight latch). The AST already has structural
  * equality/hashCode, so the key holds it directly — no string rendering,
  * no injection surface (pinned by the toString-collision test in
  * ApiServerSpec). */
private[server] final case class QueryKey(dataset: String, registeredAt: Long,
                                          query: graft.query.QueryAst.GraftQuery)

/** `runMain graft.server.ApiServerMain [port]` — serve until killed. */
object ApiServerMain {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8318)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val srv = new ApiServer(spark, port,
      unregisterSafetySec = sys.env.getOrElse("GRAFT_UNREGISTER_SAFETY_SEC", "0").toInt,
      catalogStore = sys.env.get("GRAFT_CATALOG_STORE"),
      routingMinBytes = sys.env.get("GRAFT_ROUTING_MIN_BYTES").map(_.toLong),
      resultCacheSize = sys.env.getOrElse("GRAFT_RESULT_CACHE_SIZE", "0").toInt,
      resultCacheMaxEntryBytes =
        sys.env.getOrElse("GRAFT_RESULT_CACHE_MAX_ENTRY_BYTES", (8L << 20).toString).toLong,
      httpThreads = sys.env.getOrElse("GRAFT_HTTP_THREADS", "2").toInt,
      asyncThreads = sys.env.getOrElse("GRAFT_ASYNC_THREADS", "8").toInt,
      coalesceWaitSec = sys.env.getOrElse("GRAFT_COALESCE_WAIT_SEC", "600").toInt,
      asyncQueueMax = sys.env.getOrElse("GRAFT_ASYNC_QUEUE_MAX", "1000").toInt,
      maxBodyBytes = sys.env.getOrElse("GRAFT_MAX_BODY_BYTES", (8 << 20).toString).toInt,
      asyncResultsMaxBytes =
        sys.env.getOrElse("GRAFT_ASYNC_RESULTS_MAX_BYTES", (256L << 20).toString).toLong,
      asyncResultTtlSec =
        sys.env.getOrElse("GRAFT_ASYNC_RESULT_TTL_SEC", "3600").toLong)
    srv.start()
    // SIGTERM/SIGINT → graceful drain (r17): without this hook a kill is
    // the abrupt stop() — in-flight queries die mid-latch and a coalesce
    // winner's waiters are failed rather than answered. Registered with
    // HADOOP's ShutdownHookManager, not Runtime.addShutdownHook: Spark
    // registers its ENTIRE teardown (SparkContext stop, block manager,
    // temp dirs) as one Hadoop hook at priority 40
    // (SparkShutdownHookManager.install), and Runtime hooks run
    // CONCURRENTLY with it — a plain Runtime drain races Spark's teardown
    // and in-flight queries die mid-scan (observed: FAILED_READ_FILE on a
    // drain that still reported success). Priority 60 > 40 orders the
    // drain strictly BEFORE Spark's hook inside Hadoop's single-threaded
    // manager, so admitted queries FINISH on a live SparkContext, then
    // Spark tears down. The explicit timeout keeps Hadoop's default
    // per-hook limit from clipping a long drain. stopGracefully bounds
    // the drain at GRAFT_DRAIN_SEC total (default 30s); an orchestrator's
    // kill-grace window (e.g. Kubernetes' terminationGracePeriodSeconds)
    // just needs to exceed it.
    val drainSec = sys.env.getOrElse("GRAFT_DRAIN_SEC", "30").toInt
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(new Runnable {
      override def run(): Unit = {
        val drained = srv.stopGracefully(drainSec)
        val failed = srv.asyncJobCounts.getOrElse("FAILED", 0)
        // println, not a logger: logging backends may already be shut down
        // inside a shutdown hook.
        println(s"""{"shutdown": "graceful", "drainSec": $drainSec, "drained": $drained, "jobsFailed": $failed}""")
      }
    }, 60, drainSec.toLong + 10L, java.util.concurrent.TimeUnit.SECONDS)
    println(s"""{"serving": ${srv.boundPort}}""")
    Thread.currentThread().join()
  }
}
