package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/**
 * ops-battery: the configured `SparkEntry.queries` rows over seeded tables,
 * warm, in one JVM. Timed as `graft.Bench` times a row
 * (`fn(spark, dir).count()`); the traced pass splits each row into the
 * row's construction, Catalyst planning and execution. Each row's first
 * (cold) execution writes its result out for the DuckDB compare run.py
 * performs.
 */
final class Battery(spark: SparkSession, cfg: Config, work: String) {
  private val dir = s"$work/data/sf"

  def run(): Seq[(String, Any)] = {
    writeTables()
    val fns = cfg.battery.map(n => n -> SparkEntry.queries(n))

    // First execution of each row (codegen, JIT, operator fixtures) dumps
    // its full result for the oracle compare.
    val out = s"$work/dump"
    val coldS = fns.map { case (name, fn) =>
      isolate()
      timeS(fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$name"))._2
    }
    writeOracleManifest(out, fns.map(_._1))
    // One untimed pass of the timed form, whose plans the dump did not
    // compile; the JIT is still settling through it.
    fns.foreach { case (_, fn) => isolate(); fn(spark, dir).count() }
    Main.log(s"tables written, cold pass ${coldS.sum} s, warm-up pass done")

    System.gc()
    val gc0 = Main.gcMillis()
    val times = fns.map(_ => Seq.newBuilder[Double]).toArray
    val errors = Seq.newBuilder[String]
    val t0 = System.nanoTime()
    val deadline = t0 + (cfg.seconds * 1e9).toLong
    var passes = 0
    while (passes == 0 || System.nanoTime() < deadline) {
      fns.indices.foreach { i =>
        release()
        try times(i) += timeS(fns(i)._2(spark, dir).count())._2
        catch { case scala.util.control.NonFatal(e) => errors += s"${fns(i)._1}: $e" }
      }
      passes += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val gcMs = Main.gcMillis() - gc0

    Main.log(s"measured $passes passes in $wallS s")
    val traced = if (cfg.trace) Some(tracedPass(fns)) else None
    Seq(
      "setup" -> Map("cold_s" -> coldS),
      "rows" -> fns.indices.map(i => Map("name" -> fns(i)._1, "times_s" -> times(i).result())),
      "errors" -> errors.result(),
      "passes" -> passes,
      "measure_wall_s" -> wallS,
      "gc_ms" -> gcMs,
      "sf_dir" -> dir,
      "dump_dir" -> out,
      "props" -> Map(
        "tables" -> Seq("events", "documents", "embeddings").map { t =>
          t -> Map("rows" -> spark.read.parquet(s"$dir/$t.parquet").count(),
            "bytes_on_disk" -> new java.io.File(s"$dir/$t.parquet").length(),
            "digest" -> Data.digest(spark.read.parquet(s"$dir/$t.parquet")))
        }.toMap)) ++
      traced.map(t => Seq("traced" -> Json.Raw(t))).getOrElse(Nil)
  }

  private def timeS[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** No cached blocks carried from one row into the next. */
  private def release(): Unit = {
    graft.util.Caches.drain()
    spark.catalog.clearCache()
  }

  /** As `graft.Bench` isolates rows: also collect the previous row's
    * garbage. The timed passes skip the collection, which costs about
    * a third of a pass at this size; they start from a collected heap. */
  private def isolate(): Unit = {
    release()
    System.gc()
  }

  /** Tables in the test-data layout: one parquet file per table, `ts` as
    * microsecond TIMESTAMP_NTZ as the oracle side expects. */
  private def writeTables(): Unit = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    def single(df: DataFrame, name: String): Unit = {
      val tmp = s"$dir/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$dir/$name.parquet"))
      graft.util.Caches.drain()
      deleteTree(new java.io.File(tmp))
    }
    Files.createDirectories(Paths.get(dir))
    single(Data.events(spark, cfg.seed, cfg.rows, cfg.groups, cfg.propTokens, cfg.parts,
      withEventId = true, tsAsTimestamp = true), "events")
    single(Data.documents(spark, cfg.seed, cfg.rows / 10), "documents")
    single(Data.embeddings(spark, cfg.seed, cfg.rows / 20), "embeddings")
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** One traced pass: construct (the row's function returning its frame —
    * eager for rows that checkpoint or run a stream), Catalyst (forcing the
    * executed plan of the same count the timed pass runs) and execution. */
  private def tracedPass(fns: Seq[(String, (SparkSession, String) => DataFrame)]): String = {
    val plainS = fns.map { case (_, fn) => isolate(); timeS(fn(spark, dir).groupBy().count().collect())._2 }
    val tracer = new Tracer(spark)
    fns.zipWithIndex.foreach { case ((name, fn), i) =>
      isolate()
      val req = i.toLong
      val rid = s"r$i"
      tracer.span(s"row:$name", "", req, rid) {
        val (df, _) = tracer.span("ops.construct", rid, req)(fn(spark, dir))
        val counted = df.groupBy().count()
        tracer.span("ops.catalyst", rid, req)(counted.queryExecution.executedPlan)
        tracer.span("ops.exec", rid, req)(counted.collect())
      }
    }
    val spans = tracer.finish()
    val path = s"$work/spans.jsonl"
    Files.write(Paths.get(path), Trace.toJsonLines(spans).mkString("", "\n", "\n").getBytes("UTF-8"))
    Json.obj(Seq("spans" -> path, "plain_ms" -> plainS.map(_ * 1000.0)))
  }

  /** Oracle SQL and manifest beside the dumps, in the layout the oracle
    * compare script reads. Every battery row has an oracle. */
  private def writeOracleManifest(out: String, names: Seq[String]): Unit = {
    val oracle = SparkEntry.oracleSql
    Files.write(Paths.get(s"$out/oracle_sql.json"),
      Json.obj(names.map(n => n -> oracle(n))).getBytes("UTF-8"))
    Files.write(Paths.get(s"$out/manifest.json"),
      Json.obj(Seq("queries" -> names, "failed" -> Map.empty[String, String])).getBytes("UTF-8"))
  }
}
