package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One run's parameters, written by run.py (which owns the workload sizes and
  * the seeded query streams). */
final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        rows: Long, groups: Long, parts: Int, propTokens: Int,
                        clients: Int, block: Int, setupReps: Int, warmup: IndexedSeq[String],
                        stream: IndexedSeq[String], battery: IndexedSeq[String])

object Config {
  def load(path: String): Config = {
    val j = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
    def num(k: String): BigDecimal = j \ k match {
      case JInt(v)     => BigDecimal(v)
      case JLong(v)    => BigDecimal(v)
      case JDouble(v)  => BigDecimal(v)
      case JDecimal(v) => v
      case JNothing    => BigDecimal(0)
      case other       => sys.error(s"config $k: not a number: $other")
    }
    def strs(k: String): IndexedSeq[String] = j \ k match {
      case JArray(xs) => xs.collect { case JString(s) => s }.toIndexedSeq
      case _          => IndexedSeq.empty
    }
    val JString(workload) = j \ "workload"
    Config(workload, num("seed").toLong, num("seconds").toDouble, j \ "trace" == JBool(true),
      num("rows").toLong, num("groups").toLong, num("parts").toInt, num("prop_tokens").toInt,
      num("clients").toInt, num("block").toInt, num("setup_reps").toInt,
      strs("warmup"), strs("stream"), strs("battery"))
  }
}

/**
 * JVM side of the benchmark: `Main <config.json> <work dir>`. Builds the
 * Spark session, runs the configured workload and writes `raw.json` (every
 * measurement, unreduced) into the work dir; run.py reduces it to metrics.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(configPath, work) = args
    val cfg = Config.load(configPath)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    try {
      val fields = cfg.workload match {
        case "serve-small" | "scan-large" => new HttpWorkload(spark, cfg, work).run()
        case "ops-battery"                => new Battery(spark, cfg, work).run()
        case other                        => sys.error(s"unknown workload $other")
      }
      val out = Json.obj(Seq("workload" -> cfg.workload, "seed" -> cfg.seed,
        "session_s" -> sessionS) ++ fields ++ Seq("rss_peak_mb" -> rssPeakMb()))
      Files.write(Paths.get(s"$work/raw.json"), out.getBytes("UTF-8"))
      log("done")
    } finally {
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      spark.stop()
    }
  }

  /** The serving deployment's session shape (ApiServerMain): local[4],
    * 4 shuffle partitions, UTC, no UI; scratch space inside `work`. */
  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val t0 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - t0) / 1e9}%.1fs] $msg")

  /** Total collection time of all garbage collectors so far, in ms. */
  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))
  }
}

/** `Digest <seed> <rows> <work dir>`: digests of the generated tables for `seed` (the
  * events table under two slicings), for `seed` again, and for `seed + 1`,
  * as one JSON line — the seed-determinism check of the benchmark's tests. */
object Digest {
  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    val rows = args(1).toLong
    val work = args(2)
    val spark = Main.session(work)
    try {
      def tables(s: Long): Map[String, String] = Map(
        "events_1_slice" -> Data.digest(Data.events(spark, s, rows, rows / 20, 2, 1)),
        "events_7_slices" -> Data.digest(Data.events(spark, s, rows, rows / 20, 2, 7)),
        "documents" -> Data.digest(Data.documents(spark, s, rows / 10)),
        "embeddings" -> Data.digest(Data.embeddings(spark, s, rows / 10)))
      println(Json.obj(Seq("seed" -> tables(seed), "seed_again" -> tables(seed),
        "other_seed" -> tables(seed + 1))))
    } finally spark.stop()
  }
}
