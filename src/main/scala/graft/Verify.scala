package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Queries that materialize side fixtures (q_csv_ingest) key their paths
    // by SF-dir name; the dumped oracle SQL must reference the same paths,
    // so record the name before queries run AND before oracleSql is built.
    sys.props("graft.sfdir.name") = new java.io.File(sfDir).getName
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.foreach { case (name, fn) =>
      // A FAILED marker from a previous run must not outlive a subsequent
      // success — delete it up front; a fresh failure rewrites it below.
      Files.deleteIfExists(Paths.get(s"$outDir/${name}_FAILED"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // A stale dump from a previous run (possibly another SF) would be
        // hashed against a fresh oracle — delete it so the gate reports a
        // missing/err row instead of grading garbage.
        val dir = Paths.get(s"$outDir/$name")
        if (Files.exists(dir)) {
          import scala.jdk.CollectionConverters._
          Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
        }
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        Files.writeString(Paths.get(s"$outDir/${name}_FAILED"), failed(name))
      } finally graft.util.Caches.drain() // no cache build-up across 50+ queries
    }
    // JSON string escape covering ALL control chars (<0x20) — a tab or CR
    // in builder-authored SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness.
    import graft.result.ResultJson.{quote => q}
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Manifest of EVERY attempted query + its failure (if any): a query that
    // throws must surface as an explicit err row in any downstream gate, not
    // silently vanish from the artifact — a round whose suite shrank is a
    // regression even when every surviving row is green (the round-8 lesson:
    // 18 ts-typed queries dropped while the gate reported all-green).
    val manifest = "{" +
      s"${q("queries")}: [${SparkEntry.queries.keys.toSeq.sorted.map(q).mkString(", ")}], " +
      s"${q("failed")}: {${failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(", ")}}}"
    Files.writeString(Paths.get(s"$outDir/manifest.json"), manifest)
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size}/${SparkEntry.queries.size} queries FAILED: " +
        failed.keys.mkString(", "))
    } else
      System.err.println(s"[verify] all ${SparkEntry.queries.size} queries dumped OK")
    // Stop state-store maintenance BEFORE the session (see Bench: avoids
    // the shutdown-race "SparkEnv not active" WARN in captured output).
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.stop()
  }
}
