package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Seeded input generators. Every value is a pure function of (seed, row id,
 * column salt) through `xxhash64`, so a table is identical for one seed
 * whatever the partitioning, the core count or the write order — the
 * property the dataset digest pins.
 */
object Data {

  /** 2024-01-01T00:00:00Z in epoch microseconds; events span 30 days. */
  val StartMicros: Long = 1704067200000000L
  val SpanMicros: Long = 30L * 86400L * 1000000L
  val EventTypes: Seq[String] = Seq("view", "click", "purchase", "signup", "error")

  private def h(seed: Long, id: Column, salt: Int): Column = xxhash64(lit(seed), id, lit(salt))
  private def below(seed: Long, id: Column, salt: Int, n: Long): Column = pmod(h(seed, id, salt), lit(n))
  /** Uniform double in [0, 1) from the top 53 bits of the hash. */
  private def unit(seed: Long, id: Column, salt: Int): Column =
    shiftrightunsigned(h(seed, id, salt), 11).cast("double") / lit(9007199254740992.0)

  /**
   * Event log in the engine's contract: `ts` as epoch-nanos long (whole
   * microseconds) rising with the row id, as an append-only log is written,
   * `value` with two decimals, `props` a small JSON object. `propTokens`
   * adds that many per-row 64-bit tokens to `props` (session, referrer and
   * the like), the high-entropy payload real event properties carry; it is
   * what makes bytes on disk grow with rows instead of compressing away.
   */
  def events(spark: SparkSession, seed: Long, rows: Long, groups: Long,
             propTokens: Int, slices: Int, withEventId: Boolean = false,
             tsAsTimestamp: Boolean = false): DataFrame = {
    val id = col("id")
    val types = array(EventTypes.map(lit): _*)
    val slot = math.max(1L, SpanMicros / rows)
    val micros = lit(StartMicros) + id * lit(slot) + below(seed, id, 2, slot)
    val k = below(seed, id, 5, 100)
    val props = format_string("{\"k\": %d" +
      (0 until propTokens).map(i => s", \"t$i\": \"%016x\"").mkString + "}",
      k +: (0 until propTokens).map(i => h(seed, id, 30 + i)): _*)
    val cols = Seq(
      if (withEventId) Some(id.as("event_id")) else None,
      Some((if (tsAsTimestamp) timestamp_micros(micros).cast("timestamp_ntz")
            else micros * lit(1000L)).as("ts")),
      Some(below(seed, id, 1, groups).as("user_id")),
      Some(element_at(types, (below(seed, id, 3, EventTypes.size) + 1).cast("int")).as("event_type")),
      Some((floor(unit(seed, id, 4) * lit(56021.0)) / lit(100.0)).as("value")),
      Some(props.as("props"))).flatten
    spark.range(0, rows, 1, slices).select(cols: _*)
  }

  private val Vocab: Seq[String] = Seq(
    "the", "a", "fast", "slow", "key", "order", "sort", "table", "scan", "merge",
    "part", "window", "small", "big", "hash", "join", "batch", "stream", "spark",
    "dup", "group", "query", "row", "data", "filter", "customer", "line", "value",
    "agg", "column", "vector", "funnel", "event", "user", "session", "step")

  /** Documents: word salad over a fixed vocabulary; every tenth document is a
    * near-duplicate of its predecessor (one word changed), so the dedup
    * operators find real pairs. */
  def documents(spark: SparkSession, seed: Long, rows: Long): DataFrame = {
    val vocab = array(Vocab.map(lit): _*)
    val dup = pmod(col("id"), lit(10L)) === lit(9L)
    val base = when(dup, col("id") - 1).otherwise(col("id"))
    val nWords = (below(seed, base, 10, 60) + 8).cast("int")
    def word(fromId: Column, i: Column): Column =
      element_at(vocab, (pmod(xxhash64(lit(seed), fromId, i), lit(Vocab.size.toLong)) + 1).cast("int"))
    val words = transform(sequence(lit(1), nWords), i =>
      when(dup && i === nWords, word(col("id"), i)).otherwise(word(base, i)))
    val langs = array(Seq("en", "en", "en", "de", "fr", "es", "zh").map(lit): _*)
    spark.range(0, rows, 1, 2)
      .select(col("id").as("doc_id"), concat_ws(" ", words).as("text"),
        element_at(langs, (below(seed, col("id"), 11, 7) + 1).cast("int")).as("lang"),
        concat(lit("src"), below(seed, col("id"), 12, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-d float embeddings around ten seeded cluster centres. */
  def embeddings(spark: SparkSession, seed: Long, rows: Long): DataFrame = {
    val label = below(seed, col("id"), 20, 10)
    val vec = transform(sequence(lit(0), lit(63)), j =>
      ((shiftrightunsigned(xxhash64(lit(seed), label, j, lit(21)), 11).cast("double") /
          lit(9007199254740992.0) - lit(0.5)) +
        (shiftrightunsigned(xxhash64(lit(seed), col("id"), j, lit(22)), 11).cast("double") /
          lit(9007199254740992.0) - lit(0.5)) * lit(0.2)).cast("float"))
    spark.range(0, rows, 1, 2)
      .select(col("id").as("vec_id"), vec.as("embedding"), label.cast("int").as("label"))
  }

  /** Order-independent digest of a frame: row count plus the exact sum of
    * per-row 64-bit hashes. Equal for equal multisets of rows. */
  def digest(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }
}
