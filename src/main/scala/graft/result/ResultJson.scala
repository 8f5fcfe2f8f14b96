package graft.result

import org.apache.spark.sql.DataFrame

import graft.engine.PlannedQuery

/**
 * Result shaping to the reference's JSON response format
 * (frocket/common/tasks/query.py:96-140 + serializable.py:76-98: camelCase
 * keys, null-stripping, per-value dicts keyed by stringified values).
 *
 * This executes the planned DataFrames (with the shared row set's
 * materialization below, the only place the engine calls an action) and
 * assembles the reference-shaped response:
 * {
 *   "query":  {"matchingGroups": n, "matchingGroupRows": n,
 *              "aggregations": [{"name":..., "value"|"values": ...}]},
 *   "funnel": {"sequence": [{"sequenceGroups": n, "sequenceRowCount": n}],
 *              "stepAggregations": [...], "endAggregations": [...]}
 * }
 */
object ResultJson {

  /** Execute `plan` and render its response. A plan without a shared row
    * set collects its frames one after another, in response order. With
    * one ([[graft.engine.PlannedQuery.shared]]), the row set is
    * materialized once, the frames are rebuilt over it and collected
    * concurrently, one new thread per frame, and rendered in the same
    * fixed order — the same bytes as the serial rendering. */
  def build(plan: PlannedQuery): String = plan.shared match {
    case None => render(plan, _.map(_()))
    case Some(shared) =>
      // Materialize BEFORE the fan-out: frames started first would block
      // on the checkpoint's block locks while holding task slots.
      // localCheckpoint, not persist: a cached plan is served by the
      // CacheManager to any concurrent request whose plan is equal, which
      // makes one request's physical plan (and its float summation order)
      // depend on other requests. These blocks belong to this request and
      // are freed when its Caches scope exits (or at Caches.drain). They
      // live only in executor storage: an executor lost before the frames
      // finish fails the request (the lineage is truncated), it never
      // answers wrongly — retry the request.
      val rows = graft.util.Caches.track(shared.rows.localCheckpoint(eager = true))
      render(shared.frames(rows), concurrently)
  }

  /** Collect every frame of `p` through `collect` (frame thunks in
    * response order → their rendered JSON, in the same order) and assemble
    * the response. */
  private def render(p: PlannedQuery, collect: Seq[() => String] => Seq[String]): String = {
    def agg(named: (String, DataFrame)): () => String = () => aggJson(named._1, named._2)
    val parts = collect(
      Seq(() => summaryJson(p.summary)) ++ p.aggregations.map(agg) ++
        p.funnel.map(f => () => stepsJson(f)) ++ p.funnelAggregations.map(agg))
    val (aggs, funnelParts) = parts.tail.splitAt(p.aggregations.size)
    val out = new StringBuilder
    out ++= s"""{"query": {${parts.head}"""
    if (aggs.nonEmpty) out ++= s""", "aggregations": [${aggs.mkString(", ")}]"""
    out ++= "}"
    funnelParts.headOption.foreach { steps =>
      out ++= s""", "funnel": {"sequence": [$steps]"""
      if (funnelParts.tail.nonEmpty)
        out ++= s""", "aggregations": [${funnelParts.tail.mkString(", ")}]"""
      out ++= "}"
    }
    out ++= "}"
    out.toString
  }

  /** Run each thunk on its own new thread and return the results in input
    * order. New threads, not a pool: Spark local properties are inherited
    * at thread creation, so every frame's jobs carry the caller's
    * properties — JobStats.measure's id, job group, tracing tags. Every
    * thread is joined before the first failure is rethrown. */
  private def concurrently(tasks: Seq[() => String]): Seq[String] = {
    val results = new Array[String](tasks.size)
    val failures = new Array[Throwable](tasks.size)
    val threads = tasks.zipWithIndex.map { case (task, i) =>
      new Thread(() => try results(i) = task() catch { case e: Throwable => failures(i) = e },
        s"graft-result-frame-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    failures.find(_ != null).foreach(e => throw e)
    results.toSeq
  }

  private def summaryJson(summary: DataFrame): String = {
    val s = summary.collect()(0)
    s""""matchingGroups": ${s.getLong(0)}, "matchingGroupRows": ${s.getLong(1)}"""
  }

  private def stepsJson(funnel: DataFrame): String =
    funnel.collect().sortBy(_.getInt(0)).map { r =>
      s"""{"sequenceGroups": ${r.getLong(1)}, "sequenceRowCount": ${r.getLong(2)}}"""
    }.mkString(", ")

  /** Append `"key": valueJson` as a trailing top-level field of an
    * already-serialized JSON object. The checked replacement for slicing
    * serialized strings by hand (r14 assembled the response via two
    * `dropRight(1)`s that silently produced invalid JSON if either
    * serializer ever gained trailing whitespace): callers (ApiServer's
    * stats block) compose objects through this, and a non-object input
    * fails fast instead of corrupting the response. `valueJson` must be
    * pre-rendered JSON. */
  def addTopLevelField(objJson: String, key: String, valueJson: String): String = {
    val trimmed = objJson.trim
    require(trimmed.startsWith("{") && trimmed.endsWith("}"),
      s"not a JSON object: ${trimmed.take(40)}...")
    val bodyIsEmpty = trimmed.drop(1).dropRight(1).trim.isEmpty
    val sep = if (bodyIsEmpty) "" else ", "
    s"${trimmed.dropRight(1)}$sep${quote(key)}: $valueJson}"
  }

  /** One aggregation result: scalar → "value"; per-value → "values" dict
    * with stringified keys (reference behavior, query_engine.py:281). */
  private def aggJson(name: String, df: DataFrame): String = {
    val rows = df.collect()
    val cols = df.columns
    if (cols.length == 1) {
      s"""{"name": ${quote(name)}, "value": ${jsonValue(rows.headOption.map(_.get(0)).orNull)}}"""
    } else {
      val entries = rows.map { r =>
        s"${quote(String.valueOf(r.get(0)))}: ${jsonValue(r.get(1))}"
      }
      s"""{"name": ${quote(name)}, "values": {${entries.mkString(", ")}}}"""
    }
  }

  private def jsonValue(v: Any): String = v match {
    case null                => "null"
    case s: String           => quote(s)
    case b: Boolean          => b.toString
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float            => jsonValue(f.toDouble)
    case b: java.math.BigDecimal => b.toPlainString
    case n: Number           => n.toString
    case other               => quote(String.valueOf(other))
  }

  /** The one JSON string literal writer: escapes quote, backslash and
    * EVERY control character (< 0x20), passes everything else — non-ASCII
    * included — through raw. A null renders as the string "null". */
  def quote(s: String): String =
    "\"" + String.valueOf(s).flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
