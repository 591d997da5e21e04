package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Per-key aggregates over event-time windows — north_star: "Tumbling
 * and sliding windows drive per-source throughput/extraction-count
 * aggregates over the RocksDB state store". The reference has no
 * analog (its only "metrics" are the block counter and error list,
 * scrape/structure.go:182-186); these are the monitoring surface the
 * north_rule adds.
 *
 * All three shapes are plain Catalyst window aggregations, and both
 * uses go through them: the DuckDB-oracle-checked batch queries
 * `q_tumbling/q_sliding/q_session` ([[graft.queries.Relational]]) and
 * streaming callers, which put `withWatermark` on the input themselves
 * and run in append mode. Each returns one row per (window, key):
 * `w_start`, `w_end`, the key column, then the `aggs` columns.
 *
 * Scale: groupBy(window, key) shuffles on (window, key); a Zipf-hot
 * key is bounded per window by partial (map-side) aggregation — each
 * map task pre-combines its rows, so the reduce-side hot key receives
 * one partial row per map partition, not per input row. On BATCH runs
 * AQE additionally splits residual skew; Spark disables AQE inside
 * stateful streaming queries, so the streaming path relies on partial
 * aggregation alone — sufficient here because the reduce-side row
 * count is bounded by (map partitions × windows), independent of input
 * volume. If a deployment needs more, pre-salt: groupBy(window, key,
 * pmod(hash(doc_id), S)) then re-agg.
 */
object WindowAggs {

  /** Tumbling windows of length `every`. */
  def tumbling(docs: DataFrame, timeCol: String, every: String,
               key: String, aggs: Column*): DataFrame =
    windowed(docs, window(col(timeCol), every), key, aggs)

  /** Sliding windows (length > slide ⇒ each row lands in several). */
  def sliding(docs: DataFrame, timeCol: String, length: String, slide: String,
              key: String, aggs: Column*): DataFrame =
    windowed(docs, window(col(timeCol), length, slide), key, aggs)

  /** Session windows with inactivity gap (window end = last event +
    * gap) — the declarative sibling of Stitch's state-level sessions. */
  def session(docs: DataFrame, timeCol: String, gap: String,
              key: String, aggs: Column*): DataFrame =
    windowed(docs, session_window(col(timeCol), gap), key, aggs)

  private def windowed(docs: DataFrame, w: Column, key: String, aggs: Seq[Column]): DataFrame = {
    val grouped = docs.groupBy(w.as("w"), col(key)).agg(aggs.head, aggs.tail: _*)
    grouped.select(col("w.start").as("w_start") +: col("w.end").as("w_end") +:
      grouped.columns.toSeq.tail.map(col): _*)
  }
}
