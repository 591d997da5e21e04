package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.extract.ExtractCompiler
import graft.gen.Fragment
import graft.model.ExtractionSpec
import graft.sink.ResultTable

/**
 * The full north_star pipeline, assembled:
 *
 * {{{
 *   source (fragment stream)
 *     → watermark + dropDuplicates(doc_id, page_idx)   [frontier dedup]
 *     → flatMapGroupsWithState stitch by doc_id        [session assembly]
 *     → ExtractCompiler (segment → part columns)       [narrow, codegen]
 *     → foreachBatch → ResultTable                     [exactly-once sink]
 * }}}
 *
 * This is the streaming recast of the reference's Task.Parse lifecycle
 * (reference scrape/scrape.go:86-182): fetch workers → dedup/robots
 * gates → block division → extraction → KV store → ordered encode.
 * Thread/process boundaries become the two shuffles (dedup/stitch on
 * doc_id; none in extraction) and the driver-coordinated epoch commit.
 *
 * Resumability: `checkpointLocation` + the ResultTable commit log give
 * kill-and-resume with no dupes and no loss (tested in StreamingSpec);
 * the reference is all-or-nothing (SURVEY §2.9).
 */
object StreamJob {

  /** Extraction over the assembled-doc stream. The compile output is
    * pure narrow Catalyst — streaming-safe as-is. */
  def extractStage(docs: Dataset[AssembledDoc], spec: ExtractionSpec): DataFrame =
    ExtractCompiler.compile(
      docs.toDF(), spec)

  /** Launch the pipeline over a fragment stream. Returns the running
    * query; results land in `table` exactly once per epoch. */
  def run(
      fragments: Dataset[Fragment],
      spec: ExtractionSpec,
      table: ResultTable,
      checkpointDir: String,
      queryId: String,
      watermarkDelay: String = "10 minutes",
      sessionGapMs: Long = 30000L,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val assembled = Stitch.stitch(limitPages(fragments, spec), watermarkDelay, sessionGapMs)
    val extracted = extractStage(assembled, spec)
    extracted.writeStream
      .queryName(queryId)
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(table.appendBatch(queryId) _)
      .start()
  }

  /** MaxPages limit (reference scrape/scrape.go:402-403: stop
    * pagination after N pages, 0 = unlimited) — a per-group limit that
    * compiles to a plain pushed-down filter because page_idx is data,
    * not recursion depth. */
  def limitPages(fragments: Dataset[Fragment], spec: ExtractionSpec): Dataset[Fragment] =
    if (spec.maxPages > 0) fragments.filter(col("page_idx") < spec.maxPages)
    else fragments

  /** File-based fragment source (the in-sandbox stand-in for the
    * Iceberg streaming scan): parquet files appearing under `dir`. */
  def fileSource(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 1): Dataset[Fragment] = {
    import spark.implicits._
    spark.readStream
      .schema(spark.createDataset(Seq.empty[Fragment]).schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)
      .as[Fragment]
  }

  /** Batch oracle for the same pipeline: what the sink must contain
    * for a given set of fragments once every session has closed.
    * Late fragments (event_time older than `maxEvent - watermark`) are
    * excluded exactly as the streaming watermark would drop them,
    * assuming source order = event-time order (true for our generator
    * feed). */
  def batchOracle(
      spark: SparkSession,
      fragments: Dataset[Fragment],
      spec: ExtractionSpec,
      watermarkDelay: Option[Long] = None): DataFrame = {
    val limited = limitPages(fragments, spec)
    val pruned = watermarkDelay match {
      case Some(delayMs) =>
        val maxEvent = limited.agg(max(col("event_time"))).head().getTimestamp(0)
        limited.filter(col("event_time") >= lit(new java.sql.Timestamp(maxEvent.getTime - delayMs)))
      case None => limited
    }
    // first-arrival wins, deterministically: the fused stitcher keeps
    // the earliest event_time per (doc_id, page_idx); a bare
    // dropDuplicates keeps an arbitrary row, and event_time flows into
    // the output — latent flakiness if partitioning changes which
    // duplicate survives
    val firstArrival = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("page_idx"))
      .orderBy(col("event_time"), col("frag_idx"))
    val docs = pruned.toDF()
      .withColumn("__rn", row_number().over(firstArrival))
      .filter(col("__rn") === 1).drop("__rn")
      .groupBy(col("doc_id"), col("source"))
      .agg(
        sort_array(collect_list(struct(col("page_idx"), col("tokens")))).as("parts"),
        max(col("event_time")).as("event_time"),
        count(lit(1)).as("n_frags"))
      .select(
        col("doc_id"),
        flatten(col("parts.tokens")).as("tokens"),
        col("source"), col("event_time"),
        col("n_frags").cast("int").as("n_frags"))
      .withColumn("n_tok", size(col("tokens")))
      .select("doc_id", "tokens", "n_tok", "source", "event_time", "n_frags")
    ExtractCompiler.compile(docs, spec)
  }

  /**
   * Row count [[batchOracle]] would produce, computed NARROW: the
   * extraction emits one row per block, a block boundary is a single
   * RECORD_START token (it cannot span fragments), and a stitched doc
   * with zero boundaries falls back to one whole-array block — so the
   * count is `sum over docs of max(Σ per-fragment sentinel counts, 1)`
   * over first-arrival-deduped fragments. Token arrays never enter a
   * shuffle (per-fragment counts reduce them to one int each), which
   * makes this the right `expected` for Bench: the full batch-oracle
   * pipeline re-materializes every stitched token array through a
   * spilling aggregation and costs a large multiple of the measured
   * runs themselves at low thread counts. Equality with
   * `batchOracle(...).count()` is pinned in StreamingSpec.
   */
  def expectedRows(fragments: Dataset[Fragment], spec: ExtractionSpec): Long = {
    val limited = limitPages(fragments, spec)
    val firstArrival = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("page_idx"))
      .orderBy(col("event_time"), col("frag_idx"))
    limited.toDF()
      .select(col("doc_id"), col("page_idx"), col("event_time"), col("frag_idx"),
        size(filter(col("tokens"),
          t => t === lit(graft.model.TokenCodec.RECORD_START))).as("nb"))
      .withColumn("__rn", row_number().over(firstArrival))
      .filter(col("__rn") === 1)
      .groupBy(col("doc_id")).agg(sum(col("nb")).as("nb"))
      .select(sum(greatest(col("nb"), lit(1L))).as("n"))
      .head().getLong(0)
  }
}
