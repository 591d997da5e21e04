package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.gen.Fragment

/** A fully assembled document emitted by the stitcher — matches the
  * canonical stored-table schema (BASELINE input_hint) plus streaming
  * metadata. */
final case class AssembledDoc(
    doc_id: String,
    tokens: Array[Int],
    n_tok: Int,
    source: String,
    event_time: Timestamp,
    n_frags: Int)

/** Stitcher state: fragments keyed by page_idx, stored as flat
  * primitive arrays (page ids + per-page lengths + concatenated
  * tokens). A `Map[Int, Array[Int]]` here encodes through Catalyst's
  * generic map path (boxed keys, per-entry object churn) and
  * dominated ingest-batch state-commit cost; primitive arrays encode
  * as contiguous UnsafeRow bytes. Must stay case-class-encodable
  * (state store: RocksDB in production, HDFS-backed in tests). */
final case class StitchState(
    pageIds: Array[Int],
    pageLens: Array[Int],
    tokens: Array[Int],
    source: String,
    maxEventMs: Long) {

  def hasPage(pageIdx: Int): Boolean = pageIds.contains(pageIdx)

  def addPage(pageIdx: Int, toks: Array[Int], src: String, eventMs: Long): StitchState =
    if (hasPage(pageIdx)) this // dup page = dropped row: first arrival wins
    else StitchState(
      pageIds :+ pageIdx, pageLens :+ toks.length, tokens ++ toks,
      src, math.max(maxEventMs, eventMs))

  /** Token stream in ascending page order (insertion order may differ). */
  def assembled: Array[Int] = {
    val order = pageIds.indices.sortBy(pageIds(_))
    val out = new Array[Int](tokens.length)
    var pos = 0
    val starts = pageLens.scanLeft(0)(_ + _)
    order.foreach { i =>
      System.arraycopy(tokens, starts(i), out, pos, pageLens(i))
      pos += pageLens(i)
    }
    out
  }
}

object StitchState {
  val empty: StitchState =
    StitchState(Array.empty, Array.empty, Array.empty, "", Long.MinValue)
}

/**
 * Fragment assembly — the session-window analog of the reference's
 * paginated multi-request assembly (reference scrape/scrape.go:394-427
 * recursive pagination + the sorted key map scrape.go:138-156 that
 * restores (page, block) order at read-back).
 *
 * A document's fragments `(doc_id, page_idx, tokens)` may arrive
 * out of order and duplicated across micro-batches. We key state by
 * `doc_id` and buffer `page_idx → tokens`; when no new fragment has
 * arrived within `gap` of event time (watermark-driven timeout — the
 * session-window close), we emit the document with fragments
 * concatenated in `page_idx` order, byte-equal to the at-rest table
 * (token-array equality invariant).
 *
 * Exact duplicate fragments collapse naturally (same page_idx, same
 * bytes — the reference's CRC32-keyed idempotent writes,
 * scrape.go:448-457). Late fragments beyond the watermark never reach
 * the update function: Spark drops them at the operator's input and
 * counts them in StreamingQueryProgress.stateOperators
 * numRowsDroppedByWatermark (the reference records them on the task
 * error list, structure.go:182).
 *
 * Scale: state is per-in-flight-document, O(pages) each; the shuffle
 * into this operator partitions by doc_id (hash — uniformly spread, so
 * no salting needed here; source-keyed skew is handled at the pacing/
 * agg stages). At 10^12 docs the in-flight window, not the table size,
 * bounds state: watermark + timeout evict every closed session.
 */
object Stitch {

  /** Per-group update: merge new fragments, or emit+evict on timeout.
    * Rows reaching here are at or past the previous batch's watermark
    * (Spark filters the rest), so a session evicted by timeout cannot
    * be re-created by a straggler page. */
  def update(gapMs: Long)(
      docId: String,
      rows: Iterator[Fragment],
      state: GroupState[StitchState]): Iterator[AssembledDoc] = {
    if (state.hasTimedOut) {
      val s = state.get
      val tokens = s.assembled
      val nPages = s.pageIds.length
      state.remove()
      Iterator.single(AssembledDoc(
        docId, tokens, tokens.length, s.source,
        new Timestamp(s.maxEventMs), nPages))
    } else {
      val wm = state.getCurrentWatermarkMs()
      var s = state.getOption.orNull
      rows.foreach { f =>
        val prev = if (s == null) StitchState.empty else s
        s = prev.addPage(f.page_idx, f.tokens, f.source, f.event_time.getTime)
      }
      if (s != null) {
        state.update(s)
        // session close = gap past the newest fragment; must stay
        // ahead of the current watermark or Spark rejects the timestamp
        state.setTimeoutTimestamp(math.max(s.maxEventMs + gapMs, wm + 1))
      }
      Iterator.empty
    }
  }

  /**
   * Fragment stream → assembled docs in ONE stateful operator: one
   * shuffle on doc_id and one state store. `watermarkDelay` bounds
   * late-fragment acceptance (reference: no bound — unbounded memory;
   * ours is the north_rule fix): Spark drops rows older than the
   * previous batch's watermark at the operator's input and counts
   * them in its numRowsDroppedByWatermark metric. Page-level dedup —
   * the crawl-frontier dedup of north_star — is
   * `StitchState.addPage`; `gapMs` is the session gap closing a
   * document.
   */
  def stitch(
      fragments: Dataset[Fragment],
      watermarkDelay: String = "10 minutes",
      gapMs: Long = 30000L): Dataset[AssembledDoc] = {
    implicit val fragEnc = Encoders.product[Fragment]
    implicit val docEnc = Encoders.product[AssembledDoc]
    implicit val stateEnc = Encoders.product[StitchState]
    fragments
      .withWatermark("event_time", watermarkDelay)
      .groupByKey(_.doc_id)(Encoders.STRING)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update(gapMs))
  }
}
