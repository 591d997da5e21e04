package graft.sink

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Iceberg-semantics result table over Parquet + an atomic commit log —
 * the exactly-once sink of north_star ("idempotent exactly-once
 * Iceberg sink, foreachBatch with commit-epoch dedup").
 *
 * No Iceberg runtime jar ships in this sandbox (SURVEY §7.0), so this
 * class reproduces the two Iceberg properties the engine relies on,
 * behind an interface the real `iceberg-spark-runtime` catalog can
 * replace unchanged:
 *
 *  1. **snapshot isolation** — readers see only files referenced by a
 *     committed manifest; a writer's data files are invisible until
 *     its commit file appears;
 *  2. **idempotent commits** — the commit file name is the commit key
 *     `(queryId, batchId)`, created atomically (write-temp +
 *     ATOMIC_MOVE, failing if present). A replayed micro-batch (same
 *     epoch after checkpoint recovery) finds its commit and becomes a
 *     no-op, so restarts cannot duplicate rows.
 *
 * The reference gets the same effect accidentally: its result file
 * name is the payload MD5, so a re-run overwrites the same logical
 * output (reference scrape/encoders.go:25, scrape/scrape.go:44-48).
 *
 * Layout:
 * {{{
 *   root/data/<queryId>-<batchId>-<attemptUid>/part-*.parquet   (data files)
 *   root/_commits/<seq>.<queryId>-<batchId>.json        (manifest / commit;
 *       seq = monotonic commit counter allocated by a filesystem CAS)
 * }}}
 *
 * Each commit ATTEMPT writes its data under a unique attempt-uid
 * suffix, so a same-key committer racing through the CAS window can
 * never clobber the winner's part files (ADVICE r4 — with a shared
 * per-key dir, the loser's overwrite deleted the winner's
 * UUID-named parts and left the committed manifest dangling). The
 * loser deletes its own attempt dir after losing the CAS; a crash
 * between data write and commit leaves an invisible orphan attempt
 * dir — Iceberg's orphan-file semantics, reclaimed by maintenance
 * (`remove_orphan_files` analog), never read.
 *
 * Lineage: [[appendBatch]] stamps every row with `_batch_id` and
 * `_part_id` (spark_partition_id) — the per-partition lineage required
 * by north_rule; a row in the table is traceable to the micro-batch
 * epoch and the executor partition that produced it.
 *
 * Scale: the commit log is O(batches) tiny JSON files read only by the
 * driver; data-file listing is per-commit (no directory scans over the
 * whole table). On a real cluster `root` is an object-store prefix
 * and ATOMIC_MOVE becomes the catalog swap — exactly Iceberg's model.
 */
final class ResultTable(val root: String) {

  private val dataDir = Paths.get(root, "data")
  private val commitDir = Paths.get(root, "_commits")
  /** Commit-time hardlink view for streaming readers: a data file is
    * linked here only AFTER its commit file lands, so a file stream
    * over `pub/` observes exactly the committed snapshots (the
    * commit-log-driven read `iceberg-spark-runtime` does natively). */
  private val pubDir = Paths.get(root, "pub")
  Files.createDirectories(dataDir)
  Files.createDirectories(commitDir)
  Files.createDirectories(pubDir)

  /** Materialized directory listing (Files.list streams hold an open
    * directory fd until closed — a long-lived streaming job commits
    * thousands of micro-batches and would leak one fd per commit). */
  private def listDir(dir: Path): Seq[Path] =
    scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toSeq)

  /** Commit-file name: `<seq 20-digit>.<queryId>-<batchId>.json`. The
    * monotonic `seq` is allocated through a filesystem CAS
    * ([[appendBatch]]) and IS the history order — true arrival order
    * even when several writers (distinct queryIds) share the table,
    * the analog of Iceberg's snapshot-id chain from the catalog's CAS
    * swap. (Key-order history was exact only for a single writer —
    * the round-3 scope note this closes.) */
  private def commitFileName(seq: Long, key: String): String =
    f"$seq%020d.$key.json"

  /** One committed manifest: (seq, commit key, file name). */
  private final case class CommitEntry(seq: Long, key: String, fileName: String)

  /** Sanity shape of a commit key: `<queryId>-<numeric batchId>`. */
  private def commitKey(name: String): Option[(String, Long)] = {
    val i = name.lastIndexOf('-')
    if (i <= 0 || i == name.length - 1) None
    else name.substring(i + 1).toLongOption.map((name.substring(0, i), _))
  }

  /** All committed manifests in seq (arrival) order. A foreign or
    * corrupt file in `_commits/` is skipped with a warning, not fatal.
    * If the same key ever carries two seqs (two same-key committers
    * racing through the CAS window — misuse, but tolerated), the
    * LOWEST seq wins deterministically on the read side.
    *
    * Cost: one O(#commits) directory listing — the same per-commit
    * catalog read Iceberg pays; snapshot expiry/compaction of an
    * unbounded log is deployment scope. */
  private def commitEntries(): Seq[CommitEntry] = {
    val parsed = listDir(commitDir)
      .filter(_.toString.endsWith(".json"))
      .map(_.getFileName.toString)
      .flatMap { fn =>
        val n = fn.stripSuffix(".json")
        val i = n.indexOf('.')
        val e =
          if (i <= 0) None
          else for {
            seq <- n.substring(0, i).toLongOption
            key = n.substring(i + 1)
            _ <- commitKey(key)
          } yield CommitEntry(seq, key, fn)
        // a pre-seq-format commit (`<queryId>-<batchId>.json`, no seq
        // prefix) means this table was written before the seq chain
        // existed: silently skipping it would make committed data
        // INVISIBLE (ADVICE r4) — fail hard with the migration path
        // instead. Only a file that reads as a manifest counts: a stray
        // `notes-1.json` has the same name shape and is just skipped.
        if (e.isEmpty && i < 0 && commitKey(n).isDefined && isManifest(commitDir.resolve(fn)))
          throw new IllegalStateException(
            s"legacy pre-seq commit '$fn' in $commitDir — this table predates " +
            "the seq-prefixed commit log; rename each '<key>.json' to " +
            "'<seq 20-digit>.<key>.json' in key order (or rewrite the table)")
        if (e.isEmpty && !fn.startsWith("."))
          System.err.println(s"[ResultTable] skipping unparseable commit name: $fn")
        e
      }
    parsed.groupBy(_.key).values.map(_.minBy(_.seq)).toSeq.sortBy(_.seq)
  }

  /** Whether `file` starts with the manifest header line that
    * [[appendBatch]] writes first (`queryId:<id>`). */
  private def isManifest(file: Path): Boolean =
    try scala.util.Using.resource(Files.newBufferedReader(file, StandardCharsets.UTF_8))(
      r => Option(r.readLine()).exists(_.startsWith("queryId:")))
    catch { case _: java.io.IOException => false }

  /** O(#commits) — one commit-log listing, the same per-commit catalog
    * read Iceberg pays. Note: the seq-prefixed name format is not
    * readable by (and does not read) the pre-seq `<key>.json` format;
    * tables are not carried across that change — a legacy commit name
    * makes every read fail hard with the migration hint (see
    * [[commitEntries]]; silently skipping it would hide committed
    * data). */
  def isCommitted(queryId: String, batchId: Long): Boolean =
    commitEntries().exists(_.key == s"$queryId-$batchId")

  /** Committed snapshots in COMMIT order (the seq chain) — the table's
    * history (Iceberg `table.snapshots()` analog). Each element is the
    * commit key `<queryId>-<batchId>`. */
  def snapshots(): Seq[String] = commitEntries().map(_.key)

  /** All data files referenced by committed manifests, optionally
    * truncated to the history prefix ending at `asOf` (inclusive).
    * The prefix is positional in seq order, so a multi-writer history
    * cuts at the actual commit boundary, not at key order. */
  def committedFiles(asOf: Option[String] = None): Seq[String] = {
    val entries = commitEntries()
    val visible = asOf match {
      case Some(snap) =>
        // Iceberg's VERSION AS OF errors on an unknown snapshot; a
        // silent prefix for a typo'd name would be a wrong answer
        val idx = entries.indexWhere(_.key == snap)
        if (idx < 0)
          throw new IllegalArgumentException(
            s"unknown snapshot '$snap'; history: ${entries.map(_.key).mkString(", ")}")
        entries.take(idx + 1)
      case None => entries
    }
    visible.flatMap(e => manifestFiles(e.fileName))
  }

  /** Data files recorded in one commit's manifest (by file name). */
  private def manifestFiles(fileName: String): Seq[String] =
    Files.readString(commitDir.resolve(fileName))
      .linesIterator.filter(_.startsWith("file:")).map(_.drop(5)).toSeq

  /** Snapshot read: union of committed data files only. */
  def read(spark: SparkSession): DataFrame = readAsOf(spark, None)

  /** Time travel (Iceberg `VERSION AS OF` analog): the table as of the
    * given snapshot from [[snapshots]] — later commits invisible. An
    * append-only commit log makes every historical state a prefix of
    * the history, so time travel is just manifest truncation; no data
    * file is ever rewritten.
    *
    * History order is the monotonic commit seq (allocated per commit
    * through the filesystem CAS in [[appendBatch]]), so the prefix cut
    * is true arrival order even when several writers with distinct
    * queryIds share the table — the analog of Iceberg ordering by
    * snapshot id from the catalog's CAS chain. (Closes the round-3
    * single-writer scope note.) */
  def readAsOf(spark: SparkSession, asOf: Option[String]): DataFrame = {
    val files = committedFiles(asOf)
    if (files.isEmpty)
      spark.emptyDataFrame
    else
      spark.read.parquet(files: _*)
  }

  /**
   * Streaming read of the table — the downstream half of a multi-stage
   * topology (stage 1 lands extracted rows here; stage 2 streams them
   * into further stateful operators, each stage independently
   * checkpointed and resumable).
   *
   * Snapshot-aware: the file stream reads the `pub/` hardlink view,
   * which [[appendBatch]] populates only AFTER a batch's commit file
   * lands. A batch orphaned by an upstream crash (data files written,
   * no commit) is invisible here, and its replayed rewrite appears
   * exactly once — the commit-log-driven semantics of
   * `iceberg-spark-runtime`'s streaming read, which this class
   * stands in for (SURVEY §7.0).
   */
  def readStream(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    // backfill: a table written before pub/ existed, or whose writer
    // died between commit and publication and never replayed, must
    // not be silently empty to streaming readers while read() sees
    // its commits — publish is idempotent, so republishing every
    // snapshot on open is cheap (link-exists fast path)
    commitEntries().foreach(publishEntry)
    spark.readStream.schema(schema).parquet(pubDir.toString)
  }

  /** Idempotent commit-time publication: hardlink a committed batch's
    * data files into `pub/` for streaming readers. Crash windows are
    * repaired on replay: died before the commit file → no links exist
    * and the rewrite republishes; died mid-publication → the
    * `isCommitted` fast path re-runs publish from the manifest. */
  private def publish(key: String): Unit =
    commitEntries().find(_.key == key).foreach(publishEntry)

  private def publishEntry(e: CommitEntry): Unit =
    manifestFiles(e.fileName).zipWithIndex.foreach { case (f, i) =>
      val link = pubDir.resolve(s"${e.key}-$i.parquet")
      if (!Files.exists(link))
        try Files.createLink(link, Paths.get(f))
        catch {
          case _: java.nio.file.FileAlreadyExistsException => ()
          // per-attempt data dirs mean a committed manifest's files
          // cannot be clobbered by a same-key racer anymore; keep the
          // guard defensively (external deletion must not kill the
          // stream), but loudly
          case _: java.nio.file.NoSuchFileException =>
            System.err.println(
              s"[ResultTable] publish: manifest file vanished ($f) — external deletion?")
        }
    }

  /**
   * The foreachBatch writer. Commit-epoch dedup: a batchId already in
   * the log is skipped entirely (replay after checkpoint recovery).
   * Data files are written BEFORE the commit file; a crash between the
   * two leaves an invisible orphan attempt dir (never referenced by a
   * manifest — the replay writes a fresh attempt dir; reclamation is
   * maintenance scope, Iceberg's `remove_orphan_files` analog), so
   * readers never observe a partial batch.
   *
   * The commit itself is a filesystem CAS on the monotonic seq: the
   * manifest is hardlinked onto the next seq-named commit file —
   * `link(2)` fails with EEXIST atomically (unlike `rename(2)`, which
   * silently REPLACES on POSIX and can lose a concurrent writer's
   * commit) — and a lost race re-reads the log and retries at the new
   * tail. This is Iceberg's optimistic-concurrency commit protocol on
   * a filesystem: multi-writer history lands in true commit order.
   */
  def appendBatch(queryId: String)(df: DataFrame, batchId: Long): Unit = {
    val key = s"$queryId-$batchId"
    val existing = commitEntries()
    if (existing.exists(_.key == key)) {
      publish(key) // repair a crash between commit and publication
      return       // idempotent replay skip
    }
    // unique attempt dir: a concurrent same-key committer must never
    // write into (and on loss, delete from) the dir another attempt's
    // manifest references — see the layout note in the class doc
    val target = dataDir.resolve(
      s"$key-${java.util.UUID.randomUUID().toString.take(8)}")
    df
      .withColumn("_batch_id", lit(batchId))
      .withColumn("_part_id", spark_partition_id())
      .write.parquet(target.toString)
    val files = listDir(target)
      .map(_.toString).filter(_.endsWith(".parquet")).sorted
    val manifest =
      (Seq(s"queryId:$queryId", s"batchId:$batchId") ++ files.map("file:" + _))
        .mkString("\n")
    val tmp = Files.createTempFile(commitDir, s".$key", ".tmp")
    Files.write(tmp, manifest.getBytes(StandardCharsets.UTF_8))
    var seq = existing.map(_.seq).maxOption.getOrElse(0L) + 1
    var won = false
    var done = false
    while (!done) {
      try {
        Files.createLink(commitDir.resolve(commitFileName(seq, key)), tmp)
        won = true
        done = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          // lost the CAS: either another writer took this seq (retry at
          // the new tail) or a same-key committer already committed
          // (stop — identical logical content; lowest seq wins on the
          // read side, and THIS attempt's data dir is dead weight)
          val entries = commitEntries()
          if (entries.exists(_.key == key)) done = true
          else seq = math.max(seq + 1, entries.map(_.seq).maxOption.getOrElse(0L) + 1)
      }
    }
    Files.deleteIfExists(tmp)
    // same-key CAS loser: its attempt dir is unreferenced by any
    // manifest — delete it so the loss leaves no garbage (the winner's
    // dir is untouched; that is the point of per-attempt dirs)
    if (!won && Files.exists(target)) {
      scala.util.Using.resource(Files.walk(target))(
        _.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f)))
    }
    // a won CAS knows its own entry — publish without re-listing the
    // log (the listing-per-commit cost is the log read Iceberg also
    // pays; no reason to pay it twice per commit)
    if (won) publishEntry(CommitEntry(seq, key, commitFileName(seq, key)))
    else publish(key)
  }
}
