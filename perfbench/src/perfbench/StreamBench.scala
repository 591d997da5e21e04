package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.extract.ExtractCompiler
import graft.gen.{Fragment, TokenGen}
import graft.queries.TokenEngine
import graft.sink.ResultTable
import graft.streaming.StreamJob

/** What every level of a stream workload checks its sink against:
  * computed once, when the corpus is written. */
final case class Oracle(expected: Long, digest: Digest, files: Int, docs: Long) {
  def lines: Seq[String] = Seq(s"expected=$expected", s"rows=${digest.rows}",
    s"sum=${digest.sum}", s"xor=${digest.xor}", s"files=$files", s"docs=$docs")
}

object Oracle {
  def parse(lines: Seq[String]): Oracle = {
    val m = lines.filter(_.contains('=')).map { l =>
      val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
    }.toMap
    Oracle(m("expected").toLong, Digest(m("rows").toLong, BigDecimal(m("sum")), m("xor").toLong),
      m("files").toInt, m("docs").toLong)
  }
}

/**
 * One JVM of a stream workload, at one thread count: write (or reuse)
 * the seeded fragment corpus, warm up, then run `StreamJob.run` passes
 * over it, each checked by content against `StreamJob.batchOracle`.
 */
object StreamBench {
  private val spec = TokenEngine.flagshipSpec
  private val Watermark = "10 minutes"
  private val SessionGapMs = 60000L
  /** Deterministic doc-hash sample whose rows are compared column by
    * column (about 1 doc in 64). */
  private val sampled = pmod(xxhash64(col("doc_id")), lit(64)) === 0

  def run(a: Args): Map[String, Any] = {
    val work = a.path("work")
    val threads = a.int("threads")
    val corpus = work.resolve("corpus")
    val spans = new Spans(a.str("run_id"))
    val spark = Common.session(threads, work.resolve(s"jvm-$threads"))
    try {
      val progress = new ProgressLog
      spark.streams.addListener(progress)
      val oracle = spans.timed("setup.corpus", "gen", -1) {
        if (a.flag("synth"))
          synthesize(spark, corpus, work, a.long("lo"), a.long("docs"), a.int("tranches"),
            a.int("files_per_tranche"), spans)
        else Oracle.parse(Files.readAllLines(work.resolve("oracle.txt")).asScala.toSeq)
      }
      val sample = spark.read.parquet(work.resolve("oracle-sample").toString)
      val cols = sample.columns.toSeq
      val sampleRows = sample.orderBy("doc_id", "block_idx").collect().toSeq
      val mfpt = a.int("mfpt")

      // untimed warm-up over the first `warm_files` corpus files
      val warmDir = work.resolve(s"warm-$threads")
      Files.createDirectories(warmDir)
      corpusFiles(corpus).take(a.int("warm_files")).foreach(f =>
        Files.createLink(warmDir.resolve(f.getFileName), f))
      spans.timed("setup.warmup", "bench", -1) {
        val w = pass(spark, work, warmDir, mfpt, s"warm$threads")
        w.table.read(spark).count()
        w.cleanup()
      }
      val setupS = Clock.sinceJvmStart

      def measured(name: String): Map[String, Any] = {
        val p = pass(spark, work, corpus, mfpt, name)
        val v0 = System.nanoTime()
        val err = verify(spark, p.table, oracle, cols, sampleRows)
        val batches = progress.batches(name)
        val out = Map[String, Any](
          "name" -> name, "wall_s" -> p.wallS, "ok" -> err.isEmpty, "error" -> err,
          "verify_s" -> (System.nanoTime() - v0) / 1e9,
          "rows" -> oracle.expected,
          "batch_ms" -> batches.filter(_.inputRows > 0).map(_.triggerMs))
        p.cleanup()
        out
      }

      val passes = Common.repeat(a.int("min_passes"), a.int("max_passes"),
        a.str("seconds").toDouble)(i => measured(s"p$threads-$i"))

      // the traced pass, then one more untraced pass: the overhead is
      // taken against the untraced passes on either side of it
      val traced = if (a.flag("trace")) tracedPass(spark, work, corpus, mfpt, threads,
        oracle, cols, sampleRows, progress, spans) ++
        Map("after" -> measured(s"a$threads")) else Map.empty
      Map("threads" -> threads, "setup_s" -> setupS, "passes" -> passes,
        "peak_rss_mb" -> Common.peakRssMb(), "docs" -> oracle.docs, "files" -> oracle.files,
        "expected_rows" -> oracle.expected, "trace" -> traced,
        "spans" -> spans.toJson)
    } finally spark.stop()
  }

  final case class Pass(wallS: Double, startNs: Long, endNs: Long, table: ResultTable, dirs: Seq[Path]) {
    def cleanup(): Unit = dirs.foreach(Common.rmTree)
  }

  /** One `StreamJob.run` over `dir`, timed from `start()` to the end
    * of `awaitTermination()`. */
  private def pass(spark: SparkSession, work: Path, dir: Path, mfpt: Int, name: String): Pass = {
    val ck = work.resolve(s"ck-$name")
    val sink = work.resolve(s"sink-$name")
    val table = new ResultTable(sink.toString)
    val t0 = Clock.nowNs
    val q = StreamJob.run(
      StreamJob.fileSource(spark, dir.toString, maxFilesPerTrigger = mfpt),
      spec, table, ck.toString, name, watermarkDelay = Watermark,
      sessionGapMs = SessionGapMs, trigger = Trigger.AvailableNow())
    q.awaitTermination()
    val t1 = Clock.nowNs
    Pass((t1 - t0) / 1e9, t0, t1, table, Seq(ck, sink))
  }

  /** Content check of one pass: row count against `expectedRows`,
    * the digest of every sink row against the oracle's, and every
    * column of the sampled docs against the oracle's rows. */
  private def verify(spark: SparkSession, table: ResultTable, oracle: Oracle,
      cols: Seq[String], sampleRows: Seq[Row]): Option[String] =
    try {
      if (table.snapshots().isEmpty) Some("sink has no commits")
      else {
        val rows = table.read(spark).filter(!col("doc_id").startsWith("~"))
          .select(cols.map(c => col(c)): _*)
        val d = Common.digest(rows)
        if (d.rows != oracle.expected) Some(s"rows ${d.rows} != expected ${oracle.expected}")
        else if (d != oracle.digest) Some(s"digest $d != oracle ${oracle.digest}")
        else {
          val got = rows.filter(sampled).orderBy("doc_id", "block_idx").collect().toSeq
          if (got == sampleRows) None
          else Some(s"sampled rows differ: ${got.size} rows vs oracle ${sampleRows.size}")
        }
      }
    } catch { case e: Exception => Some(s"verify failed: $e") }

  /** The sink's read side over its whole history: the commit-log
    * listing, a full read, and a read as of the middle snapshot. */
  private def readback(spark: SparkSession, table: ResultTable): Map[String, Any] = {
    def timedMs[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e6)
    }
    val (snaps, listMs) = timedMs(table.snapshots())
    val (n, readMs) = timedMs(table.read(spark).count())
    val (_, asOfMs) = timedMs(table.readAsOf(spark, Some(snaps(snaps.size / 2))).count())
    val files = table.committedFiles()
    val bytes = files.map(f => Files.size(java.nio.file.Paths.get(f))).sum
    Map("readback" -> Map(
      "log_list_ms" -> listMs, "read_ms" -> readMs, "read_asof_ms" -> asOfMs,
      "commits" -> snaps.size, "files" -> files.size,
      "bytes_per_row" -> (if (n > 0) bytes.toDouble / n else 0.0)))
  }

  /** The traced repetition: the same pass with a task listener on, then
    * the per-layer split of it. Also times `ExtractCompiler.compile`
    * alone over this corpus's assembled docs. */
  private def tracedPass(spark: SparkSession, work: Path, corpus: Path, mfpt: Int,
      threads: Int, oracle: Oracle, cols: Seq[String], sampleRows: Seq[Row],
      progress: ProgressLog, spans: Spans): Map[String, Any] = {
    val tt = new TaskTrace
    spark.sparkContext.addSparkListener(tt)
    val name = s"t$threads"
    val p = pass(spark, work, corpus, mfpt, name)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tt)
    val err = verify(spark, p.table, oracle, cols, sampleRows)
    val rb = readback(spark, p.table)
    p.cleanup()

    val root = spans.add("stream.pass", "bench", p.startNs, p.endNs, -1)
    val batches = progress.batches(name)
    val jobs = tt.jobRecs
    val stageRecs = tt.stageRecs
    val jobSpan = scala.collection.mutable.Map.empty[Int, Int]
    // micro-batch phases, laid out in MicroBatchExecution's order
    val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    val perBatch = batches.map { b =>
      val s0 = Clock.ofMs(b.startMs)
      val mb = spans.add("microbatch", "streaming", s0, s0 + Clock.ofMs(b.triggerMs), root)
      var at = s0
      val ids = phases.map { ph =>
        val d = Clock.ofMs(b.durations.getOrElse(ph, 0L))
        val id = spans.add(s"microbatch.$ph", "streaming", at, at + d, mb)
        at += d
        ph -> id
      }.toMap
      // the parquet write inside appendBatch is the only Spark job a
      // micro-batch of this pipeline runs
      val writeJobs = jobs.filter(_.batchId.contains(b.batchId))
      writeJobs.foreach(j => jobSpan(j.jobId) =
        spans.add("sink.write_job", "sink", Clock.ofMs(j.startMs), Clock.ofMs(j.endMs), ids("addBatch")))
      (b, writeJobs.map(j => (j.endMs - j.startMs).toDouble).sum)
    }
    stageRecs.foreach { s =>
      val layer = if (s.inputBytes > 0) "streaming.scan" else "streaming.stitch"
      spans.add(s"stage.${s.stageId}", layer, Clock.ofMs(s.startMs), Clock.ofMs(s.endMs),
        jobSpan.getOrElse(s.jobId, root))
    }
    val covered = Layers.unionMs(spans.all.filter(_.layer != "bench").map(s =>
      (math.max(s.startNs, p.startNs) / 1e6, math.min(s.endNs, p.endNs) / 1e6)))
    val self = Layers.selfMs(spans.all)
    val mbSelf = spans.all.filter(_.name == "microbatch").map(s => self(s.id)).sum

    val withInput = perBatch.filter(_._1.inputRows > 0)
    val decile = math.max(1, withInput.size / 10)
    val probeRowsPerS = spans.timed("extract.probe", "extract", -1)(
      extractProbe(spark, corpus))
    Map(
      "ok" -> err.isEmpty, "error" -> err, "wall_s" -> p.wallS,
      "coverage" -> covered / ((p.endNs - p.startNs) / 1e6),
      "microbatch_self_ms" -> mbSelf,
      "batches" -> batches.map(b => Map(
        "batch" -> b.batchId, "input_rows" -> b.inputRows, "durations" -> b.durations,
        "state_rows" -> b.stateRows, "state_mem" -> b.stateMem, "commit_ms" -> b.commitMs,
        "update_ms" -> b.updateMs, "removal_ms" -> b.removalMs,
        "dropped" -> b.droppedByWatermark)),
      "stages" -> Layers.stageMetrics(tt),
      "sink" -> Map(
        "write_job_ms_first_decile" -> Stats.median(withInput.take(decile).map(_._2)),
        "write_job_ms_last_decile" -> Stats.median(withInput.takeRight(decile).map(_._2)),
        "commit_ms_first_decile" -> Stats.median(withInput.take(decile).map(x =>
          x._1.durations.getOrElse("addBatch", 0L) - x._2)),
        "commit_ms_last_decile" -> Stats.median(withInput.takeRight(decile).map(x =>
          x._1.durations.getOrElse("addBatch", 0L) - x._2))),
      "extract_probe_rows_per_s" -> probeRowsPerS) ++ rb
  }

  /** Rows per second of `ExtractCompiler.compile` alone, over the
    * corpus's docs assembled in batch and cached before timing;
    * median of three. */
  private def extractProbe(spark: SparkSession, corpus: Path): Double = {
    val frags = spark.read.parquet(corpus.toString).filter(!col("doc_id").startsWith("~"))
      .filter(!col("is_dup"))
    val docs = frags
      .groupBy(col("doc_id"), col("source"))
      .agg(sort_array(collect_list(struct(col("page_idx"), col("tokens")))).as("parts"),
        max(col("event_time")).as("event_time"), count(lit(1)).cast("int").as("n_frags"))
      .select(col("doc_id"), flatten(col("parts.tokens")).as("tokens"), col("source"),
        col("event_time"), col("n_frags"))
      .withColumn("n_tok", size(col("tokens")))
      .cache()
    docs.count()
    val runs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val n = ExtractCompiler.compile(docs, spec).queryExecution.toRdd.count()
      n / ((System.nanoTime() - t0) / 1e9)
    }
    docs.unpersist(blocking = true)
    Stats.median(runs)
  }

  private def corpusFiles(corpus: Path): Seq[Path] =
    scala.util.Using.resource(Files.list(corpus))(_.iterator().asScala.toSeq)
      .filter(_.toString.endsWith(".parquet"))
      .sortBy(f => (Files.getLastModifiedTime(f).toMillis, f.getFileName.toString))

  /**
   * Writes the corpus for doc indices `[lo, lo + docs)`: the
   * `TokenGen.docFragments` stream without its late fragments, cut by
   * event time into `tranches` slices of `filesPerTranche` files.
   * Micro-batch order comes from the files' mtimes (one second apart,
   * in event-time order), so a source reading `filesPerTranche` files
   * per trigger sees one slice per micro-batch. Also computes the
   * oracle.
   */
  private def synthesize(spark: SparkSession, corpus: Path, work: Path, lo: Long, docs: Long,
      tranches: Int, filesPerTranche: Int, spans: Spans): Oracle = {
    import spark.implicits._
    val cdf = TokenGen.zipfCdf(32)
    val frags = spark.range(lo, lo + docs)
      .flatMap(i => TokenGen.docFragments(i, cdf))
      .filter(!_.is_late)
      .cache()
    val t0 = TokenGen.BASE_EPOCH_MS + lo * 1000L
    val spanMs = docs * 1000L / tranches
    val staging = work.resolve("staging")
    // the flush fragment rides in the last slice: its event time lies an
    // hour past the corpus, so once that batch commits the watermark
    // passes every session and the following no-data batch closes them
    val flush = Seq(Fragment("~flush", Array(2), 1, "flush",
      new java.sql.Timestamp(TokenGen.BASE_EPOCH_MS + (lo + docs) * 1000L + 3600000L),
      0, 0, false, false)).toDS()
    spans.timed("gen.write", "gen", -1)(frags.union(flush).toDF()
      .withColumn("tr", least(lit(tranches - 1),
        floor((unix_millis(col("event_time")) - t0) / spanMs).cast("int")))
      .withColumn("sub", pmod(xxhash64(col("doc_id")), lit(filesPerTranche)).cast("int"))
      .repartition(col("tr"), col("sub"))
      .write.partitionBy("tr", "sub").parquet(staging.toString))
    Files.createDirectories(corpus)
    val moved = for {
      t <- 0 until tranches
      s <- 0 until filesPerTranche
      dir = staging.resolve(s"tr=$t").resolve(s"sub=$s")
      if Files.isDirectory(dir)
      f <- scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toSeq).sorted
      if f.toString.endsWith(".parquet")
    } yield Files.move(f, corpus.resolve(f"$t%05d-$s%03d-${f.getFileName}"))
    val mtime0 = System.currentTimeMillis() - (moved.size + 10) * 1000L
    moved.zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(f, FileTime.fromMillis(mtime0 + i * 1000L))
    }
    Common.rmTree(staging)

    val expected = spans.timed("gen.expected_rows", "gen", -1)(StreamJob.expectedRows(frags, spec))
    val oracleDf = StreamJob.batchOracle(spark, frags, spec).cache()
    val digest = spans.timed("gen.oracle_digest", "gen", -1)(Common.digest(oracleDf))
    oracleDf.filter(sampled).coalesce(1).write.parquet(work.resolve("oracle-sample").toString)
    oracleDf.unpersist()
    frags.unpersist()
    val o = Oracle(expected, digest, moved.size, docs)
    Files.write(work.resolve("oracle.txt"), o.lines.asJava)
    o
  }
}
