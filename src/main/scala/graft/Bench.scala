package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.gen.TokenGen
import graft.queries.TokenEngine
import graft.sink.ResultTable
import graft.streaming.StreamJob

/**
 * Benchmark main. Emits ONE final JSON line (`"metric":"total"`):
 *
 *  - `queries`: per-query wall seconds (min of [[QueryReps]] after an
 *    untimed sf0.001 warm pass) for every SparkEntry query at
 *    SPARK_GRAFT_SF_DIR; a query that throws is listed in
 *    `failed_queries` instead and counts toward no time;
 *  - `stream`: the BASELINE metric — verified extracted rows/s of the
 *    full streaming pipeline (watermark dedup → session stitch →
 *    Catalyst extraction → exactly-once sink) at N and 4N threads on
 *    the same deterministic corpus, and `scaling_efficiency` =
 *    rate_4N / (4 · rate_N).
 *
 * The stream phase is one fixed protocol, sized from the box it runs
 * on: cpus = SPARK_GRAFT_CPUS capped at the available processors,
 * N = max(1, ⌊cpus/4⌋), 4N = min(4N, cpus). One synthesis fork writes
 * the corpus and its expected row count; then one fresh JVM per level
 * (4N, then N) runs an untimed warm pass and [[Attempts]] timed
 * passes. Rates are the median (and min/max) of the verified attempts.
 * The modes a fork runs in are program arguments:
 *
 * {{{
 *   graft.Bench                                  full run (queries + stream)
 *   graft.Bench synth <cpus> <inDir> <docs>      print BENCHSYNTH <expected>
 *   graft.Bench level <cpus> <inDir> <expected>  print BENCHRATE <attempts>
 * }}}
 *
 * This main reports the paper's numbers; A/B measurement of an engine
 * change against its parent is `perfbench/` (perfbench/README.md).
 */
object Bench {

  /** Scaling-efficiency target of the two-cluster-size criterion. */
  val Target = 0.8
  /** A raw ratio above 1.0 but within this tolerance is near-perfect
    * scaling plus attempt-to-attempt noise and reported as 1.0; above
    * it the N level must have run slower than the engine does, and the
    * pair says nothing about scaling (credible:false). */
  val SuperlinearTolerance = 1.05
  /** Timed passes per level, after one untimed warm pass. */
  val Attempts = 3
  /** Timed runs per query; the min is reported. */
  val QueryReps = 2
  /** A fork that has not exited by then is killed and its level is
    * dead: a hung child must not hang the run that reports on it. */
  private val ForkTimeoutSec = 3600L
  private val GiB = 1L << 30
  /** Bytes one document takes in the synthesized parquet corpus, with
    * headroom: sf0.01's 200k-doc corpus measures 285 B/doc. */
  private val CorpusBytesPerDoc = 1024L
  /** Fork heap one document needs: the stitch state holds every doc
    * until the flush batch closes its session (0.7-0.9 KiB/doc measured
    * at 0.2M-1.4M docs), plus the scan, shuffle and sink writer and GC
    * headroom. */
  private val HeapBytesPerDoc = 3072L

  // ---- sizing from the box ---------------------------------------

  /** Thread counts of the scaling pair (N, 4N); on fewer than four CPUs
    * the upper level is `cpus` itself. */
  def levels(cpus: Int): (Int, Int) = {
    val n = math.max(1, cpus / 4)
    (n, math.min(4 * n, cpus))
  }

  /** Heap of each forked JVM: a quarter of the box's memory, at least
    * 1 GiB and at most 24 GiB (the heap the 6.4M-doc sf0.1 corpus ran
    * in on a 128 GiB box; past 32 GiB the JVM loses compressed oops). */
  def forkHeapBytes(memTotal: Long): Long =
    math.min(24 * GiB, math.max(GiB, memTotal / 4))

  /** Most documents the corpus may hold: the corpus lives in /dev/shm
    * (RAM), and it plus one fork heap must fit in half of memory. The
    * other half is for the parent JVM, the build tool, each pass's
    * shuffle, sink and checkpoint files, and the page cache. The fork
    * heap must also hold the corpus's stitch state. */
  def corpusCapDocs(memTotal: Long): Long = {
    val heap = forkHeapBytes(memTotal)
    math.min(math.max(0L, memTotal / 2 - heap) / CorpusBytesPerDoc, heap / HeapBytesPerDoc)
  }

  /** Corpus size for a scale factor: large enough that compute
    * dominates the per-pass fixed cost (query planning, state-store
    * opens, a few seconds) at that scale's usual core count. */
  def sfDocs(sfDir: String): Long = TokenEngine.byScale(sfDir, 20000L, 200000L, 6400000L)

  // ---- verdict ----------------------------------------------------

  /** One timed pass: sink rows over the streaming run's wall time;
    * `verified` when the sink holds exactly the expected row count. */
  final case class Attempt(rate: Double, wall: Double, rows: Long, verified: Boolean, stealPct: Double)

  /** A level's attempts, or why it has none (fork died, timed out or
    * printed no result). */
  final case class Level(cpus: Int, attempts: Seq[Attempt], error: Option[String] = None)

  final case class Spread(median: Double, min: Double, max: Double)

  final case class Verdict(
      n: Spread, n4: Spread, effRaw: Double, eff: Double,
      credible: Boolean, verified: Boolean, error: Option[String]) {
    def truncated: Boolean = error.nonEmpty
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Rates of the verified attempts only: an attempt whose sink is
    * wrong measured something other than the pipeline. */
  private def spread(l: Level): Spread = {
    val r = l.attempts.filter(_.verified).map(_.rate)
    if (r.isEmpty) Spread(0.0, 0.0, 0.0) else Spread(median(r), r.min, r.max)
  }

  /** The pair's verdict. A dead level, or one without a verified
    * non-zero rate, gives no ratio at all: credible:false with an
    * error, never a ratio built from zeros. */
  def verdict(n: Level, n4: Level): Verdict = {
    val (sn, s4) = (spread(n), spread(n4))
    val errors = Seq(n4 -> s4, n -> sn).flatMap { case (l, s) =>
      l.error.orElse(if (s.median > 0) None else Some("no verified attempt with a non-zero rate"))
        .map(e => s"level ${l.cpus}: $e")
    }
    val error = if (errors.isEmpty) None else Some(errors.mkString("; "))
    val raw = if (sn.median > 0) s4.median / (4 * sn.median) else 0.0
    val credible = error.isEmpty && raw <= SuperlinearTolerance
    Verdict(sn, s4, raw, if (credible) math.min(raw, 1.0) else 0.0, credible,
      verified = error.isEmpty && (n.attempts ++ n4.attempts).forall(_.verified), error)
  }

  // ---- engine runs ------------------------------------------------

  /** All benchmark I/O (input, shuffle, checkpoint, sink) goes to
    * tmpfs when there is one: a single shared disk queues concurrent
    * state-commit fsyncs, sink writes and shuffle spills behind each
    * other and shows up as anti-scaling that a real multi-executor
    * cluster (one local disk per executor) does not have. */
  private lazy val ioRoot: Path = {
    val shm = Paths.get("/dev/shm")
    val base = if (Files.isWritable(shm)) shm else Paths.get(System.getProperty("java.io.tmpdir"))
    Files.createDirectories(base.resolve("graft-bench"))
  }

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.local.dir", ioRoot.resolve("spark-local").toString)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // the default 128 MB maxPartitionBytes would collapse the
      // streaming scan of a few-hundred-MB corpus into a couple of
      // tasks and serialize the ingest regardless of cores
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      // the in-memory provider: at this state size it is faster than
      // RocksDB and needs no native library
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      // a full-state snapshot upload overlapping a short measured pass
      // distorts it; deltas alone are correct, so push snapshots past
      // the end of the run
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
      .config("spark.sql.streaming.stateStore.minDeltasForSnapshot", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
    }

  /** (steal, total) jiffies from /proc/stat line 1 — sampled around
    * each timed section so host CPU-steal interference is recorded in
    * the artifact, not just described. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case _: Throwable => (0L, 0L) }

  private def stealPctSince(start: (Long, Long)): Double = {
    val (s1, t1) = cpuJiffies()
    if (t1 > start._2) 100.0 * (s1 - start._1) / (t1 - start._2) else 0.0
  }

  /** The small corpus a level warms up on, beside the measured one
    * (its own directory: the level's glob over `inDir` must not see it). */
  private def warmDirOf(inDir: String): String =
    Paths.get(inDir).resolveSibling("warm").toString

  /**
   * Write the deterministic fragment corpus to `inDir` and return the
   * extracted-row count the pipeline must produce (narrow, via
   * StreamJob.expectedRows). Layout: the corpus as `files` parquet
   * files in `p1`, then two flush rows in `p2` and `p3` with strictly
   * later mtimes — the file source processes oldest-first, so the
   * corpus is one micro-batch and the flushes advance the watermark
   * past every session timer without a query restart.
   */
  private def synthesize(spark: SparkSession, nDocs: Long, inDir: String, files: Int): Long = {
    import spark.implicits._
    val all = TokenGen.fragments(spark, nDocs).filter(!_.is_late).cache()
    val expected = StreamJob.expectedRows(all, TokenEngine.flagshipSpec)
    // flushes must sit strictly AFTER the corpus's event-time range
    val flushTs = TokenGen.BASE_EPOCH_MS + nDocs * 1000L + 3600000L
    def flush(tag: String, off: Long, dir: String): Unit =
      Seq(graft.gen.Fragment(
        s"~$tag", Array(2), 1, "flush",
        new java.sql.Timestamp(flushTs + off), 0, 0, false, false))
        .toDS().coalesce(1).write.parquet(dir)
    all.repartition(files).write.parquet(s"$inDir/p1")
    Thread.sleep(1200) // mtime granularity: keep the three batches ordered
    flush("f1", 0, s"$inDir/p2")
    Thread.sleep(1200)
    flush("f2", 600000L, s"$inDir/p3")
    all.unpersist()
    expected
  }

  /** Synthesis-fork body: the measured corpus (two files per 4N
    * thread) and a warm-up corpus of 1/16 of it, floor 20k docs — enough
    * full-pipeline passes to reach C2-compiled steady state in seconds
    * rather than paying a cold full-size pass. */
  private def synthMain(cpus: Int, inDir: String, docs: Long): Unit = {
    val spark = session(cpus)
    val expected =
      try {
        val files = 2 * levels(cpus)._2
        val e = synthesize(spark, docs, inDir, files)
        synthesize(spark, math.min(docs, math.max(20000L, docs / 16)), warmDirOf(inDir), files)
        e
      } finally spark.stop()
    println(s"BENCHSYNTH $expected")
  }

  /** Level-fork body: one untimed warm pass, then [[Attempts]] timed
    * passes over the same corpus, each with a fresh checkpoint and
    * sink. The timed window is the streaming run only; the sink count
    * that verifies it is read afterwards. */
  private def levelMain(cpus: Int, inDir: String, expected: Long): Unit = {
    val spark = session(cpus)
    val base = Files.createTempDirectory(ioRoot, s"level-$cpus-")
    try {
      /** (sink rows, wall seconds) of one pass over `dir`. */
      def pass(tag: String, dir: String): (Long, Double) = {
        val table = new ResultTable(base.resolve(s"table-$tag").toString)
        // one micro-batch for the whole corpus (see synthesize)
        val files = scala.util.Using.resource(Files.list(Paths.get(dir, "p1")))(
          _.filter(_.toString.endsWith(".parquet")).count().toInt)
        val t0 = System.nanoTime()
        val q = StreamJob.run(
          StreamJob.fileSource(spark, s"$dir/*", maxFilesPerTrigger = files),
          TokenEngine.flagshipSpec, table, base.resolve(s"ck-$tag").toString, s"bench$cpus",
          watermarkDelay = "10 minutes", sessionGapMs = 60000L,
          trigger = Trigger.AvailableNow())
        q.awaitTermination()
        val wall = (System.nanoTime() - t0) / 1e9
        val stateMb = q.recentProgress.flatMap(_.stateOperators.map(_.memoryUsedBytes))
          .maxOption.getOrElse(0L) >> 20
        // an empty commit log reads as a schema-less DataFrame where
        // the doc_id filter would throw: that pass produced 0 rows
        val rows =
          if (table.snapshots().isEmpty) 0L
          else table.read(spark).filter(!col("doc_id").startsWith("~")).count()
        // tmpfs is RAM: drop each pass's sink and checkpoint at once
        rmTree(base.resolve(s"table-$tag"))
        rmTree(base.resolve(s"ck-$tag"))
        System.err.println(f"[bench cpus=$cpus $tag] rate=${rows / wall}%.1f " +
          f"rows=$rows wall=$wall%.1fs state_mb=$stateMb")
        (rows, wall)
      }
      pass("warm", warmDirOf(inDir))
      val attempts = (1 to Attempts).map { a =>
        val jiffies = cpuJiffies()
        val (rows, wall) = pass(s"attempt$a", inDir)
        s"${rows / wall},$wall,$rows,${stealPctSince(jiffies)}"
      }
      println(s"BENCHRATE ${attempts.mkString(";")}")
    } finally {
      spark.stop()
      rmTree(base)
    }
  }

  /** Run this main in a fresh JVM with `args` and a `heap`-sized heap;
    * its stdout, or None when it failed, printed nothing or ran past
    * [[ForkTimeoutSec]]. The parent's own heap flags are dropped: the
    * parent is sized for the query phase, the fork from the box. */
  private def fork(args: Seq[String], heap: Long): Option[String] = {
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray(Array.empty[String]).toSeq
      .filterNot(a => Seq("-Xmx", "-Xms", "-XX:MaxRAMPercentage", "-XX:InitialRAMPercentage")
        .exists(a.startsWith))
    val heapMb = heap >> 20
    // a fixed-size heap: a pass must not pay for growing it
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq(s"-Xms${heapMb}m", s"-Xmx${heapMb}m",
      "-cp", System.getProperty("java.class.path"), "graft.Bench") ++ args
    val out = Files.createTempFile(ioRoot, "fork-", ".out")
    try {
      val p = new ProcessBuilder(cmd: _*)
        .redirectOutput(out.toFile)
        .redirectError(ProcessBuilder.Redirect.INHERIT)
        .start()
      if (!p.waitFor(ForkTimeoutSec, TimeUnit.SECONDS)) {
        System.err.println(s"[bench] fork ${args.mkString(" ")} timed out after ${ForkTimeoutSec}s")
        p.destroyForcibly().waitFor()
        None
      } else if (p.exitValue() != 0) {
        System.err.println(s"[bench] fork ${args.mkString(" ")} exited with ${p.exitValue()}")
        None
      } else Some(Files.readString(out))
    } finally Files.deleteIfExists(out)
  }

  private def resultLine(out: Option[String], tag: String): Option[String] =
    out.flatMap(_.linesIterator.find(_.startsWith(tag + " "))).map(_.drop(tag.length + 1).trim)

  /** One level in its own JVM: a second SparkSession in a used JVM
    * inherits state-store singletons and threads from the first, and
    * separate JVMs are what "N and 4N executors" means anyway. */
  private def runLevel(cpus: Int, inDir: String, expected: Long, heap: Long): Level =
    resultLine(fork(Seq("level", cpus.toString, inDir, expected.toString), heap), "BENCHRATE") match {
      case Some(line) =>
        Level(cpus, line.split(';').toSeq.map { a =>
          val Array(rate, wall, rows, steal) = a.split(',')
          Attempt(rate.toDouble, wall.toDouble, rows.toLong, rows.toLong == expected, steal.toDouble)
        })
      case _ => Level(cpus, Nil, Some("fork died, timed out or printed no result"))
    }

  // ---- full run ---------------------------------------------------

  private def jsonStr(s: String): String =
    "\"" + s.replaceAll("[\\\\\"\\n\\r\\t]", " ") + "\""

  /** Per-query min-of-[[QueryReps]] seconds, the queries that threw
    * (name → exception class), and the `query_env` JSON. */
  private def runQueries(
      sfDir: String, cpus: Int): (Seq[(String, Double)], Seq[(String, String)], String) = {
    val spark = session(cpus)
    try {
      val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      // per-query cache lifecycle, outside the timed window: dedup
      // queries cache shingle sets and details levels localCheckpoint,
      // and clearCache covers catalog-cached plans only
      def clear(): Unit = {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
      // toRdd.count(), not count(): Dataset.count() prunes every column
      // no filter depends on, so a projection query would skip its
      // extraction kernels; the compiled plan's rows evaluate them all
      def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame, dir: String)
          : Either[String, Double] = {
        val t0 = System.nanoTime()
        val r =
          try { fn(spark, dir).queryExecution.toRdd.count(); Right((System.nanoTime() - t0) / 1e9) }
          catch { case t: Throwable => Left(t.getClass.getName) }
        clear()
        r
      }
      // untimed warm pass at sf0.001 (a sibling of the measured scale
      // dir) so rep 1 pays data, not JIT and codegen: the cold first
      // rep is ~10× the warm one for the short queries
      val warmSf = Paths.get(sfDir).resolveSibling("sf0.001").toString
      val tw0 = System.nanoTime()
      if (Files.isDirectory(Paths.get(warmSf)) &&
          TokenEngine.scaleOf(sfDir) > TokenEngine.scaleOf(warmSf))
        picked.foreach { case (_, fn) => runOnce(fn, warmSf) }
      val warmSec = (System.nanoTime() - tw0) / 1e9
      val jiffies = cpuJiffies()
      // min of the reps: ambient host contention swings identical runs
      // several-fold, and the min is the engine's number; a query that
      // throws stops at its first failure and reports no time
      val results = picked.map { case (name, fn) =>
        name -> (1 to QueryReps).foldLeft[Either[String, Double]](Right(Double.MaxValue)) {
          (acc, _) => acc.flatMap(best => runOnce(fn, sfDir).map(math.min(best, _)))
        }
      }
      val env = f"""{"reps":$QueryReps,"warm_sec":$warmSec%.1f,"steal_pct":${stealPctSince(jiffies)}%.2f}"""
      (results.collect { case (n, Right(t)) => n -> t },
        results.collect { case (n, Left(e)) => n -> e }, env)
    } finally spark.stop()
  }

  /** SPARK_GRAFT_CPUS capped at, and defaulting to, `nproc`. */
  private[graft] def boxCpus(nproc: Int): Int =
    math.min(nproc, sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(nproc))

  private def fullRun(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("set SPARK_GRAFT_SF_DIR to a generated sf directory (TESTDATA.md)"))
    val nproc = Runtime.getRuntime.availableProcessors()
    val cpus = boxCpus(nproc)
    val memTotal = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getTotalMemorySize

    // 1. per-query batch timings
    val (results, failed, queryEnv) = runQueries(sfDir, cpus)
    val qs = results.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")
    val failedJson = failed.map { case (k, e) => s"""{"query":${jsonStr(k)},"error":${jsonStr(e)}}""" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val head = s""""value":$total,"unit":"sec","queries":$qs,"failed_queries":$failedJson,""" +
      s""""query_env":$queryEnv,"sf":${jsonStr(sfDir)}"""
    // the per-query numbers print before the stream phase so that a run
    // the stream phase kills still leaves them parseable; a distinct
    // metric name keeps a first-match reader off this line
    println(s"""{"metric":"queries_partial",$head,"partial":true}""")

    // 2. streaming throughput at N and 4N threads on the same corpus
    val (n, n4) = levels(cpus)
    val heap = forkHeapBytes(memTotal)
    val docs = math.min(sfDocs(sfDir), corpusCapDocs(memTotal))
    val runDir = Files.createTempDirectory(ioRoot, "run-")
    val inDir = runDir.resolve("in").toString
    val (expected, levelN, level4N, skipped) =
      try {
        resultLine(fork(Seq("synth", cpus.toString, inDir, docs.toString), heap), "BENCHSYNTH")
          .map(_.toLong) match {
          case Some(e) =>
            val l4 = runLevel(n4, inDir, e, heap)
            (e, runLevel(n, inDir, e, heap), l4, Nil)
          case None =>
            val dead = Some("synthesis fork died, timed out or printed no result")
            (0L, Level(n, Nil, dead), Level(n4, Nil, dead), Seq("level-4n", "level-n"))
        }
      } catch {
        // the final line must print whatever the stream phase hit
        case t: Throwable =>
          val err = Some(t.toString.take(300))
          (0L, Level(n, Nil, err), Level(n4, Nil, err), Nil)
      } finally rmTree(runDir)

    val v = verdict(levelN, level4N)
    def attemptsJson(l: Level): String = l.attempts.map(a =>
      f"""{"rate":${a.rate}%.1f,"wall":${a.wall}%.1f,"rows":${a.rows},"verified":${a.verified},""" +
      f""""steal_pct":${a.stealPct}%.2f}""").mkString("[", ",", "]")
    val stream =
      f"""{"docs":$docs,"rows":$expected,"cpus_n":$n,"cpus_4n":$n4,""" +
      f""""rate_n":${v.n.median}%.1f,"rate_n_min":${v.n.min}%.1f,"rate_n_max":${v.n.max}%.1f,""" +
      f""""rate_4n":${v.n4.median}%.1f,"rate_4n_min":${v.n4.min}%.1f,"rate_4n_max":${v.n4.max}%.1f,""" +
      f""""scaling_efficiency":${v.eff}%.3f,"scaling_efficiency_raw":${v.effRaw}%.3f,"target":$Target,""" +
      s""""credible":${v.credible},"verified":${v.verified},"truncated":${v.truncated},""" +
      s""""skipped":${skipped.map(jsonStr).mkString("[", ",", "]")},""" +
      v.error.map(e => s""""error":${jsonStr(e)},""").getOrElse("") +
      s""""box":{"nproc":$nproc,"cpus":$cpus,"mem_total_mb":${memTotal >> 20},""" +
      s""""fork_heap_mb":${heap >> 20},"corpus_cap_docs":${corpusCapDocs(memTotal)}},""" +
      s""""attempts_n":${attemptsJson(levelN)},"attempts_4n":${attemptsJson(level4N)}}"""
    println(s"""{"metric":"total",$head,"stream":$stream}""")
  }

  def main(args: Array[String]): Unit = args.toList match {
    case Nil => fullRun()
    case List("synth", cpus, inDir, docs) => synthMain(cpus.toInt, inDir, docs.toLong)
    case List("level", cpus, inDir, expected) => levelMain(cpus.toInt, inDir, expected.toLong)
    case _ =>
      System.err.println("usage: graft.Bench [synth <cpus> <inDir> <docs> | level <cpus> <inDir> <expected>]")
      sys.exit(2)
  }
}
