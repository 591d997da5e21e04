package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.gen.{Fragment, TokenGen}
import graft.model._
import graft.queries.TokenEngine
import graft.sink.ResultTable
import graft.streaming._

/** Streaming-behavior fixtures per FIXTURES.md §4: dedup, session
  * stitching, late-drop, exactly-once replay, kill-and-resume. */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: Long): Timestamp = new Timestamp(TokenGen.BASE_EPOCH_MS + s * 1000L)

  private def frag(doc: String, page: Int, toks: Array[Int], sec: Long, src: String = "s1") =
    Fragment(doc, toks, toks.length, src, ts(sec), page, page, is_dup = false, is_late = false)

  /** Tiny two-block doc split into two fragments. */
  private val d1p0 = Array(2, 3, 100, 1)
  private val d1p1 = Array(2, 3, 200, 201, 1)
  private val d2 = Array(2, 3, 300, 1, 4, 400, 1)

  private val spec = ExtractionSpec("s", Seq(
    FieldSpec("Names", 3, Seq(ExtractorType.Text, ExtractorType.Tokens, ExtractorType.Count)),
    FieldSpec("Images", 4, Seq(ExtractorType.Count))))

  test("stitch: out-of-order fragments + duplicates assemble in page order; session closes on watermark") {
    val mem = MemoryStream[Fragment]
    val out = Stitch.stitch(mem.toDS(), watermarkDelay = "5 seconds", gapMs = 10000L)
    val q = out.writeStream.format("memory").queryName("stitch_t").outputMode("append").start()
    try {
      // batch 1: d1 page1 BEFORE page0 (out of order), d2 whole, plus a dup of d2
      mem.addData(frag("d1", 1, d1p1, 10), frag("d2", 0, d2, 11), frag("d2", 0, d2, 12))
      q.processAllAvailable()
      // batch 2: d1 page0 arrives late-but-within-watermark
      mem.addData(frag("d1", 0, d1p0, 13))
      q.processAllAvailable()
      assert(spark.table("stitch_t").count() == 0, "sessions must stay open before gap passes")
      // flush: advance watermark way past maxEvent+gap, twice (second
      // batch fires the timers registered after the first)
      mem.addData(frag("~flush", 0, Array(2), 1000))
      q.processAllAvailable()
      mem.addData(frag("~flush2", 0, Array(2), 2000))
      q.processAllAvailable()
      val rows = spark.table("stitch_t").filter(!col("doc_id").startsWith("~"))
        .orderBy("doc_id").collect()
      assert(rows.length == 2, s"got ${rows.length} docs")
      val r1 = rows(0)
      assert(r1.getAs[String]("doc_id") == "d1")
      assert(r1.getAs[scala.collection.Seq[Int]]("tokens") == (d1p0 ++ d1p1).toSeq, "page-order token equality")
      assert(r1.getAs[Int]("n_frags") == 2)
      val r2 = rows(1)
      assert(r2.getAs[scala.collection.Seq[Int]]("tokens") == d2.toSeq, "dup fragment collapsed")
      assert(r2.getAs[Int]("n_frags") == 1)
    } finally q.stop()
  }

  test("late fragment beyond watermark is dropped in fused mode (no session re-creation)") {
    val mem = MemoryStream[Fragment]
    val out = Stitch.stitch(mem.toDS(), watermarkDelay = "5 seconds", gapMs = 5000L)
    val q = out.writeStream.format("memory").queryName("late_f").outputMode("append").start()
    try {
      mem.addData(frag("a", 0, d2, 100))
      q.processAllAvailable() // watermark -> 95s
      mem.addData(frag("zlate", 0, d1p0, 10)) // 90s behind: beyond watermark
      q.processAllAvailable()
      mem.addData(frag("~flush", 0, Array(2), 1000))
      q.processAllAvailable()
      mem.addData(frag("~flush2", 0, Array(2), 2000))
      q.processAllAvailable()
      val docs = spark.table("late_f").select("doc_id").as[String].collect().toSet
      assert(docs.contains("a"))
      assert(!docs.contains("zlate"), "late fragment must be dropped in fused mode")
    } finally q.stop()
  }

  test("late fragment beyond watermark is dropped and counted (strict mode)") {
    val mem = MemoryStream[Fragment]
    val out = Stitch.stitch(mem.toDS(), watermarkDelay = "5 seconds", gapMs = 5000L,
      fused = false)
    val q = out.writeStream.format("memory").queryName("late_t").outputMode("append").start()
    try {
      mem.addData(frag("a", 0, d2, 100))
      q.processAllAvailable() // watermark -> 95s
      mem.addData(frag("zlate", 0, d1p0, 10)) // 90s behind: beyond watermark
      q.processAllAvailable()
      mem.addData(frag("~flush", 0, Array(2), 1000))
      q.processAllAvailable()
      mem.addData(frag("~flush2", 0, Array(2), 2000))
      q.processAllAvailable()
      val docs = spark.table("late_t").select("doc_id").as[String].collect().toSet
      assert(docs.contains("a"))
      assert(!docs.contains("zlate"), "late fragment must be dropped")
      val dropped = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1, s"late drop must be counted in metrics, got $dropped")
    } finally q.stop()
  }

  test("politeness pacing: deterministic per-source schedule with min spacing") {
    val mem = MemoryStream[(String, String, Timestamp)]
    val out = Pacing.pace(mem.toDS(), delayMs = 500L)
    val q = out.writeStream.format("memory").queryName("pace_t").outputMode("append").start()
    try {
      // burst of 4 rows on one source at the same event time + 1 on another
      mem.addData(
        ("d1", "hot", ts(0)), ("d2", "hot", ts(0)), ("d3", "hot", ts(0)),
        ("d4", "hot", ts(2)), ("e1", "cold", ts(0)))
      q.processAllAvailable()
      val rows = spark.table("pace_t").orderBy("scheduled_time", "doc_id")
        .as[PacedRow].collect()
      val hot = rows.filter(_.source == "hot").map(_.scheduled_time.getTime)
      assert(hot.toSeq == Seq(0L, 500L, 1000L, 2000L).map(TokenGen.BASE_EPOCH_MS + _),
        s"hot schedule: ${hot.toSeq}")
      val cold = rows.filter(_.source == "cold")
      assert(cold.head.scheduled_time == ts(0), "cold source unthrottled")
      // next batch continues from persisted state
      mem.addData(("d5", "hot", ts(2)))
      q.processAllAvailable()
      val d5 = spark.table("pace_t").filter($"doc_id" === "d5").as[PacedRow].head()
      assert(d5.scheduled_time.getTime == TokenGen.BASE_EPOCH_MS + 2500L,
        "spacing enforced across batches via state")
    } finally q.stop()
  }

  test("politeness pacing honors per-source robots Crawl-delay, default for the rest") {
    // reference fetch/robotstxt.go:77-84: Crawl-delay per domain when
    // present; FetchDelay fallback otherwise (scrape.go:702-709)
    val delays = RobotsGate.crawlDelays(Seq(
      RobotsGate.RobotsRules("slow", 200, Nil, Nil, crawlDelayMs = 2000L),
      RobotsGate.RobotsRules("nodirective", 200, Nil, Nil))) // 0 -> absent
    assert(delays == Map("slow" -> 2000L))
    val mem = MemoryStream[(String, String, Timestamp)]
    val out = Pacing.pace(mem.toDS(), delayMs = 500L, perSourceDelayMs = delays)
    val q = out.writeStream.format("memory").queryName("pace_cd")
      .outputMode("append").start()
    try {
      mem.addData(
        ("s1", "slow", ts(0)), ("s2", "slow", ts(0)), ("s3", "slow", ts(0)),
        ("f1", "fast", ts(0)), ("f2", "fast", ts(0)))
      q.processAllAvailable()
      val rows = spark.table("pace_cd").as[PacedRow].collect()
      val slow = rows.filter(_.source == "slow").map(_.scheduled_time.getTime).sorted
      val fast = rows.filter(_.source == "fast").map(_.scheduled_time.getTime).sorted
      assert(slow.toSeq == Seq(0L, 2000L, 4000L).map(TokenGen.BASE_EPOCH_MS + _),
        s"slow: ${slow.toSeq}")
      assert(fast.toSeq == Seq(0L, 500L).map(TokenGen.BASE_EPOCH_MS + _),
        s"fast: ${fast.toSeq}")
    } finally q.stop()
  }

  test("tumbling/sliding/session window aggregates over a doc stream") {
    val mem = MemoryStream[AssembledDoc]
    val agg = WindowAggs.tumblingStream(mem.toDF(), "10 seconds", "5 seconds")
    val q = agg.writeStream.format("memory").queryName("win_t").outputMode("append").start()
    try {
      mem.addData(
        AssembledDoc("a", Array(1), 1, "s1", ts(1), 1),
        AssembledDoc("b", Array(1, 2), 2, "s1", ts(3), 1),
        AssembledDoc("c", Array(1), 1, "s2", ts(12), 1))
      q.processAllAvailable()
      mem.addData(AssembledDoc("~f", Array(1), 1, "s3", ts(100), 1))
      q.processAllAvailable()
      mem.addData(AssembledDoc("~f2", Array(1), 1, "s3", ts(200), 1))
      q.processAllAvailable()
      val rows = spark.table("win_t").orderBy("w_start", "source").collect()
      assert(rows.exists(r => r.getAs[String]("source") == "s1" &&
        r.getAs[Long]("n_docs") == 2 && r.getAs[Long]("total_tokens") == 3))
      assert(rows.exists(r => r.getAs[String]("source") == "s2" &&
        r.getAs[Long]("n_docs") == 1))
    } finally q.stop()
  }

  test("metrics listener captures per-batch volumes, state totals and late drops") {
    val metrics = Metrics.install(spark)
    try {
      val mem = MemoryStream[Fragment]
      val out = Stitch.stitch(mem.toDS(), watermarkDelay = "5 seconds", gapMs = 5000L)
      val q = out.writeStream.format("memory").queryName("metrics_t")
        .outputMode("append").start()
      try {
        mem.addData(frag("m1", 0, d2, 100))
        q.processAllAvailable()
        mem.addData(frag("m2", 0, d1p0, 200))
        q.processAllAvailable()
        val rows = metrics.rows.filter(_.query_name == "metrics_t")
        assert(rows.nonEmpty, "no metrics captured")
        assert(rows.map(_.input_rows).sum >= 2)
        assert(rows.exists(_.state_rows_total >= 1), "state totals missing")
        assert(rows.forall(_.batch_duration_ms >= 0))
        val df = metrics.snapshot(spark).filter(col("query_name") === "metrics_t")
        assert(df.count() == rows.length)
      } finally q.stop()
    } finally spark.streams.removeListener(metrics)
  }

  test("exactly-once sink: replayed batch id is a no-op; lineage columns present") {
    val dir = Files.createTempDirectory("graft-sink").toString
    val table = new ResultTable(dir)
    val df = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    table.appendBatch("q1")(df, 0L)
    val n1 = table.read(spark).count()
    table.appendBatch("q1")(df, 0L) // replay — must not duplicate
    table.appendBatch("q1")(df.filter($"k" === "a"), 1L)
    val r = table.read(spark)
    assert(n1 == 2 && r.count() == 3, s"replay added rows: ${r.count()}")
    assert(r.columns.contains("_batch_id") && r.columns.contains("_part_id"))
    assert(r.filter($"_batch_id" === 1L).count() == 1)
  }

  test("sink time travel: readAsOf sees a history prefix; batch 10 orders after batch 2") {
    val dir = Files.createTempDirectory("graft-tt").toString
    val table = new ResultTable(dir)
    val one = Seq(("a", 1)).toDF("k", "v")
    // 11 commits so the numeric-vs-lexicographic ordering is exercised
    // (name-sorted, "q-10" would precede "q-2")
    (0L to 10L).foreach(b => table.appendBatch("q")(one, b))
    assert(table.snapshots() == (0L to 10L).map(b => s"q-$b"))
    assert(table.readAsOf(spark, Some("q-2")).count() == 3, "prefix through batch 2")
    assert(table.readAsOf(spark, Some("q-10")).count() == 11)
    assert(table.read(spark).count() == 11)
    val asOf2 = table.readAsOf(spark, Some("q-2"))
      .select("_batch_id").distinct().as[Long].collect().toSet
    assert(asOf2 == Set(0L, 1L, 2L), s"later commits leaked: $asOf2")
    // VERSION AS OF semantics: unknown snapshot errors, no silent prefix
    intercept[IllegalArgumentException] {
      table.readAsOf(spark, Some("q-999")).count()
    }
  }

  test("multi-writer history: snapshots in commit order, not key order; readAsOf cuts at the commit boundary") {
    val dir = Files.createTempDirectory("graft-mw").toString
    // two independent writers (distinct queryIds) sharing one table —
    // e.g. two streaming queries landing in the same result table
    val w1 = new ResultTable(dir)
    val w2 = new ResultTable(dir)
    val one = Seq(("a", 1)).toDF("k", "v")
    w1.appendBatch("w1")(one, 0L)
    w2.appendBatch("w2")(one, 0L)
    w1.appendBatch("w1")(one, 1L)
    w2.appendBatch("w2")(one, 1L)
    // key order would be [w1-0, w1-1, w2-0, w2-1]; commit order is the
    // interleaving that actually happened (the monotonic seq chain)
    assert(w1.snapshots() == Seq("w1-0", "w2-0", "w1-1", "w2-1"),
      s"history not in commit order: ${w1.snapshots()}")
    // both instances read the same seq chain
    assert(w2.snapshots() == w1.snapshots())
    // a time-travel cut at w2's first commit must include w1-0 and
    // w2-0 but NOT w1-1 (which key-order truncation would include)
    val cut = w1.readAsOf(spark, Some("w2-0"))
    assert(cut.count() == 2, s"cut at w2-0 read ${cut.count()} rows")
    // replay through EITHER instance stays a no-op (same-key dedup
    // reads the shared log, not instance state)
    w2.appendBatch("w1")(one, 0L)
    assert(w1.read(spark).count() == 4 && w1.snapshots().length == 4)
  }

  test("same-key concurrent committers: winner's files survive, loser's attempt dir cleaned") {
    val dir = Files.createTempDirectory("graft-race").toString
    val one = Seq(("a", 1)).toDF("k", "v")
    // two committers race the SAME (queryId, batchId) through the CAS
    // window — misuse, but it must stay safe: per-attempt data dirs
    // mean the loser can never clobber the winner's part files
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { _ =>
      val t = new Thread(() => {
        start.await()
        try new ResultTable(dir).appendBatch("q")(one, 0L)
        catch { case e: Throwable => errs.add(e) }
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"concurrent commit threw: ${errs.peek()}")
    val table = new ResultTable(dir)
    assert(table.snapshots() == Seq("q-0"))
    // every manifest-referenced file exists (the r4-advice failure
    // mode was a committed manifest pointing at deleted parts)
    table.committedFiles().foreach(f =>
      assert(Files.exists(java.nio.file.Paths.get(f)), s"manifest references missing file $f"))
    assert(table.read(spark).count() == 1)
    // the losing attempt's unreferenced dir was deleted
    val nDirs = scala.util.Using.resource(
      Files.list(java.nio.file.Paths.get(s"$dir/data")))(_.count())
    assert(nDirs == 1, s"expected exactly the winner's attempt dir, found $nDirs")
  }

  test("legacy pre-seq commit format fails hard instead of reading as empty") {
    val dir = Files.createTempDirectory("graft-legacy").toString
    val table = new ResultTable(dir)
    table.appendBatch("q")(Seq(("a", 1)).toDF("k", "v"), 0L)
    // a stray non-manifest file with the same name shape is skipped
    Files.writeString(java.nio.file.Paths.get(s"$dir/_commits/notes-1.json"), "todo\n")
    assert(table.snapshots() == Seq("q-0"))
    // a commit file named in the pre-seq format: silently skipping it
    // would make its data invisible — the table must refuse to read
    Files.writeString(java.nio.file.Paths.get(s"$dir/_commits/old-7.json"),
      "queryId:old\nbatchId:7\n")
    val e = intercept[IllegalStateException] { table.snapshots() }
    assert(e.getMessage.contains("legacy"), e.getMessage)
  }

  test("snapshot-aware streaming read: orphaned uncommitted batch invisible; foreign commit name skipped") {
    val dir = Files.createTempDirectory("graft-snap").toString
    val table = new ResultTable(dir)
    val committed = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    table.appendBatch("q")(committed, 0L)
    // simulate an upstream crash between data write and commit: data
    // files land under data/ with NO commit file
    Seq(("orphan", 99)).toDF("k", "v")
      .withColumn("_batch_id", lit(9L)).withColumn("_part_id", lit(0))
      .write.parquet(s"$dir/data/q-9")
    // a foreign file in the commit log must not break reads (and must
    // not surface the orphan)
    Files.writeString(java.nio.file.Paths.get(s"$dir/_commits/README.json"), "junk")
    assert(table.snapshots() == Seq("q-0"))
    assert(table.read(spark).count() == 2)
    val schema = table.read(spark).schema
    val q = table.readStream(spark, schema)
      .writeStream.format("memory").queryName("snap_t").outputMode("append").start()
    try {
      q.processAllAvailable()
      val seen = spark.table("snap_t").select("k").as[String].collect().toSet
      assert(seen == Set("a", "b"), s"streaming reader saw: $seen")
      // the replayed rewrite of the orphan commits normally and appears once
      table.appendBatch("q")(Seq(("c", 3)).toDF("k", "v"), 9L)
      q.processAllAvailable()
      val after = spark.table("snap_t").select("k").as[String].collect().toList.sorted
      assert(after == List("a", "b", "c"), s"after replay: $after")
    } finally q.stop()

    // backfill: a table whose pub/ view is missing (pre-pub-era table,
    // or writer died between commit and publication and never
    // replayed) must repopulate it on streaming open from the commit
    // log, not stream empty while read() sees the commits
    val pub = java.nio.file.Paths.get(s"$dir/pub")
    scala.util.Using.resource(Files.list(pub))(_.forEach(p => Files.delete(p)))
    val reopened = new ResultTable(dir)
    val q2 = reopened.readStream(spark, schema)
      .writeStream.format("memory").queryName("snap_t2").outputMode("append").start()
    try {
      q2.processAllAvailable()
      val seen2 = spark.table("snap_t2").select("k").as[String].collect().toList.sorted
      assert(seen2 == List("a", "b", "c"), s"backfill missed commits: $seen2")
    } finally q2.stop()
  }

  test("byQueryParam pagination expands start keys into bounded page-key sequences") {
    val starts = Seq(("a", "job1"), ("b", "job2")).toDF("base", "job")
    val out = Paginate.byQueryParam(starts, keyCol = "base", param = "p", maxPages = 3)
      .orderBy("base", "page_idx").collect()
    assert(out.length == 6)
    assert(out.map(_.getAs[String]("page_key")).toSeq ==
      Seq("a?p=0", "a?p=1", "a?p=2", "b?p=0", "b?p=1", "b?p=2"))
    assert(out.forall(_.schema.fieldNames.contains("job")), "input columns carried")
    intercept[IllegalArgumentException] {
      Paginate.byQueryParam(starts, "base", maxPages = 0)
    }
  }

  test("session jar: cookies persist per user_token, hydrate before merge, expire on TTL") {
    val mem = MemoryStream[CookieEvent]
    val out = SessionJar.hydrate(mem.toDS(), ttlMs = 60000L, watermarkDelay = "5 seconds")
    val q = out.writeStream.format("memory").queryName("jar_t").outputMode("append").start()
    try {
      def ev(tok: String, doc: String, sec: Long, set: String*) =
        CookieEvent(tok, doc, ts(sec), set.toArray)
      // u1: r1 sets a cookie; r2 (later, same batch, added out of order)
      // must see it but not its own; u2 independent
      mem.addData(ev("u1", "r2", 10, "b=2"), ev("u1", "r1", 5, "a=1"),
        ev("u2", "s1", 5))
      q.processAllAvailable()
      // u1 next batch: sees a=1 AND b=2; overwrite a
      mem.addData(ev("u1", "r3", 20, "a=9"))
      q.processAllAvailable()
      // beyond TTL (60s after last event): jar must be empty again
      mem.addData(ev("u1", "r4", 200))
      q.processAllAvailable()
      val rows = spark.table("jar_t").as[HydratedEvent].collect()
        .map(e => e.doc_id -> e.jar.toSeq.sorted).toMap
      assert(rows("r1") == Seq(), "first request hydrates an empty jar")
      assert(rows("r2") == Seq("a=1"), "in-batch order is event-time order")
      assert(rows("s1") == Seq(), "tokens are isolated")
      assert(rows("r3") == Seq("a=1", "b=2"), "jar persisted across batches")
      assert(rows("r4") == Seq(), s"TTL must empty the jar, got ${rows("r4")}")
    } finally q.stop()
  }

  test("session jar via transformWithState: identical output to the fMGWS binding; TTL timer evicts") {
    // transformWithState requires the RocksDB state-store provider;
    // set it for this query only and restore the session default after
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[CookieEvent]
      val out = SessionJarTws.hydrate(mem.toDS(), ttlMs = 60000L, watermarkDelay = "5 seconds")
      val q = out.writeStream.format("memory").queryName("jar_tws")
        .outputMode("append").start()
      try {
        def ev(tok: String, doc: String, sec: Long, set: String*) =
          CookieEvent(tok, doc, ts(sec), set.toArray)
        // the same event script as the fMGWS test — the assertion set
        // below IS the cross-binding equivalence check
        mem.addData(ev("u1", "r2", 10, "b=2"), ev("u1", "r1", 5, "a=1"),
          ev("u2", "s1", 5))
        q.processAllAvailable()
        mem.addData(ev("u1", "r3", 20, "a=9"))
        q.processAllAvailable()
        mem.addData(ev("u1", "r4", 200))
        q.processAllAvailable()
        val rows = spark.table("jar_tws").as[HydratedEvent].collect()
          .map(e => e.doc_id -> e.jar.toSeq.sorted).toMap
        assert(rows("r1") == Seq(), "first request hydrates an empty jar")
        assert(rows("r2") == Seq("a=1"), "in-batch order is event-time order")
        assert(rows("s1") == Seq(), "tokens are isolated")
        assert(rows("r3") == Seq("a=1", "b=2"), "jar persisted across batches")
        assert(rows("r4") == Seq(), s"TTL must empty the jar, got ${rows("r4")}")
      } finally q.stop()
    } finally prevProv match {
      case Some(v) => spark.conf.set(provKey, v)
      case None    => spark.conf.unset(provKey)
    }
  }

  test("dead-letter: poisoned fragments neither crash the pipeline nor vanish") {
    val base = Files.createTempDirectory("graft-dlq")
    val table = new ResultTable(base.resolve("t").toString)
    val quar = new ResultTable(base.resolve("q").toString)
    val mem = MemoryStream[Fragment]
    val (qMain, qDlq) = DeadLetter.runWithQuarantine(
      mem.toDS(), spec, table, quar,
      base.resolve("ck_main").toString, base.resolve("ck_dlq").toString, "dlq",
      watermarkDelay = "5 seconds", sessionGapMs = 5000L,
      trigger = Trigger.ProcessingTime(0L))
    try {
      val poisonBadCount = Fragment("poison_count", Array(2, 3, 100, 1), 99, "s1",
        ts(100), 0, 0, is_dup = false, is_late = false)
      val poisonEmpty = Fragment("poison_empty", Array.empty, 0, "s1",
        ts(101), 0, 0, is_dup = false, is_late = false)
      val poisonRange = Fragment("poison_range", Array(2, 3, 40000, 1), 4, "s1",
        ts(102), 0, 0, is_dup = false, is_late = false)
      mem.addData(frag("clean1", 0, d2, 100), poisonBadCount, poisonEmpty, poisonRange)
      qMain.processAllAvailable(); qDlq.processAllAvailable()
      mem.addData(frag("~flush", 0, Array(2), 1000))
      qMain.processAllAvailable()
      mem.addData(frag("~flush2", 0, Array(2), 2000))
      qMain.processAllAvailable()

      val mainDocs = table.read(spark).select("doc_id").as[String].collect().toSet
      assert(mainDocs.contains("clean1"), "clean row must flow through")
      assert(!mainDocs.exists(_.startsWith("poison")),
        "poisoned rows must not reach the result table")
      val statuses = quar.read(spark).select("doc_id", "status")
        .as[(String, String)].collect().toMap
      assert(statuses == Map(
        "poison_count" -> DeadLetter.BadTokenCount,
        "poison_empty" -> DeadLetter.EmptyPayload,
        "poison_range" -> DeadLetter.TokenOutOfRange), s"got $statuses")
    } finally { qMain.stop(); qDlq.stop() }
  }

  test("dead_letter driver row: statuses partition the poisoned table, every class hit") {
    val dir = "/root/testdata/sf0.001"
    val stats = graft.queries.TokenEngine.deadLetterStats(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats.keySet === Set(DeadLetter.Ok, DeadLetter.EmptyPayload,
      DeadLetter.BadTokenCount, DeadLetter.TokenOutOfRange),
      s"all four taxonomy classes must appear, got ${stats.keySet}")
    assert(stats.values.forall(_ > 0), s"every class must be non-vacuous: $stats")
    val total = graft.queries.TokenEngine.docsFor(spark, dir).count()
    assert(stats.values.sum === total,
      "classification must partition the input — no row dropped or double-counted")
  }

  test("end-to-end kill-and-resume from checkpoint: no dupes, no loss, token-array equality") {
    val base = Files.createTempDirectory("graft-e2e")
    val inDir = base.resolve("in").toString
    val ckDir = base.resolve("ck").toString
    val table = new ResultTable(base.resolve("table").toString)

    // deterministic fragment corpus, no late rows (oracle exactness)
    val all = TokenGen.fragments(spark, 60).filter(!_.is_late).cache()
    val flushA = Seq(frag("~flushA", 0, Array(2), 100000))
    val flushB = Seq(frag("~flushB", 0, Array(2), 200000))

    // watermark/gap wider than the generator's +30s duplicate offset so
    // dups are always deduped (not re-opened sessions); flush at
    // +100000s closes everything
    def launch() = StreamJob.run(
      StreamJob.fileSource(spark, s"$inDir/*", maxFilesPerTrigger = 2),
      spec, table, ckDir, "e2e",
      watermarkDelay = "10 minutes", sessionGapMs = 60000L,
      trigger = Trigger.AvailableNow())

    // phase 1: first half of the docs
    all.filter($"doc_id" < lit("src-003")).coalesce(1)
      .write.mode("overwrite").parquet(s"$inDir/p1")
    val q1 = launch(); q1.awaitTermination(120000)
    // phase 2 ("restart after kill"): rest of the docs
    all.filter($"doc_id" >= lit("src-003")).coalesce(1)
      .write.mode("overwrite").parquet(s"$inDir/p2")
    val q2 = launch(); q2.awaitTermination(120000)
    // phases 3+4: flush rows arrive strictly AFTER all real fragments
    // are checkpointed (separate runs — the file source gives no
    // intra-run file-order guarantee, and a flush processed before a
    // real fragment would legitimately watermark-drop it). flushA's run
    // advances the watermark past every session timer; flushB's run
    // then fires them all in its first batch.
    flushA.toDS().coalesce(1).write.mode("overwrite").parquet(s"$inDir/p3")
    val q3 = launch(); q3.awaitTermination(120000)
    flushB.toDS().coalesce(1).write.mode("overwrite").parquet(s"$inDir/p4")
    val q4 = launch(); q4.awaitTermination(120000)
    // one more restart with nothing new: must be a pure no-op (replay safety)
    val q5 = launch(); q5.awaitTermination(120000)

    val got = table.read(spark).filter(!$"doc_id".startsWith("~"))
      .drop("_batch_id", "_part_id")
      .orderBy("doc_id", "block_idx")
    val exp = StreamJob.batchOracle(spark, all, spec)
      .orderBy("doc_id", "block_idx")
    val gotRows = got.select(exp.columns.map(col).toSeq: _*).collect()
    val expRows = exp.collect()
    assert(gotRows.length == expRows.length,
      s"row count: got ${gotRows.length} exp ${expRows.length}")
    gotRows.zip(expRows).foreach { case (g, e) =>
      assert(g.toString == e.toString, s"mismatch:\n  got=$g\n  exp=$e")
    }
  }

  test("kill-and-resume holds on the RocksDB state store provider") {
    // the north-star names RocksDB as the production state store
    // (state ≫ executor memory at 10^12 sequences); this pins that the
    // stitcher's flat-primitive state encoding survives RocksDB
    // serialize → snapshot → restore, not just the in-memory provider.
    // providerClass is a per-query conf captured at start, so setting
    // it on the shared session scopes it to the queries below.
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = Files.createTempDirectory("graft-rocks")
      val inDir = base.resolve("in").toString
      val ckDir = base.resolve("ck").toString
      val table = new ResultTable(base.resolve("table").toString)
      val all = TokenGen.fragments(spark, 24).filter(!_.is_late).cache()
      def launch() = StreamJob.run(
        StreamJob.fileSource(spark, s"$inDir/*", maxFilesPerTrigger = 2),
        spec, table, ckDir, "rocks",
        watermarkDelay = "10 minutes", sessionGapMs = 60000L,
        trigger = Trigger.AvailableNow())
      // phase 1: half the docs, then a cold restart from the RocksDB
      // checkpoint with the rest, then two flush runs to fire timers
      all.filter($"doc_id" < lit("src-001")).coalesce(1)
        .write.mode("overwrite").parquet(s"$inDir/p1")
      launch().awaitTermination(120000)
      all.filter($"doc_id" >= lit("src-001")).coalesce(1)
        .write.mode("overwrite").parquet(s"$inDir/p2")
      launch().awaitTermination(120000)
      Seq(frag("~flushA", 0, Array(2), 100000)).toDS().coalesce(1)
        .write.mode("overwrite").parquet(s"$inDir/p3")
      launch().awaitTermination(120000)
      Seq(frag("~flushB", 0, Array(2), 200000)).toDS().coalesce(1)
        .write.mode("overwrite").parquet(s"$inDir/p4")
      launch().awaitTermination(120000)
      val got = table.read(spark).filter(!$"doc_id".startsWith("~"))
      val expected = StreamJob.batchOracle(spark, all, spec).count()
      assert(got.count() == expected,
        s"RocksDB run: got ${got.count()} rows, expected $expected")
      all.unpersist()
    } finally spark.conf.unset(key)
  }

  test("narrow expectedRows equals the full batch-oracle row count") {
    // includes planted duplicate fragments and multi-fragment docs —
    // the cases where the narrow count could diverge (dedup winner,
    // cross-fragment boundaries, zero-sentinel fallback)
    val all = TokenGen.fragments(spark, 200).filter(!_.is_late).cache()
    val full = StreamJob.batchOracle(spark, all, spec).count()
    val narrow = StreamJob.expectedRows(all, spec)
    assert(narrow === full, s"narrow=$narrow full=$full")
    // and a zero-sentinel doc exercises the single-block fallback
    val lone = Seq(frag("nosentinel", 0, Array(3, 100, 1), 500)).toDS()
    assert(StreamJob.expectedRows(lone, spec) ===
      StreamJob.batchOracle(spark, lone, spec).count())
  }

  test("robots gate: 4xx full-allow, 5xx full-disallow, longest-prefix rules, no-entry allow") {
    import graft.streaming.RobotsGate
    // reference fetch/robotstxt.go:46-62 (Google status semantics) and
    // :65-70 (nil robots data → allow)
    val rules = RobotsGate.rulesTable(spark, Seq(
      RobotsGate.RobotsRules("parsed", 200,
        allows = Seq("/pub/ok"), disallows = Seq("/pub", "/admin")),
      RobotsGate.RobotsRules("gone", 404, allows = Nil, disallows = Seq("/")),
      RobotsGate.RobotsRules("down", 503, allows = Seq("/"), disallows = Nil)))
    val frontier = Seq(
      ("parsed", "/pub/ok/x"),   // allow beats shorter disallow (longest match)
      ("parsed", "/pub/other"),  // disallowed by /pub
      ("parsed", "/index"),      // no rule matches -> allow
      ("parsed", "/admin/cfg"),  // disallowed
      ("gone", "/anything"),     // 4xx -> full allow despite disallow-all rules
      ("down", "/anything"),     // 5xx -> full disallow despite allow-all rules
      ("norules", "/x"))         // source absent from table -> allow
      .toDF("source", "doc_id")
    val kept = RobotsGate.gate(frontier, rules)
      .select("source", "doc_id").as[(String, String)].collect().toSet
    assert(kept === Set(
      ("parsed", "/pub/ok/x"), ("parsed", "/index"),
      ("gone", "/anything"), ("norules", "/x")), kept.toString)

    // randomized equivalence: the Catalyst predicate vs a straight-
    // line Scala implementation of the same Google semantics, over a
    // tiny path alphabet so prefix collisions, nesting and exact
    // allow/disallow ties all occur (seeded — deterministic)
    locally {
      val rnd = new scala.util.Random(42)
      def randPrefix(): String =
        "/" + Seq.fill(rnd.nextInt(3) + 1)(
          s"${('a' + rnd.nextInt(3)).toChar}${('a' + rnd.nextInt(3)).toChar}").mkString("/")
      val ruleRows = (0 until 40).map { i =>
        RobotsGate.RobotsRules(s"s$i",
          Seq(200, 200, 204, 403, 404, 500, 503)(rnd.nextInt(7)),
          Seq.fill(rnd.nextInt(3))(randPrefix()),
          Seq.fill(rnd.nextInt(3))(randPrefix()))
      }
      // sources up to s49: some frontier rows have no rules entry
      val paths = (0 until 400).map { _ =>
        (s"s${rnd.nextInt(50)}", randPrefix() + (if (rnd.nextBoolean()) "/x" else ""))
      }
      def naive(r: Option[RobotsGate.RobotsRules], path: String): Boolean = r match {
        case None => true
        case Some(rr) if rr.status >= 400 && rr.status <= 499 => true
        case Some(rr) if rr.status >= 500 && rr.status <= 599 => false
        case Some(rr) =>
          val a = rr.allows.filter(path.startsWith).map(_.length).maxOption.getOrElse(-1)
          val d = rr.disallows.filter(path.startsWith).map(_.length).maxOption.getOrElse(-1)
          d == -1 || a >= d
      }
      val byName = ruleRows.map(r => r.source -> r).toMap
      val expected = paths.filter { case (s, p) => naive(byName.get(s), p) }.toSet
      val got = RobotsGate.gate(
          paths.toDF("source", "doc_id"), RobotsGate.rulesTable(spark, ruleRows))
        .select("source", "doc_id").as[(String, String)].collect().toSet
      assert(got === expected,
        s"diff: missing=${expected -- got}, extra=${got -- expected}")
    }

    // the same gate applied to a fragment STREAM (stateless broadcast
    // join — no state store, no watermark interaction)
    val mem = MemoryStream[Fragment]
    val gated = RobotsGate.gate(mem.toDS().toDF(), rules)
    val q = gated.writeStream.format("memory").queryName("robots_t")
      .outputMode("append").start()
    try {
      mem.addData(
        frag("/pub/ok/stream", 0, d1p0, 1, src = "parsed"),
        frag("/pub/blocked", 0, d1p0, 2, src = "parsed"),
        frag("/x", 0, d1p0, 3, src = "down"))
      q.processAllAvailable()
      val got = spark.table("robots_t").select("doc_id").as[String].collect().toSet
      assert(got === Set("/pub/ok/stream"), got.toString)
    } finally q.stop()
  }
}
