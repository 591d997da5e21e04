package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/**
 * A block of `SparkEntry.queries` (the `names` given, else all 44): a
 * digest pass checked against recorded reference values (untimed; it
 * also warms every plan), then timed repetitions of the block, each
 * query forced through `queryExecution.toRdd.count()` so that every
 * output column is computed.
 */
object QueryBench {

  /** Module of each query, for the per-layer sums. The `queries`
    * package's relational set and the `pipeline` package's set are
    * listed; every other key is a `TokenEngine` query. */
  val relational: Set[String] = Set("q1_agg", "q_join_agg", "q_broadcast_join", "q_semi_join",
    "q_anti_join", "q_window_topk", "q_window_running", "q_set_ops", "q_string_funcs",
    "q_rollup", "q_tumbling", "q_sliding", "q_session", "q_distinct", "q_approx_distinct")
  val pipeline: Set[String] = Set("exact_dedup", "jaccard_pairs", "minhash_lsh",
    "simhash_pairs", "embed_neardup", "embed_neardup_lsh", "ann_topk", "ann_lsh", "ann_ivf",
    "token_counts", "quality_score", "lang_id", "fingerprint", "fingerprint_winnow",
    "multimodal_stats")
  def module(name: String): String =
    if (relational(name)) "queries.relational"
    else if (pipeline(name)) "pipeline"
    else "queries.token_engine"

  private def clear(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Digest of each named query's result; a query that throws maps
    * to its error. */
  def digests(spark: SparkSession, sf: String, names: Seq[String]): Seq[(String, Either[String, Digest])] =
    names.map { name =>
      val d = try Right(Common.digest(SparkEntry.queries(name)(spark, sf)))
      catch { case e: Exception => Left(e.toString) }
      clear(spark)
      name -> d
    }

  private def timedCount(spark: SparkSession, sf: String, name: String): (Either[String, Long], Long, Long) = {
    val t0 = Clock.nowNs
    val n = try Right(SparkEntry.queries(name)(spark, sf).queryExecution.toRdd.count())
    catch { case e: Exception => Left(e.toString) }
    val t1 = Clock.nowNs
    clear(spark)
    (n, t0, t1)
  }

  def run(a: Args): Map[String, Any] = {
    val sf = a.str("sf")
    val spans = new Spans(a.str("run_id"))
    val spark = Common.session(a.int("threads"), a.path("work").resolve("jvm"))
    try {
      val refs = Refs.load(a.path("refs"))
      // digest pass: the correctness check, and the warm pass
      val picked = a.kv.get("names").map(_.split(',').toSeq)
        .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
      val checked = digests(spark, sf, picked).map { case (name, d) =>
        val err = d match {
          case Left(e) => Some(s"threw: $e")
          case Right(got) => refs.get(name) match {
            case None => Some("no reference value")
            case Some(want) if want != got => Some(s"digest $got != reference $want")
            case _ => None
          }
        }
        name -> err
      }
      val setupS = Clock.sinceJvmStart
      val names = checked.map(_._1)
      /** One timed run of a query, checked against the reference row
        * count: its error, if any, and its start and end. */
      def checkedRun(n: String): Run = {
        val (r, s, e) = timedCount(spark, sf, n)
        Run(r match {
          case Left(x) => Some(s"threw: $x")
          case Right(c) if !refs.get(n).exists(_.rows == c) => Some(s"count $c != reference")
          case _ => None
        }, s, e)
      }
      // whole repetitions of the block
      val reps = Common.repeat(a.int("min_reps"), a.int("max_reps"), a.str("seconds").toDouble)(
        _ => names.map(n => n -> checkedRun(n)).toMap)

      val perQuery = names.map { n =>
        n -> Map(
          "digest_error" -> checked.toMap.apply(n),
          "errors" -> reps.flatMap(_(n).error),
          "walls_s" -> reps.map(_(n).wallS),
          "rows" -> refs.get(n).map(_.rows).getOrElse(-1L),
          "module" -> module(n))
      }.toMap

      val traced = if (a.flag("trace")) {
        val tt = new TaskTrace
        spark.sparkContext.addSparkListener(tt)
        val root0 = Clock.nowNs
        val tracedRuns = names.map { n =>
          val r = checkedRun(n)
          spans.add(s"q.$n", module(n), r.startNs, r.endNs, -1)
          n -> r
        }
        val root1 = Clock.nowNs
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tt)
        val root = spans.add("query_block", "bench", root0, root1, -1)
        val qs = spans.all.filter(_.name.startsWith("q."))
        tt.stageRecs.foreach { st =>
          val s0 = Clock.ofMs(st.startMs)
          val parent = qs.find(q => q.startNs <= s0 && s0 <= q.endNs).map(_.id).getOrElse(root)
          spans.add(s"stage.${st.stageId}", "spark", s0, Clock.ofMs(st.endMs), parent)
        }
        val covered = Layers.unionMs(qs.map(s => (s.startNs / 1e6, s.endNs / 1e6)))
        // one more untraced repetition: the overhead is taken against
        // the untraced repetitions on either side of the traced one
        val after = names.map(n => n -> checkedRun(n))
        Map("walls_s" -> tracedRuns.map { case (n, r) => n -> r.wallS }.toMap,
          "after_walls_s" -> after.map { case (n, r) => n -> r.wallS }.toMap,
          "errors" -> (tracedRuns ++ after).flatMap(_._2.error),
          "wall_s" -> (root1 - root0) / 1e9,
          "coverage" -> covered / ((root1 - root0) / 1e6),
          "stages" -> Layers.stageMetrics(tt),
          "extract_probe_rows_per_s" -> extractProbe(spark, sf))
      } else Map.empty
      Map("setup_s" -> setupS, "queries" -> perQuery, "reps" -> reps.size,
        "peak_rss_mb" -> Common.peakRssMb(), "trace" -> traced,
        "spans" -> spans.toJson)
    } finally spark.stop()
  }

  /** `ExtractCompiler.compile` alone over the query block's docs
    * table, cached before timing; rows per second, median of three. */
  private def extractProbe(spark: SparkSession, sf: String): Double = {
    val docs = graft.queries.TokenEngine.docsFor(spark, sf).cache()
    docs.count()
    val runs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val n = graft.extract.ExtractCompiler.compile(docs, graft.queries.TokenEngine.flagshipSpec)
        .queryExecution.toRdd.count()
      n / ((System.nanoTime() - t0) / 1e9)
    }
    docs.unpersist(blocking = true)
    Stats.median(runs)
  }

  /** Writes reference values: the digest of each query's output as
    * a `Verify` run wrote it under `verified`. */
  def record(a: Args): Map[String, Any] = {
    val spark = Common.session(a.int("threads"), a.path("work").resolve("jvm"))
    try {
      val out = SparkEntry.queries.keys.toSeq.sorted.map { n =>
        n -> Common.digest(spark.read.parquet(a.path("verified").resolve(n).toString))
      }
      Refs.save(a.path("refs"), out)
      Map("recorded" -> out.size)
    } finally spark.stop()
  }
}

/** One timed, checked run of a query. */
final case class Run(error: Option[String], startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Reference values file: one `name rows sum xor` line per query. */
object Refs {
  def load(p: java.nio.file.Path): Map[String, Digest] =
    Files.readAllLines(p).asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, rows, sum, xor) = l.trim.split("\\s+")
      n -> Digest(rows.toLong, BigDecimal(sum), xor.toLong)
    }.toMap

  def save(p: java.nio.file.Path, refs: Seq[(String, Digest)]): Unit =
    Files.write(p, (Seq("# query rows hash_sum hash_xor") ++
      refs.map { case (n, d) => s"$n ${d.rows} ${d.sum} ${d.xor}" }).asJava)
}
