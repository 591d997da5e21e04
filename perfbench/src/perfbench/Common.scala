package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `key=value` command-line arguments of one measuring JVM. */
final case class Args(kv: Map[String, String]) {
  def str(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
  def int(k: String): Int = str(k).toInt
  def long(k: String): Long = str(k).toLong
  def flag(k: String): Boolean = kv.get(k).contains("1")
  def path(k: String): Path = Paths.get(str(k))
}

object Args {
  def parse(a: Seq[String]): Args = Args(a.map { s =>
    val i = s.indexOf('=')
    require(i > 0, s"argument '$s' is not key=value")
    s.substring(0, i) -> s.substring(i + 1)
  }.toMap)
}

/** Minimal JSON writer for the result file each JVM hands back. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** Epoch-based nanosecond clock: monotonic like `nanoTime`, and on the
  * same axis as the epoch-millisecond times Spark's events carry. */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = base + System.nanoTime()
  def ofMs(ms: Long): Long = ms * 1000000L
  /** Seconds since this JVM started. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

/** One timed interval. `parent` is the id of the span that caused it
  * (-1 for the root); every span of one JVM shares the run id. */
final case class Span(id: Int, name: String, layer: String, startNs: Long, endNs: Long, parent: Int) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder: spans are kept in a buffer and written
  * once, when the JVM's measurement ends. */
final class Spans(val runId: String) {
  private val buf = ArrayBuffer.empty[Span]
  private var nextId = 0

  def add(name: String, layer: String, startNs: Long, endNs: Long, parent: Int): Int =
    synchronized {
      val id = nextId
      nextId += 1
      buf += Span(id, name, layer, startNs, endNs, parent)
      id
    }

  /** Times `body` as a span. */
  def timed[T](name: String, layer: String, parent: Int)(body: => T): T = {
    val t0 = Clock.nowNs
    val r = body
    add(name, layer, t0, Clock.nowNs, parent)
    r
  }

  def all: Seq[Span] = synchronized(buf.toSeq)

  /** Every span, times in epoch milliseconds. */
  def toJson: Seq[Map[String, Any]] = all.map(s => Map(
    "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
    "run" -> runId, "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6))
}

object Common {

  /** A local session whose scratch (shuffle, spill, warehouse) stays
    * under `work`; no session uses more threads than it is given. */
  def session(threads: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `op` at least `min` and at most `max` times, and starts
    * another run only while it is expected (from the mean so far) to
    * end within `seconds` of the first one's start. */
  def repeat[T](min: Int, max: Int, seconds: Double)(op: Int => T): Vector[T] = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val out = Vector.newBuilder[T]
    var i = 0
    while (i < min || (i < max && elapsed * (i + 1) / i <= seconds)) {
      out += op(i)
      i += 1
    }
    out.result()
  }

  def rmTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p))(
        _.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f)))

  /** Peak resident set size of this JVM in MiB (`VmHWM`). */
  def peakRssMb(): Double =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status")) { src =>
      src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    }

  /** A column made comparable across runs: floating values rounded to
    * 9 significant digits so that summation order cannot change the
    * digest; maps (which `xxhash64` rejects) go through `to_json`. */
  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      // scale-free rounding: format_number would localise, so use
      // printf-style %.9g
      format_string("%.9g", c.cast(DoubleType))
    case ArrayType(et @ (DoubleType | FloatType), _) =>
      transform(c, x => canonical(x, et))
    case _: MapType => to_json(c)
    case _ => c
  }

  /** Order-independent digest of a frame: row count, plus the sum and
    * the xor of one 64-bit hash per row over every column (taken in
    * column-name order). Row order and partitioning do not change it;
    * changing, adding or dropping any value does. The sum is exact
    * (decimal), so it cannot overflow. */
  def digest(df: DataFrame): Digest = {
    val fields = df.schema.fields.sortBy(_.name)
    val h = xxhash64(fields.map(f => canonical(col(s"`${f.name}`"), f.dataType)): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))), bit_xor(col("h")))
      .head()
    Digest(r.getLong(0),
      Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

final case class Digest(rows: Long, sum: BigDecimal, xor: Long)
