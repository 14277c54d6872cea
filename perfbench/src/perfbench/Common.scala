package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** A JSON number with all its digits; non-finite values become 0. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
}

object Stats {
  /** Linear-interpolated percentile (numpy's default) of a non-empty sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = p / 100.0 * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Order-insensitive result fingerprint shared with `oracle_check.py`: each row is
  * rendered with its columns in name order, hashed with MD5, and the first 8 bytes
  * of the digests are summed modulo 2^64. Numbers render as integers when integral
  * (below 1e15) and otherwise with six decimals, so Spark and DuckDB types agree. */
object RowHash {
  def render(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n: java.math.BigDecimal => num(n.doubleValue)
    case n: scala.math.BigDecimal => num(n.toDouble)
    case n: java.lang.Float => num(n.doubleValue)
    case n: java.lang.Double => num(n.doubleValue)
    case n: java.lang.Number => n.longValue.toString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case other => other.toString
  }

  def num(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else new java.math.BigDecimal(d).setScale(6, java.math.RoundingMode.HALF_EVEN).toPlainString

  /** (row count, hex fingerprint) of a collected result. */
  def of(columns: Array[String], rows: Array[Row]): (Long, String) = {
    val order = columns.indices.sortBy(columns(_))
    val md = java.security.MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val line = order.map(i => render(r.get(i))).mkString("\u0001")
      val d = md.digest(line.getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    (rows.length.toLong, f"$sum%016x")
  }
}

/** Command-line options of one benchmark run. */
final case class Options(workload: String, seed: Long, seconds: Double, trace: Boolean,
                         repo: Path, work: Path, cpus: Int, record: Option[Path])

/** Everything a workload shares with the runner: session, tracer, seeded
  * randomness and the attempted/failed tally of output checks. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val opts: Options) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Seeded random stream for one purpose; the same (seed, stream) repeats exactly. */
  def rng(stream: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(opts.seed * 1000003L + stream)

  /** Runs one operation in a top-level span, timing it. A thrown error counts as a
    * failed operation and returns None. */
  def op[T](layer: String, name: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val v = tracer.span(layer, name)(body)
      Some((v, (System.nanoTime() - t0) / 1e6))
    } catch {
      case e: Exception =>
        fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Records an output check of an already-attempted operation. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  def freshDir(name: String): Path = {
    val d = opts.work.resolve(name)
    Files.createDirectories(d)
    d
  }
}

object Dirs {
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** One benchmark workload. The runner calls [[setup]] several times (each prepares a
  * fresh copy of the inputs), [[warmUp]] once, then [[pass]] as often as the measuring
  * time holds passes of [[passSeconds]]. A pass is a fixed amount of work. */
trait Workload {
  /** A warm pass's length on 4 cores. The pass count follows from it, not from how
    * long passes took in the run, so a fast or slow phase of the machine does not
    * change the amount of work a run measures. */
  def passSeconds: Double
  def setup(): Unit
  def warmUp(): Unit
  def pass(): Unit
  /** Latencies (ms) of the measured operations behind `op_p50_ms` / `op_p75_ms`. */
  def opLatencies: Seq[Double]
  /** Workload-specific end-to-end figures: (name, value, unit), printed by name. */
  def detail(wallS: Double): Seq[(String, Double, String)]
  /** Workload-specific per-layer metrics from a traced run, per pass. */
  def layers(r: TraceReport, passes: Int): Seq[(String, Double)]
  /** Output checks that need the whole measured phase, run after it. */
  def finish(): Unit = ()
}
