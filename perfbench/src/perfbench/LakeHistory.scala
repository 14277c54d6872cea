package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** `lake-history`: writes beside reads on one graft table whose history grows.
  *
  * A pass creates a fresh table in a fresh catalog root and runs [[Rounds]] rounds.
  * Each round INSERTs a seeded [[Batch]]-row batch with monotone keys (so zone maps
  * can prune) and looks up one random already-written key; every [[RangeEvery]]th
  * round adds a range aggregate. The table passes 32 segments in the last rounds,
  * where Spark switches file listing to a distributed job: the regime in which
  * planning and commit cost grow with history. An operation is one round; its
  * latency is what a client that writes and then reads its own data waits. */
final class LakeHistory(ctx: Ctx) extends Workload {
  import LakeHistory._
  private val spark = ctx.spark
  private val tr = ctx.tracer

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", LongType, nullable = false),
    StructField("tag", StringType, nullable = false)))

  private var catalogs = 0
  private val measured = mutable.ArrayBuffer.empty[(String, Path)]
  private val rounds = mutable.ArrayBuffer.empty[Double]
  private val commits = mutable.ArrayBuffer.empty[Double]
  private val lookups = mutable.ArrayBuffer.empty[Double]
  private val ranges = mutable.ArrayBuffer.empty[Double]
  private var lastCommitBytes = 0L
  private var recording = false

  private def value(k: Long): Long = java.lang.Math.floorMod(mix(ctx.opts.seed, k), 1000000L)
  private def tag(k: Long): String = "g" + (value(k) % 53)

  /** A fresh graft catalog (own root directory) holding one empty table. */
  private def freshTable(): (String, Path) = {
    catalogs += 1
    val name = s"lake$catalogs"
    val root = ctx.freshDir(s"lake/$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root.toString)
    spark.sql(s"CREATE TABLE $name.h.t (k BIGINT, v BIGINT, tag STRING) USING parquet")
    (s"$name.h.t", root)
  }

  override val passSeconds = 14.0

  /** Generates every round's batch as a local relation the INSERTs read from, and
    * creates the table a pass starts from. */
  override def setup(): Unit = {
    (0 until Rounds).foreach { r =>
      val rows = (0 until Batch).map { i =>
        val k = r.toLong * Batch + i
        Row(k, value(k), tag(k))
      }
      spark.createDataFrame(rows.asJava, schema).createOrReplaceTempView(s"lake_batch_$r")
    }
    freshTable()
  }

  override def warmUp(): Unit = {
    val (t, _) = freshTable()
    (0 until RangeEvery).foreach(r => round(t, r, ctx.rng(-1)))
  }

  override def pass(): Unit = {
    recording = true
    val (t, root) = freshTable()
    val rng = ctx.rng(measured.size)
    (0 until Rounds).foreach { r =>
      val before = if (r == Rounds - 1) Dirs.bytes(root) else 0L
      round(t, r, rng)
      if (r == Rounds - 1) lastCommitBytes = Dirs.bytes(root) - before
    }
    measured += ((t, root))
    recording = false
  }

  private def round(t: String, r: Int, rng: java.util.SplittableRandom): Unit = {
    var ms = 0.0
    ctx.op("catalog", "commit") {
      spark.sql(s"INSERT INTO $t SELECT * FROM lake_batch_$r")
    }.foreach { case (_, d) => ms += d; if (recording) commits += d }

    val written = (r + 1).toLong * Batch
    val key = rng.nextLong(written)
    ctx.op("catalog", "lookup") {
      // spark.sql analyses eagerly, and analysis loads the table and its metadata
      val df = tr.span("catalog", "lookup.plan") {
        val df = spark.sql(s"SELECT k, v, tag FROM $t WHERE k = $key")
        df.queryExecution.executedPlan
        df
      }
      tr.span("catalog", "lookup.exec")(df.collect())
    }.foreach { case (rows, d) =>
      ms += d
      if (recording) lookups += d
      ctx.check(rows.toSeq == Seq(Row(key, value(key), tag(key))),
        s"lookup of k=$key in round $r returned ${rows.mkString(",")}")
    }

    if (r % RangeEvery == RangeEvery - 1) {
      val lo = rng.nextLong(written)
      val hi = math.min(written - 1, lo + rng.nextLong(5000))
      ctx.op("catalog", "range") {
        val df = tr.span("catalog", "range.plan") {
          val df = spark.sql(s"SELECT count(*) AS n, sum(v) AS s FROM $t WHERE k BETWEEN $lo AND $hi")
          df.queryExecution.executedPlan
          df
        }
        tr.span("catalog", "range.exec")(df.collect())
      }.foreach { case (rows, d) =>
        ms += d
        if (recording) ranges += d
        val want = Row(hi - lo + 1, (lo to hi).map(value).sum)
        ctx.check(rows.toSeq == Seq(want), s"range [$lo, $hi] in round $r returned ${rows.mkString(",")}, want $want")
      }
    }
    if (recording) rounds += ms
  }

  private lazy val finalState: (Long, Long, Long, Long) = {
    val (t, root) = measured.last
    val seg = spark.sql(s"SELECT count(*), sum(bytes) FROM $t.segments WHERE in_current").head()
    val rows = spark.sql(s"SELECT count(*) FROM $t").head().getLong(0)
    (seg.getLong(0), seg.getLong(1), Dirs.bytes(root), rows)
  }

  /** The final row count of every measured table is the rounds times the batch. */
  override def finish(): Unit = measured.foreach { case (t, _) =>
    ctx.attempted += 1
    val n = spark.sql(s"SELECT count(*) FROM $t").head().getLong(0)
    ctx.check(n == Rounds.toLong * Batch, s"$t holds $n rows, want ${Rounds.toLong * Batch}")
  }

  override def opLatencies: Seq[Double] = rounds.toSeq

  override def detail(wallS: Double): Seq[(String, Double, String)] = {
    val (_, _, dirBytes, rows) = finalState
    Seq(
      ("commit_p50_ms", Stats.pct(commits.toSeq, 50), "ms"),
      ("commit_p95_ms", Stats.pct(commits.toSeq, 95), "ms"),
      ("lookup_p50_ms", Stats.pct(lookups.toSeq, 50), "ms"),
      ("lookup_p95_ms", Stats.pct(lookups.toSeq, 95), "ms"),
      ("range_p50_ms", Stats.pct(ranges.toSeq, 50), "ms"),
      ("bytes_per_row", dirBytes.toDouble / math.max(1L, rows), "bytes"))
  }

  override def layers(r: TraceReport, passes: Int): Seq[(String, Double)] = {
    val ops = r.spans.filter(_.parent < 0)
    val commitSpans = ops.filter(_.name == "commit")
    val lookupOps = ops.filter(_.name == "lookup").map(_.id).toSet
    val lookupKids = r.spans.filter(s => lookupOps(s.parent))
    val commitMs = commitSpans.map(_.durMs).sum
    val commitJobMs = r.jobWallMs(commitSpans)
    val scanRows = ops.filter(_.name == "lookup").flatMap(r.jobsUnder).map(_.scanRows).sum
    val (segments, dataBytes, dirBytes, _) = finalState
    Seq(
      "catalog.commit_ms" -> commitMs / passes,
      "catalog.commit_job_ms" -> commitJobMs / passes,
      "catalog.commit_outside_jobs_ms" -> (commitMs - commitJobMs) / passes,
      "catalog.lookup_plan_ms" -> lookupKids.filter(_.name == "lookup.plan").map(_.durMs).sum / passes,
      "catalog.lookup_exec_ms" -> lookupKids.filter(_.name == "lookup.exec").map(_.durMs).sum / passes,
      "catalog.rows_read_per_row_returned" -> scanRows.toDouble / math.max(1, lookupOps.size),
      "catalog.meta_bytes" -> (dirBytes - dataBytes).toDouble,
      "catalog.last_commit_bytes" -> lastCommitBytes.toDouble,
      "catalog.data_bytes" -> dataBytes.toDouble,
      "catalog.live_segments" -> segments.toDouble)
  }
}

object LakeHistory {
  val Rounds = 40
  val Batch = 1000
  val RangeEvery = 5

  /** SplitMix64 finalizer over (seed, key): the seeded value column. */
  def mix(seed: Long, k: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + k * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
