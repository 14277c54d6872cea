package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** `corpus-sf0.01`: declared graft queries over the read-only sf0.01 tables shipped
  * in `perfbench/corpus/sf0.01`, with no graft catalog. One or a few queries of each
  * family are kept, so a pass stays a few seconds on 4 cores while shuffle, graft's
  * operators and the planning of short queries do the work. A pass runs every query
  * once, in an order the seed permutes; expected results do not depend on the order.
  * An operation is one query. */
final class Corpus(ctx: Ctx) extends Workload {
  import Corpus._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val expected = Corpus.expected(ctx.opts.repo)
  private val defs = graft.SparkEntry.queries
  private var dir: Path = _
  private var setups = 0
  private var passes = 0
  private val samples = mutable.ArrayBuffer.empty[(String, Double)]

  override val passSeconds = 4.0

  /** Copies the tables into a fresh input directory and reads each one's schema. */
  override def setup(): Unit = {
    setups += 1
    dir = ctx.freshDir(s"corpus/in$setups")
    val src = ctx.opts.repo.resolve(DataDir)
    Tables.foreach { t =>
      Files.copy(src.resolve(s"$t.parquet"), dir.resolve(s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
      spark.read.parquet(dir.resolve(s"$t.parquet").toString).schema
    }
  }

  /** Two passes: the first compiles each query's generated code, and after it alone
    * the first measured pass still ran about 20% slow while the JIT caught up. */
  override def warmUp(): Unit = (1 to 2).foreach(_ => Queries.foreach { case (q, _) => runQuery(q) })

  override def pass(): Unit = {
    val order = shuffle(Queries.map(_._1), ctx.rng(passes))
    passes += 1
    order.foreach(q => runQuery(q).foreach(ms => samples += q -> ms))
  }

  private def runQuery(q: String): Option[Double] =
    ctx.op(Family(q), q) {
      val df = tr.span(Family(q), "define")(defs(q)(spark, dir.toString))
      tr.span(Family(q), "plan")(df.queryExecution.executedPlan)
      (df.columns, tr.span(Family(q), "collect")(df.collect()))
    }.map { case ((cols, rows), ms) =>
      val got = RowHash.of(cols, rows)
      val want = expected.get(q)
      ctx.check(want.contains(got), s"$q returned ${got._1} rows / ${got._2}, want ${want.getOrElse("-")}")
      ms
    }

  override def opLatencies: Seq[Double] = samples.map(_._2).toSeq

  override def detail(wallS: Double): Seq[(String, Double, String)] = Seq(
    ("query_p50_ms", Stats.pct(opLatencies, 50), "ms"),
    ("query_p90_ms", Stats.pct(opLatencies, 90), "ms"),
    ("queries_per_s", Queries.size / wallS, "1/s")) ++
    samples.groupMap(_._1)(_._2).toSeq.sortBy(_._1).map { case (q, ms) => (s"$q.p50_ms", Stats.median(ms.toSeq), "ms") }

  override def layers(r: TraceReport, passes: Int): Seq[(String, Double)] = {
    val ops = r.spans.filter(_.parent < 0)
    Families.map { f =>
      val metric = if (f.contains('.')) s"${f}_ms" else s"$f.ms"
      metric -> ops.filter(s => FamilyMetric.get(s.name).contains(f)).map(_.durMs).sum / passes
    }
  }
}

object Corpus {
  val DataDir = "perfbench/corpus/sf0.01"
  val ExpectedFile = "perfbench/corpus/expected.tsv"
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** (query, metric family). The family's first part is the graft layer of the span. */
  val Queries: Seq[(String, String)] = Seq(
    "q01_pricing_summary" -> "queries.relational",
    "q68_band_join_rule" -> "plans.band_join",
    "q30_asof_join" -> "operators.join",
    "q125_pagerank" -> "operators.graph",
    "q32_token_counts" -> "queries.text",
    "q42_knn_brute_force" -> "queries.vector",
    "q257_jaro_winkler" -> "functions",
    "q28_tumbling_window" -> "queries.events")


  val FamilyMetric: Map[String, String] = Queries.toMap
  val Family: Map[String, String] = Queries.map { case (q, f) => q -> f.takeWhile(_ != '.') }.toMap
  val Families: Seq[String] = Queries.map(_._2).distinct

  def shuffle[T: scala.reflect.ClassTag](xs: Seq[T], rng: java.util.SplittableRandom): Seq[T] = {
    val a = xs.toArray
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** query → (rows, fingerprint), from the tab-separated expected-results file. */
  def expected(repo: Path): Map[String, (Long, String)] =
    Files.readAllLines(repo.resolve(ExpectedFile)).asScala
      .filterNot(l => l.startsWith("#") || l.isBlank)
      .map(_.split('\t'))
      .map(a => a(0) -> (a(1).toLong, a(2)))
      .toMap

  /** Runs each query once over the shipped tables and writes `expected.tsv` (query,
    * rows, fingerprint) and `oracle_sql.json` (the oracle SQL of the queries that have
    * one) into `out`, for `oracle_check.py` to cross-check against DuckDB. */
  def record(spark: SparkSession, opts: Options, out: Path): Unit = {
    Files.createDirectories(out)
    val data = opts.repo.resolve(DataDir).toString
    val lines = Queries.map { case (q, _) =>
      val df = graft.SparkEntry.queries(q)(spark, data)
      val (n, h) = RowHash.of(df.columns, df.collect())
      s"$q\t$n\t$h"
    }
    Files.write(out.resolve("expected.tsv"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val oracle = graft.SparkEntry.oracleSql
    val json = Queries.flatMap { case (q, _) => oracle.get(q).map(sql => s"${Json.str(q)}: ${Json.str(sql)}") }
    Files.write(out.resolve("oracle_sql.json"), json.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
    println(s"recorded ${Queries.size} queries into $out")
  }
}
