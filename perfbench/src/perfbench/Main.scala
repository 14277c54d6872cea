package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one process.
  *
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --repo <dir> --work <dir>
  *  --cpus <n> [--record <dir>]`
  *
  * Prints the workload's figures by name, then as its last line one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
  * `--trace 0`, the per-layer metrics with `--trace 1`. Exits 1 when an output check
  * failed. `--record` instead runs each corpus query once and writes its expected
  * row count and fingerprint (see [[Corpus.record]]). */
object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val opts = Options(
      workload = kv.getOrElse("workload", ""),
      seed = kv.getOrElse("seed", "1").toLong,
      seconds = kv.getOrElse("seconds", "10").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      repo = Paths.get(kv("repo")).toAbsolutePath,
      work = Paths.get(kv("work")).toAbsolutePath,
      cpus = kv.getOrElse("cpus", "4").toInt,
      record = kv.get("record").map(Paths.get(_)))
    Files.createDirectories(opts.work)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${opts.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", opts.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftSparkExtensions")
      .config("spark.local.dir", opts.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", opts.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val code =
      try opts.record match {
        case Some(out) => Corpus.record(spark, opts, out); 0
        case None => run(spark, opts, sessionS)
      } finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, opts: Options, sessionS: Double): Int = {
    val spec = MetricSpec.read(opts.repo)
    val tracer = new Tracer(opts.trace)
    val counters = new Counters
    if (opts.trace) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }
    val ctx = new Ctx(spark, tracer, opts)
    val w: Workload = opts.workload match {
      case "lake-history" => new LakeHistory(ctx)
      case "corpus-sf0.01" => new Corpus(ctx)
      case "cell-pipeline" => new CellPipeline(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    def seconds(body: => Unit): Double = {
      val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
    }
    val setups = (1 to SetupRepeats).map(_ => seconds(w.setup()))
    val warmS = seconds(w.warmUp())
    // every check so far belongs to warm-up; the tally covers the measured passes
    val warmFailures = ctx.failed
    ctx.attempted = 0
    ctx.failed = 0
    if (opts.trace) org.apache.spark.SparkBus.drain(spark.sparkContext)

    val fromMs = tracer.nowMs
    val passTimes = (1 to math.max(1, math.round(opts.seconds / w.passSeconds).toInt)).map(_ => seconds(w.pass()))
    val toMs = tracer.nowMs
    w.finish()

    val passes = passTimes.size
    val wallS = Stats.median(passTimes)
    val ops = w.opLatencies
    val failedFrac = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    val correct = ctx.failed == 0 && warmFailures == 0

    println(f"workload ${opts.workload} seed ${opts.seed}: $passes pass(es), ${ops.size} operations, " +
      f"session start ${sessionS}%.3f s, warm-up ${warmS}%.3f s, passes ${passTimes.map(t => f"$t%.3f").mkString(" ")} s")
    val e2e = spec.select("end-to-end", spec.endToEnd, Map(
      "setup_s" -> Stats.median(setups),
      "wall_s" -> wallS,
      "op_p50_ms" -> Stats.pct(ops, 50),
      "op_p75_ms" -> Stats.pct(ops, 75)), _ => false)
    (e2e ++ Seq(("failed_frac", failedFrac, "ratio")) ++ w.detail(wallS)).foreach {
      case (n, v, u) => println(f"  $n%-24s $v%14.4f $u")
    }
    ctx.failures.foreach(f => println(s"  CHECK FAILED: $f"))
    if (warmFailures > 0) println(s"  CHECK FAILED: $warmFailures check(s) failed during warm-up")

    val metrics: Seq[(String, Double, String)] =
      if (!opts.trace) e2e
      else {
        org.apache.spark.SparkBus.drain(spark.sparkContext)
        val r = new TraceReport(tracer, counters, fromMs, toMs)
        val per = (x: Double) => x / passes
        val planning = Seq(
          "plan.analyze_ms" -> per(r.phaseMs("analysis")),
          "plan.optimize_ms" -> per(r.phaseMs("optimization")),
          "plan.physical_ms" -> per(r.phaseMs("planning")))
        val self = r.selfMs.map { case (l, v) => s"self.${l}_ms" -> per(v) }
        val own = (planning ++ r.execCounters.map { case (n, v) => n -> per(v) } ++
          w.layers(r, passes) ++ self :+ ("trace.wall_s" -> wallS)).toMap
        val tracePath = Files.createDirectories(opts.work.getParent.resolve("traces"))
          .resolve(s"${opts.workload}-seed${opts.seed}.json")
        r.write(tracePath)
        println(s"  trace written to ${opts.repo.relativize(tracePath)} (${r.spans.size} spans, ${r.jobs.size} jobs)")
        println("  self time per pass by layer:")
        r.selfMs.toSeq.sortBy(-_._2).foreach { case (l, v) => println(f"    $l%-12s ${v / passes}%12.1f ms") }
        spec.select("per-layer", spec.perLayer, own, Layers.absent(opts.workload))
      }

    val body = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": {$body}}""")
    if (correct) 0 else 1
  }
}

/** The metric names and units listed in `BENCHMARK.json`, the one list of them. */
final case class MetricSpec(endToEnd: Seq[(String, String)], perLayer: Seq[(String, String)]) {
  /** The listed metrics in file order, valued from `values`. A listed name without a
    * value prints 0 only where `absent` allows it; any other mismatch between the
    * file and the values fails the run. */
  def select(kind: String, listed: Seq[(String, String)], values: Map[String, Double],
             absent: String => Boolean): Seq[(String, Double, String)] = {
    val unlisted = values.keySet -- listed.map(_._1)
    require(unlisted.isEmpty, s"$kind metrics missing from BENCHMARK.json: ${unlisted.toSeq.sorted.mkString(", ")}")
    listed.map { case (n, u) =>
      require(values.contains(n) || absent(n), s"BENCHMARK.json lists $kind metric $n, which this run does not produce")
      (n, values.getOrElse(n, 0.0), u)
    }
  }
}

object MetricSpec {
  def read(repo: Path): MetricSpec = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(repo.resolve("BENCHMARK.json").toFile)
    def list(key: String): Seq[(String, String)] =
      root.get(key).elements.asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    MetricSpec(list("end_to_end"), list("per_layer"))
  }
}

/** Per-layer metrics of a layer only one workload exercises, its self time among
  * them, print 0 in the other workloads' traced runs. */
object Layers {
  private val owner: Map[String, String] = Map(
    "catalog" -> "lake-history",
    "sources" -> "cell-pipeline", "pipeline" -> "cell-pipeline",
    "queries" -> "corpus-sf0.01", "operators" -> "corpus-sf0.01", "plans" -> "corpus-sf0.01",
    "functions" -> "corpus-sf0.01")

  def absent(workload: String)(metric: String): Boolean = {
    val layer =
      if (metric.startsWith("self.")) metric.stripPrefix("self.").stripSuffix("_ms")
      else metric.takeWhile(_ != '.')
    owner.get(layer).exists(_ != workload)
  }
}
