package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark process: one workload, closed loop, one thread.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --cores <n> [--self-test]
  * }}}
  *
  * It prints `PERFBENCH READY` once the session is up and the inputs are
  * prepared, then runs the workload until `--seconds` have passed and at
  * least the workload's minimum of runs is done, and prints
  * `PERFBENCH RESULT <json>`.
  * Run 0 is the cold run. With `--trace 1` the warm runs alternate
  * untraced and traced, starting untraced: per-layer figures come from
  * the traced runs, and the tracing overhead compares them with the
  * untraced ones around them.
  */
object Main {

  final case class Args(workload: String = "", seed: Long = 0L, seconds: Double = 10,
      trace: Boolean = false, work: Path = Paths.get(".work"), cores: Int = 1,
      selfTest: Boolean = false)

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case Nil => a
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, a.copy(work = Paths.get(v)))
    case "--cores" :: v :: t => parse(t, a.copy(cores = v.toInt))
    case "--self-test" :: t => parse(t, a.copy(selfTest = true))
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.default.parallelism", a.cores.toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    Files.createDirectories(a.work)
    val spark = session(a)
    val ok =
      try if (a.selfTest) SelfTest.run(spark, a) else { bench(spark, a); true }
      finally spark.stop()
    if (!ok) sys.exit(1)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def bench(spark: SparkSession, a: Args): Unit = {
    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    val ctx = new Ctx(spark, a.work, a.seed, a.cores, tracer)
    val w = Workload(a.workload, ctx)
    w.setup()
    println("PERFBENCH READY")
    Console.flush()

    var gc = 0.0
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val runs = Seq.newBuilder[(Boolean, RunResult)]
    var i = 0
    // a traced process adds one run, so it has traced and untraced warm runs
    val minRuns = if (a.trace) w.minRuns + 1 else w.minRuns
    while (i < minRuns || System.nanoTime() < deadline) {
      ctx.tracing = a.trace && i > 0 && i % 2 == 0
      // a GC fence: one run's garbage is not collected on the next one's time
      System.gc()
      val gc0 = gcSeconds()
      val r =
        try w.run(i)
        catch {
          case NonFatal(e) =>
            RunResult(0, 0, 1, Seq(s"run $i raised ${e.getClass.getName}: ${e.getMessage}"), Nil)
        }
      gc += gcSeconds() - gc0
      runs += ctx.tracing -> r
      i += 1
    }
    ctx.tracing = false
    val all = runs.result()
    val finalErrors = try w.finish() catch {
      case NonFatal(e) => Seq(s"final check raised ${e.getClass.getName}: ${e.getMessage}")
    }
    val layers = tracer.map(_.report())
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    println("PERFBENCH RESULT " + Json.render(Results(all, finalErrors, layers, gc, heapMb)))
    Console.flush()
  }
}

/** Folds the runs of one process into the figures `run.py` prints. */
object Results {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of p90/p99 with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Map[String, Any] = {
    val s = xs.sorted
    Seq(99 -> 1000, 90 -> 100).collectFirst {
      case (p, need) if s.size >= need =>
        Map(s"p$p" -> s(math.ceil(p / 100.0 * s.size).toInt - 1))
    }.getOrElse(Map.empty)
  }

  val layerNames: Seq[String] = Seq("etl.ingest", "etl.validate", "etl.enrich",
    "etl.load", "etl.reconcile", "etl.grocery_run", "etl.retail_run",
    "sink.jdbc", "sink.warehouse", "sources.warehouse")

  def apply(all: Seq[(Boolean, RunResult)], finalErrors: Seq[String],
      report: Option[Tracer.Report], gcS: Double, heapMb: Double): Map[String, Any] = {
    val results = all.map(_._2)
    val errors = results.flatMap(_.errors) ++ finalErrors
    val attempted = results.map(_.attempted).sum
    // one failed check fails the operation it checked
    val failedOps = math.min(attempted,
      results.map(r => math.min(r.attempted, r.errors.size)).sum + finalErrors.size)
    // warm runs: untraced, after the cold one. A run that raised has no
    // time; one that only failed an output check did its work and keeps it
    val warm = all.drop(1).collect { case (false, r) if r.timedS > 0 => r }
    val traced = all.collect { case (true, r) if r.timedS > 0 => r }
    val warmS = warm.map(_.timedS)
    val verdicts = warm.flatMap(_.verdictS)
    val counters = results.flatMap(_.counters).groupMapReduce(_._1)(_._2)(_ + _)
    val e2e = Map(
      "cold_run_s" -> results.headOption.map(_.timedS).getOrElse(0.0),
      "run_s" -> median(warmS),
      "rows_per_s" -> (if (warmS.sum > 0) warm.map(_.rows).sum / warmS.sum else 0.0),
      "verdict_s" -> median(verdicts))
    val layers = report.map { rep =>
      val bySpan = rep.spans.groupBy(_.layer)
      val perLayer = layerNames.flatMap { l =>
        val xs = bySpan.getOrElse(l, Seq.empty)
        def m(f: Tracer.SpanRecord => Double) = median(xs.map(f))
        Seq("wall_s" -> m(_.wallS), "jobs" -> m(_.jobs.toDouble),
          "tasks" -> m(_.tasks.toDouble), "task_cpu_s" -> m(_.taskCpuS),
          "task_gc_s" -> m(_.taskGcS), "shuffle_mb" -> m(_.shuffleMb),
          "spill_mb" -> m(_.spillMb), "rows_out" -> m(_.rowsOut.toDouble),
          "driver_self_s" -> m(_.driverSelfS)).map { case (k, v) => s"$l.$k" -> v }
      }
      val passes = math.max(1, results.size)
      val untracedS = median(warmS)
      perLayer.toMap ++ Map(
        "etl.retries" -> counters.getOrElse("retries", 0.0) / passes,
        "etl.failure_events" -> counters.getOrElse("failure_events", 0.0) / passes,
        "etl.invalid_failure_events" -> counters.getOrElse("invalid_failure_events", 0.0),
        "etl.wrong_verdict_ratio" -> wrongRatio(counters),
        "jvm.heap_live_mb" -> heapMb,
        "jvm.gc_s" -> gcS,
        "misattributed_jobs" -> rep.misattributedJobs.toDouble,
        "tracing_overhead_ratio" ->
          (if (untracedS > 0) median(traced.map(_.timedS)) / untracedS - 1 else 0.0))
    }
    Map(
      "attempted" -> attempted,
      "failed" -> failedOps,
      "errors" -> errors.take(20),
      "runs" -> results.size,
      "run_samples_s" -> results.map(_.timedS),
      "warm_runs" -> warmS.size,
      "verdict_samples" -> verdicts.size,
      "verdict_tail_s" -> tail(verdicts),
      "run_tail_s" -> tail(warmS),
      "wrong_verdict_ratio" -> wrongRatio(counters),
      "error_ratio" -> (if (attempted > 0) failedOps.toDouble / attempted else 0.0),
      "counters" -> counters,
      "e2e" -> e2e,
      "layers" -> layers.getOrElse(Map.empty))
  }

  private def wrongRatio(counters: Map[String, Double]): Double = {
    val runs = counters.getOrElse("scenario_runs", 0.0)
    if (runs > 0) counters.getOrElse("wrong_verdicts", 0.0) / runs else 0.0
  }
}

/** Minimal JSON writer for the result line. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def str(s: String): String = mapper.writeValueAsString(s)

  def render(v: Any): String = v match {
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => str(k.toString) + ": " + render(x) }
        .mkString("{", ", ", "}")
    case s: Seq[_] => s.map(render).mkString("[", ", ", "]")
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => str(other.toString)
  }
}
