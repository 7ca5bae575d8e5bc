package perfbench

import java.nio.file.{Files, Path}
import java.util.Arrays

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.etl.{GroceryPipeline, RetailPipeline, RunPaths}

/** Checks of the benchmark itself, run with `run.py --self-test`:
  *  - a single RDD `count()` inside a span is attributed as exactly one
  *    job (a Dataset count is two under adaptive execution);
  *  - the expected-verdict table agrees with GroceryPipelineSpec and
  *    RetailPipelineSpec at the spec's n = 40 and run ids;
  *  - the same seed reproduces byte-identical raw artifacts, and another
  *    seed does not.
  */
object SelfTest {
  def run(spark: SparkSession, a: Main.Args): Boolean = {
    val results = Seq(
      "one RDD count() is one job" -> oneJob(spark),
      "verdict table agrees with the specs at n=40" -> verdictsAtSpecScale(spark, a.work),
      "same seed, same raw artifacts" -> reproducible(spark, a))
    results.foreach { case (name, errs) =>
      println(s"PERFBENCH SELFTEST ${if (errs.isEmpty) "ok  " else "FAIL"} $name")
      errs.foreach(e => println(s"PERFBENCH SELFTEST      $e"))
    }
    results.forall(_._2.isEmpty)
  }

  private def oneJob(spark: SparkSession): Seq[String] = {
    val t = new Tracer(spark.sparkContext)
    val n = t.span("selftest.count")(
      spark.sparkContext.parallelize(1 to 1000, 4).count())(identity)
    val rep = t.report()
    spark.sparkContext.removeSparkListener(t)
    val jobs = rep.spans.map(_.jobs)
    Seq(
      Workload.check(n == 1000, s"count returned $n"),
      Workload.check(jobs == Seq(1L), s"span jobs $jobs"),
      Workload.check(rep.misattributedJobs == 0, s"${rep.misattributedJobs} misattributed")).flatten
  }

  private def verdictsAtSpecScale(spark: SparkSession, work: Path): Seq[String] = {
    val base = work.resolve("selftest-verdicts")
    Workload.deleteTree(base)
    val doomed = (1 to 50).map(i => s"run-te$i")
      .find(r => Verdicts.expectedGrocery(r, "temporal_error") != Verdicts.Pass).get
    val grocery = Seq("ok" -> "run-ok", "malformed_json" -> "run-mj",
      "schema_drift" -> "run-sd", "temporal_error" -> doomed, "partial_write" -> "run-pw")
    val g = grocery.flatMap { case (s, runId) =>
      val got =
        try { GroceryPipeline.run(spark, base.toString, s"$base/wh", runId, s); Verdicts.Pass }
        catch {
          case NonFatal(e) =>
            val events = Workload.list(base.resolve("failure_events")).map(_.getFileName.toString)
            val stage = events.find(_.startsWith(s"$runId-"))
              .map(_.stripPrefix(s"$runId-").takeWhile(_ != '-')).getOrElse("none")
            Verdicts.groceryVerdict(stage, e)
        }
      val want = Verdicts.expectedGrocery(runId, s)
      Workload.check(got == want, s"grocery $s ($runId): got $got, expected $want")
    }
    val r = Verdicts.retailScenarios.flatMap { s =>
      val got =
        try { RetailPipeline.run(spark, s).unpersist(); Verdicts.Pass }
        catch { case NonFatal(e) => Verdicts.retailVerdict(e) }
      val want = Verdicts.expectedRetail(s)
      Workload.check(got == want, s"retail $s: got $got, expected $want")
    }
    g ++ r
  }

  /** Raw envelopes of every grocery scenario, as the workloads name runs. */
  private def rawArtifacts(spark: SparkSession, dir: Path, seed: Long): Seq[Array[Byte]] = {
    Workload.deleteTree(dir)
    Seq("ok", "malformed_json", "schema_drift", "partial_write").map { s =>
      val paths = RunPaths(dir.toString, s"f$seed-0-$s")
      GroceryPipeline.ingest(spark, paths, s, n = 500, partialPauseMs = 0)
      Files.readAllBytes(java.nio.file.Paths.get(paths.rawFile))
    }
  }

  private def reproducible(spark: SparkSession, a: Main.Args): Seq[String] = {
    val one = rawArtifacts(spark, a.work.resolve("selftest-raw-1"), a.seed)
    val two = rawArtifacts(spark, a.work.resolve("selftest-raw-2"), a.seed)
    val other = rawArtifacts(spark, a.work.resolve("selftest-raw-3"), a.seed + 1)
    Seq(
      Workload.check(one.zip(two).forall { case (x, y) => Arrays.equals(x, y) },
        "raw artifacts differ between two runs of one seed"),
      Workload.check(one.zip(other).forall { case (x, y) => !Arrays.equals(x, y) },
        "raw artifacts equal across seeds")).flatten
  }
}
