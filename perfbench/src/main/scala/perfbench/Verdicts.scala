package perfbench

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.parser.ParseException

import graft.etl.{DataQualityError, Scenario}

/** Where a pipeline run stopped and why. A passing run is `Verdict.Pass`. */
final case class Verdict(stage: String, error: String) {
  override def toString: String = if (this == Verdict.Pass) "pass" else s"$stage/$error"
}

/** The expected-verdict table of the fault matrix (FIXTURES.md §4,
  * GroceryPipelineSpec and RetailPipelineSpec).
  *
  * Grocery verdicts name the stage that wrote the failure event and the
  * class of the exception `GroceryPipeline.run` raised. Retail runs are
  * one call, so their stage is the dbt failure class the error belongs
  * to: parse, analysis, run (cast or arithmetic under ANSI) or test.
  */
object Verdicts {
  val Pass: Verdict = Verdict.Pass

  val groceryScenarios: Seq[String] =
    Seq("ok", "temporal_error", "malformed_json", "schema_drift", "partial_write")

  /** Every scenario `RetailPipeline.run` interprets, plus `ok`. */
  val retailScenarios: Seq[String] = Seq("ok", "bad_data", "schema_drift",
    "upstream_missing", "race_partial", "model_bug", "source_bug",
    "syntax_bug", "logic_bug", "dependency_issue")

  def expectedGrocery(runId: String, scenario: String): Verdict = scenario match {
    // partial_write tears the raw file only while ingest runs; the chained
    // run validates after ingest returns, so it sees the whole document
    case "ok" | "partial_write" => Pass
    case "temporal_error" =>
      // the seeded HTTP 500 draw decides the run, and retries replay it
      if (Scenario.draw(runId, scenario, "http500") < 0.7)
        Verdict("ingest", "RuntimeException")
      else Pass
    case "malformed_json" => Verdict("validate", "DataContractError")
    case "schema_drift" => Verdict("enrich", "DataContractError")
  }

  def expectedRetail(scenario: String): Verdict = scenario match {
    case "ok" => Pass
    case "syntax_bug" => Verdict("parse", "ParseException")
    case "schema_drift" | "model_bug" | "source_bug" | "dependency_issue" =>
      Verdict("analysis", "AnalysisException")
    case "bad_data" => Verdict("run", "NumberFormatException")
    case "logic_bug" => Verdict("run", "ArithmeticException")
    case "upstream_missing" | "race_partial" => Verdict("test", "DataQualityError")
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).toSeq

  /** The error class a retail failure belongs to, searched along the cause
    * chain (Spark may wrap a task's exception).
    */
  def retailVerdict(e: Throwable): Verdict = {
    val chain = causes(e)
    def has(p: Throwable => Boolean) = chain.exists(p)
    if (has(_.isInstanceOf[ParseException])) Verdict("parse", "ParseException")
    else if (has(_.isInstanceOf[DataQualityError])) Verdict("test", "DataQualityError")
    else if (has(_.isInstanceOf[NumberFormatException])) Verdict("run", "NumberFormatException")
    else if (has(_.isInstanceOf[ArithmeticException])) Verdict("run", "ArithmeticException")
    else if (has(_.isInstanceOf[AnalysisException])) Verdict("analysis", "AnalysisException")
    else Verdict("unknown", e.getClass.getSimpleName)
  }

  /** A grocery failure: `stage` comes from the run's failure event. */
  def groceryVerdict(stage: String, e: Throwable): Verdict =
    Verdict(stage, e.getClass.getSimpleName)
}

object Verdict {
  val Pass: Verdict = Verdict("pass", "")
}
