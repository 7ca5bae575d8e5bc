package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.sql.DriverManager

import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, sum}

import graft.etl.{CheckResult, Enricher, GroceryPipeline, JdbcSink, RetailPipeline, RunPaths}

/** What the workloads share: the session, a scratch directory inside the
  * checkout, the seed and the core count, and the tracer when tracing.
  */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val cores: Int, val tracer: Option[Tracer]) {
  /** Set by the run loop in [[Main]]: whether the current run is traced. */
  var tracing = false

  def span[T](layer: String)(f: => T)(rows: T => Long): T = tracer match {
    case Some(t) if tracing => t.span(layer)(f)(rows)
    case _ => f
  }
}

/** One closed-loop run's outcome. `timedS` covers the calls into the
  * program only; the benchmark's own output checks run outside it.
  */
final case class RunResult(timedS: Double, rows: Long, attempted: Int,
    errors: Seq[String], verdictS: Seq[Double], counters: Map[String, Double] = Map.empty)

trait Workload {
  /** Runs a process makes at least, the cold one included. The JIT keeps
    * speeding warm runs up for many runs, so a fixed count, not the clock,
    * decides where on that curve the median falls.
    */
  def minRuns: Int
  /** Prepare inputs; counted in set-up time. */
  def setup(): Unit
  /** Run number `i` (0 is the cold run). */
  def run(i: Int): RunResult
  /** Output checks over the state all runs left behind. */
  def finish(): Seq[String]
}

object Workload {
  /** Transactions per run. */
  val GroceryN = 10000
  val WarehouseN = 10000
  val FaultsN = 1000
  /** Run ids a closed-loop workload rotates over. */
  val RunIdSet = 2

  def apply(name: String, c: Ctx): Workload = name match {
    case "grocery_ok" => new GroceryOk(c, GroceryN)
    case "warehouse_jdbc" => new WarehouseJdbc(c, WarehouseN)
    case "pipeline_faults" => new PipelineFaults(c, FaultsN)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  private val json = new ObjectMapper()

  /** Strict JSON parse (unescaped control characters are an error). */
  def readJson(p: Path): Either[String, JsonNode] =
    Try(json.readTree(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
      .toEither.left.map(e => s"$p: ${e.getMessage.takeWhile(_ != '\n')}")

  def check(ok: Boolean, msg: => String): Option[String] = if (ok) None else Some(msg)

  /** `count=N` from a row-count canary's detail. */
  def canaryCount(r: CheckResult): Long =
    "count=(\\d+)".r.findFirstMatchIn(r.detail).map(_.group(1).toLong).getOrElse(-1L)

  /** reconcile.json must parse, name the run and say pass with `n` rows. */
  def reconcileErrors(paths: RunPaths, n: Long): Seq[String] =
    readJson(Paths.get(paths.reconcileFile)) match {
      case Left(err) => Seq(s"reconcile.json invalid: $err")
      case Right(v) => Seq(
        check(v.path("pass").asBoolean(false), s"reconcile.json of ${paths.runId} not pass: $v"),
        check(v.path("run_id").asText() == paths.runId, s"reconcile.json names ${v.path("run_id")}"),
        check(v.path("detail").asText().contains(s"count=$n "), s"reconcile.json count: $v")).flatten
    }

  /** The entries of a directory, or none when it does not exist. */
  def list(dir: Path, walk: Boolean = false): Seq[Path] =
    if (!Files.exists(dir)) Seq.empty
    else Using.resource(if (walk) Files.walk(dir) else Files.list(dir))(
      _.iterator().asScala.toSeq)

  def deleteTree(p: Path): Unit = list(p, walk = true).reverse.foreach(Files.delete)

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

import Workload._

/** grocery_ok: the throughput chain, each stage called on its own, over
  * a fixed set of run ids so the parquet warehouse holds set × n rows.
  */
final class GroceryOk(c: Ctx, n: Int) extends Workload {
  private val base = c.work.resolve("grocery")
  private val warehouse = base.resolve("warehouse/fct_sales").toString
  private val runIds = Seq.tabulate(RunIdSet)(k => s"g${c.seed}-$k")
  private val loaded = scala.collection.mutable.Set.empty[String]

  def minRuns: Int = 7

  def setup(): Unit = Files.createDirectories(base)

  def run(i: Int): RunResult = {
    val paths = RunPaths(base.toString, runIds(i % runIds.size))
    deleteTree(Paths.get(paths.root))
    val t0 = System.nanoTime()
    c.span("etl.ingest")(GroceryPipeline.ingest(c.spark, paths, "ok", n))(_ => n.toLong)
    val staged = c.span("etl.validate")(GroceryPipeline.validate(c.spark, paths))(identity)
    val enriched = c.span("etl.enrich")(GroceryPipeline.enrich(c.spark, paths))(identity)
    c.span("etl.load")(GroceryPipeline.load(c.spark, paths, warehouse))(_ => enriched)
    val verdict = c.span("etl.reconcile")(
      GroceryPipeline.reconcile(c.spark, paths, warehouse))(canaryCount)
    val s = seconds(t0)
    loaded += paths.runId
    val errors = Seq(
      check(staged == n, s"validate staged $staged of $n rows"),
      check(enriched == n, s"enrich wrote $enriched of $n rows"),
      check(canaryCount(verdict) == n, s"reconcile counted ${verdict.detail}")).flatten ++
      reconcileErrors(paths, n)
    RunResult(s, canaryCount(verdict), 1, errors, Seq(s))
  }

  def finish(): Seq[String] = {
    val fct = c.spark.read.parquet(warehouse)
    val rows = fct.count()
    val keys = fct.select("run_id", "txn_id").distinct().count()
    Seq(
      check(rows == keys, s"warehouse holds $rows rows for $keys keys"),
      check(rows == loaded.size.toLong * n,
        s"warehouse holds $rows rows, expected ${loaded.size} run ids × $n")).flatten
  }
}

/** warehouse_jdbc: POS DSv2 source → enrich → keyed upsert into embedded
  * Derby, once through each writer, each followed by warehouse reads (a
  * pushed-filter reconcile count, then the daily sales mart). Each writer
  * keeps one run id, so from the second run on every upsert replaces an
  * existing run's keys; the cold run inserts into the empty table, as a
  * fresh process always finds it. Derby runs in memory: neither writer
  * waits on a disk flush.
  */
final class WarehouseJdbc(c: Ctx, n: Int) extends Workload {
  private val url = "jdbc:derby:memory:perfbench;create=true"
  private val table = "FCT_SALES"
  private val keys = Seq("run_id", "txn_id")
  private val runIds = Seq.tabulate(RunIdSet)(k => s"w${c.seed}-$k")
  /** Expected mart revenue per run id, from the source side. */
  private val revenue = scala.collection.mutable.Map.empty[String, Long]

  def minRuns: Int = 10

  private def jdbc[T](f: java.sql.Connection => T): T = {
    val conn = DriverManager.getConnection(url)
    try f(conn) finally conn.close()
  }

  private def derbyRows(): Long = jdbc { conn =>
    val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
    rs.next()
    rs.getLong(1)
  }

  private def source(runId: String): DataFrame =
    Enricher.enrich(c.spark, c.spark.read.format("graft-pos")
      .option("run_id", runId).option("scenario", "ok")
      .option("n", n.toLong).option("partitions", c.cores.toLong).load())
      .withColumn("run_id", lit(runId))

  private def read(): DataFrame = c.spark.read.format("graft-warehouse")
    .option("url", url).option("dbtable", table).load()

  def setup(): Unit = {
    System.setProperty("derby.stream.error.file", c.work.resolve("derby.log").toString)
    // the reference's stg_transactions key (sql/init.sql:18-31): without it
    // every upsert DELETE scans the table
    jdbc(_.createStatement().execute(
      s"""CREATE TABLE $table (EVENT_TIME TIMESTAMP, TXN_ID VARCHAR(64) NOT NULL,
         | STORE_ID VARCHAR(16), SKU VARCHAR(16), QUANTITY INT, UNIT_PRICE_CENTS INT,
         | REVENUE_CENTS BIGINT, TENDER_TYPE VARCHAR(8), CUSTOMER_ID VARCHAR(48),
         | REGION VARCHAR(16), CATEGORY VARCHAR(16), RUN_ID VARCHAR(32) NOT NULL,
         | PRIMARY KEY (RUN_ID, TXN_ID))""".stripMargin))
  }

  private def upsert(runId: String, writer: String): Unit = writer match {
    case "sink.jdbc" => JdbcSink.upsertBatched(source(runId), url, table, keys)
    case "sink.warehouse" => source(runId).write.format("graft-warehouse")
      .option("url", url).option("dbtable", table).option("keys", keys.mkString(","))
      .mode("append").save()
  }

  def run(i: Int): RunResult = {
    var timed = 0.0
    val errors = runIds.zip(Seq("sink.jdbc", "sink.warehouse")).flatMap { case (runId, writer) =>
      val t0 = System.nanoTime()
      c.span(writer)(upsert(runId, writer))(_ => n.toLong)
      val (count, mart) = c.span("sources.warehouse") {
        val mine = read().filter(col("run_id") === runId)
        (mine.count(), Enricher.dailySalesMart(mine).collect())
      }(r => r._1 + r._2.length)
      timed += seconds(t0)
      val total = derbyRows()
      val want = revenue.getOrElseUpdate(runId,
        source(runId).agg(sum("revenue_cents")).head().getLong(0))
      Seq(
        check(count == n, s"$writer: reconcile count $count of $n"),
        check(mart.map(_.getAs[Long]("txns")).sum == n, s"$writer: mart txns != $n"),
        check(mart.map(_.getAs[Long]("gross_revenue_cents")).sum == want,
          s"$writer: mart revenue != $want"),
        check(total == revenue.size.toLong * n,
          s"$writer: Derby holds $total rows, expected ${revenue.size} run ids × $n")).flatten
    }
    RunResult(timed, runIds.size.toLong * n, runIds.size, errors, Seq(timed))
  }

  def finish(): Seq[String] = Seq.empty
}

/** pipeline_faults: every grocery scenario through `GroceryPipeline.run`
  * and every retail scenario through `RetailPipeline.run`, each verdict
  * held against [[Verdicts]]. A run is one pass over the matrix; run ids
  * derive from the seed and the pass. Each pass has a fresh warehouse, so
  * a pass's loads do not grow with the passes before it.
  */
final class PipelineFaults(c: Ctx, n: Int) extends Workload {
  private def passDir(p: Int) = c.work.resolve(s"faults/pass-$p")

  def minRuns: Int = 3

  def setup(): Unit = Files.createDirectories(c.work.resolve("faults"))

  /** (scenario, run id) of pass `p`. temporal_error takes the pass's
    * first run id whose seeded HTTP 500 draw dooms it, as
    * GroceryPipelineSpec does: a run id the draw lets through runs the ok
    * chain, which the pass already holds.
    */
  private def groceryRuns(p: Int): Seq[(String, String)] =
    Verdicts.groceryScenarios.map {
      case s @ "temporal_error" =>
        s -> Iterator.from(0).map(k => s"f${c.seed}-$p-$s-$k")
          .find(r => Verdicts.expectedGrocery(r, s) != Verdicts.Pass).get
      case s => s -> s"f${c.seed}-$p-$s"
    }

  private def timed[T](f: => T): (Either[Throwable, T], Double) = {
    val t0 = System.nanoTime()
    val out = try Right(f) catch { case NonFatal(e) => Left(e) }
    (out, seconds(t0))
  }

  def run(p: Int): RunResult = {
    if (p > 0) deleteTree(passDir(p - 1))
    val base = passDir(p)
    val warehouse = base.resolve("warehouse/fct_sales").toString
    var rows = 0L
    var wrong, retries, events, invalidEvents = 0
    val errors = Seq.newBuilder[String]
    val verdictS = Seq.newBuilder[Double]

    def judge(scenario: String, got: Verdict, want: Verdict): Unit =
      if (got != want) {
        wrong += 1
        System.err.println(s"perfbench: wrong verdict $scenario: got $got, expected $want")
      }

    for ((s, runId) <- groceryRuns(p)) {
      val (out, t) = timed(c.span("etl.grocery_run")(
        GroceryPipeline.run(c.spark, base.toString, warehouse, runId, s, n))(canaryCount))
      verdictS += t
      // the failure events this run left: strict JSON, one per failed stage
      val mine = list(base.resolve("failure_events"))
        .filter(_.getFileName.toString.startsWith(s"$runId-"))
      val parsed = mine.map(readJson)
      events += mine.size
      parsed.collect { case Left(err) => err }.foreach { err =>
        invalidEvents += 1
        errors += s"failure event is not valid JSON: $err"
      }
      val stage = parsed.collectFirst { case Right(v) => v.path("task_id").asText() }
      retries += parsed.collect { case Right(v) => v.path("try_number").asInt(1) - 1 }.sum
      val got = out match {
        case Right(verdict) =>
          rows += canaryCount(verdict)
          errors ++= reconcileErrors(RunPaths(base.toString, runId), n)
          Verdict.Pass
        case Left(e) => Verdicts.groceryVerdict(stage.getOrElse("none"), e)
      }
      judge(s, got, Verdicts.expectedGrocery(runId, s))
    }

    for (s <- Verdicts.retailScenarios) {
      val (out, t) = timed(c.span("etl.retail_run")(RetailPipeline.run(c.spark, s))(_.count()))
      verdictS += t
      val got = out match {
        case Right(mart) =>
          rows += mart.count()
          mart.unpersist()
          Verdict.Pass
        case Left(e) => Verdicts.retailVerdict(e)
      }
      judge(s, got, Verdicts.expectedRetail(s))
    }

    val vs = verdictS.result()
    val runs = vs.size
    RunResult(vs.sum, rows, runs, errors.result(), vs, Map(
      "scenario_runs" -> runs, "wrong_verdicts" -> wrong, "retries" -> retries,
      "failure_events" -> events, "invalid_failure_events" -> invalidEvents))
  }

  def finish(): Seq[String] = Seq.empty
}
