package graft.core

import org.apache.spark.sql.DataFrame

/** A named group of constraints evaluated at a severity [[Level]]
  * (reference: term-guard/src/core/check.rs).
  */
final case class Check(description: String, level: Level, constraints: Seq[Constraint])

final case class CheckResult(
    check: Check,
    constraintResults: Seq[ConstraintResult]) {
  def passed: Boolean = constraintResults.forall(!_.isFailure)
}

final case class ValidationIssue(
    check: String,
    level: Level,
    constraint: String,
    message: String)

final case class ValidationMetrics(
    totalConstraints: Int,
    passed: Int,
    failed: Int,
    skipped: Int,
    durationMillis: Long)

final case class ValidationReport(
    suiteName: String,
    checkResults: Seq[CheckResult],
    metrics: ValidationMetrics,
    issues: Seq[ValidationIssue]) {
  /** Failure iff any Error-level check has a failing constraint
    * (reference: core/suite.rs:102-257).
    */
  def isSuccess: Boolean =
    !checkResults.exists(cr => cr.check.level == Level.Error && !cr.passed)
  def allResults: Seq[ConstraintResult] = checkResults.flatMap(_.constraintResults)
}

object ValidationReport {
  /** The report for finished checks: one issue per failing constraint, plus counts. */
  def fromChecks(suiteName: String, checkResults: Seq[CheckResult],
      durationMillis: Long): ValidationReport = {
    val all = checkResults.flatMap(_.constraintResults)
    val issues = checkResults.flatMap { cr =>
      cr.constraintResults.filter(_.isFailure).map(r =>
        ValidationIssue(cr.check.description, cr.check.level, r.constraint, r.message))
    }
    val metrics = ValidationMetrics(
      totalConstraints = all.size,
      passed = all.count(_.isSuccess),
      failed = all.count(_.isFailure),
      skipped = all.count(_.status == ConstraintStatus.Skipped),
      durationMillis = durationMillis)
    ValidationReport(suiteName, checkResults, metrics, issues)
  }
}

/** Telemetry hook for suite execution (idiomatic stand-in for the reference's
  * structured span exporter, term-guard/src/telemetry.rs:1-821): implement the
  * callbacks and pass the listener to [[ValidationSuite.run]] /
  * [[ValidationSuite.evaluateBatched]] to stream per-constraint completions into
  * metrics/log/OTel pipelines.
  *
  * Contract: every constraint occurrence gets exactly ONE `onConstraintComplete`
  * (carrying name, status, metric, message, durationMillis) as its result group
  * becomes available — batched constraints once every scan group has joined, each
  * stamped with its own group's scan time; multi-job constraints once their own
  * job(s) have joined, stamped with their own wall time — followed by one
  * `onSuiteComplete` from [[ValidationSuite.run]]. Callbacks run on the driver thread
  * that called the suite, in deterministic order (declaration order within each group,
  * batched group first); a listener that throws aborts the run once the jobs already
  * submitted have finished, so exporters should catch their own errors.
  */
trait ValidationListener {
  def onConstraintComplete(result: ConstraintResult): Unit
  def onSuiteComplete(suiteName: String, metrics: ValidationMetrics): Unit
}

object ValidationListener {
  val NoOp: ValidationListener = new ValidationListener {
    def onConstraintComplete(result: ConstraintResult): Unit = ()
    def onSuiteComplete(suiteName: String, metrics: ValidationMetrics): Unit = ()
  }
}

/** Concrete span exporter: one JSON line per constraint completion and per suite
  * completion, appended to `out` — the tail-able/shippable structured-telemetry file
  * the reference's exporter produces (term-guard/src/telemetry.rs), minus the OTel
  * wire format. Per the [[ValidationListener]] contract, a listener that throws
  * aborts the run — so write failures are swallowed into `lastError` (telemetry must
  * never fail the validation it observes). Not thread-safe across listeners sharing
  * one file; give each suite its own, or wrap `out` in your own synchronization.
  */
final class JsonlValidationListener(out: java.io.Writer) extends ValidationListener
    with java.io.Closeable {
  @volatile var lastError: Option[Throwable] = None
  private def emit(line: String): Unit =
    try { out.write(line); out.write('\n'); out.flush() }
    catch { case scala.util.control.NonFatal(e) => lastError = Some(e) }
  private def q(s: String) = JsonStr.quote(s)

  def onConstraintComplete(r: ConstraintResult): Unit = {
    val metric = r.metric.flatMap(_.asDouble) match {
      case Some(v) if !v.isNaN && !v.isInfinite => v.toString
      case _ => "null"
    }
    emit(s"""{"event":"constraint","name":${q(r.constraint)},"status":${q(r.status.toString)},""" +
      s""""metric":$metric,"message":${q(r.message)},"duration_ms":${r.durationMillis}}""")
  }
  def onSuiteComplete(suiteName: String, m: ValidationMetrics): Unit =
    emit(s"""{"event":"suite","name":${q(suiteName)},"constraints":${m.totalConstraints},""" +
      s""""passed":${m.passed},"failed":${m.failed},"skipped":${m.skipped},"duration_ms":${m.durationMillis}}""")
  def close(): Unit = out.close()
}

object JsonlValidationListener {
  /** Appending file-backed exporter (UTF-8). */
  def toFile(path: String): JsonlValidationListener =
    new JsonlValidationListener(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(path, true), java.nio.charset.StandardCharsets.UTF_8))
}

/** Suite runner. The centerpiece optimization (live here, dead code in the reference —
  * term-guard/src/core/suite.rs:457-469): all aggregate-batchable constraints across all
  * checks run through one [[SharedScan]] — at most two concurrent `df.agg(...)` scans,
  * a plain one and one for exact DISTINCT aggregates (`isPrimaryKey`, `isUnique`,
  * `hasDistinctness`), however many constraints there are. Multi-job constraints
  * (groupBy/join/window) run their own jobs on the same bounded pool.
  *
  * Snapshot: each constraint's aggregates come from one job, so each constraint sees
  * one data snapshot; two constraints in different scans (or a multi-job constraint)
  * may see different ones if `df` changes between reads (a mutable table,
  * non-deterministic lineage). An uncached computed `df` runs its lineage once per scan.
  *
  * At 100 TB this matters: N constraints cost at most two passes over the data, with
  * all aggregates computed map-side (partial aggregation) and a single-row shuffle to
  * the driver.
  */
final case class ValidationSuite(name: String, checks: Seq[Check]) {

  def run(df: DataFrame, listener: ValidationListener = ValidationListener.NoOp): ValidationReport = {
    val t0 = System.nanoTime()
    val results = ValidationSuite.evaluateBatched(df, checks.flatMap(_.constraints), listener)
    // Positional slicing, not an equality-keyed map: results come back positionally,
    // and keying by constraint would silently misassign if a future constraint type
    // had non-structural equality or per-occurrence results.
    val it = results.iterator
    val checkResults = checks.map(c => CheckResult(c, c.constraints.map(_ => it.next())))
    val report = ValidationReport.fromChecks(name, checkResults, (System.nanoTime() - t0) / 1000000)
    listener.onSuiteComplete(name, report.metrics)
    report
  }
}

object ValidationSuite {

  def builder(name: String): SuiteBuilder = new SuiteBuilder(name)

  final class SuiteBuilder(name: String) {
    private var checks = Vector.empty[Check]
    def check(c: Check): SuiteBuilder = { checks :+= c; this }
    def build(): ValidationSuite = ValidationSuite(name, checks)
  }

  /** Evaluate constraints against `df`: the aggregate-batchable ones through one
    * [[SharedScan]] (a plain scan and a DISTINCT scan, see [[ValidationSuite]]), the
    * multi-job ones on their own. The scans and the multi-job constraints share one
    * bounded pool of [[MaxConcurrentJobs]] threads. Results are returned positionally
    * matching `constraints`.
    */
  def evaluateBatched(df: DataFrame, constraints: Seq[Constraint],
      listener: ValidationListener = ValidationListener.NoOp): Seq[ConstraintResult] = {
    val aggs = constraints.map(_.aggregates)
    val (batchable, custom) = constraints.indices.partition(i => aggs(i).nonEmpty)
    val scanGroups = SharedScan.groups(df, batchable.map(aggs))

    // Scan groups and multi-job constraints (groupBy/join/window shapes) are
    // independent Spark jobs: submit them CONCURRENTLY so their stages interleave in
    // the scheduler instead of serializing driver round-trips — on a large cluster one
    // job rarely saturates every executor slot, so overlap is nearly free latency.
    // Bounded pool: enough overlap to hide latency without flooding the scheduler.
    // Created per call, so its threads inherit the caller's Spark local properties
    // (job group, scheduler pool) and cancel-by-group still reaches every job.
    // Duplicate multi-job occurrences (equal constraints in several checks) evaluate
    // ONCE — the result map is equality-keyed anyway, so a second identical
    // groupBy/join job would only burn a full scan to compute a value that gets
    // discarded.
    val distinctCustom = custom.map(constraints).distinct
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(scanGroups.size + distinctCustom.size, MaxConcurrentJobs)))
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      // Every rider of a scan group is stamped with the group's total duration — the
      // individually-attributable share of a fused job is not observable.
      val scans = scanGroups.map(group => Future {
        val t0 = System.nanoTime()
        val values = group()
        val millis = (System.nanoTime() - t0) / 1000000
        values.map { case (j, r) =>
          val c = constraints(batchable(j))
          val result = r.fold(errorResult(c, _), vs => safeResult(c)(c.fromAggregates(vs)))
          batchable(j) -> result.copy(durationMillis = millis)
        }
      })
      val multi = distinctCustom.map(c => Future(c -> timedResult(c)(c.evaluate(df))))
      // Completions fire on the calling thread once their futures join — listeners
      // never race: the batched group first (right after the last scan), then the
      // multi-job group, each in declaration order and once per OCCURRENCE (duplicate
      // constraints in several checks each get their shared result).
      try {
        val batchResults = Await.result(Future.sequence(scans), Duration.Inf).flatten.toMap
        batchable.foreach(i => listener.onConstraintComplete(batchResults(i)))
        val customResults = Await.result(Future.sequence(multi), Duration.Inf).toMap
        custom.foreach(i => listener.onConstraintComplete(customResults(constraints(i))))
        constraints.indices.map(i => batchResults.getOrElse(i, customResults(constraints(i))))
      } catch {
        case t: Throwable =>
          // A throwing listener or an interrupted wait aborts the run, but only after
          // every submitted job has finished: no work outlives the call.
          (scans ++ multi).foreach(f => scala.util.Try(Await.ready(f, Duration.Inf)))
          throw t
      }
    } finally pool.shutdown()
  }

  private[core] def errorResult(c: Constraint, e: Throwable): ConstraintResult =
    ConstraintResult(c.name, ConstraintStatus.Failure, None, s"evaluation error: ${e.getMessage}")

  private[core] def safeResult(c: Constraint)(f: => ConstraintResult): ConstraintResult =
    try f catch { case e: Exception => errorResult(c, e) }

  /** safeResult + own-wall-time stamp, for constraints that run their own job(s). */
  private def timedResult(c: Constraint)(f: => ConstraintResult): ConstraintResult = {
    val t0 = System.nanoTime()
    safeResult(c)(f).copy(durationMillis = (System.nanoTime() - t0) / 1000000)
  }

  /** Concurrent submission bound for scan groups and multi-job constraints. */
  val MaxConcurrentJobs = 4
}
