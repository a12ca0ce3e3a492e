package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression

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
  * checks are deduplicated by expression and executed as at most two concurrent
  * `df.agg(...)` scans — one scan regardless of constraint count for a suite without
  * an exact DISTINCT aggregate. Constraints with one (`isPrimaryKey`, `isUnique`,
  * `hasDistinctness`) get the second scan: fused into one job, Spark groups the whole
  * scan by the distinct key and carries every other aggregate's buffer per key —
  * `count`, `avg`, `countDistinct` and `percentile_approx` over 60k rows took
  * 34.6–35.5 s fused against 0.23–0.35 s as two concurrent scans (`local[4]` on 4
  * cores). Multi-job constraints (groupBy/join/window) run their own jobs on the same
  * bounded pool.
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
    val constraints = checks.flatMap(_.constraints)
    val results = ValidationSuite.evaluateBatched(df, constraints, listener)
    // Positional slicing, not an equality-keyed map: results come back positionally,
    // and keying by constraint would silently misassign if a future constraint type
    // had non-structural equality or per-occurrence results.
    val it = results.iterator
    val checkResults = checks.map(c => CheckResult(c, c.constraints.map(_ => it.next())))
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
      durationMillis = (System.nanoTime() - t0) / 1000000)
    listener.onSuiteComplete(name, metrics)
    ValidationReport(name, checkResults, metrics, issues)
  }
}

object ValidationSuite {

  def builder(name: String): SuiteBuilder = new SuiteBuilder(name)

  final class SuiteBuilder(name: String) {
    private var checks = Vector.empty[Check]
    def check(c: Check): SuiteBuilder = { checks :+= c; this }
    def build(): ValidationSuite = ValidationSuite(name, checks)
  }

  /** Evaluate constraints against `df`, batching all aggregate-batchable ones into a
    * minimal number of `df.agg` jobs: a plain scan and a DISTINCT scan (see
    * [[ValidationSuite]]), each chunked at [[MaxAggsPerJob]] expressions. Duplicate
    * aggregate expressions across constraints (e.g. every constraint's `count(*)`) are
    * computed once (reference intent: optimizer/combiner.rs:176-186). The scans and the
    * multi-job constraints share one bounded pool of [[MaxConcurrentJobs]] threads.
    * Results are returned positionally matching `constraints`.
    */
  def evaluateBatched(df: DataFrame, constraints: Seq[Constraint],
      listener: ValidationListener = ValidationListener.NoOp): Seq[ConstraintResult] = {
    val (batchable, custom) = constraints.partition(_.aggregates.nonEmpty)

    // Spark plans a DISTINCT aggregate by grouping the whole scan by its children and
    // carrying every other aggregate's buffer per key (one percentile_approx sketch
    // per order key), so constraints with a DISTINCT aggregate share their own scan
    // and the rest the plain one. Several distinct keys stay in one scan (Spark
    // expands the rows once per key set), which caps the suite at two scans.
    val scanGroups = {
      val (distinct, plain) = batchable.partition(hasDistinct)
      Seq(plain, distinct).filter(_.nonEmpty)
    }

    // One shared scan for a set of batchable constraints (throws on failure).
    // Dedupes aggregate columns by their CANONICALIZED catalyst expression —
    // Column.toString is not injective (two different unnamed UDFs over the same
    // column render identically), and a false merge would silently hand one
    // constraint another constraint's aggregate value. Canonicalized expression
    // trees compare structurally (distinct function objects stay distinct); a
    // missed dedup only costs a redundant aggregate in the same scan.
    def runShared(cs: Seq[Constraint]): Map[Constraint, ConstraintResult] = {
      val tShared0 = System.nanoTime()
      // Chunk very wide suites to keep codegen happy — but chunk by CONSTRAINT, never
      // by slot: one constraint's aggregates must all evaluate in the SAME df.agg job
      // (same data snapshot), or rows arriving between two sequential scans could hand
      // it e.g. a count(*) and a count(col) from different table states (nonNull >
      // total → completeness > 1.0). Aggregates dedup within a chunk; a cross-chunk
      // duplicate (e.g. count(*) in two chunks of a >MaxAggsPerJob suite) just costs a
      // redundant aggregate in an already-running scan.
      final case class Chunk(
        slots: scala.collection.mutable.LinkedHashMap[
          org.apache.spark.sql.catalyst.expressions.Expression, (Int, org.apache.spark.sql.Column)],
        members: scala.collection.mutable.ArrayBuffer[(Constraint, Seq[Int])])
      def newChunk() = Chunk(scala.collection.mutable.LinkedHashMap.empty,
        scala.collection.mutable.ArrayBuffer.empty)
      val chunks = scala.collection.mutable.ArrayBuffer(newChunk())
      cs.foreach { c =>
        val keys = c.aggregates.map(col =>
          org.apache.spark.sql.GraftSqlBridge.expressionEager(col).canonicalized -> col)
        val cur = chunks.last
        val newSlots = keys.count { case (k, _) => !cur.slots.contains(k) }
        // A single constraint wider than MaxAggsPerJob still runs in one (oversized)
        // scan — atomicity outranks the codegen-size heuristic.
        val target =
          if (cur.slots.size + newSlots <= MaxAggsPerJob || cur.members.isEmpty) cur
          else { val n = newChunk(); chunks += n; n }
        val idxs = keys.map { case (k, col) =>
          target.slots.getOrElseUpdate(k, (target.slots.size, col))._1
        }
        target.members += ((c, idxs))
      }
      val resultPairs = chunks.toSeq.filter(_.members.nonEmpty).flatMap { chunk =>
        val cols = chunk.slots.values.toSeq.sortBy(_._1)
          .map { case (i, c) => c.as(s"g$i") }
        val row = df.agg(cols.head, cols.drop(1): _*).head()
        chunk.members.toSeq.map { case (c, idxs) =>
          c -> safeResult(c, () => c.fromAggregates(idxs.map(row.get)))
        }
      }
      // Every rider of the shared scan is stamped with the scan's total duration —
      // the individually-attributable share of a single fused job is not observable.
      val sharedMillis = (System.nanoTime() - tShared0) / 1000000
      resultPairs.map { case (c, r) => c -> r.copy(durationMillis = sharedMillis) }.toMap
    }

    // A single bad constraint (e.g. missing column) fails its group's job at analysis
    // time. One mistake must not cost N full scans either: probe each constraint's
    // aggregates ANALYSIS-ONLY (df.agg construction analyzes eagerly and runs no job),
    // report the failing ones, and run the healthy rest of the group as one shared
    // scan. Per-constraint evaluation remains only as the last resort for a RUNTIME
    // failure of the healthy batch. Other groups are unaffected.
    def runGroup(cs: Seq[Constraint]): Map[Constraint, ConstraintResult] =
      try runShared(cs) catch {
        case scala.util.control.NonFatal(_) =>
          val (ok, bad) = cs.partition(c =>
            scala.util.Try(df.agg(c.aggregates.head, c.aggregates.drop(1): _*)).isSuccess)
          val badResults = bad.map(c => c -> timedResult(c, () => c.evaluate(df))).toMap
          val okResults =
            if (ok.isEmpty) Map.empty[Constraint, ConstraintResult]
            else try runShared(ok) catch {
              case scala.util.control.NonFatal(_) =>
                ok.map(c => c -> timedResult(c, () => c.evaluate(df))).toMap
            }
          okResults ++ badResults
      }

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
    val distinctCustom = custom.distinct
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(scanGroups.size + distinctCustom.size, MaxConcurrentJobs)))
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val scans = scanGroups.map(g => Future(runGroup(g)))
      val multi = distinctCustom.map(c => Future(c -> timedResult(c, () => c.evaluate(df))))
      // Completions fire on the calling thread once their futures join — listeners
      // never race: the batched group first (right after the last scan), then the
      // multi-job group, each in declaration order and once per OCCURRENCE (duplicate
      // constraints in several checks each get their shared result).
      try {
        val batchResults = Await.result(Future.sequence(scans), Duration.Inf)
          .foldLeft(Map.empty[Constraint, ConstraintResult])(_ ++ _)
        batchable.foreach(c => listener.onConstraintComplete(batchResults(c)))
        val customResults = Await.result(Future.sequence(multi), Duration.Inf).toMap
        custom.foreach(c => listener.onConstraintComplete(customResults(c)))
        constraints.map(c => batchResults.getOrElse(c, customResults(c)))
      } catch {
        case t: Throwable =>
          // A throwing listener or an interrupted wait aborts the run, but only after
          // every submitted job has finished: no work outlives the call.
          (scans ++ multi).foreach(f => scala.util.Try(Await.ready(f, Duration.Inf)))
          throw t
      }
    } finally pool.shutdown()
  }

  /** Whether any aggregate of `c` is an exact DISTINCT. A column that fails to convert
    * (unparsable SQL text) counts as plain; that group's fallback reports the failure.
    */
  private def hasDistinct(c: Constraint): Boolean =
    c.aggregates.exists(col => scala.util.Try(
      org.apache.spark.sql.GraftSqlBridge.expressionEager(col).exists {
        case f: UnresolvedFunction => f.isDistinct
        case a: AggregateExpression => a.isDistinct
        case _ => false
      }).getOrElse(false))

  private def safeResult(c: Constraint, f: () => ConstraintResult): ConstraintResult =
    try f()
    catch {
      case e: Exception =>
        ConstraintResult(c.name, ConstraintStatus.Failure, None,
          s"evaluation error: ${e.getMessage}")
    }

  /** safeResult + own-wall-time stamp, for constraints that run their own job(s). */
  private def timedResult(c: Constraint, f: () => ConstraintResult): ConstraintResult = {
    val t0 = System.nanoTime()
    safeResult(c, f).copy(durationMillis = (System.nanoTime() - t0) / 1000000)
  }

  /** Aggregates per physical job; chunking guards codegen limits on very wide suites. */
  val MaxAggsPerJob = 200

  /** Concurrent submission bound for scan groups and multi-job constraints. */
  val MaxConcurrentJobs = 4
}
