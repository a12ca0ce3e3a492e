package graft.core

import org.apache.spark.sql.DataFrame

/** Debug-mode suite execution — the Spark-native analog of the reference's
  * DebugContext (term-guard/src/core/debug_context.rs:1-599: per-constraint SQL
  * logging, execution timeline, performance profiling, error suggestions).
  *
  * Where the reference logs the SQL string it built per constraint, Spark's
  * equivalent observable is the PHYSICAL PLAN that actually executed —
  * `df.queryExecution.executedPlan` after the action, i.e. the AQE-final plan with
  * whole-stage-codegen boundaries, pushed filters and chosen join strategies
  * visible. That is strictly more information than the SQL text: it answers "what
  * did the cluster really run", not "what did I ask for".
  *
  * Execution model trade (deliberate, mirrors the reference's DebugLevel semantics
  * where higher levels change what executes): production `ValidationSuite.run`
  * fuses the batchable constraints into at most two concurrent scans (the plain
  * one and one for exact DISTINCT aggregates), which makes per-constraint
  * attribution physically unobservable — one job, one duration per scan. Debug
  * mode runs constraints ONE AT A TIME so each gets its own plan, its own wall time, and its
  * own scheduler footprint. Use it to diagnose, not to benchmark the fused path.
  */
object DebugValidation {

  sealed trait DebugLevel
  object DebugLevel {
    /** Timings + statuses only. */
    case object Basic extends DebugLevel
    /** + executed physical plans and aggregate expression texts. */
    case object Detailed extends DebugLevel
    /** + raw aggregate values (the intermediate results the reference's Verbose captures). */
    case object Verbose extends DebugLevel
  }

  /** One timeline entry per constraint OCCURRENCE, in execution (= declaration) order. */
  final case class ConstraintDebug(
      seq: Int,
      check: String,
      constraint: String,
      result: ConstraintResult,
      startMillis: Long,
      durationMillis: Long,
      aggExpressions: Seq[String],
      plans: Seq[String],
      scanRowEstimate: Option[Long],
      aggregateValues: Seq[String],
      suggestions: Seq[String])

  final case class DebugReport(
      suiteName: String,
      level: DebugLevel,
      timeline: Seq[ConstraintDebug],
      report: ValidationReport,
      totalMillis: Long) {

    def failed: Seq[ConstraintDebug] = timeline.filter(_.result.isFailure)

    /** Human-readable timeline + per-failure detail (plans included at Detailed+). */
    def renderText: String = {
      val sb = new StringBuilder
      sb.append(s"Debug report: suite '$suiteName' — ${timeline.size} constraints, ")
        .append(s"${report.metrics.passed} passed / ${report.metrics.failed} failed / ")
        .append(s"${report.metrics.skipped} skipped, ${totalMillis} ms total\n")
      sb.append("Timeline (execution order):\n")
      timeline.foreach { e =>
        sb.append(f"  [${e.seq}%3d] +${e.startMillis}%6d ms ${e.durationMillis}%6d ms  ")
          .append(f"${e.result.status}%-8s ${e.check}: ${e.constraint}")
        e.scanRowEstimate.foreach(n => sb.append(s"  (~$n rows scanned)"))
        sb.append('\n')
      }
      val withDetail = level != DebugLevel.Basic
      failed.foreach { e =>
        sb.append(s"\nFAILED: ${e.constraint} (check '${e.check}')\n")
        sb.append(s"  message: ${e.result.message}\n")
        if (withDetail && e.aggExpressions.nonEmpty)
          sb.append(s"  aggregates: ${e.aggExpressions.mkString("; ")}\n")
        if (e.aggregateValues.nonEmpty)
          sb.append(s"  values: ${e.aggregateValues.mkString(", ")}\n")
        e.suggestions.foreach(s0 => sb.append(s"  hint: $s0\n"))
        if (withDetail) e.plans.foreach { p =>
          sb.append("  executed plan:\n")
          p.linesIterator.foreach(l => sb.append("    ").append(l).append('\n'))
        }
      }
      sb.toString
    }

    /** Machine-readable JSON (one object; timeline as an array). */
    def renderJson: String = {
      def q(s: String) = JsonStr.quote(s)
      val entries = timeline.map { e =>
        val metric = e.result.metric.flatMap(_.asDouble) match {
          case Some(v) if !v.isNaN && !v.isInfinite => v.toString
          case _ => "null"
        }
        s"""{"seq":${e.seq},"check":${q(e.check)},"constraint":${q(e.constraint)},""" +
          s""""status":${q(e.result.status.toString)},"metric":$metric,""" +
          s""""message":${q(e.result.message)},"start_ms":${e.startMillis},""" +
          s""""duration_ms":${e.durationMillis},""" +
          s""""scan_row_estimate":${e.scanRowEstimate.map(_.toString).getOrElse("null")},""" +
          s""""aggregates":[${e.aggExpressions.map(q).mkString(",")}],""" +
          s""""values":[${e.aggregateValues.map(q).mkString(",")}],""" +
          s""""plans":[${e.plans.map(q).mkString(",")}],""" +
          s""""suggestions":[${e.suggestions.map(q).mkString(",")}]}"""
      }
      s"""{"suite":${q(suiteName)},"level":${q(level.toString)},""" +
        s""""total_ms":$totalMillis,"passed":${report.metrics.passed},""" +
        s""""failed":${report.metrics.failed},"skipped":${report.metrics.skipped},""" +
        s""""timeline":[${entries.mkString(",")}]}"""
    }
  }

  /** Run `suite` over `df` one constraint at a time, capturing a [[DebugReport]].
    * The returned ValidationReport carries the same statuses/metrics the production
    * path would compute (same expressions, same post-processing) — only the job
    * fusion differs.
    */
  def run(suite: ValidationSuite, df: DataFrame,
      level: DebugLevel = DebugLevel.Detailed): DebugReport = {
    val spark = df.sparkSession
    val t0 = System.nanoTime()
    var seq = 0
    val timeline = Vector.newBuilder[ConstraintDebug]
    val checkResults = suite.checks.map { check =>
      val results = check.constraints.map { c =>
        seq += 1
        val startMs = (System.nanoTime() - t0) / 1000000
        val tC0 = System.nanoTime()
        // Stamped by the evaluation paths below BEFORE any listener-bus drain: the
        // drain waits on the SESSION-WIDE bus (another thread's backlog could block
        // it), and folding that wait into durationMillis would misattribute the
        // suite's time to innocent constraints — the exact confusion this tool
        // exists to remove.
        var durMs = 0L
        var plans = Vector.empty[String]
        var scanEst: Option[Long] = None
        var values = Vector.empty[String]
        val result: ConstraintResult =
          if (c.aggregates.nonEmpty) {
            try {
              val agg = df.agg(c.aggregates.head, c.aggregates.drop(1): _*)
              val row = agg.head()
              durMs = (System.nanoTime() - tC0) / 1000000
              // Captured AFTER the action: with AQE this is the FINAL plan (join
              // strategies and shuffle coalescing as actually executed).
              if (level != DebugLevel.Basic)
                plans :+= agg.queryExecution.executedPlan.toString
              scanEst = leafRowEstimate(agg)
              if (level == DebugLevel.Verbose)
                values = row.toSeq.map(String.valueOf).toVector
              ValidationSuite.safeResult(c)(c.fromAggregates(row.toSeq))
            } catch {
              case e: Exception =>
                durMs = (System.nanoTime() - tC0) / 1000000
                ValidationSuite.errorResult(c, e)
            }
          } else {
            // Multi-job constraint: it builds its own frames internally, so observe
            // the plans from the outside via a QueryExecutionListener scoped to this
            // evaluation. Execution is sequential here, so every captured plan
            // belongs to this constraint; the listener bus is drained before
            // unregistering (events are delivered asynchronously).
            val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
            val qel = new org.apache.spark.sql.util.QueryExecutionListener {
              def onSuccess(funcName: String,
                  qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
                captured.add(qe.executedPlan.toString)
              def onFailure(funcName: String,
                  qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
                captured.add(s"FAILED: ${e.getMessage}\n" + qe.executedPlan.toString)
            }
            if (level != DebugLevel.Basic) spark.listenerManager.register(qel)
            try {
              val r = ValidationSuite.safeResult(c)(c.evaluate(df))
              durMs = (System.nanoTime() - tC0) / 1000000
              r
            } finally if (level != DebugLevel.Basic) {
              org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark, 10000L)
              spark.listenerManager.unregister(qel)
              plans ++= scala.jdk.CollectionConverters.IteratorHasAsScala(
                captured.iterator()).asScala
            }
          }
        timeline += ConstraintDebug(
          seq, check.description, c.name, result, startMs, durMs,
          aggExpressions =
            if (level == DebugLevel.Basic) Nil else c.aggregates.map(_.toString),
          plans = plans,
          scanRowEstimate = scanEst,
          aggregateValues = values,
          suggestions = if (result.isFailure) suggestionsFor(c.name, result) else Nil)
        result.copy(durationMillis = durMs)
      }
      CheckResult(check, results)
    }
    val totalMs = (System.nanoTime() - t0) / 1000000
    val report = ValidationReport.fromChecks(suite.name, checkResults, totalMs)
    DebugReport(suite.name, level, timeline.result(), report, totalMs)
  }

  /** Estimated rows entering the job: sum of the optimized plan's LEAF row-count
    * stats (the scan estimate), when every leaf has one. The plan OUTPUT estimate
    * would be useless here — a global aggregate always estimates 1 row out.
    */
  private def leafRowEstimate(df: DataFrame): Option[Long] = {
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    val counts = leaves.map(_.stats.rowCount)
    if (counts.nonEmpty && counts.forall(_.isDefined))
      Some(counts.flatten.map(_.toLong).sum)
    else None
  }

  /** Failure hints keyed on constraint-name shape — the reference's
    * generate_suggestions_for (debug_context.rs:317-365), adapted to this engine's
    * constraint names.
    */
  private[core] def suggestionsFor(name: String, result: ConstraintResult): Seq[String] = {
    val n = name.toLowerCase(java.util.Locale.ROOT)
    val specific =
      if (n.contains("foreignkey") || n.contains("foreign_key"))
        Seq("Check that both frames read the intended tables",
          "Verify the key columns exist and share one data type (a silent cast can empty the join)",
          "Consider ignoreNulls if optional relationships are expected")
      else if (n.contains("crosstablesum") || n.contains("cross_table"))
        Seq("Verify the numeric columns share precision/scale",
          "Floating-point totals rarely match exactly — compare with a tolerance assertion",
          "Check the grouping columns exist in both frames")
      else if (n.contains("joincoverage") || n.contains("coverage"))
        Seq("The expected coverage rate may be too strict for this data",
          "Inspect join-key quality (nulls, stray whitespace, case)",
          "If duplicates are expected, compare distinct-key coverage instead")
      else if (n.contains("pattern") || n.contains("format"))
        Seq("Test the regex against sample values — Java regex, anchored by the constraint",
          "Detect-mode inverts the threshold: assert on the NON-matching share")
      else if (n.contains("monotonic") || n.contains("gap") || n.contains("hours") ||
        n.contains("date") || n.contains("time"))
        Seq("Verify timestamp types and session time zone are what you expect",
          "Allow small tolerances for clock skew between producers")
      else Nil
    val generic =
      (if (result.message.nonEmpty) Seq("Review the failure message for the measured value") else Nil) :+
        "Re-run under DebugLevel.Verbose to capture the raw aggregate values"
    specific ++ generic
  }
}
