package graft.analyzers

import graft.core.{MetricValue, SharedScan}
import org.apache.spark.sql.DataFrame

import scala.util.control.NonFatal

/** Metric results keyed by analyzer key (reference: analyzers/runner.rs:47-205). */
final case class AnalyzerContext(
    metrics: Map[String, MetricValue],
    states: Map[String, Any],
    errors: Map[String, String]) {
  def metric(key: String): Option[MetricValue] = metrics.get(key)
}

/** Runs a set of analyzers over one DataFrame, batching their state aggregates through
  * one [[graft.core.SharedScan]] — the shared-scan grouping the reference left as a TODO
  * (analyzers/runner.rs:159). Its groups run inline.
  */
final class AnalysisRunner(analyzers: Seq[Analyzer[_]], continueOnError: Boolean = true) {

  def run(df: DataFrame): AnalyzerContext = {
    val values = SharedScan.run(df, analyzers.map(_.stateAggregates))
    // continueOnError=false must PROPAGATE an analyzer's own failure — converting it to
    // an errors-map entry made callers (e.g. the incremental runner's ctx.states(key))
    // die later with a key-not-found that masks the root cause. NonFatal only, like
    // the shared scan's own fallback.
    val results = analyzers.zip(values).map { case (a, r) =>
      try {
        val s: Any = r.fold(e => throw e, a.stateFromValues)
        Right((a.key, a.metricFromAnyState(s), s))
      } catch {
        case NonFatal(e) =>
          if (!continueOnError) throw e
          Left(a.key -> e.getMessage)
      }
    }
    AnalyzerContext(
      metrics = results.collect { case Right((k, m, _)) => k -> m }.toMap,
      states = results.collect { case Right((k, _, s)) => k -> s }.toMap,
      errors = results.collect { case Left((k, m)) => k -> m }.toMap)
  }
}
