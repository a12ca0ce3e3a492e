package graft.core

import org.apache.spark.sql.{Column, DataFrame}

/** A declarative data-quality constraint.
  *
  * Unlike the reference (term-guard/src/core/constraint.rs:186-225), which builds SQL
  * strings per constraint and runs each against DataFusion, graft constraints are
  * *expression factories*: a constraint contributes aggregate [[Column]]s that the suite
  * runner batches through [[SharedScan]] (what the reference's dead-code optimizer
  * intended — term-guard/src/optimizer/combiner.rs:170-230), plus a pure post-processor
  * from the collected values to a [[ConstraintResult]].
  *
  * Constraints whose shape cannot share the single global aggregation (groupBy-based,
  * join-based, window-based) extend [[MultiJobConstraint]] and run their own Spark job.
  */
trait Constraint extends Serializable {
  /** Human-readable constraint name used in reports. */
  def name: String

  /** Aggregate expressions to evaluate in the shared scan ([[SharedScan]]).
    * Empty iff the constraint needs its own job ([[MultiJobConstraint]]).
    */
  def aggregates: Seq[Column]

  /** Build the result from the collected aggregate values, positionally matching
    * [[aggregates]]. Only called when `aggregates.nonEmpty`.
    */
  def fromAggregates(values: Seq[Any]): ConstraintResult

  /** Standalone evaluation; default runs this constraint's own single-row agg job. */
  def evaluate(df: DataFrame): ConstraintResult =
    if (aggregates.isEmpty)
      ConstraintResult(name, ConstraintStatus.Skipped, None, "no aggregates declared")
    else {
      val row = df.agg(aggregates.head, aggregates.drop(1): _*).head()
      fromAggregates(row.toSeq)
    }

  protected def success(metric: MetricValue, msg: String = ""): ConstraintResult =
    ConstraintResult(name, ConstraintStatus.Success, Some(metric), msg)
  protected def failure(metric: Option[MetricValue], msg: String): ConstraintResult =
    ConstraintResult(name, ConstraintStatus.Failure, metric, msg)
  protected def skipped(msg: String): ConstraintResult =
    ConstraintResult(name, ConstraintStatus.Skipped, None, msg)

  /** Assertion outcome helper: Success/Failure from a computed double metric. */
  protected def assertOn(value: Double, assertion: Assertion): ConstraintResult =
    if (assertion(value)) success(MetricValue.DoubleMetric(value))
    else failure(Some(MetricValue.DoubleMetric(value)),
      s"value $value does not satisfy ${assertion.describe}")
}

/** A constraint that cannot participate in the shared aggregation and instead runs its
  * own Spark job(s) (groupBy / join / window shapes).
  */
trait MultiJobConstraint extends Constraint {
  final override def aggregates: Seq[Column] = Nil
  final override def fromAggregates(values: Seq[Any]): ConstraintResult =
    throw new IllegalStateException(s"$name is not aggregate-batchable")
  override def evaluate(df: DataFrame): ConstraintResult
}
