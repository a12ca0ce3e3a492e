package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window => LWindow}

/** Guard against the one warning that flags a real scale-killer: an un-partitioned
  * Window ("No Partition Defined" → every row to ONE task) over data-scale input.
  * Two such windows exist by DESIGN and are bounded by construction — their input is
  * a small rollup, not the data:
  *
  *  - `rolling_daily_events` (Queries.scala): window over the per-DAY aggregate
  *    (one row per distinct day).
  *  - the monotonicity/gaps boundary fold (temporal.scala:333): window over the
  *    `groupBy(spark_partition_id())` summary — one row per shuffle partition.
  *    That plan executes eagerly inside its operator and is pinned by its own
  *    plan-shape test (ConstraintSpec) — it never appears in a returned frame here.
  *
  * Because those two are benign, [[Bench]] filters that one WindowExec warning out
  * of its log — it would otherwise train readers to ignore it. THIS spec keeps that
  * silencing honest: every `queries()` plan is swept for un-partitioned Window
  * nodes, and any query not documented below fails RED. Adding a new global window
  * means auditing it and either partitioning it or documenting it here with the
  * rollup that bounds it.
  */
class GlobalWindowGuardSpec extends SparkSpec {

  /** Queries whose returned plan may contain an un-partitioned Window, with the
    * bounded rollup that justifies each.
    */
  private val documented = Map(
    "rolling_daily_events" -> "input is the per-day groupBy(to_date(ts)) rollup",
    "zipf_slope_documents" ->
      "rank window runs over the limit(topK) frame — <= K rows (CorpusStats.zipfSlope doc)")

  test("no query plans an un-partitioned Window over data-scale input") {
    val sf = "/root/testdata/sf0.001"
    def globalWindows(p: LogicalPlan): Seq[LWindow] =
      p.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    // Bench times operatorArms under the same filtered logger, so arms are swept
    // too — a global window in an arm must fail here, not hide muted.
    val surfaces = Queries.queries.toSeq.sortBy(_._1) ++
      Queries.operatorArms.toSeq.sortBy(_._1).map { case (n, fn) => (s"$n (arm)", fn) }
    val offenders = surfaces.flatMap { case (name, fn) =>
      val df = fn(spark, sf)
      val wins = globalWindows(df.queryExecution.optimizedPlan)
      if (wins.isEmpty) None
      else if (!documented.contains(name)) Some(s"$name: UNDOCUMENTED global window")
      else {
        // Structural check: the window's input subtree must contain a grouped
        // aggregate (the rollup that bounds its row count). A thoughtless
        // Window.orderBy over raw rows has no such aggregate beneath it.
        val unbounded = wins.filterNot(_.child.collectFirst {
          case a: Aggregate if a.groupingExpressions.nonEmpty => a
        }.nonEmpty)
        if (unbounded.isEmpty) None
        else Some(s"$name: documented global window lost its bounding rollup")
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // the documented list must not go stale: every entry still has its window
    documented.keys.foreach { name =>
      val wins = globalWindows(
        Queries.queries(name)(spark, sf).queryExecution.optimizedPlan)
      assert(wins.nonEmpty, s"$name documented as having a global window but has none " +
        "— remove it from the documented map")
    }
  }
}
