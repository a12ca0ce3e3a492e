package graft

import graft.core._
import graft.constraints._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Suite runner semantics + the single-scan batching guarantee. */
class SuiteSpec extends SparkSpec {

  private lazy val df = {
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, s"u$i", i * 1.5, if (i % 10 == 0) null else "ok"))
      .toDF("id", "name", "amount", "status")
  }

  test("distinct predicates with identical string forms stay distinct in the batch") {
    import org.apache.spark.sql.functions.{col, udf}
    // Two different UDFs render identically in Column.toString — a string-keyed dedup
    // would hand the second constraint the FIRST predicate's count.
    val over20 = udf((d: Double) => d > 20.0)
    val over5 = udf((d: Double) => d > 5.0)
    val c1 = ComplianceConstraint("amount over 20", over20(col("amount")),
      Assertion.Between(0.0, 1.0))
    val c2 = ComplianceConstraint("amount over 5", over5(col("amount")),
      Assertion.Between(0.0, 1.0))
    val rs = ValidationSuite.evaluateBatched(df, Seq(c1, c2))
    val m1 = rs(0).metric.flatMap(_.asDouble).get
    val m2 = rs(1).metric.flatMap(_.asDouble).get
    assert(m1 != m2, s"the two UDF predicates must not collapse to one slot ($m1 vs $m2)")
  }

  test("check builder accumulates constraints (plain-class semantics)") {
    val b = CheckBuilder("c").hasSize(Assertion.GreaterThan(0)).isComplete("id")
    assert(b.build().constraints.size == 2)
  }

  test("batched evaluation equals standalone evaluation") {
    val constraints: Seq[Constraint] = Seq(
      SizeConstraint(Assertion.Equals(100)),
      CompletenessConstraint("status", Assertion.Equals(0.9)),
      UniquenessConstraint(Seq("id")),
      StatisticConstraint("amount", Stat.Mean, Assertion.Equals(75.75)),
      StatisticConstraint("amount", Stat.Max, Assertion.Equals(150.0)),
      PrimaryKeyConstraint(Seq("id")),
      ComplianceConstraint.containedIn("status", Seq("ok")))
    val batched = ValidationSuite.evaluateBatched(df, constraints)
    val standalone = constraints.map(_.evaluate(df))
    batched.zip(standalone).foreach { case (b, s) =>
      assert(b.status == s.status && b.metric == s.metric, s"${b.constraint}: $b vs $s")
    }
  }

  test("all batchable constraints run as ONE Spark job") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val constraints: Seq[Constraint] = Seq(
      SizeConstraint(Assertion.GreaterThan(0)),
      CompletenessConstraint("status", Assertion.GreaterThan(0.5)),
      StatisticConstraint("amount", Stat.Min, Assertion.GreaterThan(0)),
      StatisticConstraint("amount", Stat.Sum, Assertion.GreaterThan(0)),
      CompletenessConstraint("name", Assertion.GreaterThan(0.5)),
      ComplianceConstraint.containedIn("status", Seq("ok"), Assertion.GreaterThan(0.1)))
    df.cache().count() // isolate the measurement from IO
    spark.sparkContext.addSparkListener(listener)
    try {
      ValidationSuite.evaluateBatched(df, constraints)
      Thread.sleep(500) // let the listener bus drain
      // AQE may materialize the agg in 2 jobs (partial + final), but 6 constraints must
      // NOT cost 6 scans — that's the reference's unoptimized 20-scans-for-20-constraints
      // behavior (README.md:274-277) this architecture eliminates.
      assert(jobs.get() <= 2, s"expected <=2 jobs for 6 batchable constraints, got ${jobs.get()}")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      df.unpersist()
    }
  }

  test("duplicate aggregates are computed once") {
    val constraints: Seq[Constraint] = Seq(
      SizeConstraint(Assertion.GreaterThan(0)),
      SizeConstraint(Assertion.LessThan(1000)),
      CompletenessConstraint("status", Assertion.GreaterThan(0.5)), // shares count(*)
      CompletenessConstraint("name", Assertion.GreaterThan(0.5)))   // shares count(*)
    val results = ValidationSuite.evaluateBatched(df, constraints)
    assert(results.forall(_.status == ConstraintStatus.Success))
  }

  test("concurrent multi-job constraints equal sequential evaluation") {
    // Several non-batchable (own-Spark-job) constraints run through the bounded
    // concurrent submission path; results must match standalone evaluation exactly.
    val custom: Seq[Constraint] = Seq(
      HistogramConstraint("status", h => h.buckets.contains("ok")),
      GroupedCompletenessConstraint("status", Seq("name"), threshold = 0.0),
      HistogramConstraint("name", h => h.distinctCount == 100L),
      GroupedCompletenessConstraint("amount", Seq("status"), threshold = 0.0),
      UniqueValueRatioConstraint(Seq("id"), Assertion.Equals(1.0)))
    assert(custom.forall(_.aggregates.isEmpty), "test premise: all multi-job")
    val concurrent = ValidationSuite.evaluateBatched(df, custom)
    val standalone = custom.map(_.evaluate(df))
    concurrent.zip(standalone).foreach { case (c, s) =>
      assert(c.status == s.status && c.metric == s.metric, s"${c.constraint}: $c vs $s")
    }
  }

  test("validation listener: one callback per occurrence, batched first, suite last") {
    val recorded = scala.collection.mutable.ArrayBuffer.empty[(String, Any)]
    val listener = new ValidationListener {
      def onConstraintComplete(r: ConstraintResult): Unit = recorded += (("c", r))
      def onSuiteComplete(name: String, m: ValidationMetrics): Unit = recorded += (("s", (name, m)))
    }
    // Mixed suite: two batchable (shared scan), one multi-job (own job), plus a
    // DUPLICATE batchable occurrence across checks — each occurrence must fire once.
    val report = ValidationSuite.builder("telemetry")
      .check(CheckBuilder("c1", Level.Error)
        .hasSize(Assertion.Equals(100))
        .hasCompleteness("status", Assertion.Equals(0.9)).build())
      .check(CheckBuilder("c2", Level.Warning)
        .hasSize(Assertion.Equals(100))
        .hasHistogramSatisfying("status", "has ok")(h => h.buckets.contains("ok")).build())
      .build().run(df, listener)
    val constraintEvents = recorded.collect { case ("c", r: ConstraintResult) => r }
    assert(constraintEvents.size == 4, s"one event per occurrence: $constraintEvents")
    // Payload carries name/status/metric/duration for every event.
    constraintEvents.foreach { r =>
      assert(r.constraint.nonEmpty && r.durationMillis >= 0, r.toString)
    }
    assert(constraintEvents.count(_.constraint.startsWith("Size")) == 2,
      "duplicate Size occurrence fires twice")
    // Batched group (Size, Completeness, Size) precedes the multi-job Histogram,
    // declaration order within each group; suite completion is last overall.
    assert(constraintEvents.last.constraint.startsWith("Histogram"), constraintEvents.map(_.constraint))
    assert(recorded.last._1 == "s")
    val (suiteName, metrics) = recorded.last._2.asInstanceOf[(String, ValidationMetrics)]
    assert(suiteName == "telemetry" && metrics == report.metrics)
    // Listener observes the same results the report carries.
    assert(constraintEvents.map(_.status).toSet.subsetOf(
      report.allResults.map(_.status).toSet))

    // With a PK + median pair both scan groups exist (the DISTINCT scan on `id` and
    // the plain scan): completions still arrive on the calling thread, batched
    // first in declaration order, then the multi-job constraint, suite last.
    val threads = scala.collection.mutable.ArrayBuffer.empty[Thread]
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    val twoScans = new ValidationListener {
      def onConstraintComplete(r: ConstraintResult): Unit = {
        threads += Thread.currentThread(); names += r.constraint
      }
      def onSuiteComplete(name: String, m: ValidationMetrics): Unit = {
        threads += Thread.currentThread(); names += "suite"
      }
    }
    val suite2 = ValidationSuite.builder("telemetry2")
      .check(CheckBuilder("c1", Level.Error)
        .hasSize(Assertion.Equals(100))
        .isPrimaryKey("id")
        .hasHistogramSatisfying("status", "has ok")(h => h.buckets.contains("ok"))
        .hasMedian("amount", Assertion.Between(70.0, 80.0))
        .hasCompleteness("status", Assertion.Equals(0.9)).build())
      .build()
    val report2 = suite2.run(df, twoScans)
    val declared = suite2.checks.flatMap(_.constraints)
    assert(threads.forall(_ eq Thread.currentThread()), threads.map(_.getName))
    assert(names.toSeq == declared.filter(_.aggregates.nonEmpty).map(_.name) ++
      declared.filter(_.aggregates.isEmpty).map(_.name) :+ "suite", names)
    assert(report2.allResults.forall(_.isSuccess), report2.allResults)
  }

  test("suite report: error-level failure fails the suite, warning does not") {
    val failingError = ValidationSuite.builder("s")
      .check(CheckBuilder("c1", Level.Error).hasSize(Assertion.GreaterThan(1000)).build())
      .build().run(df)
    assert(!failingError.isSuccess)
    assert(failingError.issues.nonEmpty)

    val failingWarning = ValidationSuite.builder("s")
      .check(CheckBuilder("c1", Level.Warning).hasSize(Assertion.GreaterThan(1000)).build())
      .check(CheckBuilder("c2", Level.Error).hasSize(Assertion.GreaterThan(0)).build())
      .build().run(df)
    assert(failingWarning.isSuccess)
    assert(failingWarning.metrics.failed == 1 && failingWarning.metrics.passed == 1)
  }

  test("suites wider than MaxAggsPerJob chunk into multiple scans, results stay correct") {
    import org.apache.spark.sql.functions._
    // 230 columns → 230 completeness constraints → 231 distinct aggregate slots,
    // crossing the MaxAggsPerJob=200 chunking boundary (codegen-width guard).
    val nCols = SharedScan.MaxAggsPerJob + 30
    val wide = spark.range(50).select(
      (0 until nCols).map(i => when(col("id") % 2 === 0 || i % 3 != 0, col("id") + i)
        .otherwise(lit(null)).as(s"c$i")): _*)
    val constraints = (0 until nCols).map(i =>
      CompletenessConstraint(s"c$i", Assertion.GreaterThan(0.0)))
    val results = ValidationSuite.evaluateBatched(wide, constraints)
    assert(results.length == nCols && results.forall(_.isSuccess))
    // spot-check the computed metric against the direct count: columns with i % 3 != 0
    // are fully complete, the rest are half-null
    results.zipWithIndex.foreach { case (r, i) =>
      val expected = if (i % 3 != 0) 1.0 else 0.5
      val metric = r.metric.flatMap(_.asDouble).get
      assert(math.abs(metric - expected) < 1e-12, s"c$i: $metric vs $expected")
    }
  }

  test("named multi-source validator resolves table.column refs to the engine") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val orders = Seq((1L, 10L, 5.0), (2L, 11L, 7.0), (3L, 99L, 2.0))
      .toDF("oid", "cust", "amt") // cust=99 is an orphan
    val customers = Seq((10L, "a"), (11L, "b"), (12L, "c")).toDF("cid", "nm")
    val v = new MultiSourceValidator(spark)
      .addSource("t_orders", orders).addSource("t_customers", customers)
    assert(v.listSources == Seq("t_orders", "t_customers"))
    // registered names are SQL-addressable, like the reference's context registration
    assert(spark.sql("SELECT count(*) FROM t_orders").head().getLong(0) == 3L)
    val fk = v.foreignKey("t_orders.cust", "t_customers.cid")
    assert(fk.isFailure && fk.metric.flatMap(_.asDouble).contains(1.0), fk.message)
    val cov = v.joinCoverage("t_orders.cust", "t_customers.cid",
      CoverageMode.LeftCoverage, Assertion.GreaterThanOrEqual(0.5))
    assert(cov.isSuccess && cov.metric.flatMap(_.asDouble).contains(2.0 / 3), cov.message)
    val cts = v.crossTableSum("t_orders.amt", "t_customers.cid", tolerance = 100.0)
    assert(cts.isSuccess, cts.message) // |14 - 33| <= 100
    // case-insensitive resolution, matching Spark's default (spark.sql.caseSensitive=false)
    val fkCi = v.foreignKey("t_orders.CUST", "t_customers.Cid")
    assert(fkCi.isFailure && fkCi.metric.flatMap(_.asDouble).contains(1.0), fkCi.message)
    // an UNRELATED column named _matched on either side must be projected away, not
    // trip the join-coverage delegate's marker-collision require
    val withMarker = orders.withColumn("_matched", col("oid"))
    v.addSource("t_marked", withMarker)
    val covMarked = v.joinCoverage("t_marked.cust", "t_customers.cid",
      CoverageMode.LeftCoverage, Assertion.GreaterThanOrEqual(0.5))
    assert(covMarked.isSuccess && covMarked.metric.flatMap(_.asDouble).contains(2.0 / 3),
      covMarked.message)
    // a group key legally named l_sum must not collide with the delegate's internal alias
    val lsum = orders.withColumnRenamed("cust", "l_sum")
    val rsum = customers.withColumnRenamed("cid", "r_sum")
    v.addSource("t_lsum", lsum).addSource("t_rsum", rsum)
    val ctsReserved = v.crossTableSum("t_lsum.amt", "t_rsum.r_sum", tolerance = 1e9,
      Seq(("t_lsum.l_sum", "t_rsum.r_sum")))
    assert(ctsReserved.status != ConstraintStatus.Failure || !ctsReserved.message.contains("ambiguous"),
      ctsReserved.message)
    // suite-by-name runs against the registered frame
    val report = v.validate("t_orders", ValidationSuite("named", Seq(
      Check("c", Level.Error, Seq(SizeConstraint(Assertion.Equals(3)))))))
    assert(report.isSuccess)
    // malformed refs and unknown names fail loud
    intercept[IllegalArgumentException](v.foreignKey("no_dot", "t_customers.cid"))
    intercept[IllegalArgumentException](v.foreignKey("nope.cust", "t_customers.cid"))
    intercept[IllegalArgumentException](v.foreignKey("t_orders.nope", "t_customers.cid"))
    intercept[IllegalArgumentException](new MultiSourceValidator(spark).addSource("a.b", orders))
    // grouped cross-table keys must address the same two tables
    intercept[IllegalArgumentException](v.crossTableSum(
      "t_orders.amt", "t_customers.cid", 1.0, Seq(("t_customers.cid", "t_orders.oid"))))
    // a dotted COLUMN name resolves via the first dot only
    val dotted = orders.withColumnRenamed("amt", "x.y")
    v.addSource("t_dotted", dotted)
    assert(v.crossTableSum("t_dotted.x.y", "t_orders.amt", tolerance = 0.1).isSuccess)
    // ...and must address the FLAT column even when a real struct with the same
    // path exists alongside (the silent-wrong-column case for dot-as-nested-access)
    val trap = dotted.withColumn("x", org.apache.spark.sql.functions.struct(
      org.apache.spark.sql.functions.lit(999.0).as("y")))
    v.addSource("t_trap", trap)
    assert(v.crossTableSum("t_trap.x.y", "t_orders.amt", tolerance = 0.1).isSuccess,
      "flat x.y (sum 14) must win over struct field x.y (sum 2997)")
    // dotted child key through foreignKey / joinCoverage (these resolve names via
    // the Column API downstream, where an unescaped dot would mean nested access)
    val dottedChild = orders.withColumnRenamed("cust", "c.key")
    v.addSource("t_dchild", dottedChild)
    val dfk = v.foreignKey("t_dchild.c.key", "t_customers.cid")
    assert(dfk.isFailure && dfk.metric.flatMap(_.asDouble).contains(1.0), dfk.message)
    val dcov = v.joinCoverage("t_dchild.c.key", "t_customers.cid",
      CoverageMode.LeftCoverage, Assertion.GreaterThanOrEqual(0.5))
    assert(dcov.isSuccess && dcov.metric.flatMap(_.asDouble).contains(2.0 / 3), dcov.message)
    // grouped cross-table sum with dotted group keys AND dotted sum columns
    val gl = Seq((1L, 5.0), (1L, 3.0), (2L, 4.0)).toDF("g.k", "a.mt")
    val gr = Seq((1L, 8.0), (2L, 4.0)).toDF("k.g", "m.t")
    v.addSource("t_gl", gl).addSource("t_gr", gr)
    assert(v.crossTableSum("t_gl.a.mt", "t_gr.m.t", 1e-9,
      Seq(("t_gl.g.k", "t_gr.k.g"))).isSuccess)
    // unknown grouped-key columns fail loud, not at Spark analysis depth
    intercept[IllegalArgumentException](v.crossTableSum("t_gl.a.mt", "t_gr.m.t", 1e-9,
      Seq(("t_gl.nope", "t_gr.k.g"))))
  }

  test("per-constraint durations are populated and rendered") {
    val rs = ValidationSuite.evaluateBatched(df, Seq(
      SizeConstraint(Assertion.GreaterThan(0)),          // rides the shared scan
      CompletenessConstraint("status", Assertion.GreaterThan(0.0)),
      GroupedCompletenessConstraint("status", Seq("name"), 0.0))) // own groupBy job
    assert(rs.forall(_.durationMillis >= 0L))
    // shared-scan riders carry the scan's duration: identical and > 0
    assert(rs(0).durationMillis == rs(1).durationMillis)
    assert(rs(0).durationMillis > 0L, s"shared scan took ${rs(0).durationMillis} ms")
    assert(rs(2).durationMillis > 0L, s"multi-job took ${rs(2).durationMillis} ms")
    val report = ValidationSuite("timed", Seq(Check("c", Level.Error, Seq(
      SizeConstraint(Assertion.GreaterThan(0)))))).run(df)
    assert(Formatters.text(report).contains(" ms]"))
    assert(Formatters.json(report).contains("\"duration_ms\":"))
    // the JSON carries the issues list and full histogram counts — a JSON consumer
    // must not see less than an in-process ValidationReport consumer
    val failing = ValidationSuite("iss", Seq(Check("must fail", Level.Error, Seq(
      SizeConstraint(Assertion.Equals(-1)))))).run(df)
    val js = Formatters.json(failing)
    assert(js.contains("\"issues\":[{\"check\":\"must fail\""), js)
    val histReport = ValidationReport("h", Seq(CheckResult(
      Check("c", Level.Error, Nil),
      Seq(ConstraintResult("c", ConstraintStatus.Success,
        Some(MetricValue.HistogramMetric(Histogram(
          Map("a" -> HistogramBucket(6, 0.6)), total = 10, distinctCount = 2, nullCount = 1))),
        "")))),
      ValidationMetrics(1, 1, 0, 0, 0), Nil)
    val hj = Formatters.json(histReport)
    assert(hj.contains("\"total\":10") && hj.contains("\"distinct\":2") && hj.contains("\"nulls\":1"), hj)
  }

  test("constraint evaluation errors are captured, not thrown") {
    val bad = CompletenessConstraint("no_such_column", Assertion.Equals(1.0))
    val results = ValidationSuite.evaluateBatched(df, Seq(bad, SizeConstraint(Assertion.Equals(100))))
    assert(results.head.status == ConstraintStatus.Failure)
    assert(results.head.message.contains("evaluation error"))
    assert(results(1).status == ConstraintStatus.Success)
  }

  test("JSONL telemetry listener: one parseable line per constraint plus the suite line") {
    val sw = new java.io.StringWriter()
    val listener = new JsonlValidationListener(sw)
    val suite = ValidationSuite("telemetry", Seq(
      CheckBuilder("c", Level.Error)
        .hasSize(Assertion.GreaterThan(0))
        .isComplete("no_such_column") // evaluation error -> Failure line, not a throw
        .build()))
    val report = suite.run(df, listener)
    val lines = sw.toString.trim.split("\n").toSeq
    assert(lines.length == 3) // 2 constraints + 1 suite event
    // Every line is standalone-parseable JSON with the contract fields.
    lines.foreach { l =>
      assert(l.startsWith("{") && l.endsWith("}"), l)
      assert(l.contains("\"event\":"), l)
    }
    assert(lines.take(2).forall(_.contains("\"event\":\"constraint\"")))
    assert(lines.take(2).forall(_.contains("\"duration_ms\":")))
    val suiteLine = lines.last
    assert(suiteLine.contains("\"event\":\"suite\"") &&
      suiteLine.contains("\"name\":\"telemetry\"") &&
      suiteLine.contains(s""""failed":${report.metrics.failed}"""), suiteLine)
    // A write failure must NOT abort the run (telemetry never fails validation).
    val broken = new JsonlValidationListener(new java.io.Writer() {
      def write(c: Array[Char], o: Int, l: Int): Unit = throw new java.io.IOException("disk full")
      def flush(): Unit = ()
      def close(): Unit = ()
    })
    val r2 = suite.run(df, broken)
    assert(r2.metrics.totalConstraints == 2)
    assert(broken.lastError.exists(_.getMessage == "disk full"))
  }

  test("debug run: one plan + duration entry per constraint, in execution order") {
    import graft.core.DebugValidation
    import graft.core.DebugValidation.DebugLevel
    // Mixed suite: batchable aggregates + a multi-job (groupBy-shaped) constraint +
    // a planted failure for the suggestion machinery.
    val suite = ValidationSuite("debugged", Seq(
      Check("basics", Level.Error, Seq(
        SizeConstraint(Assertion.Equals(100)),
        CompletenessConstraint("status", Assertion.Equals(0.9)),
        EntropyConstraint("status", Assertion.GreaterThanOrEqual(0.0)))),
      Check("strict", Level.Warning, Seq(
        PatternConstraint("name", "^u\\d+$", Assertion.Equals(1.0)),
        StatisticConstraint("amount", Stat.Mean, Assertion.Equals(-1.0)))))) // fails
    val dbg = DebugValidation.run(suite, df, DebugLevel.Verbose)

    // Same verdicts as the production fused path.
    val prod = suite.run(df)
    assert(dbg.report.allResults.map(r => (r.constraint, r.status, r.metric)) ==
      prod.allResults.map(r => (r.constraint, r.status, r.metric)))

    // Timeline: one entry per constraint occurrence, in declaration (= execution)
    // order, sequenced 1..n, each with a captured executed plan and a duration.
    assert(dbg.timeline.map(_.seq) == Seq(1, 2, 3, 4, 5))
    assert(dbg.timeline.map(_.constraint) ==
      suite.checks.flatMap(_.constraints).map(_.name))
    dbg.timeline.foreach { e =>
      assert(e.plans.nonEmpty, s"${e.constraint}: no plan captured")
      assert(e.durationMillis >= 0 && e.startMillis >= 0)
    }
    // Batched constraints carry their agg expression texts + Verbose raw values.
    val sizeEntry = dbg.timeline.head
    assert(sizeEntry.aggExpressions.nonEmpty && sizeEntry.aggregateValues.nonEmpty)
    // The multi-job constraint's plans were captured via the QueryExecutionListener.
    val entropyEntry = dbg.timeline.find(_.constraint.startsWith("Entropy")).get
    assert(entropyEntry.plans.nonEmpty, "multi-job constraint must capture plans")
    // The planted failure carries suggestions; passing constraints carry none.
    val failEntry = dbg.timeline.find(_.result.isFailure).get
    assert(failEntry.suggestions.nonEmpty)
    assert(dbg.timeline.filter(_.result.isSuccess).forall(_.suggestions.isEmpty))
    assert(dbg.failed.map(_.constraint) == Seq(failEntry.constraint))

    // Renderers: text timeline lists every constraint; JSON parses shape-wise.
    val text = dbg.renderText
    suite.checks.flatMap(_.constraints).foreach(c =>
      assert(text.contains(c.name), s"text report missing ${c.name}"))
    assert(text.contains("FAILED:") && text.contains("hint:"))
    val json = dbg.renderJson
    assert(json.startsWith("{") && json.contains("\"timeline\":[") &&
      json.contains("\"suggestions\":["))

    // Basic level: no plans/expressions captured, timings still present.
    val basic = DebugValidation.run(suite, df, DebugLevel.Basic)
    assert(basic.timeline.forall(e => e.plans.isEmpty && e.aggExpressions.isEmpty))
    assert(basic.timeline.map(_.seq) == Seq(1, 2, 3, 4, 5))
  }

  /** Runs `f` and returns the global aggregations it executed over frames with a
    * column named `marker`, as (grouping key names of each grouped aggregate node,
    * whether that node computes a percentile_approx) per executed query.
    */
  private def executedAggregations(marker: String)(f: => Unit): Seq[Seq[(Seq[String], Boolean)]] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(Seq[String], Boolean)]]()
    val helper = new AdaptiveSparkPlanHelper {}
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.find(_.output.exists(_.name == marker)).isDefined)
          captured.add(helper.collect(qe.executedPlan) { case a: BaseAggregateExec =>
            (a.groupingExpressions.map(_.name),
              a.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[ApproximatePercentile]))
          })
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // Deliver earlier queries' events first: the bus is asynchronous.
    org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark, 10000L)
    spark.listenerManager.register(qel)
    try f finally {
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark, 10000L)
      spark.listenerManager.unregister(qel)
    }
    scala.jdk.CollectionConverters.IteratorHasAsScala(captured.iterator()).asScala.toSeq
  }

  private lazy val keyed = {
    import spark.implicits._
    (1 to 200).map(i => (i.toLong, s"s${i % 40}", if (i % 9 == 0) null else s"n${i % 7}", i * 1.5))
      .toDF("dk_id", "dk_second", "dk_name", "dk_amount")
  }

  test("DISTINCT aggregates run in their own scan, quantiles never per key") {
    val check = CheckBuilder("keys", Level.Error)
      .hasSize(Assertion.Equals(200))
      .isPrimaryKey("dk_id")
      .hasMedian("dk_amount", Assertion.Between(100.0, 200.0))
      .isUnique("dk_id")
      .hasUniqueness(Seq("dk_second", "dk_name"), Assertion.GreaterThan(0.9), NullMode.IncludeAsOne)
      .hasDistinctness(Seq("dk_second"), Assertion.Equals(0.2))
      .hasQuantile("dk_amount", 0.9, Assertion.GreaterThan(200.0))
      .isComplete("dk_second")
      .hasMean("dk_amount", Assertion.Equals(150.75))
      .build()
    val constraints = check.constraints
    val standalone = constraints.map(_.evaluate(keyed))
    var batched = Seq.empty[ConstraintResult]
    val scans = executedAggregations("dk_id") {
      batched = ValidationSuite.evaluateBatched(keyed, constraints)
    }
    batched.zip(standalone).foreach { case (b, s) =>
      assert(b.status == s.status && b.metric == s.metric, s"${b.constraint}: $b vs $s")
    }
    assert(batched.forall(_.isSuccess), batched)
    // No aggregate node that groups by a key carries a percentile_approx buffer.
    val grouped = scans.flatten.filter(_._1.nonEmpty)
    assert(grouped.nonEmpty && grouped.forall(!_._2), scans)
    // Two scans: the plain one (both quantiles, no grouping at all) and one DISTINCT
    // scan carrying all three key sets — {dk_id} shared by the primary key and
    // isUnique, {dk_second}, and the multi-column struct key.
    assert(scans.size == 2, scans)
    val keySets = scans.map(_.flatMap(_._1).toSet)
    assert(keySets.count(_.isEmpty) == 1, keySets)
    assert(keySets.count(ks => ks.contains("dk_id") && ks.contains("dk_second")) == 1, keySets)
    assert(scans.filter(_.exists(_._2)).map(_.forall(_._1.isEmpty)) == Seq(true), scans)
  }

  test("an analysis failure in a DISTINCT group stays in that group") {
    import org.apache.spark.sql.functions.{col, countDistinct, max}
    // Same distinct key as the primary key, plus a column that does not exist.
    val broken = new Constraint {
      val name = "broken distinct"
      val aggregates = Seq(countDistinct(col("dk_id")), max(col("no_such_column")))
      def fromAggregates(values: Seq[Any]): ConstraintResult =
        success(MetricValue.LongMetric(0L))
    }
    val constraints: Seq[Constraint] = Seq(
      SizeConstraint(Assertion.Equals(200)),
      PrimaryKeyConstraint(Seq("dk_id")),
      broken,
      StatisticConstraint("dk_amount", Stat.Median, Assertion.Between(100.0, 200.0)),
      CompletenessConstraint("dk_name", Assertion.LessThan(1.0)))
    var results = Seq.empty[ConstraintResult]
    val scans = executedAggregations("dk_id") {
      results = ValidationSuite.evaluateBatched(keyed, constraints)
    }
    assert(results(2).status == ConstraintStatus.Failure)
    assert(results(2).message.contains("evaluation error"), results(2))
    Seq(0, 1, 3, 4).foreach(i => assert(results(i).isSuccess, results(i)))
    // The plain group ran once, as one scan; only the DISTINCT group went through
    // the fallback, which re-ran its healthy primary key as one scan.
    val keySets = scans.map(_.flatMap(_._1).toSet)
    assert(keySets.count(_.isEmpty) == 1, keySets)
    assert(keySets.count(_ == Set("dk_id")) == 1, keySets)
    assert(keySets.size == 2, keySets)

    // SQL text that does not parse cannot be keyed; it fails alone as well.
    val unparsable = ComplianceConstraint("unparsable", org.apache.spark.sql.functions.expr("dk_id >>> ("),
      Assertion.Equals(1.0))
    val rs = ValidationSuite.evaluateBatched(keyed, Seq(unparsable, PrimaryKeyConstraint(Seq("dk_id"))))
    assert(rs.head.message.contains("evaluation error"), rs.head)
    assert(rs(1).isSuccess, rs(1))
  }

  test("a listener that aborts the run leaves no submitted job running") {
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val slow = new MultiJobConstraint {
      val name = "slow multi-job"
      override def evaluate(d: org.apache.spark.sql.DataFrame): ConstraintResult = {
        Thread.sleep(500)
        val n = d.count()
        finished.set(true)
        success(MetricValue.LongMetric(n))
      }
    }
    val aborting = new ValidationListener {
      def onConstraintComplete(r: ConstraintResult): Unit = throw new IllegalStateException("abort")
      def onSuiteComplete(name: String, m: ValidationMetrics): Unit = ()
    }
    // The batched size constraint completes first; its callback throws while the
    // multi-job constraint is still sleeping.
    val e = intercept[IllegalStateException] {
      ValidationSuite.evaluateBatched(keyed, Seq(SizeConstraint(Assertion.Equals(200)), slow), aborting)
    }
    assert(e.getMessage == "abort")
    assert(finished.get, "the multi-job constraint was still running after the run aborted")
  }
}
