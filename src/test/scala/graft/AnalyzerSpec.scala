package graft

import graft.analyzers._
import graft.core.MetricValue
import graft.repository._
import org.apache.spark.sql.functions._

/** Analyzer states: merge(partition states) must equal state(full data) — the
  * property the incremental runner rests on.
  */
class AnalyzerSpec extends SparkSpec {

  private lazy val full = {
    import spark.implicits._
    (1 to 1000).map(i => (i.toLong, i * 0.5, if (i % 4 == 0) None else Some(i * 2.0)))
      .toDF("id", "x", "y")
  }
  private lazy val part1 = full.filter(col("id") <= 400)
  private lazy val part2 = full.filter(col("id") > 400)

  private def d(m: MetricValue): Double = m.asDouble.get

  test("token-count analyzer: exact long merge, null text neither token nor doc") {
    import spark.implicits._
    val docs = Seq(Some("a b c"), Some("one"), Some("  "), None).toDF("text")
    val a = TokenCountAnalyzer("text")
    val m = a.compute(docs).asInstanceOf[MetricValue.MapMetric].value
    assert(m("total_tokens") == MetricValue.LongMetric(4L))
    assert(m("docs") == MetricValue.LongMetric(3L), "null text is not a doc; empty text is")
    assert(d(m("mean_tokens")) == 4.0 / 3)
    // merge == full scan, exactly (long arithmetic, no epsilon needed)
    val p1 = docs.limit(2)
    val p2 = docs.exceptAll(p1)
    assert(a.mergeAnyStates(a.computeState(p1), a.computeState(p2)) == a.computeState(docs))
    // state round-trips through the flat field form
    val st = a.computeState(docs)
    assert(a.stateFromFields(st.toFields) == st)
    // empty frame: zero state, NaN mean
    val empty = Seq.empty[Option[String]].toDF("text")
    assert(a.computeState(empty) == TokenState(0L, 0L))
    assert(a.metricFromState(TokenState(0L, 0L))
      .asInstanceOf[MetricValue.MapMetric].value("mean_tokens").asDouble.get.isNaN)
  }

  test("merged partition states equal full-scan state") {
    val analyzers: Seq[Analyzer[_]] = Seq(
      SizeAnalyzer(), CompletenessAnalyzer("y"), MeanAnalyzer("x"), SumAnalyzer("x"),
      MinMaxAnalyzer("x"), StdDevAnalyzer("x"), CorrelationAnalyzer("x", "y"))
    analyzers.foreach { a =>
      val merged = a.mergeAnyStates(a.computeState(part1), a.computeState(part2))
      val fullState = a.computeState(full)
      val mm = a.metricFromAnyState(merged)
      val fm = a.metricFromAnyState(fullState)
      (mm, fm) match {
        case (MetricValue.MapMetric(m1), MetricValue.MapMetric(m2)) =>
          m1.keys.foreach(k => assert(math.abs(d(m1(k)) - d(m2(k))) < 1e-9, s"${a.key}.$k"))
        case _ =>
          assert(math.abs(d(mm) - d(fm)) < 1e-9, s"${a.key}: $mm vs $fm")
      }
    }
  }

  test("stddev/correlation closed forms match Spark builtins") {
    val sd = StdDevAnalyzer("x").compute(full).asDouble.get
    val sparkSd = full.agg(stddev_samp(col("x"))).head().getDouble(0)
    assert(math.abs(sd - sparkSd) < 1e-6)

    val corr1 = CorrelationAnalyzer("x", "y").compute(full).asDouble.get
    val sparkCorr = full.agg(corr(col("x"), col("y"))).head().getDouble(0)
    assert(math.abs(corr1 - sparkCorr) < 1e-6)
  }

  test("hll state merges and estimates within rsd") {
    val a = ApproxCountDistinctAnalyzer("id")
    val merged = a.mergeAnyStates(a.computeState(part1), a.computeState(part2))
    val est = a.metricFromAnyState(merged).asDouble.get
    assert(math.abs(est - 1000.0) / 1000.0 < 0.05, s"estimate $est")
  }

  test("frequent-items sketch: exact in-regime, merge == full scan, bounded skew") {
    import spark.implicits._
    // 7 distinct values << 0.75 * 64 -> the sketch is EXACT; merged partition states
    // must equal the full scan item-for-item, count-for-count.
    val a = FrequentItemsAnalyzer("v", maxMapSize = 64, k = 10)
    val skewed = (1 to 1000).map(i =>
      (i.toLong, if (i % 2 == 0) "hot" else s"cold${i % 13 % 7}")).toDF("id", "v")
    val p1 = skewed.filter(col("id") <= 600); val p2 = skewed.filter(col("id") > 600)
    val merged = a.mergeAnyStates(a.computeState(p1), a.computeState(p2))
    val mm = a.metricFromAnyState(merged).asInstanceOf[MetricValue.MapMetric].value
    val fm = a.metricFromAnyState(a.computeState(skewed))
      .asInstanceOf[MetricValue.MapMetric].value
    assert(mm == fm, "merged != full-scan in the exact regime")
    val exact = skewed.groupBy("v").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    mm.foreach { case (item, est) =>
      assert(est.asDouble.get.toLong == exact(item), s"$item: $est vs ${exact(item)}")
    }
    // Past the exact regime (map of 8 over ~200 distinct) the heavy hitter must
    // still surface with its true count inside [lb, ub] (NO_FALSE_NEGATIVES).
    val tiny = FrequentItemsAnalyzer("v", maxMapSize = 8, k = 3)
    val flood = ((1 to 2000).map(i => s"noise$i") ++ Seq.fill(500)("whale")).toDF("v")
    val st = tiny.computeState(flood)
    val top = FrequentItemsSketch.topK(st, 3)
    val whale = top.find(_._1 == "whale")
    assert(whale.isDefined, s"heavy hitter lost: $top")
    val (_, _, lb, ub) = whale.get
    assert(lb <= 500 && 500 <= ub, s"true count outside bounds [$lb, $ub]")
    // null values are ignored, and the all-null/empty state is the identity
    val withNulls = Seq(Some("a"), None, Some("a"), None).toDF("v")
    val nst = FrequentItemsAnalyzer("v", maxMapSize = 8).computeState(withNulls)
    assert(FrequentItemsSketch.topK(nst, 5) == Seq(("a", 2L, 2L, 2L)))
    val empty = FrequentItemsAnalyzer("v", maxMapSize = 8)
      .computeState(withNulls.filter(lit(false)))
    assert(empty.merge(nst).toFields == nst.merge(empty).toFields)
    assert(FrequentItemsSketch.topK(empty.merge(nst), 5).map(t => (t._1, t._2)) == Seq(("a", 2L)))
  }

  test("quantile sketch state: distributed build, merge, and rank-error bound") {
    val a = QuantileAnalyzer("x", quantiles = Seq(0.1, 0.5, 0.9), relativeError = 0.01)
    // merged partition sketches vs full-scan sketch vs exact quantiles
    val merged = a.mergeAnyStates(a.computeState(part1), a.computeState(part2))
      .asInstanceOf[QuantileState]
    val fullState = a.computeState(full)
    val n = 1000
    Seq(0.1, 0.5, 0.9).foreach { q =>
      val exact = q * n * 0.5 // x = i * 0.5, i in 1..1000
      Seq(merged, fullState).foreach { s =>
        val got = s.quantile(q).get
        // GK guarantee: rank error <= relativeError * n -> value error <= eps*n*step
        assert(math.abs(got - exact) <= 0.01 * n * 0.5 + 0.5,
          s"q=$q got=$got exact=$exact")
      }
    }
    // fields round-trip preserves the sketch
    val revived = a.stateFromFields(merged.toFields)
    assert(revived.quantile(0.5) == merged.quantile(0.5))
  }

  test("state fields round-trip through serialization") {
    val analyzers: Seq[Analyzer[_]] = Seq(
      SizeAnalyzer(), CompletenessAnalyzer("y"), MeanAnalyzer("x"),
      StdDevAnalyzer("x"), CorrelationAnalyzer("x", "y"), ApproxCountDistinctAnalyzer("id"))
    analyzers.foreach { a =>
      val s = a.computeState(part1)
      val rt = a.stateFromFields(a.fieldsOfAnyState(s))
      assert(d(a.metricFromAnyState(rt)) == d(a.metricFromAnyState(s)) ||
        (d(a.metricFromAnyState(rt)).isNaN && d(a.metricFromAnyState(s)).isNaN), a.key)
    }
  }

  test("analysis runner batches all analyzers in one pass") {
    val ctx = new AnalysisRunner(Seq(
      SizeAnalyzer(), CompletenessAnalyzer("y"), MeanAnalyzer("x"))).run(full)
    assert(ctx.errors.isEmpty)
    assert(d(ctx.metrics("size.*")) == 1000.0)
    assert(math.abs(d(ctx.metrics("completeness.y")) - 0.75) < 1e-12)
    assert(math.abs(d(ctx.metrics("mean.x")) - 250.25) < 1e-9)
  }

  test("analysis runner isolates a bad analyzer") {
    val ctx = new AnalysisRunner(Seq(SizeAnalyzer(), MeanAnalyzer("nope"))).run(full)
    assert(d(ctx.metrics("size.*")) == 1000.0)
    assert(ctx.errors.contains("mean.nope"))

    // The healthy rest of a failed batch runs as one scan, not one scan per analyzer.
    val healthy: Seq[Analyzer[_]] = Seq(SizeAnalyzer(), CompletenessAnalyzer("y"), MeanAnalyzer("x"))
    val clean = new AnalysisRunner(healthy).run(full)
    val oneScan = jobsOf(SizeAnalyzer().computeState(full))
    var mixed: AnalyzerContext = null
    val fallback = jobsOf { mixed = new AnalysisRunner(healthy :+ MeanAnalyzer("nope")).run(full) }
    assert(oneScan > 0 && fallback == oneScan, s"fallback ran $fallback jobs, one scan runs $oneScan")
    assert(mixed.errors.keySet == Set("mean.nope") && mixed.errors("mean.nope").contains("nope"),
      mixed.errors)
    assert(mixed.metrics == clean.metrics && mixed.states == clean.states)
    assert(d(mixed.metrics("size.*")) == 1000.0)
    assert(math.abs(d(mixed.metrics("completeness.y")) - 0.75) < 1e-12)
    assert(math.abs(d(mixed.metrics("mean.x")) - 250.25) < 1e-9)
  }

  test("incremental runner: per-partition ingest accumulates correctly") {
    val store = new InMemoryStateStore
    val runner = new IncrementalAnalysisRunner(store, Seq(SizeAnalyzer(), MeanAnalyzer("x")))
    val m1 = runner.analyzePartition(part1, "p1")
    assert(d(m1("size.*")) == 400.0)
    val m2 = runner.analyzePartition(part2, "p2")
    assert(d(m2("size.*")) == 1000.0)
    assert(math.abs(d(m2("mean.x")) - 250.25) < 1e-9)
    // metrics over a partition subset
    val sub = runner.analyzePartitions(Seq("p1"))
    assert(d(sub("size.*")) == 400.0)
    // cumulative metrics read without data access
    assert(d(runner.currentMetrics()("size.*")) == 1000.0)
    // REPLAY of an already-ingested partition (at-least-once foreachBatch) must be
    // idempotent — the cumulative is rebuilt from partition states, never re-folded
    val m2again = runner.analyzePartition(part2, "p2")
    assert(d(m2again("size.*")) == 1000.0, "replaying p2 must not double-count")
    assert(d(runner.currentMetrics()("size.*")) == 1000.0)
    // dataPartitions excludes the reserved cumulative entry
    assert(runner.dataPartitions("size.*").sorted == Seq("p1", "p2"))
  }

  test("legacy-key migration: resumable mid-crash, default-rsd-only adoption, stamp-validated reads") {
    import graft.analyzers._
    // Seed a legacy-format correlation store: partitions under "correlation.x.y".
    val a = CorrelationAnalyzer("x", "y")
    val legacy = "correlation.x.y"
    def coFields(n: Long, v: Double) = Map(
      "n" -> n.toString, "sx" -> v.toString, "sy" -> v.toString,
      "sxx" -> v.toString, "syy" -> v.toString, "sxy" -> v.toString)
    val store = new InMemoryStateStore
    store.save(legacy, "p1", coFields(10, 1.0))
    store.save(legacy, "p2", coFields(20, 2.0))
    store.save(legacy, "p3", coFields(30, 3.0))
    store.save(legacy, "__cumulative__", coFields(60, 6.0))
    // Simulate a CRASH mid-migration: p1 already moved (exists under BOTH keys would
    // be the save-then-crash-before-delete window; moved-and-deleted is the other).
    store.save(a.key, "p1", coFields(10, 1.0))
    store.delete(legacy, "p1")
    val runner = new IncrementalAnalysisRunner(store, Seq(a))
    // Resumed migration must pick up p2/p3 even though the new key is non-empty.
    assert(runner.dataPartitions(a.key).sorted == Seq("p1", "p2", "p3"))
    assert(store.listPartitions(legacy).isEmpty, "legacy entries (incl. cumulative) drained")
    // currentMetrics must NOT trust a stale/absent cumulative — it rebuilds from the
    // three migrated partitions (n=60 co-moment merge, correlation defined).
    assert(runner.currentMetrics().contains(a.key))
    val cum = store.load(a.key, "__cumulative__")
    assert(cum.flatMap(_.get("n")).contains("60"), s"rebuilt cumulative over all parts: $cum")

    // Quantile legacy key adoption is restricted to the default relativeError: a
    // non-default analyzer must NOT claim precision the legacy sketch may lack.
    assert(QuantileAnalyzer("x").legacyKeys.nonEmpty)
    assert(QuantileAnalyzer("x", relativeError = 0.001).legacyKeys.isEmpty)
  }

  test("legacy migration preserves sole-survivor cumulatives and skips ambiguous keys") {
    import graft.analyzers._
    def coFields(n: Long, v: Double) = Map(
      "n" -> n.toString, "sx" -> v.toString, "sy" -> v.toString,
      "sxx" -> v.toString, "syy" -> v.toString, "sxy" -> v.toString)
    // A store holding ONLY a legacy cumulative (data partitions pruned externally):
    // nothing migrates, and the sole surviving record must NOT be erased.
    val a = CorrelationAnalyzer("x", "y")
    val s1 = new InMemoryStateStore
    s1.save("correlation.x.y", "__cumulative__", coFields(60, 6.0))
    val r1 = new IncrementalAnalysisRunner(s1, Seq(a))
    assert(r1.dataPartitions(a.key).isEmpty)
    assert(s1.load("correlation.x.y", "__cumulative__").nonEmpty,
      "cumulative-only legacy record must survive a no-op migration")
    // A legacy key claimed by TWO analyzers in the runner is ambiguous — e.g.
    // "correlation.x.y.z" could be ("x","y.z") or ("x.y","z") — and must be left in
    // place, not attributed to whichever analyzer migrates first.
    val a1 = CorrelationAnalyzer("x", "y.z")
    val a2 = CorrelationAnalyzer("x.y", "z")
    assert(a1.legacyKeys == a2.legacyKeys && a1.key != a2.key)
    val s2 = new InMemoryStateStore
    s2.save("correlation.x.y.z", "p1", coFields(10, 1.0))
    val r2 = new IncrementalAnalysisRunner(s2, Seq(a1, a2))
    assert(r2.dataPartitions(a1.key).isEmpty && r2.dataPartitions(a2.key).isEmpty)
    assert(s2.listPartitions("correlation.x.y.z") == Seq("p1"),
      "ambiguous legacy record left untouched")
    // An UNambiguous claim in the same runner still migrates normally.
    val b = CorrelationAnalyzer("p", "q")
    val s3 = new InMemoryStateStore
    s3.save("correlation.p.q", "p1", coFields(10, 1.0))
    val r3 = new IncrementalAnalysisRunner(s3, Seq(b, a1, a2))
    assert(r3.dataPartitions(b.key) == Seq("p1"))
    assert(s3.listPartitions("correlation.p.q").isEmpty)
  }

  test("batched one-scan partition ingest equals the sequential per-partition loop") {
    // sequential: one analyzePartition call per bucket
    val seqStore = new InMemoryStateStore
    val seqRunner = new IncrementalAnalysisRunner(seqStore, Seq(SizeAnalyzer(), MeanAnalyzer("x")))
    Seq(0L, 1L, 2L).foreach { b =>
      seqRunner.analyzePartition(full.filter(col("id") % 3 === b), b.toString)
    }
    // batched: ONE groupBy scan discovers and ingests all buckets
    val batStore = new InMemoryStateStore
    val batRunner = new IncrementalAnalysisRunner(batStore, Seq(SizeAnalyzer(), MeanAnalyzer("x")))
    val m = batRunner.analyzePartitionsBatched(full, col("id") % 3)
    assert(d(m("size.*")) == 1000.0)
    assert(math.abs(d(m("mean.x")) - d(seqRunner.currentMetrics()("mean.x"))) < 1e-9)
    // identical per-partition stored states (same keys, same fields)
    Seq("size.*", "mean.x").foreach { k =>
      assert(batStore.listPartitions(k).toSet == seqStore.listPartitions(k).toSet)
      Seq("0", "1", "2").foreach { p =>
        assert(batStore.load(k, p) == seqStore.load(k, p), s"$k/$p")
      }
    }
    // the guard throws rather than truncating
    intercept[IllegalArgumentException] {
      batRunner.analyzePartitionsBatched(full, col("id"), maxPartitions = 10)
    }
  }

  test("filesystem state store keeps colliding-looking keys distinct") {
    // "p:1" and "p_1" used to sanitize to the SAME file name, silently overwriting one
    // partition's state with another's; URL-encoding is injective.
    val dir = tmpDir("graft-states-enc")
    val store = new FileSystemStateStore(dir, spark)
    store.save("mean.x", "p:1", Map("v" -> "1"))
    store.save("mean.x", "p_1", Map("v" -> "2"))
    store.save("mean.x", "2024/01/01", Map("v" -> "3"))
    assert(store.load("mean.x", "p:1") == Some(Map("v" -> "1")))
    assert(store.load("mean.x", "p_1") == Some(Map("v" -> "2")))
    assert(store.load("mean.x", "2024/01/01") == Some(Map("v" -> "3")))
    assert(store.listPartitions("mean.x").sorted == Seq("2024/01/01", "p:1", "p_1"))
  }

  test("filesystem state store round-trips, lists, deletes") {
    val dir = tmpDir("graft-states")
    val store = new FileSystemStateStore(dir, spark)
    store.save("mean.x", "2024-01-01", Map("sum" -> "12.5", "count" -> "10"))
    store.save("mean.x", "2024-01-02", Map("sum" -> "7.5", "count" -> "5"))
    assert(store.load("mean.x", "2024-01-01").get("sum") == "12.5")
    assert(store.listPartitions("mean.x") == Seq("2024-01-01", "2024-01-02"))
    store.delete("mean.x", "2024-01-01")
    assert(store.listPartitions("mean.x") == Seq("2024-01-02"))
    assert(store.load("mean.x", "2024-01-01").isEmpty)
  }

  test("anomaly strategies") {
    val series = Seq(1L -> 100.0, 2L -> 102.0, 3L -> 101.0, 4L -> 150.0, 5L -> 99.0)
    val roc = RelativeRateOfChangeStrategy(maxRateIncrease = Some(0.2)).detect(series)
    assert(roc.map(_.timestamp) == Seq(4L))
    val abs = AbsoluteChangeStrategy(maxDecrease = Some(30.0)).detect(series)
    assert(abs.map(_.timestamp) == Seq(5L))
    val z = ZScoreStrategy(threshold = 3.0).detect(series)
    assert(z.map(_.timestamp) == Seq(4L))
  }

  test("one NaN history point must not disable z-score detection forever") {
    // NaN is a legitimate persisted metric (completeness of an empty batch); without
    // filtering, prior.sum is NaN for every later window and detection silently dies
    val series = Seq(1L -> 100.0, 2L -> Double.NaN, 3L -> 101.0, 4L -> 99.0,
      5L -> 100.0, 6L -> 150.0)
    val z = ZScoreStrategy(threshold = 3.0, minHistory = 3).detect(series)
    assert(z.map(_.timestamp) == Seq(6L), s"NaN at ts=2 must not mask the ts=6 jump: $z")
  }

  test("anomaly strategy routing is most-specific-prefix wins, deterministically") {
    val repo = new InMemoryMetricsRepository
    val specific = AbsoluteChangeStrategy(maxDecrease = Some(0.01))
    val general = ZScoreStrategy()
    val runner = new AnomalyDetectionRunner(repo, Map(
      "completeness." -> general,
      "completeness.email." -> specific,
      "a." -> general, "b." -> general, "c." -> general)) // force >4 entries (HashMap)
    assert(runner.strategyFor("completeness.email.domain").contains(specific))
    assert(runner.strategyFor("completeness.name").contains(general))
  }

  test("quantile state decodes both the versioned and the legacy Java-serialized form") {
    val qs = (1 to 100).foldLeft(QuantileSketch.empty(0.01))((s, v) => s.insert(v.toDouble))
    val roundtrip = QuantileSketch.deserialize(QuantileSketch.serialize(qs))
    assert(QuantileState(roundtrip).quantile(0.5).exists(v => v >= 45 && v <= 55))
    // legacy form: plain Java serialization of the compressed summary
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(qs.compress()); oos.close()
    val legacy = QuantileSketch.deserialize(bos.toByteArray)
    assert(QuantileState(legacy).quantile(0.5).exists(v => v >= 45 && v <= 55))
  }

  test("metrics repository + anomaly runner end-to-end") {
    val repo = new InMemoryMetricsRepository
    Seq(1000L -> 0.99, 2000L -> 0.985, 3000L -> 0.5).foreach { case (ts, v) =>
      repo.save(ResultKey(ts, Map("dataset" -> "orders")), Map("completeness.email" -> v))
    }
    val hist = repo.history("completeness.email")
    assert(hist.map(_._2) == Seq(0.99, 0.985, 0.5))
    val runner = new AnomalyDetectionRunner(repo,
      Map("completeness." -> AbsoluteChangeStrategy(maxDecrease = Some(0.1))))
    assert(runner.detect("completeness.email").map(_.timestamp) == Seq(3000L))
    assert(runner.isLatestAnomalous("completeness.email"))
    // SQL over metric history works for ANY repository via the trait default
    repo.toDataFrame(spark).createOrReplaceTempView("mem_metric_log")
    val worst = spark.sql(
      "SELECT timestamp FROM mem_metric_log WHERE metric = 'completeness.email' ORDER BY value LIMIT 1")
      .head().getLong(0)
    assert(worst == 3000L)
  }

  test("parquet metrics repository round-trips") {
    val dir = tmpDir("graft-metrics") + "/m"
    val repo = new ParquetMetricsRepository(dir, spark)
    repo.save(ResultKey(1000L, Map("env" -> "test")), Map("size.*" -> 42.0, "mean.x" -> 1.5))
    repo.save(ResultKey(2000L), Map("size.*" -> 43.0))
    val all = repo.loadAll()
    assert(all.size == 2)
    assert(all.head.key == ResultKey(1000L, Map("env" -> "test")))
    assert(all.head.metrics("size.*") == 42.0)
    val q = repo.query(MetricsQuery(after = Some(1500L)))
    assert(q.size == 1 && q.head.metrics("size.*") == 43.0)
    // SQL over the metric log
    repo.toDataFrame.createOrReplaceTempView("metric_log")
    val n = spark.sql("SELECT count(*) FROM metric_log WHERE metric = 'size.*'").head().getLong(0)
    assert(n == 2L)
  }

  test("repository edge semantics: limited history keeps newest, backends agree on re-saves, empty log reads empty") {
    // limited history must return the NEWEST N points, oldest-first
    val repo = new InMemoryMetricsRepository
    (1L to 10L).foreach(ts => repo.save(ResultKey(ts), Map("m" -> ts.toDouble)))
    assert(repo.history("m", MetricsQuery(limit = Some(3))) ==
      Seq(8L -> 8.0, 9L -> 9.0, 10L -> 10.0))
    // the limit pages exact-key POINTS: newer runs carrying only dotted sub-metrics
    // (matched by query's forAnalyzers prefix rule) must not eat the page and return
    // an empty/short history while exact-key points exist
    val mixed = new InMemoryMetricsRepository
    (1L to 5L).foreach(ts => mixed.save(ResultKey(ts), Map("size" -> ts.toDouble)))
    (6L to 10L).foreach(ts => mixed.save(ResultKey(ts), Map("size.daily" -> ts.toDouble)))
    assert(mixed.history("size", MetricsQuery(limit = Some(3))) ==
      Seq(3L -> 3.0, 4L -> 4.0, 5L -> 5.0))
    // same-key saves merge into ONE record on both backends
    val dir = tmpDir("graft-metrics") + "/dup"
    val pq = new ParquetMetricsRepository(dir, spark)
    Seq(new InMemoryMetricsRepository, pq).foreach { r =>
      r.save(ResultKey(100L), Map("a" -> 1.0))
      r.save(ResultKey(100L), Map("b" -> 2.0))
      val recs = r.loadAll()
      assert(recs.size == 1, s"${r.getClass.getSimpleName}: ${recs.size} records")
      assert(recs.head.metrics == Map("a" -> 1.0, "b" -> 2.0))
    }
    // a repository with no saves reads as an empty frame, not PATH_NOT_FOUND
    val fresh = new ParquetMetricsRepository(
      tmpDir("graft-metrics") + "/none", spark)
    assert(fresh.toDataFrame.isEmpty && fresh.toDataFrame(spark).isEmpty)
    assert(fresh.toDataFrame.columns.toSeq == Seq("timestamp", "tags", "metric", "value"))
  }

  test("pointsFor/pointAt: backends agree, bound is pushed, dotted sub-metrics don't leak") {
    val dir = tmpDir("graft-metrics") + "/points"
    val pq = new ParquetMetricsRepository(dir, spark)
    val mem = new InMemoryMetricsRepository
    Seq(pq, mem).foreach { r =>
      (1L to 10L).foreach(ts => r.save(ResultKey(ts), Map("m" -> ts.toDouble)))
      // dotted sub-metric rows must not match the exact key
      r.save(ResultKey(11L), Map("m.daily" -> 99.0))
    }
    Seq[MetricsRepository](pq, mem).foreach { r =>
      val label = r.getClass.getSimpleName
      assert(r.pointsFor("m", Some(3)) == Seq(8L -> 8.0, 9L -> 9.0, 10L -> 10.0), label)
      assert(r.pointsFor("m", None).size == 10, label)
      // exact lookup reaches BEYOND any newest-N window
      assert(r.pointAt("m", 1L).contains(1.0), label)
      assert(r.pointAt("m", 11L).isEmpty, s"$label: dotted sub-metric matched exact key")
      assert(r.pointAt("m", 42L).isEmpty, label)
    }
  }

  test("all-null column: approx-distinct state is the empty sketch, not a poisoned null") {
    import spark.implicits._
    val df = Seq((1, None: Option[String]), (2, None), (3, None)).toDF("id", "v")
    // direct runner path
    val ctx = new AnalysisRunner(Seq(ApproxCountDistinctAnalyzer("v"))).run(df)
    assert(ctx.errors.isEmpty, ctx.errors.toString)
    assert(ctx.metrics("approx_count_distinct.v") == MetricValue.LongMetric(0L))
    // incremental path: the null-sketch state must save, merge as identity, and reload
    val runner = new IncrementalAnalysisRunner(new InMemoryStateStore,
      Seq(ApproxCountDistinctAnalyzer("v")))
    val m1 = runner.analyzePartition(df, "p_null")
    assert(m1("approx_count_distinct.v") == MetricValue.LongMetric(0L))
    val m2 = runner.analyzePartition(Seq((4, Some("a")), (5, Some("b"))).toDF("id", "v"), "p_vals")
    assert(m2("approx_count_distinct.v") == MetricValue.LongMetric(2L))
  }

  test("continueOnError=false propagates the root cause instead of burying it in the errors map") {
    import spark.implicits._
    val df = Seq(1, 2).toDF("x")
    val bad = MeanAnalyzer("no_such_column")
    val e = intercept[Exception](
      new AnalysisRunner(Seq(bad), continueOnError = false).run(df))
    assert(e.getMessage != null)
    // with continueOnError=true the same failure lands in the errors map instead
    val ctx = new AnalysisRunner(Seq(bad), continueOnError = true).run(df)
    assert(ctx.errors.contains(bad.key) && ctx.metrics.isEmpty)
  }

  test("deleting a stored partition self-heals the cumulative on the next fresh fold") {
    import spark.implicits._
    val store = new InMemoryStateStore
    val runner = new IncrementalAnalysisRunner(store, Seq(SumAnalyzer("v")))
    def part(vs: Double*) = vs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v")
    runner.analyzePartition(part(1.0, 2.0), "p1") // sum 3
    runner.analyzePartition(part(10.0), "p2")     // sum 13
    // expunge p1; the stored cumulative still contains its contribution
    store.delete("sum.v", "p1")
    // next FRESH partition must detect the inconsistency (the record covers p1) and
    // rebuild instead of folding the stale cumulative forward
    val m = runner.analyzePartition(part(100.0), "p3")
    assert(m("sum.v") == MetricValue.DoubleMetric(110.0), m.toString) // p2 + p3 only
  }

  test("the cumulative record names its partitions: outside deletes and adds rebuild, a count-stamped record rebuilds once") {
    import spark.implicits._
    def part(vs: Double*) = vs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v")
    val store = new InMemoryStateStore
    val runner = new IncrementalAnalysisRunner(store, Seq(SumAnalyzer("v")))
    runner.analyzePartition(part(1.0), "p1")
    runner.analyzePartition(part(10.0), "p2")
    // one partition deleted and another added outside the runner: the partition COUNT
    // is unchanged, so only the named partitions tell the record is stale
    store.delete("sum.v", "p1")
    store.save("sum.v", "p9", Map("sum" -> "1000.0", "count" -> "1"))
    val m = runner.analyzePartition(part(100.0), "p3")
    assert(m("sum.v") == MetricValue.DoubleMetric(1110.0), m.toString) // p2 + p9 + p3

    // a record from before the digest carries only the partition count: it is
    // rebuilt from the partition states (its own value is never trusted), then folds
    val counted = store.load("sum.v", "__cumulative__").get.filter(_._1 == "count") ++
      Map("sum" -> "-1.0", "__nparts" -> "3")
    store.save("sum.v", "__cumulative__", counted)
    val counting = new CountingStore(store)
    val r2 = new IncrementalAnalysisRunner(counting, Seq(SumAnalyzer("v")))
    assert(r2.analyzePartition(part(0.5), "p4")("sum.v") == MetricValue.DoubleMetric(1110.5))
    assert(counting.loads == 1 + 4, "rebuild: the record, then every listed state")
    assert(!store.load("sum.v", "__cumulative__").get.contains("__nparts"))
    counting.reset()
    assert(r2.analyzePartition(part(0.25), "p5")("sum.v") == MetricValue.DoubleMetric(1110.75))
    assert(counting.loads == 1, "fold: the record only")
  }

  test("store traffic: a fresh ingest, a replay and a batched ingest") {
    val store = new CountingStore(new InMemoryStateStore)
    val runner = new IncrementalAnalysisRunner(store, Seq(SizeAnalyzer(), MeanAnalyzer("x")))
    val a = 2
    runner.analyzePartition(part1, "p1")
    assert((store.loads, store.saves, store.lists) == ((a, 2 * a, a)), "first ingest")
    store.reset()
    runner.analyzePartition(part2, "p2")
    assert((store.loads, store.saves, store.lists) == ((a, 2 * a, a)), "fresh ingest folds")
    store.reset()
    // a replay rebuilds: the record, then both listed states, per analyzer
    runner.analyzePartition(part2, "p2")
    assert((store.loads, store.saves, store.lists) == ((a + 2 * a, 2 * a, a)), "replay")
    assert(d(runner.currentMetrics()("size.*")) == 1000.0)

    val batched = new CountingStore(new InMemoryStateStore)
    val batRunner = new IncrementalAnalysisRunner(batched, Seq(SizeAnalyzer(), MeanAnalyzer("x")))
    val p = 3
    assert(d(batRunner.analyzePartitionsBatched(full, col("id") % p)("size.*")) == 1000.0)
    assert((batched.loads, batched.saves, batched.lists) == ((a, p * a + a, a)), "batched")
    batched.reset()
    // a read of a consistent record writes nothing
    assert(d(batRunner.currentMetrics()("size.*")) == 1000.0)
    assert((batched.loads, batched.saves, batched.lists) == ((a, 0, a)), "currentMetrics")
  }

  /** Counts the calls a runner makes to the store it wraps. */
  private final class CountingStore(inner: StateStore) extends StateStore {
    var loads, saves, lists = 0
    def reset(): Unit = { loads = 0; saves = 0; lists = 0 }
    def save(a: String, p: String, f: Map[String, String]): Unit = { saves += 1; inner.save(a, p, f) }
    def load(a: String, p: String): Option[Map[String, String]] = { loads += 1; inner.load(a, p) }
    def listPartitions(a: String): Seq[String] = { lists += 1; inner.listPartitions(a) }
    def delete(a: String, p: String): Unit = inner.delete(a, p)
  }

  test("moments stddev never goes NaN on large-magnitude low-variance data") {
    // sumSq - sum²/n cancels to a small NEGATIVE number here without the clamp
    val vals = Seq.fill(1000)(1e8 + 0.1) ++ Seq.fill(1000)(1e8 - 0.1)
    val s = vals.foldLeft(MomentsState(0L, 0.0, 0.0))((st, v) =>
      st.merge(MomentsState(1L, v, v * v)))
    val sd = s.stddevSamp.get
    assert(!sd.isNaN && sd >= 0.0, s"stddev $sd")
  }
}
