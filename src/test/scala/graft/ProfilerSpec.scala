package graft

import graft.analyzers._
import graft.core._
import org.apache.spark.sql.functions._

class ProfilerSpec extends SparkSpec {

  private lazy val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").cache()

  test("histogram withheld when true cardinality exceeds the configured max") {
    import spark.implicits._
    // 8 distinct values, max set to 5: even if the approx-distinct sketch
    // underestimates past the gate, the post-collect cap must withhold the histogram
    val d = (1 to 80).map(i => (i, s"v${i % 8}")).toDF("id", "s")
    val p = new graft.analyzers.ColumnProfiler(
      graft.analyzers.ProfilerConfig(histogramMaxDistinct = 5)).profile(d, Seq("s"))("s")
    assert(p.histogram.isEmpty, "cardinality 8 > max 5 must not produce a histogram")
    val ok = new graft.analyzers.ColumnProfiler(
      graft.analyzers.ProfilerConfig(histogramMaxDistinct = 8)).profile(d, Seq("s"))("s")
    assert(ok.histogram.isDefined && ok.histogram.get.buckets.size == 8)
  }

  test("profiler: basic stats, numeric, string, histogram") {
    val profiles = new ColumnProfiler().profile(orders)
    val pk = profiles("o_orderkey")
    assert(pk.completeness == 1.0)
    assert(pk.totalCount == 1500)
    assert(pk.distinctness > 0.9)
    assert(pk.numeric.isDefined)

    val status = profiles("o_orderstatus")
    assert(status.histogram.isDefined, "low-cardinality column should get a histogram")
    assert(status.histogram.get.buckets.keySet == Set("O", "F", "P"))
    assert(status.string.exists(_.maxLength == 1))

    val price = profiles("o_totalprice")
    val n = price.numeric.get
    assert(n.min > 0 && n.max > n.min && n.quantiles.contains(0.5))
    assert(n.quantiles(0.5) > n.min && n.quantiles(0.5) < n.max)
  }

  test("a profile wider than MaxAggsPerJob equals each column profiled alone") {
    // 40 numeric columns: pass 1 lists 7 aggregates per column, 241 distinct slots once
    // the shared row count is deduplicated, so it runs as two scans. One partition keeps
    // the floating-point merges (mean, stddev) in a fixed order.
    val nCols = 40
    val wide = spark.range(0, 150, 1, 1).select((0 until nCols).map { i =>
      val v = if (i % 10 == 0) col("id") % 7 else col("id") * (i + 1)
      when(col("id") % (i % 5 + 2) === 0, lit(null)).otherwise(v).as(s"c$i")
    }: _*)
    assert(nCols * 6 + 1 > SharedScan.MaxAggsPerJob)
    val profiler = new ColumnProfiler()
    val together = profiler.profile(wide)
    assert(together.size == nCols)
    (0 until nCols).map(i => s"c$i").foreach { c =>
      val alone = profiler.profile(wide, Seq(c))(c)
      assert(together(c) == alone, c)
      assert(alone.totalCount == 150 && alone.numeric.exists(_.quantiles.size == 5), alone)
    }
  }

  test("profiler survives columns whose names contain literal dots") {
    import spark.implicits._
    // The names come from df.columns — col("user.name") would parse the dot as a
    // struct-field path and abort the whole profile
    val df = Seq((1L, "a", 2.0), (2L, "b", 4.0), (3L, null, 6.0))
      .toDF("id", "user.name", "amount.usd")
    val profiles = new ColumnProfiler().profile(df)
    assert(profiles("user.name").completeness == 2.0 / 3)
    assert(profiles("user.name").inferredType.isDefined)
    val amt = profiles("amount.usd").numeric.get
    assert(amt.min == 2.0 && amt.max == 6.0)
  }

  test("type inference on stringified numerics") {
    import spark.implicits._
    val df = Seq("1", "2", "3", "4.5", "x").toDF("c")
    val inf = TypeInference.infer(df, "c")
    assert(inf.dataType == "integer")
    assert(math.abs(inf.confidence - 0.6) < 1e-9)
  }

  test("suggestion engine produces runnable constraints that pass on the profiled data") {
    val suggestions = new SuggestionEngine().suggest(orders)
    assert(suggestions.nonEmpty)
    val rules = suggestions.map(_.rule).toSet
    assert(rules.contains("completeness") && rules.contains("containment"))
    // key suggestion present for o_orderkey
    assert(suggestions.exists(s => s.column == "o_orderkey" && s.rule == "uniqueness"))
    // every suggested constraint must pass on the data it was derived from
    val check = new SuggestionEngine().suggestionsToCheck(suggestions)
    val report = ValidationSuite("suggested", Seq(check)).run(orders)
    val failures = report.allResults.filter(_.isFailure)
    assert(failures.isEmpty, failures.map(_.constraint).mkString(", "))
  }

  test("schema analyzer finds the o_custkey -> c_custkey foreign key") {
    val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val cands = new SchemaAnalyzer().suggestForeignKeys(Map(
      "orders" -> orders, "customer" -> customer))
    assert(cands.exists(c =>
      c.childTable == "orders" && c.childColumn == "o_custkey" &&
        c.parentTable == "customer" && c.parentColumn == "c_custkey" && c.overlap == 1.0),
      cands.mkString("; "))
  }

  test("stats cache: TTL expiry, oldest eviction, cross-invocation schema-analyzer reuse") {
    import graft.core.StatsCache
    var now = 0L
    val sc = new StatsCache(ttlMillis = 100, maxEntries = 2, clock = () => now)
    var computes = 0
    def probe(k: String, v: Double) = sc.getOrCompute(k) { computes += 1; v }
    assert(probe("a", 1.0) == 1.0 && computes == 1)
    assert(probe("a", 99.0) == 1.0 && computes == 1, "hit must not recompute")
    now = 150 // past TTL
    assert(probe("a", 2.0) == 2.0 && computes == 2, "expired entry must recompute")
    probe("b", 3.0); probe("c", 4.0) // capacity 2: inserting c evicts oldest (a)
    assert(sc.get("a").isEmpty && sc.get("b").contains(3.0) && sc.get("c").contains(4.0))

    // Second analyzer sweep with the same cache runs no count/keylike probe jobs:
    // identical candidates, and the cache holds the probes from the first sweep.
    val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val shared = new StatsCache()
    val tables = Map("orders" -> orders, "customer" -> customer)
    val first = new SchemaAnalyzer(statsCache = Some(shared)).suggestForeignKeys(tables)
    val cachedProbes = shared.size
    assert(cachedProbes > 0, "sweep must populate the cache")
    val second = new SchemaAnalyzer(statsCache = Some(shared)).suggestForeignKeys(tables)
    assert(first == second)
    assert(shared.size == cachedProbes, "re-sweep must not add probes")
    assert(first.exists(c => c.childColumn == "o_custkey" && c.parentColumn == "c_custkey"))
  }

  test("formatters render text and valid-ish json") {
    import spark.implicits._
    val df = Seq((1, "a"), (2, null)).toDF("id", "s")
    val report = ValidationSuite.builder("fmt")
      .check(CheckBuilder("c", Level.Error)
        .hasSize(Assertion.Equals(2))
        .isComplete("s")
        .build())
      .build().run(df)
    val txt = Formatters.text(report)
    assert(txt.contains("FAILED") && txt.contains("Completeness(s)"))
    val js = Formatters.json(report)
    assert(js.contains("\"success\":false"))
    // driver-side sanity: parses as JSON via Spark's own parser
    val parsed = spark.read.json(Seq(js).toDS())
    assert(parsed.columns.contains("checks"))
  }
}
