package graftbench

import graft.analyzers._
import graft.core._
import graft.operators.Dedup
import graft.repository.{ParquetMetricsRepository, ResultKey}
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr, round}
import scala.collection.mutable

/** The outcome of one op: the input rows it processed and its correctness check,
  * which returns a mismatch. The check may run later than the op: the ops of the
  * first set-up run before the expected values exist, so that the oracle's own
  * Spark jobs do not warm the session whose first op is measured.
  */
final case class Op(rows: Long, check: () => Option[String])

/** One workload: its op, the independent expected values the op is checked
  * against, and the rows one op processes.
  */
abstract class Workload(val data: String) {
  /** Called on every new session, before its first op. */
  def open(spark: SparkSession): Unit = ()
  /** Computes expected values with plain Spark SQL; called once, untimed. */
  def prepareOracle(spark: SparkSession): Unit
  /** Runs one op; throws if the library does. */
  def op(spark: SparkSession, tracer: Tracer, traced: Boolean): Op
  /** Checks made once after the timed phase; a Some is a mismatch. */
  def finish(spark: SparkSession): Option[String] = None
  /** Called after every op and its check, outside the op's timing. */
  def afterOp(): Unit = ()
  /** Warm-up ops between the last set-up and the timed phase. */
  def warmUps: Int = 3
}

object Workload {
  val Names = Seq("suite_scan", "suite_mixed", "incremental_ingest", "dedup_corpus")

  def apply(name: String, data: String, seed: Long, work: String): Workload = name match {
    case "suite_scan" => new SuiteScan(data)
    case "suite_mixed" => new SuiteMixed(data)
    case "incremental_ingest" => new IncrementalIngest(data, work)
    case "dedup_corpus" => new DedupCorpus(data, seed)
  }

  /** Relative float tolerance: the library and the oracle sum in different orders. */
  def close(a: Double, b: Double, rel: Double = 1e-9): Boolean =
    a == b || math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def status(ok: Boolean): ConstraintStatus =
    if (ok) ConstraintStatus.Success else ConstraintStatus.Failure
}

/** An expected constraint outcome: its status and a test on its metric. */
final case class Expect(status: ConstraintStatus, metricOk: Option[Double] => Boolean, what: String)

object Expect {
  def value(v: Double, ok: Boolean): Expect =
    Expect(Workload.status(ok), m => m.exists(Workload.close(_, v)), s"$v")
}

/** Splits the suite's wall time at the listener callbacks: batched constraints
  * complete together right after the shared scan, multi-job constraints after the
  * job pool joins. Records the three parts as child spans of `core.suite`.
  */
final class SuiteTiming(nBatched: Int, tracer: Tracer) extends ValidationListener {
  private val t0 = System.nanoTime()
  private var seen = 0
  private var lastBatched = -1L
  private var firstCustom = -1L
  private val custom = mutable.ArrayBuffer.empty[ConstraintResult]

  def onConstraintComplete(r: ConstraintResult): Unit = {
    val now = System.nanoTime()
    seen += 1
    if (seen <= nBatched) lastBatched = now
    else { if (firstCustom < 0) firstCustom = now; custom += r }
    if (r.message.startsWith("evaluation error")) tracer.count("constraints.eval_errors")
  }
  def onSuiteComplete(suiteName: String, metrics: ValidationMetrics): Unit = ()

  def finish(): Unit = {
    val end = System.nanoTime()
    val sharedEnd = if (lastBatched > 0) lastBatched else t0
    val multiEnd = if (firstCustom > 0) firstCustom else sharedEnd
    tracer.record("core.shared_scan", t0, sharedEnd)
    tracer.record("core.multijob", sharedEnd, multiEnd)
    tracer.record("core.fold", multiEnd, end)
    tracer.count("constraints.multijob_busy_s", custom.map(_.durationMillis).sum / 1000.0)
    tracer.count("constraints.slowest_s", custom.map(_.durationMillis).maxOption.getOrElse(0L) / 1000.0)
  }
}

/** A suite workload: the op opens its tables and runs one ValidationSuite. */
abstract class SuiteWorkload(data: String) extends Workload(data) {
  protected var expected: Seq[Expect] = Nil
  protected def rows: Long
  protected def build(spark: SparkSession, tracer: Tracer): (ValidationSuite, DataFrame)

  def op(spark: SparkSession, tracer: Tracer, traced: Boolean): Op = {
    val (suite, df) = build(spark, tracer)
    val report = tracer.span("core.suite") {
      if (!traced) suite.run(df)
      else {
        val timing = new SuiteTiming(suite.checks.flatMap(_.constraints).count(_.aggregates.nonEmpty), tracer)
        try suite.run(df, timing) finally timing.finish()
      }
    }
    val results = report.allResults
    Op(rows, () =>
      if (results.size != expected.size) Some(s"${results.size} results, expected ${expected.size}")
      else results.zip(expected).collectFirst {
        case (r, e) if r.status != e.status || !e.metricOk(r.metric.flatMap(_.asDouble)) =>
          s"${r.constraint}: got ${r.status} ${r.metric} (${r.message}), expected ${e.status} ${e.what}"
      })
  }
}

/** The paper's headline path: 20 batch-only constraints, one shared scan. */
final class SuiteScan(data: String) extends SuiteWorkload(data) {
  protected def rows: Long = Gen.Sizes.LineitemRows

  protected def build(spark: SparkSession, tracer: Tracer): (ValidationSuite, DataFrame) = {
    val df = tracer.span("sources.open")(Sources.parquet(spark, Seq(s"$data/lineitem")))
    val check = CheckBuilder("lineitem", Level.Error)
      .hasSize(Assertion.GreaterThan(0))
      .isComplete("l_orderkey")
      .isComplete("l_partkey")
      .isComplete("l_suppkey")
      .isComplete("l_quantity")
      .isComplete("l_extendedprice")
      .hasCompleteness("l_discount", Assertion.GreaterThanOrEqual(0.99))
      .hasCompleteness("l_tax", Assertion.GreaterThanOrEqual(0.99))
      .isContainedIn("l_returnflag", Seq("A", "N", "R"))
      .isContainedIn("l_linestatus", Seq("O", "F"))
      .hasMin("l_quantity", Assertion.GreaterThanOrEqual(0))
      .hasMax("l_quantity", Assertion.LessThanOrEqual(100))
      .hasMean("l_discount", Assertion.Between(0.0, 0.2))
      .hasSum("l_extendedprice", Assertion.GreaterThan(0))
      .hasStandardDeviation("l_extendedprice", Assertion.GreaterThan(0))
      .hasMin("l_extendedprice", Assertion.GreaterThanOrEqual(0))
      .hasMax("l_tax", Assertion.LessThanOrEqual(1.0))
      .hasPattern("l_returnflag", "^[ANR]$")
      .satisfies("l_discount >= 0 AND l_discount <= 0.5", "discount sane")
      .hasApproxCountDistinct("l_partkey", Assertion.GreaterThan(0))
      .build()
    (ValidationSuite("suite_scan", Seq(check)), df)
  }

  def prepareOracle(spark: SparkSession): Unit = {
    spark.read.parquet(s"$data/lineitem").createOrReplaceTempView("oracle_lineitem")
    val r = spark.sql(
      """SELECT count(*), count(l_orderkey), count(l_partkey), count(l_suppkey),
        |  count(l_quantity), count(l_extendedprice), count(l_discount), count(l_tax),
        |  sum(CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN 1 ELSE 0 END), count(l_returnflag),
        |  sum(CASE WHEN l_linestatus IN ('O', 'F') THEN 1 ELSE 0 END), count(l_linestatus),
        |  min(l_quantity), max(l_quantity), avg(l_discount), sum(l_extendedprice),
        |  stddev_samp(l_extendedprice), min(l_extendedprice), max(l_tax),
        |  sum(CASE WHEN l_returnflag RLIKE '^[ANR]$' THEN 1 ELSE 0 END),
        |  sum(CASE WHEN l_discount >= 0 AND l_discount <= 0.5 THEN 1 ELSE 0 END),
        |  approx_count_distinct(l_partkey, 0.05)
        |FROM oracle_lineitem""".stripMargin).head()
    def d(i: Int): Double = r.get(i).asInstanceOf[Number].doubleValue
    val n = d(0)
    def ratio(v: Double, min: Double) = Expect.value(v, v >= min)
    expected = Seq(Expect.value(n, n > 0)) ++
      (1 to 5).map(i => ratio(d(i) / n, 1.0)) ++
      Seq(ratio(d(6) / n, 0.99), ratio(d(7) / n, 0.99),
        ratio(d(8) / d(9), 1.0), ratio(d(10) / d(11), 1.0),
        Expect.value(d(12), d(12) >= 0), Expect.value(d(13), d(13) <= 100),
        Expect.value(d(14), d(14) >= 0 && d(14) <= 0.2), Expect.value(d(15), d(15) > 0),
        Expect.value(d(16), d(16) > 0), Expect.value(d(17), d(17) >= 0),
        Expect.value(d(18), d(18) <= 1.0), ratio(d(19) / d(9), 1.0), ratio(d(20) / n, 1.0),
        Expect.value(d(21), d(21) > 0))
  }
}

/** Batchable constraints next to distinct/quantile aggregates and multi-job
  * (join, groupBy, window) constraints over orders and customers.
  */
final class SuiteMixed(data: String) extends SuiteWorkload(data) {
  protected def rows: Long = Gen.Sizes.OrdersRows + Gen.Sizes.CustomerRows
  private val MaxGapSeconds = 20L * 365 * 86400

  protected def build(spark: SparkSession, tracer: Tracer): (ValidationSuite, DataFrame) = {
    val (orders, customer) = tracer.span("sources.open")(
      (Sources.parquet(spark, Seq(s"$data/orders")), Sources.parquet(spark, Seq(s"$data/customer"))))
    val check = CheckBuilder("orders", Level.Error)
      .hasSize(Assertion.GreaterThan(0))
      .isComplete("o_custkey")
      .hasCompleteness("o_totalprice", Assertion.GreaterThanOrEqual(0.95))
      .isContainedIn("o_orderpriority", Gen.Priorities)
      .hasMean("o_totalprice", Assertion.Between(1000, 500000))
      .isPrimaryKey("o_orderkey")
      .hasMedian("o_totalprice", Assertion.Between(1000, 500000))
      .hasForeignKey(customer, "o_custkey" -> "c_custkey")
      .hasEntropy("o_orderpriority", Assertion.Between(1.5, 1.7))
      .hasUniqueValueRatio(Seq("o_custkey"), Assertion.GreaterThanOrEqual(0.0))
      .hasMaxTimeGap("o_orderdate", Seq("o_custkey"), MaxGapSeconds)
      .build()
    (ValidationSuite("suite_mixed", Seq(check)), orders)
  }

  def prepareOracle(spark: SparkSession): Unit = {
    spark.read.parquet(s"$data/orders").createOrReplaceTempView("oracle_orders")
    spark.read.parquet(s"$data/customer").createOrReplaceTempView("oracle_customer")
    def one(sql: String): Row = spark.sql(sql).head()
    def d(r: Row, i: Int): Double = r.get(i).asInstanceOf[Number].doubleValue
    val a = one(
      s"""SELECT count(*), count(o_custkey), count(o_totalprice),
         |  sum(CASE WHEN o_orderpriority IN (${Gen.Priorities.map(p => s"'$p'").mkString(", ")})
         |    THEN 1 ELSE 0 END), count(o_orderpriority), avg(o_totalprice),
         |  count(DISTINCT o_orderkey), count(o_orderkey)
         |FROM oracle_orders""".stripMargin)
    val n = d(a, 0)
    val mean = d(a, 5)
    // median: percentile_approx(accuracy 10000) is within n/10000 ranks of the
    // true median, so accept any value whose rank falls in that band
    val prices = spark.sql("SELECT o_totalprice FROM oracle_orders WHERE o_totalprice IS NOT NULL")
      .collect().map(_.getDouble(0)).sorted
    val slack = prices.length / 10000.0 + 1
    val medianOk: Option[Double] => Boolean = _.exists { v =>
      val below = prices.count(_ < v); val atMost = prices.count(_ <= v)
      below <= prices.length * 0.5 + slack && atMost >= prices.length * 0.5 - slack &&
        v >= 1000 && v <= 500000
    }
    val orphans = d(one(
      """SELECT count(*) FROM oracle_orders o LEFT ANTI JOIN oracle_customer c
        |ON o.o_custkey = c.c_custkey WHERE o.o_custkey IS NOT NULL""".stripMargin), 0)
    val counts = spark.sql(
      "SELECT count(*) FROM oracle_orders WHERE o_orderpriority IS NOT NULL GROUP BY o_orderpriority")
      .collect().map(_.getLong(0).toDouble)
    val entropy = -counts.map { c => val p = c / counts.sum; p * math.log(p) }.sum
    val u = one(
      """SELECT sum(CASE WHEN c = 1 THEN 1 ELSE 0 END), count(*) FROM
        |(SELECT o_custkey, count(*) AS c FROM oracle_orders WHERE o_custkey IS NOT NULL
        | GROUP BY o_custkey)""".stripMargin)
    val uvr = d(u, 0) / d(u, 1)
    val maxGap = d(one(
      """SELECT max(g) / 1e6 FROM (SELECT unix_micros(o_orderdate) - lag(unix_micros(o_orderdate))
        |OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS g FROM oracle_orders)""".stripMargin), 0)
    val pkOk = d(a, 6) == n && d(a, 7) == n
    expected = Seq(
      Expect.value(n, n > 0),
      Expect.value(d(a, 1) / n, d(a, 1) / n >= 1.0),
      Expect.value(d(a, 2) / n, d(a, 2) / n >= 0.95),
      Expect.value(d(a, 3) / d(a, 4), d(a, 3) / d(a, 4) >= 1.0),
      Expect.value(mean, mean >= 1000 && mean <= 500000),
      Expect.value(1.0, pkOk),
      Expect(ConstraintStatus.Success, medianOk, "median rank band"),
      Expect.value(orphans, orphans == 0),
      Expect.value(entropy, entropy >= 1.5 && entropy <= 1.7),
      Expect.value(uvr, uvr >= 0),
      Expect.value(maxGap, maxGap <= MaxGapSeconds))
  }
}

/** Scheduled ingest: one op analyzes one day incrementally, saves the metrics and
  * checks the newest mean for an anomaly. A pass ingests all days into a fresh
  * state store and metrics repository.
  */
final class IncrementalIngest(data: String, work: String) extends Workload(data) {
  private val analyzers: Seq[Analyzer[_]] = Seq(SizeAnalyzer(), CompletenessAnalyzer("value"),
    MeanAnalyzer("value"), StdDevAnalyzer("value"), MinMaxAnalyzer("value"),
    ApproxCountDistinctAnalyzer("user_id"))
  private val Days = Gen.Sizes.EventDays
  private val DayMs = 86400000L

  private final case class DayStats(n: Long, nv: Long, mean: Double, m2: Double,
      min: Double, max: Double, users: Long)
  /** Cumulative statistics after each day, merged driver-side (Chan et al.). */
  private var prefix: IndexedSeq[DayStats] = IndexedSeq.empty
  private var spark: SparkSession = _
  private var passes = 0
  private var day = 0
  private var passDir: String = _
  private var store: FileSystemStateStore = _
  private var repo: ParquetMetricsRepository = _
  private var last: Map[String, Double] = Map.empty
  private val mismatches = mutable.ArrayBuffer.empty[String]

  def prepareOracle(s: SparkSession): Unit = {
    s.read.parquet(s"$data/events").createOrReplaceTempView("oracle_events")
    val perDay = s.sql(
      """SELECT day, count(*), count(value), coalesce(avg(value), 0D),
        |  coalesce(var_pop(value) * count(value), 0D), min(value), max(value)
        |FROM oracle_events GROUP BY day ORDER BY day""".stripMargin).collect()
    val firstSeen = s.sql(
      """SELECT d, count(*) FROM (SELECT user_id, min(day) AS d FROM oracle_events GROUP BY user_id)
        |GROUP BY d""".stripMargin).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    require(perDay.length == Days, s"${perDay.length} days of events, expected $Days")
    prefix = perDay.scanLeft(DayStats(0, 0, 0, 0, Double.PositiveInfinity, Double.NegativeInfinity, 0)) {
      (acc, r) =>
        val nv = r.getLong(2); val mean = r.getDouble(3); val m2 = r.getDouble(4)
        val tot = acc.nv + nv
        val delta = mean - acc.mean
        DayStats(acc.n + r.getLong(1), tot,
          if (tot == 0) 0.0 else acc.mean + delta * nv / tot,
          acc.m2 + m2 + (if (tot == 0) 0.0 else delta * delta * acc.nv * nv / tot),
          if (r.isNullAt(5)) acc.min else math.min(acc.min, r.getDouble(5)),
          if (r.isNullAt(6)) acc.max else math.max(acc.max, r.getDouble(6)),
          acc.users + firstSeen.getOrElse(r.getInt(0), 0L))
    }.tail.toIndexedSeq
  }

  override def open(s: SparkSession): Unit = { spark = s; newPass() }

  private def newPass(): Unit = {
    if (passDir != null) org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(passDir))
    passes += 1
    passDir = s"$work/pass-$passes"
    store = new FileSystemStateStore(s"$passDir/state", spark)
    repo = new ParquetMetricsRepository(s"$passDir/metrics", spark)
    day = 0
  }

  private def flatten(m: Map[String, MetricValue]): Map[String, Double] = m.flatMap {
    case (k, MetricValue.MapMetric(sub)) => sub.collect { case (s, v) if v.asDouble.isDefined => s"$k.$s" -> v.asDouble.get }
    case (k, v) => v.asDouble.map(k -> _).toSeq
  }

  override def afterOp(): Unit = if (day == Days) { passEndCheck(); newPass() }

  def op(s: SparkSession, t: Tracer, traced: Boolean): Op = {
    val (st, rp) = if (traced) (new TimedStateStore(store, t), new TimedMetricsRepository(repo, t))
      else (store, repo)
    val df = t.span("sources.open")(Sources.parquet(s, Seq(f"$data/events/day=$day%02d")))
    val metrics = t.span("analyzers.analyze")(
      new IncrementalAnalysisRunner(st, analyzers).analyzePartition(df, f"day-$day%02d"))
    val got = flatten(metrics)
    last = got
    rp.save(ResultKey(Gen.Day2024Micros / 1000 + day * DayMs), got)
    val anomalous = t.span("analyzers.anomaly")(
      new AnomalyDetectionRunner(rp, Map("mean.value" -> ZScoreStrategy())).isLatestAnomalous("mean.value"))
    val d = day
    day += 1
    Op(Gen.Sizes.EventRows * (d + 1) / Days - Gen.Sizes.EventRows * d / Days, () => check(d, got, anomalous))
  }

  private def check(day: Int, last: Map[String, Double], anomalous: Boolean): Option[String] = {
    val e = prefix(day)
    val checks = Seq(
      "size.*" -> (last.get("size.*"), e.n.toDouble),
      "completeness.value" -> (last.get("completeness.value"), e.nv.toDouble / e.n),
      "mean.value" -> (last.get("mean.value"), e.mean),
      "stddev.value" -> (last.get("stddev.value"), math.sqrt(e.m2 / (e.nv - 1))),
      "min_max.value.min" -> (last.get("min_max.value.min"), e.min),
      "min_max.value.max" -> (last.get("min_max.value.max"), e.max))
    val bad = checks.collectFirst {
      case (k, (got, want)) if !got.exists(Workload.close(_, want)) => s"day $day $k: got $got, expected $want"
    }.orElse {
      val got = last.getOrElse("approx_count_distinct.user_id", -1.0)
      // HLL (lgK 12) relative standard error is 1.6%; 4 sigma
      if (math.abs(got - e.users) <= 0.065 * e.users) None
      else Some(s"day $day approx distinct users $got, exact ${e.users}")
    }.orElse(expectedAnomaly(day).filter(_ != anomalous).map(w => s"day $day anomaly flag $anomalous, expected $w"))
    bad
  }

  /** The z-score verdict (threshold 3, three points of history) on the expected
    * series; None when the score is too close to the threshold to call.
    */
  private def expectedAnomaly(d: Int): Option[Boolean] =
    if (d < 3) Some(false)
    else {
      val prior = (0 until d).map(prefix(_).mean)
      val m = prior.sum / prior.size
      val sd = math.sqrt(prior.map(x => (x - m) * (x - m)).sum / prior.size)
      if (sd == 0) Some(false)
      else {
        val z = math.abs(prefix(d).mean - m) / sd
        if (math.abs(z - 3.0) < 1e-6) None else Some(z > 3.0)
      }
    }

  /** The cumulative metrics equal a one-shot AnalysisRunner over every day ingested
    * so far in this pass.
    */
  private def passEndCheck(): Unit = if (day > 0) {
    val all = Sources.parquet(spark, (0 until day).map(d => f"$data/events/day=$d%02d"))
    val once = flatten(new AnalysisRunner(analyzers, continueOnError = false).run(all).metrics)
    val e = prefix(day - 1)
    once.foreach { case (k, v) =>
      val ok = if (k.startsWith("approx_count_distinct")) math.abs(v - e.users) <= 0.065 * e.users &&
          last.get(k).exists(g => math.abs(g - e.users) <= 0.065 * e.users)
        else last.get(k).exists(Workload.close(_, v))
      if (!ok) mismatches += s"pass $passes after $day days: $k one-shot $v, incremental ${last.get(k)}"
    }
  }

  override def finish(s: SparkSession): Option[String] = {
    passEndCheck()
    mismatches.headOption
  }

  /** Parquet files in the current pass's metrics log. */
  def logFiles: Int = Option(new java.io.File(s"$passDir/metrics").listFiles())
    .map(_.count(f => f.getName.endsWith(".parquet"))).getOrElse(0)
}

/** MinHash-LSH near-duplicate pairs over a document corpus. */
final class DedupCorpus(data: String, seed: Long) extends Workload(data) {
  private val Threshold = 0.9
  private val corpus = new Gen.Corpus(new Gen.Draw(seed))
  private var planted: Set[(Long, Long)] = Set.empty
  private var reference: Option[Set[(Long, Long)]] = None
  private var checksum: Option[Long] = None

  def prepareOracle(spark: SparkSession): Unit = planted = corpus.plantedPairs(Gen.Sizes.DocRows)

  private def shingles(t: String): Set[String] =
    if (t.length < 5) Set(t) else t.sliding(5).toSet
  private def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (shingles(corpus.text(a)), shingles(corpus.text(b)))
    (x intersect y).size.toDouble / (x union y).size
  }

  def op(spark: SparkSession, tracer: Tracer, traced: Boolean): Op = {
    val df = tracer.span("sources.open")(Sources.parquet(spark, Seq(s"$data/documents")))
    val rows =
      if (!traced) Dedup.nearDupPairsMinhash(df, "doc_id", "text", Threshold).collect()
      else {
        // nearDupPairsMinhash's own two steps, timed one by one
        val cands = tracer.span("operators.candidates") {
          val c = Dedup.minhashCandidatePairs(df, "doc_id", "text").localCheckpoint(true)
          tracer.count("operators.candidate_pairs", c.count().toDouble)
          c
        }
        tracer.span("operators.verify") {
          Dedup.exactJaccard(cands, df, "doc_id", "text", minJaccard = Threshold)
            .filter(col("jaccard") >= Threshold)
            .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard")).collect()
        }
      }
    tracer.count("operators.verified_pairs", rows.length.toDouble)
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    if (reference.isEmpty) reference = Some(pairs)
    Op(Gen.Sizes.DocRows, () => {
      val missing = planted.diff(pairs)
      val sample = pairs.toSeq.sorted.zipWithIndex.collect { case (p, i) if i % 97 == 0 => p }
      if (missing.nonEmpty) Some(s"${missing.size} planted exact-copy pairs missing, e.g. ${missing.head}")
      else if (!reference.contains(pairs)) Some(s"pair set changed: ${pairs.size} vs ${reference.get.size}")
      else sample.find { case (a, b) => jaccard(a, b) < Threshold }
        .map { case (a, b) => s"pair ($a, $b) has Jaccard ${jaccard(a, b)} < $Threshold" }
    })
  }

  // the op's latency keeps falling for about eight ops on a session (measured), so
  // the timed phase starts after more of them than on the other workloads
  override def warmUps: Int = 8

  /** Traced runs only: the signature kernel alone, outside any op. */
  def probe(spark: SparkSession, tracer: Tracer): Unit = {
    val df = Sources.parquet(spark, Seq(s"$data/documents"))
    val x = tracer.span("functions.minhash") {
      df.select(Dedup.minhashSignature(col("text"), 5, 128).as("s"))
        .select(expr("aggregate(s, 0L, (a, v) -> a ^ v)").as("x"))
        .agg(expr("bit_xor(x)")).head().getLong(0)
    }
    tracer.count("functions.signatures", Gen.Sizes.DocRows.toDouble)
    if (checksum.exists(_ != x)) throw new IllegalStateException(s"signature checksum changed: $x vs $checksum")
    checksum = Some(x)
  }
}
