package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Named query catalog backing `SparkEntry.queries` / `SparkEntry.oracleSql`.
  *
  * Each entry pairs a Spark DataFrame computation (built on [[Metrics]] /
  * [[graft.operators]] machinery) with semantically equivalent DuckDB SQL run by the
  * driver as the correctness oracle. Column names/aliases MUST match the SQL exactly.
  *
  * Determinism notes: ratios are divisions of exactly-computed counts (bit-identical
  * across engines); floating aggregates over data-dependent orderings (sums of doubles,
  * stddev, corr, entropy) are rounded to a tolerance far above both engines'
  * accumulated error.
  */
object Queries {

  final case class QueryDef(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def b2l(b: Boolean): Long = if (b) 1L else 0L

  /** NaN/Inf-safe HALF_UP rounding: `BigDecimal(NaN)` THROWS, while both engines'
    * `round()` pass non-finite values through — a NaN metric (legal on NaN-bearing
    * input) must compare as NaN, not crash the query.
    */
  private def rd(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Constraint metric as a nullable rounded double: a constraint that SKIPS (e.g. on
    * empty input) carries no metric — surface SQL NULL, exactly what the oracle's
    * aggregate yields over zero rows, instead of crashing on `.get`.
    */
  private def optD(r: graft.core.ConstraintResult, scale: Int): Option[Double] =
    r.metric.flatMap(_.asDouble).map(rd(_, scale))

  /** Per-JVM temp dir for source round-trip queries (csv/json). Keyed by the
    * scale-factor dir hash AND the process PID: two concurrent JVMs running the SAME
    * scale factor must not race (a mode=overwrite delete would yank files another JVM
    * is reading mid-scan). Cleaned up by a shutdown hook so per-run copies don't leak.
    */
  private def sourceTmpDir(prefix: String, sfDir: String): String = {
    val pid = ProcessHandle.current().pid()
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_${prefix}_${sfDir.hashCode.toHexString}_$pid"
    val f = new java.io.File(path)
    if (cleanupRegistered.add(path)) Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.core.FsUtil.deleteRecursively(f)))
    path
  }
  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts has shipped as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across
    // testdata generations, so normalize by the type the reader actually produced, not
    // by assumption: nanos (read as long via the legacy conf) rebuild a microsecond
    // TIMESTAMP; micros arrive as TIMESTAMP_NTZ and cast to session-local TIMESTAMP
    // (identical wall-clock under the UTC session). Both paths land on the same
    // TIMESTAMP type the query catalog and its DuckDB oracles were calibrated against.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") {
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      df.schema("ts").dataType match {
        case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    } else df
  }

  /** Shared scaffold for the probe-seeded similarity queries: look up the vec_id=0
    * probe vector (an empty corpus has no probe row → empty top-k, not a crash) and
    * run `body` with it, else the shared empty (vec_id, cosine) frame. One definition
    * so the fallback schema and probe lookup cannot drift between the three queries.
    */
  /** Seed-keyed synthetic-media fixture shared by a multimodal query and its operator
    * arm: every doc gets deterministic media bytes (`mk`, a pure function of doc_id,
    * so the cache can never go stale against the data), materialized ONCE per
    * (tag, dir, doc-count) into /tmp and read back as STORED media — what a
    * production caller's input actually is. The per-row encode is fixture
    * scaffolding (the GIF-sequence writer alone was ~3 s of every timed run of the
    * video query at sf0.1), not the operator under measurement. `tag` keys the
    * parameterization: bump it if `mk`'s construction ever changes.
    * Returns (media, nDocs).
    */
  // (nDocs, xor-of-doc_ids) per dataset dir, computed once per JVM: the fixture key
  // needs a content FINGERPRINT (a regenerated dataset with the same row count but
  // different doc_ids must rebuild, not reuse a stale fixture — the same reasoning
  // as the tuned-lineitem cache key in Bench), and the scan that computes it must
  // not run inside every timed execution of six media queries.
  private val fixtureMeta =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  private def docsFingerprint(s: SparkSession, d: String): (Long, Long) =
    fixtureMeta.computeIfAbsent(d, _ => {
      // bit_xor, not sum: summing full-range xxhash64 longs overflows, which
      // ANSI mode (the Spark 4 default) turns into a runtime error
      val row = t(s, d, "documents").filter(col("doc_id").isNotNull)
        .agg(count(lit(1)).as("n"),
          coalesce(expr("bit_xor(xxhash64(doc_id))"), lit(0L)).as("fp")).head()
      (row.getLong(0), row.getLong(1))
    })

  private def mediaFixture(s: SparkSession, d: String, tag: String, colName: String)(
      mk: Long => Array[Byte]): (DataFrame, Long) = {
    val (nDocs, fp) = docsFingerprint(s, d)
    // The fixture is written SPLITTABLE (one file per core): the shipped test
    // corpora are single-row-group parquet, and a fixture written 1:1 from that
    // scan pins every downstream media decode UDF — the dominant per-task cost of
    // all six media queries — to ONE task of the session (guide §2/§6: a row group
    // is parquet's minimum split unit). The layout rides the cache key so a
    // fixture built single-file by an older round rebuilds instead of silently
    // re-serializing the decode stage.
    val par = s.sparkContext.defaultParallelism
    val fix = s"${System.getProperty("java.io.tmpdir")}/graft_bench_${tag}_" +
      s"${d.hashCode.toHexString}_${nDocs}_${fp.toHexString}_p$par"
    if (!new java.io.File(s"$fix/_SUCCESS").exists()) {
      val mkU = udf(mk)
      // Repartition the SKINNY doc_id projection, then apply the encode UDF
      // (round-15 ADVICE item): the one-time build runs the encoder on every
      // core and only 8 B/row crosses the exchange — encoding first would run
      // the UDF in the single-row-group scan's lone task and ship the generated
      // media blobs through the shuffle (the repo guideline is that media bytes
      // never cross an exchange).
      t(s, d, "documents").filter(col("doc_id").isNotNull)
        .select(col("doc_id"))
        .repartition(par)
        .select(col("doc_id"), mkU(col("doc_id")).as(colName))
        .write.mode("overwrite").parquet(fix)
    }
    (s.read.parquet(fix), nDocs)
  }

  /** The video-dedup clip fixture: noise-frame GIFs keyed on s = pmod(doc_id, 37)
    * with k = 2 + s%2 frames. nDocs sizes the banded-join bucket guard — each
    * (band, frame) bucket holds ~nDocs/37 identical same-seed hashes, so a FIXED
    * maxBucketSize would silently drop every same-seed bucket past ~37x its value
    * and diverge from the oracle's n_pairs arithmetic.
    */
  private[graft] def videoClipFixture(s: SparkSession, d: String): (DataFrame, Long) =
    mediaFixture(s, d, "vid", "clip") { id =>
      val seed = ((id % 37) + 37) % 37
      graft.operators.Multimodal.MediaCodecs.encodeAnimatedGif(
        16, 12, (2 + seed % 2).toInt, seed)
    }

  /** The image-dedup fixture: deterministic noise PNGs keyed on pmod(doc_id, 37). */
  private def imageFixture(s: SparkSession, d: String): (DataFrame, Long) =
    mediaFixture(s, d, "img", "img")(id =>
      graft.operators.Multimodal.MediaCodecs.encodeNoiseImage(
        24, 16, "png", (((id % 37) + 37) % 37)))

  /** The audio-dedup fixture: block-loudness noise WAVs keyed on pmod(doc_id, 37). */
  private def audioFixture(s: SparkSession, d: String): (DataFrame, Long) =
    mediaFixture(s, d, "snd", "snd")(id =>
      graft.operators.Multimodal.MediaCodecs.encodeNoiseWav(
        8000, 4096, (((id % 37) + 37) % 37)))

  /** Bucket guard sized to the pmod-37 same-seed fixture geometry ALL media
    * fixtures share (2x headroom over the expected nDocs/37 same-hash bucket),
    * floored at the operator default — a FIXED guard silently drops every
    * same-seed bucket past ~37x its value and diverges from the oracles'
    * n_pairs arithmetic.
    */
  private[graft] def mediaBucketGuard(nDocs: Long): Int =
    math.max(10000L, nDocs / 37 * 2 + 16).min(Int.MaxValue).toInt

  private def withProbe(s: SparkSession, d: String)(body: Seq[Float] => DataFrame): DataFrame =
    // isNotNull: a probe ROW with a NULL embedding must degrade like a missing row
    // (the None branch), not NPE on getSeq(0).toSeq.
    t(s, d, "embeddings").filter(col("vec_id") === 0 && col("embedding").isNotNull)
      .select("embedding").head(1).headOption.map(_.getSeq[Float](0).toSeq) match {
      case Some(probe) => body(probe)
      case None =>
        import s.implicits._
        Seq.empty[(Long, Double)].toDF("vec_id", "cosine")
    }

  /** 24 distinct Han characters for constructed-CJK oracle fixtures — three
    * DISJOINT 8-char group slices, so runs of ≤ 8 chars at a slice offset never
    * wrap into another group's characters (needed for closed-form containment
    * arithmetic in the dedup oracle).
    */
  private val HanAlpha = Seq("中", "文", "数", "据", "处", "理", "系", "统",
    "语", "言", "模", "型", "训", "练", "样", "本",
    "分", "词", "检", "索", "评", "估", "质", "量")

  /** Deterministic Han run: `HanAlpha[(off + i) % 24]` for i < n — the Column form
    * and [[hanRunSql]] build the SAME string from a doc_id, so oracles replay the
    * construction instead of shipping fixtures.
    */
  private def hanRun(n: Column, off: Column): Column =
    array_join(transform(sequence(lit(0), n.cast("int") - 1),
      i => element_at(array(HanAlpha.map(lit): _*),
        ((i + off.cast("int")) % 24 + 1).cast("int"))), "")

  private def hanRunSql(n: String, off: String): String = {
    val alpha = HanAlpha.map(c => s"'$c'").mkString(",")
    s"array_to_string(list_transform(range(0, $n), i -> ([$alpha])[CAST((i + $off) % 24 AS INT) + 1]), '')"
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- size / completeness / uniqueness family ----
    QueryDef("size_lineitem",
      (s, d) => Metrics.size(t(s, d, "lineitem")),
      Some("SELECT count(*) AS row_count FROM lineitem")),

    QueryDef("completeness_customer",
      (s, d) => Metrics.completeness(t(s, d, "customer"), "c_acctbal"),
      Some("""SELECT count(*) AS total, count(c_acctbal) AS non_null,
             | CAST(count(c_acctbal) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS ratio
             | FROM customer""".stripMargin.replaceAll("\n", " "))),

    QueryDef("uniqueness_orders",
      (s, d) => Metrics.uniqueness(t(s, d, "orders"), Seq("o_orderkey")),
      Some("""SELECT count(*) AS total, count(DISTINCT o_orderkey) AS distinct_count,
             | CAST(count(DISTINCT o_orderkey) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS uniqueness
             | FROM orders""".stripMargin.replaceAll("\n", " "))),

    QueryDef("distinctness_returnflag",
      (s, d) => Metrics.distinctness(t(s, d, "lineitem"), "l_returnflag"),
      Some("""SELECT count(l_returnflag) AS non_null, count(DISTINCT l_returnflag) AS distinct_count,
             | CAST(count(DISTINCT l_returnflag) AS DOUBLE) / CAST(count(l_returnflag) AS DOUBLE) AS distinctness
             | FROM lineitem""".stripMargin.replaceAll("\n", " "))),

    QueryDef("unique_value_ratio_partkey",
      (s, d) => Metrics.uniqueValueRatio(t(s, d, "lineitem"), Seq("l_partkey")),
      Some("""WITH vc AS (SELECT l_partkey, count(*) AS cnt FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1)
             | SELECT CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS unique_values,
             | count(*) AS distinct_values,
             | CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS unique_value_ratio
             | FROM vc""".stripMargin.replaceAll("\n", " "))),

    QueryDef("primary_key_orders",
      (s, d) => Metrics.primaryKey(t(s, d, "orders"), Seq("o_orderkey")),
      Some("""SELECT count(*) AS total, count(DISTINCT o_orderkey) AS distinct_count,
             | CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_keys
             | FROM orders""".stripMargin.replaceAll("\n", " "))),

    // ---- statistics family ----
    QueryDef("stats_quantity",
      (s, d) => t(s, d, "lineitem").agg(
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(col("l_quantity")).as("cnt_qty")),
      Some("""SELECT min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
             | round(sum(l_quantity), 2) AS sum_qty, count(l_quantity) AS cnt_qty
             | FROM lineitem""".stripMargin.replaceAll("\n", " "))),

    QueryDef("stats_extendedprice",
      // finite values only: one NaN/Inf poisons every moment (and DuckDB's stddev
      // errors on Inf, so the metric isn't even oracle-expressible unfiltered)
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_extendedprice").between(-Double.MaxValue, Double.MaxValue))
        .agg(
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        round(sum(col("l_extendedprice")) / count(col("l_extendedprice")), 4).as("mean_price"),
        round(stddev_samp(col("l_extendedprice")), 4).as("stddev_price")),
      Some("""SELECT round(sum(l_extendedprice), 2) AS sum_price,
             | round(sum(l_extendedprice) / count(l_extendedprice), 4) AS mean_price,
             | round(stddev_samp(l_extendedprice), 4) AS stddev_price
             | FROM lineitem WHERE isfinite(CAST(l_extendedprice AS DOUBLE))""".stripMargin.replaceAll("\n", " "))),

    // Exact quantiles through the DISTRIBUTED operator (Quantiles.exactQuantiles):
    // sketch-bracketed rank selection — no whole-value-set single-task merge like
    // Spark's own `percentile`. collectThreshold is forced tiny so the oracle runs
    // exercise the sketch+bracket path (default 1M would collect-all at sf0.01).
    QueryDef("median_quantity",
      (s, d) => {
        val m = graft.operators.Quantiles
          .exactQuantile(t(s, d, "lineitem"), "l_quantity", 0.5, collectThreshold = 1000)
        import s.implicits._
        Seq(m.map(rd(_, 6))).toDF("median_qty") // None (empty input) -> SQL NULL
      },
      Some("SELECT round(quantile_cont(l_quantity, 0.5), 6) AS median_qty FROM lineitem" +
        " WHERE isfinite(CAST(l_quantity AS DOUBLE))")),

    QueryDef("quantiles_price",
      (s, d) => {
        val qs = graft.operators.Quantiles
          .exactQuantiles(t(s, d, "lineitem"), "l_extendedprice", Seq(0.25, 0.5, 0.75),
            collectThreshold = 1000)
          .map(_.map(rd(_, 4)))
        import s.implicits._
        Seq((qs.map(_(0)), qs.map(_(1)), qs.map(_(2)))).toDF("p25", "p50", "p75")
      },
      Some("""SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
             | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
             | round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
             | FROM lineitem WHERE isfinite(CAST(l_extendedprice AS DOUBLE))""".stripMargin.replaceAll("\n", " "))),

    // MultiStatisticConstraint THROUGH the constraint surface (one shared scan, a
    // MapMetric of every statistic) — the values must equal DuckDB's closed forms.
    QueryDef("multi_statistic_quantity",
      (s, d) => {
        import graft.constraints._
        import graft.core._
        val ge0 = Assertion.GreaterThanOrEqual(0.0)
        val c = MultiStatisticConstraint("l_quantity", Seq(
          Stat.Min -> ge0, Stat.Max -> ge0, Stat.Mean -> ge0,
          Stat.Sum -> ge0, Stat.StdDev -> ge0, Stat.Variance -> ge0))
        val m = ValidationSuite.evaluateBatched(t(s, d, "lineitem"), Seq(c))
          .head.metric.map(_.asInstanceOf[MetricValue.MapMetric].value)
        def v(k: String, scale: Int) = m.flatMap(_(k).asDouble).map(rd(_, scale))
        import s.implicits._
        Seq((v("min", 2), v("max", 2), v("mean", 6), v("sum", 2), v("stddev", 4), v("variance", 4)))
          .toDF("min_q", "max_q", "mean_q", "sum_q", "stddev_q", "variance_q")
      },
      Some("""SELECT round(CAST(min(l_quantity) AS DOUBLE), 2) AS min_q,
             | round(CAST(max(l_quantity) AS DOUBLE), 2) AS max_q,
             | round(CAST(avg(l_quantity) AS DOUBLE), 6) AS mean_q,
             | round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_q,
             | round(CAST(stddev_samp(l_quantity) AS DOUBLE), 4) AS stddev_q,
             | round(CAST(var_samp(l_quantity) AS DOUBLE), 4) AS variance_q
             | FROM lineitem""".stripMargin.replaceAll("\n", " "))),

    // MultiQuantileConstraint (exact method) through the constraint surface: the
    // VectorMetric must equal DuckDB's continuous quantiles.
    QueryDef("multi_quantile_price",
      (s, d) => {
        import graft.constraints._
        import graft.core._
        val ge0 = Assertion.GreaterThanOrEqual(0.0)
        val c = MultiQuantileConstraint("l_extendedprice",
          Seq(0.25 -> ge0, 0.5 -> ge0, 0.75 -> ge0), QuantileMethod.Exact)
        val qs = ValidationSuite.evaluateBatched(t(s, d, "lineitem"), Seq(c))
          .head.metric.map(_.asInstanceOf[MetricValue.VectorMetric].value.map(rd(_, 4)))
        import s.implicits._
        Seq((qs.map(_(0)), qs.map(_(1)), qs.map(_(2)))).toDF("p25", "p50", "p75")
      },
      Some("""SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
             | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
             | round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
             | FROM lineitem WHERE isfinite(CAST(l_extendedprice AS DOUBLE))""".stripMargin.replaceAll("\n", " "))),

    // BeforeAfterConstraint (strict and non-strict) through the constraint surface:
    // metric = fraction of both-non-null rows in order. The (discount, tax) pair is
    // non-trivially ordered in both directions (the fixtures have no date pair in one
    // table), exercising the generic column-pair comparison.
    QueryDef("before_after_discount_tax",
      (s, d) => {
        import graft.constraints._
        import graft.core._
        val rs = ValidationSuite.evaluateBatched(t(s, d, "lineitem"), Seq(
          BeforeAfterConstraint("l_discount", "l_tax"),
          BeforeAfterConstraint("l_discount", "l_tax", strict = true)))
        def ratio(i: Int) = optD(rs(i), 6)
        import s.implicits._
        Seq((ratio(0), ratio(1))).toDF("leq_ratio", "lt_ratio")
      },
      Some("""SELECT
             | round(CAST(sum(CASE WHEN l_discount <= l_tax THEN 1 ELSE 0 END) AS DOUBLE)
             |   / CAST(sum(CASE WHEN l_discount IS NOT NULL AND l_tax IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE), 6) AS leq_ratio,
             | round(CAST(sum(CASE WHEN l_discount < l_tax THEN 1 ELSE 0 END) AS DOUBLE)
             |   / CAST(sum(CASE WHEN l_discount IS NOT NULL AND l_tax IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE), 6) AS lt_ratio
             | FROM lineitem""".stripMargin.replaceAll("\n", " "))),

    // LengthConstraint min/max/mean modes through the constraint surface (the sibling
    // length_customer_name query re-derives raw aggregates without the constraint).
    QueryDef("length_constraint_text",
      (s, d) => {
        import graft.constraints._
        import graft.core._
        val ge0 = Assertion.GreaterThanOrEqual(0.0)
        val rs = ValidationSuite.evaluateBatched(t(s, d, "documents"), Seq(
          LengthConstraint("text", ge0, Stat.Min),
          LengthConstraint("text", ge0, Stat.Max),
          LengthConstraint("text", ge0, Stat.Mean)))
        def v(i: Int, scale: Int) = optD(rs(i), scale)
        import s.implicits._
        Seq((v(0, 0), v(1, 0), v(2, 6))).toDF("min_len", "max_len", "mean_len")
      },
      Some("""SELECT CAST(min(length(text)) AS DOUBLE) AS min_len,
             | CAST(max(length(text)) AS DOUBLE) AS max_len,
             | round(CAST(sum(length(text)) AS DOUBLE) / CAST(count(text) AS DOUBLE), 6) AS mean_len
             | FROM documents""".stripMargin.replaceAll("\n", " "))),

    // Library path uses approx_count_distinct (mergeable HLL++); the oracle-facing
    // value is the exact distinct count (FIXTURES.md oracle protocol).
    QueryDef("count_distinct_partkey",
      (s, d) => t(s, d, "lineitem").agg(countDistinct(col("l_partkey")).as("distinct_parts")),
      Some("SELECT count(DISTINCT l_partkey) AS distinct_parts FROM lineitem")),

    QueryDef("correlation_qty_price",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_quantity").between(-Double.MaxValue, Double.MaxValue) &&
          col("l_extendedprice").between(-Double.MaxValue, Double.MaxValue))
        .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("correlation")),
      Some("SELECT round(corr(l_quantity, l_extendedprice), 6) AS correlation FROM lineitem" +
        " WHERE isfinite(CAST(l_quantity AS DOUBLE)) AND isfinite(CAST(l_extendedprice AS DOUBLE))")),

    QueryDef("covariance_qty_price",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_quantity").between(-Double.MaxValue, Double.MaxValue) &&
          col("l_extendedprice").between(-Double.MaxValue, Double.MaxValue))
        .agg(round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covariance")),
      Some("SELECT round(covar_samp(l_quantity, l_extendedprice), 2) AS covariance FROM lineitem" +
        " WHERE isfinite(CAST(l_quantity AS DOUBLE)) AND isfinite(CAST(l_extendedprice AS DOUBLE))")),

    // ---- content family ----
    QueryDef("containment_orderstatus",
      (s, d) => t(s, d, "orders").agg(
        count(col("o_orderstatus")).as("non_null"),
        sum(when(col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("contained"))
        .select(col("non_null"), col("contained"),
          Metrics.ratio(col("contained"), col("non_null")).as("ratio")),
      Some("""SELECT count(o_orderstatus) AS non_null,
             | CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS contained,
             | CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(o_orderstatus) AS DOUBLE) AS ratio
             | FROM orders""".stripMargin.replaceAll("\n", " "))),

    QueryDef("compliance_discount",
      (s, d) => t(s, d, "lineitem").agg(
        count(lit(1)).as("total"),
        sum(when(col("l_discount").between(0.0, 0.1), 1L).otherwise(0L)).as("compliant"))
        .select(col("total"), col("compliant"),
          Metrics.ratio(col("compliant"), col("total")).as("compliance")),
      Some("""SELECT count(*) AS total,
             | CAST(sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS compliant,
             | CAST(sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS compliance
             | FROM lineitem""".stripMargin.replaceAll("\n", " "))),

    // Cross-column metadata consistency through the constraint surface: the documents
    // table's n_chars column must equal length(text) (codepoint semantics in BOTH
    // engines — Spark length() counts codepoints, as does DuckDB's; the adversarial
    // fixture's Unicode rows are generated consistent for exactly this check).
    // ignoreNulls=text: a null-text row has no defined length, so it is excluded from
    // the denominator instead of failing the predicate.
    QueryDef("metadata_consistency_documents",
      (s, d) => {
        import graft.constraints._
        import graft.core._
        val r = ValidationSuite.evaluateBatched(t(s, d, "documents"), Seq(
          ComplianceConstraint("n_chars = length(text)",
            col("n_chars") === length(col("text")),
            Assertion.GreaterThanOrEqual(0.0), ignoreNulls = Some(col("text")))))
        import s.implicits._
        Seq(optD(r.head, 6)).toDF("consistent_ratio")
      },
      // NULLIF denominator: an all-null-text table must yield SQL NULL (the
      // constraint SKIPS there), not DuckDB's 0/0 NaN.
      Some("""SELECT round(CAST(sum(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END) AS DOUBLE)
             | / NULLIF(CAST(count(text) AS DOUBLE), 0), 6) AS consistent_ratio
             | FROM documents""".stripMargin.replaceAll("\n", " "))),

    QueryDef("pattern_orderpriority",
      (s, d) => t(s, d, "orders").agg(
        count(col("o_orderpriority")).as("non_null"),
        sum(when(col("o_orderpriority").rlike("^[1-5]-[A-Z ]+\\z"), 1L).otherwise(0L)).as("matching"))
        .select(col("non_null"), col("matching"),
          Metrics.ratio(col("matching"), col("non_null")).as("match_ratio")),
      Some("""SELECT count(o_orderpriority) AS non_null,
             | CAST(sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+\z') THEN 1 ELSE 0 END) AS BIGINT) AS matching,
             | CAST(sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+\z') THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(o_orderpriority) AS DOUBLE) AS match_ratio
             | FROM orders""".stripMargin.replaceAll("\n", " "))),

    QueryDef("length_customer_name",
      (s, d) => t(s, d, "customer").agg(
        min(length(col("c_name"))).as("min_len"),
        max(length(col("c_name"))).as("max_len"),
        Metrics.ratio(sum(length(col("c_name"))), count(col("c_name"))).as("avg_len")),
      Some("""SELECT CAST(min(length(c_name)) AS INT) AS min_len, CAST(max(length(c_name)) AS INT) AS max_len,
             | CAST(sum(length(c_name)) AS DOUBLE) / CAST(count(c_name) AS DOUBLE) AS avg_len
             | FROM customer""".stripMargin.replaceAll("\n", " "))),

    QueryDef("datatype_inference_psize",
      (s, d) => Metrics.dataTypeDistribution(
        t(s, d, "part").select(col("p_size").cast("string").as("v")), "v"),
      Some("""SELECT CASE WHEN v IS NULL THEN 'null'
             | WHEN regexp_matches(v, '(?i)^[ \t\n\x0b\f\r]*(true|false)[ \t\n\x0b\f\r]*$') THEN 'boolean'
             | WHEN TRY_CAST(v AS BIGINT) IS NOT NULL THEN 'integer'
             | WHEN TRY_CAST(v AS DOUBLE) IS NOT NULL THEN 'fractional'
             | WHEN regexp_matches(v, '^[ \t\n\x0b\f\r]*\d{4}-\d{1,2}-\d{1,2}[ \t\n\x0b\f\r]*$') AND TRY_CAST(v AS DATE) IS NOT NULL THEN 'date'
             | WHEN TRY_CAST(v AS TIMESTAMP) IS NOT NULL THEN 'timestamp'
             | ELSE 'text' END AS inferred_type, count(*) AS cnt
             | FROM (SELECT CAST(p_size AS VARCHAR) AS v FROM part) GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "))),

    // ---- distribution family ----
    QueryDef("histogram_returnflag",
      (s, d) => Metrics.histogram(t(s, d, "lineitem"), "l_returnflag"),
      Some("""SELECT l_returnflag AS value, count(*) AS cnt,
             | CAST(count(*) AS DOUBLE) / CAST((SELECT count(l_returnflag) FROM lineitem) AS DOUBLE) AS ratio
             | FROM lineitem WHERE l_returnflag IS NOT NULL
             | GROUP BY 1 ORDER BY cnt DESC, value""".stripMargin.replaceAll("\n", " "))),

    // Equal-width numeric histogram (reference: analyzers/advanced/histogram.rs numeric
    // CASE-bucketing). Bucket + count only in the compared result — lo/hi bounds are
    // derived doubles whose 6-digit rounding is engine-sensitive.
    QueryDef("numeric_histogram_extendedprice",
      (s, d) => Metrics.numericHistogram(t(s, d, "lineitem"), "l_extendedprice", 10)
        .select(col("bucket"), col("cnt")),
      Some("""WITH s AS (SELECT min(CAST(l_extendedprice AS DOUBLE)) AS mn,
             | max(CAST(l_extendedprice AS DOUBLE)) AS mx FROM lineitem
             | WHERE isfinite(CAST(l_extendedprice AS DOUBLE))),
             | w AS (SELECT mn, CASE WHEN mx > mn THEN (mx - mn) / 10 ELSE 1.0 END AS wd FROM s)
             | SELECT CAST(least(floor((CAST(l_extendedprice AS DOUBLE) - mn) / wd), 9) AS BIGINT) AS bucket,
             | count(*) AS cnt FROM lineitem, w
             | WHERE isfinite(CAST(l_extendedprice AS DOUBLE))
             | GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "))),

    QueryDef("entropy_returnflag",
      (s, d) => Metrics.entropy(t(s, d, "lineitem"), "l_returnflag"),
      Some("""WITH c AS (SELECT count(*) AS cnt FROM lineitem WHERE l_returnflag IS NOT NULL GROUP BY l_returnflag)
             | SELECT round(ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt), 6) AS entropy FROM c""".stripMargin.replaceAll("\n", " "))),

    QueryDef("mutual_information_flags",
      (s, d) => Metrics.mutualInformation(t(s, d, "lineitem"), "l_returnflag", "l_linestatus"),
      Some("""WITH j AS (SELECT l_returnflag AS x, l_linestatus AS y, count(*) AS nxy FROM lineitem
             |   WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL GROUP BY 1, 2),
             | mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM j GROUP BY 1),
             | my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM j GROUP BY 1)
             | SELECT round(sum(nxy * (ln(nxy) - ln(nx) - ln(ny))) / sum(nxy) + ln(sum(nxy)), 6) AS mutual_information
             | FROM j JOIN mx USING (x) JOIN my USING (y)""".stripMargin.replaceAll("\n", " "))),

    // ---- relational family ----
    QueryDef("foreign_key_orders_customer",
      (s, d) => Metrics.foreignKeyOrphans(t(s, d, "orders"), t(s, d, "customer"),
        Seq(("o_custkey", "c_custkey"))),
      Some("""SELECT count(*) AS orphans FROM orders o
             | LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON o.o_custkey = c.c_custkey
             | WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL""".stripMargin.replaceAll("\n", " "))),

    // The named multi-source convenience surface (register-by-name + "table.column"
    // string refs) over the same FK/coverage engine — both results through
    // MultiSourceValidator must equal the oracle's explicit joins.
    QueryDef("multi_source_named_fk",
      (s, d) => {
        import graft.core._
        import graft.constraints.CoverageMode
        val v = new MultiSourceValidator(s)
          .addSource("ms_orders", t(s, d, "orders"))
          .addSource("ms_customer", t(s, d, "customer"))
        val fk = v.foreignKey("ms_orders.o_custkey", "ms_customer.c_custkey")
        val cov = v.joinCoverage("ms_orders.o_custkey", "ms_customer.c_custkey",
          CoverageMode.LeftCoverage, Assertion.GreaterThanOrEqual(0.0))
        import s.implicits._
        Seq((fk.metric.flatMap(_.asDouble).map(_.toLong),
          optD(cov, 6))).toDF("orphans", "coverage")
      },
      Some("""SELECT CAST(coalesce(sum(CASE WHEN o.o_custkey IS NOT NULL AND c.c_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS orphans,
             | round(CAST(sum(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS coverage
             | FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
             | ON o.o_custkey = c.c_custkey""".stripMargin.replaceAll("\n", " "))),

    QueryDef("join_coverage_lineitem_orders",
      (s, d) => Metrics.joinCoverage(t(s, d, "lineitem"), t(s, d, "orders"),
        Seq(("l_orderkey", "o_orderkey"))),
      Some("""SELECT CAST(coalesce(sum(CASE WHEN o.o_orderkey IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS covered,
             | count(*) AS total,
             | CAST(sum(CASE WHEN o.o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS coverage
             | FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
             | ON l.l_orderkey = o.o_orderkey""".stripMargin.replaceAll("\n", " "))),

    QueryDef("cross_table_sum_orders",
      (s, d) => {
        val li = t(s, d, "lineitem").groupBy(col("l_orderkey"))
          .agg(sum(col("l_extendedprice")).as("l_sum"))
        val o = t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
        li.join(o, li("l_orderkey") === o("o_orderkey"), "full_outer")
          .agg(sum(when(abs(coalesce(col("l_sum"), lit(0.0)) - coalesce(col("o_totalprice"), lit(0.0))) > 1.0, 1L)
            .otherwise(0L)).as("violations"))
      },
      Some("""WITH ls AS (SELECT l_orderkey, sum(l_extendedprice) AS l_sum FROM lineitem GROUP BY 1)
             | SELECT CAST(sum(CASE WHEN abs(coalesce(l_sum, 0.0) - coalesce(o_totalprice, 0.0)) > 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS violations
             | FROM ls FULL OUTER JOIN orders ON l_orderkey = o_orderkey""".stripMargin.replaceAll("\n", " "))),

    // ---- grouped / temporal family ----
    QueryDef("grouped_completeness_events",
      (s, d) => Metrics.groupedCompleteness(t(s, d, "events"), "value", Seq("event_type")),
      Some("""SELECT event_type, count(*) AS total, count(value) AS non_null,
             | CAST(count(value) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS completeness
             | FROM events GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "))),

    QueryDef("time_gaps_events",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts")
        t(s, d, "events")
          .withColumn("_gap", unix_micros(col("ts").cast("timestamp")) -
            unix_micros(lag(col("ts"), 1).over(w).cast("timestamp")))
          .agg(max(col("_gap")).as("max_gap_us"),
            sum(when(col("_gap") > 3600L * 1000000L, 1L).otherwise(0L)).as("gaps_over_1h"))
      },
      Some("""WITH g AS (SELECT epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS gap FROM events)
             | SELECT max(gap) AS max_gap_us,
             | CAST(sum(CASE WHEN gap > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS gaps_over_1h
             | FROM g""".stripMargin.replaceAll("\n", " "))),

    QueryDef("business_hours_events",
      (s, d) => t(s, d, "events").agg(
        count(col("ts")).as("non_null"),
        sum(when(hour(col("ts")) >= 9 && hour(col("ts")) < 17 &&
          dayofweek(col("ts")).between(2, 6), 1L).otherwise(0L)).as("in_business_hours"))
        .select(col("non_null"), col("in_business_hours"),
          Metrics.ratio(col("in_business_hours"), col("non_null")).as("ratio")),
      Some("""SELECT count(ts) AS non_null,
             | CAST(sum(CASE WHEN hour(ts) >= 9 AND hour(ts) < 17 AND dayofweek(ts) BETWEEN 1 AND 5 THEN 1 ELSE 0 END) AS BIGINT) AS in_business_hours,
             | CAST(sum(CASE WHEN hour(ts) >= 9 AND hour(ts) < 17 AND dayofweek(ts) BETWEEN 1 AND 5 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(ts) AS DOUBLE) AS ratio
             | FROM events""".stripMargin.replaceAll("\n", " "))),

    // Minute-granularity BusinessHours THROUGH the constraint surface (the sibling
    // business_hours_events re-derives whole-hour aggregates without the constraint):
    // a 09:30-17:30 business-day window and an overnight 22:15-06:45 shift window,
    // both checked against DuckDB's hour*60+minute arithmetic.
    QueryDef("business_hours_halfhour_events",
      (s, d) => {
        import graft.constraints._
        import graft.core._
        val ge0 = Assertion.GreaterThanOrEqual(0.0)
        val rs = ValidationSuite.evaluateBatched(t(s, d, "events"), Seq(
          BusinessHoursConstraint("ts", "09:30", "17:30", businessDaysOnly = true, ge0),
          BusinessHoursConstraint("ts", "22:15", "06:45", businessDaysOnly = false, ge0)))
        import s.implicits._
        Seq((optD(rs(0), 6), optD(rs(1), 6))).toDF("day_ratio", "night_ratio")
      },
      Some("""SELECT
             | round(CAST(sum(CASE WHEN hour(ts)*60+minute(ts) >= 570 AND hour(ts)*60+minute(ts) < 1050
             |   AND dayofweek(ts) BETWEEN 1 AND 5 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(ts) AS DOUBLE), 6) AS day_ratio,
             | round(CAST(sum(CASE WHEN hour(ts)*60+minute(ts) >= 1335 OR hour(ts)*60+minute(ts) < 405
             |   THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(ts) AS DOUBLE), 6) AS night_ratio
             | FROM events""".stripMargin.replaceAll("\n", " "))),

    QueryDef("date_range_events",
      (s, d) => t(s, d, "events").agg(
        count(col("ts")).as("non_null"),
        sum(when(col("ts") >= to_timestamp(lit("2024-01-01 00:00:00")) &&
          col("ts") < to_timestamp(lit("2025-01-01 00:00:00")), 1L).otherwise(0L)).as("in_range")),
      Some("""SELECT count(ts) AS non_null,
             | CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2025-01-01 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS in_range
             | FROM events""".stripMargin.replaceAll("\n", " "))),

    // Joined-view business rule (reference: sources/joined.rs + custom-SQL compliance):
    // validate l_shipdate >= o_orderdate over the lineitem⋈orders view.
    QueryDef("joined_view_shipdate_rule",
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
        val o = t(s, d, "orders").select(col("o_orderkey"), col("o_orderdate"))
        graft.sources.Sources.joined(li, o, li("l_orderkey") === o("o_orderkey"), "inner")
          .agg(count(lit(1)).as("joined_rows"),
            sum(when(col("l_shipdate") >= col("o_orderdate"), 1L).otherwise(0L)).as("rule_ok"))
      },
      Some("""SELECT count(*) AS joined_rows,
             | CAST(sum(CASE WHEN l_shipdate >= o_orderdate THEN 1 ELSE 0 END) AS BIGINT) AS rule_ok
             | FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin.replaceAll("\n", " "))),

    // Composite-key uniqueness (multi-column countDistinct, no concat hacks).
    QueryDef("uniqueness_composite_lineitem",
      (s, d) => Metrics.uniqueness(t(s, d, "lineitem"), Seq("l_orderkey", "l_linenumber")),
      Some("""SELECT count(*) AS total,
             | count(DISTINCT (l_orderkey, l_linenumber)) FILTER (WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL) AS distinct_count,
             | CAST(count(DISTINCT (l_orderkey, l_linenumber)) FILTER (WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS uniqueness
             | FROM lineitem""".stripMargin.replaceAll("\n", " "))),

    // Multi-column completeness combinator (reference: core/logical.rs All/AtLeast...).
    QueryDef("multicolumn_completeness_orders",
      (s, d) => t(s, d, "orders").agg(
        count(lit(1)).as("total"),
        count(col("o_custkey")).as("c1"),
        count(col("o_totalprice")).as("c2"),
        count(col("o_orderpriority")).as("c3")),
      Some("""SELECT count(*) AS total, count(o_custkey) AS c1, count(o_totalprice) AS c2,
             | count(o_orderpriority) AS c3 FROM orders""".stripMargin.replaceAll("\n", " "))),

    // Monotonicity violations of event_id ordered by ts per user (window/LAG family).
    QueryDef("monotonic_events",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // ties on ts broken by event_id — without it, lag order (and the violation
        // count) is arbitrary on BOTH engines for same-timestamp events
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          // null ts/event_id order nulls-first in Spark but nulls-last in SQL
          // dialects, changing pair adjacency — monotonicity is over defined rows
          .filter(col("ts").isNotNull && col("event_id").isNotNull)
          .withColumn("_prev", lag(col("event_id"), 1).over(w))
          .agg(sum(when(col("_prev").isNotNull && col("event_id") < col("_prev"), 1L)
            .otherwise(0L)).as("violations"))
      },
      Some("""WITH g AS (SELECT event_id, lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
             | FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL)
             | SELECT CAST(sum(CASE WHEN prev IS NOT NULL AND event_id < prev THEN 1 ELSE 0 END) AS BIGINT) AS violations
             | FROM g""".stripMargin.replaceAll("\n", " "))),

    // UN-KEYED monotonicity through the constraint's own distributed plan (range
    // repartition + per-partition LAG + boundary fold — no single-task global sort).
    // The oracle is the straightforward global-window formulation, so a hash match
    // proves the distributed decomposition equals the naive total order.
    QueryDef("monotonic_global_events",
      (s, d) => graft.constraints.MonotonicConstraint("event_id", "ts")
        .globalViolationsDf(
          t(s, d, "events").filter(col("event_id").isNotNull && col("ts").isNotNull)),
      Some("""WITH g AS (SELECT event_id, lag(event_id) OVER (ORDER BY ts, event_id) AS prev
             | FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL)
             | SELECT count(*) AS total,
             | CAST(coalesce(sum(CASE WHEN prev IS NOT NULL AND event_id < prev THEN 1 ELSE 0 END), 0) AS BIGINT) AS violations
             | FROM g""".stripMargin.replaceAll("\n", " "))),

    // ---- analyzer framework (mergeable sufficient-statistics states) ----
    // Metrics are produced by AnalysisRunner's single batched scan and re-derived from
    // the SAME closed forms in DuckDB (moments: n, Σx, Σx² / co-moments for corr).
    // Heavy hitters via the mergeable frequent-items sketch (Misra-Gries family).
    // o_orderpriority has 5 distinct values — far inside the sketch's exact regime
    // (~0.75·1024) — so the sketch's top-k MUST equal the exact GROUP BY, making the
    // approximate operator itself oracle-gateable (same trick as the HLL and GK gates).
    QueryDef("frequent_items_orderpriority",
      (s, d) => {
        import graft.analyzers._
        val a = FrequentItemsAnalyzer("o_orderpriority", k = 10)
        val rows = FrequentItemsSketch.topK(a.computeState(t(s, d, "orders")), 10)
          .map { case (item, est, _, _) => (item, est) }
        import s.implicits._
        rows.toDF("item", "cnt")
      },
      Some("""SELECT o_orderpriority AS item, CAST(count(*) AS BIGINT) AS cnt
             | FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1""".stripMargin.replaceAll("\n", " "))),

    // Frequent-items sketch in the APPROXIMATE regime: the token stream's distinct
    // count far exceeds maxMapSize=64, so estimates are no longer exact — the
    // testable facts are the structure's guarantees, which hold for ANY insertion/
    // merge order (the sketch is order-dependent past capacity, so per-item
    // estimates would not be stable under Spark's partitioning): every returned
    // item's exact count sits within [lb, ub] (and so does its estimate), and every
    // item whose exact count exceeds getMaximumError IS returned under
    // NO_FALSE_NEGATIVES. Exact facts (token totals, distinct count, top-1 count)
    // are replayed by DuckDB; over_capacity pins that this run really exercised the
    // approximate regime. Driver collects are bounded: the sketch returns at most
    // ~maxMapSize items, and counts above maxError number at most stream/maxError.
    QueryDef("frequent_items_bounds_documents",
      (s, d) => {
        import graft.analyzers._
        val maxMapSize = 64
        val toks = t(s, d, "documents")
          .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("tk"))
        val a = FrequentItemsAnalyzer("tk", maxMapSize = maxMapSize, k = 10)
        val state = a.computeState(toks)
        val items = FrequentItemsSketch.topK(state, Int.MaxValue)
        val maxErr = FrequentItemsSketch.maximumError(state)
        val exactAll = toks.groupBy(col("tk")).agg(count(lit(1)).as("n"))
        val exactForItems =
          if (items.isEmpty) Map.empty[String, Long]
          else exactAll.filter(col("tk").isin(items.map(_._1): _*))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val boundsOk = items.forall { case (it, est, lb, ub) =>
          val ex = exactForItems.getOrElse(it, 0L)
          lb <= ex && ex <= ub && lb <= est && est <= ub
        }
        val returned = items.map(_._1).toSet
        val noFalseNeg = exactAll.filter(col("n") > maxErr)
          .collect().map(_.getString(0)).forall(returned)
        val stats = toks.agg(count(lit(1)).as("nt"),
          count_distinct(col("tk")).as("nd")).head()
        val top1 = exactAll.agg(coalesce(max(col("n")), lit(0L))).head().getLong(0)
        import s.implicits._
        Seq((stats.getLong(0), stats.getLong(1), stats.getLong(1) > maxMapSize,
          top1, boundsOk, noFalseNeg))
          .toDF("n_tokens", "n_distinct", "over_capacity", "top1_exact",
            "bounds_ok", "no_false_neg_ok")
      },
      Some("""WITH tok AS (SELECT t FROM documents,
             |   unnest(@TOKENS(text)@) AS u(t)),
             | c AS (SELECT t, count(*) AS n FROM tok GROUP BY 1)
             | SELECT CAST((SELECT count(*) FROM tok) AS BIGINT) AS n_tokens,
             | CAST((SELECT count(*) FROM c) AS BIGINT) AS n_distinct,
             | (SELECT count(*) FROM c) > 64 AS over_capacity,
             | CAST((SELECT coalesce(max(n), 0) FROM c) AS BIGINT) AS top1_exact,
             | TRUE AS bounds_ok, TRUE AS no_false_neg_ok""".stripMargin.replaceAll("\n", " "))),

    QueryDef("analyzers_lineitem",
      (s, d) => {
        import graft.analyzers._
        val ctx = new AnalysisRunner(Seq(
          SizeAnalyzer(),
          CompletenessAnalyzer("l_tax"),
          MeanAnalyzer("l_quantity"),
          StdDevAnalyzer("l_extendedprice"),
          CorrelationAnalyzer("l_quantity", "l_extendedprice"))).run(t(s, d, "lineitem"))
        def m(k: String) = ctx.metrics(k).asDouble.get
        import s.implicits._
        Seq((m("size.*").toLong, m("completeness.l_tax"),
          rd(m("mean.l_quantity"), 6),
          rd(m("stddev.l_extendedprice"), 3),
          rd(m("correlation.l_quantity|l_extendedprice"), 6)))
          .toDF("n_rows", "completeness_tax", "mean_qty", "stddev_price", "corr_qty_price")
      },
      // coalesce(..., 'nan') maps SQL's NULL-on-undefined (0/0 over zero rows,
      // moments of an empty/all-null column) onto the engine's documented
      // NaN-on-undefined metric convention; on any defined input the coalesce is a
      // no-op, and genuine NaN data stays NaN on both sides.
      Some("""SELECT count(*) AS n_rows,
             | coalesce(CAST(count(l_tax) AS DOUBLE) / CAST(count(*) AS DOUBLE), 'nan'::DOUBLE) AS completeness_tax,
             | coalesce(round(sum(l_quantity) / count(l_quantity), 6), 'nan'::DOUBLE) AS mean_qty,
             | coalesce(round(sqrt((sum(l_extendedprice * l_extendedprice) - sum(l_extendedprice) * sum(l_extendedprice) / count(l_extendedprice)) / (count(l_extendedprice) - 1)), 3), 'nan'::DOUBLE) AS stddev_price,
             | coalesce(round((sum(l_quantity * l_extendedprice) - sum(l_quantity) * sum(l_extendedprice) / count(*)) / sqrt((sum(l_quantity * l_quantity) - sum(l_quantity) * sum(l_quantity) / count(*)) * (sum(l_extendedprice * l_extendedprice) - sum(l_extendedprice) * sum(l_extendedprice) / count(*))), 6), 'nan'::DOUBLE) AS corr_qty_price
             | FROM lineitem""".stripMargin.replaceAll("\n", " "))),

    // Anomaly detection over a metric time series (reference: analyzers/anomaly):
    // daily event counts become the metric history in a MetricsRepository; the z-score
    // strategy flags days whose count deviates from the PRECEDING days' mean by more
    // than 2 population-stddevs (minHistory=3). The oracle replicates the exact same
    // preceding-window z-score with SQL window functions.
    QueryDef("anomaly_zscore_daily_events",
      (s, d) => {
        import graft.analyzers._
        import graft.repository._
        val daily = t(s, d, "events")
          .filter(col("ts").isNotNull) // null ts has no day: excluded from the series
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy("day")
          .collect()
          .map(r => (r.getDate(0).toLocalDate.toEpochDay, r.getLong(1).toDouble))
        val repo = new InMemoryMetricsRepository
        daily.foreach { case (day, cnt) =>
          repo.save(ResultKey(day), Map("size.daily_events" -> cnt))
        }
        val runner = new AnomalyDetectionRunner(repo,
          Map("size.daily_events" -> ZScoreStrategy(threshold = 2.0, minHistory = 3)))
        val anomalies = runner.detect("size.daily_events")
        import s.implicits._
        Seq((daily.length.toLong, anomalies.length.toLong)).toDF("n_days", "anomalies")
      },
      Some("""WITH dly AS (SELECT CAST(ts AS DATE) AS day, count(*) AS cnt FROM events WHERE ts IS NOT NULL GROUP BY 1),
             | z AS (SELECT cnt, row_number() OVER (ORDER BY day) AS rn,
             |   avg(cnt) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mu,
             |   stddev_pop(cnt) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS sd
             |   FROM dly)
             | SELECT count(*) AS n_days,
             | CAST(coalesce(sum(CASE WHEN rn > 3 AND sd > 0 AND abs(cnt - mu) / sd > 2.0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS anomalies
             | FROM z""".stripMargin.replaceAll("\n", " "))),

    // Rate-of-change + absolute-change anomaly detectors over the same daily-count
    // series as the z-score query (reference: detector.rs RelativeRateOfChange /
    // AbsoluteChange); oracle recomputes both rules with a LAG window.
    QueryDef("anomaly_roc_abs_daily_events",
      (s, d) => {
        import graft.analyzers._
        import graft.repository._
        val daily = t(s, d, "events")
          .filter(col("ts").isNotNull)
          .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("cnt"))
          .orderBy("day")
          .collect()
          .map(r => (r.getDate(0).toLocalDate.toEpochDay, r.getLong(1).toDouble))
        val repo = new InMemoryMetricsRepository
        daily.foreach { case (day, cnt) =>
          repo.save(ResultKey(day), Map("size.daily_events" -> cnt))
        }
        val roc = RelativeRateOfChangeStrategy(
          maxRateIncrease = Some(0.25), maxRateDecrease = Some(0.25))
          .detect(repo.history("size.daily_events")).length.toLong
        val abs = AbsoluteChangeStrategy(maxIncrease = Some(25.0), maxDecrease = Some(25.0))
          .detect(repo.history("size.daily_events")).length.toLong
        import s.implicits._
        Seq((daily.length.toLong, roc, abs)).toDF("n_days", "roc_anomalies", "abs_anomalies")
      },
      Some("""WITH dly AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS cnt FROM events WHERE ts IS NOT NULL GROUP BY 1),
             | lagged AS (SELECT cnt, lag(cnt) OVER (ORDER BY day) AS prev FROM dly)
             | SELECT count(*) AS n_days,
             | CAST(coalesce(sum(CASE WHEN prev IS NOT NULL AND prev != 0 AND (cnt / prev - 1.0 > 0.25 OR 1.0 - cnt / prev > 0.25) THEN 1 ELSE 0 END), 0) AS BIGINT) AS roc_anomalies,
             | CAST(coalesce(sum(CASE WHEN prev IS NOT NULL AND (cnt - prev > 25.0 OR prev - cnt > 25.0) THEN 1 ELSE 0 END), 0) AS BIGINT) AS abs_anomalies
             | FROM lagged""".stripMargin.replaceAll("\n", " "))),

    // Schema arity (reference: constraints/column_count.rs — no scan, metadata only).
    QueryDef("column_count_orders",
      (s, d) => {
        import s.implicits._
        Seq(t(s, d, "orders").schema.fields.length.toLong).toDF("n_cols")
      },
      Some("SELECT count(*) AS n_cols FROM (DESCRIBE orders)")),

    // Incremental analysis (reference: analyzers/incremental/runner.rs): orders split
    // into year partitions, ALL states computed by one groupBy(year) scan
    // (analyzePartitionsBatched), merged through the StateStore — the merged metrics
    // must equal a full-table scan, which is exactly what the oracle computes. The
    // per-partition sequential path (analyzePartition loop) is pinned equal to this in
    // AnalyzerSpec.
    QueryDef("incremental_yearly_orders",
      (s, d) => {
        import graft.analyzers._
        val store = new InMemoryStateStore
        val runner = new IncrementalAnalysisRunner(store,
          Seq(SizeAnalyzer(), MeanAnalyzer("o_totalprice")))
        val m = runner.analyzePartitionsBatched(
          t(s, d, "orders"), year(col("o_orderdate")))
        import s.implicits._
        // empty input: zero partitions -> no metrics at all; count 0, mean NULL
        Seq((runner.dataPartitions("size.*").length.toLong,
          m.get("size.*").flatMap(_.asDouble).map(_.toLong).getOrElse(0L),
          m.get("mean.o_totalprice").flatMap(_.asDouble).map(rd(_, 6))))
          .toDF("n_partitions", "n_rows", "mean_totalprice")
      },
      Some("""SELECT CAST(count(DISTINCT year(o_orderdate))
             |   + coalesce(max(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_partitions, count(*) AS n_rows,
             | round(avg(o_totalprice), 6) AS mean_totalprice
             | FROM orders""".stripMargin.replaceAll("\n", " "))),

    // Top-N most frequent values (§2f sort/limit guard shape) with deterministic
    // tie-breaking on the value itself.
    QueryDef("topk_orderpriority",
      (s, d) => t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("value"))
        .agg(count(lit(1)).as("cnt"))
        // value tiebreak nulls LAST: DuckDB's default ascending puts NULLs last,
        // Spark's puts them first — under LIMIT different rows would survive the cut
        .orderBy(col("cnt").desc, col("value").asc_nulls_last)
        .limit(3),
      Some("""SELECT o_orderpriority AS value, count(*) AS cnt FROM orders
             | GROUP BY 1 ORDER BY cnt DESC, value LIMIT 3""".stripMargin.replaceAll("\n", " "))),

    // Key-skew profile of the lineitem join key (beyond-reference scale guard).
    QueryDef("key_skew_orderkey",
      (s, d) => Metrics.keySkew(t(s, d, "lineitem"), Seq("l_orderkey")),
      Some("""WITH kc AS (SELECT l_orderkey, count(*) AS cnt FROM lineitem
             |   WHERE l_orderkey IS NOT NULL GROUP BY 1)
             | SELECT max(cnt) AS max_key_rows, CAST(sum(cnt) AS BIGINT) AS total_rows,
             | count(*) AS distinct_keys,
             | CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS top_key_share
             | FROM kc""".stripMargin.replaceAll("\n", " "))),

    // EP1 end-to-end under the oracle gate: a real ValidationSuite (CheckBuilder →
    // batched single-scan agg → report fold) over lineitem with one deliberately
    // failing constraint. The oracle recomputes every constraint verdict from the same
    // aggregates and tallies the identical report counts.
    QueryDef("suite_report_lineitem",
      (s, d) => {
        import graft.core._
        val report = ValidationSuite("oracle suite", Seq(
          CheckBuilder("integrity", Level.Error)
            .hasSize(Assertion.GreaterThan(1000))
            .hasCompleteness("l_orderkey", Assertion.GreaterThanOrEqual(1.0))
            .hasMean("l_discount", Assertion.Between(0.0, 0.1))
            .isContainedIn("l_returnflag", Seq("A", "N", "R"))
            .hasMax("l_quantity", Assertion.LessThanOrEqual(10.0)) // fails: max is 50
            .hasUniqueness(Seq("l_orderkey", "l_linenumber"), Assertion.GreaterThanOrEqual(1.0))
            .build())).run(t(s, d, "lineitem"))
        import s.implicits._
        Seq((report.metrics.totalConstraints.toLong, report.metrics.passed.toLong,
          report.metrics.failed.toLong, report.metrics.skipped.toLong,
          report.issues.length.toLong, if (report.isSuccess) 1L else 0L))
          .toDF("total_constraints", "passed", "failed", "skipped", "n_issues", "is_success")
      },
      Some("""WITH m AS (SELECT count(*) AS cnt, count(l_orderkey) AS cok,
             |   sum(l_discount) / count(l_discount) AS mean_disc,
             |   CAST(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(l_returnflag) AS DOUBLE) AS contained,
             |   max(l_quantity) AS max_qty,
             |   count(DISTINCT (l_orderkey, l_linenumber)) FILTER (WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL) AS dl FROM lineitem),
             | v AS (SELECT cnt, (CASE WHEN cnt > 1000 THEN 1 ELSE 0 END)
             |   + (CASE WHEN CAST(cok AS DOUBLE) / CAST(cnt AS DOUBLE) >= 1.0 THEN 1 ELSE 0 END)
             |   + (CASE WHEN mean_disc BETWEEN 0.0 AND 0.1 THEN 1 ELSE 0 END)
             |   + (CASE WHEN contained >= 1.0 THEN 1 ELSE 0 END)
             |   + (CASE WHEN max_qty <= 10.0 THEN 1 ELSE 0 END)
             |   + (CASE WHEN CAST(dl AS DOUBLE) / CAST(cnt AS DOUBLE) >= 1.0 THEN 1 ELSE 0 END) AS p FROM m)
             | SELECT CAST(6 AS BIGINT) AS total_constraints,
             | CAST(CASE WHEN cnt = 0 THEN 0 ELSE p END AS BIGINT) AS passed,
             | CAST(CASE WHEN cnt = 0 THEN 1 ELSE 6 - p END AS BIGINT) AS failed,
             | CAST(CASE WHEN cnt = 0 THEN 5 ELSE 0 END AS BIGINT) AS skipped,
             | CAST(CASE WHEN cnt = 0 THEN 1 ELSE 6 - p END AS BIGINT) AS n_issues,
             | CAST(CASE WHEN cnt = 0 THEN 0 WHEN p = 6 THEN 1 ELSE 0 END AS BIGINT) AS is_success
             | FROM v""".stripMargin.replaceAll("\n", " "))),

    QueryDef("json_validity_props",
      (s, d) => t(s, d, "events").agg(
        count(col("props")).as("non_null"),
        sum(when(expr("try_parse_json(props)").isNotNull, 1L).otherwise(0L)).as("valid_json"))
        .select(col("non_null"), col("valid_json"),
          Metrics.ratio(col("valid_json"), col("non_null")).as("valid_ratio")),
      Some("""SELECT count(props) AS non_null,
             | CAST(sum(CASE WHEN json_valid(props) THEN 1 ELSE 0 END) AS BIGINT) AS valid_json,
             | CAST(sum(CASE WHEN json_valid(props) THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(props) AS DOUBLE) AS valid_ratio
             | FROM events""".stripMargin.replaceAll("\n", " "))),

    // Keep-one-row-per-key dedup with an explicit tiebreaker (the scalable
    // row_number()=1 formulation — one shuffle on the key). Kept set is the min doc_id
    // per lang, which the oracle states directly.
    QueryDef("dedup_tiebreaker_documents",
      (s, d) => graft.operators.Dedup.exactDedup(t(s, d, "documents"), Seq("lang"), Some("doc_id"))
        .agg(count(lit(1)).as("kept_rows"), sum(col("doc_id")).as("sum_kept_ids")),
      Some("""SELECT count(*) AS kept_rows, CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids
             | FROM (SELECT min(doc_id) AS doc_id FROM documents GROUP BY lang)""".stripMargin.replaceAll("\n", " "))),

    // Skew-salted equi-join must be row-for-row identical to the plain join (salt
    // replication + salt-column drop verified end-to-end under the oracle gate).
    QueryDef("salted_join_lineitem_orders",
      (s, d) => graft.operators.Joins.saltedJoin(
        t(s, d, "lineitem"), t(s, d, "orders"), Seq(("l_orderkey", "o_orderkey")), saltFactor = 4)
        .agg(count(lit(1)).as("joined_rows"), sum(col("o_custkey")).as("sum_cust")),
      Some("""SELECT count(*) AS joined_rows, CAST(sum(o_custkey) AS BIGINT) AS sum_cust
             | FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin.replaceAll("\n", " "))),

    // Bloom semi-join reduction: lineitem joined to the 5% slice of orders through
    // the pre-shuffle might_contain filter — false positives are scrubbed by the
    // exact join, so the result matches the plain join bit-for-bit (integer sums
    // keep the compare order-independent).
    QueryDef("bloom_join_lineitem_orders",
      (s, d) => {
        val sel = t(s, d, "orders").filter(col("o_orderkey") % 20 === 0)
          .select(col("o_orderkey"), col("o_orderpriority"))
        graft.operators.Joins.bloomReducedJoin(
            t(s, d, "lineitem"), sel, Seq("l_orderkey" -> "o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("long")).as("sum_qty"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n_items,
             | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
             | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             | WHERE o_orderkey % 20 = 0 GROUP BY 1""".stripMargin.replaceAll("\n", " "))),

    // CSV source end-to-end under the oracle gate (reference: sources/csv.rs): the
    // nation table round-trips through a header CSV with schema inference, then
    // aggregates; the oracle reads the original parquet.
    QueryDef("csv_source_nation",
      (s, d) => {
        // Per-scale-factor AND per-JVM path (see sourceTmpDir): overwrite keeps reruns
        // within one JVM from leaking copies; the PID keys out cross-JVM races.
        val tmp = sourceTmpDir("csv_nation", d)
        t(s, d, "nation").write.mode("overwrite").option("header", "true").csv(tmp)
        // multiLine: the writer quotes embedded newlines in n_name/n_comment, which
        // the default line-split reader would shred into malformed rows
        graft.sources.Sources.csv(s, Seq(tmp),
          graft.sources.Sources.CsvOptions(multiLine = true))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("n_nationkey")).cast("long").as("sum_keys"),
            countDistinct(col("n_regionkey")).as("n_regions"))
      },
      Some("""SELECT count(*) AS n_rows, CAST(sum(n_nationkey) AS BIGINT) AS sum_keys,
             | count(DISTINCT n_regionkey) AS n_regions FROM nation""".stripMargin.replaceAll("\n", " "))),

    // ORC source end-to-end (beyond the reference's format set — free with Spark):
    // write supplier as ORC, read back through the Sources surface, reconcile
    // against DuckDB over the original parquet.
    QueryDef("orc_source_supplier",
      (s, d) => {
        val tmp = sourceTmpDir("orc_supplier", d)
        t(s, d, "supplier").write.mode("overwrite").orc(tmp)
        graft.sources.Sources.orc(s, Seq(tmp))
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("s_suppkey")), lit(0L)).cast("long").as("sum_keys"),
            countDistinct(col("s_nationkey")).as("n_nations"))
      },
      Some("""SELECT count(*) AS n_rows, CAST(coalesce(sum(s_suppkey), 0) AS BIGINT) AS sum_keys,
             | count(DISTINCT s_nationkey) AS n_nations FROM supplier""".stripMargin.replaceAll("\n", " "))),

    // Physical-layout audit from parquet FOOTERS only (no data pages read): footer
    // row totals must equal the engines' full-scan counts — the metadata pass that
    // sizes row groups / flags small files before any 100 TB query runs.
    QueryDef("parquet_footer_rows",
      (s, d) => Seq("lineitem", "orders", "documents").map { tb =>
        graft.sources.Sources.parquetLayoutAudit(s, s"$d/$tb.parquet")
          .agg(coalesce(sum(col("num_rows")), lit(0L)).as("footer_rows"))
          .select(lit(tb).as("tbl"), col("footer_rows"))
      }.reduce(_ unionByName _),
      Some("""SELECT 'lineitem' AS tbl, count(*) AS footer_rows FROM lineitem
             | UNION ALL SELECT 'orders', count(*) FROM orders
             | UNION ALL SELECT 'documents', count(*) FROM documents""".stripMargin.replaceAll("\n", " "))),

    // Raw text-lines source (one doc per line — the LLM-corpus interchange
    // format): write the newline-scrubbed doc bodies as .txt, read back through
    // the line reader, reconcile counts/lengths against DuckDB applying the same
    // scrub to the parquet originals. Newlines must be scrubbed BEFORE writing —
    // the line reader would shred a multi-line doc into several rows.
    QueryDef("text_source_documents",
      (s, d) => {
        val tmp = sourceTmpDir("text_docs", d)
        t(s, d, "documents")
          .filter(col("text").isNotNull && length(col("text")) > 0)
          .select(regexp_replace(col("text"), "[\\n\\r\\u0085\\u2028\\u2029]", " ").as("value"))
          .write.mode("overwrite").text(tmp)
        graft.sources.Sources.textLines(s, Seq(tmp))
          .agg(count(lit(1)).as("n_docs"),
            coalesce(sum(length(col("value"))), lit(0L)).as("sum_chars"),
            min(length(col("value"))).as("min_len"),
            max(length(col("value"))).as("max_len"))
      },
      Some("""WITH t0 AS (SELECT regexp_replace(text, '[\n\r\x{0085}\x{2028}\x{2029}]', ' ', 'g') AS v
             |   FROM documents WHERE text IS NOT NULL AND length(text) > 0)
             | SELECT count(*) AS n_docs,
             | CAST(coalesce(sum(length(v)), 0) AS BIGINT) AS sum_chars,
             | min(length(v)) AS min_len, max(length(v)) AS max_len
             | FROM t0""".stripMargin.replaceAll("\n", " "))),

    // NDJSON source end-to-end (reference: sources/json.rs NDJSON path).
    QueryDef("json_source_region",
      (s, d) => {
        val tmp = sourceTmpDir("json_region", d)
        val src = t(s, d, "region")
        src.write.mode("overwrite").json(tmp)
        // explicit schema: a zero-row JSON write leaves nothing to infer from, which
        // would otherwise drop every column
        graft.sources.Sources.json(s, Seq(tmp), schema = Some(src.schema))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("r_regionkey")).cast("long").as("sum_keys"))
      },
      Some("""SELECT count(*) AS n_rows, CAST(sum(r_regionkey) AS BIGINT) AS sum_keys
             | FROM region""".stripMargin.replaceAll("\n", " "))),

    // All three uniqueness NULL modes in ONE aggregation over events.value (has real
    // nulls): Exclude = plain DISTINCT; IncludeAsOne = nulls collapse to one sentinel
    // value; EachDistinct = every null row counts as its own value (reference:
    // constraints/uniqueness.rs:564-618 — the semantics-parity risk SURVEY §7 flags).
    // Uses the same expression factory the UniquenessConstraint compiles to.
    QueryDef("uniqueness_null_modes_events",
      (s, d) => {
        import graft.constraints.{NullMode, UniqueExprs}
        // events.value has NO nulls in the fixtures — nulls are INJECTED (every 7th
        // event id) so the three modes actually differ and the has-null flag /
        // null-count terms are exercised, not vacuously equal.
        val each = UniqueExprs.distinctCount(Seq("v"), NullMode.EachDistinct)
        val incl = UniqueExprs.distinctCount(Seq("v"), NullMode.IncludeAsOne)
        t(s, d, "events")
          .withColumn("v",
            when(col("event_id") % 7 === 0, lit(null).cast("double")).otherwise(col("value")))
          .agg(
            count(lit(1)).as("total"),
            UniqueExprs.distinctCount(Seq("v"), NullMode.Exclude).head.as("d_exclude"),
            (incl(0) + incl(1)).as("d_include_one"), // exact single-column form: distinct + has-null flag
            (each(0) + each(1)).as("d_each_distinct"))
      },
      Some("""WITH e AS (SELECT CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v FROM events)
             | SELECT count(*) AS total, count(DISTINCT v) AS d_exclude,
             | count(DISTINCT v) + (CASE WHEN count(*) > count(v) THEN 1 ELSE 0 END) AS d_include_one,
             | count(DISTINCT v) + (count(*) - count(v)) AS d_each_distinct
             | FROM e""".stripMargin.replaceAll("\n", " "))),

    // GROUPED cross-table sum (reference: constraints/cross_table_sum.rs:187-280 CTE
    // full-outer path): yearly lineitem revenue vs yearly order totals; every year
    // violates at tolerance 0.5 since the two measures differ by construction. Goes
    // through CrossTableSumConstraint's grouped evaluate (per-key sums, full outer
    // join on the group key, tolerance filter).
    QueryDef("cross_table_sum_yearly",
      (s, d) => {
        import graft.core.MetricValue
        val li = t(s, d, "lineitem").withColumn("yr", year(col("l_shipdate")))
        val o = t(s, d, "orders").withColumn("yr", year(col("o_orderdate")))
        val res = graft.constraints.CrossTableSumConstraint(
          o, col("l_extendedprice"), col("o_totalprice"),
          tolerance = 0.5, groupKeys = Seq(("yr", "yr"))).evaluate(li)
        val violations = res.metric match {
          case Some(MetricValue.LongMetric(v)) => v
          case _ => -1L
        }
        import s.implicits._
        Seq(violations).toDF("violations")
      },
      Some("""WITH ls AS (SELECT year(l_shipdate) AS yr, sum(l_extendedprice) AS l_sum FROM lineitem GROUP BY 1),
             | rs AS (SELECT year(o_orderdate) AS yr, sum(o_totalprice) AS r_sum FROM orders GROUP BY 1)
             | SELECT CAST(coalesce(sum(CASE WHEN abs(coalesce(l_sum, 0.0) - coalesce(r_sum, 0.0)) > 0.5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS violations
             | FROM ls FULL OUTER JOIN rs ON ls.yr IS NOT DISTINCT FROM rs.yr""".stripMargin.replaceAll("\n", " "))),

    // Worst-groups-first grouped completeness with the LIMIT guard (reference:
    // analyzers/basic/grouped_completeness.rs:119-128 worst-first + truncation).
    QueryDef("grouped_completeness_worst_events",
      (s, d) => Metrics.groupedCompletenessWorst(t(s, d, "events"), "value",
        Seq("event_type"), maxGroups = 3),
      Some("""SELECT event_type, count(*) AS total, count(value) AS non_null,
             | CAST(count(value) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS completeness
             | FROM events GROUP BY 1
             | ORDER BY completeness, event_type LIMIT 3""".stripMargin.replaceAll("\n", " "))),

    // Window FRAME spec beyond LAG (§2e): 7-day rolling average of daily event counts
    // via ROWS BETWEEN 6 PRECEDING AND CURRENT ROW. Rolling averages are exact-integer
    // divisions (deterministic doubles), rounded well above either engine's error.
    QueryDef("rolling_daily_events",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = t(s, d, "events")
          .filter(col("ts").isNotNull) // null day would order dialect-dependently
          .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("cnt"))
        // Un-partitioned window is BOUNDED by construction: it runs over the daily
        // AGGREGATE (one row per distinct day — years of data is thousands of rows),
        // never the events. The "No Partition Defined" warning it logs is benign here;
        // re-audit only if the window's input stops being a per-day rollup.
        val w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
        daily.select(avg(col("cnt")).over(w).as("roll7"))
          .agg(count(lit(1)).as("n_days"),
            round(max(col("roll7")), 6).as("max_roll7"),
            round(min(col("roll7")), 6).as("min_roll7"))
      },
      Some("""WITH dly AS (SELECT CAST(ts AS DATE) AS day, count(*) AS cnt FROM events WHERE ts IS NOT NULL GROUP BY 1),
             | r AS (SELECT avg(cnt) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS roll7 FROM dly)
             | SELECT count(*) AS n_days, round(max(roll7), 6) AS max_roll7,
             | round(min(roll7), 6) AS min_roll7 FROM r""".stripMargin.replaceAll("\n", " "))),

    // Profiler pass 2 (categorical histogram) under the oracle gate: the profiler's
    // bucket map for a low-cardinality column must equal a plain GROUP BY with exact
    // count/total ratios (reference: analyzers/profiler.rs pass 2).
    QueryDef("profile_histogram_orderpriority",
      (s, d) => {
        val p = new graft.analyzers.ColumnProfiler()
          .profile(t(s, d, "orders"), Seq("o_orderpriority"))("o_orderpriority")
        import s.implicits._
        // no histogram (e.g. empty input) -> zero rows, like the oracle's GROUP BY
        p.histogram.map(_.buckets.toSeq.map { case (v, b) => (v, b.count, b.ratio) })
          .getOrElse(Seq.empty).sortBy(_._1).toDF("value", "cnt", "ratio")
      },
      Some("""SELECT o_orderpriority AS value, count(*) AS cnt,
             | CAST(count(*) AS DOUBLE) / CAST((SELECT count(o_orderpriority) FROM orders) AS DOUBLE) AS ratio
             | FROM orders WHERE o_orderpriority IS NOT NULL
             | GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "))),

    // Schema analyzer FK suggestion (reference: analyzers/schema_analyzer.rs:51-661):
    // name/type affinity proposes orders.o_custkey → customer.c_custkey, the overlap
    // probe (left-semi count / non-null count) confirms it; the reverse direction is
    // rejected because o_custkey is not key-like in orders. The oracle recomputes the
    // single surviving candidate and its exact overlap ratio.
    QueryDef("fk_suggestion_orders_customer",
      (s, d) => {
        val cands = new graft.analyzers.SchemaAnalyzer(minOverlap = 0.5).suggestForeignKeys(
          Map("orders" -> t(s, d, "orders"), "customer" -> t(s, d, "customer")))
        import s.implicits._
        cands.map(c => (c.childTable, c.childColumn, c.parentTable, c.parentColumn,
            rd(c.overlap, 6)))
          .sortBy(c => (c._1, c._2))
          .toDF("child_table", "child_column", "parent_table", "parent_column", "overlap")
      },
      Some("""WITH cand AS (SELECT 'orders' AS child_table, 'o_custkey' AS child_column,
             | 'customer' AS parent_table, 'c_custkey' AS parent_column,
             | round(CAST((SELECT count(*) FROM orders WHERE o_custkey IN (SELECT c_custkey FROM customer)) AS DOUBLE)
             |   / CAST((SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL) AS DOUBLE), 6) AS overlap)
             | SELECT * FROM cand WHERE overlap >= 0.5""".stripMargin.replaceAll("\n", " ")))
  )

  // ---- LLM-pipeline operators (SURVEY §7 step 8 / north-star extensions) ----
  import graft.functions.TextFunctions
  import graft.operators.{Dedup, Similarity}

  val llmDefs: Seq[QueryDef] = Seq(

    QueryDef("text_stats_documents",
      (s, d) => t(s, d, "documents").agg(
        count(lit(1)).as("n_docs"),
        sum(TextFunctions.charCount(col("text"))).cast("long").as("total_chars"),
        sum(TextFunctions.tokenCount(col("text"))).cast("long").as("total_tokens"),
        (sum(TextFunctions.tokenCount(col("text"))).cast("double") /
          count(lit(1)).cast("double")).as("avg_tokens")),
      Some("""SELECT count(*) AS n_docs,
             | CAST(sum(length(text)) AS BIGINT) AS total_chars,
             | CAST(sum(len(@TOKENS(text)@)) AS BIGINT) AS total_tokens,
             | CAST(sum(len(@TOKENS(text)@)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_tokens
             | FROM documents""".stripMargin.replaceAll("\n", " "))),

    // Intra-document repetition signals (Gopher-style quality filters): duplicate
    // char-10-gram and word-3-gram fractions, 1 - distinct/total per doc. Exact
    // integer-count divisions — bit-identical doubles in both engines, so threshold
    // counts and rounded extrema hash-match.
    QueryDef("repetition_stats_documents",
      (s, d) => {
        // Pre-project the kernels so each runs ONCE per row — the aggregate references
        // charRep three times, and subexpression elimination across separate aggregate
        // expressions is not guaranteed.
        t(s, d, "documents").select(
          TextFunctions.dupNgramFraction(col("text"), 10).as("charRep"),
          TextFunctions.dupWordNgramFraction(col("text"), 3).as("wordRep"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("charRep") > 0.05, 1L).otherwise(0L)).as("high_char_rep"),
            sum(when(col("wordRep") > 0.01, 1L).otherwise(0L)).as("high_word_rep"),
            round(max(col("charRep")), 6).as("max_char_rep"),
            round(min(col("charRep")), 6).as("min_char_rep"))
      },
      Some("""WITH idx AS (SELECT unnest(range(1, CAST((SELECT coalesce(max(length(text)), 0) FROM documents) AS BIGINT) + 1)) AS i),
             | ch AS (SELECT doc_id, count(DISTINCT substr(text, CAST(i AS INT), 10)) AS d, max(length(text)) - 9 AS tot
             |   FROM documents JOIN idx ON i <= length(text) - 9 GROUP BY doc_id),
             | tok AS (SELECT doc_id, @TOKENS(text)@ AS t FROM documents),
             | wg AS (SELECT doc_id, count(DISTINCT array_to_string(t[CAST(i AS INT):CAST(i AS INT)+2], ' ')) AS d, max(len(t)) - 2 AS tot
             |   FROM tok JOIN idx ON i <= len(t) - 2 GROUP BY doc_id),
             | per AS (SELECT doc.doc_id,
             |   CASE WHEN ch.doc_id IS NOT NULL THEN 1.0 - CAST(ch.d AS DOUBLE) / CAST(ch.tot AS DOUBLE) ELSE 0.0 END AS crep,
             |   CASE WHEN wg.doc_id IS NOT NULL THEN 1.0 - CAST(wg.d AS DOUBLE) / CAST(wg.tot AS DOUBLE) ELSE 0.0 END AS wrep
             |   FROM documents doc LEFT JOIN ch ON doc.doc_id = ch.doc_id LEFT JOIN wg ON wg.doc_id = doc.doc_id)
             | SELECT count(*) AS n_docs,
             | CAST(sum(CASE WHEN crep > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS high_char_rep,
             | CAST(sum(CASE WHEN wrep > 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS high_word_rep,
             | round(max(crep), 6) AS max_char_rep, round(min(crep), 6) AS min_char_rep
             | FROM per""".stripMargin.replaceAll("\n", " "))),

    // Cross-corpus contamination (GPT-3-style decontamination): probe = every 10th doc,
    // corpus = the rest; per probe doc, the fraction of its distinct word 8-grams that
    // occur anywhere in the corpus. Spark matches grams by xxhash64 (collision odds
    // ~1e-9 at this gram count); the oracle compares the strings directly.
    QueryDef("contamination_probe_documents",
      (s, d) => {
        val docs = t(s, d, "documents").filter(col("text").isNotNull)
        val probe = docs.filter(col("doc_id") % 10 === 0)
        val corpus = docs.filter(col("doc_id") % 10 =!= 0)
        graft.operators.Dedup.crossCorpusContamination(
          corpus, probe, "text", "doc_id", "text", ngramWords = 8)
          .agg(
            count(lit(1)).as("n_probes"),
            sum(when(col("ngrams_matched") > 0, 1L).otherwise(0L)).as("contaminated_docs"),
            sum(col("ngrams_matched")).cast("long").as("total_matched"),
            round(max(col("contamination")), 6).as("max_contamination"))
      },
      Some("""WITH tok AS (SELECT doc_id, @TOKENS(text)@ AS t FROM documents WHERE text IS NOT NULL),
             | widx AS (SELECT unnest(range(1, CAST((SELECT coalesce(max(len(t)), 0) FROM tok) AS BIGINT) + 1)) AS i),
             | g AS (SELECT doc_id, array_to_string(t[CAST(i AS INT):CAST(i AS INT)+7], ' ') AS gram FROM tok JOIN widx ON i <= len(t) - 7
             |   UNION ALL SELECT doc_id, array_to_string(t, ' ') FROM tok WHERE len(t) < 8 AND len(t) > 0),
             | gd AS (SELECT DISTINCT doc_id, gram FROM g),
             | corp AS (SELECT DISTINCT gram FROM gd WHERE doc_id % 10 != 0),
             | probe AS (SELECT doc_id, gram FROM gd WHERE doc_id % 10 = 0),
             | per AS (SELECT probe.doc_id, count(*) AS total,
             |     sum(CASE WHEN corp.gram IS NOT NULL THEN 1 ELSE 0 END) AS matched
             |   FROM probe LEFT JOIN corp ON probe.gram = corp.gram GROUP BY 1)
             | SELECT count(*) AS n_probes,
             | CAST(sum(CASE WHEN matched > 0 THEN 1 ELSE 0 END) AS BIGINT) AS contaminated_docs,
             | CAST(sum(matched) AS BIGINT) AS total_matched,
             | round(max(CAST(matched AS DOUBLE) / CAST(total AS DOUBLE)), 6) AS max_contamination
             | FROM per""".stripMargin.replaceAll("\n", " "))),

    QueryDef("lang_distribution_documents",
      (s, d) => t(s, d, "documents").groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt")).orderBy("lang"),
      Some("SELECT lang, count(*) AS cnt FROM documents GROUP BY 1 ORDER BY 1")),

    // Heuristic language-ID agreement with the labeled lang column. The oracle
    // replicates the marker-word heuristic exactly: per-language marker-token ratios
    // are integer divisions (bit-identical doubles in both engines), the winner is the
    // max score with ties to the lexicographically largest tag (Spark's array_max over
    // (score, lang) structs ⇒ CASE checks fr→es→en→de), CJK via Han-script ratio.
    QueryDef("langid_agreement_documents",
      (s, d) => t(s, d, "documents").agg(
        count(lit(1)).as("n_docs"),
        sum(when(TextFunctions.langId(col("text")) === col("lang"), 1L).otherwise(0L)).as("agree")),
      Some("""WITH s AS (SELECT lang,
             | CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^\p{Han}]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS cjk,
             | @TOKENS(text)@ AS toks FROM documents),
             | r AS (SELECT lang, cjk,
             | CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','von','mit','ein','eine'], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS s_de,
             | CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','in','is','that','for','with','was'], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS s_en,
             | CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['el','la','los','las','y','es','en','por','para','una'], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS s_es,
             | CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['le','la','les','et','est','dans','pour','que','une','des'], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS s_fr
             | FROM s),
             | lid AS (SELECT lang, CASE WHEN cjk > 0.2 THEN 'zh'
             | WHEN greatest(s_de, s_en, s_es, s_fr) > 0.05 THEN
             |  (CASE WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
             |        WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
             |        WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
             |        ELSE 'de' END)
             | ELSE 'und' END AS pred FROM r)
             | SELECT count(*) AS n_docs,
             | CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS agree
             | FROM lid""".stripMargin.replaceAll("\n", " "))),

    // Cohen's kappa between the labeled lang column and the langId heuristic —
    // chance-corrected agreement (raw agreement flatters majority-class
    // predictors). The DuckDB oracle re-derives the heuristic (same CTEs as
    // langid_agreement) and replays the full kappa closed form.
    QueryDef("cohens_kappa_langid_documents",
      (s, d) => {
        val raters = t(s, d, "documents")
          .select(col("lang"), TextFunctions.langId(col("text")).as("pred"))
        graft.Metrics.cohensKappa(raters, "lang", "pred")
          .select(col("n"), round(col("po"), 6).as("po"), round(col("pe"), 6).as("pe"),
            round(col("kappa"), 6).as("kappa"))
      },
      Some("""WITH s AS (SELECT lang,
             | CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^\p{Han}]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS cjk,
             | @TOKENS(text)@ AS toks FROM documents),
             | r AS (SELECT lang, cjk,
             | CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','von','mit','ein','eine'], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS s_de,
             | CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','in','is','that','for','with','was'], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS s_en,
             | CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['el','la','los','las','y','es','en','por','para','una'], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS s_es,
             | CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['le','la','les','et','est','dans','pour','que','une','des'], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS s_fr
             | FROM s),
             | lid AS (SELECT lang, CASE WHEN cjk > 0.2 THEN 'zh'
             | WHEN greatest(s_de, s_en, s_es, s_fr) > 0.05 THEN
             |  (CASE WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
             |        WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
             |        WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
             |        ELSE 'de' END)
             | ELSE 'und' END AS pred FROM r),
             | cj AS (SELECT lang AS r1, pred AS r2, count(*) AS cnt FROM lid GROUP BY 1, 2),
             | tt AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS t,
             |   coalesce(sum(CASE WHEN r1 IS NOT DISTINCT FROM r2 THEN cnt ELSE 0 END), 0) AS a FROM cj),
             | m1 AS (SELECT r1 AS cat, sum(cnt) AS n1 FROM cj GROUP BY 1),
             | m2 AS (SELECT r2 AS cat, sum(cnt) AS n2 FROM cj GROUP BY 1),
             | mx AS (SELECT sum(CAST(coalesce(n1, 0) AS DOUBLE) * CAST(coalesce(n2, 0) AS DOUBLE)) AS x
             |   FROM m1 FULL JOIN m2 ON m1.cat IS NOT DISTINCT FROM m2.cat)
             | SELECT t AS n,
             | CASE WHEN t > 0 THEN round(CAST(a AS DOUBLE) / t, 6) END AS po,
             | CASE WHEN t > 0 THEN round(x / (CAST(t AS DOUBLE) * t), 6) END AS pe,
             | CASE WHEN t > 0 AND x / (CAST(t AS DOUBLE) * t) < 1 THEN
             |   round((CAST(a AS DOUBLE) / t - x / (CAST(t AS DOUBLE) * t)) / (1 - x / (CAST(t AS DOUBLE) * t)), 6) END AS kappa
             | FROM tt, mx""".stripMargin.replaceAll("\n", " "))),

    QueryDef("dedup_exact_documents",
      (s, d) => Dedup.exactDupStats(t(s, d, "documents"), Seq("text")),
      Some("""WITH c AS (SELECT count(*) AS total,
             |   count(DISTINCT text) + (CASE WHEN count(*) > count(text) THEN 1 ELSE 0 END) AS distinct_count
             |   FROM documents)
             | SELECT total, distinct_count, total - distinct_count AS duplicate_rows FROM c""".stripMargin.replaceAll("\n", " "))),

    // Normalized-content fingerprints: hash distinctness must equal normalized-text
    // distinctness (hash collisions vanishingly unlikely at this scale).
    QueryDef("fingerprint_documents",
      (s, d) => t(s, d, "documents").agg(
        countDistinct(TextFunctions.fingerprint(col("text"))).as("distinct_fingerprints")),
      Some("""SELECT count(DISTINCT regexp_replace(trim(text), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS distinct_fingerprints
             | FROM documents""".stripMargin.replaceAll("\n", " "))),

    // Near-dup pair count at exact char-5-gram Jaccard >= 0.9. Candidates come from
    // MinHash-LSH blocking (full recall at this threshold — OperatorSpec verifies
    // against Dedup.allPairsJaccard), then exact-Jaccard verification; the oracle is
    // the quadratic all-pairs SQL, which stays feasible at the sf0.01 gate while the
    // Spark side stays subquadratic at any scale.
    // A SECOND kernel parameterization (6-char shingles, 32 bands of 4 rows), not a
    // repeat of dedup_minhash_documents' (5, 16×8): different shingle sets, different
    // banding S-curve (recall at j=0.9 is 1-(1-0.9⁴)³² ≈ 1-2e-15), same exact
    // all-pairs oracle recomputed at width 6 — the banding math is proven at two
    // configurations instead of paying the pipeline twice for one.
    QueryDef("dedup_ngram_jaccard_documents",
      (s, d) => Dedup.nearDupPairsMinhash(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.9, shingleSize = 6, numHashes = 128, bands = 32)
        .agg(count(lit(1)).as("near_dup_pairs")),
      Some("""WITH idx AS (SELECT unnest(range(1, CAST((SELECT coalesce(max(length(text)), 0) FROM documents) AS BIGINT) + 1)) AS i),
             | sh AS (SELECT doc_id, list(DISTINCT substr(text, CAST(i AS INT), 6)) AS g
             |   FROM documents JOIN idx ON i <= length(text) - 5 GROUP BY doc_id
             |   UNION ALL SELECT doc_id, [text] AS g FROM documents WHERE length(text) < 6)
             | SELECT count(*) AS near_dup_pairs
             | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             | WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(list_distinct(a.g || b.g)) >= 0.9""".stripMargin.replaceAll("\n", " "))),

    // MinHash-LSH near-dup pairs, exact-Jaccard-verified: must equal the exact all-pairs
    // result (LSH banding at 128 hashes / 32 bands has ~full recall at j>=0.9; verified
    // in OperatorSpec against the brute-force baseline).
    QueryDef("dedup_minhash_documents",
      (s, d) => Dedup.nearDupPairsMinhash(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.9, shingleSize = 5)
        .select(col("id_a"), col("id_b")).orderBy("id_a", "id_b"),
      Some("""WITH idx AS (SELECT unnest(range(1, CAST((SELECT coalesce(max(length(text)), 0) FROM documents) AS BIGINT) + 1)) AS i),
             | sh AS (SELECT doc_id, list(DISTINCT substr(text, CAST(i AS INT), 5)) AS g
             |   FROM documents JOIN idx ON i <= length(text) - 4 GROUP BY doc_id
             |   UNION ALL SELECT doc_id, [text] AS g FROM documents WHERE length(text) < 5)
             | SELECT a.doc_id AS id_a, b.doc_id AS id_b
             | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             | WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(list_distinct(a.g || b.g)) >= 0.9
             | ORDER BY 1, 2""".stripMargin.replaceAll("\n", " "))),

    // End-user near-dup DEDUP: rows kept after dropping the higher id of each verified
    // pair. Oracle recomputes the same keep-lowest rule over exact all-pairs Jaccard.
    QueryDef("dedup_near_kept_documents",
      (s, d) => Dedup.dedupNearMinhash(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.9, shingleSize = 5)
        .agg(count(lit(1)).as("kept_rows")),
      Some("""WITH idx AS (SELECT unnest(range(1, CAST((SELECT coalesce(max(length(text)), 0) FROM documents) AS BIGINT) + 1)) AS i),
             | sh AS (SELECT doc_id, list(DISTINCT substr(text, CAST(i AS INT), 5)) AS g
             |   FROM documents JOIN idx ON i <= length(text) - 4 GROUP BY doc_id
             |   UNION ALL SELECT doc_id, [text] AS g FROM documents WHERE length(text) < 5),
             | dropped AS (SELECT DISTINCT b.doc_id
             |   FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |   WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(list_distinct(a.g || b.g)) >= 0.9)
             | SELECT count(*) AS kept_rows FROM documents
             | WHERE doc_id IS NULL OR doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin.replaceAll("\n", " "))),

    // Near-dup CLUSTERS (connected components of the verified-pair graph, each labeled
    // by its minimum doc id — chains a-b, b-c collapse into one cluster). Spark side:
    // iterative min-label propagation; oracle: recursive-CTE transitive closure over
    // the same exact-Jaccard edges. Compared as cluster-size distribution stats.
    QueryDef("dedup_clusters_documents",
      (s, d) => Dedup.nearDupClusters(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.9, shingleSize = 5)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .agg(
          sum(col("sz")).cast("long").as("n_docs"),
          count(lit(1)).as("n_clusters"),
          sum(when(col("sz") > 1, col("sz")).otherwise(0L)).as("docs_in_dup_clusters"),
          max(col("sz")).as("max_cluster_size")),
      Some("""WITH RECURSIVE idx AS (SELECT unnest(range(1, CAST((SELECT coalesce(max(length(text)), 0) FROM documents) AS BIGINT) + 1)) AS i),
             | sh AS (SELECT doc_id, list(DISTINCT substr(text, CAST(i AS INT), 5)) AS g
             |   FROM documents JOIN idx ON i <= length(text) - 4 GROUP BY doc_id
             |   UNION ALL SELECT doc_id, [text] AS g FROM documents WHERE length(text) < 5),
             | p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |   FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |   WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(list_distinct(a.g || b.g)) >= 0.9),
             | e AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
             | reach(a, b) AS (SELECT doc_id, doc_id FROM documents
             |   UNION SELECT reach.a, e.dst FROM reach JOIN e ON reach.b = e.src),
             | cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
             | sizes AS (SELECT cluster_id, count(*) AS sz FROM cl GROUP BY 1)
             | SELECT CAST(sum(sz) AS BIGINT) AS n_docs, count(*) AS n_clusters,
             | CAST(sum(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT) AS docs_in_dup_clusters,
             | CAST(max(sz) AS BIGINT) AS max_cluster_size
             | FROM sizes""".stripMargin.replaceAll("\n", " "))),

    // Token counting two ways (whitespace + BPE-ish subword proxy — GPT-2-style
    // pre-tokenizer regex); both are exact integer counts, oracle-identical since the
    // pattern uses only Java/RE2-common syntax with leftmost-first alternation.
    QueryDef("token_counts_documents",
      (s, d) => t(s, d, "documents").agg(
        count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text"))).cast("long").as("ws_tokens"),
        sum(TextFunctions.bpeishTokenCount(col("text"))).cast("long").as("bpeish_tokens")),
      Some("""SELECT count(*) AS n_docs,
             | CAST(sum(len(@TOKENS(text)@)) AS BIGINT) AS ws_tokens,
             | CAST(sum(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)|\p{L}+|\p{N}+|[^ \t\n\x0b\f\r\p{L}\p{N}]+'))) AS BIGINT) AS bpeish_tokens
             | FROM documents""".stripMargin.replaceAll("\n", " "))),

    // Gopher structural quality rules (word-count/mean-word-length/symbol-ratio/
    // bullet-ellipsis-lines/alpha-words/stopwords) — per-rule corpus pass counts plus
    // the conjunction. Oracle recomputes every rule from scratch in DuckDB; the \s
    // dialect gap (Java includes \x0b, RE2 does not) is closed with the explicit char
    // class, same as token_counts_documents.
    QueryDef("gopher_quality_documents",
      (s, d) => {
        val g = graft.functions.TextFunctions.gopherFlags(col("text")).as("g")
        t(s, d, "documents").select(g).agg(
          count(col("g")).as("n_docs"),
          coalesce(sum(when(col("g.word_count_ok"), 1L).otherwise(0L)), lit(0L)).as("word_count_pass"),
          coalesce(sum(when(col("g.mean_word_len_ok"), 1L).otherwise(0L)), lit(0L)).as("mean_word_len_pass"),
          coalesce(sum(when(col("g.symbol_ratio_ok"), 1L).otherwise(0L)), lit(0L)).as("symbol_ratio_pass"),
          coalesce(sum(when(col("g.bullet_lines_ok"), 1L).otherwise(0L)), lit(0L)).as("bullet_lines_pass"),
          coalesce(sum(when(col("g.ellipsis_lines_ok"), 1L).otherwise(0L)), lit(0L)).as("ellipsis_lines_pass"),
          coalesce(sum(when(col("g.alpha_words_ok"), 1L).otherwise(0L)), lit(0L)).as("alpha_words_pass"),
          coalesce(sum(when(col("g.stopword_ok"), 1L).otherwise(0L)), lit(0L)).as("stopword_pass"),
          coalesce(sum(when(col("g.keep"), 1L).otherwise(0L)), lit(0L)).as("kept"))
      },
      Some("""WITH f AS (SELECT text,
             |   @TOKENS(text)@ AS t,
             |   list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l != '') AS ls
             |   FROM documents WHERE text IS NOT NULL),
             | g AS (SELECT len(t) AS nw,
             |   CASE WHEN len(t) > 0 THEN CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t) ELSE 0.0 END AS mwl,
             |   len(regexp_extract_all(text, '#|\.{3}|…')) AS nsym,
             |   len(ls) AS nl,
             |   len(list_filter(ls, l -> regexp_matches(l, '^[•‣▪*-]'))) AS nbul,
             |   len(list_filter(ls, l -> regexp_matches(l, '(\.{3}|…)$'))) AS nell,
             |   len(list_filter(t, x -> regexp_matches(x, '\p{L}'))) AS nalpha,
             |   len(list_filter(t, x -> regexp_matches(x, '(?i)^(the|be|to|of|and|that|have|with)$'))) AS nstop
             |   FROM f),
             | r AS (SELECT
             |   nw >= 50 AND nw <= 100000 AS wok,
             |   nw > 0 AND mwl >= 3.0 AND mwl <= 10.0 AS mok,
             |   nw > 0 AND CAST(nsym AS DOUBLE) <= 0.1 * CAST(nw AS DOUBLE) AS sok,
             |   (nl = 0 OR CAST(nbul AS DOUBLE) <= 0.9 * CAST(nl AS DOUBLE)) AS bok,
             |   (nl = 0 OR CAST(nell AS DOUBLE) <= 0.3 * CAST(nl AS DOUBLE)) AS eok,
             |   nw > 0 AND CAST(nalpha AS DOUBLE) >= 0.8 * CAST(nw AS DOUBLE) AS aok,
             |   nstop >= 2 AS stok FROM g)
             | SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |   CAST(coalesce(sum(CASE WHEN wok THEN 1 ELSE 0 END), 0) AS BIGINT) AS word_count_pass,
             |   CAST(coalesce(sum(CASE WHEN mok THEN 1 ELSE 0 END), 0) AS BIGINT) AS mean_word_len_pass,
             |   CAST(coalesce(sum(CASE WHEN sok THEN 1 ELSE 0 END), 0) AS BIGINT) AS symbol_ratio_pass,
             |   CAST(coalesce(sum(CASE WHEN bok THEN 1 ELSE 0 END), 0) AS BIGINT) AS bullet_lines_pass,
             |   CAST(coalesce(sum(CASE WHEN eok THEN 1 ELSE 0 END), 0) AS BIGINT) AS ellipsis_lines_pass,
             |   CAST(coalesce(sum(CASE WHEN aok THEN 1 ELSE 0 END), 0) AS BIGINT) AS alpha_words_pass,
             |   CAST(coalesce(sum(CASE WHEN stok THEN 1 ELSE 0 END), 0) AS BIGINT) AS stopword_pass,
             |   CAST(coalesce(sum(CASE WHEN wok AND mok AND sok AND bok AND eok AND aok AND stok THEN 1 ELSE 0 END), 0) AS BIGINT) AS kept
             | FROM r""".stripMargin.replaceAll("\n", " "))),

    // Embedding-cosine near-dup pairs: hyperplane-LSH candidates, exact-cosine
    // verification. The synthetic embeddings are near-orthogonal random vectors, so the
    // exact all-pairs oracle (quadratic, fine at gate scale) and the sub-quadratic LSH
    // path must agree on the pair count; planted-duplicate recall is pinned by
    // OperatorSpec against brute force.
    QueryDef("dedup_embedding_pairs",
      (s, d) => Dedup.nearDupPairsEmbedding(t(s, d, "embeddings"), "vec_id", "embedding",
        dim = 64, threshold = 0.85, planes = 8)
        .agg(count(lit(1)).as("near_pairs")),
      Some("""SELECT count(*) AS near_pairs FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             | WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             | (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.85""".stripMargin.replaceAll("\n", " "))),

    // Semantic decontamination: every-5th vector, RE-IDENTIFIED (+10M id), is the
    // "leaked benchmark" eval set; the whole table is the corpus — so every 5th
    // corpus row has a verbatim eval twin and MUST flag (identical vectors share
    // every LSH bucket: recall 1 by construction, no geometry luck), while
    // non-twin hits need cosine >= 0.85 (the same planes=8 regime whose
    // brute-force equality the embedding-pairs queries prove on this data).
    // Zero-norm and null-element vectors are excluded on BOTH sides: Spark's
    // IEEE 0/0 is NaN (compares greater than any threshold) where DuckDB's `/`
    // yields SQL NULL, and DuckDB's list_dot_product refuses null elements —
    // the one convention split in the family, resolved by exclusion (the
    // operator scaladoc documents the NaN behavior for production callers).
    // Counts only (no float hash-compare).
    QueryDef("semantic_contamination_embeddings",
      (s, d) => {
        val sumSq = (c: Column) => aggregate(c, lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double"))
        val usable = col("embedding").isNotNull &&
          !exists(col("embedding"), x => x.isNull) && sumSq(col("embedding")) > 0
        val corpus = t(s, d, "embeddings").filter(col("vec_id").isNotNull && usable)
        val evalSet = corpus.filter(pmod(col("vec_id"), lit(5)) === 0)
          .select((col("vec_id") + 10000000L).as("eid"), col("embedding").as("evec"))
        graft.operators.Dedup.semanticContaminationFlags(
            corpus, evalSet, "vec_id", "embedding", "eid", "evec",
            dim = 64, threshold = 0.85)
          .agg(count(lit(1)).as("n_flagged"),
            coalesce(sum(col("eval_hits")), lit(0L)).as("total_hits"),
            coalesce(max(col("eval_hits")), lit(0L)).as("max_hits_per_doc"))
      },
      // Pre-cast projections (not casts inside the join condition): DuckDB
      // v1.0's nested-loop join evaluates list_dot_product over padded chunks
      // and dies on them when the cast sits in the predicate.
      Some("""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             |   WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
             |     AND len(list_filter(embedding, x -> x IS NULL)) = 0
             |     AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
             | ev AS (SELECT vec_id + 10000000 AS eid, e FROM base WHERE (vec_id % 5 + 5) % 5 = 0),
             | hits AS (SELECT c.vec_id AS cid, v.eid FROM base c, ev v
             |   WHERE list_dot_product(c.e, v.e) /
             |     (sqrt(list_dot_product(c.e, c.e)) * sqrt(list_dot_product(v.e, v.e))) >= 0.85),
             | per AS (SELECT cid, count(DISTINCT eid) AS h FROM hits GROUP BY 1)
             | SELECT CAST(count(*) AS BIGINT) AS n_flagged,
             | CAST(coalesce(sum(h), 0) AS BIGINT) AS total_hits,
             | CAST(coalesce(max(h), 0) AS BIGINT) AS max_hits_per_doc
             | FROM per""".stripMargin.replaceAll("\n", " "))),

    // Incremental embedding near-dup vs a persisted hyperplane-LSH bucket index —
    // the vector member of the incremental dedup family (text minhash, image, audio,
    // video): even vec_ids form the standing corpus (index = ~20 B (id, table,
    // bucket) rows; their vectors are scanned but only candidate vectors shuffle),
    // odd vec_ids the incoming batch. Expected pairs = all cosine >= 0.85 pairs
    // touching >= 1 odd id (same brute-force DuckDB replay as dedup_embedding_pairs,
    // restricted); the old x old exclusion — prior runs already emitted those — is
    // pinned at 0. Identical (dim, planes, seed) on index build and batch, the
    // bucket-match contract the streaming sink enforces with its params marker.
    QueryDef("incremental_embedding_dedup_embeddings",
      (s, d) => {
        val embs = t(s, d, "embeddings")
        val index = Dedup.embeddingBucketIndex(
          embs.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding", dim = 64)
        val pairs = Dedup.incrementalEmbeddingPairs(
          embs.filter(pmod(col("vec_id"), lit(2)) === 1), index, embs,
          "vec_id", "embedding", dim = 64, threshold = 0.85)
        pairs.agg(
          count(lit(1)).as("n_pairs"),
          coalesce(sum(when(pmod(col("id_a"), lit(2)) === 0 &&
              pmod(col("id_b"), lit(2)) === 0, 1L).otherwise(0L)), lit(0L))
            .as("old_old_pairs"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_pairs, CAST(0 AS BIGINT) AS old_old_pairs
             | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             | WHERE ((a.vec_id % 2 + 2) % 2 = 1 OR (b.vec_id % 2 + 2) % 2 = 1)
             | AND list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             | (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.85""".stripMargin.replaceAll("\n", " "))),

    // SemDeDup (Abbas et al. 2023): cluster-then-dedup over the embedding space. The
    // query pins the WHOLE pipeline with FIXED one-hot centroids so DuckDB can replay
    // cell assignment exactly (argmax over the first 4 components — cosine against a
    // one-hot axis is v[k]/|v|, and dividing by the shared positive norm preserves the
    // argmax; ties go to the higher cell in both engines). Zero-norm / non-finite /
    // NULL vectors and NULL ids are filtered identically on both sides — Spark orders
    // NaN above every double while DuckDB's NaN>0 is also true but Java's is false, so
    // the explicit isfinite+positive-norm filter is what keeps the engines aligned.
    // The k-means-seeded path (data-dependent centroids, not SQL-replayable) is pinned
    // by OperatorSpec against brute force instead.
    QueryDef("semdedup_embeddings",
      (s, d) => {
        import graft.operators.Similarity
        val oneHot = (0 until 4).map(k => Seq.tabulate(64)(i => if (i == k) 1.0f else 0.0f))
        val ss = aggregate(col("embedding"), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double"))
        // The synthetic vectors are near-orthogonal (zero organic near-dups), so both
        // engines plant an exact copy of every 50th row under a shifted id — copies
        // land in their source's cell and must pair at cosine 1.0.
        val base = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val withPlanted = base.unionByName(
          base.filter(col("vec_id") % 50 === 0)
            .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
        // The element-null exclusion must be EXPLICIT on both sides: Spark's
        // aggregate fold turns one NULL element into a NULL sum (row dropped) while
        // DuckDB's list_sum SKIPS null elements (row kept) — without the mirrored
        // exists/list_filter clause a null-element vector desyncs the engines.
        val filtered = withPlanted
          .filter(col("vec_id").isNotNull &&
            !exists(col("embedding"), x => x.isNull) &&
            !isnan(ss) && ss < lit(Double.PositiveInfinity) && ss > 0)
        // Pairs are materialized ONCE and consumed twice (the pair aggregate and the
        // keep-set's dropped-id side). Round 14: the previous shape called
        // Similarity.semDedup as well, which recomputes semDedupPairs internally —
        // the whole cell+cosine pipeline (the expensive half of the plan, 64
        // Exchanges total) executed twice for one result. `kept` below inlines
        // semDedup's own definition (df anti-join distinct id_b) against the SAME
        // checkpointed pairs, so the result is identical by construction.
        val pairs = Similarity.semDedupPairs(filtered, "vec_id", "embedding", oneHot, 0.85)
          .localCheckpoint(true)
        val kept = filtered.join(
          pairs.select(col("id_b").as("vec_id")).distinct(), Seq("vec_id"), "left_anti")
        val cells = Similarity.ivfAssign(filtered, "embedding", oneHot)
        pairs.agg(
            count(lit(1)).as("n_pairs"),
            countDistinct(col("id_b")).as("n_dropped"))
          .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
          .crossJoin(cells.agg(countDistinct(col("ivf_cell")).as("n_cells")))
      },
      Some("""WITH base AS (SELECT vec_id, embedding FROM embeddings
             |   UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 50 = 0),
             | f AS (SELECT vec_id, embedding::DOUBLE[] AS v
             |   FROM base
             |   WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
             |     AND len(list_filter(embedding, x -> x IS NULL)) = 0
             |     AND isfinite(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))
             |     AND list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) > 0),
             | c AS (SELECT vec_id, v,
             |   CASE WHEN v[4] >= v[3] AND v[4] >= v[2] AND v[4] >= v[1] THEN 3
             |        WHEN v[3] >= v[2] AND v[3] >= v[1] THEN 2
             |        WHEN v[2] >= v[1] THEN 1 ELSE 0 END AS cell FROM f),
             | p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
             |   FROM c a JOIN c b ON a.cell = b.cell AND a.vec_id < b.vec_id
             |   WHERE list_dot_product(a.v, b.v) /
             |     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.85)
             | SELECT CAST((SELECT count(*) FROM p) AS BIGINT) AS n_pairs,
             |   CAST((SELECT count(DISTINCT id_b) FROM p) AS BIGINT) AS n_dropped,
             |   CAST((SELECT count(*) FROM f WHERE vec_id NOT IN (SELECT id_b FROM p)) AS BIGINT) AS n_kept,
             |   CAST((SELECT count(DISTINCT cell) FROM c) AS BIGINT) AS n_cells""".stripMargin.replaceAll("\n", " "))),

    // SimHash near-dup pairs (rows-only: hash-function-specific).
    // SimHash near-dup pairs, oracle-checked bit-for-bit: the query uses the engine's
    // md5 token-hash variant (portable), and the oracle rebuilds the same 64-bit
    // sketch in DuckDB as two 32-bit halves (BIGINT-safe), bands it 4×16 bits, and
    // verifies Hamming <= 3 via bit_count(xor) — identical candidate + verify logic.
    // Zero-token docs are excluded on BOTH sides (the engine filters them — they all
    // sketch to 0); the engine's oversized-band guard (10k) never fires at oracle
    // scale so the oracle omits it.
    QueryDef("dedup_simhash_documents",
      (s, d) => Dedup.nearDupPairsSimhash(t(s, d, "documents"), "doc_id", "text",
        maxHamming = 3, tokenHasher = "md5")
        .agg(count(lit(1)).as("simhash_pairs"),
          coalesce(sum(col("hamming")), lit(0L)).as("sum_hamming")),
      Some("""WITH tok AS (SELECT doc_id, unnest(@TOKENS(text)@) AS tk FROM documents),
             | th AS (SELECT doc_id, ('0x' || substr(md5(tk), 1, 8))::BIGINT AS hi, ('0x' || substr(md5(tk), 9, 8))::BIGINT AS lo FROM tok),
             | votes AS (SELECT doc_id, i, sum((CASE WHEN i < 32 THEN (lo >> i) & 1 ELSE (hi >> (i - 32)) & 1 END) * 2 - 1) AS v
             |   FROM th, (SELECT unnest(range(0, 64)) AS i) GROUP BY 1, 2),
             | shx AS (SELECT doc_id,
             |   CAST(sum(CASE WHEN v > 0 AND i < 32 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS lo32,
             |   CAST(sum(CASE WHEN v > 0 AND i >= 32 THEN (1::BIGINT << (i - 32)) ELSE 0 END) AS BIGINT) AS hi32
             |   FROM votes GROUP BY 1),
             | sh AS (SELECT doc_id, lo32, hi32 FROM shx),
             | banded AS (SELECT doc_id, hi32, lo32,
             |   CASE b WHEN 0 THEN lo32 & 65535 WHEN 1 THEN (lo32 >> 16) & 65535 WHEN 2 THEN hi32 & 65535 ELSE (hi32 >> 16) & 65535 END AS bits16, b
             |   FROM sh, (SELECT unnest(range(0, 4)) AS b)),
             | cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             |   bit_count(xor(a.lo32, b.lo32)) + bit_count(xor(a.hi32, b.hi32)) AS hamming
             |   FROM banded a JOIN banded b ON a.b = b.b AND a.bits16 = b.bits16 AND a.doc_id < b.doc_id)
             | SELECT count(*) AS simhash_pairs, CAST(coalesce(sum(hamming), 0) AS BIGINT) AS sum_hamming
             | FROM cand WHERE hamming <= 3""".stripMargin.replaceAll("\n", " "))),

    // Script-aware tokenization on constructed CJK pages (pure Han runs, mixed
    // ASCII+Han, middle-dot separators, plain ASCII control): token counts,
    // DISTINCT word-2-gram counts (the shingle chain's view) and mean word length,
    // replayed in DuckDB through the SAME @TOKENS@ segmentation SQL over the SAME
    // doc_id-constructed pages. Before segmentation landed, a no-space CJK page
    // was ONE giant token — zero shingles, degenerate mean word length.
    QueryDef("cjk_tokens_documents",
      (s, d) => {
        val did = col("doc_id")
        val n = did % 6 + lit(2) // 2..7 Han chars — short enough to stay in-slice
        val han = hanRun(n, did % 8)
        val text = when(did % 4 === 0, han)
          .when(did % 4 === 1, concat(lit("intro "), han, lit(" outro words")))
          .when(did % 4 === 2, concat(han, lit("・"), han))
          .otherwise(lit("plain the and that sample text"))
        t(s, d, "documents")
          .filter(did.isNotNull && did % 29 === 0)
          .select(did.as("doc_id"), text.as("_txt"))
          .select(col("doc_id"),
            TextFunctions.tokenCount(col("_txt")).cast("long").as("tok_n"),
            // wordShingles is already distinct (first-occurrence order)
            size(TextFunctions.wordShingles(col("_txt"), 2))
              .cast("long").as("uniq_grams2"),
            round(TextFunctions.meanWordLength(col("_txt")), 6).as("mwl"))
          .orderBy("doc_id")
      },
      Some(s"""WITH base AS (SELECT doc_id, doc_id % 6 + 2 AS n, doc_id % 8 AS o, doc_id % 4 AS v
             |   FROM documents WHERE doc_id IS NOT NULL AND doc_id % 29 = 0),
             | hr AS (SELECT doc_id, v, ${hanRunSql("n", "o")} AS h FROM base),
             | txt AS (SELECT doc_id, CASE WHEN v = 0 THEN h
             |   WHEN v = 1 THEN 'intro ' || h || ' outro words'
             |   WHEN v = 2 THEN h || '・' || h
             |   ELSE 'plain the and that sample text' END AS text FROM hr),
             | tok AS (SELECT doc_id, @TOKENS(text)@ AS t FROM txt)
             | SELECT doc_id,
             | CAST(len(t) AS BIGINT) AS tok_n,
             | CAST(CASE WHEN len(t) >= 2 THEN len(list_distinct(list_transform(
             |   range(1, len(t)), i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1])))
             |   ELSE 1 END AS BIGINT) AS uniq_grams2,
             | round(CASE WHEN len(t) > 0 THEN CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / CAST(len(t) AS DOUBLE) ELSE 0.0 END, 6) AS mwl
             | FROM tok ORDER BY doc_id""".stripMargin.replaceAll("\n", " "))),

    // CJK decontamination through the WORD-gram chain (the path whitespace-only
    // tokenization left blind: a no-space page had NO word 2-grams to match).
    // Constructed corpus: one 8-char Han run per doc from its group's disjoint
    // HanAlpha slice (+ a one-char mutation on alternating docs); probes are
    // either a 6-char PREFIX of a group's run (every word 2-gram contained — 4/4
    // matched by construction) or a disjoint-character clean page (0 matched).
    // Oracle: pure doc_id arithmetic — contamination here is decidable by
    // construction, which is the point: detection now WORKS on CJK.
    QueryDef("cjk_dedup_documents",
      (s, d) => {
        val did = col("doc_id")
        val base = t(s, d, "documents").filter(did.isNotNull && did % 31 === 0)
        val g = did % 3
        val corpus = base.select(did.as("doc_id"),
          concat(hanRun(lit(8), g * 8),
            when((did / 31) % 2 === 1, lit("的")).otherwise(lit(""))).as("ctext"))
        val probe = base.select(did.as("doc_id"),
          when(did % 5 < 3, hanRun(lit(6), (did % 5) % 3 * 8))
            .otherwise(lit("安全探针噪声页")).as("ptext"))
        graft.operators.Dedup.crossCorpusContamination(
          corpus, probe, "ctext", "doc_id", "ptext", ngramWords = 2)
          .agg(
            count(lit(1)).as("n_probes"),
            sum(when(col("ngrams_matched") > 0, 1L).otherwise(0L)).as("contaminated_docs"),
            sum(col("ngrams_matched")).cast("long").as("total_matched"),
            round(max(col("contamination")), 6).as("max_contamination"))
      },
      Some("""WITH base AS (SELECT doc_id, doc_id % 5 AS pv
             |   FROM documents WHERE doc_id IS NOT NULL AND doc_id % 31 = 0)
             | SELECT count(*) AS n_probes,
             | CAST(sum(CASE WHEN pv < 3 THEN 1 ELSE 0 END) AS BIGINT) AS contaminated_docs,
             | CAST(sum(CASE WHEN pv < 3 THEN 4 ELSE 0 END) AS BIGINT) AS total_matched,
             | round(max(CASE WHEN pv < 3 THEN 1.0 ELSE 0.0 END), 6) AS max_contamination
             | FROM base""".stripMargin.replaceAll("\n", " "))),

    // Per-language quality routing (CCNet/Gopher practice): gopherFlagsRouted picks
    // thresholds by langId — the CJK preset drops the English mean-word-length and
    // stopword priors that auto-reject segmented (length-2 bigram) tokens. Pages
    // are constructed so routing CHANGES the kept-set in closed form: Han pages
    // pass iff their unit count clears the word budget (keep_default is always
    // false for them — mean 2.0 fails [3,10] and English stopwords never hit),
    // while English pages route to the default config and pass both ways.
    QueryDef("lang_routed_quality_documents",
      (s, d) => {
        val did = col("doc_id")
        val text = when(did % 2 === 0, hanRun(did % 40 + lit(40), did % 8))
          .otherwise(lit(("the be to of and that have with " * 8).trim))
        val routed = TextFunctions.gopherFlagsRouted(col("_txt"))
        t(s, d, "documents")
          .filter(did.isNotNull && did % 37 === 0)
          .select(did.as("doc_id"), text.as("_txt"))
          .select(col("doc_id"),
            routed.getField("lang").as("lang"),
            when(routed.getField("flags").getField("keep"), 1L).otherwise(0L)
              .as("keep_routed"),
            when(TextFunctions.gopherFlags(col("_txt")).getField("keep"), 1L)
              .otherwise(0L).as("keep_default"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             | CASE WHEN doc_id % 2 = 0 THEN 'zh' ELSE 'en' END AS lang,
             | CAST(CASE WHEN doc_id % 2 = 0 THEN (CASE WHEN doc_id % 40 >= 11 THEN 1 ELSE 0 END) ELSE 1 END AS BIGINT) AS keep_routed,
             | CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS BIGINT) AS keep_default
             | FROM documents WHERE doc_id IS NOT NULL AND doc_id % 37 = 0
             | ORDER BY doc_id""".stripMargin.replaceAll("\n", " "))),

    QueryDef("embedding_norms",
      (s, d) => {
        val norm = sqrt(aggregate(transform(col("embedding"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, v) => acc + v))
        t(s, d, "embeddings").agg(
          count(lit(1)).as("n_vecs"),
          round(min(norm), 4).as("min_norm"),
          round(max(norm), 4).as("max_norm"),
          round(avg(norm), 4).as("avg_norm"))
      },
      Some("""SELECT count(*) AS n_vecs,
             | round(min(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS min_norm,
             | round(max(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS max_norm,
             | round(avg(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS avg_norm
             | FROM embeddings""".stripMargin.replaceAll("\n", " "))),

    // REAL multimodal metadata decode, oracled end-to-end: each doc gets a real
    // image (format rotating png/jpeg/gif/bmp, dimensions derived from doc_id) and
    // a real WAV (duration derived from doc_id), encoded with the JDK writers and
    // decoded back through the production withMediaMeta operator (javax.imageio
    // header reads + RIFF chunk walk). DuckDB replays the doc_id arithmetic — if
    // the decoder invented numbers (the old stub) or misparsed a header, the sums
    // diverge. pmod on both sides: plain % goes negative on negative ids.
    QueryDef("multimodal_meta_documents",
      (s, d) => {
        import graft.operators.Multimodal
        import graft.operators.Multimodal.MediaCodecs
        val fmts = Array("png", "jpeg", "gif", "bmp")
        val mkImg = udf((id: Long) => {
          val w = 1 + (((id % 13) + 13) % 13).toInt
          val h = 1 + (((id % 7) + 7) % 7).toInt
          MediaCodecs.encodeImage(w, h, fmts((((id % 4) + 4) % 4).toInt), id)
        })
        val mkWav = udf((id: Long) =>
          MediaCodecs.encodeWavPcm(8000, new Array[Byte]((1 + ((id % 4000) + 4000) % 4000).toInt)))
        val media = t(s, d, "documents").filter(col("doc_id").isNotNull)
          .select(col("doc_id"), mkImg(col("doc_id")).as("img"), mkWav(col("doc_id")).as("wav"))
        val decoded = Multimodal.withMediaMeta(
          Multimodal.withMediaMeta(media, "img", "im"), "wav", "am")
        decoded.agg(
          count(lit(1)).as("n_docs"),
          sum(col("im.width").cast("long")).as("sum_width"),
          sum(col("im.height").cast("long")).as("sum_height"),
          sum(col("am.duration_ms")).as("sum_duration_ms"),
          bool_and(col("im.format") ===
            element_at(lit(fmts), pmod(col("doc_id"), lit(4)).cast("int") + 1) &&
            col("am.format") === "wav").as("formats_ok"))
      },
      Some("""WITH m AS (SELECT 1 + ((doc_id % 13 + 13) % 13) AS w, 1 + ((doc_id % 7 + 7) % 7) AS h,
             |   1 + ((doc_id % 4000 + 4000) % 4000) AS dl
             |   FROM documents WHERE doc_id IS NOT NULL)
             | SELECT count(*) AS n_docs,
             | CAST(sum(w) AS BIGINT) AS sum_width, CAST(sum(h) AS BIGINT) AS sum_height,
             | CAST(sum((dl * 1000) // 8000) AS BIGINT) AS sum_duration_ms,
             | CASE WHEN count(*) = 0 THEN NULL ELSE TRUE END AS formats_ok
             | FROM m""".stripMargin.replaceAll("\n", " "))),

    // REAL video container metadata, oracled end-to-end: every doc gets a
    // deterministic MP4 / Matroska / AVI skeleton (doc_id mod 3) whose duration/
    // width/height are pure doc_id arithmetic; the Spark side actually PARSES the
    // container (box walk / EBML walk / RIFF walk — the encoders and parsers are
    // independent code paths, and the fixtures spec pins the parsers against
    // checked-in bytes verified byte-level in Python), and DuckDB replays the
    // arithmetic.
    QueryDef("video_meta_documents",
      (s, d) => {
        import graft.operators.Multimodal
        val mkVid = udf((id: Long) => {
          val w = 16 + (((id % 32) + 32) % 32).toInt
          val h = 9 + (((id % 17) + 17) % 17).toInt
          val dur = 1000L + ((id % 5000) + 5000) % 5000
          (((id % 3) + 3) % 3) match {
            case 0L => Multimodal.MediaCodecs.encodeMp4Meta(dur, w, h)
            case 1L => Multimodal.MediaCodecs.encodeMkvMeta(dur, w, h)
            case _ => Multimodal.MediaCodecs.encodeAviMeta(dur, w, h)
          }
        })
        val media = t(s, d, "documents").filter(col("doc_id").isNotNull)
          .select(col("doc_id"), mkVid(col("doc_id")).as("vid"))
        Multimodal.withMediaMeta(media, "vid", "vm").agg(
          count(lit(1)).as("n_videos"),
          sum(col("vm.width").cast("long")).as("sum_width"),
          sum(col("vm.height").cast("long")).as("sum_height"),
          sum(col("vm.duration_ms")).as("sum_duration_ms"),
          bool_and(col("vm.format") ===
            when(pmod(col("doc_id"), lit(3)) === 0, "mp4")
              .when(pmod(col("doc_id"), lit(3)) === 1, "mkv").otherwise("avi"))
            .as("formats_ok"))
      },
      Some("""WITH v AS (SELECT 16 + ((doc_id % 32 + 32) % 32) AS w,
             |   9 + ((doc_id % 17 + 17) % 17) AS h,
             |   1000 + ((doc_id % 5000 + 5000) % 5000) AS dur
             |   FROM documents WHERE doc_id IS NOT NULL)
             | SELECT count(*) AS n_videos, CAST(sum(w) AS BIGINT) AS sum_width,
             | CAST(sum(h) AS BIGINT) AS sum_height, CAST(sum(dur) AS BIGINT) AS sum_duration_ms,
             | CASE WHEN count(*) = 0 THEN NULL ELSE TRUE END AS formats_ok
             | FROM v""".stripMargin.replaceAll("\n", " "))),

    // REAL audio-container metadata, oracled: each doc gets a FLAC STREAMINFO /
    // CBR MP3 frame run / Ogg page pair (Vorbis or Opus) by doc_id arithmetic;
    // flac+ogg round-trip the encoded ms exactly (8 kHz / 48 kHz), mp3's frame
    // walk yields exactly 72 ms per MPEG-2.5 Layer III frame — all pure
    // arithmetic DuckDB replays. The boolean gates the magic-byte sniff per format.
    QueryDef("audio_meta_documents",
      (s, d) => {
        import graft.operators.Multimodal
        val mkAud = udf((id: Long) => {
          val dur = 500L + ((id % 3000) + 3000) % 3000
          val k = (10 + (((id % 20) + 20) % 20)).toInt
          (((id % 3) + 3) % 3) match {
            case 0L => Multimodal.MediaCodecs.encodeFlacMeta(dur)
            case 1L => Multimodal.MediaCodecs.encodeMp3Cbr(k, id3Pad = (k % 3) * 64)
            case _ => Multimodal.MediaCodecs.encodeOggMeta(dur,
              opus = (((id % 2) + 2) % 2) == 0L)
          }
        })
        val media = t(s, d, "documents").filter(col("doc_id").isNotNull)
          .select(col("doc_id"), mkAud(col("doc_id")).as("aud"))
        Multimodal.withMediaMeta(media, "aud", "am").agg(
          count(lit(1)).as("n_audio"),
          sum(col("am.duration_ms")).as("sum_duration_ms"),
          bool_and(col("am.format") ===
            when(pmod(col("doc_id"), lit(3)) === 0, "flac")
              .when(pmod(col("doc_id"), lit(3)) === 1, "mp3").otherwise("ogg"))
            .as("formats_ok"))
      },
      Some("""WITH a AS (SELECT ((doc_id % 3 + 3) % 3) AS m3,
             |   500 + ((doc_id % 3000 + 3000) % 3000) AS dur,
             |   10 + ((doc_id % 20 + 20) % 20) AS k
             |   FROM documents WHERE doc_id IS NOT NULL)
             | SELECT count(*) AS n_audio,
             | CAST(sum(CASE WHEN m3 = 1 THEN 72 * k ELSE dur END) AS BIGINT) AS sum_duration_ms,
             | CASE WHEN count(*) = 0 THEN NULL ELSE TRUE END AS formats_ok
             | FROM a""".stripMargin.replaceAll("\n", " "))),

    // WARC ingestion, oracled end-to-end: each doc becomes a WARC blob of
    // k = 1 + doc_id%4 REAL response records (half the blobs multi-member gzip),
    // record i carrying an HTTP 200/404 message with a 10+7i byte body. The
    // explode parses headers, splits HTTP status/body, and the closed-form sums
    // (Σ bodies = 10k + 7k(k-1)/2, Σ oks = ceil(k/2)) replay in DuckDB.
    QueryDef("warc_records_documents",
      (s, d) => {
        import graft.operators.Warc
        val mkWarc = udf((id: Long) => {
          val k = (1 + (((id % 4) + 4) % 4)).toInt
          val blocks = (0 until k).map { i =>
            Warc.encodeResponseRecord(s"https://example.com/$id/$i",
              "2026-01-01T00:00:00Z", s"<urn:uuid:$id-$i>",
              if (i % 2 == 0) 200 else 404, "text/plain",
              ("x" * (10 + 7 * i)).getBytes("ISO-8859-1"))
          }
          Warc.encodeWarc(blocks, gzip = (((id % 2) + 2) % 2) == 0L)
        })
        // fanOut: see warc_brotli_documents (measured 0.70 s raw vs 0.36 s fanned)
        val blobs = graft.operators.Dedup.fanOut(
            t(s, d, "documents").filter(col("doc_id").isNotNull).select(col("doc_id")))
          .select(col("doc_id"), mkWarc(col("doc_id")).as("warc"))
        Warc.explodeRecords(blobs, "warc").agg(
          count(lit(1)).as("n_records"),
          sum(length(col("payload")).cast("long")).as("sum_body_bytes"),
          sum(when(col("http_status") === 200, 1L).otherwise(0L)).as("n_ok"),
          bool_and(col("warc_type") === "response" && !col("truncated"))
            .as("all_responses"))
      },
      Some("""WITH d AS (SELECT 1 + ((doc_id % 4 + 4) % 4) AS k
             |   FROM documents WHERE doc_id IS NOT NULL)
             | SELECT CAST(coalesce(sum(k), 0) AS BIGINT) AS n_records,
             | CAST(sum(10 * k + 7 * k * (k - 1) // 2) AS BIGINT) AS sum_body_bytes,
             | CAST(sum((k + 1) // 2) AS BIGINT) AS n_ok,
             | CASE WHEN count(*) = 0 THEN NULL ELSE TRUE END AS all_responses
             | FROM d""".stripMargin.replaceAll("\n", " "))),

    // HTML -> visible-text extraction, oracled: every doc becomes a REAL page
    // (title/style/script/comment/entities/table) keyed on doc_id; the kernel's
    // output must equal the closed-form expected prose, which DuckDB constructs
    // directly. Exercises chrome removal, block newlines, entity decoding, and
    // title capture on every row.
    QueryDef("html_extract_documents",
      (s, d) => {
        import graft.functions.WebFunctions
        val id = col("doc_id").cast("string")
        val html = concat(
          lit("<html><head><title>T "), id,
          lit("</title><style>p{color:red}</style></head><body><h1>Heading "), id,
          lit("</h1><!-- hidden --><p>alpha &amp; beta</p><p>gamma&nbsp;delta</p>" +
            "<script>var x=\"<p>fake</p>\";</script><table><tr><td>c1</td><td>c2" +
            "</td></tr></table><div>tail "), id, lit("</div></body></html>"))
        val parts = WebFunctions.htmlParts(html)
        val expText = concat(lit("Heading "), id,
          lit("\nalpha & beta\ngamma delta\nc1 c2\ntail "), id)
        // NO fanOut (measured, round 14): raw 0.25 s vs fanned 0.36 s same-JVM.
        t(s, d, "documents").filter(col("doc_id").isNotNull)
          .select(parts.getField("text").as("x"), parts.getField("title").as("ti"),
            expText.as("ex"), concat(lit("T "), id).as("eti"))
          .agg(count(lit(1)).as("n_pages"),
            bool_and(col("x") === col("ex")).as("text_ok"),
            bool_and(col("ti") === col("eti")).as("title_ok"),
            sum(length(col("x")).cast("long")).as("sum_text_chars"))
      },
      Some("""WITH p AS (SELECT 'Heading ' || doc_id || chr(10) || 'alpha & beta' ||
             |   chr(10) || 'gamma delta' || chr(10) || 'c1 c2' || chr(10) ||
             |   'tail ' || doc_id AS x
             |   FROM documents WHERE doc_id IS NOT NULL)
             | SELECT CAST(count(*) AS BIGINT) AS n_pages,
             | CASE WHEN count(*) = 0 THEN NULL ELSE TRUE END AS text_ok,
             | CASE WHEN count(*) = 0 THEN NULL ELSE TRUE END AS title_ok,
             | CAST(sum(length(x)) AS BIGINT) AS sum_text_chars
             | FROM p""".stripMargin.replaceAll("\n", " "))),

    // Main-content extraction over constructed nav-heavy pages, oracled: every
    // doc becomes a page with link-dense chrome (nav bar, pager, footer) around
    // real article prose (one block CONTAINING a link — density decides, not
    // presence). The default extraction must keep the chrome (full-fidelity
    // contract), the main variant must drop exactly the chrome blocks; both
    // compared to closed-form strings DuckDB constructs directly.
    QueryDef("html_main_text_documents",
      (s, d) => {
        import graft.functions.WebFunctions
        val id = col("doc_id").cast("string")
        val p1 = concat(lit("A quiet meadow stretches beyond the river where " +
          "the morning light settles over "), id,
          lit(" stones and the travelers rest before the long road north."))
        val p2 = concat(lit("More context is collected here for readers who " +
          "want the complete background on entry "), id,
          lit(" and its many revisions over the years."))
        val html = concat(
          lit("<html><head><title>T "), id, lit("</title></head><body>" +
            "<div><a href=\"/\">Home</a> | <a href=\"/about\">About</a> | " +
            "<a href=\"/contact\">Contact</a></div><h1>Story "), id,
          lit("</h1><p>A quiet meadow stretches beyond the river where the " +
            "morning light settles over "), id,
          lit(" stones and the travelers rest before the long road north.</p>" +
            "<p>More context is collected <a href=\"/ref\">here</a> for readers " +
            "who want the complete background on entry "), id,
          lit(" and its many revisions over the years.</p>" +
            "<div><a href=\"/prev\">Prev</a> <a href=\"/next\">Next</a></div>" +
            "<footer><a href=\"/terms\">Terms</a> " +
            "<a href=\"/privacy\">Privacy</a></footer></body></html>"))
        val expMain = concat(lit("Story "), id, lit("\n"), p1, lit("\n"), p2)
        val expFull = concat(lit("Home | About | Contact\nStory "), id,
          lit("\n"), p1, lit("\n"), p2, lit("\nPrev Next\nTerms Privacy"))
        // NO fanOut (measured, round 14): the html_extract A/B read raw 0.25 s vs
        // fanned 0.36 s same-JVM — the parse kernel is too cheap for the exchange.
        t(s, d, "documents").filter(col("doc_id").isNotNull)
          .select(html.as("html_src"), expMain.as("em"), expFull.as("ef"))
          .select(WebFunctions.htmlMainText(col("html_src")).as("m"),
            WebFunctions.htmlToText(col("html_src")).as("f"),
            col("em"), col("ef"))
          .agg(count(lit(1)).as("n_pages"),
            bool_and(col("m") === col("em")).as("main_ok"),
            bool_and(col("f") === col("ef")).as("full_ok"),
            sum(length(col("m")).cast("long")).as("sum_main_chars"))
      },
      Some("""WITH p AS (SELECT 'Story ' || doc_id || chr(10) ||
             |   'A quiet meadow stretches beyond the river where the morning light settles over ' ||
             |   doc_id || ' stones and the travelers rest before the long road north.' || chr(10) ||
             |   'More context is collected here for readers who want the complete background on entry ' ||
             |   doc_id || ' and its many revisions over the years.' AS m
             |   FROM documents WHERE doc_id IS NOT NULL)
             | SELECT CAST(count(*) AS BIGINT) AS n_pages,
             | CASE WHEN count(*) = 0 THEN NULL ELSE TRUE END AS main_ok,
             | CASE WHEN count(*) = 0 THEN NULL ELSE TRUE END AS full_ok,
             | CAST(sum(length(m)) AS BIGINT) AS sum_main_chars
             | FROM p""".stripMargin.replaceAll("\n", " "))),

    // The crawl path chained END TO END under the gate: WARC blob (half gzip)
    // -> record explode -> HTTP split -> HTML extraction -> prose, compared
    // per page against the closed-form string DuckDB constructs directly.
    QueryDef("warc_html_pipeline_documents",
      (s, d) => {
        import graft.operators.Warc
        import graft.functions.WebFunctions
        val mkBlob = udf((id: Long) => {
          val body = s"<html><head><title>T $id</title><script>x()</script></head>" +
            s"<body><h1>Doc $id</h1><p>alpha &amp; beta $id</p></body></html>"
          Warc.encodeWarc(Seq(Warc.encodeResponseRecord(s"https://example.com/$id",
            "2026-01-01T00:00:00Z", s"<urn:uuid:$id>", 200, "text/html",
            body.getBytes("ISO-8859-1"))), gzip = (((id % 2) + 2) % 2) == 0L)
        })
        // fanOut (measured, round 14): raw 0.70 s vs fanned 0.36 s same-JVM — the
        // per-row WARC encode + parse kernels dominate; 8 B/row crosses the local
        // shuffle, no-op when the input is already parallel.
        val blobs = graft.operators.Dedup.fanOut(
            t(s, d, "documents").filter(col("doc_id").isNotNull).select(col("doc_id")))
          .select(col("doc_id"), mkBlob(col("doc_id")).as("warc"))
        val id = col("doc_id").cast("string")
        Warc.responseTexts(blobs, "warc")
          .select(WebFunctions.htmlToText(col("text")).as("prose"),
            concat(lit("Doc "), id, lit("\nalpha & beta "), id).as("expected"))
          .agg(count(lit(1)).as("n_pages"),
            bool_and(col("prose") === col("expected")).as("prose_ok"),
            sum(length(col("prose")).cast("long")).as("sum_prose_chars"))
      },
      Some("""WITH p AS (SELECT 'Doc ' || doc_id || chr(10) || 'alpha & beta ' ||
             |   doc_id AS x FROM documents WHERE doc_id IS NOT NULL)
             | SELECT CAST(count(*) AS BIGINT) AS n_pages,
             | CASE WHEN count(*) = 0 THEN NULL ELSE TRUE END AS prose_ok,
             | CAST(sum(length(x)) AS BIGINT) AS sum_prose_chars
             | FROM p""".stripMargin.replaceAll("\n", " "))),

    // Charset-aware crawl decode, oracled end-to-end: each doc becomes a WARC
    // response whose charset rotates on doc_id%6 — windows-1252 declared via a
    // LYING latin-1 header label (WHATWG: it means cp1252), Shift_JIS declared
    // only by <meta charset> sniff, GBK via header param, undeclared UTF-8
    // resolved by the validity fallback (the one charset_assumed case), a
    // UTF-8 BOM beating a lying shift_jis header (and getting stripped), and
    // a BOM-less UTF-16LE body under the endianness-unspecified `utf-16`
    // header label (WHATWG: it means LE; the JVM default would byte-swap).
    // The boolean gates that every decoded text equals the expected string the
    // encoder started from (bytes went through a REAL charset round-trip);
    // the per-charset counts and the assumed count replay as doc_id arithmetic.
    QueryDef("warc_charset_documents",
      (s, d) => {
        import graft.operators.Warc
        val mkBlob = udf((id: Long) => {
          val m = (((id % 6) + 6) % 6).toInt
          val (ct, bytes) = m match {
            case 0 => ("text/html; charset=iso-8859-1",
              s"café – résumé € $id".getBytes("windows-1252"))
            case 1 => ("text/html",
              s"<meta charset=shift_jis>日本語のページ $id"
                .getBytes("windows-31j"))
            case 2 => ("text/html; charset=gb2312",
              s"中文网页 $id".getBytes("GBK"))
            case 3 => ("text/plain", s"日本 page $id".getBytes("UTF-8"))
            case 4 => ("text/html; charset=shift_jis", // the BOM must win
              Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
                s"bom wins $id".getBytes("UTF-8"))
            case _ => ("text/plain; charset=utf-16",
              s"wide page $id".getBytes(java.nio.charset.StandardCharsets.UTF_16LE))
          }
          // gzip keyed off id/6, COPRIME to the %6 charset rotation — id%2
          // would pin each decode path to one compression layout forever
          // (gcd(2,6)=2), hiding any gzip-x-charset interaction from the gate
          Warc.encodeWarc(Seq(Warc.encodeResponseRecord(s"https://example.com/$id",
            "2026-01-01T00:00:00Z", s"<urn:uuid:$id>", 200, ct, bytes)),
            gzip = ((((id / 6) % 2) + 2) % 2) == 0L)
        })
        // fanOut (measured, round 14): raw 0.70 s vs fanned 0.36 s same-JVM — the
        // per-row WARC encode + parse kernels dominate; 8 B/row crosses the local
        // shuffle, no-op when the input is already parallel.
        val blobs = graft.operators.Dedup.fanOut(
            t(s, d, "documents").filter(col("doc_id").isNotNull).select(col("doc_id")))
          .select(col("doc_id"), mkBlob(col("doc_id")).as("warc"))
        val id = col("doc_id").cast("string")
        val m = pmod(col("doc_id"), lit(6))
        val expected = when(m === 0, concat(lit("café – résumé € "), id))
          .when(m === 1, concat(lit("<meta charset=shift_jis>日本語のページ "), id))
          .when(m === 2, concat(lit("中文网页 "), id))
          .when(m === 3, concat(lit("日本 page "), id))
          .when(m === 4, concat(lit("bom wins "), id)) // BOM stripped, not prose
          .otherwise(concat(lit("wide page "), id))
        Warc.responseTexts(blobs, "warc")
          .select(col("text"), col("charset"), col("charset_assumed"), expected.as("exp"))
          .agg(count(lit(1)).as("n_pages"),
            bool_and(col("text") === col("exp")).as("decode_ok"),
            // coalesce: sum over ZERO pages is SQL NULL, the oracle says 0
            coalesce(sum(when(col("charset") === "windows-1252", 1L).otherwise(0L)),
              lit(0L)).as("n_cp1252"),
            coalesce(sum(when(col("charset") === "windows-31j", 1L).otherwise(0L)),
              lit(0L)).as("n_sjis"),
            coalesce(sum(when(col("charset") === "gbk", 1L).otherwise(0L)),
              lit(0L)).as("n_gbk"),
            coalesce(sum(when(col("charset") === "utf-16le", 1L).otherwise(0L)),
              lit(0L)).as("n_utf16"),
            coalesce(sum(when(col("charset_assumed"), 1L).otherwise(0L)),
              lit(0L)).as("n_assumed"))
      },
      Some("""WITH d AS (SELECT (doc_id % 6 + 6) % 6 AS m
             |   FROM documents WHERE doc_id IS NOT NULL)
             | SELECT CAST(count(*) AS BIGINT) AS n_pages,
             | CASE WHEN count(*) = 0 THEN NULL ELSE TRUE END AS decode_ok,
             | CAST(coalesce(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cp1252,
             | CAST(coalesce(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_sjis,
             | CAST(coalesce(sum(CASE WHEN m = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_gbk,
             | CAST(coalesce(sum(CASE WHEN m = 5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_utf16,
             | CAST(coalesce(sum(CASE WHEN m = 3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_assumed
             | FROM d""".stripMargin.replaceAll("\n", " "))),

    // Content-Encoding: br through the built-in RFC 7932 decoder, oracled
    // end-to-end: every doc's blob carries one brotli-encoded response —
    // id%2 rotates the stream shape between the uncompressed-meta-block form
    // and a genuinely entropy-coded compressed meta-block (uniform literal
    // code), id/2 parity rotates the OUTER gzip layer (period-4 covers all
    // combinations) — plus, for id%5==0, a second response whose br body is
    // corrupt: it must keep its raw bytes with http_decoded=false (the
    // caps/flags-are-visible contract), never break the blob. Counts and
    // body-equality replay as pure doc_id arithmetic in DuckDB.
    QueryDef("warc_brotli_documents",
      (s, d) => {
        import graft.operators.Warc
        import graft.functions.Brotli
        val corrupt = Array[Byte](0x21, 0x7f, 0x33)
        val mkBlob = udf((id: Long) => {
          val text = s"brotli page $id".getBytes("UTF-8")
          val body = if ((((id % 2) + 2) % 2) == 0L) Brotli.encodeUncompressed(text)
            else Brotli.encodeCompressedLiterals(text)
          val resp = Warc.encodeResponseRecord(s"https://example.com/$id",
            "2026-01-01T00:00:00Z", s"<urn:uuid:$id>", 200, "text/plain", body,
            contentEncoding = Some("br"))
          val blocks = if ((((id % 5) + 5) % 5) == 0L)
            Seq(resp, Warc.encodeResponseRecord(s"https://example.com/$id/bad",
              "2026-01-01T00:00:00Z", s"<urn:uuid:$id-b>", 200, "text/plain",
              corrupt, contentEncoding = Some("br")))
          else Seq(resp)
          Warc.encodeWarc(blocks, gzip = ((((id / 2) % 2) + 2) % 2) == 0L)
        })
        // fanOut (measured, round 14): raw 0.70 s vs fanned 0.36 s same-JVM — the
        // per-row WARC encode + parse kernels dominate; 8 B/row crosses the local
        // shuffle, no-op when the input is already parallel.
        val blobs = graft.operators.Dedup.fanOut(
            t(s, d, "documents").filter(col("doc_id").isNotNull).select(col("doc_id")))
          .select(col("doc_id"), mkBlob(col("doc_id")).as("warc"))
        val expected = concat(lit("brotli page "), col("doc_id").cast("string"))
        Warc.explodeRecords(blobs, "warc").agg(
          count(lit(1)).as("n_records"),
          coalesce(sum(when(col("http_decoded"), 1L).otherwise(0L)), lit(0L))
            .as("n_decoded"),
          // every DECODED body is the expected per-id text, bit-exact
          bool_and(when(col("http_decoded"),
            col("payload").cast("string") === expected)).as("decode_ok"),
          // every UNDECODED body kept its raw corrupt bytes (flagged, visible)
          bool_and(when(!col("http_decoded"),
            col("payload") === lit(corrupt))).as("raw_kept"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |   CASE WHEN (doc_id % 5 + 5) % 5 = 0 THEN 2 ELSE 1 END AS k
             |   FROM documents WHERE doc_id IS NOT NULL)
             | SELECT CAST(coalesce(sum(k), 0) AS BIGINT) AS n_records,
             | CAST(count(*) AS BIGINT) AS n_decoded,
             | CASE WHEN count(*) = 0 THEN NULL ELSE TRUE END AS decode_ok,
             | CASE WHEN coalesce(sum(k - 1), 0) = 0 THEN NULL ELSE TRUE END AS raw_kept
             | FROM d""".stripMargin.replaceAll("\n", " "))),

    // Truncation semantics through the whole chain, oracled: id%3 rotates a
    // response between (0) complete, (1) a WARC-Truncated-stamped record (the
    // crawler's own stored-truncation marker — parses cleanly, only the header
    // says the text is incomplete), and (2) a gzip body CUT mid-stream (the
    // Common Crawl ~1 MB capture cut: the decoded PREFIX must be recovered
    // with the truncated flag, not dropped to raw+undecoded). Counts are pure
    // doc_id arithmetic; prefix recovery is the ok-boolean invariant (each
    // recovered payload is a nonempty prefix of the known full text).
    QueryDef("warc_truncated_documents",
      (s, d) => {
        import graft.operators.Warc
        val fullText = "repeated crawl page content block " * 200
        val mkBlob = udf((id: Long) => {
          val m = ((id % 3) + 3) % 3
          val body = s"$fullText$id".getBytes("ISO-8859-1")
          val rec = m match {
            case 1L =>
              val r = Warc.encodeResponseRecord(s"https://example.com/$id",
                "2026-01-01T00:00:00Z", s"<urn:uuid:$id>", 200, "text/plain",
                s"stored partial $id".getBytes("ISO-8859-1"))
              // stamp WARC-Truncated the way the crawler does
              val iso = java.nio.charset.StandardCharsets.ISO_8859_1
              val txt = new String(r, iso)
              txt.replaceFirst("WARC-Type: response\r\n",
                "WARC-Type: response\r\nWARC-Truncated: length\r\n").getBytes(iso)
            case 2L =>
              val bos = new java.io.ByteArrayOutputStream()
              val g = new java.util.zip.GZIPOutputStream(bos)
              g.write(body); g.close()
              val gz = bos.toByteArray
              Warc.encodeResponseRecord(s"https://example.com/$id",
                "2026-01-01T00:00:00Z", s"<urn:uuid:$id>", 200, "text/plain",
                java.util.Arrays.copyOf(gz, gz.length / 2),
                contentEncoding = Some("gzip"))
            case _ =>
              Warc.encodeResponseRecord(s"https://example.com/$id",
                "2026-01-01T00:00:00Z", s"<urn:uuid:$id>", 200, "text/plain", body)
          }
          Warc.encodeWarc(Seq(rec))
        })
        // fanOut (measured, round 14): raw 0.70 s vs fanned 0.36 s same-JVM — the
        // per-row WARC encode + parse kernels dominate; 8 B/row crosses the local
        // shuffle, no-op when the input is already parallel.
        val blobs = graft.operators.Dedup.fanOut(
            t(s, d, "documents").filter(col("doc_id").isNotNull).select(col("doc_id")))
          .select(col("doc_id"), mkBlob(col("doc_id")).as("warc"))
        val m = pmod(col("doc_id"), lit(3))
        val full = concat(lit("repeated crawl page content block " * 200),
          col("doc_id").cast("string"))
        Warc.explodeRecords(blobs, "warc")
          .select(col("doc_id"), m.as("m"), col("truncated"), col("http_decoded"),
            col("payload").cast("string").as("text"), full.as("full"))
          .agg(
            count(lit(1)).as("n_records"),
            coalesce(sum(when(col("truncated"), 1L).otherwise(0L)), lit(0L))
              .as("n_truncated"),
            // cut-gzip docs: decoded, flagged, and a NONEMPTY prefix of the
            // known full text (the recovery contract)
            bool_and(when(col("m") === 2,
              col("http_decoded") && col("truncated") && length(col("text")) > 0 &&
                col("full").startsWith(col("text")))).as("prefix_recovered"),
            // complete docs decode untruncated to the exact text
            bool_and(when(col("m") === 0,
              col("http_decoded") && !col("truncated") && col("text") === col("full")))
              .as("complete_ok"))
      },
      Some("""WITH d AS (SELECT (doc_id % 3 + 3) % 3 AS m
             |   FROM documents WHERE doc_id IS NOT NULL)
             | SELECT CAST(count(*) AS BIGINT) AS n_records,
             | CAST(coalesce(sum(CASE WHEN m IN (1, 2) THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_truncated,
             | CASE WHEN coalesce(sum(CASE WHEN m = 2 THEN 1 ELSE 0 END), 0) = 0 THEN NULL ELSE TRUE END AS prefix_recovered,
             | CASE WHEN coalesce(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END), 0) = 0 THEN NULL ELSE TRUE END AS complete_ok
             | FROM d""".stripMargin.replaceAll("\n", " "))),

    // WARC-Payload-Digest passthrough + the zero-cost exact dedup every CC
    // pipeline starts with: each doc's blob carries one response stamped with a
    // digest keyed on doc_id%7 (so payloads collide across docs by construction)
    // plus, for doc_id%3==0, a revisit record referring back to it with the
    // same digest. Digest-distinct survivors, revisit counts, and linkage
    // completeness all replay as pure doc_id arithmetic in DuckDB.
    QueryDef("warc_digest_dedup_documents",
      (s, d) => {
        import graft.operators.Warc
        val mkBlob = udf((id: Long) => {
          val digest = s"sha1:DIG${(((id % 7) + 7) % 7)}"
          val resp = Warc.encodeResponseRecord(s"https://example.com/$id",
            "2026-01-01T00:00:00Z", s"<urn:uuid:$id>", 200, "text/plain",
            s"body ${(((id % 7) + 7) % 7)}".getBytes("ISO-8859-1"),
            payloadDigest = Some(digest))
          val blocks = if ((((id % 3) + 3) % 3) == 0L)
            Seq(resp, Warc.encodeRevisitRecord(s"https://example.com/$id",
              "2026-01-02T00:00:00Z", s"<urn:uuid:$id-r>", s"<urn:uuid:$id>", digest))
          else Seq(resp)
          Warc.encodeWarc(blocks, gzip = (((id % 2) + 2) % 2) == 0L)
        })
        // fanOut (measured, round 14): raw 0.70 s vs fanned 0.36 s same-JVM — the
        // per-row WARC encode + parse kernels dominate; 8 B/row crosses the local
        // shuffle, no-op when the input is already parallel.
        val blobs = graft.operators.Dedup.fanOut(
            t(s, d, "documents").filter(col("doc_id").isNotNull).select(col("doc_id")))
          .select(col("doc_id"), mkBlob(col("doc_id")).as("warc"))
        Warc.explodeRecords(blobs, "warc").agg(
          count(lit(1)).as("n_records"),
          // coalesce: sum over ZERO records is SQL NULL, the oracle says 0
          coalesce(sum(when(col("warc_type") === "revisit", 1L).otherwise(0L)),
            lit(0L)).as("n_revisits"),
          countDistinct(when(col("warc_type") === "response",
            col("payload_digest"))).as("digest_survivors"),
          bool_and(when(col("warc_type") === "revisit",
            col("refers_to").isNotNull && col("payload_digest").isNotNull))
            .as("revisits_linked"))
      },
      Some("""WITH d AS (SELECT (doc_id % 7 + 7) % 7 AS dig,
             |   CASE WHEN (doc_id % 3 + 3) % 3 = 0 THEN 1 ELSE 0 END AS rv
             |   FROM documents WHERE doc_id IS NOT NULL)
             | SELECT CAST(count(*) + coalesce(sum(rv), 0) AS BIGINT) AS n_records,
             | CAST(coalesce(sum(rv), 0) AS BIGINT) AS n_revisits,
             | CAST(count(DISTINCT dig) AS BIGINT) AS digest_survivors,
             | CASE WHEN coalesce(sum(rv), 0) = 0 THEN NULL ELSE TRUE END AS revisits_linked
             | FROM d""".stripMargin.replaceAll("\n", " "))),

    // REAL animated-GIF frame extraction + timing, oracled: k = 1 + doc_id%5 noise
    // frames per doc with a REAL per-frame GCE delay of (4 + doc_id%6) cs, exploded
    // every-2nd capped at 2 — per-doc frame count = least(2, ceil(k/2)) and per-doc
    // duration = k * delay * 10 ms (the GCE walk sums what the metadata-driven
    // encoder wrote), both pure arithmetic DuckDB replays. The boolean gates that
    // every emitted frame is a REAL decode: a 9x7 PNG re-encode of a stored raster.
    QueryDef("gif_frames_documents",
      (s, d) => {
        import graft.operators.Multimodal
        // Stored-media fixture: a DIFFERENT parameterization from the dedup clips
        // (variable frame counts + delays for the meta/explode oracles), so it
        // keys under its own tag. Parquet-backed, so the two consuming subtrees
        // (durations, frames) also no longer need a checkpoint to share the encode.
        val (media, _) = mediaFixture(s, d, "gifm", "gif")(id =>
          Multimodal.MediaCodecs.encodeAnimatedGif(
            9, 7, (1 + (((id % 5) + 5) % 5)).toInt, id % 11,
            delayCs = (4 + (((id % 6) + 6) % 6)).toInt))
        val durations = Multimodal.withMediaMeta(media, "gif", "gm")
          .agg(sum(col("gm.duration_ms")).as("sum_gif_duration_ms"))
        val frames = Multimodal.explodeFrames(media, "gif", everyNth = 2, maxFrames = 2)
          .filter(col("frame_bytes").isNotNull)
        Multimodal.withMediaMeta(frames, "frame_bytes", "fm").agg(
          count(lit(1)).as("n_frames"),
          bool_and(col("fm.format") === "png" &&
            col("fm.width") === 9 && col("fm.height") === 7).as("frames_ok"))
          .crossJoin(durations)
      },
      Some("""WITH g AS (SELECT 1 + ((doc_id % 5 + 5) % 5) AS k,
             |   4 + ((doc_id % 6 + 6) % 6) AS delay_cs
             |   FROM documents WHERE doc_id IS NOT NULL)
             | SELECT CAST(coalesce(sum(least(2, (k + 1) // 2)), 0) AS BIGINT) AS n_frames,
             | CASE WHEN count(*) = 0 THEN NULL ELSE TRUE END AS frames_ok,
             | CAST(sum(k * delay_cs * 10) AS BIGINT) AS sum_gif_duration_ms
             | FROM g""".stripMargin.replaceAll("\n", " "))),

    // Visual near-dup dedup, oracled end-to-end: every doc gets a deterministic
    // NOISE image keyed on pmod(doc_id, 37) — same seed ⇒ byte-identical PNG ⇒
    // identical perceptual aHash (Hamming 0, must pair); different seeds pool to
    // effectively independent 64-bit masks (measured min cross-seed Hamming 20
    // vs the 3 threshold — encodeNoiseImage exists because the gradient pattern
    // collided). So found pairs == Σ_seed C(n_s,2) and dedup survivors == distinct
    // seed count, both pure doc_id arithmetic DuckDB replays. The booleans pin
    // that every pair is same-seed at Hamming 0 (banding recall + verify).
    QueryDef("image_dedup_documents",
      (s, d) => {
        import graft.operators.Multimodal
        // stored-media fixture (imageFixture): the per-row PNG encode is a
        // one-time build shared with the operator arm, not a per-run cost
        val (media, nDocs) = imageFixture(s, d)
        // ONE run of the encode+hash+band pipeline (checkpointed, bounded at
        // n_pairs rows): both the pair stats and the keep-lowest survivor count
        // (dedupImages' exact rule: drop distinct id_b) derive from it — dedupImages
        // itself is semantics-pinned in MultimodalSpec.
        val pairs = Multimodal.nearDupPairsImage(media, "doc_id", "img",
            maxHamming = 3, maxBucketSize = mediaBucketGuard(nDocs))
          .localCheckpoint(true)
        val dropped = pairs.select(col("id_b")).distinct()
          .agg(count(lit(1)).as("_n_dropped"))
        val nImgs = media.agg(count(lit(1)).as("n_imgs"))
        pairs.agg(
            count(lit(1)).as("n_pairs"),
            bool_and(pmod(col("id_a"), lit(37)) === pmod(col("id_b"), lit(37)))
              .as("same_seed_ok"),
            bool_and(col("hamming") === 0).as("hamming_zero_ok"))
          .crossJoin(nImgs).crossJoin(dropped)
          .select(col("n_imgs"), col("n_pairs"), col("same_seed_ok"),
            col("hamming_zero_ok"), (col("n_imgs") - col("_n_dropped")).as("kept"))
      },
      Some("""WITH d AS (SELECT doc_id, (doc_id % 37 + 37) % 37 AS s
             |   FROM documents WHERE doc_id IS NOT NULL),
             | g AS (SELECT s, count(*) AS n FROM d GROUP BY 1)
             | SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_imgs,
             | CAST(coalesce(sum(n * (n - 1) / 2), 0) AS BIGINT) AS n_pairs,
             | CASE WHEN coalesce(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END), 0) = 0
             |   THEN NULL ELSE TRUE END AS same_seed_ok,
             | CASE WHEN coalesce(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END), 0) = 0
             |   THEN NULL ELSE TRUE END AS hamming_zero_ok,
             | CAST(count(*) AS BIGINT) AS kept
             | FROM g""".stripMargin.replaceAll("\n", " "))),

    // Audio near-dup dedup, oracled end-to-end (the image_dedup pattern over the
    // REAL PCM path): every doc gets a deterministic block-loudness noise clip
    // keyed on pmod(doc_id, 37) — same seed ⇒ byte-identical WAV ⇒ identical
    // envelope hash (Hamming 0, must pair); distinct seeds measured ≥20 bits apart
    // (flat-envelope white noise would collide — the encodeNoiseWav doc records
    // the lesson). Pairs and survivors are pure doc_id arithmetic DuckDB replays.
    QueryDef("audio_dedup_documents",
      (s, d) => {
        import graft.operators.Multimodal
        val (media, nDocs) = audioFixture(s, d) // stored-media fixture, like image_dedup
        val pairs = Multimodal.nearDupPairsAudio(media, "doc_id", "snd",
          maxHamming = 3, maxBucketSize = mediaBucketGuard(nDocs))
          .localCheckpoint(true)
        val dropped = pairs.select(col("id_b")).distinct()
          .agg(count(lit(1)).as("_n_dropped"))
        val nClips = media.agg(count(lit(1)).as("n_clips"))
        pairs.agg(
            count(lit(1)).as("n_pairs"),
            bool_and(pmod(col("id_a"), lit(37)) === pmod(col("id_b"), lit(37)))
              .as("same_seed_ok"),
            bool_and(col("hamming") === 0).as("hamming_zero_ok"))
          .crossJoin(nClips).crossJoin(dropped)
          .select(col("n_clips"), col("n_pairs"), col("same_seed_ok"),
            col("hamming_zero_ok"), (col("n_clips") - col("_n_dropped")).as("kept"))
      },
      Some("""WITH d AS (SELECT doc_id, (doc_id % 37 + 37) % 37 AS s
             |   FROM documents WHERE doc_id IS NOT NULL),
             | g AS (SELECT s, count(*) AS n FROM d GROUP BY 1)
             | SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_clips,
             | CAST(coalesce(sum(n * (n - 1) / 2), 0) AS BIGINT) AS n_pairs,
             | CASE WHEN coalesce(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END), 0) = 0
             |   THEN NULL ELSE TRUE END AS same_seed_ok,
             | CASE WHEN coalesce(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END), 0) = 0
             |   THEN NULL ELSE TRUE END AS hamming_zero_ok,
             | CAST(count(*) AS BIGINT) AS kept
             | FROM g""".stripMargin.replaceAll("\n", " "))),

    // Incremental visual dedup vs a persisted hash index: even doc_ids form the
    // standing corpus (index = 8-byte hashes, never re-decoded), odd doc_ids the
    // incoming batch. Expected pairs = same-seed pairs touching ≥1 new doc =
    // Σ_s [C(n_s,2) − C(n_s_even,2)] — pure doc_id arithmetic DuckDB replays; the
    // old×old exclusion (prior runs already emitted those) is exactly what the
    // subtraction pins. Same noise-image construction as image_dedup_documents.
    QueryDef("incremental_image_dedup_documents",
      (s, d) => {
        import graft.operators.Multimodal
        val (docs, nDocs) = imageFixture(s, d) // stored-media fixture, like image_dedup
        val index = Multimodal.imageHashIndex(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "img")
        val fresh = docs.filter(col("doc_id") % 2 =!= 0)
        val pairs = Multimodal.incrementalImagePairs(fresh, index, "doc_id", "img",
          maxHamming = 3, maxBucketSize = mediaBucketGuard(nDocs))
        pairs.agg(
          count(lit(1)).as("n_pairs"),
          coalesce(sum(when(col("id_a") % 2 === 0 && col("id_b") % 2 === 0, 1L)
            .otherwise(0L)), lit(0L)).as("old_old_pairs"),
          bool_and(pmod(col("id_a"), lit(37)) === pmod(col("id_b"), lit(37)))
            .as("same_seed_ok"))
      },
      Some("""WITH d AS (SELECT doc_id, (doc_id % 37 + 37) % 37 AS s,
             |   doc_id % 2 = 0 AS old FROM documents WHERE doc_id IS NOT NULL),
             | g AS (SELECT s, count(*) AS n,
             |   sum(CASE WHEN old THEN 1 ELSE 0 END) AS n_old FROM d GROUP BY 1)
             | SELECT CAST(coalesce(sum(n * (n - 1) / 2 - n_old * (n_old - 1) / 2), 0) AS BIGINT) AS n_pairs,
             | CAST(0 AS BIGINT) AS old_old_pairs,
             | CASE WHEN coalesce(sum(CASE WHEN n - n_old >= 1 AND n >= 2 THEN 1 ELSE 0 END), 0) = 0
             |   THEN NULL ELSE TRUE END AS same_seed_ok
             | FROM g""".stripMargin.replaceAll("\n", " "))),

    // Incremental audio dedup vs a persisted hash index — the audio twin of
    // incremental_image_dedup_documents: even doc_ids form the standing corpus
    // (index = 8-byte envelope hashes, PCM never re-decoded), odd doc_ids the
    // incoming batch. Expected pairs = same-seed pairs touching ≥1 new doc —
    // pure doc_id arithmetic DuckDB replays.
    QueryDef("incremental_audio_dedup_documents",
      (s, d) => {
        import graft.operators.Multimodal
        val mkSnd = udf((id: Long) => Multimodal.MediaCodecs.encodeNoiseWav(
          8000, 4096, (((id % 37) + 37) % 37)))
        val docs = t(s, d, "documents").filter(col("doc_id").isNotNull)
          .select(col("doc_id"), mkSnd(col("doc_id")).as("snd"))
        val index = Multimodal.audioHashIndex(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "snd")
        val fresh = docs.filter(col("doc_id") % 2 =!= 0)
        val pairs = Multimodal.incrementalAudioPairs(fresh, index, "doc_id", "snd",
          maxHamming = 3)
        pairs.agg(
          count(lit(1)).as("n_pairs"),
          coalesce(sum(when(col("id_a") % 2 === 0 && col("id_b") % 2 === 0, 1L)
            .otherwise(0L)), lit(0L)).as("old_old_pairs"),
          bool_and(pmod(col("id_a"), lit(37)) === pmod(col("id_b"), lit(37)))
            .as("same_seed_ok"))
      },
      Some("""WITH d AS (SELECT doc_id, (doc_id % 37 + 37) % 37 AS s,
             |   doc_id % 2 = 0 AS old FROM documents WHERE doc_id IS NOT NULL),
             | g AS (SELECT s, count(*) AS n,
             |   sum(CASE WHEN old THEN 1 ELSE 0 END) AS n_old FROM d GROUP BY 1)
             | SELECT CAST(coalesce(sum(n * (n - 1) / 2 - n_old * (n_old - 1) / 2), 0) AS BIGINT) AS n_pairs,
             | CAST(0 AS BIGINT) AS old_old_pairs,
             | CASE WHEN coalesce(sum(CASE WHEN n - n_old >= 1 AND n >= 2 THEN 1 ELSE 0 END), 0) = 0
             |   THEN NULL ELSE TRUE END AS same_seed_ok
             | FROM g""".stripMargin.replaceAll("\n", " "))),

    // Video near-dup dedup through the pluggable frame-decoder hook's DEFAULT (real
    // animated-GIF decode), oracled end-to-end: every doc gets a deterministic
    // noise-frame GIF keyed on s = pmod(doc_id, 37) with k = 2 + s%2 frames — same
    // seed ⇒ byte-identical clip ⇒ every frame matches at Hamming 0 (pairs with
    // matching_frames = k); distinct seeds give independent per-frame noise masks
    // (cross-seed frame collisions at ≤3 bits are ~2^-40 across the corpus). Pairs
    // and keep-lowest survivors are pure doc_id arithmetic DuckDB replays; the
    // booleans pin same-seed pairing, the full frame-match count, and Hamming 0.
    QueryDef("video_dedup_documents",
      (s, d) => {
        import graft.operators.Multimodal
        // Clips come from the shared materialized fixture (videoClipFixture): the
        // operator is measured over STORED clips — what a production caller pays —
        // and the bucket guard scales with the corpus (videoBucketGuard) so the
        // same-seed buckets survive at any doc count the oracle arithmetic covers.
        val (media, nDocs) = videoClipFixture(s, d)
        val pairs = Multimodal.nearDupPairsVideo(media, "doc_id", "clip",
          maxHamming = 3, minMatchingFrames = 2,
          maxBucketSize = mediaBucketGuard(nDocs))
          .localCheckpoint(true)
        val dropped = pairs.select(col("id_b")).distinct()
          .agg(count(lit(1)).as("_n_dropped"))
        val nClips = media.agg(count(lit(1)).as("n_clips"))
        pairs.agg(
            count(lit(1)).as("n_pairs"),
            bool_and(pmod(col("id_a"), lit(37)) === pmod(col("id_b"), lit(37)))
              .as("same_seed_ok"),
            bool_and(col("matching_frames") === lit(2) + pmod(col("id_a"), lit(37)) % 2 &&
              col("min_hamming") === 0).as("frames_ok"))
          .crossJoin(nClips).crossJoin(dropped)
          .select(col("n_clips"), col("n_pairs"), col("same_seed_ok"),
            col("frames_ok"), (col("n_clips") - col("_n_dropped")).as("kept"))
      },
      Some("""WITH d AS (SELECT doc_id, (doc_id % 37 + 37) % 37 AS s
             |   FROM documents WHERE doc_id IS NOT NULL),
             | g AS (SELECT s, count(*) AS n FROM d GROUP BY 1)
             | SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_clips,
             | CAST(coalesce(sum(n * (n - 1) / 2), 0) AS BIGINT) AS n_pairs,
             | CASE WHEN coalesce(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END), 0) = 0
             |   THEN NULL ELSE TRUE END AS same_seed_ok,
             | CASE WHEN coalesce(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END), 0) = 0
             |   THEN NULL ELSE TRUE END AS frames_ok,
             | CAST(count(*) AS BIGINT) AS kept
             | FROM g""".stripMargin.replaceAll("\n", " "))),

    // Incremental video dedup vs a persisted frame-hash index — the video member of
    // the incremental_image/audio family: even doc_ids form the standing corpus
    // (index = ~20 B (id, frame_idx, frame_hash) rows, clips never re-decoded), odd
    // doc_ids the incoming batch. Same seed-keyed GIF construction as
    // video_dedup_documents, so expected pairs = same-seed pairs touching >=1 new
    // doc = Σ_s [C(n_s,2) − C(n_even_s,2)] — pure doc_id arithmetic DuckDB replays;
    // old×old exclusion pinned at 0.
    QueryDef("incremental_video_dedup_documents",
      (s, d) => {
        import graft.operators.Multimodal
        // Same stored-clip fixture + scaled bucket guard as video_dedup_documents.
        val (docs, nDocs) = videoClipFixture(s, d)
        val index = Multimodal.videoFrameHashIndex(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "clip")
        val fresh = docs.filter(col("doc_id") % 2 =!= 0)
        val pairs = Multimodal.incrementalVideoPairs(fresh, index, "doc_id", "clip",
          maxHamming = 3, minMatchingFrames = 2,
          maxBucketSize = mediaBucketGuard(nDocs))
        pairs.agg(
          count(lit(1)).as("n_pairs"),
          coalesce(sum(when(col("id_a") % 2 === 0 && col("id_b") % 2 === 0, 1L)
            .otherwise(0L)), lit(0L)).as("old_old_pairs"),
          bool_and(pmod(col("id_a"), lit(37)) === pmod(col("id_b"), lit(37)))
            .as("same_seed_ok"))
      },
      Some("""WITH d AS (SELECT doc_id, (doc_id % 37 + 37) % 37 AS s,
             |   doc_id % 2 = 0 AS old FROM documents WHERE doc_id IS NOT NULL),
             | g AS (SELECT s, count(*) AS n,
             |   sum(CASE WHEN old THEN 1 ELSE 0 END) AS n_old FROM d GROUP BY 1)
             | SELECT CAST(coalesce(sum(n * (n - 1) / 2 - n_old * (n_old - 1) / 2), 0) AS BIGINT) AS n_pairs,
             | CAST(0 AS BIGINT) AS old_old_pairs,
             | CASE WHEN coalesce(sum(CASE WHEN n - n_old >= 1 AND n >= 2 THEN 1 ELSE 0 END), 0) = 0
             |   THEN NULL ELSE TRUE END AS same_seed_ok
             | FROM g""".stripMargin.replaceAll("\n", " "))),

    // Brute-force cosine top-10 for probe vec_id=0 (the ANN correctness baseline).
    QueryDef("similarity_topk_embeddings",
      (s, d) => withProbe(s, d) { probe =>
        Similarity.bruteForceTopK(
            t(s, d, "embeddings").filter(col("vec_id") =!= 0), "vec_id", "embedding", probe, 10)
          .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
      },
      Some("""WITH p AS (SELECT embedding::DOUBLE[] AS pe FROM embeddings WHERE vec_id = 0)
             | SELECT vec_id, round(list_dot_product(embedding::DOUBLE[], pe) /
             |   (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(pe, pe))), 4) AS cosine
             | FROM embeddings, p WHERE vec_id != 0
             | ORDER BY list_dot_product(embedding::DOUBLE[], pe) /
             |   (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(pe, pe))) DESC, vec_id
             | LIMIT 10""".stripMargin.replaceAll("\n", " "))),

    // IVF top-10 with exhaustive probing (nprobe == n_cells): must equal the exact
    // brute-force oracle — same SQL as similarity_topk_embeddings. Reduced nprobe is the
    // partition-pruned scale path; its recall is pinned in MetricsSpec.
    QueryDef("similarity_ivf_topk",
      (s, d) => withProbe(s, d) { probe =>
        val rest = t(s, d, "embeddings").filter(col("vec_id") =!= 0)
        val centroids = Similarity.seedCentroids(rest, "vec_id", "embedding", 16)
        Similarity.ivfTopK(rest, "vec_id", "embedding", centroids, probe, 10, nprobe = 16)
          .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
      },
      Some("""WITH p AS (SELECT embedding::DOUBLE[] AS pe FROM embeddings WHERE vec_id = 0)
             | SELECT vec_id, round(list_dot_product(embedding::DOUBLE[], pe) /
             |   (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(pe, pe))), 4) AS cosine
             | FROM embeddings, p WHERE vec_id != 0
             | ORDER BY list_dot_product(embedding::DOUBLE[], pe) /
             |   (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(pe, pe))) DESC, vec_id
             | LIMIT 10""".stripMargin.replaceAll("\n", " "))),

    // K-means cell ASSIGNMENT oracle — the argmax-over-centroids kernel that IVF,
    // SemDeDup, and refineCentroids all stand on, replayed exactly in DuckDB with
    // the same double dot/norm formula as the topk oracles. Centroids = the three
    // lowest-vec_id embeddings (deterministic on both sides). Tie-break semantics
    // replayed precisely: ivfAssign keeps the LAST best (s >= best ⇒ highest cell
    // wins ties — ORDER BY sim DESC, cell DESC), and a zero-norm vector (all-NaN
    // sims) falls back to cell 0 (the NOT isnan filter + coalesce 0).
    QueryDef("kmeans_assign_embeddings",
      (s, d) => {
        import graft.operators.Similarity
        val embs = t(s, d, "embeddings")
          .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
        val seeds = embs.orderBy("vec_id").limit(3)
          .select("embedding").collect().map(_.getSeq[Float](0).toSeq).toSeq
        if (seeds.isEmpty) {
          import s.implicits._
          Seq.empty[(Long, Long, Double)].toDF("cell", "n", "mean_dim0")
        } else {
          Similarity.ivfAssign(embs, "embedding", seeds, out = "cell")
            .groupBy(col("cell").cast("long").as("cell"))
            .agg(count(lit(1)).as("n"),
              round(avg(element_at(col("embedding"), 1).cast("double")), 6).as("mean_dim0"))
            .orderBy(col("cell"))
        }
      },
      Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings
             |   WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
             | c AS (SELECT embedding::DOUBLE[] AS cv,
             |     row_number() OVER (ORDER BY vec_id) - 1 AS cell
             |   FROM e ORDER BY vec_id LIMIT 3),
             | a AS (SELECT e.vec_id, e.embedding, coalesce((
             |     SELECT c.cell FROM c
             |     WHERE NOT isnan(list_dot_product(e.embedding::DOUBLE[], c.cv) /
             |       (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * sqrt(list_dot_product(c.cv, c.cv))))
             |     ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cv) /
             |       (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
             |       c.cell DESC LIMIT 1), CAST(0 AS BIGINT)) AS cell
             |   FROM e)
             | SELECT cell, CAST(count(*) AS BIGINT) AS n,
             | round(avg(CAST(embedding[1] AS DOUBLE)), 6) AS mean_dim0
             | FROM a GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "))),

    // Assertion ADT semantics (reference: constraints/assertion.rs — Equals with
    // ε=1e-10, NotEquals, Between/NotBetween bounds, ordering comparators) plus the
    // detect-mode threshold inversion (format.rs:812-820), all with verdicts known by
    // construction: SizeConstraint against the actual row count n, and a detect-mode
    // CreditCard format column valid for exactly half the rows.
    QueryDef("assertion_semantics_synthetic",
      (s, d) => {
        import graft.constraints.{FormatConstraint, FormatType, SizeConstraint}
        import graft.core._
        val orders = t(s, d, "orders")
        val n = orders.count().toDouble
        val synth = orders.select(
          when(pmod(col("o_orderkey"), lit(2)) === 0,
            lpad(col("o_orderkey").cast("string"), 16, "9"))
            .otherwise(lit("not-a-card")).as("cc"))
        val rs = ValidationSuite.evaluateBatched(synth, Seq(
          SizeConstraint(Assertion.Equals(n)),                      // exact ⇒ pass
          SizeConstraint(Assertion.Equals(n + 1e-11)),              // within ε ⇒ pass
          SizeConstraint(Assertion.NotEquals(n)),                   // ⇒ fail
          SizeConstraint(Assertion.Between(n - 1, n + 1)),          // ⇒ pass
          SizeConstraint(Assertion.NotBetween(n - 1, n + 1)),       // ⇒ fail
          SizeConstraint(Assertion.LessThan(n)),                    // strict ⇒ fail
          SizeConstraint(Assertion.GreaterThanOrEqual(n)),          // ⇒ pass
          // detect=true: metric is 1 - matchRatio = 0.5; ≤ 0.5 passes, ≤ 0.4 fails
          FormatConstraint("cc", FormatType.CreditCard, Assertion.LessThanOrEqual(0.5), detect = true),
          FormatConstraint("cc", FormatType.CreditCard, Assertion.LessThanOrEqual(0.4), detect = true)))
        import s.implicits._
        Seq((b2l(rs(0).isSuccess), b2l(rs(1).isSuccess), b2l(rs(2).isSuccess),
          b2l(rs(3).isSuccess), b2l(rs(4).isSuccess), b2l(rs(5).isSuccess),
          b2l(rs(6).isSuccess), b2l(rs(7).isSuccess), b2l(rs(8).isSuccess)))
          .toDF("eq_ok", "eq_eps_ok", "neq_ok", "between_ok", "not_between_ok",
            "lt_ok", "gte_ok", "detect_half_ok", "detect_tight_ok")
      },
      Some("""WITH c AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             |   CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS cc_ratio
             |   FROM orders)
             | SELECT CAST(CASE WHEN abs(n - n) < 1e-10 THEN 1 ELSE 0 END AS BIGINT) AS eq_ok,
             | CAST(CASE WHEN abs(n - (n + 1e-11)) < 1e-10 THEN 1 ELSE 0 END AS BIGINT) AS eq_eps_ok,
             | CAST(CASE WHEN abs(n - n) >= 1e-10 THEN 1 ELSE 0 END AS BIGINT) AS neq_ok,
             | CAST(CASE WHEN n BETWEEN n - 1 AND n + 1 THEN 1 ELSE 0 END AS BIGINT) AS between_ok,
             | CAST(CASE WHEN NOT (n BETWEEN n - 1 AND n + 1) THEN 1 ELSE 0 END AS BIGINT) AS not_between_ok,
             | CAST(CASE WHEN n < n THEN 1 ELSE 0 END AS BIGINT) AS lt_ok,
             | CAST(CASE WHEN n >= n THEN 1 ELSE 0 END AS BIGINT) AS gte_ok,
             | CAST(CASE WHEN 1.0 - cc_ratio <= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS detect_half_ok,
             | CAST(CASE WHEN 1.0 - cc_ratio <= 0.4 THEN 1 ELSE 0 END AS BIGINT) AS detect_tight_ok
             | FROM c""".stripMargin.replaceAll("\n", " "))),

    // Multi-column logical combinators (reference: core/logical.rs All/Any/AtLeast/
    // AtMost/Exactly) under the oracle gate: three synthetic columns with constructed
    // completeness 1.0 / 0.5 / 0.0, threshold 0.9 ⇒ exactly one column satisfies, so
    // every operator's verdict is known by construction. The oracle states the same
    // verdicts from the modular-arithmetic null counts.
    // The mergeable GK quantile state, oracled end to end: two partition states
    // (events split by event_id parity) round-trip through the FileSystemStateStore
    // (serialize → save → load → deserialize), merge, and the merged estimate's
    // EXACT rank — counted over the full data — must sit within the sketch's
    // documented rank-error bound of q=0.5 (2ε slack: merging two ε-summaries can
    // sum their errors in the worst case). n_values is the pure-SQL replay; the
    // booleans are ok-gates verified in-Spark against exact counts (the sketch
    // itself is not SQL-expressible — this is the strongest oracle shape for it).
    QueryDef("quantile_state_events",
      (s, d) => {
        import graft.analyzers._
        val eps = 0.01
        val an = QuantileAnalyzer("value", Seq(0.5), relativeError = eps)
        val base = t(s, d, "events").filter(col("event_id").isNotNull &&
          col("value").isNotNull && !isnan(col("value")))
        val n = base.count()
        import s.implicits._
        if (n == 0L)
          Seq((0L, None: Option[Boolean], None: Option[Boolean], None: Option[Boolean]))
            .toDF("n_values", "roundtrip_ok", "count_match", "rank_ok")
        else {
          val states = Seq(0, 1).map { h =>
            val bytes = base.filter(pmod(col("event_id"), lit(2)) === h)
              .agg(an.stateAggregates.head).head().get(0)
            an.stateFromValues(Seq(bytes))
          }
          // Deleted recursively in the finally below — deleteOnExit cannot remove
          // non-empty directories, and bench warmups plus 7-run medians would leak
          // a populated graft_qstate dir per execution for the life of /tmp.
          val dir = java.nio.file.Files.createTempDirectory("graft_qstate").toFile
          val (roundtripOk, merged) = try {
            val store = new FileSystemStateStore(dir.getAbsolutePath, s)
            states.zipWithIndex.foreach { case (st, i) => store.save(an.key, s"p$i", st.toFields) }
            val reloaded = Seq(0, 1).map(i => an.stateFromFields(store.load(an.key, s"p$i").get))
            (reloaded.map(_.toFields) == states.map(_.toFields),
              reloaded.head.merge(reloaded(1)))
          } finally graft.core.FsUtil.deleteRecursively(dir)
          val countMatch = merged.sketch.compress().count == n
          val est = merged.quantile(0.5).get
          val bounds = base.agg(
            sum(when(col("value") < est, 1L).otherwise(0L)).as("lo"),
            sum(when(col("value") <= est, 1L).otherwise(0L)).as("hi")).head()
          val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
          val rankOk = hi >= math.floor((0.5 - 2 * eps) * n) &&
            lo <= math.ceil((0.5 + 2 * eps) * n)
          Seq((n, Some(roundtripOk), Some(countMatch), Some(rankOk)))
            .toDF("n_values", "roundtrip_ok", "count_match", "rank_ok")
        }
      },
      Some("""WITH b AS (SELECT value FROM events WHERE event_id IS NOT NULL
             |   AND value IS NOT NULL AND NOT isnan(value))
             | SELECT CAST(count(*) AS BIGINT) AS n_values,
             | CASE WHEN count(*) = 0 THEN NULL ELSE TRUE END AS roundtrip_ok,
             | CASE WHEN count(*) = 0 THEN NULL ELSE TRUE END AS count_match,
             | CASE WHEN count(*) = 0 THEN NULL ELSE TRUE END AS rank_ok
             | FROM b""".stripMargin.replaceAll("\n", " "))),

    // The user-predicate sandbox's accept/reject classes pinned as an oracle row:
    // a fixed matrix of predicates whose verdicts are known by construction —
    // literal-blanking (single/double quotes, backslash and doubled-quote escapes,
    // the double-quote-spans-two-single-literals attack), word-boundary keyword
    // matching, and statement-token rejection. The DuckDB replay is the constant
    // expected matrix; any drift in the sandbox's scan (a regression in literal
    // handling either direction) flips all_match and fails the gate.
    QueryDef("sandbox_rejects_synthetic",
      (s, d) => {
        import graft.constraints.Sandbox
        val cases: Seq[(String, Boolean)] = Seq(
          // accepts: plain predicates and every literal shape the scanner must blank
          ("o_orderkey > 0 AND o_totalprice < 1000", true),
          ("remark != 'don\\'t delete'", true), // backslash-escaped quote, keyword inside
          ("status = 'x;y -- z /* w'", true), // statement tokens inside a literal
          ("note = \"insert\"", true), // double-quoted literal keyword
          ("val = 'a''b drop c'", true), // doubled-quote escape, keyword inside
          ("grants_total > revoked_count", true), // keyword as SUBSTRING of identifier
          // rejects: statement tokens and statement keywords outside literals
          ("1=1; drop table t", false),
          ("x > 0 -- comment", false),
          ("x > 0 /* c */", false),
          ("x = 1 OR delete\tfrom_t", false), // tab-separated keyword (word boundary)
          ("insert = 1", false), // bare keyword at start
          ("a = 'x\"' ; drop t ; b = '\"y'", false), // the span attack
          ("truncate", false))
        val verdicts = cases.map { case (p, expected) =>
          scala.util.Try(Sandbox.validatePredicate(p)).isSuccess == expected
        }
        import s.implicits._
        Seq((cases.size.toLong, cases.count(_._2).toLong,
          cases.count(!_._2).toLong, b2l(verdicts.forall(identity))))
          .toDF("n_cases", "n_accepts", "n_rejects", "all_match")
      },
      Some("""SELECT CAST(13 AS BIGINT) AS n_cases, CAST(6 AS BIGINT) AS n_accepts,
             | CAST(7 AS BIGINT) AS n_rejects, CAST(1 AS BIGINT) AS all_match"""
        .stripMargin.replaceAll("\n", " "))),

    QueryDef("logical_ops_synthetic",
      (s, d) => {
        import graft.constraints.{LogicalOp, MultiColumnCompletenessConstraint}
        import graft.core._
        val synth = t(s, d, "orders").select(
          col("o_orderkey").as("full"),
          when(pmod(col("o_orderkey"), lit(2)) === 0, col("o_orderkey")).as("half"),
          lit(null).cast("bigint").as("empty"))
        val cols = Seq("full", "half", "empty")
        val ops = Seq(LogicalOp.All, LogicalOp.Any, LogicalOp.AtLeast(1),
          LogicalOp.AtLeast(2), LogicalOp.AtMost(1), LogicalOp.Exactly(1))
        val rs = ValidationSuite.evaluateBatched(synth,
          ops.map(op => MultiColumnCompletenessConstraint(cols, 0.9, op)))
        import s.implicits._
        Seq((rs(0).isSuccess, rs(1).isSuccess, rs(2).isSuccess,
          rs(3).isSuccess, rs(4).isSuccess, rs(5).isSuccess))
          .map(t6 => (b2l(t6._1), b2l(t6._2), b2l(t6._3), b2l(t6._4), b2l(t6._5), b2l(t6._6)))
          .toDF("all_ok", "any_ok", "at_least1_ok", "at_least2_ok", "at_most1_ok", "exactly1_ok")
      },
      Some("""WITH c AS (SELECT count(*) AS total,
             |   count(*) AS full_nn,
             |   sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS half_nn,
             |   0 AS empty_nn FROM orders),
             | sat AS (SELECT total, (CASE WHEN CAST(full_nn AS DOUBLE) / total >= 0.9 THEN 1 ELSE 0 END)
             |   + (CASE WHEN CAST(half_nn AS DOUBLE) / total >= 0.9 THEN 1 ELSE 0 END)
             |   + (CASE WHEN CAST(empty_nn AS DOUBLE) / total >= 0.9 THEN 1 ELSE 0 END) AS n FROM c)
             | SELECT CAST(CASE WHEN total = 0 THEN 0 WHEN n = 3 THEN 1 ELSE 0 END AS BIGINT) AS all_ok,
             | CAST(CASE WHEN total = 0 THEN 0 WHEN n >= 1 THEN 1 ELSE 0 END AS BIGINT) AS any_ok,
             | CAST(CASE WHEN total = 0 THEN 0 WHEN n >= 1 THEN 1 ELSE 0 END AS BIGINT) AS at_least1_ok,
             | CAST(CASE WHEN total = 0 THEN 0 WHEN n >= 2 THEN 1 ELSE 0 END AS BIGINT) AS at_least2_ok,
             | CAST(CASE WHEN total = 0 THEN 0 WHEN n <= 1 THEN 1 ELSE 0 END AS BIGINT) AS at_most1_ok,
             | CAST(CASE WHEN total = 0 THEN 0 WHEN n = 1 THEN 1 ELSE 0 END AS BIGINT) AS exactly1_ok
             | FROM sat""".stripMargin.replaceAll("\n", " "))),

    // Format-regex library under the oracle gate. Synthetic columns derived from
    // o_orderkey whose validity is known BY CONSTRUCTION (valid iff key % k == 0), so
    // the oracle needs no regex at all — if the Java regex library's semantics drift
    // (the dialect risk SURVEY §7 flags), the match ratios stop equalling the
    // constructed truth. Ratios come out of FormatConstraint's own aggregates,
    // evaluated as one batched suite scan.
    QueryDef("format_library_synthetic",
      (s, d) => {
        import graft.constraints.{FormatConstraint, FormatType}
        import graft.core._
        // non-null keys only: a NULL o_orderkey nulls some derived columns, and the
        // engine's non-null denominator would part ways with the oracle's count(*)
        val synth = t(s, d, "orders").filter(col("o_orderkey").isNotNull).select(
          when(pmod(col("o_orderkey"), lit(3)) === 0,
            concat(lit("user"), col("o_orderkey"), lit("@example.com")))
            .otherwise(concat(lit("bad email "), col("o_orderkey"))).as("email"),
          when(pmod(col("o_orderkey"), lit(4)) === 0,
            concat(lit("00000000-0000-4000-8000-"),
              lpad(pmod(col("o_orderkey"), lit(999999L)).cast("string"), 12, "0")))
            .otherwise(lit("not-a-uuid")).as("uuid"),
          when(pmod(col("o_orderkey"), lit(5)) === 0,
            concat(lit("10.0.0."), pmod(col("o_orderkey"), lit(256)).cast("string")))
            .otherwise(lit("10.0.0.999")).as("ip"))
        val constraints = Seq(
          FormatConstraint("email", FormatType.Email, Assertion.GreaterThanOrEqual(0.0)),
          FormatConstraint("uuid", FormatType.Uuid, Assertion.GreaterThanOrEqual(0.0)),
          FormatConstraint("ip", FormatType.Ipv4, Assertion.GreaterThanOrEqual(0.0)))
        val rs = ValidationSuite.evaluateBatched(synth, constraints)
        def ratio(i: Int) = optD(rs(i), 6)
        import s.implicits._
        Seq((ratio(0), ratio(1), ratio(2))).toDF("email_ratio", "uuid_ratio", "ipv4_ratio")
      },
      Some("""SELECT
             | round(CAST(sum(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS email_ratio,
             | round(CAST(sum(CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS uuid_ratio,
             | round(CAST(sum(CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS ipv4_ratio
             | FROM orders WHERE o_orderkey IS NOT NULL""".stripMargin.replaceAll("\n", " "))),

    // Country-parameterized Phone/PostalCode + SSN-detect under the oracle gate, same
    // by-construction scheme as format_library_synthetic: column c is valid iff
    // o_orderkey % k == 0 for a per-column modulus, so the oracle needs no regex and
    // any Java-regex drift in the country patterns breaks the ratio equality.
    QueryDef("format_countries_synthetic",
      (s, d) => {
        import graft.constraints.{FormatConstraint, FormatType}
        import graft.core._
        def pick(k: Int, valid: org.apache.spark.sql.Column, invalid: org.apache.spark.sql.Column) =
          when(pmod(col("o_orderkey"), lit(k)) === 0, valid).otherwise(invalid)
        val synth = t(s, d, "orders").filter(col("o_orderkey").isNotNull).select(
          // canonical international forms (trunk 0 dropped after +CC) — pins the
          // documented divergence from the reference's trunk-0-required patterns
          pick(2, lit("+44 20 7946 0958"), lit("4420")).as("p_uk"),
          pick(3, lit("+49 30 123456"), lit("49")).as("p_de"),
          pick(4, lit("01 23 45 67 89"), lit("0123")).as("p_fr"),
          // E.164 derived from the key: "+1" + 9 digits (leading 1, length <= 15)
          pick(5, concat(lit("+1"), lpad(pmod(col("o_orderkey"), lit(999999999L))
            .cast("string"), 9, "1")), concat(lit("0"), col("o_orderkey"))).as("p_e164"),
          pick(6, lit("K1A 0B1"), lit("12345")).as("z_ca"),
          pick(7, lit("SW1A 1AA"), lit("999")).as("z_uk"),
          pick(8, lit("123-4567"), lit("1234567")).as("z_jp"),
          pick(9, lit("2000"), lit("20")).as("z_au"),
          pick(10, lit("ABC-123"), lit("x")).as("z_gen"),
          pick(11, lit("123-45-6789"), lit("666-12-3456")).as("ssn"))
        val ge0 = Assertion.GreaterThanOrEqual(0.0)
        val constraints = Seq(
          FormatConstraint("p_uk", FormatType.Phone(Some("UK")), ge0),
          FormatConstraint("p_de", FormatType.Phone(Some("DE")), ge0),
          FormatConstraint("p_fr", FormatType.Phone(Some("FR")), ge0),
          FormatConstraint("p_e164", FormatType.Phone(), ge0),
          FormatConstraint("z_ca", FormatType.PostalCode(Some("CA")), ge0),
          FormatConstraint("z_uk", FormatType.PostalCode(Some("UK")), ge0),
          FormatConstraint("z_jp", FormatType.PostalCode(Some("JP")), ge0),
          FormatConstraint("z_au", FormatType.PostalCode(Some("AU")), ge0),
          FormatConstraint("z_gen", FormatType.PostalCode(), ge0),
          // detect mode: the metric is the fraction FLAGGED-ABSENT (1 - match ratio)
          FormatConstraint("ssn", FormatType.SocialSecurityNumber, ge0, detect = true))
        val rs = ValidationSuite.evaluateBatched(synth, constraints)
        def ratio(i: Int) = optD(rs(i), 6)
        import s.implicits._
        Seq((ratio(0), ratio(1), ratio(2), ratio(3), ratio(4), ratio(5), ratio(6),
          ratio(7), ratio(8), ratio(9)))
          .toDF("uk_phone", "de_phone", "fr_phone", "e164_phone", "ca_postal",
            "uk_postal", "jp_postal", "au_postal", "generic_postal", "ssn_clear")
      },
      Some("""SELECT
             | round(CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS uk_phone,
             | round(CAST(sum(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS de_phone,
             | round(CAST(sum(CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS fr_phone,
             | round(CAST(sum(CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS e164_phone,
             | round(CAST(sum(CASE WHEN o_orderkey % 6 = 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS ca_postal,
             | round(CAST(sum(CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS uk_postal,
             | round(CAST(sum(CASE WHEN o_orderkey % 8 = 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS jp_postal,
             | round(CAST(sum(CASE WHEN o_orderkey % 9 = 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS au_postal,
             | round(CAST(sum(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS generic_postal,
             | round(1.0 - CAST(sum(CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS ssn_clear
             | FROM orders WHERE o_orderkey IS NOT NULL""".stripMargin.replaceAll("\n", " "))),

    // Hyperplane-LSH ANN with multi-probe covering ALL 2^planes buckets (planes=2,
    // multiProbeBits=2): exhaustive, so it must equal the brute-force oracle exactly —
    // oracle-gating the LSH bucket assignment + native cosine scoring + ordering path.
    // Reduced probing is the scale path; its recall is pinned in OperatorSpec.
    QueryDef("similarity_ann_exhaustive",
      (s, d) => withProbe(s, d) { probe =>
        Similarity.annTopK(
            t(s, d, "embeddings").filter(col("vec_id") =!= 0), "vec_id", "embedding",
            probe, 10, planes = 2, multiProbeBits = 2)
          .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
      },
      Some("""WITH p AS (SELECT embedding::DOUBLE[] AS pe FROM embeddings WHERE vec_id = 0)
             | SELECT vec_id, round(list_dot_product(embedding::DOUBLE[], pe) /
             |   (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(pe, pe))), 4) AS cosine
             | FROM embeddings, p WHERE vec_id != 0
             | ORDER BY list_dot_product(embedding::DOUBLE[], pe) /
             |   (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(pe, pe))) DESC, vec_id
             | LIMIT 10""".stripMargin.replaceAll("\n", " "))),

    // Three-pass column profiler output for customer.c_acctbal (oracle-checkable
    // subset: exact counts + moments; the approx-distinct sketch value is excluded).
    QueryDef("profile_customer_acctbal",
      (s, d) => {
        val p = new graft.analyzers.ColumnProfiler().profile(t(s, d, "customer"), Seq("c_acctbal"))("c_acctbal")
        val n = p.numeric.get
        import s.implicits._
        Seq((p.totalCount, p.nullCount,
          rd(p.completeness, 6), rd(n.min, 2), rd(n.max, 2), rd(n.mean, 4)))
          .toDF("total", "nulls", "completeness", "min_v", "max_v", "mean_v")
      },
      // coalesce(..., 'nan'): NULL-on-undefined (empty/all-null column) → the
      // profiler's NaN-on-undefined convention; no-op on defined input.
      Some("""SELECT count(*) AS total, count(*) - count(c_acctbal) AS nulls,
             | coalesce(round(CAST(count(c_acctbal) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6), 'nan'::DOUBLE) AS completeness,
             | coalesce(round(min(c_acctbal), 2), 'nan'::DOUBLE) AS min_v,
             | coalesce(round(max(c_acctbal), 2), 'nan'::DOUBLE) AS max_v,
             | coalesce(round(avg(c_acctbal), 4), 'nan'::DOUBLE) AS mean_v
             | FROM customer""".stripMargin.replaceAll("\n", " "))),

    // Composite quality-score distribution. Count/min/max shape, not float averages:
    // every per-row score is built from integer-ratio divisions and exact-decimal
    // constants, so the per-row doubles are bit-identical across engines and the
    // threshold counts and extrema hash-match exactly — no summation-order tolerance
    // needed. The oracle replicates the C4/Gopher-style heuristic term by term.
    QueryDef("quality_scores_documents",
      (s, d) => {
        val qs = TextFunctions.qualityScore(col("text"))
        t(s, d, "documents").agg(
          count(lit(1)).as("n_docs"),
          sum(when(qs >= 0.8, 1L).otherwise(0L)).as("high_quality"),
          sum(when(qs < 0.5, 1L).otherwise(0L)).as("low_quality"),
          min(qs).as("min_quality"),
          max(qs).as("max_quality"))
      },
      Some("""WITH toks AS (SELECT text, @TOKENS(text)@ AS tk FROM documents),
             | q AS (SELECT round(
             | least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * (CASE WHEN CAST(length(text) AS DOUBLE) > 20000 THEN 0.5 ELSE 1.0 END) * 0.4
             | + (CASE WHEN (CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END) < 0.2 THEN 1.0 ELSE 0.5 END) * 0.2
             | + (CASE WHEN (CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[ \t\n\x0b\f\r]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END) BETWEEN 0.05 AND 0.35 THEN 1.0 ELSE 0.7 END) * 0.2
             | + (CASE WHEN (CASE WHEN len(tk) > 0 THEN CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / CAST(len(tk) AS DOUBLE) ELSE 0.0 END) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.6 END) * 0.2
             | , 6) AS qs FROM toks)
             | SELECT count(*) AS n_docs,
             | CAST(sum(CASE WHEN qs >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS high_quality,
             | CAST(sum(CASE WHEN qs < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS low_quality,
             | min(qs) AS min_quality, max(qs) AS max_quality
             | FROM q""".stripMargin.replaceAll("\n", " ")))
  )

  /** The SQL-registered kernel surface under the oracle gate: the same quality/token
    * metrics as their Column-API twins, but issued through `spark.sql` with the
    * `graft_*` functions — proving the SQL registration compiles to the same semantics
    * end-to-end (the oracle is shared with the Column-API text queries' style).
    */
  private val sqlSurfaceDefs: Seq[QueryDef] = Seq(
    QueryDef("sql_text_metrics_documents",
      (s, d) => {
        // In the timed body deliberately: register is an idempotent driver-side
        // functionRegistry insert (microseconds) and the temp view a catalog map put —
        // bench-profiled as noise. The query's r5 cost growth (0.2→1.4 s) was the
        // ADDED work (quality scoring + distinct fingerprints through the SQL
        // surface), not registration churn.
        graft.functions.GraftFunctions.register(s)
        t(s, d, "documents").createOrReplaceTempView("graft_sql_docs")
        s.sql("""SELECT count(*) AS n_docs,
                 CAST(sum(graft_token_count(text)) AS BIGINT) AS ws_tokens,
                 CAST(sum(graft_bpeish_token_count(text)) AS BIGINT) AS bpeish_tokens,
                 CAST(sum(CASE WHEN graft_quality_score(text) >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS high_quality,
                 count(DISTINCT graft_fingerprint(text)) AS distinct_fingerprints
                 FROM graft_sql_docs""")
      },
      Some("""WITH toks AS (SELECT text, @TOKENS(text)@ AS tk FROM documents),
             | q AS (SELECT text, tk, round(
             | least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * (CASE WHEN CAST(length(text) AS DOUBLE) > 20000 THEN 0.5 ELSE 1.0 END) * 0.4
             | + (CASE WHEN (CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END) < 0.2 THEN 1.0 ELSE 0.5 END) * 0.2
             | + (CASE WHEN (CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[ \t\n\x0b\f\r]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END) BETWEEN 0.05 AND 0.35 THEN 1.0 ELSE 0.7 END) * 0.2
             | + (CASE WHEN (CASE WHEN len(tk) > 0 THEN CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / CAST(len(tk) AS DOUBLE) ELSE 0.0 END) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.6 END)  * 0.2
             | , 6) AS qs FROM toks)
             | SELECT count(*) AS n_docs,
             | CAST(sum(len(tk)) AS BIGINT) AS ws_tokens,
             | CAST(sum(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)|\p{L}+|\p{N}+|[^ \t\n\x0b\f\r\p{L}\p{N}]+'))) AS BIGINT) AS bpeish_tokens,
             | CAST(sum(CASE WHEN qs >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS high_quality,
             | count(DISTINCT regexp_replace(trim(text), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS distinct_fingerprints
             | FROM q""".stripMargin.replaceAll("\n", " "))))

  /** Deterministic PII-bearing text built from `customer` — the synthetic corpus has
    * no natural PII, so both engines derive identical text from the same rows (pure
    * integer arithmetic + casts, so the strings are bit-identical across engines) and
    * the redaction pass has real matches to find. Residue classes of `c_custkey`
    * decide which PII kinds a row carries, giving varied per-type counts.
    */
  private def piiSyntheticText: org.apache.spark.sql.Column = {
    val k = col("c_custkey")
    def pad(e: org.apache.spark.sql.Column, n: Int) = lpad(e.cast("string"), n, "0")
    concat(
      lit("Report for "), col("c_name"), lit(" segment "), col("c_mktsegment"),
      when(k % 3 === 0,
        concat(lit(" contact user"), k.cast("string"), lit("@mail.example.com")))
        .otherwise(lit("")),
      when(k % 4 === 0,
        concat(lit(" phone 555-"), pad(k * 11 % 1000, 3), lit("-"), pad(k % 10000, 4)))
        .otherwise(lit("")),
      when(k % 5 === 0,
        concat(lit(" ssn "), pad(k * 7 % 1000, 3), lit("-"), pad(k * 3 % 100, 2),
          lit("-"), pad(k % 10000, 4)))
        .otherwise(lit("")),
      when(k % 6 === 0,
        concat(lit(" ip 10."), (k % 256).cast("string"), lit("."),
          (k * 3 % 256).cast("string"), lit("."), (k % 100).cast("string")))
        .otherwise(lit("")),
      when(k % 7 === 0,
        concat(lit(" card "), pad(k % 10000, 4), lit("-"), pad(k * 3 % 10000, 4),
          lit("-"), pad(k * 7 % 10000, 4), lit("-"), pad(k * 9 % 10000, 4)))
        .otherwise(lit("")))
  }

  /** The same construction in DuckDB (`||` not `concat()`: DuckDB's `concat` IGNORES
    * NULL args while Spark's propagates them — `||` null-propagates like Spark).
    */
  private val piiSyntheticSql: String =
    """'Report for ' || c_name || ' segment ' || c_mktsegment
      | || (CASE WHEN c_custkey % 3 = 0 THEN ' contact user' || CAST(c_custkey AS VARCHAR) || '@mail.example.com' ELSE '' END)
      | || (CASE WHEN c_custkey % 4 = 0 THEN ' phone 555-' || lpad(CAST(c_custkey * 11 % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ELSE '' END)
      | || (CASE WHEN c_custkey % 5 = 0 THEN ' ssn ' || lpad(CAST(c_custkey * 7 % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(c_custkey * 3 % 100 AS VARCHAR), 2, '0') || '-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ELSE '' END)
      | || (CASE WHEN c_custkey % 6 = 0 THEN ' ip 10.' || CAST(c_custkey % 256 AS VARCHAR) || '.' || CAST(c_custkey * 3 % 256 AS VARCHAR) || '.' || CAST(c_custkey % 100 AS VARCHAR) ELSE '' END)
      | || (CASE WHEN c_custkey % 7 = 0 THEN ' card ' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') || '-' || lpad(CAST(c_custkey * 3 % 10000 AS VARCHAR), 4, '0') || '-' || lpad(CAST(c_custkey * 7 % 10000 AS VARCHAR), 4, '0') || '-' || lpad(CAST(c_custkey * 9 % 10000 AS VARCHAR), 4, '0') ELSE '' END)
      |""".stripMargin.replaceAll("\n", " ")

  /** DuckDB form of one pattern's match count over `text` (len of extract_all;
    * NULL-propagating like Spark's `regexp_count`).
    */
  private def piiCountSql(regex: String): String =
    s"len(regexp_extract_all(text, '$regex'))"

  /** Large-scale pipeline transforms beyond the reference's own surface: PII
    * scrubbing, Bloom decontamination, shard packing, stratified sampling. Grouped
    * separately so each addition carries its oracle from day one.
    */
  private val pipelineDefs: Seq[QueryDef] = Seq(

    // Per-PII-type detection stats through the operator's one-scan rollup.
    QueryDef("pii_stats_customer",
      (s, d) => {
        val df = t(s, d, "customer").select(piiSyntheticText.as("text"))
        graft.operators.Pii.piiStats(df, "text")
      },
      Some {
        val unions = graft.operators.Pii.Defaults.map { p =>
          s"""SELECT '${p.name}' AS pii_type,
             | CAST(coalesce(sum(CASE WHEN ${piiCountSql(p.regex)} > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS docs_matched,
             | CAST(coalesce(sum(${piiCountSql(p.regex)}), 0) AS BIGINT) AS total_matches FROM pii""".stripMargin
        }.mkString(" UNION ALL ")
        s"WITH pii AS (SELECT $piiSyntheticSql AS text FROM customer) $unions"
          .replaceAll("\n", " ")
      }),

    // The Bloom-prefiltered decontamination path (exact result, ~fpp of the corpus
    // grams shuffled instead of all of them) against the same overlap oracle as the
    // broadcast path — different split (%7) and gram width (6) so the two
    // contamination queries don't share intermediate answers.
    QueryDef("contamination_bloom_documents",
      (s, d) => {
        val docs = t(s, d, "documents").filter(col("text").isNotNull)
        val probe = docs.filter(col("doc_id") % 7 === 0)
        val corpus = docs.filter(col("doc_id") % 7 =!= 0)
        graft.operators.Dedup.crossCorpusContaminationBloom(
          corpus, probe, "text", "doc_id", "text", ngramWords = 6)
          .agg(
            count(lit(1)).as("n_probes"),
            sum(when(col("ngrams_matched") > 0, 1L).otherwise(0L)).as("contaminated_docs"),
            sum(col("ngrams_matched")).cast("long").as("total_matched"),
            round(max(col("contamination")), 6).as("max_contamination"))
      },
      Some("""WITH tok AS (SELECT doc_id, @TOKENS(text)@ AS t FROM documents WHERE text IS NOT NULL),
             | widx AS (SELECT unnest(range(1, CAST((SELECT coalesce(max(len(t)), 0) FROM tok) AS BIGINT) + 1)) AS i),
             | g AS (SELECT doc_id, array_to_string(t[CAST(i AS INT):CAST(i AS INT)+5], ' ') AS gram FROM tok JOIN widx ON i <= len(t) - 5
             |   UNION ALL SELECT doc_id, array_to_string(t, ' ') FROM tok WHERE len(t) < 6 AND len(t) > 0),
             | gd AS (SELECT DISTINCT doc_id, gram FROM g),
             | corp AS (SELECT DISTINCT gram FROM gd WHERE doc_id % 7 != 0),
             | probe AS (SELECT doc_id, gram FROM gd WHERE doc_id % 7 = 0),
             | per AS (SELECT probe.doc_id, count(*) AS total,
             |     sum(CASE WHEN corp.gram IS NOT NULL THEN 1 ELSE 0 END) AS matched
             |   FROM probe LEFT JOIN corp ON probe.gram = corp.gram GROUP BY 1)
             | SELECT count(*) AS n_probes,
             | CAST(sum(CASE WHEN matched > 0 THEN 1 ELSE 0 END) AS BIGINT) AS contaminated_docs,
             | CAST(sum(matched) AS BIGINT) AS total_matched,
             | round(max(CAST(matched AS DOUBLE) / CAST(total AS DOUBLE)), 6) AS max_contamination
             | FROM per""".stripMargin.replaceAll("\n", " "))),

    // Sliding-window chunking (64-token windows, 8-token overlap): row-local explode,
    // all window arithmetic integral — counts/sums/ids compare bit-exact.
    QueryDef("chunk_documents",
      (s, d) => {
        graft.operators.Chunking.chunkByTokens(t(s, d, "documents"), "doc_id", "text",
          chunkTokens = 64, overlapTokens = 8)
          .agg(
            count(lit(1)).as("n_chunks"),
            coalesce(sum(col("chunk_tokens")), lit(0L)).as("total_chunk_tokens"),
            coalesce(sum(length(col("chunk_text"))), lit(0L)).as("total_chunk_chars"),
            max(col("chunk_id")).cast("long").as("max_chunk_id"),
            countDistinct(col("doc_id")).as("n_docs"))
      },
      Some("""WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x != '') AS t FROM documents),
             | dd AS (SELECT doc_id, t, len(t) AS n, (greatest(len(t) - 8, 1) + 55) // 56 AS nc FROM tok WHERE len(t) > 0),
             | kk AS (SELECT unnest(range(0, (SELECT coalesce(max(nc), 0) FROM dd))) AS k),
             | ch AS (SELECT doc_id, k, array_to_string(t[CAST(k*56+1 AS INT) : CAST(k*56+64 AS INT)], ' ') AS ctext,
             |   least(64, n - k*56) AS ctok FROM dd JOIN kk ON k < nc)
             | SELECT count(*) AS n_chunks,
             | CAST(coalesce(sum(ctok), 0) AS BIGINT) AS total_chunk_tokens,
             | CAST(coalesce(sum(length(ctext)), 0) AS BIGINT) AS total_chunk_chars,
             | CAST(max(k) AS BIGINT) AS max_chunk_id,
             | count(DISTINCT doc_id) AS n_docs
             | FROM ch""".stripMargin.replaceAll("\n", " "))),

    // Whole-distribution drift (PSI) between the two halves of the corpus — the
    // categorical path through Drift.psi, epsilon-smoothed exactly like the oracle.
    QueryDef("drift_psi_documents",
      (s, d) => {
        val docs = t(s, d, "documents")
        graft.operators.Drift.psi(
          docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 =!= 0), "lang")
          .select(round(col("psi"), 6).as("psi"), col("n_categories"))
      },
      Some("""WITH r AS (SELECT lang AS v, count(*) AS n FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
             | c AS (SELECT lang AS v, count(*) AS n FROM documents WHERE doc_id % 2 != 0 GROUP BY 1),
             | j AS (SELECT coalesce(r.n, 0) AS nr, coalesce(c.n, 0) AS nc FROM r FULL JOIN c ON r.v IS NOT DISTINCT FROM c.v),
             | t AS (SELECT sum(nr) AS tr, sum(nc) AS tc FROM j),
             | p AS (SELECT CASE WHEN tr > 0 THEN greatest(CAST(nr AS DOUBLE) / tr, 1e-6) END AS pr,
             |   CASE WHEN tc > 0 THEN greatest(CAST(nc AS DOUBLE) / tc, 1e-6) END AS pc FROM j, t)
             | SELECT round(sum((pr - pc) * ln(pr / pc)), 6) AS psi, count(*) AS n_categories FROM p""".stripMargin.replaceAll("\n", " "))),

    // Chi-square homogeneity test on the same even/odd lang split — the classical
    // counterpart to PSI, with Cramér's V as the N-invariant effect size. The full
    // 2×C contingency arithmetic is replayed in DuckDB.
    QueryDef("chi_square_documents",
      (s, d) => {
        val docs = t(s, d, "documents")
        graft.operators.Drift.chiSquare(
          docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 =!= 0), "lang")
          .select(round(col("chi2"), 6).as("chi2"), col("dof"),
            round(col("cramers_v"), 6).as("cramers_v"),
            col("n_ref"), col("n_cur"), col("n_categories"))
      },
      Some("""WITH r AS (SELECT lang AS v, count(*) AS n FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
             | c AS (SELECT lang AS v, count(*) AS n FROM documents WHERE doc_id % 2 != 0 GROUP BY 1),
             | j AS (SELECT coalesce(r.n, 0) AS nr, coalesce(c.n, 0) AS nc FROM r FULL JOIN c ON r.v IS NOT DISTINCT FROM c.v),
             | t AS (SELECT sum(nr) AS tr, sum(nc) AS tc FROM j),
             | x AS (SELECT nr, nc, tr, tc, CAST(tr + tc AS DOUBLE) AS n, CAST(nr + nc AS DOUBLE) AS ct FROM j, t),
             | e AS (SELECT CASE WHEN tr > 0 AND tc > 0 THEN
             |   pow(nr - tr * ct / n, 2) / (tr * ct / n) + pow(nc - tc * ct / n, 2) / (tc * ct / n) END AS term,
             |   tr, tc, n FROM x)
             | SELECT round(sum(term), 6) AS chi2,
             | CASE WHEN count(*) > 0 THEN count(*) - 1 END AS dof,
             | round(CASE WHEN count(*) > 1 THEN sqrt(sum(term) / max(n)) END, 6) AS cramers_v,
             | CAST(coalesce(max(tr), 0) AS BIGINT) AS n_ref,
             | CAST(coalesce(max(tc), 0) AS BIGINT) AS n_cur,
             | count(*) AS n_categories FROM e""".stripMargin.replaceAll("\n", " "))),

    // Jensen-Shannon divergence on the same split — exact (no epsilon smoothing;
    // one-sided categories contribute finitely by the 0·ln0 convention), symmetric,
    // bounded: the cross-column-comparable drift number.
    QueryDef("js_divergence_documents",
      (s, d) => {
        val docs = t(s, d, "documents")
        graft.operators.Drift.jsDivergence(
          docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 =!= 0), "lang")
          .select(round(col("jsd"), 6).as("jsd"),
            round(col("jsd_normalized"), 6).as("jsd_normalized"), col("n_categories"))
      },
      Some("""WITH r AS (SELECT lang AS v, count(*) AS n FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
             | c AS (SELECT lang AS v, count(*) AS n FROM documents WHERE doc_id % 2 != 0 GROUP BY 1),
             | j AS (SELECT coalesce(r.n, 0) AS nr, coalesce(c.n, 0) AS nc FROM r FULL JOIN c ON r.v IS NOT DISTINCT FROM c.v),
             | t AS (SELECT sum(nr) AS tr, sum(nc) AS tc FROM j),
             | p AS (SELECT CASE WHEN tr > 0 AND tc > 0 THEN CAST(nr AS DOUBLE) / tr END AS p,
             |   CASE WHEN tr > 0 AND tc > 0 THEN CAST(nc AS DOUBLE) / tc END AS q FROM j, t),
             | s AS (SELECT CASE WHEN p IS NULL THEN NULL ELSE
             |   CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) * 0.5 ELSE 0 END +
             |   CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2)) * 0.5 ELSE 0 END END AS term FROM p)
             | SELECT round(sum(term), 6) AS jsd, round(sum(term) / ln(2), 6) AS jsd_normalized,
             | count(*) AS n_categories FROM s""".stripMargin.replaceAll("\n", " "))),

    // CUBE rollup over (lang, source): per-cell, per-lang, per-source, and grand
    // totals in ONE pass with grouping_id disambiguating subtotal rows from real
    // NULL categories — the OLAP rollup surface (Spark cube == DuckDB GROUP BY
    // CUBE, including the grouping-bit convention).
    QueryDef("cube_quality_documents",
      (s, d) => {
        val docs = t(s, d, "documents")
        // The grand-total grouping set comes from a separate GLOBAL aggregate:
        // standard SQL (and DuckDB) emit the () set's one row even over EMPTY
        // input, while Spark's Expand+HashAggregate cube yields zero rows there —
        // the union keeps the empty-input shape standard.
        docs.cube(col("lang"), col("source"))
          .agg(grouping_id().as("gid"), count(lit(1)).as("n_docs"),
            round(avg(col("n_chars")), 4).as("avg_chars"))
          .filter(col("gid") =!= 3)
          .select(col("lang"), col("source"), col("gid"), col("n_docs"), col("avg_chars"))
          .unionByName(docs.agg(count(lit(1)).as("n_docs"),
              round(avg(col("n_chars")), 4).as("avg_chars"))
            .select(lit(null).cast("string").as("lang"),
              lit(null).cast("string").as("source"), lit(3L).as("gid"),
              col("n_docs"), col("avg_chars")))
      },
      Some("""SELECT lang, source,
             | CAST(grouping(lang) * 2 + grouping(source) AS BIGINT) AS gid,
             | count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
             | FROM documents GROUP BY CUBE (lang, source)""".stripMargin
        .replaceAll("\n", " "))),

    // Daily PSI series over the event-type mix: each day vs the previous day —
    // the "which day did the feed shift" monitor. First day (no reference) is
    // NULL on both engines; NULL event_type is a real category.
    QueryDef("psi_series_events",
      (s, d) => graft.operators.Drift.psiSeries(t(s, d, "events"), "ts", "event_type")
        .select(col("day"), col("n_categories"), round(col("psi"), 6).as("psi")),
      Some("""WITH c AS (SELECT CAST(ts AS DATE) AS day, event_type AS cat, count(*) AS n
             |   FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
             | cur AS (SELECT day, cat, n AS nc FROM c),
             | ref AS (SELECT day + 1 AS day, cat, n AS nr FROM c),
             | j AS (SELECT coalesce(cur.day, ref.day) AS day,
             |   coalesce(nc, 0) AS nc, coalesce(nr, 0) AS nr
             |   FROM cur FULL JOIN ref ON cur.day = ref.day AND cur.cat IS NOT DISTINCT FROM ref.cat),
             | t AS (SELECT day, sum(nc) AS tc, sum(nr) AS tr FROM j GROUP BY 1),
             | p AS (SELECT j.day, t.tc,
             |   CASE WHEN tc > 0 THEN greatest(CAST(nc AS DOUBLE) / tc, 1e-6) END AS pc,
             |   CASE WHEN tr > 0 THEN greatest(CAST(nr AS DOUBLE) / tr, 1e-6) END AS pr
             |   FROM j JOIN t ON j.day = t.day)
             | SELECT day, CAST(count(*) AS BIGINT) AS n_categories,
             | round(sum((pr - pc) * ln(pr / pc)), 6) AS psi
             | FROM p WHERE tc > 0 GROUP BY 1""".stripMargin.replaceAll("\n", " "))),

    // Equi-depth histogram over events.value: 5 quantile-edged buckets with
    // counts — the skew-honest profile. Both engines derive identical exact
    // interpolated edges and the same x > edge assignment rule; empty input
    // yields zero rows on both (the q IS NOT NULL gate).
    QueryDef("equidepth_histogram_events", {
      val b = 5
      (s: SparkSession, d: String) =>
        graft.Metrics.equiDepthHistogram(t(s, d, "events"), "value", b)
          .select(col("bucket"), round(col("lo"), 6).as("lo"),
            round(col("hi"), 6).as("hi"), col("cnt"))
    }, Some {
      val b = 5
      val probes = (0 to b).map(i => s"${i.toDouble / b}").mkString(", ")
      val caseChain = (1 until b)
        .map(i => s"CASE WHEN x > q[${i + 1}] THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH v AS (SELECT CAST(value AS DOUBLE) AS x FROM events
         |   WHERE value IS NOT NULL AND NOT isnan(value) AND isfinite(CAST(value AS DOUBLE))),
         | e AS (SELECT quantile_cont(x, [$probes]) AS q FROM v),
         | bk AS (SELECT unnest(range(0, $b)) AS bucket),
         | a AS (SELECT ($caseChain) AS bucket FROM v, e),
         | cn AS (SELECT bucket, count(*) AS cnt FROM a GROUP BY 1)
         | SELECT bk.bucket, round(e.q[CAST(bk.bucket + 1 AS INT)], 6) AS lo,
         | round(e.q[CAST(bk.bucket + 2 AS INT)], 6) AS hi,
         | CAST(coalesce(cn.cnt, 0) AS BIGINT) AS cnt
         | FROM bk CROSS JOIN e LEFT JOIN cn ON bk.bucket = cn.bucket
         | WHERE e.q IS NOT NULL""".stripMargin.replaceAll("\n", " ")
    }),

    // Equi-depth PSI on events.value between the even/odd user halves: decile edges
    // from the EVEN half's exact quantiles (quantile_cont parity), interior-edge
    // fold bucketing on both sides (NaN bin -1, NULL its own category), then the
    // PSI formula over bin counts — all three pieces individually proven, composed.
    QueryDef("psi_equidepth_events", {
      val b = 10
      (s: SparkSession, d: String) => {
        val ev = t(s, d, "events")
        graft.operators.Drift.psiEquiDepth(
            ev.filter(col("user_id") % 2 === 0), ev.filter(col("user_id") % 2 === 1),
            "value", b)
          .select(round(col("psi"), 6).as("psi"), col("n_categories"))
      }
    }, Some {
      val b = 10
      val probes = (0 to b).map(i => s"${i.toDouble / b}").mkString(", ")
      val fold = (1 until b)
        .map(i => s"CASE WHEN x > q[${i + 1}] THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH rv AS (SELECT CAST(value AS DOUBLE) AS x FROM events WHERE user_id % 2 = 0),
         | cv AS (SELECT CAST(value AS DOUBLE) AS x FROM events WHERE user_id % 2 = 1),
         | fin AS (SELECT x FROM rv WHERE x IS NOT NULL AND NOT isnan(x) AND isfinite(x)),
         | e AS (SELECT quantile_cont(x, [$probes]) AS q FROM fin),
         | rb AS (SELECT CASE WHEN x IS NULL THEN NULL WHEN isnan(x) THEN -1
         |   ELSE least($fold, ${b - 1}) END AS bin FROM rv, e WHERE q IS NOT NULL),
         | cb AS (SELECT CASE WHEN x IS NULL THEN NULL WHEN isnan(x) THEN -1
         |   ELSE least($fold, ${b - 1}) END AS bin FROM cv, e WHERE q IS NOT NULL),
         | r AS (SELECT bin, count(*) AS n FROM rb GROUP BY 1),
         | c AS (SELECT bin, count(*) AS n FROM cb GROUP BY 1),
         | j AS (SELECT coalesce(r.n, 0) AS nr, coalesce(c.n, 0) AS nc FROM r FULL JOIN c ON r.bin IS NOT DISTINCT FROM c.bin),
         | t AS (SELECT sum(nr) AS tr, sum(nc) AS tc FROM j),
         | p AS (SELECT CASE WHEN tr > 0 THEN greatest(CAST(nr AS DOUBLE) / tr, 1e-6) END AS pr,
         |   CASE WHEN tc > 0 THEN greatest(CAST(nc AS DOUBLE) / tc, 1e-6) END AS pc FROM j, t)
         | SELECT CASE WHEN (SELECT count(*) FROM fin) = 0 THEN NULL
         |   ELSE round(sum((pr - pc) * ln(pr / pc)), 6) END AS psi,
         | CASE WHEN (SELECT count(*) FROM fin) = 0 THEN 0
         |   ELSE count(*) END AS n_categories FROM p""".stripMargin.replaceAll("\n", " ")
    }),

    // Exact ECDF (percentile-rank) normalization of events.value, rolled up per
    // event_type: score calibration via the distributed boundary-fold rank (NOT a
    // single-task global window). DuckDB replays it with a literal cume_dist over
    // the finite rows, NULL-ranked hostiles unioned back so per-type counts match.
    QueryDef("ecdf_normalize_events",
      (s, d) => graft.Metrics.ecdfNormalize(t(s, d, "events"), "value", "pct")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), count(col("pct")).as("n_ranked"),
          round(avg(col("pct")), 6).as("mean_pct"),
          round(min(col("pct")), 6).as("min_pct"),
          round(max(col("pct")), 6).as("max_pct")),
      Some("""WITH f AS (SELECT event_type, cume_dist() OVER (ORDER BY x) AS p
             |   FROM (SELECT event_type, CAST(value AS DOUBLE) AS x FROM events
             |     WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
             |       AND isfinite(CAST(value AS DOUBLE)))),
             | u AS (SELECT event_type, p FROM f UNION ALL
             |   SELECT event_type, NULL AS p FROM events
             |   WHERE value IS NULL OR isnan(CAST(value AS DOUBLE))
             |     OR NOT isfinite(CAST(value AS DOUBLE)))
             | SELECT event_type, count(*) AS n, count(p) AS n_ranked,
             | round(avg(p), 6) AS mean_pct, round(min(p), 6) AS min_pct,
             | round(max(p), 6) AS max_pct
             | FROM u GROUP BY 1""".stripMargin.replaceAll("\n", " "))),

    // Per-group ECDF: each event type's values rank against that type's OWN
    // distribution (the cross-source calibration itself). Sum of ranks per type
    // pins every row's rank; NULL type is a real stratum.
    QueryDef("ecdf_by_type_events",
      (s, d) => graft.Metrics.ecdfNormalizeByGroup(t(s, d, "events"), "event_type",
          "value", "pct")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), count(col("pct")).as("n_ranked"),
          round(sum(col("pct")), 6).as("sum_pct"),
          round(min(col("pct")), 6).as("min_pct"),
          round(max(col("pct")), 6).as("max_pct")),
      Some("""WITH f AS (SELECT event_type, cume_dist() OVER (PARTITION BY event_type ORDER BY x) AS p
             |   FROM (SELECT event_type, CAST(value AS DOUBLE) AS x FROM events
             |     WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
             |       AND isfinite(CAST(value AS DOUBLE)))),
             | u AS (SELECT event_type, p FROM f UNION ALL
             |   SELECT event_type, NULL AS p FROM events
             |   WHERE value IS NULL OR isnan(CAST(value AS DOUBLE))
             |     OR NOT isfinite(CAST(value AS DOUBLE)))
             | SELECT event_type, count(*) AS n, count(p) AS n_ranked,
             | round(sum(p), 6) AS sum_pct, round(min(p), 6) AS min_pct,
             | round(max(p), 6) AS max_pct
             | FROM u GROUP BY 1""".stripMargin.replaceAll("\n", " "))),

    // Vocabulary novelty of the odd-doc half against the even-doc reference: share
    // of current token mass whose TYPE the reference never saw — the open-vocab
    // drift number (tokenizer-OOV planning) PSI's closed categories can't express.
    QueryDef("vocab_novelty_documents",
      (s, d) => {
        val docs = t(s, d, "documents")
        graft.operators.Drift.vocabNovelty(
          docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 =!= 0), "text")
          .select(col("n_tokens"), col("n_types"), col("n_new_types"),
            round(col("new_mass"), 6).as("new_mass"))
      },
      Some("""WITH rt AS (SELECT DISTINCT t FROM documents,
             |   unnest(@TOKENS(text)@) AS u(t)
             |   WHERE doc_id % 2 = 0),
             | ct AS (SELECT t, count(*) AS n FROM documents,
             |   unnest(@TOKENS(text)@) AS u(t)
             |   WHERE doc_id % 2 != 0 GROUP BY 1),
             | j AS (SELECT ct.n, rt.t IS NOT NULL AS seen FROM ct LEFT JOIN rt ON ct.t = rt.t)
             | SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_tokens, count(*) AS n_types,
             | CAST(coalesce(sum(CASE WHEN NOT seen THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_new_types,
             | CASE WHEN sum(n) > 0 THEN round(CAST(sum(CASE WHEN NOT seen THEN n ELSE 0 END) AS DOUBLE) / sum(n), 6) END AS new_mass
             | FROM j""".stripMargin.replaceAll("\n", " "))),

    // Quality-ranked selection under a global 10k-token budget: the maximal prefix
    // of docs in (quality DESC, doc_id) order whose cumulative whitespace-token
    // count stays ≤ budget — the distributed budget fold vs DuckDB's cumulative
    // window. NULL doc_ids are filtered on BOTH sides (the operator's tiebreak
    // contract: the tie key must be unique and non-NULL), and NULL text is
    // filtered EXPLICITLY on BOTH sides: qualityScore(NULL) is the kernel's
    // finite nullScore, while DuckDB's least() SKIPS NULL arguments so the
    // oracle's qs formula ALSO yields a finite (but different) score on NULL
    // text — without the shared filter a single NULL-text row diverges the
    // rankings.
    QueryDef("budget_select_documents",
      (s, d) => {
        val docs = t(s, d, "documents")
          .filter(col("doc_id").isNotNull && col("text").isNotNull)
          .withColumn("q", TextFunctions.qualityScore(col("text")))
          .withColumn("w", TextFunctions.tokenCount(col("text")))
        graft.operators.Sharding.selectTopByBudget(docs, "q", "w", "doc_id", 10000L, "cum")
          .agg(count(lit(1)).as("n_sel"),
            coalesce(sum(col("w")), lit(0L)).cast("long").as("sel_tokens"),
            round(min(col("q")), 6).as("threshold"),
            max(col("cum")).as("max_cum"))
      },
      Some("""WITH toks AS (SELECT doc_id, text, @TOKENS(text)@ AS tk
             |   FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
             | q AS (SELECT doc_id, round(
             | least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * (CASE WHEN CAST(length(text) AS DOUBLE) > 20000 THEN 0.5 ELSE 1.0 END) * 0.4
             | + (CASE WHEN (CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END) < 0.2 THEN 1.0 ELSE 0.5 END) * 0.2
             | + (CASE WHEN (CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[ \t\n\x0b\f\r]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END) BETWEEN 0.05 AND 0.35 THEN 1.0 ELSE 0.7 END) * 0.2
             | + (CASE WHEN (CASE WHEN len(tk) > 0 THEN CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / CAST(len(tk) AS DOUBLE) ELSE 0.0 END) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.6 END) * 0.2
             | , 6) AS qs, len(tk) AS w FROM toks),
             | sel AS (SELECT qs, w, sum(coalesce(w, 0)) OVER (ORDER BY qs DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum
             |   FROM q WHERE qs IS NOT NULL)
             | SELECT count(*) AS n_sel, CAST(coalesce(sum(w), 0) AS BIGINT) AS sel_tokens,
             | round(min(qs), 6) AS threshold, CAST(max(cum) AS BIGINT) AS max_cum
             | FROM sel WHERE cum <= 10000""".stripMargin.replaceAll("\n", " "))),

    // Per-source token quotas: each source independently keeps its best docs up to
    // 500 tokens — the mixture-carving step where the GLOBAL budget would let one
    // huge source eat everything. NULL source is a real stratum with its own quota;
    // NULL doc_ids filtered per the tiebreak contract, NULL text filtered on
    // both sides (kernel nullScore vs oracle SQL-NULL — see budget_select above).
    // A source whose best doc already exceeds the quota is absent on both sides.
    QueryDef("budget_select_by_source_documents",
      (s, d) => {
        // NO fanOut (measured, round 14): raw 0.56 s vs fanned 1.00 s same-JVM —
        // the kernels are cheap enough that the extra exchange only costs.
        val docs = t(s, d, "documents")
          .filter(col("doc_id").isNotNull && col("text").isNotNull)
          .withColumn("q", TextFunctions.qualityScore(col("text")))
          .withColumn("w", TextFunctions.tokenCount(col("text")))
        graft.operators.Sharding.selectTopByBudgetByGroup(
            docs, "source", "q", "w", "doc_id", 500L, "cum")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_sel"),
            coalesce(sum(col("w")), lit(0L)).cast("long").as("sel_tokens"),
            round(min(col("q")), 6).as("threshold"),
            max(col("cum")).as("max_cum"))
      },
      Some("""WITH toks AS (SELECT doc_id, source, text, @TOKENS(text)@ AS tk
             |   FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
             | q AS (SELECT doc_id, source, round(
             | least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * (CASE WHEN CAST(length(text) AS DOUBLE) > 20000 THEN 0.5 ELSE 1.0 END) * 0.4
             | + (CASE WHEN (CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END) < 0.2 THEN 1.0 ELSE 0.5 END) * 0.2
             | + (CASE WHEN (CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[ \t\n\x0b\f\r]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END) BETWEEN 0.05 AND 0.35 THEN 1.0 ELSE 0.7 END) * 0.2
             | + (CASE WHEN (CASE WHEN len(tk) > 0 THEN CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / CAST(len(tk) AS DOUBLE) ELSE 0.0 END) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.6 END) * 0.2
             | , 6) AS qs, len(tk) AS w FROM toks),
             | sel AS (SELECT source, qs, w, sum(coalesce(w, 0)) OVER (PARTITION BY source ORDER BY qs DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum
             |   FROM q WHERE qs IS NOT NULL)
             | SELECT source, count(*) AS n_sel, CAST(coalesce(sum(w), 0) AS BIGINT) AS sel_tokens,
             | round(min(qs), 6) AS threshold, CAST(max(cum) AS BIGINT) AS max_cum
             | FROM sel WHERE cum <= 500 GROUP BY 1""".stripMargin.replaceAll("\n", " "))),

    // Reliability curve of the heuristic quality score against the Gopher keep
    // verdict: 10 fixed-width score bins × empirical keep rate — the threshold-
    // picking table behind score-based filtering. Non-NULL text on both sides (the
    // operator's NULL-bin bucket is spec-pinned; qualityScore is total on non-NULL
    // text, so no bin is NULL here).
    QueryDef("calibration_quality_documents",
      (s, d) => {
        val docs = t(s, d, "documents").filter(col("text").isNotNull)
          .withColumn("score", TextFunctions.qualityScore(col("text")))
          .withColumn("label", TextFunctions.gopherFlags(col("text")).getField("keep"))
        graft.operators.QualityClassifier.calibrationBins(docs, "score", "label", 10)
          .select(col("bin"), col("n"), col("n_labeled"),
            round(col("mean_score"), 6).as("mean_score"),
            round(col("label_rate"), 6).as("label_rate"))
      },
      Some("""WITH f AS (SELECT text,
             |   @TOKENS(text)@ AS t,
             |   list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l != '') AS ls
             |   FROM documents WHERE text IS NOT NULL),
             | g AS (SELECT text, t, len(t) AS nw,
             |   CASE WHEN len(t) > 0 THEN CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t) ELSE 0.0 END AS mwl,
             |   len(regexp_extract_all(text, '#|\.{3}|…')) AS nsym,
             |   len(ls) AS nl,
             |   len(list_filter(ls, l -> regexp_matches(l, '^[•‣▪*-]'))) AS nbul,
             |   len(list_filter(ls, l -> regexp_matches(l, '(\.{3}|…)$'))) AS nell,
             |   len(list_filter(t, x -> regexp_matches(x, '\p{L}'))) AS nalpha,
             |   len(list_filter(t, x -> regexp_matches(x, '(?i)^(the|be|to|of|and|that|have|with)$'))) AS nstop
             |   FROM f),
             | r AS (SELECT round(
             |   least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * (CASE WHEN CAST(length(text) AS DOUBLE) > 20000 THEN 0.5 ELSE 1.0 END) * 0.4
             |   + (CASE WHEN (CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END) < 0.2 THEN 1.0 ELSE 0.5 END) * 0.2
             |   + (CASE WHEN (CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[ \t\n\x0b\f\r]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END) BETWEEN 0.05 AND 0.35 THEN 1.0 ELSE 0.7 END) * 0.2
             |   + (CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.6 END) * 0.2
             |   , 6) AS qs,
             |   ((nw >= 50 AND nw <= 100000) AND (nw > 0 AND mwl >= 3.0 AND mwl <= 10.0)
             |    AND (nw > 0 AND CAST(nsym AS DOUBLE) <= 0.1 * CAST(nw AS DOUBLE))
             |    AND (nl = 0 OR CAST(nbul AS DOUBLE) <= 0.9 * CAST(nl AS DOUBLE))
             |    AND (nl = 0 OR CAST(nell AS DOUBLE) <= 0.3 * CAST(nl AS DOUBLE))
             |    AND (nw > 0 AND CAST(nalpha AS DOUBLE) >= 0.8 * CAST(nw AS DOUBLE))
             |    AND nstop >= 2) AS keep FROM g),
             | b AS (SELECT CASE WHEN qs IS NOT NULL AND NOT isnan(qs) AND qs >= 0 AND qs <= 1
             |     THEN least(CAST(floor(qs * 10) AS INT), 9) END AS bin,
             |   qs, CAST(keep AS DOUBLE) AS lab FROM r)
             | SELECT bin, count(*) AS n, CAST(count(lab) AS BIGINT) AS n_labeled,
             | round(avg(CASE WHEN bin IS NOT NULL THEN qs END), 6) AS mean_score,
             | round(avg(lab), 6) AS label_rate
             | FROM b GROUP BY 1""".stripMargin.replaceAll("\n", " "))),

    // Mergeable HLL sketch columns: per-event-type distinct-user sketches, each
    // estimate gated within 5% of the exact count (lgK=14 ⇒ ~0.4% typical error,
    // and Datasketches HLL is deterministic — the booleans are stable facts, not
    // flaky tolerances), and the UNION of the per-type sketches gated against the
    // global exact — proving merge-without-rescan. NULL event_type is a group;
    // an all-NULL-user group's empty sketch must estimate exactly 0.
    QueryDef("hll_rollup_events",
      (s, d) => {
        val ev = t(s, d, "events")
        val per = graft.Metrics.approxDistinctRollup(ev, "event_type", "user_id")
        val exact = ev.groupBy(col("event_type").as("_et"))
          .agg(count_distinct(col("user_id")).as("_exact"))
        val j = per.join(exact, per("event_type") <=> exact("_et"))
          .select(col("hll_sketch"),
            when(col("_exact") === 0, col("approx_distinct") === 0)
              .otherwise(abs(col("approx_distinct") - col("_exact")) <=
                col("_exact") * lit(0.05)).as("_ok"))
        val unionEst = graft.Metrics.mergeSketches(j.select("hll_sketch"))
        val globalExact = ev.agg(count_distinct(col("user_id")).as("global_exact"))
        j.agg(count(lit(1)).as("n_groups"), bool_and(col("_ok")).as("groups_ok"))
          .crossJoin(unionEst).crossJoin(globalExact)
          .select(col("n_groups"), col("groups_ok"),
            when(col("global_exact") === 0, col("merged_distinct") === 0)
              .otherwise(abs(col("merged_distinct") - col("global_exact")) <=
                col("global_exact") * lit(0.05)).as("union_ok"),
            col("global_exact"))
      },
      Some("""SELECT CAST((SELECT count(*) FROM (SELECT DISTINCT event_type FROM events)) AS BIGINT) AS n_groups,
             | CASE WHEN (SELECT count(*) FROM events) = 0 THEN NULL ELSE TRUE END AS groups_ok,
             | TRUE AS union_ok,
             | CAST((SELECT count(DISTINCT user_id) FROM events) AS BIGINT) AS global_exact""".stripMargin.replaceAll("\n", " "))),

    // Theta-sketch set algebra: distinct-token INTERSECTION and union between the
    // even/odd doc halves, each estimate gated within 5% of the exact count
    // computed alongside (below 2^14 distinct the sketch is in exact mode, so the
    // booleans are deterministic facts). Intersection is what HLL can't answer —
    // with per-source sketches stored, every pairwise corpus overlap is a set op
    // on ~100 KiB binaries, not a vocab×vocab join.
    QueryDef("theta_overlap_documents",
      (s, d) => {
        import graft.functions.SketchFunctions._
        val toks = t(s, d, "documents").filter(col("doc_id").isNotNull)
          .select((col("doc_id") % 2 === 0).as("even"),
            explode(TextFunctions.tokens(col("text"))).as("tk"))
        val sk = toks.agg(
            thetaSketch(when(col("even"), col("tk"))).as("ska"),
            thetaSketch(when(!col("even"), col("tk"))).as("skb"))
          .select(thetaIntersectionEstimate(col("ska"), col("skb")).as("est_inter"),
            thetaUnionEstimate(col("ska"), col("skb")).as("est_union"))
        val exact = toks.groupBy(col("tk"))
          .agg(bool_or(col("even")).as("ina"), bool_or(!col("even")).as("inb"))
          .agg(coalesce(sum(when(col("ina") && col("inb"), 1L)), lit(0L)).as("exact_inter"),
            count(lit(1)).as("exact_union"))
        exact.crossJoin(sk).select(
          col("exact_inter"), col("exact_union"),
          when(col("exact_inter") === 0, col("est_inter") === 0.0)
            .otherwise(abs(col("est_inter") - col("exact_inter")) <=
              col("exact_inter") * lit(0.05)).as("inter_ok"),
          when(col("exact_union") === 0, col("est_union") === 0.0)
            .otherwise(abs(col("est_union") - col("exact_union")) <=
              col("exact_union") * lit(0.05)).as("union_ok"))
      },
      Some("""WITH tok AS (SELECT doc_id % 2 = 0 AS even, t FROM documents,
             |   unnest(@TOKENS(text)@) AS u(t)
             |   WHERE doc_id IS NOT NULL),
             | g AS (SELECT t, bool_or(even) AS ina, bool_or(NOT even) AS inb FROM tok GROUP BY 1)
             | SELECT CAST(coalesce(sum(CASE WHEN ina AND inb THEN 1 ELSE 0 END), 0) AS BIGINT) AS exact_inter,
             | count(*) AS exact_union, TRUE AS inter_ok, TRUE AS union_ok
             | FROM g""".stripMargin.replaceAll("\n", " "))),

    // Per-event-type KS between the even/odd user halves — the stratified drift
    // view; groups with one empty side report NULL, NULL event_type is a group.
    QueryDef("ks_by_type_events",
      (s, d) => {
        val ev = t(s, d, "events")
        graft.operators.Drift.ksStatisticByGroup(
            ev.filter(col("user_id") % 2 === 0), ev.filter(col("user_id") % 2 === 1),
            "event_type", "value")
          .select(col("event_type"), col("n_ref"), col("n_cur"),
            round(col("ks"), 6).as("ks"))
      },
      Some("""WITH v AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x,
             |     CASE WHEN user_id % 2 = 0 THEN 1 ELSE 2 END AS s
             |   FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
             |     AND NOT isnan(value) AND isfinite(CAST(value AS DOUBLE)) AND user_id % 2 IN (0, 1)),
             | gg AS (SELECT g, x, CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             |   CAST(sum(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2 FROM v GROUP BY 1, 2),
             | c AS (SELECT g, sum(c1) OVER (PARTITION BY g ORDER BY x) AS r1,
             |   sum(c2) OVER (PARTITION BY g ORDER BY x) AS r2,
             |   sum(c1) OVER (PARTITION BY g) AS n1, sum(c2) OVER (PARTITION BY g) AS n2 FROM gg)
             | SELECT g AS event_type, CAST(max(n1) AS BIGINT) AS n_ref, CAST(max(n2) AS BIGINT) AS n_cur,
             | CASE WHEN max(n1) = 0 OR max(n2) = 0 THEN NULL ELSE
             |   round(max(abs(CAST(r1 AS DOUBLE) / n1 - CAST(r2 AS DOUBLE) / n2)), 6) END AS ks
             | FROM c GROUP BY 1""".stripMargin.replaceAll("\n", " "))),

    // Two-sample KS statistic over events.value between the even/odd user halves —
    // the distributed range-partitioned ECDF fold vs DuckDB's cumulative window
    // over grouped values. Exact equality up to rounding: both evaluate the same
    // right-continuous ECDF difference at the same distinct points.
    QueryDef("ks_drift_events",
      (s, d) => {
        val ev = t(s, d, "events")
        graft.operators.Drift.ksStatistic(
            ev.filter(col("user_id") % 2 === 0), ev.filter(col("user_id") % 2 === 1),
            "value")
          .select(col("n_ref"), col("n_cur"), round(col("ks"), 6).as("ks"))
      },
      Some("""WITH v AS (SELECT CAST(value AS DOUBLE) AS x,
             |     CASE WHEN user_id % 2 = 0 THEN 1 ELSE 2 END AS s
             |   FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
             |     AND NOT isnan(value) AND isfinite(CAST(value AS DOUBLE)) AND user_id % 2 IN (0, 1)),
             | g AS (SELECT x, CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             |   CAST(sum(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2 FROM v GROUP BY 1),
             | n AS (SELECT CAST(coalesce(sum(c1), 0) AS BIGINT) AS n1,
             |   CAST(coalesce(sum(c2), 0) AS BIGINT) AS n2 FROM g),
             | cum AS (SELECT sum(c1) OVER (ORDER BY x) AS r1, sum(c2) OVER (ORDER BY x) AS r2 FROM g)
             | SELECT n1 AS n_ref, n2 AS n_cur,
             | CASE WHEN n1 = 0 OR n2 = 0 THEN NULL ELSE
             |   round((SELECT max(abs(CAST(r1 AS DOUBLE) / n1 - CAST(r2 AS DOUBLE) / n2)) FROM cum), 6)
             | END AS ks FROM n""".stripMargin.replaceAll("\n", " "))),

    // NFC canonicalization sweep: how much of the corpus is non-canonical (composed
    // vs combining-mark forms). Clean fixtures are ASCII (0 changed); the adversarial
    // gate's combining-mark/Unicode hostiles exercise real normalization here.
    QueryDef("unicode_nfc_documents",
      (s, d) => {
        val docs = t(s, d, "documents")
        val nfc = TextFunctions.nfcNormalize(col("text"))
        docs.agg(
          count(lit(1)).as("n_docs"),
          coalesce(sum(when(nfc =!= col("text"), 1L).otherwise(0L)), lit(0L))
            .as("docs_changed"),
          coalesce(sum(length(col("text"))), lit(0L)).as("chars_before"),
          coalesce(sum(length(nfc)), lit(0L)).as("chars_after"))
      },
      Some("""SELECT count(*) AS n_docs,
             | CAST(coalesce(sum(CASE WHEN nfc_normalize(text) != text THEN 1 ELSE 0 END), 0) AS BIGINT) AS docs_changed,
             | CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS chars_before,
             | CAST(coalesce(sum(length(nfc_normalize(text))), 0) AS BIGINT) AS chars_after
             | FROM documents""".stripMargin.replaceAll("\n", " "))),

    // Deterministic per-language quota sample through the salted two-phase top-k
    // (salt=4 exercises the hot-stratum scale path; the result is salt-invariant).
    QueryDef("stratified_sample_documents",
      (s, d) => {
        val docs = t(s, d, "documents")
          .filter(col("lang").isNotNull && col("doc_id").isNotNull)
        graft.operators.Sampling.quotaPerStratum(docs, Seq("lang"), 30, Seq("doc_id"), salt = 4)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_sampled"),
            coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"),
            min(col("doc_id")).as("min_id"),
            max(col("doc_id")).as("max_id"))
      },
      Some("""WITH r AS (SELECT lang, doc_id, n_chars,
             |   row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
             |   FROM documents WHERE lang IS NOT NULL AND doc_id IS NOT NULL)
             | SELECT lang, count(*) AS n_sampled,
             | CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS sum_chars,
             | min(doc_id) AS min_id, max(doc_id) AS max_id
             | FROM r WHERE rn <= 30 GROUP BY 1""".stripMargin.replaceAll("\n", " "))),

    // C4-style corpus-wide line dedup: duplicate lines keep only their first
    // occurrence; documents reassemble with surviving lines in order. The clean
    // synthetic docs are single-line AND dup-free at sf0.01, so both engines prepend
    // a shared boilerplate line to every doc — the exact shape this pass removes
    // (one survivor, every other copy dropped) — while the adversarial fixture's
    // newline-bearing/duplicate hostiles exercise the organic path.
    QueryDef("dedup_lines_documents",
      (s, d) => graft.operators.Dedup
        .dedupLinesAcrossCorpus(
          t(s, d, "documents").select(col("doc_id"),
            concat(lit("BOILERPLATE HEADER\n"), col("text")).as("text")),
          "doc_id", "text")
        .agg(
          count(lit(1)).as("n_docs"),
          coalesce(sum(col("lines_total")), lit(0L)).as("lines_total"),
          coalesce(sum(col("lines_dropped")), lit(0L)).as("lines_dropped"),
          coalesce(sum(when(col("lines_dropped") > 0, 1L).otherwise(0L)), lit(0L))
            .as("docs_changed"),
          coalesce(sum(length(col("text"))), lit(0L)).as("chars_after")),
      Some("""WITH base AS (SELECT doc_id, 'BOILERPLATE HEADER' || chr(10) || text AS text FROM documents),
             | ls AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM base WHERE doc_id IS NOT NULL AND text IS NOT NULL),
             | widx AS (SELECT unnest(range(1, CAST((SELECT coalesce(max(len(l)), 0) FROM ls) AS BIGINT) + 1)) AS i),
             | ln AS (SELECT doc_id, CAST(i AS BIGINT) AS idx, l[CAST(i AS INT)] AS line, length(l[CAST(i AS INT)]) >= 1 AS part FROM ls JOIN widx ON i <= len(l)),
             | rk AS (SELECT doc_id, idx, line, part,
             |   (NOT part) OR row_number() OVER (PARTITION BY part, line ORDER BY doc_id, idx) = 1 AS keep FROM ln),
             | doc_after AS (SELECT doc_id,
             |   coalesce(string_agg(line, chr(10) ORDER BY idx) FILTER (WHERE keep), '') AS t2,
             |   sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS ld FROM rk GROUP BY 1)
             | SELECT (SELECT count(*) FROM base) AS n_docs,
             | CAST((SELECT coalesce(sum(len(string_split(text, chr(10)))), 0) FROM base WHERE text IS NOT NULL) AS BIGINT) AS lines_total,
             | CAST(coalesce(sum(ld), 0) AS BIGINT) AS lines_dropped,
             | CAST(coalesce(sum(CASE WHEN ld > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS docs_changed,
             | CAST((SELECT coalesce(sum(length(t2)), 0) FROM doc_after)
             |   + (SELECT coalesce(sum(length(text)), 0) FROM base WHERE doc_id IS NULL AND text IS NOT NULL) AS BIGINT) AS chars_after
             | FROM doc_after""".stripMargin.replaceAll("\n", " "))),

    // Paragraph-granularity corpus dedup: same first-occurrence pass with sep="\n\n".
    // Both engines append a shared multi-line footer PARAGRAPH to every doc — the
    // multi-line-boilerplate-block shape line-level dedup cannot remove atomically
    // (it would orphan the block's unduplicated lines); one survivor keeps it.
    QueryDef("dedup_paragraphs_documents",
      (s, d) => graft.operators.Dedup
        .dedupLinesAcrossCorpus(
          t(s, d, "documents").select(col("doc_id"),
            concat(col("text"), lit("\n\nSHARED FOOTER\nSECOND LINE")).as("text")),
          "doc_id", "text", minLineChars = 1, sep = "\n\n")
        .agg(
          count(lit(1)).as("n_docs"),
          coalesce(sum(col("lines_total")), lit(0L)).as("paras_total"),
          coalesce(sum(col("lines_dropped")), lit(0L)).as("paras_dropped"),
          coalesce(sum(when(col("lines_dropped") > 0, 1L).otherwise(0L)), lit(0L))
            .as("docs_changed"),
          coalesce(sum(length(col("text"))), lit(0L)).as("chars_after")),
      Some("""WITH base AS (SELECT doc_id, text || chr(10) || chr(10) || 'SHARED FOOTER' || chr(10) || 'SECOND LINE' AS text FROM documents),
             | ls AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS l FROM base WHERE doc_id IS NOT NULL AND text IS NOT NULL),
             | widx AS (SELECT unnest(range(1, CAST((SELECT coalesce(max(len(l)), 0) FROM ls) AS BIGINT) + 1)) AS i),
             | ln AS (SELECT doc_id, CAST(i AS BIGINT) AS idx, l[CAST(i AS INT)] AS para, length(l[CAST(i AS INT)]) >= 1 AS part FROM ls JOIN widx ON i <= len(l)),
             | rk AS (SELECT doc_id, idx, para, part,
             |   (NOT part) OR row_number() OVER (PARTITION BY part, para ORDER BY doc_id, idx) = 1 AS keep FROM ln),
             | doc_after AS (SELECT doc_id,
             |   coalesce(string_agg(para, chr(10) || chr(10) ORDER BY idx) FILTER (WHERE keep), '') AS t2,
             |   sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS ld FROM rk GROUP BY 1)
             | SELECT (SELECT count(*) FROM base) AS n_docs,
             | CAST((SELECT coalesce(sum(len(string_split(text, chr(10) || chr(10)))), 0) FROM base WHERE text IS NOT NULL) AS BIGINT) AS paras_total,
             | CAST(coalesce(sum(ld), 0) AS BIGINT) AS paras_dropped,
             | CAST(coalesce(sum(CASE WHEN ld > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS docs_changed,
             | CAST((SELECT coalesce(sum(length(t2)), 0) FROM doc_after)
             |   + (SELECT coalesce(sum(length(text)), 0) FROM base WHERE doc_id IS NULL AND text IS NOT NULL) AS BIGINT) AS chars_after
             | FROM doc_after""".stripMargin.replaceAll("\n", " "))),

    // URL canonicalization over engine-built crawl-style URLs (the tables carry no
    // natural URLs, so both engines construct the same hostile spellings from orders:
    // mixed-case scheme/host, www., default ports per scheme, trailing slash, tracking
    // + unsorted params, fragment, and a .CO.UK sub-population for the public-suffix
    // rule). The oracle re-implements the whole normalization pipeline in DuckDB.
    QueryDef("url_normalize_orders",
      (s, d) => {
        import graft.functions.WebFunctions
        val scheme = when(col("o_orderkey") % 2 === 0, "HTTP").otherwise("HTTPS")
        val port = when(col("o_orderkey") % 2 === 0, ":80").otherwise(":443")
        val tld = when(col("o_custkey") % 5 === 0, ".CO.UK").otherwise(".COM")
        val u = concat(scheme, lit("://WWW.Shop"), (col("o_custkey") % 40).cast("string"),
          tld, port, lit("/items/"), col("o_orderkey").cast("string"),
          lit("/?utm_source=feed&b="), (col("o_orderkey") % 7).cast("string"),
          lit("&a="), (col("o_orderkey") % 3).cast("string"), lit("#frag"))
        // fanOut (measured, round 14): raw 1.42 s vs fanned 1.11 s same-JVM — the
        // url_parts kernel + the Expand×3 distinct-agg stage dominate and both
        // parallelize; only the two key longs cross the local shuffle. No-op when
        // the input is already parallel (the guard leaves such plans alone).
        graft.operators.Dedup.fanOut(
            t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")))
          .select(WebFunctions.urlNormalize(u).as("norm"), WebFunctions.domainOf(u).as("dom"))
          .agg(
            count(lit(1)).as("n_urls"),
            countDistinct(col("norm")).as("distinct_norm"),
            countDistinct(col("dom")).as("distinct_domains"),
            min(col("norm")).as("min_norm"),
            max(col("norm")).as("max_norm"),
            coalesce(sum(length(col("norm"))), lit(0L)).as("sum_len"))
      },
      Some("""WITH raw AS (SELECT
             |   (CASE WHEN o_orderkey % 2 = 0 THEN 'HTTP' ELSE 'HTTPS' END) || '://WWW.Shop' ||
             |   CAST(o_custkey % 40 AS VARCHAR) ||
             |   (CASE WHEN o_custkey % 5 = 0 THEN '.CO.UK' ELSE '.COM' END) ||
             |   (CASE WHEN o_orderkey % 2 = 0 THEN ':80' ELSE ':443' END) ||
             |   '/items/' || CAST(o_orderkey AS VARCHAR) || '/?utm_source=feed&b=' ||
             |   CAST(o_orderkey % 7 AS VARCHAR) || '&a=' || CAST(o_orderkey % 3 AS VARCHAR) || '#frag' AS u
             |   FROM orders),
             | parts AS (SELECT
             |   lower(regexp_extract(regexp_replace(u, '#.*$', ''), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             |   regexp_replace(lower(regexp_extract(regexp_replace(u, '#.*$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\.', '') AS host0,
             |   regexp_extract(regexp_replace(u, '#.*$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS rest,
             |   u FROM raw),
             | np AS (SELECT scheme,
             |   CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
             |        WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
             |        ELSE host0 END AS host,
             |   regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') AS path,
             |   list_sort(list_filter(string_split(regexp_extract(rest, '^[^?]*\?(.*)$', 1), '&'),
             |     p -> length(p) > 0 AND NOT regexp_matches(p, '^(?i)(utm_[a-z0-9]+|gclid|fbclid|msclkid|mc_eid|ref)='))) AS params,
             |   regexp_replace(regexp_replace(lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':[0-9]+$', ''), '^www\.', '') AS hostp
             |   FROM parts),
             | d AS (SELECT
             |   scheme || '://' || host || path ||
             |     (CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END) AS norm,
             |   (CASE WHEN len(string_split(hostp, '.')) >= 3
             |         AND string_split(hostp, '.')[len(string_split(hostp, '.')) - 1]
             |           IN ('co','com','net','org','gov','ac','edu')
             |     THEN array_to_string(string_split(hostp, '.')[len(string_split(hostp, '.')) - 2:], '.')
             |     WHEN len(string_split(hostp, '.')) >= 2
             |     THEN array_to_string(string_split(hostp, '.')[len(string_split(hostp, '.')) - 1:], '.')
             |     ELSE hostp END) AS dom
             |   FROM np)
             | SELECT CAST(count(*) AS BIGINT) AS n_urls,
             |   CAST(count(DISTINCT norm) AS BIGINT) AS distinct_norm,
             |   CAST(count(DISTINCT dom) AS BIGINT) AS distinct_domains,
             |   min(norm) AS min_norm, max(norm) AS max_norm,
             |   CAST(coalesce(sum(length(norm)), 0) AS BIGINT) AS sum_len
             | FROM d""".stripMargin.replaceAll("\n", " "))),

    // Per-domain capping (the crawl-balance pass): registered-domain key from the same
    // constructed URLs, deterministic first-5-by-orderkey quota per domain.
    QueryDef("domain_cap_orders",
      (s, d) => {
        import graft.functions.WebFunctions
        val tld = when(col("o_custkey") % 5 === 0, ".CO.UK").otherwise(".COM")
        val u = concat(lit("https://WWW.Shop"), (col("o_custkey") % 40).cast("string"),
          tld, lit("/p/"), col("o_orderkey").cast("string"))
        // NULL keys out BEFORE the quota window: Spark orders nulls-first, DuckDB
        // nulls-last, so a NULL o_orderkey inside a full stratum would pick different
        // survivors per engine — and capping needs a real (domain, key) anyway.
        // NO fanOut (measured, round 14): raw 0.41 s vs fanned 0.61 s same-JVM —
        // the domain kernel alone is too cheap to pay for the extra exchange.
        val withDom = t(s, d, "orders")
          .filter(col("o_orderkey").isNotNull && col("o_custkey").isNotNull)
          .select(col("o_orderkey"), WebFunctions.domainOf(u).as("dom"))
        graft.operators.Sampling.quotaPerStratum(withDom, Seq("dom"), 5, Seq("o_orderkey"))
          .agg(
            count(lit(1)).as("n_kept"),
            countDistinct(col("dom")).as("n_domains"),
            coalesce(sum(col("o_orderkey")), lit(0L)).as("sum_keys"))
      },
      Some("""WITH raw AS (SELECT o_orderkey,
             |   'shop' || CAST(o_custkey % 40 AS VARCHAR) ||
             |   (CASE WHEN o_custkey % 5 = 0 THEN '.co.uk' ELSE '.com' END) AS hostp
             |   FROM orders WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL),
             | d AS (SELECT o_orderkey,
             |   (CASE WHEN len(string_split(hostp, '.')) >= 3
             |         AND string_split(hostp, '.')[len(string_split(hostp, '.')) - 1]
             |           IN ('co','com','net','org','gov','ac','edu')
             |     THEN array_to_string(string_split(hostp, '.')[len(string_split(hostp, '.')) - 2:], '.')
             |     WHEN len(string_split(hostp, '.')) >= 2
             |     THEN array_to_string(string_split(hostp, '.')[len(string_split(hostp, '.')) - 1:], '.')
             |     ELSE hostp END) AS dom
             |   FROM raw),
             | r AS (SELECT dom, o_orderkey,
             |   row_number() OVER (PARTITION BY dom ORDER BY o_orderkey) AS rn FROM d)
             | SELECT CAST(count(*) AS BIGINT) AS n_kept,
             |   CAST(count(DISTINCT dom) AS BIGINT) AS n_domains,
             |   CAST(coalesce(sum(o_orderkey), 0) AS BIGINT) AS sum_keys
             | FROM r WHERE rn <= 5""".stripMargin.replaceAll("\n", " "))),

    // Exact duplicate-substring spans (Lee et al. 2021 style): corpus-duplicated token
    // 8-grams merged into maximal per-doc spans. The clean corpus is dup-free word
    // salad, so both engines prepend a shared 10-token header to every doc — its three
    // fully-interior grams (positions 0,1,2) are corpus-duplicated and must merge into
    // ONE 10-token span per doc; header↔body boundary grams stay unique per doc. The
    // island arithmetic (lag >= k ⇒ new span) is the same fold the operator runs.
    // Stored contamination firewall: bloom built once from the every-100th-doc
    // probe, incoming docs flagged against the BYTES. Gated on the deterministic
    // guarantees — every planted probe doc is fully flagged (zero false negatives)
    // and every doc's flag count dominates its exact probe-gram hits (the bloom
    // can only over-flag) — not on the fp noise.
    QueryDef("contamination_firewall_documents",
      (s, d) => {
        val docs = t(s, d, "documents").filter(col("doc_id").isNotNull)
        // ONE tokenizing corpus pass, materialized: bloom build, flag rollup,
        // probe hash set, and the exact superset check all read the same gram
        // frame (this query used to tokenize the corpus twice and the probe
        // twice more — the dominant verify cost).
        val grams = graft.operators.Dedup.docGramHashes(docs, "doc_id", "text", 8)
          .localCheckpoint(true)
        val probeGrams = grams
          .filter(col("doc_id") % 100 === 0 && col("gram_hash").isNotNull)
        val bytes = graft.operators.Dedup
          .buildContaminationBloomFromHashes(probeGrams, "gram_hash")
        val flags = graft.operators.Dedup
          .contaminationFlagsFromGrams(grams, bytes, "doc_id")
        val probeHashes = probeGrams.select(col("gram_hash")).distinct()
        // broadcast the distinct probe-gram hashes (1% of docs' grams): the semi
        // join then filters the full doc-gram stream map-side instead of
        // shuffling every gram hash — only the post-filter per-doc counts (a few
        // rows per contaminated doc) reach an exchange. Oracle scaffolding, so
        // the probe-side size is bounded by the test SFs, not production corpora.
        val exact = grams.filter(col("gram_hash").isNotNull)
          .join(broadcast(probeHashes), Seq("gram_hash"), "leftsemi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("_exact"))
        flags.join(exact, Seq("doc_id"), "left")
          .agg(count(lit(1)).as("n_docs"),
            coalesce(sum(when(col("doc_id") % 100 === 0 && col("grams_total") > 0, 1L)
              .otherwise(0L)), lit(0L)).as("n_probe"),
            coalesce(bool_and(when(col("doc_id") % 100 === 0 && col("grams_total") > 0,
              col("flagged_frac") === 1.0)), lit(true)).as("planted_all_flagged"),
            coalesce(bool_and(col("grams_flagged") >= coalesce(col("_exact"), lit(0L))),
              lit(true)).as("all_supersets"))
      },
      Some("""WITH d AS (SELECT doc_id, text,
             |   len(@TOKENS(text)@) AS nt
             |   FROM documents WHERE doc_id IS NOT NULL)
             | SELECT count(*) AS n_docs,
             | CAST(coalesce(sum(CASE WHEN doc_id % 100 = 0 AND coalesce(nt, 0) > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_probe,
             | TRUE AS planted_all_flagged, TRUE AS all_supersets
             | FROM d""".stripMargin.replaceAll("\n", " "))),

    // Per-doc gram-hash materialization (the shared frame the contamination
    // family reuses instead of re-tokenizing per consumer): per-doc counts
    // replayed in DuckDB through the SAME @TOKENS@ segmentation + k-gram
    // reconstruction. The hash FORMULA is golden-pinned in PipelineOpsSpec;
    // this oracle pins the SHAPE — doc coverage, per-doc distinct-gram counts,
    // the whole-doc fallback under k tokens, tokenless placeholder rows.
    QueryDef("gram_hashes_documents",
      (s, d) => graft.operators.Dedup.docGramHashes(
          t(s, d, "documents").filter(col("doc_id").isNotNull), "doc_id", "text", 8)
        .groupBy(col("doc_id")).agg(count(col("gram_hash")).as("n_grams"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("n_grams")), lit(0L)).as("grams_total"),
          coalesce(sum(when(col("n_grams") === 0, 1L).otherwise(0L)), lit(0L))
            .as("tokenless_docs"),
          coalesce(max(col("n_grams")), lit(0L)).as("max_doc_grams")),
      Some("""WITH tok AS (SELECT doc_id, @TOKENS(text)@ AS t FROM documents WHERE doc_id IS NOT NULL),
             | tn AS (SELECT doc_id, t, coalesce(len(t), 0) AS n FROM tok),
             | grams AS (SELECT doc_id, array_to_string(t[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' ') AS g
             |   FROM tn, unnest(range(0, n - 8 + 1)) AS r(i) WHERE n >= 8),
             | gcnt AS (SELECT doc_id, count(DISTINCT g) AS ng FROM grams GROUP BY 1),
             | per AS (SELECT tn.doc_id,
             |   CASE WHEN n = 0 THEN 0 WHEN n < 8 THEN 1 ELSE coalesce(gcnt.ng, 0) END AS n_grams
             |   FROM tn LEFT JOIN gcnt ON tn.doc_id = gcnt.doc_id)
             | SELECT count(*) AS n_docs, CAST(coalesce(sum(n_grams), 0) AS BIGINT) AS grams_total,
             | CAST(coalesce(sum(CASE WHEN n_grams = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tokenless_docs,
             | CAST(coalesce(max(n_grams), 0) AS BIGINT) AS max_doc_grams
             | FROM per""".stripMargin.replaceAll("\n", " "))),

    // The REMOVE half of the span pipeline: same planted header, every covered
    // token cut, survivors space-joined. chars_kept pins the actual rebuilt text
    // (not just counts) against DuckDB's ordered string_agg reconstruction.
    // NULL doc_ids filtered at the query (the operator would pass them through
    // verbatim; the oracle's per-doc CTEs need an identity).
    QueryDef("dedup_spans_removed_documents",
      (s, d) => graft.operators.Dedup
        .removeDuplicateSpans(
          t(s, d, "documents").filter(col("doc_id").isNotNull)
            .select(col("doc_id"),
              concat(lit("shared header alpha beta gamma delta epsilon zeta eta theta "),
                col("text")).as("text")),
          "doc_id", "text", k = 8)
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("tokens_total")), lit(0L)).as("tokens_total"),
          coalesce(sum(col("tokens_removed")), lit(0L)).as("tokens_removed"),
          coalesce(sum(length(col("text")).cast("long")), lit(0L)).as("chars_kept")),
      Some("""WITH base AS (SELECT doc_id,
             |   'shared header alpha beta gamma delta epsilon zeta eta theta ' || text AS text
             |   FROM documents WHERE doc_id IS NOT NULL),
             | toks AS (SELECT doc_id,
             |   list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x != '') AS t FROM base),
             | tn AS (SELECT doc_id, t, coalesce(len(t), 0) AS n FROM toks),
             | grams AS (SELECT doc_id, unnest(range(0, n - 8 + 1)) AS pos, t
             |   FROM tn WHERE n >= 8),
             | gs AS (SELECT doc_id, pos, array_to_string(t[CAST(pos + 1 AS INT):CAST(pos + 8 AS INT)], ' ') AS g FROM grams),
             | dupg AS (SELECT g FROM gs GROUP BY g HAVING count(*) >= 2),
             | dpos AS (SELECT doc_id, pos FROM gs WHERE g IN (SELECT g FROM dupg)),
             | cov AS (SELECT DISTINCT doc_id, pos + u AS idx FROM dpos, unnest(range(0, 8)) AS r(u)),
             | covn AS (SELECT doc_id, count(*) AS removed FROM cov GROUP BY 1),
             | tp AS (SELECT doc_id, i AS idx, t[CAST(i + 1 AS INT)] AS tok FROM tn, unnest(range(0, n)) AS r(i)),
             | kept AS (SELECT tp.doc_id, tp.idx, tp.tok FROM tp
             |   LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.idx = cov.idx
             |   WHERE cov.idx IS NULL),
             | cleaned AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS ctext FROM kept GROUP BY 1),
             | fin AS (SELECT tn.doc_id, tn.n, coalesce(cv.removed, 0) AS removed,
             |   CASE WHEN tn.t IS NULL THEN NULL ELSE coalesce(cl.ctext, '') END AS ctext
             |   FROM tn LEFT JOIN covn cv ON tn.doc_id = cv.doc_id
             |   LEFT JOIN cleaned cl ON tn.doc_id = cl.doc_id)
             | SELECT count(*) AS n_docs, CAST(coalesce(sum(n), 0) AS BIGINT) AS tokens_total,
             | CAST(coalesce(sum(removed), 0) AS BIGINT) AS tokens_removed,
             | CAST(coalesce(sum(length(ctext)), 0) AS BIGINT) AS chars_kept
             | FROM fin""".stripMargin.replaceAll("\n", " "))),

    QueryDef("dedup_spans_documents",
      (s, d) => graft.operators.Dedup
        .duplicateTokenSpans(
          t(s, d, "documents").select(col("doc_id"),
            concat(lit("shared header alpha beta gamma delta epsilon zeta eta theta "),
              col("text")).as("text")),
          "doc_id", "text", k = 8)
        .agg(
          count(lit(1)).as("n_docs"),
          coalesce(sum(when(col("span_count") > 0, 1L).otherwise(0L)), lit(0L)).as("docs_with_dups"),
          coalesce(sum(col("dup_positions")), lit(0L)).as("dup_positions"),
          coalesce(sum(col("span_count")), lit(0L)).as("span_count"),
          coalesce(sum(col("covered_tokens")), lit(0L)).as("covered_tokens"),
          coalesce(sum(col("tokens_total")), lit(0L)).as("tokens_total")),
      Some("""WITH base AS (SELECT doc_id,
             |   'shared header alpha beta gamma delta epsilon zeta eta theta ' || text AS text
             |   FROM documents WHERE doc_id IS NOT NULL),
             | toks AS (SELECT doc_id,
             |   list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x != '') AS t FROM base),
             | tn AS (SELECT doc_id, t, coalesce(len(t), 0) AS n FROM toks),
             | grams AS (SELECT doc_id, unnest(range(0, n - 8 + 1)) AS pos, t
             |   FROM tn WHERE n >= 8),
             | gs AS (SELECT doc_id, pos, array_to_string(t[CAST(pos + 1 AS INT):CAST(pos + 8 AS INT)], ' ') AS g FROM grams),
             | dupg AS (SELECT g FROM gs GROUP BY g HAVING count(*) >= 2),
             | dpos AS (SELECT doc_id, pos FROM gs WHERE g IN (SELECT g FROM dupg)),
             | w AS (SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM dpos),
             | per AS (SELECT doc_id, count(*) AS dp,
             |   sum(CASE WHEN prev IS NULL OR pos - prev >= 8 THEN 1 ELSE 0 END) AS sc,
             |   sum(CASE WHEN prev IS NULL OR pos - prev >= 8 THEN 8 ELSE pos - prev END) AS cv
             |   FROM w GROUP BY doc_id),
             | f AS (SELECT tn.doc_id, n, coalesce(dp, 0) AS dp, coalesce(sc, 0) AS sc, coalesce(cv, 0) AS cv
             |   FROM tn LEFT JOIN per ON tn.doc_id = per.doc_id)
             | SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |   CAST(coalesce(sum(CASE WHEN sc > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS docs_with_dups,
             |   CAST(coalesce(sum(dp), 0) AS BIGINT) AS dup_positions,
             |   CAST(coalesce(sum(sc), 0) AS BIGINT) AS span_count,
             |   CAST(coalesce(sum(cv), 0) AS BIGINT) AS covered_tokens,
             |   CAST(coalesce(sum(n), 0) AS BIGINT) AS tokens_total
             | FROM f""".stripMargin.replaceAll("\n", " "))),

    // Corpus vocabulary head: explode → map-side-combined counts → TakeOrdered top-k
    // with a deterministic (count desc, token asc) tie-break.
    QueryDef("vocab_topk_documents",
      (s, d) => graft.Metrics.vocabTopK(t(s, d, "documents"), "text", 20)
        .select(col("token"), col("occurrences"), round(col("share"), 6).as("share")),
      Some("""WITH tok AS (SELECT unnest(@TOKENS(text)@) AS token FROM documents),
             | c AS (SELECT token, count(*) AS occurrences FROM tok GROUP BY 1),
             | tt AS (SELECT sum(occurrences) AS tot FROM c)
             | SELECT token, occurrences, round(CAST(occurrences AS DOUBLE) / tot, 6) AS share
             | FROM c, tt ORDER BY occurrences DESC, token ASC LIMIT 20""".stripMargin.replaceAll("\n", " "))),

    // Data-mixture assembly: different quota per language, shortfall languages keep
    // all rows, unlisted languages drop. Same machinery as the quota sample at the
    // largest quota, trimmed per-stratum afterwards.
    QueryDef("mixture_sample_documents",
      (s, d) => {
        val docs = t(s, d, "documents")
          .filter(col("lang").isNotNull && col("doc_id").isNotNull)
        graft.operators.Sampling.mixtureSample(docs, "lang",
          Map("en" -> 40, "de" -> 20, "fr" -> 10), Seq("doc_id"), salt = 4)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_sampled"),
            min(col("doc_id")).as("min_id"),
            max(col("doc_id")).as("max_id"))
      },
      Some("""WITH r AS (SELECT lang, doc_id,
             |   row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
             |   FROM documents WHERE lang IS NOT NULL AND doc_id IS NOT NULL AND lang IN ('en','de','fr'))
             | SELECT lang, count(*) AS n_sampled, min(doc_id) AS min_id, max(doc_id) AS max_id
             | FROM r WHERE rn <= (CASE lang WHEN 'en' THEN 40 WHEN 'de' THEN 20 ELSE 10 END)
             | GROUP BY 1""".stripMargin.replaceAll("\n", " "))),

    // Token-budget shard packing through the distributed prefix-sum (range-repartition
    // + per-partition running sum + boundary-offset fold — no global window). All
    // integer arithmetic end to end, so the per-shard rollup is bit-exact.
    QueryDef("shard_packing_documents",
      (s, d) => {
        val docs = t(s, d, "documents").filter(col("doc_id").isNotNull)
          .select(col("doc_id"),
            coalesce(TextFunctions.tokenCount(col("text")).cast("long"), lit(0L)).as("toks"))
        graft.operators.Sharding.packIntoShards(docs, "doc_id", "toks", budget = 2000L)
          .groupBy(col("shard_id"))
          .agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("toks")), lit(0L)).as("shard_tokens"))
      },
      Some("""WITH dd AS (SELECT doc_id, coalesce(len(@TOKENS(text)@), 0) AS toks FROM documents WHERE doc_id IS NOT NULL),
             | c AS (SELECT doc_id, toks, coalesce(sum(toks) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl FROM dd)
             | SELECT CAST(excl // 2000 AS BIGINT) AS shard_id, count(*) AS n_docs,
             | CAST(coalesce(sum(toks), 0) AS BIGINT) AS shard_tokens
             | FROM c GROUP BY 1""".stripMargin.replaceAll("\n", " "))),

    // End-to-end redaction: chained codegen'd regexp_replace, then residual-PII and
    // length accounting over the redacted corpus.
    QueryDef("pii_redaction_customer",
      (s, d) => {
        import graft.operators.Pii
        // ONE lazy plan carrying pre- and post-redaction columns side by side: both
        // length sums come from the same scan, and building the query runs no job
        // (every QueryDef.run is a plan builder, not an executor).
        t(s, d, "customer")
          .select(piiSyntheticText.as("_pre"))
          .withColumn("text", Pii.redact(col("_pre")))
          .agg(
            count(lit(1)).as("n_rows"),
            coalesce(sum(when(Pii.containsPii(col("text")), 1L).otherwise(0L)), lit(0L))
              .as("residual_pii_rows"),
            coalesce(sum(length(col("_pre"))), lit(0L)).as("len_before"),
            coalesce(sum(length(col("text"))), lit(0L)).as("len_after"),
            coalesce(sum(when(col("text").contains("[EMAIL]"), 1L).otherwise(0L)), lit(0L))
              .as("rows_with_email_token"))
      },
      Some {
        val redacted = graft.operators.Pii.Defaults.foldLeft("text") { (acc, p) =>
          // Replacement strings are literal in both engines except for \N group refs
          // (absent from these tokens) — no escaping of the brackets.
          s"regexp_replace($acc, '${p.regex}', '${p.replacement}', 'g')"
        }
        val residual = graft.operators.Pii.Defaults
          .map(p => s"coalesce(len(regexp_extract_all(text, '${p.regex}')) > 0, FALSE)")
          .mkString(" OR ")
        s"""WITH pii AS (SELECT $piiSyntheticSql AS text FROM customer),
           | red AS (SELECT $redacted AS text FROM pii)
           | SELECT count(*) AS n_rows,
           | CAST(coalesce(sum(CASE WHEN $residual THEN 1 ELSE 0 END), 0) AS BIGINT) AS residual_pii_rows,
           | CAST(coalesce((SELECT sum(length(text)) FROM pii), 0) AS BIGINT) AS len_before,
           | CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS len_after,
           | CAST(coalesce(sum(CASE WHEN contains(text, '[EMAIL]') THEN 1 ELSE 0 END), 0) AS BIGINT) AS rows_with_email_token
           | FROM red""".stripMargin.replaceAll("\n", " ")
      })
  )

  /** Corpus-statistics models (operators/CorpusStats.scala): train-on-corpus /
    * score-every-doc text models. The model always trains on the FULL table; only
    * the scored OUTPUT is mod-filtered to keep result sets bounded at larger SFs.
    */
  private val tokSql =
    "@TOKENS(text)@"

  val corpusStatsDefs: Seq[QueryDef] = Seq(
    // Per-doc TF-IDF keywords: smooth idf = ln((N+1)/(df+1))+1, N counts docs with
    // non-null id AND text (whitespace-only docs included — corpus members with no
    // tokens). rank cast to long: Spark row_number is INT, DuckDB's is BIGINT.
    QueryDef("tfidf_top_terms_documents",
      (s, d) => graft.operators.CorpusStats.tfIdfTopTerms(t(s, d, "documents"), "doc_id", "text", 3)
        .filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("token"), col("tf"), col("df_docs"),
          round(col("score"), 6).as("score"), col("rank").cast("long").as("rank")),
      Some(s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS token
             |   FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
             | tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
             | dfq AS (SELECT token, count(*) AS df_docs FROM tf GROUP BY 1),
             | n AS (SELECT count(DISTINCT doc_id) AS n FROM documents
             |   WHERE doc_id IS NOT NULL AND text IS NOT NULL),
             | sc AS (SELECT tf.doc_id, tf.token, tf.tf, dfq.df_docs,
             |   CAST(tf.tf AS DOUBLE) * (ln((CAST(n.n AS DOUBLE) + 1) / (CAST(dfq.df_docs AS DOUBLE) + 1)) + 1) AS score
             |   FROM tf JOIN dfq USING (token), n),
             | rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rank FROM sc)
             | SELECT doc_id, token, tf, df_docs, round(score, 6) AS score, rank
             | FROM rk WHERE rank <= 3 AND doc_id % 7 = 0""".stripMargin.replaceAll("\n", " "))),

    // CCNet-style self-trained bigram-LM surprisal (quality filter signal): add-0.5
    // smoothing over bigram counts with left-context totals and corpus vocab size.
    QueryDef("lm_surprisal_documents",
      (s, d) => graft.operators.CorpusStats.bigramSurprisal(t(s, d, "documents"), "doc_id", "text", alpha = 0.5)
        .filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("n_bigrams"), round(col("surprisal"), 6).as("surprisal")),
      Some(s"""WITH tk AS (SELECT doc_id, $tokSql AS t
             |   FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
             | bi0 AS (SELECT doc_id, list_transform(range(1, len(t)), i -> struct_pack(w1 := t[i], w2 := t[i+1])) AS bs
             |   FROM tk WHERE len(t) >= 2),
             | bi AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (SELECT doc_id, unnest(bs) AS b FROM bi0)),
             | c AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
             | cx AS (SELECT w1, sum(c12) AS c1 FROM c GROUP BY 1),
             | v AS (SELECT count(DISTINCT token) AS v FROM (SELECT unnest($tokSql) AS token
             |   FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL)),
             | lp AS (SELECT bi.doc_id,
             |   ln((CAST(c.c12 AS DOUBLE) + 0.5) / (CAST(cx.c1 AS DOUBLE) + 0.5 * CAST(v.v AS DOUBLE))) AS lp
             |   FROM bi JOIN c USING (w1, w2) JOIN cx USING (w1), v)
             | SELECT doc_id, count(*) AS n_bigrams, round(-avg(lp), 6) AS surprisal
             | FROM lp WHERE doc_id % 7 = 0 GROUP BY 1""".stripMargin.replaceAll("\n", " "))),

    // Collocation mining: top-20 bigrams by count with PMI; unique (w1,w2) pairs make
    // the (c12 desc, w1, w2) cut deterministic in both engines.
    QueryDef("collocations_pmi_documents",
      (s, d) => graft.operators.CorpusStats.collocationsPmi(t(s, d, "documents"), "doc_id", "text",
          k = 20, minCount = 2)
        .select(col("w1"), col("w2"), col("c12"), round(col("pmi"), 6).as("pmi")),
      Some(s"""WITH tk AS (SELECT doc_id, $tokSql AS t
             |   FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
             | bi0 AS (SELECT doc_id, list_transform(range(1, len(t)), i -> struct_pack(w1 := t[i], w2 := t[i+1])) AS bs
             |   FROM tk WHERE len(t) >= 2),
             | bi AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (SELECT doc_id, unnest(bs) AS b FROM bi0)),
             | c AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
             | l AS (SELECT w1, sum(c12) AS lt FROM c GROUP BY 1),
             | r AS (SELECT w2, sum(c12) AS rt FROM c GROUP BY 1),
             | n AS (SELECT sum(c12) AS n FROM c)
             | SELECT w1, w2, c12,
             |   round(ln(CAST(c12 AS DOUBLE) * CAST(n.n AS DOUBLE) / (CAST(l.lt AS DOUBLE) * CAST(r.rt AS DOUBLE))), 6) AS pmi
             | FROM c JOIN l USING (w1) JOIN r USING (w2), n
             | WHERE c12 >= 2 ORDER BY c12 DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin.replaceAll("\n", " ")))
  )

  /** Portable affine hash mirrored as SQL — the SAME arithmetic (and the same
    * seed-derived multiplier constants, via `Splits.seedConstants`) as
    * [[graft.operators.Splits.portableUniform]], so split membership and shuffle
    * order re-derive identically in DuckDB. doc_id here is non-negative after the
    * NULL filter, but the double-mod keeps the SQL a faithful pmod.
    */
  private def portableUSql(seed: Long): String = portableUSqlOn("doc_id", seed)

  /** The [[graft.operators.Splits.portableUniform]] affine hash as DuckDB SQL over
    * an arbitrary numeric expression — same constants, same arithmetic.
    */
  private def portableUSqlOn(expr: String, seed: Long): String = {
    val p = 2147483647L
    val (a1, b1, a2, b2) = graft.operators.Splits.seedConstants(seed)
    // ($expr) parenthesized: a compound expression like "a + b" must bind as a
    // unit, not leak its last operand into the `% p`.
    s"""CAST((((((($expr) % $p) + $p) % $p
       | * $a1 + $b1) % $p * $a2 + $b2) % $p) AS DOUBLE) / $p.0""".stripMargin
      .replaceAll("\n", " ")
  }

  /** Classifier vocabulary shared by classifier_quality_documents' Spark body and
    * its oracle SQL (one literal, two consumers — desync impossible).
    */
  private val classifierWeights = Seq("fast" -> 0.8, "slow" -> -0.8, "merge" -> -1.2,
    "data" -> 0.3, "query" -> 0.5)

  val splitDefs: Seq[QueryDef] = Seq(
    // Deterministic train/valid/test carve: bin edges are the Scala-accumulated
    // cumulative doubles (0.8, 0.8+0.1, ...) embedded verbatim — re-summing in SQL
    // could move an edge by an ulp and flip a boundary key.
    QueryDef("hash_split_documents", {
      val splits = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
      (s, d) => graft.operators.Splits.hashSplit(
          t(s, d, "documents").filter(col("doc_id").isNotNull), "doc_id", splits, seed = 42)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_rows"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
    }, Some {
      val bounds = graft.operators.Splits.cumulativeBounds(
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
      s"""WITH u AS (SELECT doc_id, ${portableUSql(42)} AS u
         |   FROM documents WHERE doc_id IS NOT NULL),
         | a AS (SELECT doc_id, CASE WHEN u < ${bounds(0)} THEN 'train'
         |   WHEN u < ${bounds(1)} THEN 'valid' ELSE 'test' END AS split FROM u)
         | SELECT split, count(*) AS n_rows, min(doc_id) AS min_id, max(doc_id) AS max_id
         | FROM a GROUP BY 1""".stripMargin.replaceAll("\n", " ")
    }),

    // Leakage-safe split: all chunks of one parent document land in ONE split
    // (the eval-contamination guard). Parent = doc_id/5 with every 7th doc
    // orphaned (NULL group → splits by its own key). Both engines derive the
    // group representative (min key per group, singleton partition for orphans)
    // and run the identical affine split hash over it.
    QueryDef("leakage_safe_split_documents", {
      val splits = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
      (s, d) => {
        val base = t(s, d, "documents").filter(col("doc_id").isNotNull)
          .withColumn("parent", when(col("doc_id") % 7 === 0, lit(null).cast("long"))
            .otherwise(floor(col("doc_id") / 5)))
        graft.operators.Splits.leakageSafeSplit(base, "doc_id", "parent",
            splits, seed = 13)
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("parent")).as("n_groups"),
            min(col("doc_id")).as("min_id"))
      }
    }, Some {
      val bounds = graft.operators.Splits.cumulativeBounds(
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
      s"""WITH base AS (SELECT doc_id,
         |   CASE WHEN doc_id % 7 = 0 THEN NULL ELSE CAST(floor(doc_id / 5) AS BIGINT) END AS parent
         |   FROM documents WHERE doc_id IS NOT NULL),
         | r AS (SELECT doc_id, parent, min(doc_id) OVER (
         |   PARTITION BY parent, CASE WHEN parent IS NULL THEN doc_id END) AS rep FROM base),
         | u AS (SELECT doc_id, parent, ${portableUSqlOn("rep", 13)} AS u FROM r),
         | a AS (SELECT doc_id, parent, CASE WHEN u < ${bounds(0)} THEN 'train'
         |   WHEN u < ${bounds(1)} THEN 'valid' ELSE 'test' END AS split FROM u)
         | SELECT split, count(*) AS n_rows, CAST(count(DISTINCT parent) AS BIGINT) AS n_groups,
         | min(doc_id) AS min_id FROM a GROUP BY 1""".stripMargin.replaceAll("\n", " ")
    }),

    // Seeded global shuffle: the first 15 rows of the permutation. Membership of the
    // LIMIT proves both engines ordered identically; u is bit-identical arithmetic.
    QueryDef("deterministic_shuffle_documents",
      (s, d) => graft.operators.Splits.deterministicShuffle(
          t(s, d, "documents").filter(col("doc_id").isNotNull)
            .select(col("doc_id")), "doc_id", seed = 7)
        .limit(15)
        .select(col("doc_id"),
          round(graft.operators.Splits.portableUniform(col("doc_id"), 7), 6).as("u")),
      Some(s"""SELECT doc_id, round(u, 6) AS u FROM (
             |   SELECT doc_id, ${portableUSql(7)} AS u FROM documents WHERE doc_id IS NOT NULL)
             | ORDER BY u ASC, doc_id ASC LIMIT 15""".stripMargin.replaceAll("\n", " "))),

    // Temperature-scaled mixture weights (p_i ∝ n_i^0.5): per-language sampling
    // weight + expected epochs at a 1000-row budget. NULL lang is a real stratum.
    QueryDef("mixture_temperature_documents",
      (s, d) => graft.operators.Sampling.temperatureWeights(
          t(s, d, "documents"), "lang", alpha = 0.5, budgetRows = 1000)
        .select(col("lang"), col("n_rows"), round(col("weight"), 6).as("weight"),
          round(col("expected_epochs"), 6).as("expected_epochs")),
      Some("""WITH c AS (SELECT lang, count(*) AS n_rows FROM documents GROUP BY 1),
             | z AS (SELECT sum(power(CAST(n_rows AS DOUBLE), 0.5)) AS z FROM c)
             | SELECT lang, n_rows,
             |   round(power(CAST(n_rows AS DOUBLE), 0.5) / z, 6) AS weight,
             |   round(power(CAST(n_rows AS DOUBLE), 0.5) / z * 1000.0 / CAST(n_rows AS DOUBLE), 6) AS expected_epochs
             | FROM c, z""".stripMargin.replaceAll("\n", " "))),

    // Round-robin source interleave through the distributed per-source prefix rank
    // (range-repartition + bounded per-(partition,source) summary + streaming fold —
    // no single-task per-source window). First 20 stream positions.
    QueryDef("interleave_sources_documents",
      (s, d) => graft.operators.Sharding.interleaveBySource(
          t(s, d, "documents").filter(col("doc_id").isNotNull)
            .select(col("doc_id"), col("source")), "source", "doc_id")
        .orderBy(col("rr_rank").asc, col("source").asc_nulls_last)
        .limit(20)
        .select(col("doc_id"), col("source"), col("rr_rank")),
      Some("""WITH r AS (SELECT doc_id, source,
             |   row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rr_rank
             |   FROM documents WHERE doc_id IS NOT NULL)
             | SELECT doc_id, source, rr_rank FROM r
             | ORDER BY rr_rank ASC, source ASC LIMIT 20""".stripMargin.replaceAll("\n", " "))),

    // Hashed bag-of-words embeddings: the murmur3 kernel is not reproducible in
    // DuckDB, so the gate pins the kernel's SOUND direction only — the embedding is
    // a pure function of the token multiset, so every group of docs sharing a
    // sorted token list must share ONE embedding (max distinct embeddings per
    // group == 1, a Spark-side fact the oracle demands as a constant). The
    // CONVERSE is deliberately not asserted: L2 normalization erases multiplicity
    // scaling ("x" and "x x" embed identically) and full sign cancellation is
    // structural, so distinct multisets may legitimately collide. Group count and
    // doc count verify exactly cross-engine.
    QueryDef("hashed_embedding_documents",
      (s, d) => t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"),
          sort_array(TextFunctions.tokens(col("text"))).as("_toks"),
          TextFunctions.hashedEmbedding(col("text"), 128).as("v"))
        .filter(size(col("_toks")) > 0)
        .groupBy(col("_toks"))
        .agg(count(lit(1)).as("_docs"), countDistinct(col("v")).as("_emb"))
        .agg(coalesce(sum(col("_docs")), lit(0L)).as("n_docs"),
          count(lit(1)).as("n_multiset_groups"),
          coalesce(max(col("_emb")), lit(0L)).as("max_embeddings_per_group")),
      Some(s"""WITH tk AS (SELECT doc_id, list_sort($tokSql) AS t FROM documents
             |   WHERE doc_id IS NOT NULL AND text IS NOT NULL),
             | f AS (SELECT * FROM tk WHERE len(t) > 0),
             | g AS (SELECT t, count(*) AS docs FROM f GROUP BY 1)
             | SELECT CAST(coalesce(sum(docs), 0) AS BIGINT) AS n_docs,
             | CAST(count(*) AS BIGINT) AS n_multiset_groups,
             | CAST(coalesce(max(CASE WHEN docs >= 0 THEN 1 END), 0) AS BIGINT) AS max_embeddings_per_group
             | FROM g""".stripMargin.replaceAll("\n", " "))),

    // Semi-structured extraction: pull $.k out of the events props JSON column and
    // aggregate it — the "JSON sidecar column" pattern every event pipeline has.
    // Extraction is gated by ONE shared strict-shape regex in BOTH engines:
    // Spark's get_json_object is Jackson-LENIENT (extracts from single-quoted /
    // trailing-garbage JSON that DuckDB's json_valid rejects) and the engines'
    // TRY_CASTs disagree on non-integers (DuckDB '1.5'::BIGINT = 2, Spark NULL),
    // so parser-validity and cast leniency must never decide a row — the regex
    // does, and within its shape both JSON parsers and both casts agree exactly.
    // Hostile props (null, '{not json', '[]') fall outside the shape in both.
    QueryDef("json_extract_events",
      (s, d) => t(s, d, "events")
        .select(when(col("props").rlike("^\\{\"k\": -?\\d+\\}$"),
          get_json_object(col("props"), "$.k").try_cast("long")).as("_k"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("_k")).as("n_extracted"),
          coalesce(sum(col("_k")), lit(0L)).as("sum_k"),
          min(col("_k")).as("min_k"), max(col("_k")).as("max_k"),
          countDistinct(col("_k")).as("distinct_k")),
      Some("""WITH e AS (SELECT CASE WHEN regexp_matches(props, '^\{"k": -?\d+\}$')
             |   THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k FROM events)
             | SELECT CAST(count(*) AS BIGINT) AS n_rows,
             | CAST(count(k) AS BIGINT) AS n_extracted,
             | CAST(coalesce(sum(k), 0) AS BIGINT) AS sum_k,
             | min(k) AS min_k, max(k) AS max_k,
             | CAST(count(DISTINCT k) AS BIGINT) AS distinct_k
             | FROM e""".stripMargin.replaceAll("\n", " "))),

    // Gap-based sessionization (30-min gap per user): session counts, mean events
    // per session, longest session, singletons — the gaps-and-islands rollup
    // mirrored as LAG + running-sum windows in DuckDB. All integer micros.
    QueryDef("sessions_events",
      (s, d) => graft.operators.Sessions.sessionStats(
          t(s, d, "events"), "user_id", "ts", maxGapSeconds = 1800)
        .agg(
          count(lit(1)).as("n_sessions"),
          round(sum(col("n_events")).cast("double") / count(lit(1)).cast("double"), 6)
            .as("avg_events"),
          max(col("duration_us")).as("max_duration_us"),
          coalesce(sum(when(col("n_events") === 1, 1L).otherwise(0L)), lit(0L))
            .as("singleton_sessions")),
      Some("""WITH e AS (SELECT user_id, ts FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             | g AS (SELECT user_id, ts,
             |   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             |     OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
             |     THEN 1 ELSE 0 END AS is_new FROM e),
             | sx AS (SELECT user_id, ts, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts) AS sid FROM g),
             | st AS (SELECT user_id, sid, count(*) AS n,
             |   max(epoch_us(ts)) - min(epoch_us(ts)) AS dur FROM sx GROUP BY 1, 2)
             | SELECT CAST(count(*) AS BIGINT) AS n_sessions,
             | round(CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_events,
             | CAST(max(dur) AS BIGINT) AS max_duration_us,
             | CAST(coalesce(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS singleton_sessions
             | FROM st""".stripMargin.replaceAll("\n", " "))),

    // Robust median/MAD outlier screen over events.value (k = 3.5 MADs): immune
    // to the outliers it hunts, unlike mean/stddev z-scores. Both medians are
    // exact interpolated quantiles (the sketch+bracket operator vs quantile_cont,
    // the same parity the median/quantile queries already pin).
    QueryDef("robust_outliers_events",
      (s, d) => graft.Metrics.robustOutliers(t(s, d, "events"), "value", k = 3.5)
        .select(col("n_values"), round(col("median"), 6).as("median"),
          round(col("mad"), 6).as("mad"), col("n_outliers")),
      Some("""WITH v AS (SELECT CAST(value AS DOUBLE) AS x FROM events
             |   WHERE value IS NOT NULL AND NOT isnan(value) AND isfinite(value)),
             | m AS (SELECT quantile_cont(x, 0.5) AS med FROM v),
             | d2 AS (SELECT quantile_cont(abs(x - med), 0.5) AS mad FROM v, m)
             | SELECT CAST(count(*) AS BIGINT) AS n_values,
             | round((SELECT med FROM m), 6) AS median,
             | round((SELECT mad FROM d2), 6) AS mad,
             | CAST(coalesce(sum(CASE WHEN abs(x - (SELECT med FROM m)) > 3.5 * (SELECT mad FROM d2) THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_outliers
             | FROM v""".stripMargin.replaceAll("\n", " "))),

    // Compression-ratio kernel gate: no SQL engine can replay deflate, so the
    // oracle checks the kernel's INVARIANTS as booleans over constructed texts
    // keyed on doc_id — the ordering every compression-quality filter relies on
    // (repetitive < prose < noise), sane bounds, and cross-partition determinism
    // (docs sharing a key build IDENTICAL texts, so each key group must see
    // exactly one distinct ratio). DuckDB replays the count and asserts the
    // booleans — a kernel regression (ordering flip, nondeterministic buffer
    // reuse, ratio blow-up) now fails the three-way gate instead of hiding
    // behind a rows-only check.
    QueryDef("compression_ratio_documents",
      (s, d) => {
        val k = pmod(col("doc_id"), lit(17)).cast("string")
        val rep = repeat(concat(lit("key"), k, lit(" ")), 60)
        val prose = concat(lit("The quick brown fox jumps over the lazy dog while "),
          k, lit(" ravens watch the riverbank at dawn and the wind carries "),
          k, lit(" autumn leaves across the quiet meadow before sunrise."))
        // base64 of sha2 chains: effectively incompressible text, keyed on k
        val noise = concat((0 until 6).map(i =>
          base64(unhex(sha2(concat(lit(s"noise$i:"), k), 256)))): _*)
        t(s, d, "documents").filter(col("doc_id").isNotNull)
          .select(col("doc_id"), k.as("k"),
            TextFunctions.deflateRatio(rep).as("rr"),
            TextFunctions.deflateRatio(prose).as("rp"),
            TextFunctions.deflateRatio(noise).as("rn"))
          .groupBy(col("k"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("rn")).as("nd"),
            bool_and(col("rr") < col("rp") && col("rp") < col("rn")).as("ord"),
            bool_and(col("rr") > 0.0 && col("rn") < 1.5).as("bnd"))
          .agg(coalesce(sum(col("n")), lit(0L)).as("n_docs"),
            bool_and(col("nd") === 1).as("deterministic_ok"),
            bool_and(col("ord")).as("order_ok"),
            bool_and(col("bnd")).as("bounds_ok"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_docs,
             | CASE WHEN count(*) = 0 THEN NULL ELSE TRUE END AS deterministic_ok,
             | CASE WHEN count(*) = 0 THEN NULL ELSE TRUE END AS order_ok,
             | CASE WHEN count(*) = 0 THEN NULL ELSE TRUE END AS bounds_ok
             | FROM documents WHERE doc_id IS NOT NULL"""
        .stripMargin.replaceAll("\n", " "))),

    // Embedding-space drift: centroid shift between two deterministic halves of
    // the embeddings corpus (vec_id parity), compared by L2 / cosine / max
    // per-dimension shift. Null-element vectors excluded on both sides.
    QueryDef("embedding_shift_embeddings",
      (s, d) => {
        val v = t(s, d, "embeddings").filter(col("vec_id").isNotNull)
        graft.operators.Drift.embeddingShift(
          v.filter(col("vec_id") % 2 === 0), v.filter(col("vec_id") % 2 === 1),
          "embedding")
          .select(col("n_dims"), col("ref_only_dims"), col("cur_only_dims"),
            round(col("l2_shift"), 6).as("l2_shift"),
            round(col("centroid_cosine"), 6).as("centroid_cosine"),
            round(col("max_dim_shift"), 6).as("max_dim_shift"))
      },
      Some("""WITH v AS (SELECT vec_id, embedding FROM embeddings
             |   WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
             |     AND len(list_filter(embedding, e -> e IS NULL)) = 0),
             | r AS (SELECT generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS e FROM v WHERE vec_id % 2 = 0),
             | c AS (SELECT generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS e FROM v WHERE vec_id % 2 = 1),
             | mr AS (SELECT dim, avg(CAST(e AS DOUBLE)) AS m FROM r GROUP BY 1),
             | mc AS (SELECT dim, avg(CAST(e AS DOUBLE)) AS m FROM c GROUP BY 1),
             | j AS (SELECT mr.m IS NULL AS cur_only, mc.m IS NULL AS ref_only,
             |   coalesce(mr.m, 0.0) AS a, coalesce(mc.m, 0.0) AS b
             |   FROM mr FULL OUTER JOIN mc USING (dim))
             | SELECT CAST(count(*) AS BIGINT) AS n_dims,
             | CAST(coalesce(sum(CASE WHEN ref_only THEN 1 ELSE 0 END), 0) AS BIGINT) AS ref_only_dims,
             | CAST(coalesce(sum(CASE WHEN cur_only THEN 1 ELSE 0 END), 0) AS BIGINT) AS cur_only_dims,
             | round(sqrt(sum(power(a - b, 2.0))), 6) AS l2_shift,
             | round(sum(a * b) / (sqrt(sum(power(a, 2.0))) * sqrt(sum(power(b, 2.0)))), 6) AS centroid_cosine,
             | round(max(abs(a - b)), 6) AS max_dim_shift
             | FROM j""".stripMargin.replaceAll("\n", " "))),

    // Grouped EXACT percentiles (linear interpolation — Spark percentile() and
    // DuckDB quantile_cont share the (n-1)p convention). NaN values excluded
    // explicitly: the engines order NaN differently around the top ranks.
    QueryDef("grouped_percentiles_events",
      (s, d) => t(s, d, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull && !isnan(col("value")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90")),
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
             | round(quantile_cont(value, 0.5), 6) AS p50,
             | round(quantile_cont(value, 0.9), 6) AS p90
             | FROM events
             | WHERE event_type IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
             | GROUP BY 1""".stripMargin.replaceAll("\n", " "))),

    // Snapshot diff (corpus-version QA): both engines derive v1/v2 of orders
    // deterministically (mod-keyed deletes both ways, +1.0 price edits on %3 keys)
    // and reconcile added/removed/changed/unchanged plus per-column change counts
    // through one full-outer key join. Null-safe (<=> / IS DISTINCT FROM) compare.
    QueryDef("snapshot_diff_orders",
      (s, d) => {
        val o = t(s, d, "orders")
        val v1 = o.filter(col("o_orderkey") % 5 =!= 0)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val v2 = o.filter(col("o_orderkey") % 7 =!= 0)
          .select(col("o_orderkey"), col("o_orderstatus"),
            when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1.0)
              .otherwise(col("o_totalprice")).as("o_totalprice"))
        graft.operators.SnapshotDiff.diffSummary(v1, v2,
          Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
      },
      Some("""WITH v1 AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             |   WHERE o_orderkey IS NOT NULL AND o_orderkey % 5 != 0),
             | v2 AS (SELECT o_orderkey, o_orderstatus,
             |   CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
             |   FROM orders WHERE o_orderkey IS NOT NULL AND o_orderkey % 7 != 0),
             | j AS (SELECT v1.o_orderkey IS NOT NULL AS in_old, v2.o_orderkey IS NOT NULL AS in_new,
             |   (v1.o_orderstatus IS DISTINCT FROM v2.o_orderstatus) AS chg_status,
             |   (v1.o_totalprice IS DISTINCT FROM v2.o_totalprice) AS chg_price
             |   FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey)
             | SELECT
             | CAST(coalesce(sum(CASE WHEN NOT in_old THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_added,
             | CAST(coalesce(sum(CASE WHEN NOT in_new THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_removed,
             | CAST(coalesce(sum(CASE WHEN in_old AND in_new AND (chg_status OR chg_price) THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_changed,
             | CAST(coalesce(sum(CASE WHEN in_old AND in_new AND NOT (chg_status OR chg_price) THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_unchanged,
             | CAST(coalesce(sum(CASE WHEN in_old AND in_new AND chg_status THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_changed_o_orderstatus,
             | CAST(coalesce(sum(CASE WHEN in_old AND in_new AND chg_price THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_changed_o_totalprice
             | FROM j""".stripMargin.replaceAll("\n", " "))),

    // Int8 quantization fidelity over the embeddings corpus: the 4x-compression
    // memory lever for a 100 TB ANN index, verified end to end — both engines
    // quantize (scale = max|x|/127, round to code, dequantize) and compare
    // reconstruction error + cosine fidelity. Unquantizable vectors (null /
    // null-element / zero-norm / non-finite) are excluded identically.
    QueryDef("quantization_embeddings",
      (s, d) => graft.operators.Similarity.quantizationFidelity(
          t(s, d, "embeddings").filter(col("vec_id").isNotNull), "vec_id", "embedding")
        .agg(count(lit(1)).as("n_vecs"),
          round(avg(col("max_abs_err")), 6).as("avg_max_err"),
          round(min(col("cos_fidelity")), 6).as("min_fidelity"),
          round(avg(col("cos_fidelity")), 6).as("avg_fidelity")),
      Some("""WITH v AS (SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS x
             |   FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
             |     AND len(list_filter(embedding, e -> e IS NULL)) = 0),
             | m AS (SELECT vec_id, x, list_max(list_transform(x, e -> abs(e))) AS ma FROM v),
             | f AS (SELECT vec_id, x, ma / 127.0 AS s FROM m WHERE isfinite(ma) AND ma > 0),
             | d AS (SELECT vec_id, s, x, list_transform(x, e -> round(e / s) * s) AS dq FROM f),
             | e AS (SELECT vec_id,
             |   list_max(list_transform(range(1, len(x) + 1), i -> abs(x[CAST(i AS INT)] - dq[CAST(i AS INT)]))) AS max_err,
             |   list_sum(list_transform(range(1, len(x) + 1), i -> x[CAST(i AS INT)] * dq[CAST(i AS INT)])) /
             |     (sqrt(list_sum(list_transform(x, e2 -> e2 * e2))) * sqrt(list_sum(list_transform(dq, e2 -> e2 * e2)))) AS fid
             |   FROM d)
             | SELECT count(*) AS n_vecs, round(avg(max_err), 6) AS avg_max_err,
             |   round(min(fid), 6) AS min_fidelity, round(avg(fid), 6) AS avg_fidelity
             | FROM e""".stripMargin.replaceAll("\n", " "))),

    // Shallow linear quality classifier over an explicit vocabulary, scored row-local
    // (zero shuffles). NULL-text rows excluded: the operator scores them NULL while
    // DuckDB's coalesce(list_sum(NULL),0) would invent the prior. ONE weights
    // literal feeds BOTH engines — editing a weight cannot desync them.
    QueryDef("classifier_quality_documents",
      (s, d) => t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull && col("doc_id") % 7 === 0)
        .select(col("doc_id"),
          round(TextFunctions.linearScore(col("text"), classifierWeights.toMap, bias = -0.2), 6)
            .as("score")),
      Some {
        val cases = classifierWeights
          .map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ")
        s"""SELECT doc_id, round(1.0 / (1.0 + exp(-(-0.2 +
           |   coalesce(list_sum(list_transform($tokSql, x -> CASE x $cases ELSE 0.0 END)), 0.0)))), 6) AS score
           | FROM documents
           | WHERE doc_id IS NOT NULL AND text IS NOT NULL AND doc_id % 7 = 0""".stripMargin
          .replaceAll("\n", " ")
      }),

    // As-of (point-in-time) join: every event enriched with the most recent
    // "snapshot" (every-10th event per user, deduped to unique instants) — the
    // union+window carry plan vs DuckDB's native ASOF LEFT JOIN. NULL-key rows
    // excluded on BOTH engines: SQL equi-keys never match on NULL, while a window
    // partition groups NULLs together (documented operator semantics). NULL left
    // TIMES also excluded on both: DuckDB's ASOF operator sorts NULL times last
    // and matches them to the final right row, where this operator (like pandas
    // merge_asof) never matches a timeless row — the operator's semantics are
    // spec-pinned; the oracle compares the shared domain.
    QueryDef("asof_join_events",
      (s, d) => {
        val ev = t(s, d, "events").filter(col("user_id").isNotNull)
        val left = ev.filter(col("event_id").isNotNull && col("ts").isNotNull)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("t_us"), col("value"))
        val right = ev
          .filter(col("event_id").isNotNull && col("ts").isNotNull &&
            col("event_id") % 10 === 0)
          .groupBy(col("user_id"), unix_micros(col("ts")).as("rt_us"))
          .agg(max(col("value")).as("snap_value"))
        graft.operators.AsOf.asofJoin(left, right, Seq("user_id"), "t_us", "rt_us",
            Seq("snap_value"), matchedTimeCol = Some("mt_us"))
          .agg(
            count(lit(1)).as("n_rows"),
            sum(when(col("mt_us").isNotNull, 1L).otherwise(0L)).cast("bigint")
              .as("n_matched"),
            round(sum(col("snap_value")), 2).as("sum_snap"),
            sum(col("t_us") - col("mt_us")).cast("bigint").as("staleness_us"))
      },
      Some("""WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS t_us, value FROM events
             |   WHERE user_id IS NOT NULL AND event_id IS NOT NULL AND ts IS NOT NULL),
             | r AS (SELECT user_id, epoch_us(ts) AS rt_us, max(value) AS snap_value FROM events
             |   WHERE user_id IS NOT NULL AND event_id IS NOT NULL AND ts IS NOT NULL
             |     AND event_id % 10 = 0 GROUP BY 1, 2)
             | SELECT CAST(count(*) AS BIGINT) AS n_rows,
             | CAST(sum(CASE WHEN rt_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
             | round(sum(snap_value), 2) AS sum_snap,
             | CAST(sum(t_us - rt_us) AS BIGINT) AS staleness_us
             | FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.t_us >= r.rt_us"""
        .stripMargin.replaceAll("\n", " "))),

    // Range (interval-containment) join: every event inside any user's first-hour
    // window — the bin-bucketed equi-join plan (shuffle-linear) vs DuckDB's native
    // inequality join. Aggregated so output size stays bounded at any SF.
    QueryDef("range_join_events",
      (s, d) => {
        val ev = t(s, d, "events")
        val pts = ev.filter(col("ts").isNotNull && col("event_id").isNotNull)
          .select(col("event_id"), unix_micros(col("ts")).as("x"))
        val ivs = ev.filter(col("ts").isNotNull && col("user_id").isNotNull)
          .groupBy(col("user_id"))
          .agg(min(unix_micros(col("ts"))).as("s"))
          .withColumn("e", col("s") + lit(3600L * 1000000L))
        // Auto width: the interval-length median IS the 1 h window here, so this
        // exercises the data-derived binWidth path while planning the same join a
        // hand-tuned width would (results are width-invariant either way).
        graft.operators.Joins.rangeJoinAuto(pts, ivs, "x", "s", "e")
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("user_id")).as("n_intervals_hit"),
            sum(col("x") - col("s")).cast("bigint").as("sum_offset_us"))
      },
      Some("""WITH p AS (SELECT event_id, epoch_us(ts) AS x FROM events
             |   WHERE ts IS NOT NULL AND event_id IS NOT NULL),
             | iv AS (SELECT user_id, min(epoch_us(ts)) AS s, min(epoch_us(ts)) + 3600000000 AS e
             |   FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL GROUP BY 1)
             | SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             | CAST(count(DISTINCT user_id) AS BIGINT) AS n_intervals_hit,
             | CAST(sum(x - s) AS BIGINT) AS sum_offset_us
             | FROM p JOIN iv ON p.x >= iv.s AND p.x <= iv.e"""
        .stripMargin.replaceAll("\n", " "))),

    // Fuzzy self-match: all distinct customer-name pairs within 1 edit, via
    // symmetric-delete blocking + exact verify — DuckDB replays it as the literal
    // quadratic all-pairs compare (fine at sf, dead at scale; that asymmetry IS the
    // operator's point). ASCII gate in BOTH engines: Spark levenshtein counts code
    // points, DuckDB counts bytes — they only agree on ASCII, so the oracle
    // contract pins the key domain (the operator itself is code-point general).
    QueryDef("fuzzy_pairs_customer",
      (s, d) => {
        val cust = t(s, d, "customer")
          .filter(col("c_name").isNotNull && col("c_name").rlike("^[ -~]*$"))
        graft.operators.Joins.fuzzyKeyPairs(cust, "c_name", maxDist = 1)
          .select(col("key_a"), col("key_b"), col("edit_distance").cast("long").as("edit_distance"))
      },
      Some("""WITH k AS (SELECT DISTINCT c_name AS n FROM customer
             |   WHERE c_name IS NOT NULL AND regexp_full_match(c_name, '[ -~]*'))
             | SELECT a.n AS key_a, b.n AS key_b, levenshtein(a.n, b.n) AS edit_distance
             | FROM k a JOIN k b ON a.n < b.n AND levenshtein(a.n, b.n) <= 1"""
        .stripMargin.replaceAll("\n", " "))),

    // Record linkage: deterministically mangled probe names (5th char deleted)
    // linked back to the customer table through the fuzzy join — each probe must
    // find exactly its original row at edit distance 1.
    QueryDef("fuzzy_join_customer",
      (s, d) => {
        val cust = t(s, d, "customer")
          .filter(col("c_name").isNotNull && col("c_name").rlike("^[ -~]*$"))
        val probes = cust.filter(col("c_custkey") % 97 === 0)
          .select(col("c_custkey").as("probe_id"),
            concat(substring(col("c_name"), 1, 4), expr("substring(c_name, 6)"))
              .as("probe_name"))
        val corpus = cust.select(col("c_custkey").as("cust_id"), col("c_name").as("cust_name"))
        graft.operators.Joins.editDistanceJoin(probes, corpus, "probe_name", "cust_name",
            maxDist = 1)
          .select(col("probe_id"), col("cust_id"),
            col("edit_distance").cast("long").as("edit_distance"))
      },
      Some("""WITH f AS (SELECT c_custkey, c_name FROM customer
             |   WHERE c_name IS NOT NULL AND regexp_full_match(c_name, '[ -~]*')),
             | p AS (SELECT c_custkey AS probe_id, substr(c_name, 1, 4) || substr(c_name, 6) AS probe_name
             |   FROM f WHERE c_custkey % 97 = 0),
             | k AS (SELECT c_custkey AS cust_id, c_name AS cust_name FROM f)
             | SELECT probe_id, cust_id, levenshtein(probe_name, cust_name) AS edit_distance
             | FROM p JOIN k ON levenshtein(probe_name, cust_name) <= 1"""
        .stripMargin.replaceAll("\n", " "))),

    // Incremental dedup: new batch (doc_id % 3 = 0) deduped against the standing
    // corpus through a persisted (id, band, bucket) signature index — the standing
    // side never recomputes signatures. Must equal DuckDB's brute-force Jaccard
    // restricted to pairs touching the new batch (old-by-old pairs belong to
    // previous runs, by contract).
    QueryDef("incremental_dedup_documents",
      (s, d) => {
        val all = t(s, d, "documents").filter(col("doc_id").isNotNull)
        val oldDocs = all.filter(col("doc_id") % 3 =!= 0)
        val newDocs = all.filter(col("doc_id") % 3 === 0)
        val index = Dedup.minhashIndex(oldDocs, "doc_id", "text")
        Dedup.incrementalNearDupPairs(newDocs, index, all, "doc_id", "text", 0.9)
          .agg(count(lit(1)).as("new_batch_pairs"),
            sum(when(col("id_a") % 3 === 0 && col("id_b") % 3 === 0, 1L)
              .otherwise(0L)).cast("bigint").as("within_new_pairs"))
      },
      Some("""WITH idx AS (SELECT unnest(range(1, CAST((SELECT coalesce(max(length(text)), 0) FROM documents) AS BIGINT) + 1)) AS i),
             | sh AS (SELECT doc_id, list(DISTINCT substr(text, CAST(i AS INT), 5)) AS g
             |   FROM documents JOIN idx ON i <= length(text) - 4 GROUP BY doc_id
             |   UNION ALL SELECT doc_id, [text] AS g FROM documents WHERE length(text) < 5)
             | SELECT CAST(count(*) AS BIGINT) AS new_batch_pairs,
             | CAST(sum(CASE WHEN a.doc_id % 3 = 0 AND b.doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS within_new_pairs
             | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             | WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(list_distinct(a.g || b.g)) >= 0.9
             |   AND (a.doc_id % 3 = 0 OR b.doc_id % 3 = 0)""".stripMargin.replaceAll("\n", " "))),

    // Zipf-law slope of the top-500 vocabulary (ln freq on ln rank, OLS): the
    // one-number corpus-health signal — natural prose sits near −1. Both engines
    // rank the same deterministically tie-broken set and regress identically
    // (regr_slope IS covar_pop/var_pop).
    QueryDef("zipf_slope_documents",
      (s, d) => graft.operators.CorpusStats.zipfSlope(t(s, d, "documents"), "text")
        .select(col("n_ranked"), round(col("zipf_slope"), 6).as("zipf_slope")),
      Some("""WITH tok AS (SELECT unnest(@TOKENS(text)@) AS token FROM documents),
             | c AS (SELECT token, count(*) AS occ FROM tok GROUP BY 1 ORDER BY occ DESC, token ASC LIMIT 500),
             | rk AS (SELECT ln(CAST(row_number() OVER (ORDER BY occ DESC, token ASC) AS DOUBLE)) AS x,
             |   ln(CAST(occ AS DOUBLE)) AS y FROM c)
             | SELECT CAST(count(*) AS BIGINT) AS n_ranked,
             | CASE WHEN count(*) >= 2 AND var_pop(x) > 0 THEN round(regr_slope(y, x), 6) END AS zipf_slope
             | FROM rk""".stripMargin.replaceAll("\n", " "))),

    // Pairwise source vocabulary-Jaccard matrix (mixture similarity diagnostic):
    // every overlapping source pair with shared-token count and Jaccard. Both
    // engines tokenize identically (the vocab_topk-pinned whitespace classes).
    QueryDef("source_overlap_documents",
      (s, d) => graft.operators.CorpusStats.sourceVocabOverlap(
          t(s, d, "documents"), "text", "source")
        .select(col("source_a"), col("source_b"), col("shared_tokens"),
          round(col("vocab_jaccard"), 6).as("vocab_jaccard")),
      Some("""WITH tk AS (SELECT source AS src, unnest(@TOKENS(text)@) AS tok
             |   FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
             | tok AS (SELECT DISTINCT src, tok FROM tk),
             | sz AS (SELECT src, count(*) AS n FROM tok GROUP BY 1),
             | inter AS (SELECT a.src AS source_a, b.src AS source_b, CAST(count(*) AS BIGINT) AS shared_tokens
             |   FROM tok a JOIN tok b ON a.tok = b.tok AND a.src < b.src GROUP BY 1, 2)
             | SELECT source_a, source_b, shared_tokens,
             | round(CAST(shared_tokens AS DOUBLE) / (sa.n + sb.n - shared_tokens), 6) AS vocab_jaccard
             | FROM inter JOIN sz sa ON inter.source_a = sa.src
             | JOIN sz sb ON inter.source_b = sb.src""".stripMargin.replaceAll("\n", " "))),

    // One-call corpus DATA CARD: volume / quality / composition in a single row,
    // every statistic recomposed from its individually-proven DuckDB formulation
    // (token counts, quality+Gopher CTEs, entropy formula, quantile_cont median).
    QueryDef("corpus_report_documents",
      (s, d) => graft.operators.CorpusStats.corpusReport(t(s, d, "documents"))
        .select(col("n_docs"), col("n_null_text"), col("tokens_total"),
          round(col("tokens_mean"), 6).as("tokens_mean"),
          round(col("tokens_p50"), 6).as("tokens_p50"),
          round(col("quality_mean"), 6).as("quality_mean"),
          round(col("gopher_keep_frac"), 6).as("gopher_keep_frac"),
          col("n_langs"), round(col("lang_entropy"), 6).as("lang_entropy"),
          col("n_sources"), round(col("top_source_share"), 6).as("top_source_share")),
      Some("""WITH nt AS (SELECT text, @TOKENS(text)@ AS tk,
             |   len(@TOKENS(text)@) AS w FROM documents),
             | m AS (SELECT count(*) AS n_docs,
             |   CAST(coalesce(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_null_text,
             |   CAST(coalesce(sum(w), 0) AS BIGINT) AS tokens_total,
             |   round(avg(w), 6) AS tokens_mean,
             |   round(quantile_cont(w, 0.5), 6) AS tokens_p50 FROM nt),
             | q AS (SELECT round(
             |   least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * (CASE WHEN CAST(length(text) AS DOUBLE) > 20000 THEN 0.5 ELSE 1.0 END) * 0.4
             |   + (CASE WHEN (CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END) < 0.2 THEN 1.0 ELSE 0.5 END) * 0.2
             |   + (CASE WHEN (CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[ \t\n\x0b\f\r]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END) BETWEEN 0.05 AND 0.35 THEN 1.0 ELSE 0.7 END) * 0.2
             |   + (CASE WHEN (CASE WHEN len(tk) > 0 THEN CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / CAST(len(tk) AS DOUBLE) ELSE 0.0 END) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.6 END) * 0.2
             |   , 6) AS qs FROM nt WHERE text IS NOT NULL),
             | qq AS (SELECT round(avg(qs), 6) AS quality_mean FROM q),
             | f AS (SELECT text, tk AS t,
             |   list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l != '') AS ls
             |   FROM nt WHERE text IS NOT NULL),
             | g AS (SELECT len(t) AS nw,
             |   CASE WHEN len(t) > 0 THEN CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t) ELSE 0.0 END AS mwl,
             |   len(regexp_extract_all(text, '#|\.{3}|…')) AS nsym, len(ls) AS nl,
             |   len(list_filter(ls, l -> regexp_matches(l, '^[•‣▪*-]'))) AS nbul,
             |   len(list_filter(ls, l -> regexp_matches(l, '(\.{3}|…)$'))) AS nell,
             |   len(list_filter(t, x -> regexp_matches(x, '\p{L}'))) AS nalpha,
             |   len(list_filter(t, x -> regexp_matches(x, '(?i)^(the|be|to|of|and|that|have|with)$'))) AS nstop
             |   FROM f),
             | kk AS (SELECT round(avg(CASE WHEN
             |   (nw >= 50 AND nw <= 100000) AND (nw > 0 AND mwl >= 3.0 AND mwl <= 10.0)
             |   AND (nw > 0 AND CAST(nsym AS DOUBLE) <= 0.1 * CAST(nw AS DOUBLE))
             |   AND (nl = 0 OR CAST(nbul AS DOUBLE) <= 0.9 * CAST(nl AS DOUBLE))
             |   AND (nl = 0 OR CAST(nell AS DOUBLE) <= 0.3 * CAST(nl AS DOUBLE))
             |   AND (nw > 0 AND CAST(nalpha AS DOUBLE) >= 0.8 * CAST(nw AS DOUBLE))
             |   AND nstop >= 2 THEN 1.0 ELSE 0.0 END), 6) AS gopher_keep_frac FROM g),
             | lc AS (SELECT count(*) AS n_langs, sum(c) AS n, sum(c * ln(c)) AS s
             |   FROM (SELECT count(*) AS c FROM documents WHERE lang IS NOT NULL GROUP BY lang)),
             | le AS (SELECT CAST(n_langs AS BIGINT) AS n_langs,
             |   round(CASE WHEN n > 0 THEN ln(n) - s / n END, 6) AS lang_entropy FROM lc),
             | sc AS (SELECT count(*) AS n_sources, max(c) AS topc, sum(c) AS tot
             |   FROM (SELECT count(*) AS c FROM documents WHERE source IS NOT NULL GROUP BY source)),
             | se AS (SELECT CAST(n_sources AS BIGINT) AS n_sources,
             |   round(CASE WHEN tot > 0 THEN CAST(topc AS DOUBLE) / tot END, 6) AS top_source_share FROM sc)
             | SELECT m.n_docs, m.n_null_text, m.tokens_total, m.tokens_mean, m.tokens_p50,
             | qq.quality_mean, kk.gopher_keep_frac, le.n_langs, le.lang_entropy,
             | se.n_sources, se.top_source_share
             | FROM m, qq, kk, le, se""".stripMargin.replaceAll("\n", " "))),

    // Sketch-based source overlap matrix gated against the exact operator: the
    // FULL pairwise matrix (zero-overlap pairs at shared 0), per-pair estimate
    // within max(10%, 10) of the exact shared count — below 2^14 distinct tokens
    // per source the sketches are in exact mode and the booleans are deterministic.
    // The DuckDB side replays the exact matrix over all token-bearing sources.
    QueryDef("theta_source_overlap_documents",
      (s, d) => {
        val docs = t(s, d, "documents")
        val sk = graft.operators.CorpusStats.sourceVocabOverlapSketch(docs, "text", "source")
        val ex = graft.operators.CorpusStats.sourceVocabOverlap(docs, "text", "source")
          .select(col("source_a"), col("source_b"), col("shared_tokens"))
        sk.join(ex, Seq("source_a", "source_b"), "left")
          .select(col("source_a"), col("source_b"),
            coalesce(col("shared_tokens"), lit(0L)).as("shared_tokens"),
            (abs(col("shared_est") - coalesce(col("shared_tokens"), lit(0L))) <=
              greatest(coalesce(col("shared_tokens"), lit(0L)) * lit(0.1), lit(10.0)))
              .as("shared_ok"))
      },
      Some("""WITH tk AS (SELECT source AS src, unnest(@TOKENS(text)@) AS tok
             |   FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
             | tok AS (SELECT DISTINCT src, tok FROM tk),
             | srcs AS (SELECT DISTINCT src FROM tok),
             | pairs AS (SELECT a.src AS source_a, b.src AS source_b FROM srcs a JOIN srcs b ON a.src < b.src),
             | inter AS (SELECT a.src AS source_a, b.src AS source_b, CAST(count(*) AS BIGINT) AS shared_tokens
             |   FROM tok a JOIN tok b ON a.tok = b.tok AND a.src < b.src GROUP BY 1, 2)
             | SELECT p.source_a, p.source_b, coalesce(i.shared_tokens, 0) AS shared_tokens, TRUE AS shared_ok
             | FROM pairs p LEFT JOIN inter i ON p.source_a = i.source_a AND p.source_b = i.source_b"""
        .stripMargin.replaceAll("\n", " "))),

    // Per-event-type robust outlier screen: exact per-group median/MAD (percentile
    // window == quantile_cont, the parity grouped_percentiles pins) + beyond-k-MAD
    // counts. NULL event_type is a real group on both engines.
    QueryDef("robust_outliers_by_type_events",
      (s, d) => graft.Metrics.robustOutliersByGroup(t(s, d, "events"), "event_type",
          "value", k = 3.5)
        .select(col("event_type"), col("n_values"), round(col("median"), 6).as("median"),
          round(col("mad"), 6).as("mad"), col("n_outliers")),
      Some("""WITH v AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x FROM events
             |   WHERE value IS NOT NULL AND NOT isnan(value) AND isfinite(CAST(value AS DOUBLE))),
             | m AS (SELECT g, quantile_cont(x, 0.5) AS med FROM v GROUP BY g),
             | dv AS (SELECT v.g, v.x, m.med, abs(v.x - m.med) AS dev
             |   FROM v JOIN m ON v.g IS NOT DISTINCT FROM m.g),
             | md AS (SELECT g, quantile_cont(dev, 0.5) AS mad FROM dv GROUP BY g)
             | SELECT dv.g AS event_type, CAST(count(*) AS BIGINT) AS n_values,
             | round(min(dv.med), 6) AS median, round(min(md.mad), 6) AS mad,
             | CAST(coalesce(sum(CASE WHEN dv.dev > 3.5 * md.mad THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_outliers
             | FROM dv JOIN md ON dv.g IS NOT DISTINCT FROM md.g
             | GROUP BY dv.g""".stripMargin.replaceAll("\n", " "))),

    // Winsorization screen over events.value at [p05, p95]: exact clip bounds from
    // the distributed sketch+bracket quantile operator, tail clip counts, and the
    // post-clip mean — all replayed with quantile_cont in DuckDB. Exact boundary
    // compares are safe: an interpolated quantile only coincides with a sample
    // value when the bracket ties, and then both engines hold the identical value.
    QueryDef("winsorize_events",
      (s, d) => graft.Metrics.winsorizeStats(t(s, d, "events"), "value", 0.05, 0.95)
        .select(col("n_values"), round(col("q_lo"), 6).as("q_lo"),
          round(col("q_hi"), 6).as("q_hi"), col("n_clipped_lo"),
          col("n_clipped_hi"), round(col("mean_clipped"), 6).as("mean_clipped")),
      Some("""WITH v AS (SELECT CAST(value AS DOUBLE) AS x FROM events
             |   WHERE value IS NOT NULL AND NOT isnan(value) AND isfinite(CAST(value AS DOUBLE))),
             | q AS (SELECT quantile_cont(x, 0.05) AS ql, quantile_cont(x, 0.95) AS qh FROM v)
             | SELECT CAST(count(*) AS BIGINT) AS n_values,
             | round((SELECT ql FROM q), 6) AS q_lo,
             | round((SELECT qh FROM q), 6) AS q_hi,
             | CAST(coalesce(sum(CASE WHEN x < (SELECT ql FROM q) THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_clipped_lo,
             | CAST(coalesce(sum(CASE WHEN x > (SELECT qh FROM q) THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_clipped_hi,
             | round(avg(greatest(least(x, (SELECT qh FROM q)), (SELECT ql FROM q))), 6) AS mean_clipped
             | FROM v""".stripMargin.replaceAll("\n", " ")))
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (defs ++ llmDefs ++ sqlSurfaceDefs ++ pipelineDefs ++ corpusStatsDefs ++ splitDefs).map(q => q.name -> q.run).toMap

  /** `@TOKENS(expr)@` inside an oracle expands to the DuckDB replay of the
    * MATCHING tokenizer ([[graft.functions.SegmentKernel.segTokensSql]]): the
    * segmented token LIST (whitespace words + CJK bigrams). Keeps the 20-odd
    * tokenizing oracles readable while the segmentation SQL lives in ONE place
    * next to the kernel it mirrors. Splitting-tokenizer queries (chunking, span
    * family) keep the plain `string_split_regex` idiom on purpose.
    */
  private val TokensMacro = "@TOKENS\\(([^@]*)\\)@".r
  private def expandOracleMacros(sql: String): String =
    TokensMacro.replaceAllIn(sql, m => scala.util.matching.Regex
      .quoteReplacement(graft.functions.SegmentKernel.segTokensSql(m.group(1))))

  def oracleSql: Map[String, String] =
    (defs ++ llmDefs ++ sqlSurfaceDefs ++ pipelineDefs ++ corpusStatsDefs ++ splitDefs).flatMap(q => q.oracle.map(q.name -> expandOracleMacros(_))).toMap

  /** Compute-bound CPU-scaling proof arm (bench-only; round-14 verdict item 2 —
    * NOT a declared oracle query). Every reported bench arm at sf0.1 is
    * exchange-latency/overhead-bound, so the driver's low-core bench run could
    * not observe the `local[$SPARK_GRAFT_CPUS]` contract from the artifact
    * (`suspect_cpus_ignored` false positive in PERF_r14). This arm IS
    * compute-bound by construction: the minhash signature kernel — the sf10
    * ngram hot loop, O(len·128) per row — over every sf0.1 document, replicated
    * 128x row-locally AFTER a round-robin spread to the session parallelism, into
    * a single-row order-insensitive checksum. Wall time tracks available cores;
    * the checksum is recomputed from the parquet input on every invocation
    * (nothing cached or precomputed).
    */
  def cpuScalingKernelArm(s: SparkSession, d: String): DataFrame = {
    // 1 partition/core: a 4x-finer round-robin split was A/B'd for tail-leveling
    // (guide §2.6) and measured WORSE at both core counts (32c 2.26 -> 2.54 s,
    // 8c 4.98 -> 6.08 s min-of-3) — per-task overhead beats the tail saving on
    // this row count.
    val par = s.sparkContext.defaultParallelism
    t(s, d, "documents").filter(col("text").isNotNull && col("doc_id").isNotNull)
      .select(col("doc_id"), col("text"))
      .repartition(par)
      // 128 replicas per doc, generated INSIDE each task (explode after the
      // exchange): work scales 128x, shuffled bytes don't. Sized so the kernel
      // dominates the arm's fixed overhead (~0.6 s scan+schedule+collect at
      // sf0.1): measured 4 replicas left both core counts at the 0.6 s floor,
      // 64 replicas separated 1.51 vs 2.93 s (1.9x), 128 gives ~3x 8-vs-32-core
      // separation with the arm still under ~3 s at 32 cores.
      .select(col("text"), explode(sequence(lit(0), lit(127))).as("_r"))
      .select(graft.operators.Dedup.minhashSignature(col("text"), 6, 128)
        .as("_sig"), col("_r"))
      .agg(coalesce(expr("bit_xor(xxhash64(_sig, _r))"), lit(0L)).as("sig_check"))
  }

  /** Operator-only arms for the bench queries whose `queries()` formulation bundles
    * an EXACT verification replica alongside the approximate operator (the gated
    * `ok`-boolean oracle pattern). The full query's time overstates what a real user
    * pays — e.g. contamination_firewall's exact side is three tokenizing corpus
    * scans next to the operator's one — so Bench times each arm with the full query's
    * protocol and publishes `op_verify_sec`: operator seconds, and the full query's
    * remainder as verification seconds (so every key is also a `queries()` key).
    * Each arm is exactly the operator surface a production caller would run, with a
    * bounded driver-side result.
    */
  def operatorArms: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Bloom build + flag rollup: ONE probe scan + ONE corpus scan. The dropped
    // exact arm re-tokenizes probe AND corpus and shuffles every gram hash.
    "contamination_firewall_documents" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id").isNotNull)
      val probe = docs.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("p_id"), col("text").as("p_text"))
      val bytes = graft.operators.Dedup.buildContaminationBloom(probe, "p_text", 8)
      graft.operators.Dedup.contaminationFlagsBloom(docs, bytes, "doc_id", "text", 8)
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("grams_flagged")), lit(0L)).as("grams_flagged"),
          coalesce(sum(when(col("flagged_frac") === 1.0, 1L).otherwise(0L)), lit(0L))
            .as("fully_flagged"))
    }),
    // Bloom BLOCKING arm for the %7-split decontamination query: probe-gram Bloom
    // build + ONE corpus scan through the codegen'd might_contain rollup — the
    // near-linear stages. The remainder of the full query is the exact
    // false-positive scrub (semi-join of the Bloom-thinned corpus grams against
    // the probe gram set) + per-doc scoring — bounded by Bloom-survivor count,
    // but a blocking regression must not hide inside it (round-14: bloom became
    // the 10x-sweep worst at 9.25x with no arm to localize the cost).
    "contamination_bloom_documents" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      val probe = docs.filter(col("doc_id") % 7 === 0)
      val corpus = docs.filter(col("doc_id") % 7 =!= 0)
      val bytes = graft.operators.Dedup.buildContaminationBloom(probe, "text", 6)
      graft.operators.Dedup.contaminationFlagsBloom(corpus, bytes, "doc_id", "text", 6)
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("grams_flagged")), lit(0L)).as("grams_flagged"))
    }),
    // Per-group sketches + merged estimate — no exact count_distinct arms.
    "hll_rollup_events" -> ((s, d) => {
      val per = graft.Metrics.approxDistinctRollup(t(s, d, "events"), "event_type", "user_id")
      per.select(col("event_type"), col("approx_distinct"))
        .crossJoin(graft.Metrics.mergeSketches(per.select("hll_sketch")))
    }),
    // Theta sketches + set-op estimates — no exact token-set grouping arm.
    "theta_overlap_documents" -> ((s, d) => {
      import graft.functions.SketchFunctions._
      val toks = t(s, d, "documents").filter(col("doc_id").isNotNull)
        .select((col("doc_id") % 2 === 0).as("even"),
          explode(TextFunctions.tokens(col("text"))).as("tk"))
      toks.agg(
          thetaSketch(when(col("even"), col("tk"))).as("ska"),
          thetaSketch(when(!col("even"), col("tk"))).as("skb"))
        .select(thetaIntersectionEstimate(col("ska"), col("skb")).as("est_inter"),
          thetaUnionEstimate(col("ska"), col("skb")).as("est_union"))
    }),
    // One corpus pass into per-source sketches + pairwise set ops — no exact
    // vocab-overlap join arm.
    "theta_source_overlap_documents" -> ((s, d) =>
      graft.operators.CorpusStats.sourceVocabOverlapSketch(
        t(s, d, "documents"), "text", "source")),
    // LSH BLOCKING arm: candidate generation only. The remainder is the exact
    // n-gram-Jaccard verification of the candidates — bounded by candidate count,
    // but it re-shingles every candidate doc, so a blocking regression (the
    // scale-critical stage: band/bucket shuffles) must not hide inside it.
    "dedup_ngram_jaccard_documents" -> ((s, d) =>
      graft.operators.Dedup.minhashCandidatePairs(
          t(s, d, "documents"), "doc_id", "text",
          shingleSize = 6, numHashes = 128, bands = 32)
        .agg(count(lit(1)).as("candidate_pairs"))),
    // Verified-pair arm: everything up to the pair list. The remainder is the
    // iterative min-label propagation + cluster-size stats — graph work whose cost
    // scales with pairs, not corpus, and must be visible separately.
    "dedup_clusters_documents" -> ((s, d) =>
      graft.operators.Dedup.nearDupPairsMinhash(
          t(s, d, "documents"), "doc_id", "text", threshold = 0.9, shingleSize = 5)
        .agg(count(lit(1)).as("verified_pairs"))),
    // Operator over STORED clips — what a production caller pays. Since round 13
    // the FULL query reads the same materialized fixture (videoClipFixture) — the
    // per-row GIF-sequence encode (ImageIO writer + per-frame GCE metadata, ~6 s at
    // sf0.1) is a one-time fixture build shared by every timed pass — so the
    // remainder is only the oracle's keep-lowest/boolean replays.
    "video_dedup_documents" -> ((s, d) => {
      import graft.operators.Multimodal
      val (media, nDocs) = videoClipFixture(s, d)
      Multimodal.nearDupPairsVideo(media, "doc_id", "clip",
        maxHamming = 3, minMatchingFrames = 2,
        maxBucketSize = mediaBucketGuard(nDocs))
        .agg(count(lit(1)).as("n_pairs"))
    }),
    // Operator over STORED media bytes — what a production caller pays; same
    // shared imageFixture as the full query, so the remainder is only the
    // oracle's same-seed/hamming boolean replays.
    "image_dedup_documents" -> ((s, d) => {
      import graft.operators.Multimodal
      val (media, nDocs) = imageFixture(s, d)
      val pairs = Multimodal.nearDupPairsImage(media, "doc_id", "img",
        maxHamming = 3, maxBucketSize = mediaBucketGuard(nDocs))
        .localCheckpoint(true)
      val dropped = pairs.select(col("id_b")).distinct()
        .agg(count(lit(1)).as("_n_dropped"))
      pairs.agg(count(lit(1)).as("n_pairs"))
        .crossJoin(media.agg(count(lit(1)).as("n_imgs"))).crossJoin(dropped)
        .select(col("n_imgs"), col("n_pairs"),
          (col("n_imgs") - col("_n_dropped")).as("kept"))
    }))
}
