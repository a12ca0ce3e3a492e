package graft.analyzers

import graft.core.{Histogram, HistogramBucket, SharedScan}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column profile (reference: term-guard/src/analyzers/profiler.rs:1-250). */
final case class ColumnProfile(
    column: String,
    sparkType: String,
    completeness: Double,
    approxDistinct: Long,
    distinctness: Double,
    nullCount: Long,
    totalCount: Long,
    numeric: Option[NumericProfile],
    string: Option[StringProfile],
    histogram: Option[Histogram],
    inferredType: Option[TypeInference.Inferred])

final case class NumericProfile(
    min: Double, max: Double, mean: Double, stddev: Double,
    quantiles: Map[Double, Double])

final case class StringProfile(minLength: Int, maxLength: Int, avgLength: Double)

final case class ProfilerConfig(
    histogramMaxDistinct: Long = 100,
    quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9, 0.99),
    typeInferenceSampleRows: Int = 1000,
    // rsd for the pass-1 approx-distinct (only gates the pass-2 histogram decision and
    // the reported estimate). 0.05 = Spark's default; tightening to 0.01 quadruples the
    // HLL register file (2^14 words/column) and measured 4x slower on pass 1.
    approxDistinctRsd: Double = 0.05)

/** Three-pass profiler mirroring the reference's structure (profiler.rs:230-250), with
  * passes 1 and 3 batched across ALL columns through one [[graft.core.SharedScan]] each:
  *  1. basic stats for every column in a single aggregation;
  *  2. categorical histograms only for columns whose approx cardinality permits;
  *  3. quantiles for all numeric columns in one aggregation.
  */
final class ColumnProfiler(config: ProfilerConfig = ProfilerConfig()) {

  def profile(df: DataFrame, columns: Seq[String] = Nil): Map[String, ColumnProfile] = {
    val targets = if (columns.nonEmpty) columns else df.columns.toSeq
    val schema = df.schema.fields.map(f => f.name -> f.dataType).toMap

    def isNumeric(t: DataType) = t.isInstanceOf[NumericType]
    def isString(t: DataType) = t == StringType

    // ---- pass 1: basic stats for every column, one owner per column in a SharedScan ----
    // Every reference goes through SqlIdent: the names come from df.columns, so a
    // literal dot/backtick in a name must stay literal — a bare col("user.name")
    // parses the dot as struct-field access and aborts the whole profile.
    // Each column lists its own row count: the scan computes it once per job, and a
    // column's stats and the total they are compared against always come from one job
    // (never nonNull > total, completeness > 1.0, from two table states).
    def c0(c: String) = col(graft.core.SqlIdent(c))
    val perColAggs: Seq[Seq[(String, Column)]] = targets.map { c =>
      val t = schema(c)
      val base = Seq(
        "total" -> count(lit(1)),
        "nonNull" -> count(c0(c)),
        "approxDistinct" -> approx_count_distinct(c0(c), config.approxDistinctRsd))
      val num = if (isNumeric(t)) Seq(
        "min" -> min(c0(c)).cast("double"), "max" -> max(c0(c)).cast("double"),
        "mean" -> avg(c0(c)), "stddev" -> stddev_samp(c0(c))) else Nil
      val str = if (isString(t)) Seq(
        "minLen" -> min(length(c0(c))), "maxLen" -> max(length(c0(c))),
        "avgLen" -> avg(length(c0(c)))) else Nil
      base ++ num ++ str
    }
    def values(owners: Seq[Seq[Column]]): Seq[Seq[Any]] =
      SharedScan.run(df, owners).map(_.fold(e => throw e, identity))
    val stats: Map[String, Map[String, Any]] =
      targets.zip(perColAggs).zip(values(perColAggs.map(_.map(_._2)))).map {
        case ((c, aggs), vs) => c -> aggs.map(_._1).zip(vs).toMap
      }.toMap
    def get(c: String, what: String): Option[Any] = stats(c).get(what).filter(_ != null)
    def getD(c: String, what: String): Option[Double] =
      get(c, what).flatMap(graft.core.Num.toDouble)
    def getL(c: String, what: String): Option[Long] =
      get(c, what).flatMap(graft.core.Num.toLong)

    // ---- pass 3: quantiles for all numeric columns, one owner per column ----
    val numericCols = targets.filter(c => isNumeric(schema(c)))
    val quantileAggs = numericCols.map(c =>
      Seq(percentile_approx(c0(c), array(config.quantiles.map(lit): _*), lit(10000))))
    val quantileMap: Map[String, Map[Double, Double]] =
      numericCols.zip(values(quantileAggs)).map { case (c, vs) =>
        val arr = Option(vs.head).map(_.asInstanceOf[scala.collection.Seq[Any]]).getOrElse(Nil)
        c -> config.quantiles.zip(arr.flatMap(graft.core.Num.toDouble)).toMap
      }.toMap

    // ---- pass 2 + inference: per-column jobs, submitted CONCURRENTLY (bounded pool,
    // same rationale as ValidationSuite's multi-job constraints — each job rarely
    // saturates the cluster, and a 100-column table would otherwise serialize up to
    // ~200 driver round-trips).
    def histogramFor(c: String): Option[Histogram] = {
      val total = getL(c, "total").getOrElse(0L)
      val nonNull = getL(c, "nonNull").getOrElse(0L)
      val approxDistinct = getL(c, "approxDistinct").getOrElse(0L)
      if (approxDistinct > 0 && approxDistinct <= config.histogramMaxDistinct && nonNull > 0) {
        // The gate above uses an approx sketch (~5% rsd): a column just over the
        // threshold can slip under it. LIMIT bounds what can ever reach the driver,
        // and the post-collect cap withholds the histogram when the TRUE cardinality
        // exceeds the configured max — same contract as a correct sketch estimate.
        val rows = df.filter(c0(c).isNotNull)
          .groupBy(c0(c).cast("string").as("v")).count()
          .limit(math.min(config.histogramMaxDistinct, Int.MaxValue - 1L).toInt + 1)
          .collect()
        if (rows.length > config.histogramMaxDistinct) None
        else {
          val buckets = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
          // Ratio over NON-NULL values, matching HistogramConstraint / the reference's
          // count / (total_cnt - null_cnt). The denominator is the SAME SCAN's bucket
          // sum, not pass 1's nonNull: rows appended between the two jobs would make
          // a cross-scan ratio exceed 1.0 (the hazard pass 1 avoids within a scan).
          // Sound because the un-truncated branch collected EVERY group — the sum is
          // exactly this scan's non-null count.
          val denom = buckets.values.sum.toDouble
          Some(Histogram(
            buckets.map { case (v, n) =>
              v -> HistogramBucket(n, if (denom > 0) n / denom else 0.0) },
            total, buckets.size.toLong, total - nonNull))
        }
      } else None
    }
    val perColumn: Map[String, (Option[Histogram], Option[TypeInference.Inferred])] =
      if (targets.isEmpty) Map.empty
      else {
      // max(1, ...): newFixedThreadPool(0) throws, and a zero-column frame must
      // profile to an empty map like the old sequential code did.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, math.min(targets.size, 4)))
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val futures = targets.map { c =>
          Future(c -> (histogramFor(c),
            if (schema(c) == StringType)
              Some(TypeInference.infer(df, c, config.typeInferenceSampleRows))
            else None))
        }
        Await.result(Future.sequence(futures), scala.concurrent.duration.Duration.Inf).toMap
      } finally pool.shutdown()
      }

    targets.map { c =>
      val total = getL(c, "total").getOrElse(0L)
      val nonNull = getL(c, "nonNull").getOrElse(0L)
      val approxDistinct = getL(c, "approxDistinct").getOrElse(0L)
      val (histogram, inferred) = perColumn(c)
      c -> ColumnProfile(
        column = c,
        sparkType = schema(c).simpleString,
        // NaN, not 0.0, on a zero denominator: "every row is null" (a real 0.0) and
        // "there are no rows" are different findings, and SQL ratios are NULL there
        completeness = if (total == 0) Double.NaN else nonNull.toDouble / total,
        approxDistinct = approxDistinct,
        distinctness = if (nonNull == 0) Double.NaN else approxDistinct.toDouble / nonNull,
        nullCount = total - nonNull,
        totalCount = total,
        numeric = if (isNumeric(schema(c)))
          Some(NumericProfile(
            getD(c, "min").getOrElse(Double.NaN), getD(c, "max").getOrElse(Double.NaN),
            getD(c, "mean").getOrElse(Double.NaN), getD(c, "stddev").getOrElse(Double.NaN),
            quantileMap.getOrElse(c, Map.empty)))
        else None,
        string = if (isString(schema(c)))
          Some(StringProfile(
            getL(c, "minLen").map(_.toInt).getOrElse(0),
            getL(c, "maxLen").map(_.toInt).getOrElse(0),
            getD(c, "avgLen").getOrElse(0.0)))
        else None,
        histogram = histogram,
        inferredType = inferred)
    }.toMap
  }
}

/** Sample-based value-level type inference with confidence
  * (reference: analyzers/inference.rs:48-225).
  */
object TypeInference {
  final case class Inferred(dataType: String, confidence: Double,
      distribution: Map[String, Long])

  def infer(df: DataFrame, column: String, sampleRows: Int = 1000): Inferred = {
    // SqlIdent + a safe alias: the name comes from the schema — a literal dot must
    // not parse as struct-field access here or inside the classifier's col() call.
    val cc = col(graft.core.SqlIdent(column))
    // A true RANDOM sample, not limit(): limit takes the HEAD of the data, so a
    // column whose first rows are legacy all-numeric ids but whose tail is
    // alphanumeric would classify "integer" at 100% confidence (the reference,
    // inference.rs, is sample-based). Bottom-k by rand(seed) is a uniform reservoir
    // sample via TakeOrdered — one scan of the single column, k rows to the driver,
    // deterministic for a fixed layout.
    val sample = df.select(cc.as("_ti_v")).filter(col("_ti_v").isNotNull)
      .orderBy(rand(42L)).limit(sampleRows)
    val cls = graft.constraints.InferredType.classifier("_ti_v")
    val counts = sample.groupBy(cls.as("t")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nonNull = counts.filter(_._1 != "null").values.sum
    if (nonNull == 0) Inferred("unknown", 0.0, counts)
    else {
      // Fixed label order on count ties (maxBy keeps the FIRST max) — a HashMap maxBy
      // picks an arbitrary winner, flipping the inferred type across runs. Same
      // tiebreak as TypeConsistencyConstraint.
      val (t, n) = graft.constraints.InferredType.labels.filter(_ != "null")
        .map(l => l -> counts.getOrElse(l, 0L)).maxBy(_._2)
      Inferred(t, n.toDouble / nonNull, counts)
    }
  }
}
