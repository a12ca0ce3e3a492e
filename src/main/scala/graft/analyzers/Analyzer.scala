package graft.analyzers

import graft.core.{MetricValue, Num}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deequ-style metric analyzer with a mergeable State — the partial+final aggregation
  * pattern (reference: term-guard/src/analyzers/traits.rs:64-179).
  *
  * The state is a small set of sufficient statistics computed distributively by ONE
  * `df.agg(...)`; `merge` is the monoid combine used by the incremental runner
  * (reference: analyzers/incremental/runner.rs) to fold new-partition states into
  * history without rescanning it. At 100 TB this is the only sane shape: per-partition
  * scans are embarrassingly parallel and history is never re-read.
  */
trait AnalyzerState[S <: AnalyzerState[S]] extends Serializable {
  def merge(other: S): S
  /** Flat serializable form for the StateStore (strings keep binary sketches base64). */
  def toFields: Map[String, String]
}

trait Analyzer[S <: AnalyzerState[S]] extends Serializable {
  def name: String
  /** Metric key, e.g. "completeness.email" (reference: basic/mean.rs:163). */
  def key: String
  /** Keys this analyzer persisted state under in PREVIOUS releases. The incremental
    * runner migrates a state store from the first legacy key found to [[key]] once,
    * so key-format changes don't orphan history. Field layouts must be compatible.
    */
  def legacyKeys: Seq[String] = Nil

  /** Aggregate expressions whose collected values define the state — batched with other
    * analyzers by [[AnalysisRunner]] through [[graft.core.SharedScan]].
    */
  def stateAggregates: Seq[Column]
  def stateFromValues(values: Seq[Any]): S
  def stateFromFields(fields: Map[String, String]): S
  def metricFromState(state: S): MetricValue

  def computeState(df: DataFrame): S = {
    val row = df.agg(stateAggregates.head, stateAggregates.drop(1): _*).head()
    stateFromValues(row.toSeq)
  }
  def compute(df: DataFrame): MetricValue = metricFromState(computeState(df))

  // Untyped bridges for heterogeneous analyzer collections (type param is erased;
  // each analyzer only ever sees states it produced).
  final def metricFromAnyState(s: Any): MetricValue = metricFromState(s.asInstanceOf[S])
  final def mergeAnyStates(a: Any, b: Any): S = a.asInstanceOf[S].merge(b.asInstanceOf[S])
  final def fieldsOfAnyState(s: Any): Map[String, String] = s.asInstanceOf[S].toFields
}

// ---------- concrete states ----------

final case class LongState(n: Long) extends AnalyzerState[LongState] {
  def merge(o: LongState) = LongState(n + o.n)
  def toFields = Map("n" -> n.toString)
}

final case class RatioState(total: Long, matching: Long) extends AnalyzerState[RatioState] {
  def merge(o: RatioState) = RatioState(total + o.total, matching + o.matching)
  def toFields = Map("total" -> total.toString, "matching" -> matching.toString)
  def ratio: Option[Double] = if (total == 0) None else Some(matching.toDouble / total)
}

final case class SumState(sum: Double, count: Long) extends AnalyzerState[SumState] {
  def merge(o: SumState) = SumState(sum + o.sum, count + o.count)
  def toFields = Map("sum" -> sum.toString, "count" -> count.toString)
}

final case class MinMaxState(min: Option[Double], max: Option[Double]) extends AnalyzerState[MinMaxState] {
  def merge(o: MinMaxState) = MinMaxState(
    (min.toSeq ++ o.min.toSeq).reduceOption((a: Double, b: Double) => math.min(a, b)),
    (max.toSeq ++ o.max.toSeq).reduceOption((a: Double, b: Double) => math.max(a, b)))
  def toFields = Map("min" -> min.map(_.toString).getOrElse(""), "max" -> max.map(_.toString).getOrElse(""))
}

/** Moments for mean/variance/stddev: n, Σx, Σx²
  * (reference: analyzers/advanced/standard_deviation.rs:63-180).
  */
final case class MomentsState(n: Long, sum: Double, sumSq: Double) extends AnalyzerState[MomentsState] {
  def merge(o: MomentsState) = MomentsState(n + o.n, sum + o.sum, sumSq + o.sumSq)
  def toFields = Map("n" -> n.toString, "sum" -> sum.toString, "sumSq" -> sumSq.toString)
  def mean: Option[Double] = if (n == 0) None else Some(sum / n)
  def varianceSamp: Option[Double] =
    // Clamp: sumSq - sum²/n cancels catastrophically for large-magnitude low-variance
    // data and can come out slightly NEGATIVE, which sqrt would turn into NaN stddev.
    // (The raw-moments layout itself is reference parity: standard_deviation.rs keeps
    // count/sum/sum_sq too.)
    if (n < 2) None else Some(math.max(0.0, sumSq - sum * sum / n) / (n - 1))
  def stddevSamp: Option[Double] = varianceSamp.map(math.sqrt)
}

/** Bivariate sufficient stats: n, Σx, Σy, Σx², Σy², Σxy
  * (reference: analyzers/advanced/correlation.rs:43-252).
  */
final case class CoMomentsState(n: Long, sx: Double, sy: Double, sxx: Double, syy: Double, sxy: Double)
    extends AnalyzerState[CoMomentsState] {
  def merge(o: CoMomentsState) =
    CoMomentsState(n + o.n, sx + o.sx, sy + o.sy, sxx + o.sxx, syy + o.syy, sxy + o.sxy)
  def toFields = Map("n" -> n.toString, "sx" -> sx.toString, "sy" -> sy.toString,
    "sxx" -> sxx.toString, "syy" -> syy.toString, "sxy" -> sxy.toString)
  def correlation: Option[Double] = {
    if (n < 2) None
    else {
      val cov = sxy - sx * sy / n
      val vx = sxx - sx * sx / n
      val vy = syy - sy * sy / n
      if (vx <= 0 || vy <= 0) None else Some(cov / math.sqrt(vx * vy))
    }
  }
  def covarianceSamp: Option[Double] = if (n < 2) None else Some((sxy - sx * sy / n) / (n - 1))
}

/** Mergeable HLL++ sketch state (binary, base64 in fields). A genuine improvement over
  * the reference, whose approx-distinct state is NOT mergeable
  * (advanced/approx_count_distinct.rs:78-79).
  */
final case class HllState(sketch: Array[Byte]) extends AnalyzerState[HllState] {
  // hll_sketch_agg over an all-null (or empty) column yields NULL, so a null/empty
  // sketch IS the legitimate empty state — it must merge as the identity and estimate
  // as 0, not NPE in Base64/hll_union/hll_sketch_estimate.
  def isEmpty: Boolean = sketch == null || sketch.isEmpty
  def merge(o: HllState) =
    if (isEmpty) o else if (o.isEmpty) this else HllSketch.union(this, o)
  def toFields = Map("sketch" -> java.util.Base64.getEncoder.encodeToString(
    if (sketch == null) Array.emptyByteArray else sketch))
}
object HllSketch {
  /** Driver-local union/estimate via the DataSketches library Spark itself bundles
    * (its `hll_sketch_agg` output IS a serialized DataSketches HLL sketch). The
    * original shape ran a one-row Spark job per pairwise merge (~50-200 ms scheduler
    * round-trip each); an incremental cumulative rebuild over P partition states
    * folded P of those sequentially — minutes of pure driver overhead at the 10k-
    * partition scale the batched runner targets. heapify+union is microseconds.
    */
  def union(a: HllState, b: HllState): HllState = {
    val u = org.apache.datasketches.hll.Union.heapify(a.sketch)
    u.update(org.apache.datasketches.hll.HllSketch.heapify(b.sketch))
    HllState(u.getResult.toUpdatableByteArray)
  }
  def estimate(s: HllState): Long = if (s.isEmpty) 0L
    else Math.round(org.apache.datasketches.hll.HllSketch.heapify(s.sketch).getEstimate)
}

/** Mergeable quantile-sketch state — the reference's KLL analyzer
  * (analyzers/advanced/kll_sketch.rs) re-expressed on Spark's own Greenwald-Khanna
  * summary (`QuantileSummaries`, the sketch behind `percentile_approx`): ε-bounded
  * rank error, O(1/ε · log(εn)) space, true `merge` for incremental/partitioned runs.
  * The sketch is computed distributively by a typed [[org.apache.spark.sql.expressions.Aggregator]]
  * (partial sketches per partition, merged map-side) — not by collecting values.
  */
final case class QuantileState(sketch: org.apache.spark.sql.catalyst.util.QuantileSummaries)
    extends AnalyzerState[QuantileState] {
  def merge(o: QuantileState): QuantileState = {
    // compress BEFORE the empty check: an uncompressed summary holds pending inserts
    // in its head buffer and reports count == 0 until they are folded in
    val (a, b) = (sketch.compress(), o.sketch.compress())
    if (a.count == 0) QuantileState(b)
    else if (b.count == 0) QuantileState(a)
    else QuantileState(a.merge(b))
  }
  def toFields = Map("sketch" -> java.util.Base64.getEncoder.encodeToString(
    QuantileSketch.serialize(sketch)))
  def quantile(q: Double): Option[Double] =
    sketch.compress().query(q).map(_.asInstanceOf[Double])
}

object QuantileSketch {
  import org.apache.spark.sql.catalyst.util.QuantileSummaries

  def empty(relativeError: Double): QuantileSummaries =
    new QuantileSummaries(QuantileSummaries.defaultCompressThreshold, relativeError)

  // Versioned explicit encoding, NOT Java serialization of the catalyst-internal
  // class: QuantileSummaries has no serial-form stability guarantee, so a Spark
  // upgrade would throw InvalidClassException on every stored quantile state — and
  // that failure surfaces inside currentMetrics()/rebuildCumulative where it takes
  // down ALL analyzers' metrics, not just the quantile's. The GK summary is fully
  // described by (compressThreshold, relativeError, count, sampled (value,g,delta)
  // triples); this encoding survives upgrades and stays readable by construction.
  private val Magic = 0x47515331 // "GQS1"

  def serialize(qs: QuantileSummaries): Array[Byte] = {
    val c = qs.compress()
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(Magic)
    out.writeInt(c.compressThreshold)
    out.writeDouble(c.relativeError)
    out.writeLong(c.count)
    out.writeInt(c.sampled.length)
    c.sampled.foreach { s => out.writeDouble(s.value); out.writeLong(s.g); out.writeLong(s.delta) }
    out.flush()
    bos.toByteArray
  }
  def deserialize(bytes: Array[Byte]): QuantileSummaries = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    if (bytes.length >= 4 && in.readInt() == Magic) {
      val threshold = in.readInt()
      val err = in.readDouble()
      val count = in.readLong()
      val sampled = Array.fill(in.readInt()) {
        new QuantileSummaries.Stats(in.readDouble(), in.readLong(), in.readLong())
      }
      new QuantileSummaries(threshold, err, sampled, count, true)
    } else {
      // Legacy state written by the pre-versioned Java-serialized form.
      val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
      try ois.readObject().asInstanceOf[QuantileSummaries] finally ois.close()
    }
  }

  /** Distributed sketch-building aggregate (nulls ignored, like SQL aggregates). */
  final class Agg(relativeError: Double)
      extends org.apache.spark.sql.expressions.Aggregator[java.lang.Double, QuantileSummaries, Array[Byte]] {
    def zero: QuantileSummaries = empty(relativeError)
    def reduce(b: QuantileSummaries, a: java.lang.Double): QuantileSummaries =
      if (a == null) b else b.insert(a.doubleValue())
    def merge(x: QuantileSummaries, y: QuantileSummaries): QuantileSummaries = {
      // compress BEFORE the empty check (pending head inserts report count == 0)
      val (xc, yc) = (x.compress(), y.compress())
      if (xc.count == 0) yc else if (yc.count == 0) xc else xc.merge(yc)
    }
    def finish(b: QuantileSummaries): Array[Byte] = serialize(b)
    def bufferEncoder = org.apache.spark.sql.Encoders.javaSerialization[QuantileSummaries]
    def outputEncoder = org.apache.spark.sql.Encoders.BINARY
  }

  def aggColumn(column: String, relativeError: Double): Column =
    udaf(new Agg(relativeError), org.apache.spark.sql.Encoders.DOUBLE)
      .apply(col(column).try_cast("double"))
}

/** Mergeable frequent-items (heavy-hitters) sketch state — the Misra-Gries family
  * sketch from the DataSketches library Spark already bundles. Space-bounded top-k
  * over unbounded cardinality: the map holds `maxMapSize` counters; estimates carry
  * explicit lower/upper bounds, and are EXACT whenever the column's distinct count
  * stays under the sketch's load factor (~0.75·maxMapSize) — which the oracle gate
  * exploits. Completes the mergeable-sketch family next to HLL (distincts) and GK
  * (quantiles); the reference has no frequent-items analyzer at all.
  */
final case class FrequentItemsState(sketch: Array[Byte]) extends AnalyzerState[FrequentItemsState] {
  def isEmpty: Boolean = sketch == null || sketch.isEmpty
  def merge(o: FrequentItemsState): FrequentItemsState =
    if (isEmpty) o else if (o.isEmpty) this else FrequentItemsSketch.union(this, o)
  def toFields = Map("sketch" -> java.util.Base64.getEncoder.encodeToString(
    if (sketch == null) Array.emptyByteArray else sketch))
}

object FrequentItemsSketch {
  import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
  import org.apache.datasketches.common.ArrayOfStringsSerDe
  import org.apache.datasketches.memory.Memory

  /** Power of two (library requirement); exact top-k below ~768 distinct values. */
  val DefaultMaxMapSize = 1024

  private def serde = new ArrayOfStringsSerDe

  def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(bytes), serde)

  def union(a: FrequentItemsState, b: FrequentItemsState): FrequentItemsState = {
    val s = deserialize(a.sketch)
    s.merge(deserialize(b.sketch))
    FrequentItemsState(s.toByteArray(serde))
  }

  /** The sketch's current worst-case estimation error (0 while still exact — below
    * capacity every count is precise). Any item whose TRUE count exceeds this must
    * be returned by a NO_FALSE_NEGATIVES query: that pair of facts is the testable
    * guarantee in the approximate regime.
    */
  def maximumError(s: FrequentItemsState): Long =
    if (s.isEmpty) 0L else deserialize(s.sketch).getMaximumError

  /** Top-k (estimate desc, item asc — deterministic at equal estimates) with bounds.
    * NO_FALSE_NEGATIVES: every true heavy hitter appears; an over-threshold estimate
    * for a light item is possible only past the exactness regime.
    */
  def topK(s: FrequentItemsState, k: Int): Seq[(String, Long, Long, Long)] =
    if (s.isEmpty) Nil
    else deserialize(s.sketch)
      .getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
      .map(r => (r.getItem, r.getEstimate, r.getLowerBound, r.getUpperBound))
      .sortBy { case (item, est, _, _) => (-est, item) }
      .take(k)
      .toSeq

  /** Serializable Aggregator buffer: ItemsSketch itself is not Serializable, so the
    * holder round-trips through the sketch's own compact byte form on (de)serialize.
    */
  final class Holder(@transient var sk: ItemsSketch[String]) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      val bytes = sk.toByteArray(new ArrayOfStringsSerDe)
      out.writeInt(bytes.length); out.write(bytes)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      val bytes = new Array[Byte](in.readInt()); in.readFully(bytes)
      sk = ItemsSketch.getInstance(Memory.wrap(bytes), new ArrayOfStringsSerDe)
    }
  }

  /** Distributed sketch build: partial sketches per partition, merged map-side —
    * the same partial+final shape as `hll_sketch_agg`. Nulls ignored (SQL aggregate
    * convention).
    */
  final class Agg(maxMapSize: Int)
      extends org.apache.spark.sql.expressions.Aggregator[String, Holder, Array[Byte]] {
    def zero: Holder = new Holder(new ItemsSketch[String](maxMapSize))
    def reduce(b: Holder, a: String): Holder = { if (a != null) b.sk.update(a); b }
    def merge(x: Holder, y: Holder): Holder = { x.sk.merge(y.sk); x }
    def finish(b: Holder): Array[Byte] = b.sk.toByteArray(new ArrayOfStringsSerDe)
    def bufferEncoder = org.apache.spark.sql.Encoders.javaSerialization[Holder]
    def outputEncoder = org.apache.spark.sql.Encoders.BINARY
  }

  def aggColumn(column: String, maxMapSize: Int): Column =
    udaf(new Agg(maxMapSize), org.apache.spark.sql.Encoders.STRING)
      .apply(col(column).cast("string"))
}

/** Heavy-hitters analyzer: top-`k` most frequent values of `column` (stringified) as
  * a MapMetric of item → estimated count. Mergeable across partitions/increments via
  * [[FrequentItemsState]].
  */
final case class FrequentItemsAnalyzer(column: String,
    maxMapSize: Int = FrequentItemsSketch.DefaultMaxMapSize, k: Int = 10)
    extends Analyzer[FrequentItemsState] {
  require(maxMapSize >= 8 && (maxMapSize & (maxMapSize - 1)) == 0,
    s"maxMapSize must be a power of two >= 8, got $maxMapSize")
  require(k >= 1, s"k must be positive, got $k")
  val name = "frequent_items"; val key = s"frequent_items.$column"
  val stateAggregates = Seq(FrequentItemsSketch.aggColumn(column, maxMapSize))
  def stateFromValues(v: Seq[Any]) = FrequentItemsState(v.head.asInstanceOf[Array[Byte]])
  def stateFromFields(f: Map[String, String]) =
    FrequentItemsState(java.util.Base64.getDecoder.decode(f("sketch")))
  def metricFromState(s: FrequentItemsState) = MetricValue.MapMetric(
    FrequentItemsSketch.topK(s, k)
      .map { case (item, est, _, _) => item -> MetricValue.LongMetric(est) }.toMap)
}

// ---------- concrete analyzers ----------

final case class SizeAnalyzer() extends Analyzer[LongState] {
  val name = "size"; val key = "size.*"
  val stateAggregates = Seq(count(lit(1)))
  def stateFromValues(v: Seq[Any]) = LongState(Num.toLong(v.head).getOrElse(0L))
  def stateFromFields(f: Map[String, String]) = LongState(f("n").toLong)
  def metricFromState(s: LongState) = MetricValue.LongMetric(s.n)
}

final case class CompletenessAnalyzer(column: String) extends Analyzer[RatioState] {
  val name = "completeness"; val key = s"completeness.$column"
  val stateAggregates = Seq(count(lit(1)), count(col(column)))
  def stateFromValues(v: Seq[Any]) =
    RatioState(Num.toLong(v(0)).getOrElse(0L), Num.toLong(v(1)).getOrElse(0L))
  def stateFromFields(f: Map[String, String]) = RatioState(f("total").toLong, f("matching").toLong)
  def metricFromState(s: RatioState) =
    s.ratio.map(MetricValue.DoubleMetric).getOrElse(MetricValue.DoubleMetric(Double.NaN))
}

final case class ComplianceAnalyzer(label: String, predicate: Column) extends Analyzer[RatioState] {
  val name = "compliance"; val key = s"compliance.$label"
  val stateAggregates = Seq(count(lit(1)), sum(when(predicate, 1L).otherwise(0L)))
  def stateFromValues(v: Seq[Any]) =
    RatioState(Num.toLong(v(0)).getOrElse(0L), Num.toLong(v(1)).getOrElse(0L))
  def stateFromFields(f: Map[String, String]) = RatioState(f("total").toLong, f("matching").toLong)
  def metricFromState(s: RatioState) =
    s.ratio.map(MetricValue.DoubleMetric).getOrElse(MetricValue.DoubleMetric(Double.NaN))
}

final case class SumAnalyzer(column: String) extends Analyzer[SumState] {
  val name = "sum"; val key = s"sum.$column"
  // count the CAST column, like the sum: if a value can't participate in the sum
  // (cast → null on a malformed string under non-ANSI), counting it anyway would
  // silently skew every count-derived statistic.
  // Deliberate precision trade-off: the sum accumulates in DOUBLE, so exact long /
  // decimal sums beyond 2^53 round (~1 ulp per partial). The alternatives both lose:
  // a native long sum overflows (throws under ANSI) at epoch-magnitude values times
  // billions of rows, and SumState itself carries Double — incremental merges would
  // re-round whatever extra precision one scan preserved. Exact big-integer sums
  // belong to StatisticConstraint (un-merged, single scan), not this mergeable state.
  private def xd = col(column).try_cast("double")
  val stateAggregates = Seq(sum(xd), count(xd))
  def stateFromValues(v: Seq[Any]) =
    SumState(Num.toDouble(v(0)).getOrElse(0.0), Num.toLong(v(1)).getOrElse(0L))
  def stateFromFields(f: Map[String, String]) = SumState(f("sum").toDouble, f("count").toLong)
  def metricFromState(s: SumState) = MetricValue.DoubleMetric(s.sum)
}

final case class MeanAnalyzer(column: String) extends Analyzer[SumState] {
  val name = "mean"; val key = s"mean.$column"
  // count the cast column (see SumAnalyzer): n must count exactly the values the
  // sum contains, or the mean is silently wrong on partially-castable columns.
  // Same double-accumulation precision trade-off as SumAnalyzer (documented there).
  private def xd = col(column).try_cast("double")
  val stateAggregates = Seq(sum(xd), count(xd))
  def stateFromValues(v: Seq[Any]) =
    SumState(Num.toDouble(v(0)).getOrElse(0.0), Num.toLong(v(1)).getOrElse(0L))
  def stateFromFields(f: Map[String, String]) = SumState(f("sum").toDouble, f("count").toLong)
  def metricFromState(s: SumState) =
    if (s.count == 0) MetricValue.DoubleMetric(Double.NaN) else MetricValue.DoubleMetric(s.sum / s.count)
}

/** Exact long pair — token totals are integers, so unlike SumState there is no
  * double-accumulation trade: merges stay exact at any corpus size (sums would
  * need > 2^63 tokens to overflow; a 100 TB corpus holds ~10^13).
  */
final case class TokenState(tokens: Long, docs: Long) extends AnalyzerState[TokenState] {
  def merge(o: TokenState) = TokenState(tokens + o.tokens, docs + o.docs)
  def toFields = Map("tokens" -> tokens.toString, "docs" -> docs.toString)
}

/** Corpus token accounting as a mergeable state — the LLM-pipeline counterpart of
  * SizeAnalyzer: total whitespace tokens, documents with text, and mean tokens/doc,
  * foldable per-partition by the incremental runner so a growing corpus's token
  * budget is tracked without rescanning history. NULL text contributes nothing
  * (no tokens, not a doc).
  */
final case class TokenCountAnalyzer(column: String) extends Analyzer[TokenState] {
  val name = "token_count"; val key = s"token_count.$column"
  val stateAggregates = Seq(
    coalesce(sum(graft.functions.TextFunctions.tokenCount(col(column)).cast("long")), lit(0L)),
    count(col(column)))
  def stateFromValues(v: Seq[Any]) =
    TokenState(Num.toLong(v(0)).getOrElse(0L), Num.toLong(v(1)).getOrElse(0L))
  def stateFromFields(f: Map[String, String]) =
    TokenState(f("tokens").toLong, f("docs").toLong)
  def metricFromState(s: TokenState) = MetricValue.MapMetric(Map(
    "total_tokens" -> MetricValue.LongMetric(s.tokens),
    "docs" -> MetricValue.LongMetric(s.docs),
    "mean_tokens" -> MetricValue.DoubleMetric(
      if (s.docs == 0) Double.NaN else s.tokens.toDouble / s.docs)))
}

final case class MinMaxAnalyzer(column: String) extends Analyzer[MinMaxState] {
  val name = "min_max"; val key = s"min_max.$column"
  // Cast BEFORE aggregating: min/max of a string-typed numeric column is otherwise
  // lexicographic ("10" < "9") and only the final garbage value gets cast.
  val stateAggregates = Seq(min(col(column).try_cast("double")), max(col(column).try_cast("double")))
  def stateFromValues(v: Seq[Any]) = MinMaxState(Num.toDouble(v(0)), Num.toDouble(v(1)))
  def stateFromFields(f: Map[String, String]) = MinMaxState(
    Some(f("min")).filter(_.nonEmpty).map(_.toDouble), Some(f("max")).filter(_.nonEmpty).map(_.toDouble))
  def metricFromState(s: MinMaxState) = MetricValue.MapMetric(Map(
    "min" -> MetricValue.DoubleMetric(s.min.getOrElse(Double.NaN)),
    "max" -> MetricValue.DoubleMetric(s.max.getOrElse(Double.NaN))))
}

final case class StdDevAnalyzer(column: String) extends Analyzer[MomentsState] {
  val name = "stddev"; val key = s"stddev.$column"
  // Cast to double BEFORE squaring (like CorrelationAnalyzer): the per-row square in
  // an integer column's native type overflows silently (100000² wraps Int), and
  // decimal products that overflow precision become NULL and drop from the sum.
  private def xd = col(column).try_cast("double")
  // count(xd), not count(col): n must count exactly the values inside the sums — a
  // value whose cast nulls out (malformed string, non-ANSI) would otherwise inflate n
  // and silently shrink the variance.
  val stateAggregates = Seq(count(xd), sum(xd), sum(xd * xd))
  def stateFromValues(v: Seq[Any]) = MomentsState(
    Num.toLong(v(0)).getOrElse(0L), Num.toDouble(v(1)).getOrElse(0.0), Num.toDouble(v(2)).getOrElse(0.0))
  def stateFromFields(f: Map[String, String]) =
    MomentsState(f("n").toLong, f("sum").toDouble, f("sumSq").toDouble)
  def metricFromState(s: MomentsState) =
    MetricValue.DoubleMetric(s.stddevSamp.getOrElse(Double.NaN))
}

final case class CorrelationAnalyzer(c1: String, c2: String) extends Analyzer[CoMomentsState] {
  // "|" separator: the dotted form made correlation.a.b.c ambiguous between
  // (a, b.c) and (a.b, c), silently overwriting one analyzer's results.
  val name = "correlation"; val key = s"correlation.$c1|$c2"
  override def legacyKeys: Seq[String] = Seq(s"correlation.$c1.$c2")
  private def both = col(c1).isNotNull && col(c2).isNotNull
  private def x = when(both, col(c1)).try_cast("double")
  private def y = when(both, col(c2)).try_cast("double")
  // n counts pairs where BOTH casts produced values — the pairs actually inside the
  // co-moment sums — not merely both-non-null raw values (a malformed string that
  // cast-nulls would otherwise count in n but vanish from the sums).
  val stateAggregates = Seq(
    sum(when(x.isNotNull && y.isNotNull, 1L).otherwise(0L)),
    sum(x), sum(y), sum(x * x), sum(y * y), sum(x * y))
  def stateFromValues(v: Seq[Any]) = CoMomentsState(
    Num.toLong(v(0)).getOrElse(0L),
    Num.toDouble(v(1)).getOrElse(0.0), Num.toDouble(v(2)).getOrElse(0.0),
    Num.toDouble(v(3)).getOrElse(0.0), Num.toDouble(v(4)).getOrElse(0.0),
    Num.toDouble(v(5)).getOrElse(0.0))
  def stateFromFields(f: Map[String, String]) = CoMomentsState(
    f("n").toLong, f("sx").toDouble, f("sy").toDouble, f("sxx").toDouble, f("syy").toDouble, f("sxy").toDouble)
  def metricFromState(s: CoMomentsState) =
    MetricValue.DoubleMetric(s.correlation.getOrElse(Double.NaN))
}

/** Quantiles from a mergeable GK sketch (reference: the KLL analyzer) — states from
  * different partitions/runs merge with bounded rank error instead of rescanning.
  */
final case class QuantileAnalyzer(column: String, quantiles: Seq[Double] = Seq(0.5),
    relativeError: Double = 0.01) extends Analyzer[QuantileState] {
  // Parameters in the key: two QuantileAnalyzers on one column with different q lists
  // previously shared key "quantile.col" and one silently overwrote the other in the
  // runner's keyed maps.
  val name = "quantile"
  val key = s"quantile.$column[${quantiles.mkString(",")}]@$relativeError"
  // Legacy "quantile.col" records carried no relativeError, so adopting one can only
  // be justified for the default-accuracy analyzer (the legacy-era default) — a
  // non-default analyzer adopting a coarser legacy sketch would claim precision the
  // merged state does not have. The q list is NOT restricted: the stored GK sketch is
  // quantile-independent (q is evaluated at read time).
  override def legacyKeys: Seq[String] =
    if (relativeError == 0.01) Seq(s"quantile.$column") else Nil
  val stateAggregates = Seq(QuantileSketch.aggColumn(column, relativeError))
  def stateFromValues(v: Seq[Any]) =
    QuantileState(QuantileSketch.deserialize(v.head.asInstanceOf[Array[Byte]]))
  def stateFromFields(f: Map[String, String]) =
    QuantileState(QuantileSketch.deserialize(java.util.Base64.getDecoder.decode(f("sketch"))))
  def metricFromState(s: QuantileState) = MetricValue.MapMetric(
    quantiles.map(q => s"q$q" -> MetricValue.DoubleMetric(
      s.quantile(q).getOrElse(Double.NaN))).toMap)
}

final case class ApproxCountDistinctAnalyzer(column: String) extends Analyzer[HllState] {
  val name = "approx_count_distinct"; val key = s"approx_count_distinct.$column"
  // col(), not a SQL-string identifier: every other analyzer resolves its column
  // through the Column API (dot = nested-field access), and mixing the two meant the
  // same constructor string addressed DIFFERENT columns across analyzers in one suite.
  val stateAggregates = Seq(hll_sketch_agg(col(column)))
  def stateFromValues(v: Seq[Any]) = HllState(v.head.asInstanceOf[Array[Byte]])
  def stateFromFields(f: Map[String, String]) =
    HllState(java.util.Base64.getDecoder.decode(f("sketch")))
  def metricFromState(s: HllState) = MetricValue.LongMetric(HllSketch.estimate(s))
}
