package graft.analyzers

/** Anomaly detection over metric history
  * (reference: term-guard/src/analyzers/anomaly/detector.rs:478-966, strategy.rs:131-220).
  * Pure Scala over the (small) metric time series — no Spark involvement needed.
  */
final case class Anomaly(timestamp: Long, value: Double, detail: String)

trait AnomalyDetectionStrategy {
  def name: String
  /** Given history (oldest first), return detected anomalies. */
  def detect(series: Seq[(Long, Double)]): Seq[Anomaly]

  /** The anomalies [[detect]] returns at `timestamp`: the one point a caller judges. */
  def anomaliesAt(series: Seq[(Long, Double)], timestamp: Long): Seq[Anomaly] =
    detect(series).filter(_.timestamp == timestamp)
}

/** Flags relative changes outside [maxDecrease, maxIncrease]
  * (reference: detector.rs RelativeRateOfChange). Change is measured against
  * |v_{t-1}| so the increase/decrease direction is the sign of (v_t − v_{t-1}) even
  * for negative metrics (a signed cur/prev ratio would swap directions there); a
  * transition from exactly 0 to any other value is an infinite relative change and is
  * flagged whenever either bound is configured.
  */
final case class RelativeRateOfChangeStrategy(
    maxRateIncrease: Option[Double] = None,
    maxRateDecrease: Option[Double] = None) extends AnomalyDetectionStrategy {
  val name = "relative_rate_of_change"
  def detect(series: Seq[(Long, Double)]): Seq[Anomaly] =
    series.sliding(2).collect {
      // 0 → x is a SIGNED infinite change: an increase only trips the increase bound
      // and a decrease only the decrease bound (a decrease-only config must not alert
      // on a pure increase from zero).
      case Seq((_, prev), (ts, cur))
        if (prev == 0.0 && cur != 0.0 &&
            ((cur > 0.0 && maxRateIncrease.isDefined) ||
             (cur < 0.0 && maxRateDecrease.isDefined))) ||
          (prev != 0.0 &&
            (maxRateIncrease.exists(m => (cur - prev) / math.abs(prev) > m) ||
             maxRateDecrease.exists(m => (prev - cur) / math.abs(prev) > m))) =>
        val change =
          if (prev == 0.0) math.copySign(Double.PositiveInfinity, cur)
          else (cur - prev) / math.abs(prev)
        Anomaly(ts, cur, f"rate of change $change%.4f from $prev")
    }.toSeq
}

/** Flags |v_t - v_{t-1}| outside asymmetric bounds (reference: detector.rs AbsoluteChange). */
final case class AbsoluteChangeStrategy(
    maxIncrease: Option[Double] = None,
    maxDecrease: Option[Double] = None) extends AnomalyDetectionStrategy {
  val name = "absolute_change"
  def detect(series: Seq[(Long, Double)]): Seq[Anomaly] =
    series.sliding(2).collect {
      case Seq((_, prev), (ts, cur)) if
          maxIncrease.exists(m => cur - prev > m) ||
          maxDecrease.exists(m => prev - cur > m) =>
        Anomaly(ts, cur, f"absolute change ${cur - prev}%.4f from $prev")
    }.toSeq
}

/** Flags points whose z-score against the PRECEDING window exceeds the threshold
  * (reference: detector.rs ZScore).
  */
final case class ZScoreStrategy(threshold: Double = 3.0, minHistory: Int = 3)
    extends AnomalyDetectionStrategy {
  val name = "z_score"
  def detect(series: Seq[(Long, Double)]): Seq[Anomaly] = {
    val s = series.toIndexedSeq
    s.indices.flatMap(anomalyAt(s, _))
  }

  /** Scores only the points at `timestamp` — one pass over the history, not
    * [[detect]]'s one per point.
    */
  override def anomaliesAt(series: Seq[(Long, Double)], timestamp: Long): Seq[Anomaly] = {
    val s = series.toIndexedSeq
    s.indices.filter(s(_)._1 == timestamp).flatMap(anomalyAt(s, _))
  }

  /** Point `i` scored against the points before it. */
  private def anomalyAt(series: IndexedSeq[(Long, Double)], i: Int): Option[Anomaly] = {
    // Non-finite history points (NaN completeness of an empty batch is a legitimate,
    // persisted value) must not participate: one NaN in the window would make
    // mean/sd NaN for EVERY later point and silently disable detection forever.
    val prior = series.view.take(i).map(_._2).filter(java.lang.Double.isFinite).toVector
    val (ts, v) = series(i)
    if (prior.size < minHistory) None
    else {
      val mean = prior.sum / prior.size
      val variance = prior.map(x => (x - mean) * (x - mean)).sum / prior.size
      val sd = math.sqrt(variance)
      if (sd > 0 && math.abs(v - mean) / sd > threshold)
        Some(Anomaly(ts, v, f"z-score ${math.abs(v - mean) / sd}%.2f vs mean $mean%.4f"))
      else None
    }
  }
}

/** Runs a strategy over a repository-backed metric history and checks the newest point
  * (reference: anomaly/detector.rs AnomalyDetectionRunner + pattern routing).
  */
final class AnomalyDetectionRunner(
    repository: graft.repository.MetricsRepository,
    strategies: Map[String, AnomalyDetectionStrategy]) {

  /** Strategy for a metric key: exact match, else the LONGEST matching prefix (e.g.
    * "completeness.email." beats "completeness."), else none. Longest-wins makes the
    * routing deterministic — collectFirst over an unordered Map let HashMap iteration
    * order pick between multiple matching prefixes.
    */
  def strategyFor(metricKey: String): Option[AnomalyDetectionStrategy] =
    strategies.get(metricKey).orElse(
      strategies.view
        .filter { case (p, _) => p.endsWith(".") && metricKey.startsWith(p) }
        .maxByOption(_._1.length).map(_._2))

  def detect(metricKey: String): Seq[Anomaly] =
    strategyFor(metricKey).map(_.detect(repository.history(metricKey))).getOrElse(Nil)

  /** True iff the most recent observation of the metric is anomalous. One history
    * read: judging the SAME series the "latest" timestamp came from (a second read
    * could race a concurrent append, checking a stale latest against a newer series).
    */
  def isLatestAnomalous(metricKey: String): Boolean =
    strategyFor(metricKey).exists { strategy =>
      val h = repository.history(metricKey)
      h.lastOption.exists { case (ts, _) => strategy.anomaliesAt(h, ts).nonEmpty }
    }
}
