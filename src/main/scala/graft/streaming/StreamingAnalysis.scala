package graft.streaming

import graft.analyzers.{IncrementalAnalysisRunner, MomentsState}
import graft.core.MetricValue
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout}

/** Structured-Streaming face of the engine. The reference has no stream processing; its
  * incremental batch analysis (per-partition states merged into history,
  * analyzers/incremental/runner.rs) maps naturally onto micro-batches: each batch is a
  * partition, `foreachBatch` folds its state into the store, and metrics stay current
  * without rescanning. Windowed quality metrics use native event-time windows +
  * watermarks (late data handled by Spark, not us).
  */
object StreamingAnalysis {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Per-window data-quality aggregates with watermarked event time.
    * Emits one row per (window, metrics...) — completeness ratios and row counts for
    * the given columns, computed with the same conditional-count shapes as the batch
    * constraints (all partial-aggregated; streaming state is bounded by the watermark).
    */
  def windowedQuality(
      stream: DataFrame,
      tsCol: String,
      windowDuration: String,
      watermarkDelay: String,
      columns: Seq[String]): DataFrame =
    windowedMetrics(stream, tsCol, windowDuration, watermarkDelay,
      count(lit(1)).as("row_count") +:
        columns.flatMap(c => Seq(
          count(col(c)).as(s"non_null_$c"),
          (count(col(c)).cast("double") / count(lit(1)).cast("double")).as(s"completeness_$c"))))

  /** Attach incremental analysis to a stream: every micro-batch is analyzed as a
    * partition (keyed by batch id) and merged into the cumulative state store; `onBatch`
    * receives the up-to-date metrics (e.g. to publish or alert on).
    */
  def incrementalSink(
      stream: DataFrame,
      runner: IncrementalAnalysisRunner,
      onBatch: (Long, Map[String, MetricValue]) => Unit = (_, _) => ()): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      val pk = f"batch=$batchId%012d"
      // Pre-existing state for this batch key is EITHER a benign replay (mid-commit
      // failure re-delivery — the runner's overwrite+rebuild is idempotent for it) OR
      // a query restarted with a FRESH CHECKPOINT (batch ids reset to 0) colliding
      // with the original run's history. The two are indistinguishable here (unlike
      // anomalySink's scalar metric, analyzer states are float-order-sensitive, so an
      // equality probe would false-positive on genuine replays) — surface the
      // overwrite loudly instead of corrupting silently.
      if (runner.hasPartitionState(pk))
        log.warn(s"incrementalSink: batch $batchId already has stored state and will be " +
          "overwritten. If this query was restarted with a fresh checkpoint against an " +
          "existing state store, the original run's contribution is being REPLACED — " +
          "use a new store path or restore the original checkpoint.")
      val metrics = runner.analyzePartition(batch, pk)
      onBatch(batchId, metrics)
    }

  /** Running per-key moments for `keyedRunningMoments` output rows. */
  final case class KeyedMoments(key: String, n: Long, mean: Double, stddev: Double)

  /** Per-key RUNNING statistics across micro-batches via `mapGroupsWithState`: each
    * key's mergeable [[MomentsState]] lives in the streaming state store (RocksDB/HDFS
    * on a real cluster) and is folded with every batch's values — the custom-state
    * analog of the incremental runner, but keyed and continuous. Emits the updated
    * (key, n, mean, stddev) row per key per batch; use output mode `update`. Optional
    * idle-key expiry via processing-time timeout keeps state bounded on unbounded key
    * domains.
    */
  def keyedRunningMoments(
      stream: DataFrame,
      keyCol: String,
      valueCol: String,
      idleTimeout: Option[String] = None): Dataset[KeyedMoments] = {
    val pairs = stream
      // try_cast + filter on the RESULT: under ANSI mode (Spark 4 default) a plain
      // cast throws on malformed values and kills the whole streaming query, and a
      // pre-cast isNotNull filter would let cast-nulls reach the non-nullable Double
      // encoder. between(±MaxValue), not isNotNull: one NaN/Infinity value (a double
      // NaN, or the string "NaN"/"Infinity", which try_cast converts to a NON-null
      // non-finite) folded into a key's running sums poisons that key's mean/stddev
      // PERMANENTLY — the state never recovers (same guard class as
      // Metrics.numericHistogram and ZScoreStrategy's finite-history filter).
      .filter(col(valueCol).try_cast("double").between(-Double.MaxValue, Double.MaxValue))
      .select(col(keyCol).cast("string").as("_k"), col(valueCol).try_cast("double").as("_v"))
      .as[(String, Double)](Encoders.tuple(Encoders.STRING, Encoders.scalaDouble))
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    pairs
      .groupByKey(_._1)(Encoders.STRING)
      .mapGroupsWithState[MomentsState, KeyedMoments](timeoutConf) {
        (key: String, rows: Iterator[(String, Double)], state: GroupState[MomentsState]) =>
          if (state.hasTimedOut) {
            val last = state.getOption.getOrElse(MomentsState(0L, 0.0, 0.0))
            state.remove()
            KeyedMoments(key, last.n, last.mean.getOrElse(Double.NaN),
              last.stddevSamp.getOrElse(Double.NaN))
          } else {
            val batch = rows.foldLeft(MomentsState(0L, 0.0, 0.0)) { (m, r) =>
              MomentsState(m.n + 1, m.sum + r._2, m.sumSq + r._2 * r._2)
            }
            val merged = state.getOption.map(_.merge(batch)).getOrElse(batch)
            state.update(merged)
            idleTimeout.foreach(state.setTimeoutDuration)
            KeyedMoments(key, merged.n, merged.mean.getOrElse(Double.NaN),
              merged.stddevSamp.getOrElse(Double.NaN))
          }
      }(Encoders.kryo[MomentsState], Encoders.product[KeyedMoments])
  }

  /** Generic per-window metric aggregation: any aggregate `Column`s (the same
    * expressions the batch constraints compile to — including the SQL-registered graft
    * kernels) evaluated per event-time window with a watermark. [[windowedQuality]] is
    * the completeness-specialized instance of this shape.
    */
  def windowedMetrics(
      stream: DataFrame,
      tsCol: String,
      windowDuration: String,
      watermarkDelay: String,
      aggs: Seq[org.apache.spark.sql.Column]): DataFrame = {
    require(aggs.nonEmpty, "windowedMetrics needs at least one aggregate column")
    val out = stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration).as("w"))
      .agg(aggs.head, aggs.drop(1): _*)
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("*")).drop("w")
    // Reserved-name guard (same class as joinCoverage's _matched / dedup's _fp): an
    // aggregate aliased window_start/window_end would yield DUPLICATE output columns
    // and an AMBIGUOUS_REFERENCE far from the cause on first downstream use.
    val dups = out.columns.diff(out.columns.distinct).distinct
    require(dups.isEmpty,
      s"windowedMetrics reserves window_start/window_end; rename aggregate alias(es): ${dups.mkString(", ")}")
    out
  }

  /** Per-source token-throughput monitor: tumbling event-time windows of document
    * and token counts per source, with the tokens/sec rate — the "is the feed
    * healthy / which upstream went quiet" dashboard stream for an ingestion
    * pipeline whose real budget is tokens, not rows. Watermarked windowed
    * aggregation: state is bounded by (windows in the watermark horizon ×
    * sources); NULL text counts 0 tokens but the document still counts (a feed
    * suddenly shipping empty bodies shows as rate collapse WITH steady doc
    * volume — the signature that distinguishes an encoder bug from an outage).
    * NULL source is a real group. Output: `(window_start, window_end, source,
    * docs, tokens, tokens_per_sec)`; append-mode (emits once per closed window).
    */
  def tokenThroughput(stream: DataFrame, tsCol: String, textCol: String,
      sourceCol: String, windowDuration: String, watermarkDelay: String): DataFrame = {
    val secs = col("window_end").cast("long") - col("window_start").cast("long")
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration).as("_w"), col(sourceCol).as("source"))
      .agg(count(lit(1)).as("docs"),
        sum(coalesce(graft.functions.TextFunctions.tokenCount(col(textCol)).cast("long"),
          lit(0L))).as("tokens"))
      .select(col("_w.start").as("window_start"), col("_w.end").as("window_end"),
        col("source"), col("docs"), col("tokens"))
      .withColumn("tokens_per_sec",
        when(secs > 0, col("tokens").cast("double") / secs))
  }

  /** Per-window approximate distinct cardinality over a stream: tumbling-window HLL
    * sketches of `keyCol` — the "distinct users per hour" monitor whose collapse
    * (with steady event volume) means an upstream started reusing ids, and whose
    * spike means an id-generation bug. Emits both the estimate AND the sketch
    * bytes, so persisted window rows merge into day/month cardinalities later via
    * [[graft.Metrics.mergeSketches]] with NO replay of the stream — the streaming
    * producer of the store-and-merge sketch surface.
    *
    * State is one ~12 KiB sketch per open window (watermark-bounded), and the
    * aggregation is the same partial-merge `hll_sketch_agg` as the batch rollup —
    * distinct counting without a per-key state row, which an exact streaming
    * `approx_count_distinct` alternative would need. NULL keys contribute nothing;
    * an all-NULL window emits estimate 0 with its (empty) sketch.
    */
  def windowedCardinality(stream: DataFrame, tsCol: String, keyCol: String,
      windowDuration: String, watermarkDelay: String, lgK: Int = 14): DataFrame = {
    require(lgK >= 4 && lgK <= 21, s"lgK must be in [4,21], got $lgK")
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration).as("_w"))
      .agg(hll_sketch_agg(col(keyCol), lit(lgK)).as("hll_sketch"))
      .select(col("_w.start").as("window_start"), col("_w.end").as("window_end"),
        coalesce(hll_sketch_estimate(col("hll_sketch")), lit(0L)).as("approx_distinct"),
        col("hll_sketch"))
  }

  /** Streaming EXACT dedup with bounded state: one row per key, duplicates dropped
    * across micro-batches. With `watermark = Some(tsCol -> delay)` the state store only
    * remembers keys until the watermark passes them (`dropDuplicatesWithinWatermark`) —
    * the shape that survives an unbounded 100 TB/day stream, since total state is
    * (keys per watermark horizon), not (keys ever seen). Without a watermark the state
    * grows with distinct keys forever — only for bounded key domains.
    */
  def streamingDedupExact(
      stream: DataFrame,
      keys: Seq[String],
      watermark: Option[(String, String)] = None): DataFrame =
    watermark match {
      case Some((tsCol, delay)) =>
        stream.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keys)
      case None =>
        stream.dropDuplicates(keys)
    }

  /** Streaming CONTENT dedup: exact dedup on the normalized-text fingerprint
    * ([[graft.functions.TextFunctions.fingerprint]] — trimmed, whitespace-collapsed),
    * so whitespace-variant reposts of the same document are dropped in-flight. Same
    * bounded-state semantics as [[streamingDedupExact]].
    */
  def streamingDedupFingerprint(
      stream: DataFrame,
      textCol: String,
      watermark: Option[(String, String)] = None): DataFrame = {
    // The helper column must not shadow a caller column: withColumn would overwrite it
    // and the trailing drop would silently delete the caller's field from the output.
    require(!stream.columns.contains("_fp"),
      "streamingDedupFingerprint reserves the column name _fp; rename the input column")
    // NULL text rows PASS THROUGH instead of deduping: fingerprint(NULL) is NULL, and
    // dropDuplicates treats NULL keys as equal — every null-text row after the first
    // would silently vanish even though its other fields differ. Rows with no content
    // have no fingerprint identity; content dedup must not collapse them.
    val withText = stream.filter(col(textCol).isNotNull)
    val nullText = stream.filter(col(textCol).isNull)
    val fp = withText.withColumn("_fp",
      graft.functions.TextFunctions.fingerprint(col(textCol)))
    streamingDedupExact(fp, Seq("_fp"), watermark).drop("_fp").unionByName(nullText)
  }

  /** Streaming gap-based sessionization: Spark's native `session_window` — state
    * merges adjacent windows while events arrive within `gapDuration` and emits
    * each session's rollup once the watermark passes its close. The continuous
    * twin of [[graft.operators.Sessions.sessionStats]] (same gap semantics; batch
    * numbering adds the per-key session INDEX, which streaming state cannot — an
    * index over an unbounded past is unbounded state).
    *
    * Output per closed session: key, session_start/session_end (the window
    * bounds), n_events, plus any extra `aggs`. Append mode only (sessions emit on
    * close); NULL keys form their own session group per Spark groupBy semantics —
    * filter upstream if unattributed events shouldn't sessionize.
    */
  def sessionStatsSink(
      stream: DataFrame,
      keyCol: String,
      tsCol: String,
      gapDuration: String,
      watermarkDelay: String,
      aggs: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    // The unpacked window bounds and the built-in count would silently clobber
    // same-named caller aggregates (withColumn replaces) — reserve them.
    val reserved = Seq("session_start", "session_end", "n_events")
    val aggNames = aggs.map(_.toString)
    reserved.foreach { r =>
      require(!aggNames.exists(_.endsWith(s" AS $r")),
        s"sessionStatsSink reserves the output column name '$r'; alias the aggregate differently")
    }
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gapDuration), col(keyCol))
      .agg(count(lit(1)).as("n_events"), aggs: _*)
      // keep every agg column whatever the caller named it (reserved names barred
      // above); only unpack the window
      .withColumn("session_start", col("session_window.start"))
      .withColumn("session_end", col("session_window.end"))
      .drop("session_window")
  }

  /** Streaming NEAR-dup gate: exact dedup on the 64-bit SimHash of the token stream
    * — drops in-flight reposts that survive [[streamingDedupFingerprint]]'s
    * whitespace normalization (token reorder, small re-punctuation: any edit that
    * keeps the per-bit token-hash majority vote identical). Same bounded-state
    * semantics as [[streamingDedupExact]].
    *
    * HONEST RECALL LIMIT, by design: streaming state lookup is equality-keyed, so
    * this catches Hamming-distance-0 collisions only. The batch operator's band
    * blocking (any of 4 identical 16-bit bands ⇒ candidate, then Hamming verify)
    * cannot be expressed over `dropDuplicatesWithinWatermark` state — a banded
    * variant would need `flatMapGroupsWithState` over band keys and a second
    * stateful verify join. Near-dups at Hamming 1-3 pass through; run the batch
    * [[graft.operators.Dedup.nearDupPairsSimhash]] pass on the landed data for
    * full recall. Zero-token docs share simhash 0 and would all collapse into one —
    * they pass through un-deduped (no content identity), like NULL text.
    */
  def streamingDedupSimhash(
      stream: DataFrame,
      textCol: String,
      watermark: Option[(String, String)] = None): DataFrame = {
    require(!stream.columns.contains("_sh"),
      "streamingDedupSimhash reserves the column name _sh; rename the input column")
    val hasTokens = col(textCol).isNotNull &&
      size(graft.functions.TextFunctions.tokens(col(textCol))) > 0
    val tokenless = stream.filter(!coalesce(hasTokens, lit(false)))
    val hashed = stream.filter(coalesce(hasTokens, lit(false)))
      .withColumn("_sh", graft.operators.Dedup.simhash64(
        graft.functions.TextFunctions.tokens(col(textCol))))
    streamingDedupExact(hashed, Seq("_sh"), watermark).drop("_sh")
      .unionByName(tokenless)
  }

  /** Streaming VISUAL dedup gate: exact dedup on the 64-bit perceptual aHash of a
    * binary image column — in-flight reposts of the same picture (including
    * lossless re-containering, e.g. the same pixels as PNG and BMP) collapse to the
    * first arrival. Same bounded-state semantics as [[streamingDedupExact]], same
    * honest recall limit as [[streamingDedupSimhash]] (equality-keyed state ⇒
    * Hamming-0 only; run the batch [[graft.operators.Multimodal.nearDupPairsImage]]
    * on landed data for banded ≤3-bit recall). Undecodable payloads (non-images,
    * corrupt headers, zero-contrast frames) have NULL hashes — they pass through
    * un-deduped rather than collapsing into one NULL-keyed group.
    */
  def streamingDedupImageHash(
      stream: DataFrame,
      binCol: String,
      watermark: Option[(String, String)] = None): DataFrame = {
    require(!stream.columns.contains("_ih"),
      "streamingDedupImageHash reserves the column name _ih; rename the input column")
    val hashed = graft.operators.Multimodal.withImageHash(stream, binCol, "_ih")
    val undecodable = hashed.filter(col("_ih").isNull).drop("_ih")
    streamingDedupExact(hashed.filter(col("_ih").isNotNull), Seq("_ih"), watermark)
      .drop("_ih")
      .unionByName(undecodable)
  }

  /** Streaming AUDIO dedup gate: exact dedup on the 64-bit loudness-envelope hash
    * of a binary audio column — in-flight reposts of the same clip collapse to the
    * first arrival. Same bounded-state semantics as [[streamingDedupExact]], same
    * honest recall limit as [[streamingDedupImageHash]] (equality-keyed state ⇒
    * Hamming-0 only; run the batch [[graft.operators.Multimodal.nearDupPairsAudio]]
    * on landed data for banded ≤3-bit recall). Undecodable payloads (non-PCM,
    * compressed WAV, silent/constant-loudness clips) have NULL hashes — they pass
    * through un-deduped rather than collapsing into one NULL-keyed group.
    */
  def streamingDedupAudioHash(
      stream: DataFrame,
      binCol: String,
      watermark: Option[(String, String)] = None): DataFrame = {
    require(!stream.columns.contains("_ah"),
      "streamingDedupAudioHash reserves the column name _ah; rename the input column")
    val hashed = graft.operators.Multimodal.withAudioHash(stream, binCol, "_ah")
    val undecodable = hashed.filter(col("_ah").isNull).drop("_ah")
    streamingDedupExact(hashed.filter(col("_ah").isNotNull), Seq("_ah"), watermark)
      .drop("_ah")
      .unionByName(undecodable)
  }

  /** Streaming anomaly detection: per micro-batch, compute a scalar metric, append it
    * to the repository's history for `metricKey`, and run `strategy` over the updated
    * history; `onAnomaly` fires with the batch id and the detected points. Composes the
    * batch building blocks (MetricsRepository + AnomalyDetectionStrategy) into the
    * continuous path — the streaming analog of AnomalyDetectionRunner.
    */
  def anomalySink(
      stream: DataFrame,
      metricOf: DataFrame => Double,
      metricKey: String,
      repo: graft.repository.MetricsRepository,
      strategy: graft.analyzers.AnomalyDetectionStrategy,
      onAnomaly: (Long, Seq[graft.analyzers.Anomaly]) => Unit,
      historyLimit: Option[Int] = Some(1024)): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      // foreachBatch is at-least-once: a batch replayed after a mid-commit failure must
      // not append its metric twice (duplicate history points corrupt every later
      // change/z-score comparison). The batch id IS the record timestamp, so replays
      // are detected by key. History is read ONCE per batch and comes back bounded:
      // pointsFor returns the exact key's newest N points, the window every strategy
      // actually consumes (the parquet backend answers from the log rows it already
      // holds and reads only the log files it has not seen).
      val prior = repo.pointsFor(metricKey, historyLimit)
      val point = batchId -> metricOf(batch)
      // Replay/collision detection must be EXACT even past the bounded window: a
      // checkpoint-reset collision at batch 0 on a stream with >historyLimit recorded
      // batches is invisible to the newest-N read and would silently re-save over
      // existing history. Only when the window could have truncated the key (window
      // full AND its oldest point is newer than this batch) pay one exact-key probe.
      val windowMayTruncate = historyLimit.exists(prior.size >= _) &&
        prior.headOption.exists(_._1 > batchId)
      val existing = prior.find(_._1 == batchId).map(_._2)
        .orElse(if (windowMayTruncate) repo.pointAt(metricKey, batchId) else None)
      def alertFor(series: Seq[(Long, Double)]): Unit = {
        // Only THIS batch's point may alert — detect() returns every historical anomaly
        // each time, and re-firing them every micro-batch is an alert storm.
        val anomalies = strategy.anomaliesAt(series.sortBy(_._1), batchId)
        if (anomalies.nonEmpty) onAnomaly(batchId, anomalies)
      }
      existing match {
        case Some(prev) if prev == point._2 || (prev.isNaN && point._2.isNaN) =>
          // Genuine replay (same batch, same deterministic metric): the point is
          // already in history. RE-RUN detection and alerting — the prior attempt may
          // have died between save and onAnomaly, and a duplicate alert is recoverable
          // where a silently swallowed one is not (at-least-once alerting). When the
          // replayed batch was detected BEYOND the bounded window (pointAt), its point
          // is not in `prior` — append it, or alertFor's timestamp filter could never
          // re-fire and the at-least-once guarantee above would be silently void.
          alertFor(if (prior.exists(_._1 == batchId)) prior else prior :+ (batchId -> prev))
        case Some(prev) =>
          // Same batch id, DIFFERENT metric: this is not a replay — it is a query
          // restarted with a fresh checkpoint (batch ids reset to 0) writing into the
          // same repository/metricKey. Silently skipping would discard every colliding
          // batch's metrics while the pipeline looks healthy; fail loud instead.
          throw new IllegalStateException(
            s"anomalySink: batch $batchId already has metric '$metricKey' = $prev in the " +
              s"repository but this run computed ${point._2}. A restarted query with a " +
              "fresh checkpoint is colliding with existing history — use a new metricKey, " +
              "a new repository path, or restore the original checkpoint.")
        case None =>
          repo.save(graft.repository.ResultKey(batchId), Map(metricKey -> point._2))
          alertFor(prior :+ point)
      }
    }

  /** Streaming distribution-drift gate: every micro-batch's `catCol` mix scored by
    * PSI against a STATIC reference distribution (collapsed ONCE at sink
    * construction); `onDrift` fires when the batch's PSI reaches `threshold`
    * (0.25 = the significant-shift convention [[graft.operators.Drift.psi]]
    * documents). The streaming face of the batch drift monitor — same epsilon
    * smoothing, same category semantics (NULL is a real category), pinned equal to
    * `Drift.psi` in the spec.
    *
    * Empty batches (and an empty reference) have no distribution: no callback, by
    * the batch psi's NULL-on-empty-side convention. Stateless per batch: an
    * at-least-once replay re-fires the callback (duplicate alerts are recoverable;
    * swallowed ones are not). `maxCategories` bounds the per-batch collect — a
    * continuous column passed as a "category" fails loud instead of growing the
    * driver map without limit.
    */
  def driftSink(
      stream: DataFrame,
      catCol: String,
      reference: DataFrame,
      refCatCol: String,
      onDrift: (Long, Double) => Unit,
      threshold: Double = 0.25,
      epsilon: Double = 1e-6,
      maxCategories: Int = 10000): DataStreamWriter[Row] = {
    require(epsilon > 0 && epsilon < 1, s"epsilon must be in (0,1), got $epsilon")
    require(threshold >= 0, s"threshold must be >= 0, got $threshold")
    require(maxCategories > 0, "maxCategories must be positive")
    // Categories are matched as driver-side map keys (raw JVM equality), so the two
    // columns must share one type — an INT reference against a BIGINT stream would
    // box to Integer-vs-Long keys, every category would look one-sided, and the
    // gate would false-alert on every batch. Fail loud instead (the asofJoin
    // time-type rule).
    require(reference.schema(refCatCol).dataType == stream.schema(catCol).dataType,
      s"driftSink: reference '$refCatCol' is ${reference.schema(refCatCol).dataType} " +
        s"but stream '$catCol' is ${stream.schema(catCol).dataType} — cast them to one type")
    // Categories are matched as driver-side map keys, so they need VALUE equality.
    // A top-level BinaryType column passes the dtype guard above but Row.get hands
    // it back as Array[Byte] (reference equality) — every category would then look
    // one-sided and PSI would be a permanent false alert. Normalize top-level
    // bytes to ArraySeq (the Sharding.groupKeyOf convention); binary nested inside
    // array/struct/map keys still compares by reference a level down, so reject it.
    locally {
      import org.apache.spark.sql.types._
      def nestsBinary(dt: DataType): Boolean = dt match {
        case BinaryType => true
        case ArrayType(e, _) => nestsBinary(e)
        case MapType(kt, vt, _) => nestsBinary(kt) || nestsBinary(vt)
        case StructType(fs) => fs.exists(f => nestsBinary(f.dataType))
        case _ => false
      }
      val dt = stream.schema(catCol).dataType
      require(dt == BinaryType || !nestsBinary(dt),
        s"driftSink: category type $dt nests binary values, whose driver-side equality " +
          "is by reference — every category would look one-sided; hash the key first " +
          "(e.g. xxhash64)")
    }
    def countsOf(df: DataFrame, c: String, what: String): Map[Any, Long] = {
      val rows = df.groupBy(col(c)).agg(count(lit(1)).as("n"))
        .limit(maxCategories + 1).collect()
      require(rows.length <= maxCategories,
        s"driftSink: $what has more than $maxCategories categories — '$c' does not " +
          "look categorical; bin it (Drift.psiNumeric's clamped bins) before gating")
      rows.map { r =>
        val k = r.get(0) match {
          case b: Array[Byte] => scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
          case v => v
        }
        k -> r.getLong(1)
      }.toMap
    }
    val refCounts = countsOf(reference, refCatCol, "reference")
    val refTotal = refCounts.values.sum
    // An empty reference would construct a gate that can NEVER alert — a silent
    // monitor is worse than no monitor. Surface the misconfiguration now.
    require(refTotal > 0,
      "driftSink: the reference distribution is empty — wrong path/filter? A gate " +
        "with no reference can never fire")
    stream.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      val curCounts = countsOf(batch, catCol, s"batch $batchId")
      val curTotal = curCounts.values.sum
      if (curTotal > 0) {
        // Same closed form as Drift.psi: union of categories, shares floored at
        // epsilon so one-sided categories contribute a finite term.
        val psi = (refCounts.keySet ++ curCounts.keySet).toSeq.map { cat =>
          val pr = math.max(refCounts.getOrElse(cat, 0L).toDouble / refTotal, epsilon)
          val pc = math.max(curCounts.getOrElse(cat, 0L).toDouble / curTotal, epsilon)
          (pr - pc) * math.log(pr / pc)
        }.sum
        if (psi >= threshold) onDrift(batchId, psi)
      }
    }
  }

  /** Streaming DECONTAMINATION gate: every micro-batch is flagged against a
    * STORED contamination Bloom (the eval-set firewall bytes from
    * [[graft.operators.Dedup.buildContaminationBloom]] — built once, persisted
    * next to the eval data) and split in-flight: docs whose flagged n-gram
    * fraction reaches `threshold` go to `quarantine`, the rest to `land` — the
    * streaming face of the stored-firewall batch operator, for ingestion
    * pipelines that must never land benchmark text in a training corpus.
    *
    * Semantics (pinned to the batch operator in the spec):
    *  - ZERO false negatives by the Bloom property — a doc sharing >= threshold
    *    of its grams with the probe ALWAYS quarantines; ~fpp of clean grams
    *    false-flag, so threshold should sit above the fpp floor (the batch
    *    firewall's convention; run the exact
    *    [[graft.operators.Dedup.crossCorpusContaminationBloom]] scrub over the
    *    quarantine to recover Bloom-fp'd docs when the probe frame is at hand).
    *  - Tokenless docs (NULL/empty text) have NO grams: nothing to assess, they
    *    LAND (flagged_frac is NULL, not 0.0 — same convention as the batch op).
    *  - NULL-id docs cannot join their flags back: they land unassessed, like
    *    the batch operator excludes them. Filter upstream if ids can be null.
    *  - Empty filter bytes (empty probe) flag nothing — everything lands.
    *
    * 100 TB shape: the Bloom bits ride each task binary once per executor
    * (codegen'd `might_contain`, no UDF); per batch the only shuffle is the
    * per-doc flag rollup's groupBy(id) over the BATCH, then a broadcast-sized
    * join of flags back to the batch rows. Nothing corpus-proportional, no
    * state store — the filter itself is the state, by construction.
    */
  def contaminationGateSink(stream: DataFrame, idCol: String, textCol: String,
      bloomBytes: Array[Byte], ngramWords: Int = 8, threshold: Double = 0.8,
      land: (Long, DataFrame) => Unit,
      quarantine: (Long, DataFrame) => Unit = (_, _) => ()): DataStreamWriter[Row] = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold")
    stream.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      gateSplit(batch.toDF(), batchId, idCol, "_gate_frac",
        df => graft.operators.Dedup.contaminationFlagsBloom(
            df, bloomBytes, idCol, textCol, ngramWords)
          .select(col(idCol), col("flagged_frac").as("_gate_frac")),
        col("_gate_frac") >= threshold, land, quarantine,
        "contaminationGateSink")
    }
  }

  /** Shared tail of the decontamination gates: compute per-doc flags, left-join
    * them back (keeping NULL-id / unassessable rows — they land unassessed, the
    * gates' documented convention), split on `bad`, feed both callbacks. NO
    * broadcast hint on the join: the flags frame scales with the batch, and a
    * catch-up micro-batch of millions of rows must not be collected to the
    * driver — let the planner shuffle two batch-sized sides. One
    * localCheckpoint so both splits and the callbacks read the scored frame
    * once.
    */
  private def gateSplit(df: DataFrame, batchId: Long, idCol: String,
      flagCol: String, flagsOf: DataFrame => DataFrame, bad: Column,
      land: (Long, DataFrame) => Unit, quarantine: (Long, DataFrame) => Unit,
      gateName: String): Unit = {
    require(!df.columns.contains(flagCol),
      s"$gateName reserves the column name $flagCol; rename the input column")
    val scored = df.join(flagsOf(df), Seq(idCol), "left").localCheckpoint(true)
    val isBad = coalesce(bad, lit(false))
    quarantine(batchId, scored.filter(isBad).drop(flagCol))
    land(batchId, scored.filter(!isBad).drop(flagCol))
  }

  /** Streaming SEMANTIC decontamination gate: every micro-batch is flagged
    * against an eval-set EMBEDDING frame via
    * [[graft.operators.Dedup.semanticContaminationFlags]] (hyperplane-LSH
    * candidates, row-local cosine verify) and split in-flight — docs with >= 1
    * eval hit at `threshold` go to `quarantine`, the rest to `land`. The
    * embedding-space sibling of [[contaminationGateSink]]: that one catches
    * verbatim/near-verbatim n-gram leakage with zero false negatives; this one
    * catches the paraphrased leakage that shares no n-gram, at the LSH family's
    * banded recall (raise `tables` for near-threshold pairs).
    *
    * Conventions (pinned to the batch operator in the spec): NULL-id and
    * NULL-vector docs land unassessed; an empty eval frame flags nothing. The
    * eval side is validated, bucketed, and MATERIALIZED ONCE at sink
    * construction ([[graft.operators.Dedup.buildSemanticEvalIndex]] — the
    * null-id check, the bucket-size guard, and the bucket build do not re-run
    * per micro-batch); malformed eval frames therefore fail at `start()`, not
    * mid-stream.
    *
    * 100 TB shape: per batch, the eval maps are re-broadcast (they ride each
    * batch's tasks) but the only exchange is the flagged-doc rollup and a
    * join of the (hit-proportional) flags back to the batch; nothing
    * corpus-proportional, no state store — the eval index is the state.
    */
  def semanticGateSink(stream: DataFrame, idCol: String, vecCol: String,
      evalSet: DataFrame, evalIdCol: String, evalVecCol: String, dim: Int,
      threshold: Double, planes: Int = 8, tables: Int = 1, seed: Long = 42L,
      maxBucketSize: Int = 10000,
      land: (Long, DataFrame) => Unit,
      quarantine: (Long, DataFrame) => Unit = (_, _) => ()): DataStreamWriter[Row] =
    semanticGateSink(stream, idCol, vecCol,
      graft.operators.Dedup.buildSemanticEvalIndex(
        evalSet, evalIdCol, evalVecCol, dim, planes, tables, seed, maxBucketSize),
      threshold, land, quarantine)

  /** [[semanticGateSink]] over a PREPARED (or [[graft.operators.Dedup
    * .loadSemanticEvalIndex]]-loaded) eval index — the standing-deployment
    * shape: build + persist the index once next to the eval data, load it at
    * every stream (re)start, no eval-frame rescan or re-validation.
    */
  def semanticGateSink(stream: DataFrame, idCol: String, vecCol: String,
      evalIndex: graft.operators.Dedup.SemanticEvalIndex, threshold: Double,
      land: (Long, DataFrame) => Unit,
      quarantine: (Long, DataFrame) => Unit): DataStreamWriter[Row] = {
    require(threshold >= -1 && threshold <= 1,
      s"threshold must be a cosine in [-1, 1], got $threshold")
    stream.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      gateSplit(batch.toDF(), batchId, idCol, "_gate_hits",
        df => graft.operators.Dedup.semanticContaminationFlagsIndexed(
            df, evalIndex, idCol, vecCol, threshold)
          .select(col(idCol), col("eval_hits").as("_gate_hits")),
        col("_gate_hits") > 0, land, quarantine, "semanticGateSink")
    }
  }

  /** Continuous constraint evaluation: run a (batchable) constraint set on each
    * micro-batch, emitting failures to the foreachBatch callback. For per-batch gating
    * (e.g. quarantine bad batches before they land).
    */
  def constraintSink(
      stream: DataFrame,
      constraints: Seq[graft.core.Constraint],
      onResult: (Long, Seq[graft.core.ConstraintResult]) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      onResult(batchId, graft.core.ValidationSuite.evaluateBatched(batch, constraints))
    }

  // ---------- streaming banded-recall near-dup dedup (foreachBatch + persisted index) ----

  /** Partition-column names the per-batch stores reserve for themselves. Leading
    * underscore keeps them out of any sane user schema AND (because the dir names
    * carry `=`) visible to Spark's partition discovery, while bare `_`-prefixed
    * files like the params marker stay invisible to it.
    */
  private val BatchCol = "_graft_batch"
  private val ShardCol = "_graft_idh"

  /** Fail loud on a store laid out by a PRE-`_graft_batch` version (partitions
    * named `batch=<id>`): every current read/compact path would silently ignore
    * those partitions — the survivors read loses standing corpus (recall silently
    * degrades), compaction never folds them, and partition discovery can throw a
    * conflicting-layout error far from the cause. A store is touched through
    * [[pinStoreParams]] (every batch operator's first act) and
    * [[compactBatchStore]], so both call this first.
    */
  private def assertCurrentLayout(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(root)) return
    val legacy = fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.matches("batch=-?\\d+"))
    require(legacy.isEmpty,
      s"store at $root uses the legacy 'batch=<id>' partition layout " +
        s"(${legacy.take(3).mkString(", ")}${if (legacy.length > 3) ", …" else ""}) — " +
        "current readers only see '_graft_batch=<id>' partitions, so its state would " +
        "be silently ignored. Rename each 'batch=<id>' directory to " +
        "'_graft_batch=<id>' (and shard survivors stores by '_graft_idh' via a " +
        "one-off rewrite), or rebuild the store from the landed corpus")
  }

  /** Pin a store's construction parameters: the first writer records `params` in a
    * `_graft_params` marker file inside `dir` (leading underscore without `=` ⇒
    * invisible to Spark's file listing); every later call must present the SAME
    * string or this fails loud. Banded/hashed state is silently incompatible across
    * parameter changes — bands can never match, recall degrades to zero with no
    * error anywhere — so a drifted caller must stop, not limp. (The pluggable
    * decoder/hash FUNCTIONS can't be fingerprinted here; those stay a documented
    * caller contract.)
    */
  private[graft] def pinStoreParams(spark: org.apache.spark.sql.SparkSession,
      dir: String, params: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir, "_graft_params")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    assertCurrentLayout(fs, new org.apache.hadoop.fs.Path(dir))
    if (fs.exists(path)) {
      val in = fs.open(path)
      val stored = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      require(stored == params,
        s"store at $dir was built with parameters [$stored] but this call uses " +
          s"[$params] — banded state is incompatible across parameter changes; " +
          "rebuild the store (or restore the original parameters)")
    } else {
      val out = fs.create(path, true)
      try out.write(params.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Read a persisted per-batch parquet store, tolerating a first-batch missing dir and
    * batches that landed ZERO rows (their `_graft_batch=<id>` dir holds only
    * `_SUCCESS`, which breaks schema inference — the explicit schema keeps the read
    * total). Only the schema's own columns are returned; the `_graft_batch` (and any
    * `_graft_idh` shard) partition columns stay internal. `pruneTo` filters on a
    * partition column BEFORE the projection, so a sharded store read prunes at the
    * directory level — the O(candidates) read path for verification state.
    */
  private[graft] def readBatchStore(dir: String, schemaFrom: DataFrame,
      pruneTo: Option[(String, Seq[Long])] = None): DataFrame = {
    // The store appends its own partition columns on read; a data column with a
    // reserved name would be shadowed by (or collide with) the partition value —
    // fail loud instead of round-tripping ambiguously.
    require(!schemaFrom.columns.contains(BatchCol) && !schemaFrom.columns.contains(ShardCol),
      s"columns $BatchCol/$ShardCol are reserved by the batch store " +
        s"(got ${schemaFrom.columns.mkString(", ")})")
    val spark = schemaFrom.sparkSession
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    // The layout guard must also cover SURVIVORS stores, which are never touched
    // by pinStoreParams (that only pins indexDir): a legacy-layout survivors
    // store would otherwise silently drop the standing corpus from verification.
    assertCurrentLayout(fs, path)
    val cols = schemaFrom.schema.fieldNames.map(col).toSeq
    // `_`-prefixed entries without `=` (the params marker, _SUCCESS) don't count as
    // store content — Spark's own listing skips them too.
    def hasContent = fs.listStatus(path).exists { st =>
      val n = st.getPath.getName
      n.contains("=") || !(n.startsWith("_") || n.startsWith("."))
    }
    if (fs.exists(path) && hasContent) {
      val df = spark.read.schema(schemaFrom.schema).parquet(dir)
      pruneTo.fold(df) { case (pcol, vals) => df.filter(col(pcol).isin(vals: _*)) }
        .select(cols: _*)
    } else schemaFrom.limit(0)
  }

  /** Survivors of `batch` after dropping the NEW side of every verified pair: a pair
    * with both sides in this batch drops `id_b` (keep-lowest, the batch family's
    * convention); a pair against the standing corpus drops whichever side is new (the
    * old doc already landed and cannot be retracted). Rows that never pair — including
    * null/tokenless content the hash kernels skip — always survive.
    */
  private def survivorsAfterPairs(batch: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val newIds = broadcast(batch.select(col(idCol).as("id_b")).distinct())
    val dropNewB = pairs.join(newIds, Seq("id_b"), "left_semi")
      .select(col("id_b").as("_drop"))
    // id_b is OLD ⇒ the incremental-pair contract (at least one side new) makes id_a new
    val dropNewA = pairs.join(newIds, Seq("id_b"), "left_anti")
      .select(col("id_a").as("_drop"))
    batch.join(dropNewB.union(dropNewA).distinct(),
      col(idCol) === col("_drop"), "left_anti")
  }

  /** One micro-batch of streaming MinHash near-dup dedup with FULL banded recall —
    * the stateful-store twin of the batch [[graft.operators.Dedup.dedupNearMinhash]],
    * replacing the equality-keyed [[streamingDedupSimhash]] gate (Hamming-0 recall
    * only) where real near-dup recall matters. Synchronous and directly testable;
    * [[nearDupDedupSink]] wraps it for `writeStream.foreachBatch`.
    *
    * State is two persisted parquet stores, not executor memory:
    *   - `indexDir`: the standing corpus's LSH bands ((id, band, bucket) — ~24 B/doc/band,
    *     from [[graft.operators.Dedup.minhashIndex]]), joined per batch by
    *     [[graft.operators.Dedup.incrementalMinhashCandidates]] so each batch pays the
    *     signature kernel over ITS OWN rows only;
    *   - `survivorsDir`: the accepted rows themselves (the pipeline's landed output),
    *     sharded by id-hash (`_graft_idh = xxhash64(id) mod idShards` under each batch
    *     partition) and read back ONLY for the shards holding a STANDING-CORPUS side
    *     of a candidate pair (new-side docs resolve from the batch itself) —
    *     the verification scan is O(candidate shards), not O(landed corpus), pruned at
    *     the directory level (exactJaccard's semi-join then restricts the WORK to the
    *     candidate docs themselves).
    * Both stores append one `_graft_batch=<id>` partition per micro-batch with
    * OVERWRITE (static partition-overwrite, pinned on the writer), so a failure-retried
    * batch replaces its own partition — including any half-written files from the
    * failed attempt — instead of double-landing: idempotent under foreachBatch's
    * at-least-once contract. Compact either store with `Sources.compactSmallFiles`
    * when small per-batch files accumulate.
    *
    * Contracts: ids unique across batches (they are pair identity); parameters fixed
    * for the life of the stores — ENFORCED by a `_graft_params` marker pinned on
    * first write (a drifted bands/numHashes/shingleSize/idShards fails loud instead of
    * silently matching nothing); parity with the batch keep-lowest pass additionally
    * needs ARRIVAL-ORDERED ids (a new doc with a lower id than its landed near-dup
    * drops here — the landed row cannot be retracted — while the batch pass would keep
    * it). The index grows with the accepted corpus by design (that is the recall
    * horizon); bound it by rebuilding from a retention window.
    *
    * Returns the batch's survivors (already durably written to `survivorsDir`).
    */
  def nearDupDedupBatch(batch: DataFrame, batchId: Long, idCol: String, textCol: String,
      indexDir: String, survivorsDir: String, threshold: Double,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 16,
      maxBucketSize: Int = 1000, idShards: Int = 64): DataFrame = {
    import graft.operators.Dedup
    require(idShards > 0, s"idShards must be positive, got $idShards")
    // Parameter validation BEFORE the pin: the empty-index construction runs the
    // kernel's own requires (numHashes % bands etc.), so a first-ever call with
    // invalid params fails here instead of pinning the bad parameter string into
    // `_graft_params` — which would then reject the corrected retry until the
    // marker was deleted by hand.
    val emptyIndex = Dedup.minhashIndex(batch.limit(0), idCol, textCol,
      shingleSize, numHashes, bands)
    pinStoreParams(batch.sparkSession, indexDir, "minhash " +
      s"shingleSize=$shingleSize numHashes=$numHashes bands=$bands idShards=$idShards")
    val index = readBatchStore(indexDir, emptyIndex)
    // Candidates FIRST (materialized — the verify stage consumes them three times
    // anyway): their id set decides which survivor-store shards the exact-Jaccard
    // verification must read.
    val cands = Dedup.incrementalMinhashCandidates(batch, index, idCol, textCol,
      shingleSize, numHashes, bands, maxBucketSize).localCheckpoint(true)
    val survivors = verifyAgainstShardedStore(batch, batchId, idCol, textCol,
      cands, survivorsDir, idShards,
      (c, all) => Dedup.exactJaccard(c, all, idCol, textCol, shingleSize,
          minJaccard = threshold)
        .filter(col("jaccard") >= threshold))
    Dedup.minhashIndex(survivors, idCol, textCol, shingleSize, numHashes, bands)
      .write.mode("overwrite").parquet(s"$indexDir/$BatchCol=$batchId")
    survivors
  }

  /** Shared tail of the store-backed dedup batches (text MinHash / embedding):
    * collect the candidates' STANDING-CORPUS id-hash shards (new-side docs resolve
    * from the batch itself — including them would degrade the pruned read toward a
    * full scan on large batches; the collect is bounded by idShards values), read
    * only those survivor shards, run the modality's exact `verify(cands, allDocs)`
    * check, drop the new side of verified pairs, and land survivors sharded by
    * id-hash under this batch's static-overwrite partition. Returns the landed
    * survivors (localCheckpointed — consumed by the caller's index write too).
    */
  private def verifyAgainstShardedStore(batch: DataFrame, batchId: Long,
      idCol: String, payloadCol: String, cands: DataFrame, survivorsDir: String,
      idShards: Int, verify: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    // The WHOLE batch schema must avoid the reserved names, not just the id+payload
    // read projection: survivors land with `withColumn(ShardCol, …)` (which would
    // silently REPLACE a caller's same-named data column) under a BatchCol=<id>
    // partition dir (where a same-named data column collides with partition
    // discovery on later full-store reads).
    require(!batch.columns.contains(BatchCol) && !batch.columns.contains(ShardCol),
      s"columns $BatchCol/$ShardCol are reserved by the survivors store " +
        s"(batch schema: ${batch.columns.mkString(", ")}) — rename them upstream")
    // Layout guard on the WRITE path too: with zero candidates the pruned read
    // (which carries its own guard) is skipped entirely, and a batch would land
    // next to legacy partitions it can never verify against.
    locally {
      val p = new org.apache.hadoop.fs.Path(survivorsDir)
      assertCurrentLayout(p.getFileSystem(
        batch.sparkSession.sessionState.newHadoopConf()), p)
    }
    // Pin the shard modulus on the SURVIVORS store too (the index store pins
    // the full operator params): the pruned read computes pmod(xxhash64(id),
    // idShards) against the stored dirs, so a retention rebuild with a
    // different modulus would land survivors in shards the sink never probes —
    // silent dedup false negatives. replaceSurvivorsStore checks this marker.
    pinStoreParams(batch.sparkSession, survivorsDir, s"survivors idShards=$idShards")
    val shardOf = (c: Column) => pmod(xxhash64(c), lit(idShards.toLong))
    val docsOnly = batch.select(col(idCol), col(payloadCol))
    val candShards = cands.select(col("id_a").as("_cid"))
      .union(cands.select(col("id_b").as("_cid"))).distinct()
      .join(batch.select(col(idCol).as("_cid")).distinct(), Seq("_cid"), "left_anti")
      .select(shardOf(col("_cid")).as("s"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val landed =
      if (candShards.isEmpty) docsOnly.limit(0)
      else readBatchStore(survivorsDir, docsOnly, pruneTo = Some((ShardCol, candShards)))
    val verified = verify(cands, docsOnly.unionByName(landed))
    val survivors = survivorsAfterPairs(batch, idCol, verified)
      .localCheckpoint(true) // consumed twice (both writes) + returned: one computation
    survivors.withColumn(ShardCol, shardOf(col(idCol)))
      .write.mode("overwrite").option("partitionOverwriteMode", "static")
      .partitionBy(ShardCol).parquet(s"$survivorsDir/$BatchCol=$batchId")
    survivors
  }

  /** Compaction cadence shared by the store-backed dedup sinks: after every
    * `compactEvery`-th micro-batch, fold each store's committed-past partitions
    * (`id <= batchId - 1`) into one. The committed-past contract is enforced here
    * IN CODE, not by the caller: when batch `batchId`'s foreachBatch runs, the
    * engine has already written batch `batchId - 1`'s commit-log entry, so every
    * folded id is final — only the CURRENT batch can ever be retried, and it is
    * never folded. Running inline in foreachBatch also serializes compaction with
    * the stream's own store reads (no read can race the publish-then-delete
    * window), which is what makes the cadence safe without any pause/lock
    * protocol. `compactEvery = 0` (the default) disables compaction.
    */
  private[graft] def maybeCompact(spark: org.apache.spark.sql.SparkSession,
      batchId: Long, compactEvery: Int, dirs: String*): Unit = {
    require(compactEvery >= 0, s"compactEvery must be >= 0, got $compactEvery")
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      dirs.foreach(d => compactBatchStore(spark, d, batchId - 1))
  }

  /** `writeStream.foreachBatch` adapter for [[nearDupDedupBatch]]: each micro-batch is
    * deduped against everything accepted so far (banded recall, exact-Jaccard
    * verified), survivors land in `survivorsDir`, and their bands extend the index for
    * the next batch. `onBatch` sees (batchId, survivors-written) for metrics/alerting.
    * `compactEvery = N` folds both stores' committed-past per-batch partitions every
    * N batches ([[maybeCompact]]) so the file-listing cost of the store reads stays
    * flat over an unbounded stream instead of growing one partition per micro-batch.
    */
  def nearDupDedupSink(stream: DataFrame, idCol: String, textCol: String,
      indexDir: String, survivorsDir: String, threshold: Double,
      shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 16,
      maxBucketSize: Int = 1000, idShards: Int = 64, compactEvery: Int = 0,
      onBatch: (Long, Long) => Unit = (_, _) => ()): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      val survivors = nearDupDedupBatch(batch, batchId, idCol, textCol, indexDir,
        survivorsDir, threshold, shingleSize, numHashes, bands, maxBucketSize, idShards)
      onBatch(batchId, survivors.count())
      maybeCompact(batch.sparkSession, batchId, compactEvery, indexDir, survivorsDir)
    }

  /** One micro-batch of streaming IMAGE near-dup dedup with banded ≤`maxHamming`-bit
    * recall — the stateful-store twin of [[graft.operators.Multimodal.dedupImages]],
    * replacing the Hamming-0-only [[streamingDedupImageHash]] gate. The persisted
    * index IS the verification state (16 B (id, hash) rows; Hamming is exact on the
    * banded join), so unlike the MinHash path no survivor text/bytes are re-read —
    * survivors are returned for the caller to land, and only their hash rows persist.
    * Same per-batch `_graft_batch=<id>` overwrite idempotency, unique-id, fixed-parameter,
    * and arrival-ordered-id parity contracts as [[nearDupDedupBatch]].
    */
  def imageDedupBatch(batch: DataFrame, batchId: Long, idCol: String, binCol: String,
      indexDir: String, maxHamming: Int = 3, maxBucketSize: Int = 10000): DataFrame = {
    import graft.operators.Multimodal
    // The aHash algorithm has no tunables, but the pin still catches the real
    // mistake class of pointing two DIFFERENT media families at one store dir.
    pinStoreParams(batch.sparkSession, indexDir, "image-ahash")
    val emptyIndex = Multimodal.imageHashIndex(batch.limit(0), idCol, binCol)
    val index = readBatchStore(indexDir, emptyIndex)
    val pairs = Multimodal.incrementalImagePairs(batch, index, idCol, binCol,
      maxHamming, maxBucketSize)
    val survivors = survivorsAfterPairs(batch, idCol, pairs).localCheckpoint(true)
    Multimodal.imageHashIndex(survivors, idCol, binCol)
      .write.mode("overwrite").parquet(s"$indexDir/$BatchCol=$batchId")
    survivors
  }

  /** Audio twin of [[imageDedupBatch]] over the loudness-envelope hash — the banded
    * replacement for [[streamingDedupAudioHash]]'s Hamming-0 gate; same contracts.
    */
  def audioDedupBatch(batch: DataFrame, batchId: Long, idCol: String, binCol: String,
      indexDir: String, maxHamming: Int = 3, maxBucketSize: Int = 10000): DataFrame = {
    import graft.operators.Multimodal
    pinStoreParams(batch.sparkSession, indexDir, "audio-envhash")
    val emptyIndex = Multimodal.audioHashIndex(batch.limit(0), idCol, binCol)
    val index = readBatchStore(indexDir, emptyIndex)
    val pairs = Multimodal.incrementalAudioPairs(batch, index, idCol, binCol,
      maxHamming, maxBucketSize)
    val survivors = survivorsAfterPairs(batch, idCol, pairs).localCheckpoint(true)
    Multimodal.audioHashIndex(survivors, idCol, binCol)
      .write.mode("overwrite").parquet(s"$indexDir/$BatchCol=$batchId")
    survivors
  }

  /** Video twin of [[imageDedupBatch]] over the per-frame aHash index
    * ([[graft.operators.Multimodal.videoFrameHashIndex]], ~20 B/frame): clips in the
    * batch pair against everything accepted so far when ≥ `minMatchingFrames`
    * frames match within `maxHamming` bits — frame decode runs only over the
    * batch's OWN clips, through the same pluggable `decoder` hook as the batch
    * operators (parameters fixed for the life of the store). Same contracts as
    * [[nearDupDedupBatch]] (unique ids, _graft_batch=<id> overwrite idempotency,
    * arrival-ordered-id parity).
    */
  def videoDedupBatch(batch: DataFrame, batchId: Long, idCol: String, binCol: String,
      indexDir: String,
      decoder: (Array[Byte], Int, Int) => Seq[Array[Byte]] =
        graft.operators.Multimodal.DefaultFrameDecoder,
      everyNth: Int = 1, maxFrames: Int = 16, maxHamming: Int = 3,
      minMatchingFrames: Int = 2, maxBucketSize: Int = 10000): DataFrame = {
    import graft.operators.Multimodal
    // everyNth/maxFrames shape the stored frame rows themselves; the decoder
    // FUNCTION can't be fingerprinted and stays a documented caller contract.
    // Validation BEFORE the pin: an invalid first call must not record its bad
    // parameter string into `_graft_params` (which would then reject the
    // corrected retry until the marker was deleted by hand).
    require(everyNth >= 1, s"everyNth must be >= 1, got $everyNth")
    require(maxFrames >= 1, s"maxFrames must be >= 1, got $maxFrames")
    val emptyIndex = Multimodal.videoFrameHashIndex(batch.limit(0), idCol, binCol,
      decoder, everyNth, maxFrames)
    pinStoreParams(batch.sparkSession, indexDir,
      s"video-framehash everyNth=$everyNth maxFrames=$maxFrames")
    val index = readBatchStore(indexDir, emptyIndex)
    val pairs = Multimodal.incrementalVideoPairs(batch, index, idCol, binCol,
      decoder, everyNth, maxFrames, maxHamming, minMatchingFrames, maxBucketSize)
    val survivors = survivorsAfterPairs(batch, idCol, pairs).localCheckpoint(true)
    Multimodal.videoFrameHashIndex(survivors, idCol, binCol, decoder, everyNth, maxFrames)
      .write.mode("overwrite").parquet(s"$indexDir/$BatchCol=$batchId")
    survivors
  }

  /** `foreachBatch` adapter for [[videoDedupBatch]] — same shape as
    * [[mediaDedupSink]]: `land` is the caller's durable write for surviving rows
    * (clip bytes land where the pipeline wants them; only ~20 B frame-hash rows
    * persist in the index).
    */
  def videoDedupSink(stream: DataFrame, idCol: String, binCol: String, indexDir: String,
      decoder: (Array[Byte], Int, Int) => Seq[Array[Byte]] =
        graft.operators.Multimodal.DefaultFrameDecoder,
      everyNth: Int = 1, maxFrames: Int = 16, maxHamming: Int = 3,
      minMatchingFrames: Int = 2, maxBucketSize: Int = 10000, compactEvery: Int = 0,
      land: (Long, DataFrame) => Unit = (_, _) => ()): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      land(batchId, videoDedupBatch(batch.toDF(), batchId, idCol, binCol, indexDir,
        decoder, everyNth, maxFrames, maxHamming, minMatchingFrames, maxBucketSize))
      maybeCompact(batch.sparkSession, batchId, compactEvery, indexDir)
    }

  /** `foreachBatch` adapter for [[imageDedupBatch]] / [[audioDedupBatch]]: `land` is
    * the caller's durable write for the batch's surviving rows (bytes land where the
    * pipeline wants them; only 16 B hash rows persist in the index).
    */
  def mediaDedupSink(stream: DataFrame, idCol: String, binCol: String, indexDir: String,
      audio: Boolean = false, maxHamming: Int = 3, maxBucketSize: Int = 10000,
      compactEvery: Int = 0,
      land: (Long, DataFrame) => Unit = (_, _) => ()): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      val survivors =
        if (audio) audioDedupBatch(batch.toDF(), batchId, idCol, binCol, indexDir,
          maxHamming, maxBucketSize)
        else imageDedupBatch(batch.toDF(), batchId, idCol, binCol, indexDir,
          maxHamming, maxBucketSize)
      land(batchId, survivors)
      maybeCompact(batch.sparkSession, batchId, compactEvery, indexDir)
    }

  /** One micro-batch of streaming EMBEDDING near-dup dedup with hyperplane-LSH
    * banded recall — the vector member of the streaming dedup family (text MinHash /
    * image / audio / video), stateful twin of
    * [[graft.operators.Dedup.nearDupPairsEmbedding]]. Like the text path (and unlike
    * the media paths, whose hash index IS the verification state), cosine
    * verification needs the actual vectors, so survivors persist to `survivorsDir`
    * sharded by id-hash and the verification read prunes to the candidates'
    * standing-corpus shards. `indexDir` holds ~20 B `(id, table, bucket)` rows from
    * [[graft.operators.Dedup.embeddingBucketIndex]] — each batch buckets only ITS
    * OWN vectors. Parameters are pinned on first write; same unique-id,
    * `_graft_batch=<id>` overwrite-idempotency, and arrival-ordered-id parity
    * contracts as [[nearDupDedupBatch]].
    */
  def embeddingDedupBatch(batch: DataFrame, batchId: Long, idCol: String,
      vecCol: String, indexDir: String, survivorsDir: String, dim: Int,
      threshold: Double, planes: Int = 8, tables: Int = 1, seed: Long = 42L,
      maxBucketSize: Int = 10000, idShards: Int = 64): DataFrame = {
    import graft.operators.Dedup
    require(idShards > 0, s"idShards must be positive, got $idShards")
    // validate params (the empty-index build runs the planes/tables/dim requires)
    // BEFORE pinning — same first-call ordering rule as nearDupDedupBatch
    val emptyIndex = Dedup.embeddingBucketIndex(batch.limit(0), idCol, vecCol,
      dim, planes, tables, seed)
    pinStoreParams(batch.sparkSession, indexDir, "embedding " +
      s"dim=$dim planes=$planes tables=$tables seed=$seed idShards=$idShards")
    val index = readBatchStore(indexDir, emptyIndex)
    // Same shape as the text path: GUARDED candidates first (the bucket-size guard
    // inside the candidate kernel also bounds the shared tail's shard collect),
    // then cosine verification over batch vectors + pruned landed vectors.
    val cands = Dedup.incrementalEmbeddingCandidates(batch, index, idCol, vecCol,
      dim, planes, tables, seed, maxBucketSize).localCheckpoint(true)
    val survivors = verifyAgainstShardedStore(batch, batchId, idCol, vecCol,
      cands, survivorsDir, idShards,
      (c, all) => Dedup.cosineVerifyPairs(c, all, idCol, vecCol, threshold))
    Dedup.embeddingBucketIndex(survivors, idCol, vecCol, dim, planes, tables, seed)
      .write.mode("overwrite").parquet(s"$indexDir/$BatchCol=$batchId")
    survivors
  }

  /** `writeStream.foreachBatch` adapter for [[embeddingDedupBatch]]: each
    * micro-batch of vectors is deduped against everything accepted so far,
    * survivors land in `survivorsDir`, and their LSH buckets extend the index.
    */
  def embeddingDedupSink(stream: DataFrame, idCol: String, vecCol: String,
      indexDir: String, survivorsDir: String, dim: Int, threshold: Double,
      planes: Int = 8, tables: Int = 1, seed: Long = 42L,
      maxBucketSize: Int = 10000, idShards: Int = 64, compactEvery: Int = 0,
      onBatch: (Long, Long) => Unit = (_, _) => ()): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      val survivors = embeddingDedupBatch(batch.toDF(), batchId, idCol, vecCol,
        indexDir, survivorsDir, dim, threshold, planes, tables, seed,
        maxBucketSize, idShards)
      onBatch(batchId, survivors.count())
      maybeCompact(batch.sparkSession, batchId, compactEvery, indexDir, survivorsDir)
    }

  /** Compact a per-batch store: fold every `_graft_batch=<id>` partition with
    * `0 <= id <= upToBatch` — plus any earlier compaction output — into ONE fresh
    * negative-id partition, preserving the `_graft_idh` shard layout when present
    * (the survivors read keeps pruning after compaction). A streaming store
    * accumulates one partition of small files per micro-batch; at thousands of
    * batches the file LISTING dominates every read, which is exactly the cost this
    * removes (compare `Sources.compactSmallFiles`, which cannot be pointed at a
    * live store because it strips the partition layout).
    *
    * Crash-safe ordering: the fold lands in an underscore temp dir first — no `=`
    * in the name, so Spark's listing cannot see a half-written fold — carrying a
    * `_graft_folded` manifest of the source partition ids; one rename publishes
    * it, and only then are the source partitions deleted. A crash between publish
    * and delete double-lands rows ONLY until the next call: every run first heals
    * by deleting any source partition still present that a published fold's
    * manifest already covers (re-folding such leftovers would duplicate their
    * rows permanently — the fold already contains them).
    *
    * Caller contract: compact only batches the streaming checkpoint has fully
    * committed past — a foreachBatch RETRY of a compacted batch id would re-land
    * that batch's rows alongside the fold (the per-batch overwrite heals only its
    * own partition; the manifest heal then removes the re-landed copy in favor of
    * the fold, which is identical under the retry-idempotency contract). The sinks'
    * `compactEvery` cadence ([[maybeCompact]]) satisfies this by construction
    * (`upToBatch = batchId - 1` inside batch `batchId`'s foreachBatch). Negative
    * ids are reserved for compaction output; foreachBatch ids are non-negative by
    * construction.
    *
    * Concurrency contract: compaction must not race the store's READERS — a
    * survivors/index read that lists files before the publish and resolves them
    * after the source deletes hits FileNotFoundException, and one that lists
    * DURING the publish-then-delete window can see a row in both the fold and its
    * source. The sink cadence runs compaction inline in foreachBatch, which
    * serializes it with that stream's own reads; an OUT-OF-BAND call must run with
    * the stream paused between micro-batches (and any external readers quiesced).
    * Two concurrent COMPACTORS are detected at publish: the rename loser fails
    * loud BEFORE deleting any source partition (the next call heals from the
    * winner's manifest).
    *
    * Returns the published compaction partition id, or None when nothing to fold.
    */
  def compactBatchStore(spark: org.apache.spark.sql.SparkSession, dir: String,
      upToBatch: Long): Option[Long] =
    compactBatchStoreImpl(spark, dir, upToBatch, () => ())

  /** [[compactBatchStore]] with a test seam fired right before the publish rename —
    * how the concurrent-compactor loser path is exercised deterministically.
    */
  private[graft] def compactBatchStoreImpl(spark: org.apache.spark.sql.SparkSession,
      dir: String, upToBatch: Long, preRename: () => Unit): Option[Long] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return None
    assertCurrentLayout(fs, root)
    sweepOrphanTmps(fs, root)
    def listIds(): Array[Long] = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith(s"$BatchCol="))
      .flatMap(n => scala.util.Try(n.stripPrefix(s"$BatchCol=").toLong).toOption)
    // Manifest read with an integrity gate: the last line is a `end <count>`
    // terminator written with the ids, so a truncated/corrupt manifest (object-store
    // partial write, fs corruption) fails LOUD here instead of silently healing a
    // PREFIX of the folded ids — the unhealed suffix would be re-folded by the
    // next compaction and its rows duplicated permanently.
    def readManifest(manifest: org.apache.hadoop.fs.Path): Seq[Long] = {
      def corrupt(why: String) = new IllegalStateException(
        s"compaction manifest $manifest is corrupt ($why). The fold's DATA is " +
          "intact, but its source list is unreadable, so automatic healing could " +
          "duplicate rows. Reconcile by hand: delete every source " +
          s"$BatchCol=<id> directory whose rows the fold already contains " +
          "(or delete the fold itself and re-compact from the sources), then re-run.")
      // An I/O-level failure (checksum mismatch, partial object) IS corruption —
      // surface the same actionable message, not a raw filesystem exception.
      val lines = try {
        val in = fs.open(manifest)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .map(_.trim).filter(_.nonEmpty).toVector finally in.close()
      } catch { case e: java.io.IOException =>
        throw corrupt(s"unreadable: ${e.getMessage}") }
      if (lines.isEmpty) throw corrupt("empty")
      // Terminator-less manifests were written by the previous release: accept
      // them when EVERY line parses as an id (rename-published files cannot
      // truncate on local/HDFS stores, so the residual risk is the one they
      // always carried) — a format-version wedge on a healthy store would stall
      // the whole stream under the inline sink cadence.
      if (!lines.last.startsWith("end ")) {
        log.warn(s"compactBatchStore: legacy terminator-less manifest at $manifest " +
          "— accepted; the next fold rewrites it in the current format")
        return lines.map(l => l.toLongOption.getOrElse(
          throw corrupt(s"unreadable id line '$l'")))
      }
      val n = lines.last.stripPrefix("end ").toLongOption
        .getOrElse(throw corrupt("unreadable terminator"))
      val ids = lines.dropRight(1).map(l =>
        l.toLongOption.getOrElse(throw corrupt(s"unreadable id line '$l'")))
      if (ids.length != n) throw corrupt(s"terminator says $n ids, found ${ids.length}")
      ids
    }
    // HEAL before planning: a prior run that crashed between publish and delete
    // left source partitions whose rows the published fold already holds —
    // re-folding them would duplicate rows permanently, so finish its deletes.
    // This also covers the retry-of-a-folded-batch case: a foreachBatch retry that
    // re-landed a manifest-covered id is deleted here in favor of the fold (the
    // two are identical under the retry-idempotency contract).
    listIds().filter(_ < 0).foreach { negId =>
      val manifest = new org.apache.hadoop.fs.Path(dir,
        s"$BatchCol=$negId/_graft_folded")
      if (fs.exists(manifest)) {
        readManifest(manifest).foreach { id =>
          val p = new org.apache.hadoop.fs.Path(dir, s"$BatchCol=$id")
          if (fs.exists(p)) {
            log.warn(s"compactBatchStore: healing interrupted compaction — " +
              s"$BatchCol=$id is already folded into $BatchCol=$negId, deleting leftover")
            fs.delete(p, true)
          }
        }
      }
    }
    val batchIds = listIds()
    val fold = batchIds.filter(id => id < 0 || (id >= 0 && id <= upToBatch))
    if (fold.isEmpty) return None
    // Single surviving fold and nothing new to add: re-running is a no-op, not a
    // full rewrite of the compacted corpus under a fresh id.
    if (fold.length == 1 && fold(0) < 0) return Some(fold(0))
    val newId = math.min(batchIds.min, 0L) - 1L
    // Zero-survivor batches hold only _SUCCESS: a parquet read over NO data files
    // cannot infer a schema, so fold only partitions that actually have one —
    // file-less partitions are still deleted below (that is half the point).
    def hasDataFile(p: org.apache.hadoop.fs.Path): Boolean = {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val n = it.next().getPath.getName
        found = !(n.startsWith("_") || n.startsWith("."))
      }
      found
    }
    val withData = fold.filter(id =>
      hasDataFile(new org.apache.hadoop.fs.Path(dir, s"$BatchCol=$id")))
    if (withData.isEmpty) {
      fold.foreach(id =>
        fs.delete(new org.apache.hadoop.fs.Path(dir, s"$BatchCol=$id"), true))
      return None
    }
    val paths = withData.map(id => s"$dir/$BatchCol=$id")
    // basePath keeps the partition columns (incl. any shard column) visible;
    // mergeSchema because batches may carry EVOLVED schemas (nothing pins the
    // streamed row shape) — the default first-footer schema would silently drop
    // later batches' added columns from the fold, a permanent data loss.
    val df = spark.read.option("basePath", dir).option("mergeSchema", "true")
      .parquet(paths: _*)
    publishFold(fs, dir, df.drop(BatchCol), fold, newId, preRename)
    Some(newId)
  }

  /** Sweep orphaned temp folds from crashed prior attempts: tmp names are
    * UUID-unique (so concurrent publishers can't clobber each other), which
    * means a crash leaves a near-corpus-sized junk dir no later attempt would
    * ever reuse — without this sweep it accumulates forever. Runs at the top of
    * BOTH [[compactBatchStore]] and [[replaceBatchStore]]: a retention-rebuild
    * store that is only ever replaced must not depend on a compaction call to
    * reclaim its crashed tmps. A concurrent publisher whose live tmp this
    * deletes fails loud at its own write/publish with sources untouched
    * (concurrent publishers are already a misuse path).
    */
  private def sweepOrphanTmps(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit =
    fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("_graft_compact_tmp_")).foreach { orphan =>
        log.warn(s"batch store at $root: deleting orphaned temp fold $orphan " +
          "(crashed prior attempt)")
        fs.delete(orphan, true)
      }

  /** Publish `df` as the `_graft_batch=<newId>` partition of `dir`, REPLACING the
    * `covered` source partitions: tmp write (preserving any `_graft_idh` shard
    * layout) + a terminated manifest of the covered ids, one rename to publish,
    * then the source deletes. Crash between publish and delete heals on the next
    * compact/replace call via the manifest. Shared tail of [[compactBatchStore]]
    * (fold = union of sources) and [[replaceBatchStore]] (fold = a freshly
    * recomputed index — covered rows are SUPERSEDED, not necessarily contained,
    * which the manifest heal is equally correct for: a covered leftover is
    * deleted in favor of the fold either way).
    */
  private def publishFold(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      df: DataFrame, covered: Array[Long], newId: Long, preRename: () => Unit): Unit = {
    // UUID-unique temp name: two concurrent publishers computing the same newId
    // must not clobber each other's half-written fold (the collision is then
    // caught at publish, below, before either deletes anything).
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s"_graft_compact_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    val writer = df.write.mode("overwrite")
    (if (df.columns.contains(ShardCol)) writer.partitionBy(ShardCol) else writer)
      .parquet(tmp.toString)
    // Manifest of covered source ids rides inside the fold (the rename publishes
    // both atomically): it is what lets a later run heal an interrupted delete
    // instead of duplicating the sources into the next fold. Underscore name
    // without `=` keeps it invisible to Spark's listings. The `end <count>`
    // terminator is the integrity gate readManifest requires.
    locally {
      val out = fs.create(new org.apache.hadoop.fs.Path(tmp, "_graft_folded"), true)
      try out.write((covered.mkString("", "\n", "\n") + s"end ${covered.length}\n")
        .getBytes("UTF-8")) finally out.close()
    }
    val target = new org.apache.hadoop.fs.Path(dir, s"$BatchCol=$newId")
    preRename()
    // Publish gate, all failure paths BEFORE any source delete: (1) a concurrent
    // publisher already took this id — abort, the next call heals from its
    // manifest; (2) the rename itself failed; (3) the rename LANDED INSIDE a
    // concurrently-published target (Hadoop rename-into-existing-directory
    // semantics on a race between the exists probe and the rename) — remove the
    // nested junk and abort.
    def loseRace(why: String): Nothing = {
      fs.delete(tmp, true)
      throw new IllegalStateException(
        s"fold publish into $dir lost a race ($why) — aborting BEFORE deleting " +
          "any source partition; re-run to heal from the winner's manifest")
    }
    if (fs.exists(target)) loseRace(s"$target already exists")
    require(fs.rename(tmp, target), s"fold publish rename failed: $tmp -> $target")
    val nested = new org.apache.hadoop.fs.Path(target, tmp.getName)
    if (fs.exists(nested)) { fs.delete(nested, true); loseRace(s"rename nested into $target") }
    covered.foreach(id =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, s"$BatchCol=$id"), true))
  }

  /** Atomically REPLACE a per-batch store's entire contents with a freshly
    * computed frame — the RETENTION REBUILD that bounds a streaming dedup
    * index's standing state. The per-batch indexes grow with the accepted
    * corpus by design (that is the recall horizon); when the horizon should be
    * a retention window instead (e.g. "only dedup against the last 90 days"),
    * recompute the index over the retained corpus with the SAME kernel and
    * parameters the sink uses (e.g. [[graft.operators.Dedup.minhashIndex]] over
    * the retained survivors — present `params` exactly as pinned, drift fails
    * loud) and swap it in here:
    *
    *   - crash-safe like compaction: tmp write + covered-ids manifest, one
    *     rename, then source deletes (an interrupted replace heals on the next
    *     compact/replace call);
    *   - same quiescence contract as out-of-band [[compactBatchStore]]: run
    *     with the stream paused between micro-batches;
    *   - `_graft_idh`-sharded frames keep their directory-pruned read path —
    *     when replacing a SURVIVORS store (not just an index), the replacement
    *     must carry the `_graft_idh` column itself (`pmod(xxhash64(id),
    *     idShards)`); a replacement missing it against a sharded store fails
    *     loud HERE, before anything is written, not later inside the sink's
    *     pruned verification read.
    *
    * Returns the published partition id, or None when the store has no batch
    * partitions AND `replacement` is empty (nothing to replace or publish).
    */
  def replaceBatchStore(spark: org.apache.spark.sql.SparkSession, dir: String,
      replacement: DataFrame, params: Option[String] = None): Option[Long] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    params.foreach(p => pinStoreParams(spark, dir, p)) // layout-guards + pin check
    require(!replacement.columns.contains(BatchCol),
      s"column $BatchCol is reserved by the batch store")
    if (!fs.exists(root)) fs.mkdirs(root)
    assertCurrentLayout(fs, root)
    sweepOrphanTmps(fs, root)
    val batchDirs = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith(s"$BatchCol="))
    // A sharded store (survivors laid out as _graft_batch=<id>/_graft_idh=<h>)
    // read back by the sink PRUNES on the shard column; a replacement published
    // without it would surface later as a partition-discovery/unresolved-column
    // error in the middle of a micro-batch, far from this call. Fail here, with
    // the fix in the message, while the store is still untouched.
    val storeIsSharded = batchDirs.exists(d => fs.listStatus(d)
      .exists(s => s.isDirectory && s.getPath.getName.startsWith(s"$ShardCol=")))
    require(!storeIsSharded || replacement.columns.contains(ShardCol),
      s"store at $dir is sharded by $ShardCol but the replacement frame does not " +
        s"carry that column — the sink's pruned verification read would fail on the " +
        s"missing partition column. Add it exactly as the sink does: " +
        s"pmod(xxhash64(<idCol>), idShards) with the pinned idShards")
    val covered = batchDirs.map(_.getName)
      .flatMap(n => scala.util.Try(n.stripPrefix(s"$BatchCol=").toLong).toOption)
    val newId = math.min(if (covered.isEmpty) 0L else covered.min, 0L) - 1L
    if (covered.isEmpty && replacement.isEmpty) return None
    publishFold(fs, dir, replacement, covered, newId, () => ())
    Some(newId)
  }

  /** [[replaceBatchStore]] for a SURVIVORS store, with the shard column
    * computed HERE — the caller cannot hand-roll a wrong formula — and
    * `idShards` checked against the modulus the sink pinned at its first
    * write. The column-present guard in [[replaceBatchStore]] cannot catch a
    * wrong MODULUS (a mod-32 rebuild against a mod-64 store publishes shard
    * dirs the sink's pruned read never probes for half the id space — retained
    * docs silently repost as new); the params marker can, so this is the
    * supported way to rebuild a survivors store over a retention window.
    * `replacement` carries the sink's survivor schema (id + payload), WITHOUT
    * the shard column.
    */
  def replaceSurvivorsStore(spark: org.apache.spark.sql.SparkSession, dir: String,
      replacement: DataFrame, idCol: String, idShards: Int): Option[Long] = {
    require(idShards > 0, s"idShards must be positive, got $idShards")
    require(!replacement.columns.contains(ShardCol),
      s"replaceSurvivorsStore computes $ShardCol itself — drop the caller's column")
    replaceBatchStore(spark, dir,
      replacement.withColumn(ShardCol, pmod(xxhash64(col(idCol)), lit(idShards.toLong))),
      Some(s"survivors idShards=$idShards"))
  }
}
