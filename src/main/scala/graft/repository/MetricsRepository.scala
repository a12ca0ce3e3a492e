package graft.repository

import graft.core.MetricValue

/** Time-series persistence of metric runs
  * (reference: term-guard/src/repository/mod.rs:59, result_key.rs:27-270, query.rs:36-368).
  */
final case class ResultKey(timestamp: Long, tags: Map[String, String] = Map.empty)

final case class MetricRecord(key: ResultKey, metrics: Map[String, Double])

/** Filter/sort/paginate over stored runs (reference: repository/query.rs). */
final case class MetricsQuery(
    before: Option[Long] = None,
    after: Option[Long] = None,
    withTags: Map[String, String] = Map.empty,
    forAnalyzers: Seq[String] = Nil,
    limit: Option[Int] = None,
    offset: Int = 0,
    newestFirst: Boolean = true) {
  def matches(r: MetricRecord): Boolean =
    before.forall(r.key.timestamp < _) &&
    after.forall(r.key.timestamp > _) &&
    withTags.forall { case (k, v) => r.key.tags.get(k).contains(v) }
}

trait MetricsRepository {
  /** Persist one run's metrics. Saving the SAME key again merges the metric maps into
    * one record (every backend); re-saving the same metric name under the same key is
    * backend-resolved — give each run a unique ResultKey (the reference's model:
    * result_key.rs timestamps identify runs).
    */
  def save(key: ResultKey, metrics: Map[String, Double]): Unit
  def loadAll(): Seq[MetricRecord]

  def query(q: MetricsQuery): Seq[MetricRecord] = {
    val filtered = loadAll().filter(q.matches)
      .map { r =>
        if (q.forAnalyzers.isEmpty) r
        else r.copy(metrics = r.metrics.view.filterKeys(k =>
          q.forAnalyzers.exists(a => k == a || k.startsWith(a + "."))).toMap)
      }
      .filter(_.metrics.nonEmpty)
    val sorted = filtered.sortBy(r =>
      (r.key.timestamp, ParquetMetricsRepository.encodeTags(r.key.tags)))
    val ordered = if (q.newestFirst) sorted.reverse else sorted
    val page = ordered.drop(q.offset)
    q.limit.map(page.take).getOrElse(page)
  }

  /** History of one metric, oldest first — the anomaly-detection input. Points are
    * ordered by (timestamp, encoded tags): runs recorded at the same timestamp under
    * different tag sets come in the order of `ParquetMetricsRepository.encodeTags`, on
    * every backend, so a `limit`/`offset` cut through such a tie keeps the same points
    * everywhere. A `limit` keeps the NEWEST N points (then re-sorts oldest-first):
    * limiting oldest-first would freeze the series at the first N runs ever recorded
    * and newer points — the ones anomaly detection exists to judge — would never be
    * returned.
    *
    * Pagination applies AFTER the exact-key extraction, not inside query(): query's
    * forAnalyzers filter also matches dotted sub-metrics (`metricKey.anything`), so
    * limiting records first could page in N records none of which carry the exact
    * key — an empty "history" while real points exist. `forAnalyzers` and
    * `newestFirst` of `q` are ignored. ParquetMetricsRepository overrides this with a
    * read that pushes `metric = metricKey` into the file scan.
    */
  def history(metricKey: String, q: MetricsQuery = MetricsQuery(newestFirst = false)): Seq[(Long, Double)] = {
    val records = query(q.copy(forAnalyzers = Seq(metricKey), newestFirst = false,
      limit = None, offset = 0))
    newestPage(records.flatMap(r => r.metrics.get(metricKey).map(r.key.timestamp -> _)), q)
  }

  /** `q`'s offset and limit counted from the newest of the oldest-first `points`. */
  protected final def newestPage(points: Seq[(Long, Double)],
      q: MetricsQuery): Seq[(Long, Double)] = {
    val newestFirst = points.reverse.drop(q.offset)
    q.limit.map(newestFirst.take).getOrElse(newestFirst).reverse
  }

  /** Newest-N points of EXACTLY `metricKey` (no dotted sub-metrics), returned
    * oldest-first — the bounded per-batch read the streaming anomaly sink does on
    * every micro-batch. The base implementation delegates to [[history]], whose bound
    * is DRIVER-SIDE only (the full log is still loaded); ParquetMetricsRepository
    * overrides with a predicate-pushed distributed read so the driver only ever
    * collects N rows regardless of log size.
    */
  def pointsFor(metricKey: String, newestN: Option[Int]): Seq[(Long, Double)] =
    history(metricKey, MetricsQuery(limit = newestN, newestFirst = false))

  /** Exact-key point lookup: the value recorded for `metricKey` at `timestamp`, if
    * any. Complements [[pointsFor]]'s newest-N window — a replay/collision probe for
    * a timestamp OLDER than the window needs this unbounded-exact check, not a wider
    * scan. Points recorded at that timestamp under several tag sets resolve to the
    * max value (`java.lang.Double.compare` order, NaN highest) on every backend.
    * Base implementation filters [[history]]; ParquetMetricsRepository pushes both
    * predicates into the file scan.
    */
  def pointAt(metricKey: String, timestamp: Long): Option[Double] =
    history(metricKey).collect { case (`timestamp`, v) => v }
      .reduceOption(ParquetMetricsRepository.maxValue)

  /** The metric log as a DataFrame (timestamp, tags, metric, value) — arbitrary Spark
    * SQL over metric history for ANY repository implementation (the reference's
    * SQL-over-metrics executor, repository/datafusion_executor.rs:53-275, without a
    * bespoke engine). ParquetMetricsRepository overrides with a direct file read so
    * history never round-trips through the driver.
    */
  def toDataFrame(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    loadAll().flatMap(r => r.metrics.toSeq.map { case (m, v) =>
      (r.key.timestamp, ParquetMetricsRepository.encodeTags(r.key.tags), m, v)
    }).toDF("timestamp", "tags", "metric", "value")
  }
}

final class InMemoryMetricsRepository extends MetricsRepository {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[MetricRecord]
  def save(key: ResultKey, metrics: Map[String, Double]): Unit =
    buf.synchronized {
      // Same-key saves MERGE (new values win) — the parquet backend's loadAll groups
      // rows by key, so keeping two records here would make record counts and
      // pagination diverge across backends.
      buf.indexWhere(_.key == key) match {
        case -1 => buf += MetricRecord(key, metrics)
        case i  => buf(i) = MetricRecord(key, buf(i).metrics ++ metrics)
      }
    }
  def loadAll(): Seq[MetricRecord] = buf.synchronized(buf.toVector)
}

/** Parquet-backed repository: one row per (run, metric) — append-only, queryable with
  * plain DataFrame filters at any scale (replaces the reference's DataFusion-over-JSON
  * executor, repository/datafusion_executor.rs:53-275). Each `save` writes its rows
  * from the driver as ONE parquet file (`part-<uuid>.parquet`, the four columns
  * `timestamp, tags, metric, value`); no Spark job runs. Every read declares
  * that schema, so none runs a schema-inference job, and logs written by Spark's own
  * parquet writer (the same four columns) read the same way.
  */
final class ParquetMetricsRepository(path: String, spark: org.apache.spark.sql.SparkSession)
    extends MetricsRepository {
  import ParquetMetricsRepository._
  import org.apache.hadoop.fs.Path
  import org.apache.spark.sql.functions.{col, max}
  import spark.implicits._

  /** Written under a hidden temporary name, which Spark's file listing skips, then
    * renamed into place: a concurrent read sees the whole file or none of it.
    */
  def save(key: ResultKey, metrics: Map[String, Double]): Unit = if (metrics.nonEmpty) {
    val dir = new Path(path)
    val name = s"part-${java.util.UUID.randomUUID()}.parquet"
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = new Path(dir, s".$name.tmp")
    val out = org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, conf)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(out)
      .withConf(conf).withType(ParquetSchema)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.UNCOMPRESSED)
      .build()
    try {
      val rows = new org.apache.parquet.example.data.simple.SimpleGroupFactory(ParquetSchema)
      val tagStr = encodeTags(key.tags)
      metrics.foreach { case (m, v) =>
        w.write(rows.newGroup().append("timestamp", key.timestamp).append("tags", tagStr)
          .append("metric", m).append("value", v))
      }
    } finally w.close()
    if (!dir.getFileSystem(conf).rename(tmp, new Path(dir, name)))
      throw new java.io.IOException(s"could not rename $tmp into the metrics log")
  }

  /** The metric log as a DataFrame (timestamp, tags, metric, value) — arbitrary Spark
    * SQL over metric history (the reference's SQL-over-metrics executor,
    * repository/datafusion_executor.rs, without a bespoke engine). Reads the files
    * directly — no driver round-trip, any history size. A repository with no saves
    * yet reads as an EMPTY frame with the log schema, matching loadAll()'s Nil.
    */
  def toDataFrame: org.apache.spark.sql.DataFrame = readLog(spark)
  override def toDataFrame(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    readLog(s) // honor the CALLER's session (temp views etc. land there)

  private def readLog(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    val p = new Path(path)
    if (p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p))
      s.read.schema(LogSchema).parquet(path)
    else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], LogSchema)
  }

  /** One metric's history in ONE Spark job: `metric = key` and the before/after
    * bounds reach the file scan, the matching rows come to the driver, and duplicate
    * rows of a (timestamp, tags) run merge to the max value exactly like loadAll.
    */
  override def history(metricKey: String, q: MetricsQuery): Seq[(Long, Double)] = {
    val pushed = Seq(Some(col("metric") === metricKey), q.before.map(col("timestamp") < _),
      q.after.map(col("timestamp") > _)).flatten.reduce(_ && _)
    val runs = readLog(spark).filter(pushed).select("timestamp", "tags", "value")
      .as[(Long, String, Double)].collect()
      .groupMapReduce(r => (r._1, r._2))(_._3)(maxValue)
    newestPage(runs.toSeq.sortBy(_._1).collect {
      case ((ts, tags), v) if q.matches(MetricRecord(ResultKey(ts, decodeTags(tags)), Map.empty)) =>
        ts -> v
    }, q)
  }

  /** Predicate-pushed bounded read: `metric = key` prunes row groups at the parquet
    * scan, duplicate rows merge to the max value exactly like loadAll's record merge,
    * and the newest-N cut runs as a distributed TopK (TakeOrdered) in [[history]]'s
    * (timestamp, tags) order — the driver collects at most N rows however long the
    * stream has been appending. Unbounded, it is [[history]].
    */
  override def pointsFor(metricKey: String, newestN: Option[Int]): Seq[(Long, Double)] =
    newestN match {
      case None => history(metricKey)
      case Some(n) =>
        readLog(spark).filter(col("metric") === metricKey)
          .groupBy(col("timestamp"), col("tags")).agg(max(col("value")).as("value"))
          .orderBy(col("timestamp").desc, col("tags").desc).limit(n)
          .as[(Long, String, Double)].collect().toSeq
          .sortBy(r => (r._1, r._2)).map(r => r._1 -> r._3)
    }

  /** Exact (metric, timestamp) probe — both predicates reach the file scan; ties
    * across tag sets resolve to the max value, matching loadAll's merge direction.
    */
  override def pointAt(metricKey: String, timestamp: Long): Option[Double] = {
    val row = readLog(spark)
      .filter(col("metric") === metricKey && col("timestamp") === timestamp)
      .agg(max(col("value"))).head()
    if (row.isNullAt(0)) None else Some(row.getDouble(0))
  }

  def loadAll(): Seq[MetricRecord] =
    readLog(spark)
      .as[(Long, String, String, Double)]
      .collect().toSeq
      .groupBy(r => (r._1, r._2)).toSeq
      .map { case ((ts, tags), rows) =>
        // Sorted before toMap: groupBy preserves collect() order, which is partition-
        // nondeterministic — a duplicated metric name resolves to its max value.
        (tags, MetricRecord(ResultKey(ts, decodeTags(tags)),
          rows.sortBy(r => (r._3, r._4)).map(r => r._3 -> r._4).toMap))
      }.sortBy(r => (r._2.key.timestamp, r._1)).map(_._2)
}
object ParquetMetricsRepository {
  import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

  /** The metric log's four columns; [[ParquetSchema]] is their layout in a file. */
  private val LogSchema: StructType = StructType(Seq(StructField("timestamp", LongType),
    StructField("tags", StringType), StructField("metric", StringType),
    StructField("value", DoubleType)))
  private val ParquetSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required int64 timestamp;
      |  optional binary tags (STRING);
      |  optional binary metric (STRING);
      |  required double value;
      |}""".stripMargin)

  /** The max under `java.lang.Double.compare` (NaN highest), the order loadAll's
    * per-run merge and Spark's `max` resolve duplicate rows by.
    */
  private[repository] def maxValue(a: Double, b: Double): Double =
    if (java.lang.Double.compare(a, b) >= 0) a else b

  def encodeTags(tags: Map[String, String]): String =
    tags.toSeq.sorted.map { case (k, v) =>
      java.net.URLEncoder.encode(k, "UTF-8") + "=" + java.net.URLEncoder.encode(v, "UTF-8")
    }.mkString("&")
  def decodeTags(s: String): Map[String, String] =
    if (s.isEmpty) Map.empty
    else s.split("&").map { kv =>
      val Array(k, v) = kv.split("=", 2)
      java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
}
