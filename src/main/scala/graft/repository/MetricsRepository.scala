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
    * `newestFirst` of `q` are ignored.
    */
  def history(metricKey: String, q: MetricsQuery = MetricsQuery(newestFirst = false)): Seq[(Long, Double)] = {
    val records = query(q.copy(forAnalyzers = Seq(metricKey), newestFirst = false,
      limit = None, offset = 0))
    val newestFirst = records.flatMap(r => r.metrics.get(metricKey).map(r.key.timestamp -> _))
      .reverse.drop(q.offset)
    q.limit.map(newestFirst.take).getOrElse(newestFirst).reverse
  }

  /** Newest-N points of EXACTLY `metricKey` (no dotted sub-metrics), returned
    * oldest-first — the per-batch read the streaming anomaly sink does on every
    * micro-batch. The bound is on the answer, not on the read: [[history]] reads it all.
    */
  def pointsFor(metricKey: String, newestN: Option[Int]): Seq[(Long, Double)] =
    history(metricKey, MetricsQuery(limit = newestN, newestFirst = false))

  /** Exact-key point lookup: the value recorded for `metricKey` at `timestamp`, if
    * any. Complements [[pointsFor]]'s newest-N window — a replay/collision probe for
    * a timestamp OLDER than the window needs this unbounded-exact check, not a wider
    * scan. Points recorded at that timestamp under several tag sets resolve to the
    * max value (`java.lang.Double.compare` order, NaN highest) on every backend.
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
  * `timestamp, tags, metric, value`); no Spark job runs.
  *
  * Reads answer from the log files this instance has already read, keyed by name,
  * length and modification time. Each read lists the directory once (skipping `_` and
  * `.` names, as Spark's listing does) and reads only the files not seen yet — other
  * writers', a prefix written by Spark's own parquet writer — in ONE Spark job with the
  * log schema declared; files gone from the listing are forgotten. `save` registers
  * its own file, so a sole writer's reads run no job. Log files never change once
  * renamed into place, so the answers are those of a full scan. The trade-off: the
  * instance holds every row of the log, what `loadAll` collects, while it lives, and
  * every read (`history`, `pointsFor` and `pointAt` are the trait's, over `loadAll`)
  * walks all of those rows on the driver.
  */
final class ParquetMetricsRepository(path: String, spark: org.apache.spark.sql.SparkSession)
    extends MetricsRepository {
  import ParquetMetricsRepository._
  import org.apache.hadoop.fs.Path
  import org.apache.parquet.io.{LocalOutputFile, OutputFile}
  import org.apache.spark.sql.functions.col
  import spark.implicits._

  /** Log file name → its rows, guarded by itself: the streaming sink may read and save
    * from another thread.
    */
  private val seen = scala.collection.mutable.HashMap.empty[String, LogFile]

  /** Written under a hidden temporary name, which Spark's file listing skips, then
    * renamed into place: a concurrent read sees the whole file or none of it. A local
    * log is written past Hadoop's checksum layer (see `FsUtil.replaceLocal`).
    */
  def save(key: ResultKey, metrics: Map[String, Double]): Unit = if (metrics.nonEmpty) {
    val conf = spark.sparkContext.hadoopConfiguration
    val target = new Path(path, s"part-${java.util.UUID.randomUUID()}.parquet")
    val tags = encodeTags(key.tags)
    val rows = metrics.toSeq.map { case (m, v) => LogRow(key.timestamp, tags, m, v) }
    def write(out: OutputFile): Unit = {
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(out)
        .withConf(conf).withType(ParquetSchema)
        .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.UNCOMPRESSED)
        .build()
      try {
        val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(ParquetSchema)
        rows.foreach(r => w.write(groups.newGroup().append("timestamp", r.timestamp)
          .append("tags", r.tags).append("metric", r.metric).append("value", r.value)))
      } finally w.close()
    }
    val fs = target.getFileSystem(conf)
    if (!graft.core.FsUtil.replaceLocal(target, conf)(p => write(new LocalOutputFile(p)))) {
      val tmp = new Path(target.getParent, s".${target.getName}.tmp")
      write(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, conf))
      if (!fs.rename(tmp, target))
        throw new java.io.IOException(s"could not rename $tmp into the metrics log")
    }
    // Keyed by the status the directory listing reads, so no later read re-reads it.
    seen.synchronized(seen(target.getName) = LogFile(fileKey(fs.getFileStatus(target)), rows))
  }

  /** The metric log as a DataFrame, read by Spark from the files — no driver
    * round-trip, any history size. A repository with no saves yet reads as an EMPTY
    * frame with the log schema, matching loadAll()'s Nil.
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

  /** Every row of the log as listed now: remembered rows for the files already seen,
    * one Spark job for the rest. The job reads the directory, not the files: explicit
    * paths past Spark's parallel-discovery threshold would start a listing job of their
    * own, and the file-name filter prunes Spark's file list before the scan.
    */
  private def logRows(): Seq[LogRow] = seen.synchronized {
    val dir = new Path(path)
    val listed = try dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(dir, (p: Path) => !p.getName.startsWith("_") && !p.getName.startsWith("."))
        .filter(_.isFile).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    val unseen = listed.filterNot(s => seen.get(s.getPath.getName).exists(_.key == fileKey(s)))
    if (unseen.nonEmpty) {
      val rows = spark.read.schema(LogSchema).parquet(path)
        .where(col("_metadata.file_name").isin(unseen.map(_.getPath.getName): _*))
        .select(col("_metadata.file_name"), col("timestamp"), col("tags"), col("metric"), col("value"))
        .as[(String, Long, String, String, Double)].collect().toSeq
        .groupMap(_._1)(r => LogRow(r._2, r._3, r._4, r._5))
      unseen.foreach(s => seen(s.getPath.getName) = LogFile(fileKey(s), rows.getOrElse(s.getPath.getName, Nil)))
    }
    val names = listed.map(_.getPath.getName)
    seen.subtractAll(seen.keySet.diff(names.toSet))
    names.flatMap(seen(_).rows)
  }

  /** One record per (timestamp, tags) run; a metric saved twice in it keeps its max. */
  def loadAll(): Seq[MetricRecord] =
    logRows().groupBy(r => (r.timestamp, r.tags)).toSeq.sortBy(_._1).map { case ((ts, tags), rows) =>
      MetricRecord(ResultKey(ts, decodeTags(tags)), rows.groupMapReduce(_.metric)(_.value)(maxValue))
    }
}
object ParquetMetricsRepository {
  import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

  private final case class LogRow(timestamp: Long, tags: String, metric: String, value: Double)
  /** A log file's rows under the (length, modification time) it was listed with. */
  private final case class LogFile(key: (Long, Long), rows: Seq[LogRow])
  private def fileKey(s: org.apache.hadoop.fs.FileStatus) = (s.getLen, s.getModificationTime)

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
