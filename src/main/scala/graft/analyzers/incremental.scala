package graft.analyzers

import graft.core.{FsUtil, MetricValue}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{ChecksumException, FileContext, Options, Path}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.CRC32

/** Persistence of analyzer states keyed by (analyzerKey, partitionKey)
  * (reference: analyzers/incremental/state_store.rs:20-90).
  */
trait StateStore {
  def save(analyzerKey: String, partitionKey: String, fields: Map[String, String]): Unit
  def load(analyzerKey: String, partitionKey: String): Option[Map[String, String]]
  def listPartitions(analyzerKey: String): Seq[String]
  def delete(analyzerKey: String, partitionKey: String): Unit
}

final class InMemoryStateStore extends StateStore {
  private val m = scala.collection.concurrent.TrieMap.empty[(String, String), Map[String, String]]
  def save(a: String, p: String, f: Map[String, String]): Unit = m((a, p)) = f
  def load(a: String, p: String): Option[Map[String, String]] = m.get((a, p))
  def listPartitions(a: String): Seq[String] = m.keys.collect { case (`a`, p) => p }.toSeq.sorted
  def delete(a: String, p: String): Unit = m.remove((a, p))
}

/** Hadoop-FS-backed store (works on local paths, HDFS, s3a://, gs://) — one properties
  * file per (analyzer, partition). States are tiny (sufficient statistics), so driver-side
  * point reads/writes are the right scale trade-off.
  * (reference: FileSystemStateStore, analyzers/incremental/state_store.rs.)
  */
final class FileSystemStateStore(rootDir: String, spark: SparkSession) extends StateStore {
  private val conf = spark.sparkContext.hadoopConfiguration
  private def pathOf(a: String, p: String) =
    new Path(rootDir, s"${sanitize(a)}/${sanitize(p)}.state")
  // URL-encoding is INJECTIVE — a lossy replaceAll("[^safe]", "_") mapped distinct
  // keys ("p:1" vs "p_1") onto one file, silently overwriting one partition's state
  // with another's. Decoding in listPartitions restores the original keys.
  private def sanitize(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def unsanitize(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  def save(a: String, p: String, fields: Map[String, String]): Unit = {
    val path = pathOf(a, p)
    val bytes = Codec.encode(fields)
    // Write-temp-then-replace: a crash (or a reader racing the writer) must never see
    // a TRUNCATED state file, and must never see the file MISSING either — load()
    // returning None mid-replace drops that partition from a cumulative rebuild.
    if (!FsUtil.replaceLocal(path, conf)(Files.write(_, bytes))) {
      // FileContext.rename(OVERWRITE) is an atomic replace only where the file system
      // implements it natively (HDFS). Every DelegateToFileSystem store (s3a, gs,
      // abfs) gets AbstractFileSystem's delete-then-rename: a reader in that window
      // sees no file. Object stores never expose a partial object either way.
      val tmp = new Path(path.getParent, s".${path.getName}.tmp")
      val out = path.getFileSystem(conf).create(tmp, true)
      try out.write(bytes) finally out.close()
      FileContext.getFileContext(path.toUri, conf).rename(tmp, path, Options.Rename.OVERWRITE)
    }
  }
  def load(a: String, p: String): Option[Map[String, String]] = {
    val path = pathOf(a, p)
    // No exists() probe: a missing file — never written, or deleted concurrently (e.g.
    // another runner's legacy-key migration) — reads as "no state" per the Option
    // contract instead of aborting the run with FileNotFoundException.
    val in = try path.getFileSystem(conf).open(path) catch {
      case _: java.io.FileNotFoundException => return None
    }
    try Some(Codec.decode(in.readAllBytes(), path)) finally in.close()
  }
  def listPartitions(a: String): Seq[String] = {
    val dir = new Path(rootDir, sanitize(a))
    val listed = try dir.getFileSystem(conf).listStatus(dir).toSeq catch {
      case _: java.io.FileNotFoundException => Nil
    }
    listed.map(_.getPath.getName).filter(_.endsWith(".state"))
      .map(n => unsanitize(n.stripSuffix(".state"))).sorted
  }
  def delete(a: String, p: String): Unit = {
    val path = pathOf(a, p)
    val fs = path.getFileSystem(conf)
    fs.delete(path, false); ()
  }

  private object Codec {
    // Line-oriented k<TAB>v with URL-encoding — no external JSON dependency needed.
    // The first line, "#crc32<TAB><hex>", is the CRC-32 of the lines after it: a
    // URL-encoded key never starts with '#', and files written before the line
    // existed decode unverified.
    private val CrcKey = "#crc32"
    private def crc(body: Array[Byte]): String = {
      val c = new CRC32
      c.update(body)
      java.lang.Long.toHexString(c.getValue)
    }
    def encode(m: Map[String, String]): Array[Byte] = {
      val body = m.toSeq.sortBy(_._1).map { case (k, v) =>
        java.net.URLEncoder.encode(k, "UTF-8") + "\t" + java.net.URLEncoder.encode(v, "UTF-8")
      }.mkString("\n").getBytes(StandardCharsets.UTF_8)
      s"$CrcKey\t${crc(body)}\n".getBytes(StandardCharsets.UTF_8) ++ body
    }
    def decode(bytes: Array[Byte], path: Path): Map[String, String] = {
      val body =
        if (bytes.isEmpty || bytes(0) != '#') bytes
        else {
          val nl = bytes.indexOf('\n'.toByte) match { case -1 => bytes.length; case i => i }
          val rest = bytes.drop(nl + 1)
          if (new String(bytes, 0, nl, StandardCharsets.UTF_8) != s"$CrcKey\t${crc(rest)}")
            throw new ChecksumException(s"state file $path fails its CRC-32 check", 0)
          rest
        }
      new String(body, StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty).map { line =>
        val Array(k, v) = line.split("\t", 2)
        java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
    }
  }
}

/** Incremental analysis: compute the new partition's state, merge with the stored
  * cumulative state, persist, and emit the metric over all data seen so far — without
  * rescanning history (reference: analyzers/incremental/runner.rs:117-470).
  */
final class IncrementalAnalysisRunner(store: StateStore, analyzers: Seq[Analyzer[_]]) {

  private val CumulativeKey = "__cumulative__"
  private val NullKey = "__null__"

  // State migration from an analyzer's legacy key format (e.g. pre-"|"
  // CorrelationAnalyzer, unparameterized QuantileAnalyzer keys): data partitions under
  // a legacy key MOVE to the current key so incremental history survives the rename.
  // RESUMABLE: each partition is moved independently (save to the new key, then
  // delete the legacy entry — never delete what wasn't read and re-saved), so a crash
  // mid-migration leaves the remaining legacy partitions to be picked up by the next
  // run instead of stranding them behind a "new key is non-empty" guard. A partition
  // present under BOTH keys keeps the new key's record (it is newer by construction).
  // Legacy CUMULATIVE records are deleted, not moved — a record that does not cover
  // the listed partitions is rebuilt from them (see `cumulative`) — and only in a
  // run that actually migrated data partitions: a store holding ONLY a legacy
  // cumulative (data partitions pruned externally) keeps it, because that record is
  // the sole survivor of its history and nothing under the new key can regenerate it.
  // (A crash exactly between the last partition delete and the cumulative delete
  // leaves one inert legacy cumulative behind — harmless, never read.) A legacy key
  // claimed by MORE THAN ONE analyzer in this runner is ambiguous — e.g. the pre-"|"
  // "correlation.a.b.c" could belong to ("a","b.c") or ("a.b","c") — so it is left in
  // place rather than attributed to whichever analyzer migrates first. Checked once
  // per analyzer per runner instance — directory listings, not data scans.
  // NOTE: MetricsRepository history is NOT migrated; metric series recorded under a
  // legacy key restart under the new key (documented break, acceptable pre-1.0).
  private val migrationChecked = scala.collection.mutable.Set.empty[String]
  private lazy val ambiguousLegacyKeys: Set[String] =
    analyzers.flatMap(_.legacyKeys.distinct).groupBy(identity)
      .collect { case (k, claims) if claims.size > 1 => k }.toSet
  private def ensureMigrated(): Unit = migrationChecked.synchronized {
    analyzers.foreach { a =>
      if (migrationChecked.add(a.key)) {
        a.legacyKeys.filterNot(ambiguousLegacyKeys).foreach { lk =>
          val legacyParts = store.listPartitions(lk).filterNot(_ == CumulativeKey)
          if (legacyParts.nonEmpty) {
            val existing = store.listPartitions(a.key).toSet
            legacyParts.foreach { p =>
              store.load(lk, p) match {
                case Some(f) =>
                  if (!existing.contains(p)) store.save(a.key, p, f)
                  store.delete(lk, p)
                case None => () // unreadable: leave in place, never erase unmoved data
              }
            }
            // Drop the legacy cumulative only once every legacy data partition has
            // been migrated (unreadable stragglers keep it for the next attempt).
            if (store.listPartitions(lk).forall(_ == CumulativeKey))
              store.delete(lk, CumulativeKey)
          }
        }
      }
    }
  }

  /** Data partitions currently in the store for an analyzer — `listPartitions` minus
    * the reserved cumulative entry (the `__null__` sentinel IS a data partition: it
    * holds the null-keyed rows' state). Feed THIS to [[analyzePartitions]]; raw
    * `store.listPartitions` includes `__cumulative__`, which would double every metric.
    */
  def dataPartitions(analyzerKey: String): Seq[String] = {
    ensureMigrated()
    store.listPartitions(analyzerKey).filterNot(_ == CumulativeKey)
  }

  // The cumulative record names the data partitions it merges: SHA-256 over their
  // sorted keys, each prefixed with its UTF-8 length.
  private val CoversField = "__covers"
  private def covers(keys: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    keys.sorted.foreach { k =>
      val b = k.getBytes(StandardCharsets.UTF_8)
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    java.util.HexFormat.of().formatHex(md.digest())
  }

  /** The stored states of `keys` merged, and the keys that loaded. */
  private def mergeStored(a: Analyzer[_], keys: Seq[String]): (Option[Any], Seq[String]) = {
    val loaded = keys.flatMap(p => store.load(a.key, p).map(f => p -> a.stateFromFields(f)))
    (loaded.map(_._2).reduceOption(a.mergeAnyStates), loaded.map(_._1))
  }

  /** An analyzer's cumulative state after `fresh` (partition key → state, already
    * saved; empty for a read). The record FOLDS the fresh states only when it covers
    * exactly the other listed partitions (no record covers none): one listing and one
    * point read, where a rebuild is O(all partitions). Anything else — a replayed key,
    * a partition deleted or added outside the runner, a crash between the saves, a
    * record older than the digest — REBUILDS from every listed state and names the
    * keys that loaded. Deriving the cumulative from the per-partition states makes
    * every write path idempotent: a replay overwrites its partition's state and can
    * never double-count. Writes only when something changed.
    */
  private def cumulative(a: Analyzer[_], fresh: Seq[(String, Any)]): Option[Any] = {
    val listed = dataPartitions(a.key)
    val record = store.load(a.key, CumulativeKey)
    val freshKeys = fresh.map(_._1)
    val others = listed.filterNot(freshKeys.toSet)
    val folds = record.fold(Option(covers(Nil)))(_.get(CoversField)).contains(covers(others))
    val (merged, merges) =
      if (!folds) mergeStored(a, listed)
      else ((record.map(a.stateFromFields) ++ fresh.map(_._2)).reduceOption(a.mergeAnyStates),
        others ++ freshKeys)
    if (!folds || fresh.nonEmpty) merged.foreach(m =>
      store.save(a.key, CumulativeKey, a.fieldsOfAnyState(m) + (CoversField -> covers(merges))))
    merged
  }

  /** Saves every partition's rendered states (one per analyzer, in order), then
    * advances each analyzer's cumulative state and returns the metrics. Callers
    * render every field map first: a failing analyzer or `toFields` must abort with
    * the store untouched, not after earlier saves.
    */
  private def commit(parts: Seq[(String, Seq[(Any, Map[String, String])])]): Map[String, MetricValue] = {
    parts.foreach { case (pk, ss) =>
      analyzers.zip(ss).foreach { case (a, (_, f)) => store.save(a.key, pk, f) }
    }
    analyzers.zipWithIndex.flatMap { case (a, i) =>
      cumulative(a, parts.map { case (pk, ss) => pk -> ss(i)._1 })
        .map(s => a.key -> a.metricFromAnyState(s))
    }.toMap
  }

  /** Whether any analyzer already has stored state under `partitionKey` — lets sinks
    * distinguish a first ingest from an overwrite (replay or checkpoint-reset
    * collision) before committing. One point-read, short-circuiting.
    */
  def hasPartitionState(partitionKey: String): Boolean =
    analyzers.exists(a => store.load(a.key, partitionKey).isDefined)

  /** Analyze one new partition; returns metrics over (history ∪ partition). All
    * analyzers' states come from ONE scan of the partition (AnalysisRunner batching) —
    * the per-analyzer-scan shape the reference fell back to is a linear job-count tax.
    * Idempotent under replay of the same `partitionKey` (see [[cumulative]]).
    */
  def analyzePartition(df: DataFrame, partitionKey: String): Map[String, MetricValue] = {
    require(partitionKey != CumulativeKey && partitionKey != NullKey,
      s"partition key '$partitionKey' collides with a reserved state-store key")
    ensureMigrated()
    val ctx = new AnalysisRunner(analyzers, continueOnError = false).run(df)
    commit(Seq(partitionKey -> analyzers.map { a =>
      val s = ctx.states(a.key)
      (s, a.fieldsOfAnyState(s))
    }))
  }

  /** Analyze MANY new partitions in ONE scan: `groupBy(partitionExpr)` computes every
    * analyzer's state aggregates per partition simultaneously (map-side combined, one
    * shuffle bounded by the partition-key cardinality), then each row's states are
    * saved and folded into the cumulative state driver-side. The per-partition-call
    * alternative ([[analyzePartition]] in a loop) costs P scans of the new data — a
    * linear job-count tax that dominates at real partition counts. States merge in a
    * commutative monoid, so fold order doesn't affect results.
    *
    * `maxPartitions` guards the driver collect, mirroring the grouped-metrics
    * `max_groups` guard: exceeding it throws rather than silently truncating.
    *
    * Contract difference from [[analyzePartition]]: partition keys are DISCOVERED from
    * the data here, so an empty input records nothing (there are no keys to record),
    * whereas analyzePartition is told its key explicitly and records that partition's
    * zero-valued state.
    */
  def analyzePartitionsBatched(df: DataFrame, partitionExpr: org.apache.spark.sql.Column,
      maxPartitions: Int = 10000): Map[String, MetricValue] = {
    val allAggs = analyzers.flatMap(_.stateAggregates).zipWithIndex
      .map { case (c, i) => c.as(s"a$i") }
    require(allAggs.nonEmpty, "no analyzers")
    ensureMigrated()
    // Group on the raw (nullable) string key — mapping NULL through coalesce would
    // make a real '__null__' partition value collide with the null sentinel and
    // double-count after the merge. NULL keys get the sentinel driver-side instead,
    // and real values equal to either reserved key fail loud (mirroring the
    // maxPartitions policy) rather than overwriting the cumulative state.
    val rows = df.groupBy(partitionExpr.cast("string").as("__pk"))
      .agg(allAggs.head, allAggs.drop(1): _*)
      .limit(maxPartitions + 1)
      .collect()
    require(rows.length <= maxPartitions,
      s"more than $maxPartitions partitions in one batch — raise maxPartitions or split the input")
    // Validate EVERY key before the first store.save: failing mid-loop would leave
    // earlier partitions already folded into the cumulative state, and a retry after
    // fixing the data would double-count them.
    rows.foreach { row =>
      require(row.isNullAt(0) ||
        (row.getString(0) != CumulativeKey && row.getString(0) != NullKey),
        s"partition key value '${row.getString(0)}' collides with a reserved state-store key")
    }
    // stateFromValues can throw too (e.g. on an unexpected aggregate value), so every
    // partition's states are built before commit saves the first one.
    commit(rows.sortBy(r => if (r.isNullAt(0)) NullKey else r.getString(0)).toSeq.map { row =>
      val values = row.toSeq.drop(1)
      var offset = 0
      (if (row.isNullAt(0)) NullKey else row.getString(0)) -> analyzers.map { a =>
        val vs = values.slice(offset, offset + a.stateAggregates.size)
        offset += a.stateAggregates.size
        val s = a.stateFromValues(vs)
        (s, a.fieldsOfAnyState(s))
      }
    })
  }

  /** Metrics over a chosen subset of stored partitions (fan-out merge,
    * reference: runner.rs:250-458).
    */
  def analyzePartitions(partitionKeys: Seq[String]): Map[String, MetricValue] = {
    ensureMigrated()
    analyzers.flatMap(a =>
      mergeStored(a, partitionKeys)._1.map(s => a.key -> a.metricFromAnyState(s))).toMap
  }

  /** Current cumulative metrics without touching any data; writes only to rebuild a
    * cumulative record that does not cover the listed partitions.
    */
  def currentMetrics(): Map[String, MetricValue] = commit(Nil)
}
