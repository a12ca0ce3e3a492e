package graft

import graft.analyzers.{AnomalyDetectionRunner, ZScoreStrategy}
import graft.repository._

/** ParquetMetricsRepository answers every read exactly like InMemoryMetricsRepository
  * after the same 1,000 saves, including a log whose first saves were written by a
  * Spark write job (the layout of logs written before saves went driver-side), after
  * another writer's save and after a compaction-shaped rewrite of the log.
  *
  * Points at one timestamp under several tag sets are ordered by their encoded tags on
  * both backends (see `MetricsRepository.history`), so such ties compare as sequences,
  * which is stricter than comparing them as multisets.
  */
class RepositoryEquivalenceSpec extends SparkSpec {

  test("repository equivalence: 1,000 saves, parquet and in-memory answer alike") {
    val t0 = System.nanoTime()
    val dir = tmpDir("graft-metrics-eq") + "/log"
    val pq = new ParquetMetricsRepository(dir, spark)
    val mem = new InMemoryMetricsRepository
    val rnd = new scala.util.Random(7)
    val tagSets = Seq(Map.empty[String, String], Map("env" -> "prod"), Map("env" -> "dev"),
      Map("env" -> "prod", "region" -> "eu"), Map("a&b" -> "x=y%"))
    val names = Seq("m", "m.daily", "n", "size.*")
    val saved = scala.collection.mutable.LinkedHashMap.empty[ResultKey, Map[String, Double]]
    val legacySaves = 40
    var driverSaves = 0
    (0 until 999).foreach { i =>
      // One save in seven re-saves an earlier key on purpose; random keys collide
      // too. A name already saved under the key repeats or raises its value:
      // re-saving a name is backend-resolved (in-memory keeps the newest value,
      // parquet the max), and the two agree exactly on these.
      val key =
        if (saved.nonEmpty && rnd.nextInt(7) == 0) saved.keys.toSeq(rnd.nextInt(saved.size))
        else ResultKey(rnd.nextInt(400).toLong, tagSets(rnd.nextInt(tagSets.size)))
      val picked = names.filter(_ => rnd.nextBoolean())
      val metrics = (if (picked.isEmpty) names.take(1) else picked).map { name =>
        name -> saved.get(key).flatMap(_.get(name)).map(_ + rnd.nextInt(3))
          .getOrElse(rnd.nextGaussian() * 10)
      }.toMap
      saved(key) = saved.getOrElse(key, Map.empty) ++ metrics
      mem.save(key, metrics)
      if (i < legacySaves) {
        import spark.implicits._
        val tags = ParquetMetricsRepository.encodeTags(key.tags)
        metrics.toSeq.map { case (m, v) => (key.timestamp, tags, m, v) }
          .toDF("timestamp", "tags", "metric", "value").write.mode("append").parquet(dir)
      } else {
        pq.save(key, metrics)
        driverSaves += 1
      }
    }
    // the 1,000th save: the newest "n" point is far off its history, so one
    // latest-anomaly verdict is true
    val last = ResultKey(500L) -> Map("n" -> 1e6)
    saved += last
    mem.save(last._1, last._2)
    assert(jobsOf(pq.save(last._1, last._2)) == 0, "a save ran a Spark job")
    driverSaves += 1
    info(f"1,000 saves in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val logFiles = new java.io.File(dir).listFiles().map(_.getName)
    assert(!logFiles.exists(_.endsWith(".tmp")), "a temporary file was left in the log")
    assert(logFiles.count(_.matches("part-[0-9a-f-]{36}\\.parquet")) == driverSaves,
      "one file per driver-side save")
    assert(jobsOf(pq.history("m")) == 1, "history ran more than its one scan job")
    assert(jobsOf { pq.history("m"); pq.pointsFor("m", Some(5)); pq.pointAt("m", 399L); pq.loadAll() } == 0,
      "a read of log files already read ran a Spark job")

    val queries = Seq(MetricsQuery(before = Some(200L)), MetricsQuery(after = Some(100L)),
      MetricsQuery(withTags = Map("env" -> "prod")), MetricsQuery(withTags = Map("a&b" -> "x=y%")),
      MetricsQuery(limit = Some(7)), MetricsQuery(offset = 3),
      MetricsQuery(after = Some(50L), before = Some(350L), withTags = Map("env" -> "prod"),
        limit = Some(10), offset = 2))
    def sameAnswers(when: String): Unit = withClue(s"$when: ") {
      // every key's default history; the query, pointsFor and pointAt matrix on "m" (every
      // tag set, ties, sub-metrics beside it) and on "absent" (empty results)
      (names :+ "absent").foreach { k =>
        val h = pq.history(k)
        assert(h == mem.history(k), s"history($k)")
        assert(h.nonEmpty || k == "absent")
      }
      val tied = saved.collect { case (key, ms) if ms.contains("m") => key }.groupBy(_.timestamp)
        .collect { case (ts, ks) if ks.size > 1 => ts }
      assert(tied.nonEmpty, "no timestamp carries \"m\" under several tag sets")
      Seq("m", "absent").foreach { k =>
        queries.foreach(q => assert(pq.history(k, q) == mem.history(k, q), s"history($k, $q)"))
        Seq(Some(1), Some(5), Some(10000), None).foreach(n =>
          assert(pq.pointsFor(k, n) == mem.pointsFor(k, n), s"pointsFor($k, $n)"))
      }
      (tied.take(8) ++ Seq(399L, 500L, 1000L)).foreach { ts =>
        assert(pq.pointAt("m", ts) == mem.pointAt("m", ts), s"pointAt(m, $ts)")
      }
      assert(pq.pointAt("absent", tied.head) == None)
      val (pqAll, memAll) = (pq.loadAll(), mem.loadAll())
      assert(pqAll.toSet == memAll.toSet,
        s"parquet only: ${pqAll.toSet.diff(memAll.toSet).take(3)}; " +
        s"in-memory only: ${memAll.toSet.diff(pqAll.toSet).take(3)}")
      assert(pqAll.size == saved.size)
      val strategies =
        Map("m" -> ZScoreStrategy(), "n" -> ZScoreStrategy(), "m." -> ZScoreStrategy(1.0))
      val verdicts = (names :+ "absent").map { k =>
        val v = new AnomalyDetectionRunner(pq, strategies).isLatestAnomalous(k)
        assert(v == new AnomalyDetectionRunner(mem, strategies).isLatestAnomalous(k),
          s"isLatestAnomalous($k)")
        v
      }
      assert(verdicts.contains(true) && verdicts.contains(false))
    }
    sameAnswers("1,000 saves")

    // another writer saves between two reads: the next read reads just its file, and a
    // fresh instance's cold read of the whole log is one job too
    val other = new ParquetMetricsRepository(dir, spark)
    val fromOther = ResultKey(600L, Map("env" -> "prod")) -> Map("m" -> 4.0)
    other.save(fromOther._1, fromOther._2)
    mem.save(fromOther._1, fromOther._2)
    saved += fromOther
    assert(jobsOf(assert(pq.history("m").last == 600L -> 4.0)) == 1, "another writer's save")
    assert(jobsOf(other.history("m")) == 1, "a cold read of the whole log")
    sameAnswers("another writer's save")
    assert(other.loadAll().toSet == mem.loadAll().toSet)

    // a compaction-shaped rewrite: one merged file in, every original file out
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val originals = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    val side = tmpDir("graft-metrics-eq") + "/merged"
    pq.toDataFrame.coalesce(1).write.parquet(side)
    val merged = new java.io.File(side).listFiles().map(_.getName).filter(_.startsWith("part-"))
    assert(merged.length == 1)
    assert(fs.rename(new org.apache.hadoop.fs.Path(side, merged.head),
      new org.apache.hadoop.fs.Path(dir, "part-compacted.parquet")))
    originals.foreach(n => assert(fs.delete(new org.apache.hadoop.fs.Path(dir, n), false)))
    assert(jobsOf(pq.history("m")) == 1, "the merged file was not read in one job")
    sameAnswers("compaction")
    assert(fs.delete(new org.apache.hadoop.fs.Path(dir, "part-compacted.parquet"), false))
    assert(pq.loadAll().isEmpty && pq.history("m").isEmpty, "a deleted file's rows were still read")
    info(f"wall time ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  test("repository reads concurrent with 200 saves never throw or lose a returned point") {
    val dir = tmpDir("graft-metrics-conc") + "/log"
    val pq = new ParquetMetricsRepository(dir, spark)
    // `pq` reads on this thread while it saves on another; `outside` only reads, so
    // each of its reads runs a Spark job over files the saver has just renamed in
    val outside = new ParquetMetricsRepository(dir, spark)
    val want = (1 to 200).map(i => i.toLong -> i.toDouble)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val saver = new Thread(() =>
      try want.foreach { case (ts, v) => pq.save(ResultKey(ts), Map("m" -> v, "n" -> -v)) }
      catch { case t: Throwable => failure.set(t) })
    saver.start()
    val last = scala.collection.mutable.Map(pq -> Set.empty[(Long, Double)], outside -> Set.empty[(Long, Double)])
    var reads = 0
    while (saver.isAlive || reads < 2) {
      Seq(pq, outside).foreach { r =>
        val h = r.history("m").toSet
        assert(last(r).subsetOf(h), s"read $reads lost ${last(r).diff(h).take(3)}")
        assert(h.subsetOf(want.toSet))
        last(r) = h
      }
      reads += 1
    }
    saver.join()
    Option(failure.get).foreach(throw _)
    assert(pq.history("m") == want && outside.history("m") == want)
    info(s"$reads read pairs during the saves")
  }
}
