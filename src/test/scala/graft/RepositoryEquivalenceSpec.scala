package graft

import graft.analyzers.{AnomalyDetectionRunner, ZScoreStrategy}
import graft.repository._

/** ParquetMetricsRepository answers every read exactly like InMemoryMetricsRepository
  * after the same 1,000 saves, including a log whose first saves were written by a
  * Spark write job (the layout of logs written before saves went driver-side).
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

    val queries = Seq(MetricsQuery(before = Some(200L)), MetricsQuery(after = Some(100L)),
      MetricsQuery(withTags = Map("env" -> "prod")), MetricsQuery(withTags = Map("a&b" -> "x=y%")),
      MetricsQuery(limit = Some(7)), MetricsQuery(offset = 3),
      MetricsQuery(after = Some(50L), before = Some(350L), withTags = Map("env" -> "prod"),
        limit = Some(10), offset = 2))
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
    info(f"wall time ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
