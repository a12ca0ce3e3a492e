package graft

import graft.core._
import graft.tools.{GenData, ScaleSweep}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The hand-run north-star arms as ONE JSON line on stdout: the 20-constraint suite
  * over lineitem (cold, warm, warm_tuned and cached, the metric matching BASELINE.md),
  * every `SparkEntry.queries` entry and operator arm, and the scaling-ratio blocks.
  * The benchmark of record is graftbench (`python3 graftbench/run.py`). Each arm is a
  * row of key and protocol run by one [[Measure]]; an arm that throws publishes -1
  * under its key (a ratio arm 9999, above every bound) and is named in `failed`.
  */
object Bench {

  /** The 20-constraint benchmark suite (mirrors the reference README's optimized demo). */
  def suite20(lineitem: DataFrame): ValidationReport = {
    val check = CheckBuilder("lineitem bench", Level.Error)
      .hasSize(Assertion.GreaterThan(0))                                     // 1
      .isComplete("l_orderkey")                                              // 2
      .isComplete("l_partkey")                                               // 3
      .isComplete("l_suppkey")                                               // 4
      .isComplete("l_quantity")                                              // 5
      .isComplete("l_extendedprice")                                         // 6
      .hasCompleteness("l_discount", Assertion.GreaterThanOrEqual(0.99))     // 7
      .hasCompleteness("l_tax", Assertion.GreaterThanOrEqual(0.99))          // 8
      .isContainedIn("l_returnflag", Seq("A", "N", "R"))                     // 9
      .isContainedIn("l_linestatus", Seq("O", "F"))                          // 10
      .hasMin("l_quantity", Assertion.GreaterThanOrEqual(0))                 // 11
      .hasMax("l_quantity", Assertion.LessThanOrEqual(100))                  // 12
      .hasMean("l_discount", Assertion.Between(0.0, 0.2))                    // 13
      .hasSum("l_extendedprice", Assertion.GreaterThan(0))                   // 14
      .hasStandardDeviation("l_extendedprice", Assertion.GreaterThan(0))     // 15
      .hasMin("l_extendedprice", Assertion.GreaterThanOrEqual(0))            // 16
      .hasMax("l_tax", Assertion.LessThanOrEqual(1.0))                       // 17
      .hasPattern("l_returnflag", "^[ANR]$")                                 // 18
      .satisfies("l_discount >= 0 AND l_discount <= 0.5", "discount sane")   // 19
      .hasApproxCountDistinct("l_partkey", Assertion.GreaterThan(0))         // 20
      .build()
    ValidationSuite("bench20", Seq(check)).run(lineitem)
  }

  /** Attach a DENY filter for the specific "No Partition Defined" message to
    * the WindowExec logger — a package-wide level change would also mute any
    * NEW warning from the window package, exactly the signal worth keeping.
    */
  private def silenceNoPartitionWarning(): Unit = {
    import org.apache.logging.log4j.core.{Filter, LoggerContext}
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.filter.RegexFilter
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val name = "org.apache.spark.sql.execution.window.WindowExec"
    val filter = RegexFilter.createFilter("(?s).*No Partition Defined.*", null,
      false, Filter.Result.DENY, Filter.Result.NEUTRAL)
    // Attach to an existing exact-name config: addLogger would replace its appenders.
    val existing = cfg.getLoggerConfig(name)
    if (existing != null && existing.getName == name) existing.addFilter(filter)
    else {
      val lc = new LoggerConfig(name, org.apache.logging.log4j.Level.WARN, true)
      lc.addFilter(filter)
      cfg.addLogger(name, lc)
    }
    ctx.updateLoggers()
  }

  // Ambient load of an arm's window: (box busy jiffies − this JVM's utime+stime) /
  // capacity separates "someone else was burning the cores" from the bench's own
  // work, which raw loadavg cannot.
  private final case class LoadSnap(busy: Long, own: Long, nanos: Long)
  private def loadSnap(): Option[LoadSnap] =
    try {
      val stat = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
      // first 8 fields only: guest/guest_nice are already folded into user/nice
      val vals = stat.linesIterator.next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      val idle = vals(3) + (if (vals.length > 4) vals(4) else 0L) // idle + iowait
      val self = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/stat"))
      // comm may contain spaces: utime/stime are indices 11/12 past its closing paren
      val rest = self.substring(self.lastIndexOf(')') + 2).split(" ")
      Some(LoadSnap(vals.sum - idle, rest(11).toLong + rest(12).toLong, System.nanoTime()))
    } catch { case NonFatal(_) => None }
  /** Share of CPU capacity other processes used between two snaps (USER_HZ = 100);
    * -1 when /proc is unavailable. */
  private def ambientFrac(a: Option[LoadSnap], b: Option[LoadSnap]): Double = (a, b) match {
    case (Some(x), Some(y)) if y.nanos > x.nanos =>
      val cap = (y.nanos - x.nanos) / 1e9 * 100.0 * Runtime.getRuntime.availableProcessors()
      math.max(0.0, ((y.busy - x.busy) - (y.own - x.own)) / cap)
    case _ => -1.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The only un-partitioned windows run over bounded rollups (GlobalWindowGuardSpec).
    silenceNoPartitionWarning()
    val skip = (v: String) => sys.env.get(v).contains("0")
    val measure = new Measure

    val headline = headlineArms(spark, sfDir, cpus.toInt).map { case (k, arm) =>
      k -> measure(k, -1.0)(arm())
    }
    // The sweep runs BEFORE the query loop: ratios taken after it inflate ~2x from
    // this JVM's heap state even with a forced GC (PLANS.md round-8 notes).
    val sweep = if (skip("SPARK_GRAFT_SWEEP")) Nil
      else measure("sweep10x", Seq("sweep_failed" -> 9999.0)) {
        settle(spark)
        ScaleSweep.run(spark, sfDir).map { case (n, _, _, r) => n -> r }
      }
    // cpu_scaling_minhash_kernel is compute-bound, so it tracks `local[$SPARK_GRAFT_CPUS]`.
    val queries = (SparkEntry.queries.toSeq.sortBy(_._1) :+
        ("cpu_scaling_minhash_kernel" -> (Queries.cpuScalingKernelArm _))).map {
      case (name, fn) => name -> measure(name, -1.0)(queryArm(spark, sfDir, fn))
    }
    val opVerify = Queries.operatorArms.toSeq.sortBy(_._1).map { case (name, fn) =>
      val op = measure(s"op:$name", -1.0)(queryArm(spark, sfDir, fn))
      val whole = queries.find(_._1 == name).fold(-1.0)(_._2)
      name -> (op, if (op < 0 || whole < 0) -1.0 else math.max(0.0, whole - op))
    }
    // sf1 is GenData's fresh rows from the sf0.1 distributions, where the sweep
    // replicates; sf10 is the next notch, ratioed against sf1.
    def arms(names: String*): Seq[(String, String => Unit)] =
      names.map(n => shortName(n) -> ScaleSweep.collecting(spark, (s, d) => SparkEntry.queries(n)(s, d)))
    val suiteArm: (String, String => Unit) = "suite20" -> (d =>
      withoutAqe(spark)(suite20(spark.read.parquet(s"$d/lineitem.parquet"))))
    val sf1 = if (skip("SPARK_GRAFT_SF1")) Nil
      else ratios(spark, measure, "sf1", sfDir, generated(spark, sfDir, 10),
        arms("dedup_ngram_jaccard_documents", "dedup_minhash_documents",
          "contamination_firewall_documents", "tfidf_top_terms_documents",
          "lm_surprisal_documents", "corpus_report_documents", "similarity_ivf_topk",
          "range_join_events", "hll_rollup_events") ++
          Seq("semdedup_scaled" -> ScaleSweep.collecting(spark, semDedupScaled), suiteArm))
    val sf10 = if (skip("SPARK_GRAFT_SF10")) Nil
      else ratios(spark, measure, "sf10", generated(spark, sfDir, 10), generated(spark, sfDir, 100),
        arms("dedup_minhash_documents", "dedup_ngram_jaccard_documents",
          "contamination_firewall_documents", "similarity_ivf_topk",
          "hll_rollup_events") :+ suiteArm)

    println(line(headline.find(_._1 == "suite20_cached").fold(-1.0)(_._2), queries,
      headline, measure.failed.toSeq, opVerify,
      Seq("sweep10x" -> sweep, "sf1" -> sf1, "sf10" -> sf10), measure.ambient.toMap, sfDir))
    spark.stop()
  }

  private def secs(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
  private def median(n: Int)(f: => Unit): Double = (1 to n).map(_ => secs(f)).sorted.apply(n / 2)

  /** The protocol of full queries and operator arms alike, so the op/verify split
    * compares like with like: one untimed run (codegen + JIT; a UDF-heavy first run
    * reads 5-10x its steady state), one timed run, and min-of-2 past 0.8 s.
    */
  private def queryArm(spark: SparkSession, dir: String, fn: (SparkSession, String) => DataFrame): Double = {
    val run = ScaleSweep.collecting(spark, fn)
    run(dir)
    val t1 = secs(run(dir))
    if (t1 > 0.8) math.min(t1, secs(run(dir))) else t1
  }

  /** The suite is a single-row global aggregation: AQE has nothing to re-plan and its
    * shuffle materialization costs ~0.3 s a run, so steady-state suite arms run without. */
  private def withoutAqe[T](spark: SparkSession)(f: => T): T = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** The headline arms: (key, protocol). */
  private def headlineArms(spark: SparkSession, sfDir: String, cpus: Int): Seq[(String, () => Double)] = {
    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    def suite(df: DataFrame): Unit = require(suite20(df).metrics.totalConstraints == 20)
    Seq(
      "suite20_cold" -> (() => secs(suite(lineitem))),
      "suite20_warm" -> (() => withoutAqe(spark)(median(7)(suite(lineitem)))),
      // sf0.1 lineitem is ONE row group (parquet's minimum split unit, PLANS.md round-8
      // warm-scan note), so its warm scan runs in one task. warm_tuned times a copy
      // re-laid-out by the library's compactSmallFiles into `cpus` splittable files,
      // keyed on the source's file count, bytes and the core count.
      "suite20_warm_tuned" -> (() => withoutAqe(spark) {
        val bytes = lineitem.inputFiles.map(f => new java.io.File(new java.net.URI(f)).length()).sum
        val tuned = s"${System.getProperty("java.io.tmpdir")}/graft_bench_li_" +
          s"${sfDir.hashCode.toHexString}_${lineitem.inputFiles.length}_${bytes}_$cpus"
        if (!new java.io.File(s"$tuned/_SUCCESS").exists())
          graft.sources.Sources.compactSmallFiles(spark, s"$sfDir/lineitem.parquet", tuned,
            targetBytes = math.max(bytes / cpus, 1L))
        val li = spark.read.parquet(tuned)
        (1 to 3).foreach(_ => suite(li))
        median(7)(suite(li))
      }),
      // The analog of the reference's benchmark over in-memory Arrow batches: 8
      // untimed runs for codegen + JIT, then the best of 35 (the min of 25 still
      // varied 0.14-0.20 s across JVM launches).
      "suite20_cached" -> (() => withoutAqe(spark) {
        val cached = lineitem.repartition(cpus).cache()
        try {
          cached.count()
          (1 to 8).foreach(_ => suite(cached))
          (1 to 35).map(_ => secs(suite(cached))).min
        } finally cached.unpersist()
      }))
  }

  /** SemDeDup as deployed: k = n/500 cells keeps cell size constant as data grows,
    * where the semdedup_embeddings oracle query pins 4 centroids for DuckDB replay. */
  private def semDedupScaled(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, exists, lit}
    import graft.operators.Similarity
    val df = s.read.parquet(s"$d/embeddings.parquet")
      .filter(col("vec_id").isNotNull && !exists(col("embedding"), x => x.isNull))
    val k = math.max(4, (df.count() / 500L).toInt)
    val cents = Similarity.refineCentroids(df, "embedding",
      Similarity.seedCentroids(df, "vec_id", "embedding", k), iters = 1)
    Similarity.semDedupPairs(df, "vec_id", "embedding", cents, 0.85).agg(count(lit(1)))
  }

  private def shortName(n: String): String =
    n.stripSuffix("_documents").stripSuffix("_events").stripSuffix("_embeddings")

  private def r(v: Double, digits: Int) =
    BigDecimal(v).setScale(digits, BigDecimal.RoundingMode.HALF_UP).toString
  private def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** The stdout line, untrimmed. Each ratio block carries the reference's
    * 10x-data ⇒ <15x-time bound. */
  private[graft] def line(value: Double, queries: Seq[(String, Double)],
      headline: Seq[(String, Double)], failed: Seq[String],
      opVerify: Seq[(String, (Double, Double))], ratioBlocks: Seq[(String, Seq[(String, Double)])],
      ambient: Map[String, Double], sf: String): String = {
    def str(s: String) = "\"" + s + "\""
    val blocks = ratioBlocks.filter(_._2.nonEmpty).map { case (key, rs) =>
      val (wq, w) = rs.maxBy(_._2)
      key -> obj(Seq("worst" -> r(w, 2), "worst_q" -> str(wq), "n" -> rs.size.toString,
        "bound" -> "15.0", "ratios" -> obj(rs.map { case (k, v) => k -> r(v, 2) })))
    }
    obj(Seq("metric" -> str("suite20_inmemory_sec"), "value" -> r(value, 3), "unit" -> str("sec"),
      "queries" -> obj(queries.map { case (k, v) => k -> r(v, 2) } ++
        headline.map { case (k, v) => k -> r(v, 3) }),
      "failed" -> failed.map(str).mkString("[", ",", "]")) ++
      (if (opVerify.isEmpty) Nil else Seq("op_verify_sec" -> obj(opVerify.map {
        case (k, (op, ver)) => k -> s"[${r(op, 2)},${r(ver, 2)}]" }))) ++
      blocks ++
      ambient.maxByOption(_._2).map { case (q, v) =>
        "amb_worst" -> obj(Seq("q" -> str(q), "v" -> r(v, 2))) }.toSeq ++
      Seq("sf" -> str(sf)))
  }

  /** Runs every arm, records its window's ambient load, and names it if it threw. */
  private final class Measure {
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    val ambient = scala.collection.mutable.Map[String, Double]()
    def apply[T](key: String, failedValue: T)(arm: => T): T = {
      val pre = loadSnap()
      val out = try arm catch { case NonFatal(e) =>
        println(s"[bench] $key failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        failed += key
        failedValue
      }
      val a = ambientFrac(pre, loadSnap())
      if (a >= 0) ambient(key) = a
      out
    }
  }

  /** Ratio blocks run after other work: readings inflate up to ~2x from this JVM's
    * heap state unless cached data is cleared and the heap quiesces (PLANS.md round 8). */
  private def settle(spark: SparkSession): Unit =
    { spark.sharedState.cacheManager.clearCache(); System.gc(); Thread.sleep(2000) }

  /** A ratio block: each arm through [[ScaleSweep.ratio]], small vs big directory. */
  private def ratios(spark: SparkSession, measure: Measure, block: String, small: => String,
      big: => String, arms: Seq[(String, String => Unit)]): Seq[(String, Double)] =
    measure(block, Seq(s"${block}_failed" -> 9999.0)) {
      val (smallDir, bigDir) = (small, big)
      settle(spark)
      arms.map { case (name, run) =>
        name -> measure(s"$block:$name", 9999.0) {
          val (s, b) = ScaleSweep.ratio(run, smallDir, bigDir)
          println(f"[$block] $name%-34s $s%7.2f s -> $b%7.2f s  ratio ${b / s}%5.1fx")
          b / s
        }
      }
    }

  /** GenData's `scale`x data, cached across runs and keyed on the generator version;
    * events is written last, so its _SUCCESS marks a whole build. */
  private def generated(spark: SparkSession, sfDir: String, scale: Int): String = {
    val (env, tag) = if (scale == 10) ("SPARK_GRAFT_SF1_DIR", "sf1") else ("SPARK_GRAFT_SF10_DIR", "sf10")
    val dir = sys.env.getOrElse(env, s"/tmp/graft_${tag}_gen_v${GenData.Version}")
    if (!new java.io.File(s"$dir/events.parquet/_SUCCESS").exists())
      GenData.generate(spark, dir, scale, profileDir = sfDir)
    dir
  }
}
