package graftbench

import java.lang.management.ManagementFactory
import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import scala.util.control.NonFatal

/** Runs one workload as a closed loop with one client, from a single process on
  * local[nproc], and prints its metrics. See the README next to this package.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --root <dir>
  *   --out <dir>
  * where --root is a scratch directory the run owns (inputs, Spark local dirs, state
  * stores) and --out receives the run's artifact and, when traced, its spans.
  */
object Main {

  /** End-to-end metrics: (name, unit). Measured with tracing off. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "first_op_s" -> "s",
    "op_p50_s" -> "s", "op_tail_s" -> "s", "rows_per_s" -> "1/s", "heap_retained_mb" -> "MB")

  /** Per-layer metrics of the traced run: (name, unit), per op unless noted. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.open_s" -> "s",
    "spark.planning_s" -> "s", "spark.codegen_compile_s" -> "s",
    "core.suite_s" -> "s", "core.shared_scan_s" -> "s", "core.multijob_wall_s" -> "s",
    "core.fold_s" -> "s",
    "constraints.multijob_busy_s" -> "s", "constraints.slowest_s" -> "s",
    "constraints.eval_errors" -> "count",
    "analyzers.analyze_s" -> "s", "analyzers.state_io_s" -> "s",
    "analyzers.state_saves" -> "count", "analyzers.state_loads" -> "count",
    "analyzers.state_lists" -> "count", "analyzers.state_deletes" -> "count",
    "analyzers.anomaly_s" -> "s",
    "repository.save_s" -> "s", "repository.history_s" -> "s", "repository.rows_read" -> "count",
    "repository.read_useful_frac" -> "ratio", "repository.log_files" -> "count",
    "operators.candidates_s" -> "s", "operators.candidate_pairs" -> "count",
    "operators.verify_s" -> "s", "operators.verified_pairs" -> "count",
    "operators.verify_yield" -> "ratio",
    "functions.minhash_s" -> "s", "functions.signatures" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.task_gc_s" -> "s",
    "spark.task_wait_s" -> "s", "spark.driver_s" -> "s", "spark.input_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.peak_exec_mem_mb" -> "MB",
    "spark.failed_tasks" -> "count",
    "trace.overhead_frac" -> "ratio", "trace.self_time_gap_s" -> "s",
    "ambient.cotenant_cpu_frac" -> "ratio", "ambient.steal_frac" -> "ratio")

  /** Set-ups per run (the first one is the process's cold start) and kernel probes of
    * a traced dedup_corpus run.
    */
  val SetUps = 3
  val Probes = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, root: String,
      out: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("root"), need("out"))
    require(Workload.Names.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  /** One traced op's record. */
  final case class OpTrace(wallNs: Long, durations: Map[String, Long], selfGapNs: Long,
      counts: Map[String, Double], spark: SparkTotals, planningMs: Long, compileNs: Long,
      wallMs: (Long, Long), recordsRead: Long)

  def session(root: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder().appName("graftbench").master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val jvmUptimeNs = ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val a = parse(argv)
    val data = s"${a.root}/data"
    new java.io.File(a.out).mkdirs()

    val genNs = timed(Gen.generate(a.workload, a.seed, data))
    val wl = Workload(a.workload, data, a.seed, s"${a.root}/state")
    val tracer = new Tracer(a.trace)
    var attempted = 0L
    var failed = 0L
    val failures = collection.mutable.ArrayBuffer.empty[String]
    var opId = 0
    var oracleReady = false
    val pending = collection.mutable.ArrayBuffer.empty[() => Option[String]]
    def fail(msg: String): Unit = { failed += 1; if (failures.size < 5) failures += msg }

    def runOp(spark: SparkSession, traced: Boolean, listener: BenchListener): (Long, Long, Option[OpTrace]) = {
      opId += 1
      attempted += 1
      if (traced) {
        Bus.drain(spark)
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(listener)
      }
      val plan0 = listener.planningMs
      val compile0 = CodeGenerator.compileTime
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = try Right {
        if (traced) tracer.rootSpan(opId, "op")(wl.op(spark, tracer, traced = true))
        else wl.op(spark, tracer, traced = false)
      } catch { case NonFatal(e) => Left(e.toString) }
      val t1 = System.nanoTime()
      val ms1 = System.currentTimeMillis()
      res match {
        case Left(msg) => fail(msg)
        case Right(o) => if (oracleReady) o.check().foreach(fail) else pending += o.check
      }
      wl.afterOp()
      val rec = if (!traced) None else {
        Bus.drain(spark)
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(listener)
        val historySpans = tracer.spans.filter(s => s.op == opId && s.name == "repository.history").map(_.id).toSet
        val root = tracer.spans.find(s => s.op == opId && s.parent == -1).get
        Some(OpTrace(t1 - t0, tracer.durations(opId), tracer.selfTimes(opId).values.sum - (root.end - root.start),
          tracer.counts.collect { case ((o, k), v) if o == opId => k -> v }.toMap,
          listener.totals(opId), listener.planningMs - plan0, CodeGenerator.compileTime - compile0,
          (ms0, ms1), historySpans.toSeq.map(listener.recordsBySpan).sum))
      }
      (t1 - t0, res.map(_.rows).getOrElse(0L), rec)
    }

    // Set-ups: each starts a session, opens the inputs and runs the session's first
    // op. The first starts at process start and its op is the cold first op; each
    // later one stops the session and starts a fresh one. Data generation, the
    // oracle (run after the first set-up, whose op is checked then) and the warm-up
    // ops before the timed phase are not set-up.
    val setups = collection.mutable.ArrayBuffer.empty[Double]
    var firstOpS = 0.0
    var oracleNs = 0L
    var spark: SparkSession = null
    val listener = new BenchListener
    (1 to SetUps).foreach { i =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(a.root)
      tracer.bind(spark.sparkContext)
      wl.open(spark)
      val opS = runOp(spark, traced = false, listener)._1 / 1e9
      val ns = System.nanoTime() - t0
      if (i == 1) {
        firstOpS = opS
        setups += (jvmUptimeNs + (t0 - entryNs) - genNs + ns) / 1e9
        oracleNs = timed(wl.prepareOracle(spark))
        oracleReady = true
        pending.foreach(_().foreach(fail))
      } else setups += ns / 1e9
    }
    (1 to wl.warmUps).foreach(_ => runOp(spark, traced = false, listener))

    // Timed phase: a closed loop for `seconds`. A traced run alternates untraced and
    // traced ops so the two medians share one window.
    val amb0 = Ambient.sample()
    val plain = collection.mutable.ArrayBuffer.empty[Double]
    val traced = collection.mutable.ArrayBuffer.empty[OpTrace]
    var rows = 0L
    var plainNs = 0L
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline || (a.trace && traced.isEmpty)) {
      val (ns, r, rec) = runOp(spark, a.trace && i % 2 == 1, listener)
      rec match {
        case Some(t) => traced += t
        case None => plain += ns / 1e9; rows += r; plainNs += ns
      }
      i += 1
    }
    val amb = Ambient.between(amb0, Ambient.sample())
    // Retained heap: the floor over a few full collections, since Spark's cleaner
    // thread releases blocks of collected RDDs only after a collection has run.
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    wl.finish(spark).foreach { msg => attempted += 1; fail(msg) }
    val probes = wl match {
      case d: DedupCorpus if a.trace => (1 to Probes).map { _ =>
        opId += 1
        val id = opId
        tracer.rootSpan(id, "probe")(d.probe(spark, tracer))
        (tracer.durations(id), tracer.counts.collect { case ((o, k), v) if o == id => k -> v }.toMap)
      }
      case _ => Nil
    }
    val logFiles = wl match { case w: IncrementalIngest => w.logFiles; case _ => 0 }
    spark.stop()

    val tail = Stats.tail(plain.toSeq)
    val metrics: Seq[(String, Double)] =
      if (!a.trace) Seq(
        "setup_s" -> Stats.median(setups.toSeq),
        "first_op_s" -> firstOpS,
        "op_p50_s" -> Stats.median(plain.toSeq),
        "op_tail_s" -> Stats.percentile(plain.toSeq, 90),
        "rows_per_s" -> rows / (plainNs / 1e9),
        "heap_retained_mb" -> heapMb)
      else layerMetrics(traced.toSeq, plain.toSeq, probes, logFiles, amb)

    val units = (if (a.trace) PerLayer else EndToEnd).toMap
    require(metrics.map(_._1) == (if (a.trace) PerLayer else EndToEnd).map(_._1), "metric list drifted")
    require(metrics.forall { case (k, _) => Stats.validName(k) && Stats.validUnit(units(k)) })
    val detail =
      s"""{"workload":"${a.workload}","seed":${a.seed},"trace":${if (a.trace) 1 else 0},""" +
        s""""samples":${plain.size},"traced_samples":${traced.size},"tail_pct":${tail.pct},"tail_s":${tail.value},""" +
        s""""tail_beyond":${tail.beyond},"setups_s":[${setups.mkString(",")}],""" +
        s""""op_s":[${plain.mkString(",")}],"traced_op_s":[${traced.map(_.wallNs / 1e9).mkString(",")}],""" +
        s""""gen_s":${genNs / 1e9},"oracle_s":${oracleNs / 1e9},""" +
        s""""error_rate":${failed.toDouble / attempted},"attempted":$attempted,"failed":$failed,""" +
        s""""cotenant_cpu_frac":${amb._1},"steal_frac":${amb._2},""" +
        s""""failures":[${failures.map(f => "\"" + f.replaceAll("[\"\\\\\\p{Cntrl}]", " ") + "\"").mkString(",")}]}"""
    val json = s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (k, v) => s""""$k": {"value": ${fmt(v)}, "unit": "${units(k)}"}""" }.mkString(", ") + "}}"
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    write(s"${a.out}/$tag.json", s"""{"detail":$detail,"result":$json}""")
    if (a.trace) tracer.writeJsonl(s"${a.out}/$tag-spans.jsonl")

    println(s"graftbench ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0}: " +
      s"${plain.size} timed ops, highest percentile with 10 beyond = p${fmt(tail.pct)} " +
      s"(${fmt(tail.value)} s, ${tail.beyond} beyond), " +
      s"error_rate = ${fmt(failed.toDouble / attempted)} ($failed of $attempted ops), " +
      s"co-tenant cpu = ${fmt(amb._1)}, steal = ${fmt(amb._2)}")
    failures.foreach(f => println(s"  failure: $f"))
    metrics.foreach { case (k, v) => println(f"  $k%-28s ${fmt(v)}%s ${units(k)}") }
    println(json)
  }

  private def layerMetrics(ops: Seq[OpTrace], plain: Seq[Double],
      probes: Seq[(Map[String, Long], Map[String, Double])], logFiles: Int,
      amb: (Double, Double)): Seq[(String, Double)] = {
    require(ops.nonEmpty, "no traced ops in the timed phase")
    def per(f: OpTrace => Double): Double = Stats.mean(ops.map(f))
    def sec(name: String): Double = per(_.durations.getOrElse(name, 0L) / 1e9)
    def cnt(name: String): Double = per(_.counts.getOrElse(name, 0.0))
    def ratio(num: Double, den: Double) = if (den == 0) 0.0 else num / den
    val stateIo = per(o => Seq("save", "load", "list", "delete")
      .map(w => o.durations.getOrElse(s"analyzers.state_$w", 0L)).sum / 1e9)
    val tracedP50 = Stats.median(ops.map(_.wallNs / 1e9))
    Seq(
      "sources.open_s" -> sec("sources.open"),
      "spark.planning_s" -> per(_.planningMs / 1e3),
      "spark.codegen_compile_s" -> per(_.compileNs / 1e9),
      "core.suite_s" -> sec("core.suite"),
      "core.shared_scan_s" -> sec("core.shared_scan"),
      "core.multijob_wall_s" -> sec("core.multijob"),
      "core.fold_s" -> sec("core.fold"),
      "constraints.multijob_busy_s" -> cnt("constraints.multijob_busy_s"),
      "constraints.slowest_s" -> cnt("constraints.slowest_s"),
      "constraints.eval_errors" -> cnt("constraints.eval_errors"),
      "analyzers.analyze_s" -> sec("analyzers.analyze"),
      "analyzers.state_io_s" -> stateIo,
      "analyzers.state_saves" -> cnt("analyzers.state_saves"),
      "analyzers.state_loads" -> cnt("analyzers.state_loads"),
      "analyzers.state_lists" -> cnt("analyzers.state_lists"),
      "analyzers.state_deletes" -> cnt("analyzers.state_deletes"),
      "analyzers.anomaly_s" -> sec("analyzers.anomaly"),
      "repository.save_s" -> sec("repository.save"),
      "repository.history_s" -> sec("repository.history"),
      "repository.rows_read" -> per(_.recordsRead.toDouble),
      "repository.read_useful_frac" -> ratio(cnt("repository.points_used"), per(_.recordsRead.toDouble)),
      "repository.log_files" -> logFiles.toDouble,
      "operators.candidates_s" -> sec("operators.candidates"),
      "operators.candidate_pairs" -> cnt("operators.candidate_pairs"),
      "operators.verify_s" -> sec("operators.verify"),
      "operators.verified_pairs" -> cnt("operators.verified_pairs"),
      "operators.verify_yield" -> ratio(cnt("operators.verified_pairs"), cnt("operators.candidate_pairs")),
      "functions.minhash_s" -> Stats.mean(probes.map(_._1.getOrElse("functions.minhash", 0L) / 1e9)),
      "functions.signatures" -> Stats.mean(probes.map(_._2.getOrElse("functions.signatures", 0.0))),
      "spark.jobs" -> per(_.spark.jobs.toDouble),
      "spark.stages" -> per(_.spark.stages.toDouble),
      "spark.tasks" -> per(_.spark.tasks.toDouble),
      "spark.task_run_s" -> per(_.spark.runMs / 1e3),
      "spark.task_cpu_s" -> per(_.spark.cpuNs / 1e9),
      "spark.task_gc_s" -> per(_.spark.gcMs / 1e3),
      "spark.task_wait_s" -> per(_.spark.waitMs / 1e3),
      "spark.driver_s" -> per(o => o.wallNs / 1e9 -
        Stats.covered(o.wallMs._1, o.wallMs._2, o.spark.jobIntervalsMs.toSeq) / 1e3),
      "spark.input_bytes" -> per(_.spark.inputBytes.toDouble),
      "spark.shuffle_write_bytes" -> per(_.spark.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> per(_.spark.shuffleRead.toDouble),
      "spark.spill_bytes" -> per(_.spark.spill.toDouble),
      "spark.peak_exec_mem_mb" -> per(_.spark.peakExecMem / 1048576.0),
      "spark.failed_tasks" -> per(_.spark.failedTasks.toDouble),
      "trace.overhead_frac" -> (if (plain.isEmpty) 0.0 else tracedP50 / Stats.median(plain) - 1),
      "trace.self_time_gap_s" -> ops.map(o => math.abs(o.selfGapNs) / 1e9).max,
      "ambient.cotenant_cpu_frac" -> amb._1,
      "ambient.steal_frac" -> amb._2)
  }

  private def timed(body: => Unit): Long = { val t0 = System.nanoTime(); body; System.nanoTime() - t0 }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString

  private def write(path: String, s: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(s) finally w.close()
  }
}

/** Co-tenant load: machine CPU time from /proc/stat against the CPU time of this
  * process and the children it waited for (Hadoop's local file system forks
  * helpers), both in clock ticks.
  */
object Ambient {
  final case class Sample(ns: Long, busy: Long, steal: Long, own: Long)
  private val Hz = 100.0 // USER_HZ

  private def fields(path: String): Array[String] = scala.util.Try {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().next().trim.split("\\s+") finally src.close()
  }.getOrElse(Array.fill(20)("0"))

  def sample(): Sample = {
    // cpu user nice system idle iowait irq softirq steal
    val cpu = fields("/proc/stat").drop(1).map(_.toLong)
    // /proc/self/stat: utime stime cutime cstime are fields 14-17; the command
    // name in field 2 has no spaces for a JVM
    val self = fields("/proc/self/stat").slice(13, 17).map(_.toLong)
    Sample(System.nanoTime(), cpu(0) + cpu(1) + cpu(2) + cpu(5) + cpu(6), cpu(7), self.sum)
  }

  /** (co-tenant busy fraction, steal fraction) of the machine's CPU capacity. */
  def between(a: Sample, b: Sample): (Double, Double) = {
    val capacity = (b.ns - a.ns) / 1e9 * Runtime.getRuntime.availableProcessors()
    if (capacity <= 0) (0.0, 0.0)
    else (math.max(0.0, (b.busy - a.busy - (b.own - a.own)) / Hz / capacity),
      (b.steal - a.steal) / Hz / capacity)
  }
}
