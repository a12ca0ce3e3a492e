package graftbench

import graft.analyzers.InMemoryStateStore
import graft.repository.{InMemoryMetricsRepository, MetricsQuery, ResultKey}

/** Tests of the benchmark's own logic. Run with `python3 graftbench/run.py --selftest`;
  * exits non-zero on the first failed check.
  */
object SelfTest {
  private var checks = 0

  private def check(what: String)(ok: => Boolean): Unit = {
    checks += 1
    if (!ok) { println(s"FAIL: $what"); sys.exit(1) }
  }

  def main(args: Array[String]): Unit = {
    tailPercentile()
    selfTime()
    metricNames()
    stateStoreWrapper()
    repositoryWrapper()
    println(s"selftest: $checks checks passed")
  }

  def tailPercentile(): Unit = {
    val t = Stats.tail((1 to 25).reverse.map(_.toDouble))
    check("25 samples: rank 15 is the highest with 10 beyond")(
      t == Stats.Tail(60.0, 15.0, 10, 25))
    val t11 = Stats.tail((1 to 11).map(_.toDouble))
    check("11 samples: the minimum has exactly 10 beyond")(t11.value == 1.0 && t11.beyond == 10)
    val few = Stats.tail(Seq(3.0, 1.0, 2.0))
    check("too few samples: the maximum, flagged with 0 beyond")(few == Stats.Tail(100.0, 3.0, 0, 3))
    check("1000 samples: p99")(Stats.tail((1 to 1000).map(_.toDouble)).pct == 99.0)
    check("median of even count")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    check("p90 interpolates between closest ranks")(
      math.abs(Stats.percentile((1 to 11).map(_.toDouble), 90) - 10.0) < 1e-12 &&
        math.abs(Stats.percentile(Seq(1.0, 2.0), 90) - 1.9) < 1e-12 &&
        Stats.percentile(Seq(5.0), 90) == 5.0)
  }

  def selfTime(): Unit = {
    // overlapping, nested and out-of-parent children
    val kids = Seq((10L, 30L), (20L, 50L), (25L, 26L), (60L, 70L), (90L, 120L), (-5L, 0L))
    check("union of overlapping children")(Stats.covered(0, 100, kids) == 60)
    check("self time subtracts the union once")(Stats.selfTime(0, 100, kids) == 40)
    check("no children")(Stats.selfTime(5, 9, Nil) == 4)
    check("child covering the parent")(Stats.selfTime(5, 9, Seq((0L, 100L))) == 0)

    // self times of a nested trace sum to the op's wall time
    val tr = new Tracer(true)
    tr.rootSpan(1, "op") {
      tr.span("a") { Thread.sleep(2); tr.span("b")(Thread.sleep(2)) }
      val c0 = System.nanoTime()
      Thread.sleep(1)
      tr.record("c", c0, System.nanoTime())
    }
    val root = tr.spans.find(_.parent == -1).get
    check("self times sum to the op wall")(tr.selfTimes(1).values.sum == root.end - root.start)
    check("op with one child each")(tr.spans.map(_.name).sorted == Seq("a", "b", "c", "op"))
    val off = new Tracer(false)
    check("disabled tracer records nothing")(off.rootSpan(1, "op")(off.span("a")(7)) == 7 && off.spans.isEmpty)
  }

  def metricNames(): Unit = {
    val all = Main.EndToEnd ++ Main.PerLayer
    check("every metric name is valid")(all.forall { case (n, _) => Stats.validName(n) })
    check("every unit is valid")(all.forall { case (_, u) => Stats.validUnit(u) })
    check("names are unique")(all.map(_._1).distinct.size == all.size)
    Seq("", "_x", ".x", "has space", "a/b", "x" * 65, "é").foreach { bad =>
      check(s"'$bad' is rejected")(!Stats.validName(bad))
    }
    Seq("a", "9x", "spark.task_gc_s", "x-y.z_1", "x" * 64).foreach { good =>
      check(s"'$good' is accepted")(Stats.validName(good))
    }
    // BENCHMARK.json at the repository root declares exactly these metrics
    val f = new java.io.File("BENCHMARK.json")
    if (f.isFile) {
      val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      def list(k: String) = {
        val it = j.get(k).elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
      }
      check("BENCHMARK.json end_to_end matches")(list("end_to_end") == Main.EndToEnd)
      check("BENCHMARK.json per_layer matches")(list("per_layer") == Main.PerLayer)
    }
  }

  def stateStoreWrapper(): Unit = {
    val inner = new InMemoryStateStore
    val tr = new Tracer(true)
    val st = new TimedStateStore(inner, tr)
    tr.rootSpan(1, "op") {
      st.save("size", "p1", Map("n" -> "3"))
      st.save("size", "p2", Map("n" -> "4"))
      check("load passes through")(st.load("size", "p1") == inner.load("size", "p1") &&
        st.load("size", "p1").contains(Map("n" -> "3")))
      check("missing load passes through")(st.load("size", "nope").isEmpty)
      check("list passes through")(st.listPartitions("size") == Seq("p1", "p2"))
      st.delete("size", "p1")
      check("delete passes through")(inner.listPartitions("size") == Seq("p2"))
    }
    check("calls are counted")(tr.counts((1, "analyzers.state_saves")) == 2 &&
      tr.counts((1, "analyzers.state_loads")) == 3 && tr.counts((1, "analyzers.state_lists")) == 1 &&
      tr.counts((1, "analyzers.state_deletes")) == 1)
    check("calls are spans")(tr.spans.count(_.name.startsWith("analyzers.state_")) == 7)
  }

  def repositoryWrapper(): Unit = {
    val inner = new InMemoryMetricsRepository
    val tr = new Tracer(true)
    val repo = new TimedMetricsRepository(inner, tr)
    tr.rootSpan(1, "op") {
      (1 to 5).foreach(i => repo.save(ResultKey(i * 10L, Map("run" -> s"$i")), Map("m" -> i.toDouble, "m.x" -> 1.0)))
      check("loadAll passes through")(repo.loadAll() == inner.loadAll())
      check("history passes through")(repo.history("m") == inner.history("m") &&
        repo.history("m").map(_._2) == Seq(1.0, 2.0, 3.0, 4.0, 5.0))
      val q = MetricsQuery(after = Some(15L), limit = Some(2))
      check("query passes through")(repo.query(q) == inner.query(q))
      check("pointsFor passes through")(repo.pointsFor("m", Some(2)) == Seq((40L, 4.0), (50L, 5.0)))
      check("pointAt passes through")(repo.pointAt("m", 30L).contains(3.0) && repo.pointAt("m", 31L).isEmpty)
    }
    check("saves are spans")(tr.spans.count(_.name == "repository.save") == 5)
    check("history points are counted")(tr.counts((1, "repository.points_used")) == 10)
  }
}
