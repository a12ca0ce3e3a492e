package graftbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Seeded input generator. Every value is a pure splitmix64 function of
  * (row id, column salt, seed) — the scheme of graft's own GenData tool with the
  * workload seed mixed into every salt — so one seed always yields the same bytes.
  *
  * Files are written with the plain parquet-hadoop writer, before any Spark session
  * exists: generation warms none of the Spark code paths that set-up time measures,
  * and the library under test only ever sees the finished parquet files.
  */
object Gen {

  /** Row counts and file layout per table. The benchmark's README repeats them. */
  object Sizes {
    val LineitemRows = 600000L; val LineitemFiles = 8
    val OrdersRows = 4000L; val OrdersFiles = 4
    val CustomerRows = 400L; val CustomerFiles = 1
    val EventRows = 100000L; val EventDays = 30; val EventUsers = 15000L
    val DocRows = 2500L; val DocFiles = 4
  }

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The draws of one seed: `h` is a non-negative 63-bit hash, `u` uniform in [0, 1). */
  final class Draw(seed: Long) {
    private val seedSalt = mix(seed ^ 0x5EEDL)
    def h(id: Long, salt: Long): Long = mix(mix(id) ^ mix(salt ^ seedSalt)) & Long.MaxValue
    def u(id: Long, salt: Long): Double = (h(id, salt) >>> 10).toDouble / (1L << 53)
  }

  private def r2d(v: Double): Double = math.rint(v * 100.0) / 100.0

  private val Vocab = Array("a", "agg", "batch", "big", "column", "customer", "data",
    "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "the", "value", "vector", "window")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val EventTypes = Array("click", "view", "purchase", "signup", "error")
  private val Flags = Array("A", "N", "R")
  private val Statuses = Array("F", "O", "P")
  private val Day1995Micros = java.time.LocalDate.of(1995, 1, 1).toEpochDay * 86400L * 1000000L
  val Day2024Micros: Long = java.time.LocalDate.of(2024, 1, 1).toEpochDay * 86400L * 1000000L
  private val DayMicros = 86400L * 1000000L

  private def write(path: String, schema: MessageType, ids: Iterator[Long])(
      fill: (Group, Long) => Unit): Unit = {
    val factory = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new Path(path)).withType(schema)
      .withConf(new Configuration()).withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try ids.foreach { id => val g = factory.newGroup(); fill(g, id); w.write(g) }
    finally w.close()
  }

  /** Write `files` files under `dir`, each covering one contiguous id range. */
  private def table(dir: String, rows: Long, files: Int, schema: String,
      tasks: collection.mutable.Buffer[() => Unit])(fill: (Group, Long) => Unit): Unit = {
    val s = MessageTypeParser.parseMessageType(schema)
    (0 until files).foreach { f =>
      val lo = rows * f / files; val hi = rows * (f + 1) / files
      tasks += (() => write(f"$dir/part-$f%05d.parquet", s, Iterator.range(0, (hi - lo).toInt)
        .map(lo + _))(fill))
    }
  }

  private def runAll(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
  }

  def lineitem(d: Draw, dir: String, tasks: collection.mutable.Buffer[() => Unit]): Unit =
    table(dir, Sizes.LineitemRows, Sizes.LineitemFiles,
      """message lineitem { required int64 l_orderkey; required int64 l_partkey;
        |required int64 l_suppkey; required int32 l_linenumber; required double l_quantity;
        |required double l_extendedprice; required double l_discount; optional double l_tax;
        |required binary l_returnflag (STRING); required binary l_linestatus (STRING);
        |required int64 l_shipdate (TIMESTAMP(MICROS,true)); }""".stripMargin, tasks) { (g, id) =>
      val qty = 1.0 + d.h(id, 1) % 50
      g.add("l_orderkey", id >>> 2); g.add("l_partkey", d.h(id, 2) % 200000)
      g.add("l_suppkey", d.h(id, 3) % 10000); g.add("l_linenumber", (id & 3).toInt + 1)
      g.add("l_quantity", qty); g.add("l_extendedprice", r2d(qty * (900.0 + d.u(id, 4) * 1200.0)))
      g.add("l_discount", (d.h(id, 5) % 11) / 100.0)
      // 0.5% NULL tax: completeness(l_tax) is 0.995, so the >= 0.99 check is not vacuous
      if (d.h(id, 10) % 200 != 0) g.add("l_tax", (d.h(id, 6) % 9) / 100.0)
      g.add("l_returnflag", Flags((d.h(id, 7) % 3).toInt))
      g.add("l_linestatus", if (d.h(id, 8) % 2 == 0) "O" else "F")
      g.add("l_shipdate", Day1995Micros + (d.h(id, 9) % 2500) * DayMicros)
    }

  def orders(d: Draw, dir: String, tasks: collection.mutable.Buffer[() => Unit]): Unit =
    table(dir, Sizes.OrdersRows, Sizes.OrdersFiles,
      """message orders { required int64 o_orderkey; required int64 o_custkey;
        |required binary o_orderstatus (STRING); optional double o_totalprice;
        |required int64 o_orderdate (TIMESTAMP(MICROS,true));
        |required binary o_orderpriority (STRING); }""".stripMargin, tasks) { (g, id) =>
      g.add("o_orderkey", id); g.add("o_custkey", d.h(id, 21) % Sizes.CustomerRows)
      g.add("o_orderstatus", Statuses((d.h(id, 22) % 3).toInt))
      // 1% NULL price: completeness(o_totalprice) is 0.99, checked against >= 0.95
      if (d.h(id, 26) % 100 != 0) g.add("o_totalprice", r2d(1000.0 + d.u(id, 23) * 499000.0))
      g.add("o_orderdate", Day1995Micros + (d.h(id, 24) % 2405) * DayMicros)
      g.add("o_orderpriority", Priorities((d.h(id, 25) % 5).toInt))
    }

  def customer(d: Draw, dir: String, tasks: collection.mutable.Buffer[() => Unit]): Unit =
    table(dir, Sizes.CustomerRows, Sizes.CustomerFiles,
      """message customer { required int64 c_custkey; required binary c_name (STRING);
        |required int64 c_nationkey; required double c_acctbal;
        |required binary c_mktsegment (STRING); }""".stripMargin, tasks) { (g, id) =>
      g.add("c_custkey", id); g.add("c_name", f"Customer#$id%09d")
      g.add("c_nationkey", d.h(id, 31) % 25)
      g.add("c_acctbal", r2d(-999.99 + d.u(id, 32) * 10999.98))
      g.add("c_mktsegment", Segments((d.h(id, 33) % 5).toInt))
    }

  /** Day of an event: days are contiguous id ranges, so each day is one file. */
  def eventDay(id: Long): Int = (id * Sizes.EventDays / Sizes.EventRows).toInt

  /** Event value: exponential with mean 50; NULL for 2% of rows. */
  def eventValue(d: Draw, id: Long): Option[Double] =
    if (d.h(id, 96) % 50 == 0) None else Some(r2d(-50.0 * math.log(1.0 - d.u(id, 94))))
  def eventUser(d: Draw, id: Long): Long = d.h(id, 92) % Sizes.EventUsers

  def events(d: Draw, dir: String, tasks: collection.mutable.Buffer[() => Unit]): Unit = {
    val s = MessageTypeParser.parseMessageType(
      """message events { required int64 event_id; required int64 ts (TIMESTAMP(MICROS,true));
        |required int64 user_id; required binary event_type (STRING); optional double value;
        |required binary props (STRING); }""".stripMargin)
    (0 until Sizes.EventDays).foreach { day =>
      val lo = (day * Sizes.EventRows + Sizes.EventDays - 1) / Sizes.EventDays
      val hi = ((day + 1) * Sizes.EventRows + Sizes.EventDays - 1) / Sizes.EventDays
      tasks += (() => write(f"$dir/day=$day%02d/part-00000.parquet", s,
        Iterator.range(lo.toInt, hi.toInt).map(_.toLong)) { (g, id) =>
        require(eventDay(id) == day)
        g.add("event_id", id)
        g.add("ts", Day2024Micros + day * DayMicros + (d.u(id, 91) * DayMicros).toLong)
        g.add("user_id", eventUser(d, id))
        g.add("event_type", EventTypes((d.h(id, 93) % 5).toInt))
        eventValue(d, id).foreach(v => g.add("value", v))
        g.add("props", s"""{"k": ${d.h(id, 95) % 100}}""")
      })
    }
  }

  /** The document corpus. About 10% of documents are exact copies of an earlier one
    * and about 5% are copies of an earlier one with one word replaced: exact copies
    * are the planted pairs every run must find, edited copies give the verify step
    * candidates that fail the threshold.
    */
  final class Corpus(d: Draw) {
    private def kind(id: Long): Long = if (id == 0) 3 else d.h(id, 70) % 20
    private def source(id: Long): Long = d.h(id, 71) % id

    private def fresh(id: Long): String = {
      val n = 8 + (d.h(id, 11) % 93).toInt
      val sb = new java.lang.StringBuilder(n * 8)
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(' ')
        sb.append(word(id, 100 + i))
        i += 1
      }
      sb.toString
    }
    // ~60% of words carry a numeric suffix, the long tail real text has (GenData's
    // reason: without it, background 5-gram Jaccard sits inside the LSH band range)
    private def word(id: Long, salt: Long): String = {
      val r = d.h(id, salt)
      if (r % 5 < 3) Vocab(((r >>> 3) % Vocab.length).toInt) + ((r >>> 8) % 1000000)
      else Vocab((r % Vocab.length).toInt)
    }

    /** Identity of the text: documents with equal keys have identical text. */
    def key(id: Long): Long = kind(id) match {
      case 0 | 1 => key(source(id))
      case _ => id
    }

    def text(id: Long): String = kind(id) match {
      case 0 | 1 => text(source(id))
      case 2 =>
        val words = text(source(id)).split(' ')
        words((d.h(id, 75) % words.length).toInt) = word(id, 76)
        words.mkString(" ")
      case _ => fresh(id)
    }

    /** Every pair (a < b) of documents with identical text. */
    def plantedPairs(rows: Long): Set[(Long, Long)] =
      (0L until rows).groupBy(key).valuesIterator.filter(_.size > 1).flatMap { ids =>
        val s = ids.sorted
        for (i <- s.indices.iterator; j <- (i + 1 until s.size).iterator) yield (s(i), s(j))
      }.toSet
  }

  def documents(d: Draw, dir: String, tasks: collection.mutable.Buffer[() => Unit]): Unit = {
    val corpus = new Corpus(d)
    table(dir, Sizes.DocRows, Sizes.DocFiles,
      """message documents { required int64 doc_id; required binary text (STRING); }""",
      tasks) { (g, id) => g.add("doc_id", id); g.add("text", corpus.text(id)) }
  }

  /** Write the tables one workload reads under `root`, in parallel. */
  def generate(workload: String, seed: Long, root: String): Unit = {
    val d = new Draw(seed)
    val tasks = collection.mutable.ArrayBuffer.empty[() => Unit]
    workload match {
      case "suite_scan" => lineitem(d, s"$root/lineitem", tasks)
      case "suite_mixed" =>
        orders(d, s"$root/orders", tasks); customer(d, s"$root/customer", tasks)
      case "incremental_ingest" => events(d, s"$root/events", tasks)
      case "dedup_corpus" => documents(d, s"$root/documents", tasks)
    }
    runAll(tasks.toSeq)
  }
}
