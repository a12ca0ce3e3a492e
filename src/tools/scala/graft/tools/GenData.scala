package graft.tools

import org.apache.spark.sql.SparkSession

/** Deterministic distributed generator for a REAL sf-N dataset (default sf1 =
  * 10× sf0.1): fresh keys, fresh text, fresh vectors — NOT the replica-salted
  * synthetic corpus [[ScaleSweep]] builds (replicas preserve the original's
  * duplicate structure by construction; this generator draws every row
  * independently from the same distributions the driver's testdata follows, so
  * the sf1 proof point measures the engine on genuinely new data, profiled
  * from /root/testdata/sf0.1: schemas, key cardinalities, value ranges, the
  * 31-word document vocabulary, label/type/priority splits).
  *
  * Every column is a pure splitmix64 function of (row id, column salt): the
  * build is embarrassingly parallel (spark.range → typed map, no driver loop,
  * no RNG state), reproducible bit-for-bit across runs and partitionings, and
  * scales linearly — the same shape a 100 TB backfill generator would need.
  *
  * ~10% of documents are EXACT duplicates of an earlier doc (real corpora are
  * duplicate-heavy; an all-unique corpus would give the dedup operators nothing
  * to find and understate their sf1 cost).
  *
  * Usage: `runMain graft.tools.GenData <outDir> [scale]` (scale relative to
  * sf0.1 row counts; default 10 ⇒ sf1) — or [[generate]] from [[graft.Bench]].
  */
object GenData {

  /** Bump when distributions/row counts change: [[graft.Bench]] keys its
    * cached-dataset directory on this, so a stale generation can never be
    * silently measured as the current one.
    */
  val Version = 3 // v3: long-tail token suffixes in docText (see its comment)

  // splitmix64 — the standard public-domain mixer (Steele et al., JDK
  // SplittableRandom): one pass per (id, salt) draw.
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(id: Long, salt: Long): Long = mix(mix(id) ^ mix(salt)) & Long.MaxValue
  private def u(id: Long, salt: Long): Double = (h(id, salt) >>> 10).toDouble / (1L << 53)
  private def r2d(v: Double): Double = math.rint(v * 100.0) / 100.0

  // the testdata document vocabulary (profiled: 31 distinct tokens)
  private val Vocab: Array[String] = Array("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("zh", "es", "fr", "de")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "view", "purchase", "signup", "error")
  private val PTypes1 = Array("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
  private val PTypes2 = Array("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
  private val PTypes3 = Array("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")
  private val Flags = Array("A", "N", "R")
  private val Statuses = Array("F", "O", "P")

  final case class Lineitem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
      l_discount: Double, l_tax: Double, l_returnflag: String,
      l_linestatus: String, l_shipdate: java.sql.Timestamp)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: java.sql.Timestamp, o_orderpriority: String)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Long,
      c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Long,
      s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String,
      p_type: String, p_size: Int, p_retailprice: Double)
  final case class Doc(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)
  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  private def dayTs(epochDay0: Long, days: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond((epochDay0 + days) * 86400L))

  private def docText(seed: Long): String = {
    val n = 8 + (h(seed, 11) % 93).toInt // ~54 words mean, 44..~580 chars
    val sb = new java.lang.StringBuilder(n * 6)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      val r = h(seed, 100 + i)
      // ~60% of words carry a numeric long-tail suffix — standing in for the
      // ids/urls/numbers/rare-word tail real text has (~1e5 token types in a
      // crawl vs this profile's 31-word dictionary). Without it the bulk
      // pairwise 6-gram Jaccard of short docs sits inside LSH banding range
      // and similarity clusters grow with corpus size: at scale=100 the
      // bucket histogram hit 13k-doc buckets and ~7e8 intra-bucket pairs — a
      // generator artifact (text diversity frozen while docs grow 100x), not
      // a corpus shape real crawls have. With the tail, post-guard LSH
      // candidates measure ~5M at 500k docs (ScratchNgramSf10, PLANS.md
      // deleted-tools index)
      // while planted exact-dup chains still match bit-for-bit.
      if (r % 5 < 3) {
        sb.append(Vocab(((r >>> 3) % Vocab.length).toInt))
        sb.append((r >>> 8) % 1000000)
      } else sb.append(Vocab((r % Vocab.length).toInt))
      i += 1
    }
    sb.toString
  }

  /** Generate all ten tables at `scale`× the sf0.1 row counts into `out`.
    * `profileDir` supplies the fixed nation/region dimension tables (25 + 5
    * rows) — the directory the distributions were profiled from.
    *
    * Tables are written straight out of `spark.range(0, n, 1, parts)` — rows
    * are pure functions of their id, so generating INTO the target partition
    * count is shuffle-free and still bit-reproducible (a `.repartition` after
    * the map would move every generated byte once for no semantic effect; at
    * the 100 TB-backfill scale this generator's shape targets, that shuffle
    * would dominate the build).
    */
  def generate(spark: SparkSession, out: String, scale: Int = 10,
      profileDir: String = "/root/testdata/sf0.1"): Unit = {
    import spark.implicits._
    require(scale >= 1, s"scale must be >= 1, got $scale")
    val d1995 = java.time.LocalDate.of(1995, 1, 1).toEpochDay
    val nCust = 15000L * scale
    val nPart = 20000L * scale
    val nSupp = 1000L * scale
    val nOrders = 150000L * scale
    val nUsers = 1500L * scale

    spark.range(0L, 600000L * scale, 1L, 32).map { id =>
      val qty = 1.0 + (h(id, 1) % 50)
      Lineitem(id >>> 2, h(id, 2) % nPart, h(id, 3) % nSupp, (id & 3).toInt + 1,
        qty, r2d(qty * (900.0 + u(id, 4) * 1200.0)),
        (h(id, 5) % 11) / 100.0, (h(id, 6) % 9) / 100.0,
        Flags((h(id, 7) % 3).toInt),
        if (h(id, 8) % 2 == 0) "O" else "F",
        dayTs(d1995, h(id, 9) % 2500))
    }.write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    spark.range(0L, nOrders, 1L, 8).map { id =>
      Order(id, h(id, 21) % nCust, Statuses((h(id, 22) % 3).toInt),
        r2d(1000.0 + u(id, 23) * 499000.0), dayTs(d1995, h(id, 24) % 2405),
        Priorities((h(id, 25) % 5).toInt))
    }.write.mode("overwrite").parquet(s"$out/orders.parquet")

    spark.range(0L, nCust, 1L, 4).map { id =>
      Customer(id, f"Customer#$id%09d", h(id, 31) % 25,
        r2d(-999.99 + u(id, 32) * 10999.98), Segments((h(id, 33) % 5).toInt))
    }.write.mode("overwrite").parquet(s"$out/customer.parquet")

    spark.range(0L, nSupp, 1L, 2).map { id =>
      Supplier(id, f"Supplier#$id%09d", h(id, 41) % 25,
        r2d(-999.99 + u(id, 42) * 10999.98))
    }.write.mode("overwrite").parquet(s"$out/supplier.parquet")

    spark.range(0L, nPart, 1L, 4).map { id =>
      Part(id, (0 until 3).map(i => Vocab((h(id, 50 + i) % Vocab.length).toInt))
        .mkString(" "),
        s"Brand#${1 + (h(id, 54) % 5)}${1 + (h(id, 55) % 5)}",
        s"${PTypes1((h(id, 56) % 6).toInt)} ${PTypes2((h(id, 57) % 5).toInt)} " +
          PTypes3((h(id, 58) % 5).toInt),
        1 + (h(id, 59) % 50).toInt, r2d(900.0 + u(id, 60) * 1200.0))
    }.write.mode("overwrite").parquet(s"$out/part.parquet")

    // nation/region are the fixed TPC-H dimension tables — take them from the
    // profiled source verbatim (25 + 5 rows)
    spark.read.parquet(s"$profileDir/nation.parquet")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/nation.parquet")
    spark.read.parquet(s"$profileDir/region.parquet")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/region.parquet")

    val nDocs = 5000L * scale
    spark.range(0L, nDocs, 1L, 16).map { id =>
      // ~10% exact duplicates of an EARLIER doc (dup structure real corpora
      // have; id 0 can't point backwards and stays original). The target may
      // itself be a duplicate — RESOLVE the chain (strictly decreasing, so it
      // terminates) or the copy would use docText(target) while the target's
      // own text is docText(its source): a "duplicate" matching nothing.
      var seed: Long = id
      while (seed > 0 && h(seed, 70) % 10 == 0) seed = h(seed, 71) % seed
      val text = docText(seed)
      Doc(id, text,
        if (u(id, 72) < 0.412) "en" else Langs((h(id, 73) % 4).toInt),
        s"src${h(id, 74) % 20}", text.length.toLong)
    }.write.mode("overwrite").parquet(s"$out/documents.parquet")

    val dims = 64
    spark.range(0L, 2000L * scale, 1L, 8).map { id =>
      val label = (h(id, 80) % 10).toInt
      val v = new Array[Double](dims)
      var norm = 0.0
      var d = 0
      while (d < dims) {
        // cluster center (unit direction per label) + noise: cosine structure
        // for kmeans/semdedup/ivf without degenerate collinearity
        val c = u(label.toLong, 900 + d) - 0.5
        val g = (u(id, 200 + d) + u(id, 300 + d)) - 1.0
        v(d) = c + 0.45 * g
        norm += v(d) * v(d)
        d += 1
      }
      val inv = if (norm > 0) 1.0 / math.sqrt(norm) else 0.0
      Emb(id, v.map(x => (x * inv).toFloat), label)
    }.write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val day2024 = java.time.LocalDate.of(2024, 1, 1).toEpochDay
    spark.range(0L, 100000L * scale, 1L, 8).map { id =>
      val micros = (u(id, 91) * 30.0 * 86400.0 * 1e6).toLong
      Event(id, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        day2024 * 86400L).plus(java.time.Duration.ofNanos(micros * 1000L))),
        h(id, 92) % nUsers, EventTypes((h(id, 93) % 5).toInt),
        r2d(-50.0 * math.log(1.0 - u(id, 94))), // exponential, mean 50 (profiled)
        s"""{"k": ${h(id, 95) % 100}}""")
    }.write.mode("overwrite").parquet(s"$out/events.parquet")
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_sf1_gen")
    val scale = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val t0 = System.nanoTime()
      generate(spark, out, scale)
      println(f"[gendata] wrote scale=$scale tables to $out in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    } finally spark.stop()
  }
}
