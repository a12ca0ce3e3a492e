package graft

import graft.functions.TextFunctions
import graft.operators.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.functions._

/** LLM-pipeline operators: text functions, dedup family, similarity search, multimodal
  * plumbing. Uses the real documents/embeddings corpus (has planted near-dups).
  */
class OperatorSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()
  private lazy val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("text functions basics") {
    import spark.implicits._
    val df = Seq("The quick brown fox. It jumps!", "  a  b  ", "").toDF("t")
    val r = df.select(
      TextFunctions.tokenCount(col("t")).as("tc"),
      TextFunctions.charShingles(col("t"), 3).as("sh"),
      TextFunctions.punctRatio(col("t")).as("pr"),
      TextFunctions.fingerprint(col("t")).as("fp")).collect()
    assert(r(0).getAs[Int]("tc") == 6)
    assert(r(1).getAs[Int]("tc") == 2)
    assert(r(2).getAs[Int]("tc") == 0)
    assert(r(0).getSeq[String](1).contains("qui"))
    assert(r(0).getAs[Double]("pr") > 0.0)
    // fingerprint invariant to whitespace runs
    val fps = Seq("a  b", "a b", " a b ").toDF("t")
      .select(TextFunctions.fingerprint(col("t"))).collect().map(_.getLong(0))
    assert(fps.distinct.size == 1)
  }

  test("langId identifies marker-heavy text and CJK") {
    import spark.implicits._
    val df = Seq(
      "the cat and the dog is in the house that was big",
      "der hund und die katze ist nicht von dem haus",
      "le chat est dans la maison pour les enfants",
      "el perro y el gato es en la casa por una razon",
      "中文文本处理测试样例",
      "zzz qqq xxx").toDF("t")
    val langs = df.select(TextFunctions.langId(col("t"))).collect().map(_.getString(0))
    assert(langs.toSeq == Seq("en", "de", "fr", "es", "zh", "und"))
  }

  test("exact dedup stats and row_number dedup") {
    import spark.implicits._
    val df = Seq((1, "a"), (2, "a"), (3, "b")).toDF("id", "k")
    val stats = Dedup.exactDupStats(df, Seq("k")).head()
    assert(stats.getLong(0) == 3 && stats.getLong(1) == 2 && stats.getLong(2) == 1)
    val kept = Dedup.exactDedup(df, Seq("k"), tiebreaker = Some("id"))
      .orderBy("id").collect().map(_.getInt(0)).toSeq
    assert(kept == Seq(1, 3))
  }

  test("exact dedup stats: null keys collapse to ONE distinct value, not zero") {
    import spark.implicits._
    // keys: a, a, null, null, b -> distinct = 3 (a, b, <null>), dup rows = 2
    val df = Seq((1, Some("a")), (2, Some("a")), (3, None), (4, None), (5, Some("b")))
      .toDF("id", "k")
    val stats = Dedup.exactDupStats(df, Seq("k")).head()
    assert(stats.getLong(0) == 5 && stats.getLong(1) == 3 && stats.getLong(2) == 2)
    // multi-column form: (null,x) and (null,y) stay distinct
    val df2 = Seq((Some("a"), Some("x")), (None, Some("x")), (None, Some("y")), (None, Some("y")))
      .toDF("k1", "k2")
    val stats2 = Dedup.exactDupStats(df2, Seq("k1", "k2")).head()
    assert(stats2.getLong(0) == 4 && stats2.getLong(1) == 3 && stats2.getLong(2) == 1)
    // empty input: all counts 0, never NULL (the has-null flag aggregate is NULL over
    // zero rows and must not poison the sum)
    val empty = Dedup.exactDupStats(df.filter(col("id") > 100), Seq("k")).head()
    assert(empty.getLong(0) == 0 && empty.getLong(1) == 0 && empty.getLong(2) == 0)
  }

  test("minhash LSH finds the same high-jaccard pairs as exact all-pairs") {
    val threshold = 0.9
    val exact = Dedup.allPairsJaccard(docs, "doc_id", "text", shingleSize = 5)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    val lsh = Dedup.nearDupPairsMinhash(docs, "doc_id", "text", threshold)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH must be a subset of exact (verification step) with full recall at j>=0.9
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    assert(lsh == exact, s"missed pairs: ${exact -- lsh}")
  }

  test("exactJaccard size prefilter: minJaccard path == unfiltered path at the threshold") {
    import spark.implicits._
    val threshold = 0.9
    // All candidate pairs over the planted corpus — including sub-threshold ones the
    // size filter is allowed to drop — then both verify paths compared at >= t.
    val cands = Dedup.minhashCandidatePairs(docs, "doc_id", "text").localCheckpoint(true)
    def verified(minJ: Double): Set[(Long, Long)] =
      Dedup.exactJaccard(cands, docs, "doc_id", "text", 5, minJaccard = minJ)
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unfiltered = verified(0.0)
    assert(unfiltered.nonEmpty, "corpus should contain planted near-dups")
    assert(verified(threshold) == unfiltered,
      "the size prefilter must never change the verified pair set")
    // Boundary pin: sizes exactly AT the ratio must survive the prefilter (the
    // length bound is attainable when one shingle set contains the other).
    // 9-shingle set vs 10-shingle superset -> jaccard = 9/10 = min/max exactly.
    val a = "abcdefghi"  // 9 distinct 1-shingles
    val b = "abcdefghij" // 10 distinct 1-shingles, superset
    val edge = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val edgePairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.exactJaccard(edgePairs, edge, "doc_id", "text", 1, minJaccard = 0.9)
      .filter(col("jaccard") >= 0.9).count()
    assert(out == 1L, "a pair at exactly jaccard = min/max = threshold must be kept")
  }

  test("incremental minhash dedup == full recompute restricted to new-batch pairs") {
    import spark.implicits._
    val threshold = 0.9
    // split the real corpus (planted near-dups land in both halves and across)
    val all = docs.filter(col("doc_id").isNotNull)
    val oldDocs = all.filter(col("doc_id") % 3 =!= 0)
    val newDocs = all.filter(col("doc_id") % 3 === 0)
    val index = Dedup.minhashIndex(oldDocs, "doc_id", "text")
    val inc = Dedup.incrementalNearDupPairs(newDocs, index, all, "doc_id", "text", threshold)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.nearDupPairsMinhash(all, "doc_id", "text", threshold)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filter { case (a, b) => a % 3 == 0 || b % 3 == 0 }
    assert(expected.nonEmpty, "fixture must contain cross/new-batch near-dups")
    assert(inc == expected, s"missed: ${expected -- inc}; extra: ${inc -- expected}")
    // no old-by-old pair may leak: previous runs own those
    assert(inc.forall { case (a, b) => a % 3 == 0 || b % 3 == 0 })
    // the index side of the incremental plan must not re-run the signature kernel:
    // its branch reads the (id, band, bucket) frame as-is (here: a parquet round-trip
    // of the index, as a real pipeline would store it)
    val tmp = tmpDir("graft_idx")
    index.write.mode("overwrite").parquet(tmp)
    try {
      val stored = spark.read.parquet(tmp)
      val viaStored = Dedup.incrementalNearDupPairs(newDocs, stored, all, "doc_id", "text", threshold)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaStored == expected, "parquet-round-tripped index must behave identically")
    } finally graft.core.FsUtil.deleteRecursively(new java.io.File(tmp))
  }

  test("incremental embedding dedup == full recompute restricted to new-batch pairs") {
    // The fixture's 500 random 64-dim vectors have 920 pairs at cosine >= 0.3 and none
    // at 0.5, so 0.3 is the threshold with pairs to find; 4 planes x 2 tables catch a
    // share of them, the same share on both paths.
    val (dim, threshold, planes, tables) = (64, 0.3, 4, 2)
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = embs.filter(col("vec_id").isNotNull)
    val oldVecs = all.filter(col("vec_id") % 3 =!= 0)
    val newVecs = all.filter(col("vec_id") % 3 === 0)
    val full = pairsOf(Dedup.nearDupPairsEmbedding(all, "vec_id", "embedding", dim,
      threshold, planes, tables))
    val expected = full.filter { case (a, b) => a % 3 == 0 || b % 3 == 0 }
    assert(expected.nonEmpty && expected != full,
      "fixture must contain new-batch pairs and old-by-old pairs")
    def incremental(index: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      pairsOf(Dedup.incrementalEmbeddingPairs(newVecs, index, all, "vec_id", "embedding",
        dim, threshold, planes, tables))
    val index = Dedup.embeddingBucketIndex(oldVecs, "vec_id", "embedding", dim, planes, tables)
    val inc = incremental(index)
    assert(inc == expected, s"missed: ${expected -- inc}; extra: ${inc -- expected}")
    // no old-by-old pair may leak: previous runs own those
    assert(inc.forall { case (a, b) => a % 3 == 0 || b % 3 == 0 })
    val tmp = tmpDir("graft_emb_idx")
    index.write.mode("overwrite").parquet(tmp)
    try assert(incremental(spark.read.parquet(tmp)) == expected,
      "parquet-round-tripped index must behave identically")
    finally graft.core.FsUtil.deleteRecursively(new java.io.File(tmp))
  }

  test("native cosine expression matches driver-side computation and codegens") {
    import spark.implicits._
    val probe = Seq(1.0f, 2.0f, 3.0f, 4.0f)
    val rows = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f, 4.0f)),   // identical -> 1.0
      (2L, Seq(-1.0f, -2.0f, -3.0f, -4.0f)), // opposite -> -1.0
      (3L, Seq(4.0f, -3.0f, 2.0f, -1.0f)))
    val df = rows.toDF("id", "v")
    val got = df.select(col("id"), Similarity.cosineToProbe(col("v"), probe).as("c"))
      .orderBy("id").collect().map(_.getDouble(1))
    def expected(v: Seq[Float]): Double = {
      val dot = v.zip(probe).map { case (a, b) => a.toDouble * b.toDouble }.sum
      dot / (math.sqrt(v.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(probe.map(x => x.toDouble * x.toDouble).sum))
    }
    rows.map(_._2).map(expected).zip(got).foreach { case (e, g) =>
      assert(math.abs(e - g) < 1e-12, s"$e vs $g")
    }
    // The projection must be inside WholeStageCodegen (the expression's entire point).
    // A local Seq collapses to LocalTableScan, so check over the parquet corpus.
    val plan = embs.select(Similarity.cosineToProbe(col("embedding"), Seq.fill(64)(1.0f)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected WholeStageCodegen in:\n$plan")
  }

  test("native pairwise cosine matches driver-side computation, codegens, and registers in SQL") {
    import spark.implicits._
    val rows = Seq(
      (Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f, 3.0f)),    // identical -> 1.0
      (Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f)),    // orthogonal -> 0.0
      (Seq(1.0f, 2.0f, 3.0f), Seq(-1.0f, -2.0f, -3.0f))) // opposite -> -1.0
    val got = rows.toDF("a", "b")
      .select(graft.functions.VectorFunctions.cosine(col("a"), col("b"))).collect()
      .map(_.getDouble(0))
    Seq(1.0, 0.0, -1.0).zip(got).foreach { case (e, g) =>
      assert(math.abs(e - g) < 1e-12, s"$e vs $g")
    }
    // null array -> null
    val n = Seq((Seq(1.0f), Option.empty[Seq[Float]])).toDF("a", "b")
      .select(graft.functions.VectorFunctions.cosine(col("a"), col("b"))).head()
    assert(n.isNullAt(0))
    // stays inside WholeStageCodegen over a real scan
    val plan = embs.select(graft.functions.VectorFunctions.cosine(col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected WholeStageCodegen in:\n$plan")
    // SQL registration: imperative path on the live session
    graft.functions.GraftFunctions.register(spark)
    val viaSql = spark.sql(
      """SELECT graft_cosine(cast(array(1.0, 2.0) AS array<float>), cast(array(2.0, 4.0) AS array<float>)) AS c,
        |       graft_cosine_to_probe(cast(array(3.0, 4.0) AS array<float>), array(3.0D, 4.0D)) AS p""".stripMargin).head()
    assert(math.abs(viaSql.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(viaSql.getDouble(1) - 1.0) < 1e-12)
    // extensions path: same descriptors wired through SparkSessionExtensions
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext) // must accept all descriptors
  }

  test("native jaccard_sorted matches independent set computation and stays in codegen") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val rows = (0 until 40).map { i =>
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(50).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(50).toLong).distinct.sorted
      (i.toLong, a, b)
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"),
        graft.functions.VectorFunctions.jaccardSorted(col("a"), col("b")).as("j"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, a, b) =>
      val inter = a.toSet.intersect(b.toSet).size
      val union = a.toSet.union(b.toSet).size
      val expected = if (union == 0) 1.0 else inter.toDouble / union
      assert(math.abs(got(id) - expected) < 1e-15, s"id=$id")
    }
    // null array -> null
    val n = Seq((Seq(1L, 2L), Option.empty[Seq[Long]])).toDF("a", "b")
      .select(graft.functions.VectorFunctions.jaccardSorted(col("a"), col("b"))).head()
    assert(n.isNullAt(0))
    // null ELEMENT -> null (UnsafeArrayData would silently read garbage otherwise);
    // exercised through SQL where element nullability is out of library control
    graft.functions.GraftFunctions.register(spark)
    val en = spark.sql(
      "SELECT graft_jaccard_sorted(array(1L, CAST(NULL AS BIGINT)), array(1L, 2L)) AS j").head()
    assert(en.isNullAt(0), "null element must poison the result, not silently merge")
    val ok = spark.sql("SELECT graft_jaccard_sorted(array(1L, 2L), array(1L, 2L)) AS j").head()
    assert(math.abs(ok.getDouble(0) - 1.0) < 1e-15)
    // whole-stage codegen over a real scan
    val tmp = tmpDir("graft_jac")
    df.write.mode("overwrite").parquet(tmp)
    val plan = spark.read.parquet(tmp)
      .select(graft.functions.VectorFunctions.jaccardSorted(col("a"), col("b")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected WholeStageCodegen in:\n$plan")
  }

  test("SQL-registered text/dedup kernels match the Column API exactly") {
    import graft.functions.TextFunctions
    graft.functions.GraftFunctions.register(spark)
    docs.limit(50).createOrReplaceTempView("docs_sqlfns")
    val viaSql = spark.sql(
      """SELECT doc_id, graft_token_count(text) AS tc, graft_bpeish_token_count(text) AS btc,
        |       graft_quality_score(text) AS qs, graft_lang_id(text) AS lid,
        |       graft_fingerprint(text) AS fp, graft_simhash(text) AS sh,
        |       graft_minhash(text, 5, 16) AS mh
        |FROM docs_sqlfns""".stripMargin)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getDouble(3), r.getString(4), r.getLong(5),
          r.getLong(6), r.getSeq[Long](7))).toMap
    val viaCols = docs.limit(50).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")),
        TextFunctions.bpeishTokenCount(col("text")),
        TextFunctions.qualityScore(col("text")),
        TextFunctions.langId(col("text")),
        TextFunctions.fingerprint(col("text")),
        Dedup.simhash64(TextFunctions.tokens(col("text"))),
        Dedup.minhashSignature(col("text"), 5, 16))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getDouble(3), r.getString(4), r.getLong(5),
          r.getLong(6), r.getSeq[Long](7))).toMap
    assert(viaSql == viaCols)
    // non-constant kernel parameter must be rejected, not silently misread
    val err = intercept[Exception] {
      spark.sql("SELECT graft_minhash(text, doc_id, 16) FROM docs_sqlfns").collect()
    }
    assert(err.getMessage.contains("constant integer") ||
      Option(err.getCause).exists(_.getMessage.contains("constant integer")))
  }

  test("repetition kernels: duplicate n-gram / word-gram / line fractions") {
    import spark.implicits._
    val df = Seq(
      (1L, "aaaaa"),                 // char 2-grams: 4 total, 1 distinct -> 0.75
      (2L, "a b a b a"),             // word 2-grams: 4 total, 2 distinct -> 0.5
      (3L, "x\ny\nx\n\n x "),        // trimmed lines: x,y,x,x -> 4 total, 2 distinct -> 0.5
      (4L, "ab")                     // shorter than n -> 0.0
    ).toDF("id", "text")
    val got = df.select(col("id"),
        TextFunctions.dupNgramFraction(col("text"), 2).as("c2"),
        TextFunctions.dupWordNgramFraction(col("text"), 2).as("w2"),
        TextFunctions.dupLineFraction(col("text")).as("dl"),
        TextFunctions.dupNgramFraction(col("text"), 5).as("c5"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got(1L)._1 == 0.75)
    assert(got(2L)._2 == 0.5)
    assert(got(3L)._3 == 0.5)
    assert(got(4L)._4 == 0.0)
    // SQL surface compiles to the same kernels
    df.createOrReplaceTempView("rep_docs")
    graft.functions.GraftFunctions.register(spark)
    val viaSql = spark.sql(
      """SELECT id, graft_dup_ngram_fraction(text, 2), graft_dup_word_ngram_fraction(text, 2),
        |  graft_dup_line_fraction(text) FROM rep_docs""".stripMargin)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(viaSql == got.map { case (k, v) => k -> (v._1, v._2, v._3) })
    // non-positive gram sizes are rejected at construction, on both surfaces
    intercept[IllegalArgumentException](TextFunctions.dupNgramFraction(col("text"), 0))
    intercept[IllegalArgumentException](TextFunctions.dupWordNgramFraction(col("text"), -1))
    intercept[Exception](spark.sql("SELECT graft_dup_ngram_fraction(text, 0) FROM rep_docs").collect())
  }

  test("cross-corpus contamination finds shared word 8-grams, corpus never shuffled wide") {
    import spark.implicits._
    val corpus = Seq(
      (100L, "one two three four five six seven eight nine ten"),
      (101L, "completely unrelated corpus content goes right here ok")).toDF("doc_id", "text")
    val probe = Seq(
      (1L, "zz one two three four five six seven eight yy"), // shares (one..eight): 1 of 3 grams
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota") // clean: 0 of 2 grams
    ).toDF("doc_id", "text")
    val per = Dedup.crossCorpusContamination(corpus, probe, "text", "doc_id", "text", ngramWords = 8)
    val got = per.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == ((3L, 1L)), s"probe 1: ${got(1L)}")
    assert(got(2L) == ((2L, 0L)), s"probe 2: ${got(2L)}")
    // zero-token docs contribute no grams on either side: an empty probe doc must not
    // "match" an empty corpus row through the empty pseudo-gram
    import spark.implicits._
    val emptyCorpus = corpus.union(Seq((102L, "   ")).toDF("doc_id", "text"))
    val emptyProbe = probe.union(Seq((3L, ""), (4L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val got2 = Dedup.crossCorpusContamination(emptyCorpus, emptyProbe, "text", "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got2.keySet == Set(1L, 2L), s"empty/null probes must be absent, got ${got2.keySet}")
    assert(got2(1L) == ((3L, 1L)) && got2(2L) == ((2L, 0L)))
    // Scale shape: the corpus-side gram filter must be a BROADCAST semi join (the
    // corpus never shuffles on the gram hash), not a shuffled join. Match the join
    // node and its type TOGETHER — independent substring checks would pass if some
    // OTHER join broadcast while the semi join degraded to sort-merge.
    val plan = per.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin [^\\n]*LeftSemi".r.findFirstIn(plan).isDefined,
      s"corpus gram filter should be a broadcast left-semi join:\n$plan")
  }

  test("near-dup dedup keeps lowest id of each verified relation") {
    val threshold = 0.9
    val exactDropped = Dedup.allPairsJaccard(docs, "doc_id", "text", shingleSize = 5)
      .filter(col("jaccard") >= threshold)
      .select("id_b").distinct().collect().map(_.getLong(0)).toSet
    val keptIds = Dedup.dedupNearMinhash(docs, "doc_id", "text", threshold)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val allIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds == allIds -- exactDropped)
  }

  test("cluster labels propagate min id across chains (both paths)") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    // chain 1-2-3 plus pair 5-6; 4 is a singleton
    val pairs = Seq((2L, 3L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L)
    // driver union-find fast path
    val small = Dedup.clustersFromPairs(ids, pairs, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(small == expected)
    // distributed min-label loop (forced by zero small-graph budget)
    val dist = Dedup.clustersFromPairs(ids, pairs, "id", smallGraphEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expected)
    // generic (non-integral id) driver path: string ids through the boxed union-find
    val sIds = Seq("a", "b", "c", "d").toDF("id")
    val sPairs = Seq(("b", "c"), ("a", "b")).toDF("id_a", "id_b")
    val sGot = Dedup.clustersFromPairs(sIds, sPairs, "id")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sGot == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d"))
  }

  test("clustering supports decimal ids (both paths)") {
    import spark.implicits._
    val ids = Seq(BigDecimal(1), BigDecimal(2), BigDecimal(3)).toDF("id")
      .select(col("id").cast("decimal(38,0)").as("id"))
    val pairs = Seq((BigDecimal(2), BigDecimal(3))).toDF("id_a", "id_b")
      .select(col("id_a").cast("decimal(38,0)").as("id_a"),
        col("id_b").cast("decimal(38,0)").as("id_b"))
    def run(smallGraph: Long) = Dedup.clustersFromPairs(ids, pairs, "id", smallGraphEdges = smallGraph)
      .collect().map(r => r.getDecimal(0).longValue() -> r.getDecimal(1).longValue()).toMap
    val expected = Map(1L -> 1L, 2L -> 2L, 3L -> 2L)
    assert(run(1000000L) == expected) // driver union-find path
    assert(run(0L) == expected)       // distributed star-contraction path
  }

  test("distributed star contraction collapses a long chain within O(log n) rounds") {
    import spark.implicits._
    // A 300-node path graph: naive min-label propagation needs ~300 rounds (and would
    // split the component at any practical iteration cap); large-star/small-star must
    // converge within the default maxIters=20 (~2·log2(300) ≈ 17 round bound).
    val n = 300
    val ids = (0 until n).map(_.toLong).toDF("id")
    // shuffled edge order so convergence can't ride on input ordering
    val chain = scala.util.Random.shuffle((0 until n - 1).map(i => (i.toLong, i + 1L)).toList)
      .toDF("id_a", "id_b")
    val got = Dedup.clustersFromPairs(ids, chain, "id", smallGraphEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n && got.values.forall(_ == 0L),
      s"all $n chained nodes must label to the minimum id 0, got ${got.values.toSet}")
  }

  test("dedup pipelines leave no cached blocks and reuse the bucket exchange") {
    // Regression for the round-2 session-lifetime cache leak: persist()ed
    // intermediates accumulated executor storage across library calls. The pipelines
    // now rely on ReuseExchange over one explicit shuffle instead. Reuse requires an
    // uncached input (InMemoryRelation copies don't canonicalize equal across the
    // self-join's relation dedup), so assert on an uncached parquet read — the
    // realistic at-scale shape, where the corpus streams from storage. A re-read of
    // the fixture PATH would be silently rewritten to the cached `docs` plan by
    // CacheManager, so round-trip through a temp path.
    val tmp = tmpDir("graft_reuse")
    docs.write.mode("overwrite").parquet(s"$tmp/docs")
    val freshDocs = spark.read.parquet(s"$tmp/docs")
    // Only NEW persisted RDDs count — the suite fixture itself is a .cache()d frame.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // The reuse property lives in the CANDIDATE pipeline (the verified-pairs df now
    // starts from the materialized candidate checkpoint, which hides it).
    val cands = Dedup.minhashCandidatePairs(freshDocs, "doc_id", "text")
    cands.collect()
    assert(cands.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      "candidate self-join should serve both sides from one reused shuffle")
    // The same one-shuffle property for the other callers of the shared blocking join.
    val freshNew = freshDocs.filter(col("doc_id") % 3 === 0)
    val freshIndex = Dedup.minhashIndex(freshDocs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
    Seq("incrementalMinhashCandidates" ->
        Dedup.incrementalMinhashCandidates(freshNew, freshIndex, "doc_id", "text"),
      "nearDupPairsSimhash" -> Dedup.nearDupPairsSimhash(freshDocs, "doc_id", "text"))
      .foreach { case (name, df) =>
        df.collect()
        assert(df.queryExecution.executedPlan.toString.contains("ReusedExchange"),
          s"$name: the blocking self-join should serve both sides from one reused shuffle")
      }
    val pairs = Dedup.nearDupPairsMinhash(freshDocs, "doc_id", "text", 0.9)
    pairs.collect()
    Dedup.nearDupClusters(docs, "doc_id", "text", 0.9).collect()
    Dedup.dedupNearMinhash(docs, "doc_id", "text", 0.9).collect()
    // localCheckpoint blocks (from the distributed cluster path) are allowed: the
    // ContextCleaner reclaims them on GC, unlike cache entries which CacheManager
    // pins for the session's lifetime.
    val leaked = spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => r.isCheckpointed || before.contains(r.id))
    assert(leaked.isEmpty,
      s"no RDD may stay persisted after dedup calls return, got: ${leaked.map(_.id)}")
  }

  test("near-dup clusters agree with components of exact all-pairs graph") {
    val threshold = 0.9
    val exactPairs = Dedup.allPairsJaccard(docs, "doc_id", "text", shingleSize = 5)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    // driver-side union-find as ground truth (corpus is tiny)
    val allIds = docs.select("doc_id").collect().map(_.getLong(0))
    val parent = scala.collection.mutable.Map(allIds.map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    exactPairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = allIds.map(i => i -> find(i)).toMap
    val got = Dedup.nearDupClusters(docs, "doc_id", "text", threshold)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("simhash flags near-identical token multisets") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val df = Seq(
      (1L, base),
      (2L, base.replace("token7", "tokenX")), // 1 of 40 tokens differs
      (3L, (1 to 40).map(i => s"other$i").mkString(" "))).toDF("id", "text")
    val pairs = Dedup.nearDupPairsSimhash(df, "id", "text", maxHamming = 12)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("embedding cosine + hyperplane buckets agree with brute force on planted pair") {
    import spark.implicits._
    val base = Array.fill(16)(1.0f)
    val near = base.clone(); near(0) = 0.9f
    val far = Array.fill(16)(-1.0f)
    val df = Seq((1L, base.toSeq), (2L, near.toSeq), (3L, far.toSeq)).toDF("id", "v")
    val pairs = Dedup.nearDupPairsEmbedding(df, "id", "v", dim = 16, threshold = 0.99, planes = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("semanticContaminationFlags: planted paraphrase flags, brute-force parity, " +
    "multi-table hit dedup, null/empty/guard classes") {
    import spark.implicits._
    val dim = 16
    val e1 = Array.fill(dim)(1.0f)
    val e2 = Array.tabulate(dim)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val near1 = e1.clone(); near1(0) = 0.9f // the "paraphrase": cosine ~0.9996 vs e1
    val evalDf = Seq((100L, e1.toSeq), (101L, e2.toSeq)).toDF("eid", "evec")
    val corpus = Seq(
      (Some(1L), Some(near1.toSeq)),            // flags against eval 100
      (Some(2L), Some(e1.map(-_).toSeq)),       // cosine -1 / 0: clean
      (Some(3L), Some(e2.toSeq)),               // verbatim eval 101 repost: flags
      (Some(4L), None: Option[Seq[Float]]),     // NULL vector: never flags
      (None: Option[Long], Some(e1.toSeq)))     // NULL id: excluded from verdicts
      .toDF("id", "v")
    // tables=3 exercises the multi-table path: a colliding pair must count its
    // eval id ONCE, not once per table
    val flags = Dedup.semanticContaminationFlags(corpus, evalDf, "id", "v",
        "eid", "evec", dim, threshold = 0.95, planes = 4, tables = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(flags.keySet == Set(1L, 3L), flags.toString)
    assert(flags(1L)._1 == 1L && flags(1L)._2 > 0.99 && flags(1L)._3 == 100L, flags(1L).toString)
    assert(flags(3L)._1 == 1L && flags(3L)._2 == 1.0 && flags(3L)._3 == 101L, flags(3L).toString)
    // brute-force parity at the same threshold: the LSH path must equal the
    // exact cross-join verdicts on this geometry (fixed seed ⇒ deterministic)
    val exact = corpus.filter(col("id").isNotNull && col("v").isNotNull)
      .crossJoin(evalDf)
      .select(col("id"), col("eid"), Dedup.cosine(col("v"), col("evec")).as("c"))
      .filter(col("c") >= 0.95)
      .groupBy("id").agg(countDistinct("eid").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flags.view.mapValues(_._1).toMap == exact,
      s"LSH flags must match brute force: $flags vs $exact")
    // empty eval set flags nothing
    assert(Dedup.semanticContaminationFlags(corpus, evalDf.filter(lit(false)),
      "id", "v", "eid", "evec", dim, 0.95).isEmpty)
    // eval-bucket guard: two IDENTICAL eval vectors share every bucket —
    // dropping them would silently stop protecting them, so the build fails
    // LOUD (unlike the dedup family's best-effort candidate guards)
    val degenerateEval = Seq((200L, e1.toSeq), (201L, e1.toSeq)).toDF("eid", "evec")
    val eBucket = intercept[IllegalArgumentException] {
      Dedup.semanticContaminationFlags(corpus, degenerateEval,
        "id", "v", "eid", "evec", dim, 0.95, tables = 2, maxBucketSize = 1)
    }
    assert(eBucket.getMessage.contains("maxBucketSize"), eBucket.getMessage)
    // ...while a cap of 1 stays a legal setting here (the dedup family's blocking
    // join rejects it): an eval set of one vector builds under it
    Dedup.buildSemanticEvalIndex(degenerateEval.limit(1), "eid", "evec", dim,
      tables = 2, maxBucketSize = 1)
    // an out-of-range threshold (85 for 85%) would make the firewall silently
    // inert — fail loud in the batch operator, not only the gate
    val eThr = intercept[IllegalArgumentException] {
      Dedup.semanticContaminationFlags(corpus, evalDf,
        "id", "v", "eid", "evec", dim, threshold = 85)
    }
    assert(eThr.getMessage.contains("cosine"), eThr.getMessage)
    // the prepared-index path (what the streaming gate builds once) returns
    // identical verdicts to the one-shot operator
    val idx = Dedup.buildSemanticEvalIndex(evalDf, "eid", "evec", dim,
      planes = 4, tables = 3)
    val viaIdx = Dedup.semanticContaminationFlagsIndexed(corpus, idx, "id", "v", 0.95)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(viaIdx == flags, s"indexed path must match the one-shot path: $viaIdx")

    // persisted index: save -> load round-trips the verdicts (the semantic
    // firewall's store-don't-recompute contract, like the bloom bytes)
    val idxDir = java.nio.file.Files.createTempDirectory("semidx").toString
    Dedup.saveSemanticEvalIndex(idx, idxDir)
    val loaded = Dedup.loadSemanticEvalIndex(spark, idxDir, dim, planes = 4, tables = 3)
    val viaLoaded = Dedup.semanticContaminationFlagsIndexed(corpus, loaded, "id", "v", 0.95)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(viaLoaded == flags, s"loaded index must match: $viaLoaded")
    // geometry drift at load fails loud — buckets across geometries can never
    // match, which would be a silent zero-recall firewall
    val eGeo = intercept[IllegalArgumentException] {
      Dedup.loadSemanticEvalIndex(spark, idxDir, dim, planes = 8, tables = 3)
    }
    assert(eGeo.getMessage.contains("geometr"), eGeo.getMessage)
    // a directory without the marker (empty, or a crashed first save) is not
    // silently treated as an index
    val eNoMarker = intercept[IllegalArgumentException] {
      Dedup.loadSemanticEvalIndex(spark,
        java.nio.file.Files.createTempDirectory("semidx_empty").toString, dim)
    }
    assert(eNoMarker.getMessage.contains("marker"), eNoMarker.getMessage)
    // a NULL-id eval row is a malformed benchmark frame: it could never
    // attribute its hits, so it must STOP the pipeline, not silently narrow
    // the firewall
    val badEval = Seq((Some(100L), e1.toSeq), (None: Option[Long], e2.toSeq))
      .toDF("eid", "evec")
    val eNull = intercept[IllegalArgumentException] {
      Dedup.semanticContaminationFlags(corpus, badEval,
        "id", "v", "eid", "evec", dim, 0.95)
    }
    assert(eNull.getMessage.contains("NULL eid"), eNull.getMessage)
  }

  test("null text yields NULL shingle sets, not a shared pseudo-shingle") {
    import spark.implicits._
    val df = Seq(Some("hello world text"), None, None).toDF("t")
    val r = df.select(
      TextFunctions.charShingles(col("t"), 3).as("cs"),
      TextFunctions.wordShingles(col("t"), 2).as("ws"),
      TextFunctions.shingleHashes(col("t"), 3).as("sh")).collect()
    assert(r(0).getSeq[String](0).nonEmpty && r(0).getSeq[String](1).nonEmpty)
    // null docs must NOT share a fingerprint set (they'd jaccard-match at 1.0)
    (1 to 2).foreach { i =>
      assert(r(i).isNullAt(0) && r(i).isNullAt(1) && r(i).isNullAt(2),
        s"null text must shingle to NULL: ${r(i)}")
    }
    intercept[IllegalArgumentException] { TextFunctions.charShingles(col("t"), 0) }
    intercept[IllegalArgumentException] { Dedup.minhashSignature(col("t"), 0, 128) }
    intercept[IllegalArgumentException] { Dedup.shingleHashSet(col("t"), -1) }
  }

  test("guards: exactDedup _rn collision, IVF dim mismatch fail loud") {
    import spark.implicits._
    val withRn = Seq((1L, "a", 1)).toDF("id", "t", "_rn")
    intercept[IllegalArgumentException] {
      Dedup.exactDedup(withRn, Seq("id"), tiebreaker = Some("t"))
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfAssign(embs, "embedding", Seq(Seq(1.0f, 2.0f), Seq(1.0f)))
    }
    val shortCentroids = Seq(Seq(1.0f, 2.0f, 3.0f)) // corpus is 64-dim
    val ex = intercept[org.apache.spark.SparkException] {
      Similarity.ivfAssign(embs, "embedding", shortCentroids).collect()
    }
    assert(ex.getMessage.contains("centroid dim") ||
      Option(ex.getCause).exists(_.getMessage.contains("centroid dim")))
  }

  test("fanOut never executes a shuffle-bearing plan for its partition probe") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "t")
    val b = Seq((1L, 10), (2L, 20)).toDF("id", "n")
    val joined = a.join(b, "id")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = graft.operators.Dedup.fanOut(joined)
      // Deduplicate (dropDuplicates — the exact-then-near pipeline shape) and global
      // Sort are shuffle-bearing too, not just Join/Aggregate.
      val deduped = graft.operators.Dedup.fanOut(a.dropDuplicates("id"))
      val sorted = graft.operators.Dedup.fanOut(a.orderBy("id"))
      Thread.sleep(500) // let the listener bus drain
      assert(jobs.get() == 0, "probing a shuffle-bearing plan must not run Spark jobs")
      assert(out eq joined, "shuffle-bearing frames pass through untouched")
      assert(deduped.queryExecution.logical == a.dropDuplicates("id").queryExecution.logical,
        "dropDuplicates input must pass through unrepartitioned")
      assert(sorted.queryExecution.logical == a.orderBy("id").queryExecution.logical,
        "global-sort input must pass through unrepartitioned")
    } finally spark.sparkContext.removeSparkListener(l)
    // a genuine narrow scan (single-row-group parquet, the real use case) still fans
    // out to session parallelism
    val dir = tmpDir("graft-fanout") + "/narrow"
    Seq.tabulate(64)(i => (i.toLong, s"d$i")).toDF("id", "t")
      .repartition(1).write.parquet(dir)
    val narrow = spark.read.parquet(dir)
    assert(narrow.rdd.getNumPartitions < spark.sparkContext.defaultParallelism,
      "test premise: the scan is under-parallel")
    val fanned = graft.operators.Dedup.fanOut(narrow)
    assert(fanned.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }

  test("embedding LSH bucket guard bounds a degenerate identical-vector corpus") {
    import spark.implicits._
    // 5k identical vectors: every row lands in the SAME bucket of every table, so an
    // unguarded self-join would verify ~12.5M pairs carrying full float arrays. The
    // guard must drop the oversized bucket and return no pairs, quickly.
    val v = Array.fill(16)(1.0f).toSeq
    val df = (1L to 5000L).map(i => (i, v)).toDF("id", "v")
    val t0 = System.nanoTime()
    val n = Dedup.nearDupPairsEmbedding(df, "id", "v", dim = 16, threshold = 0.9,
      planes = 4, tables = 2, maxBucketSize = 100).count()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(n == 0, s"guard should drop the degenerate bucket, got $n pairs")
    assert(sec < 60.0, s"degenerate corpus took ${sec}s — guard not bounding the join")
  }

  test("multi-table embedding LSH recovers recall a single table loses") {
    import spark.implicits._
    // 200 planted pairs at cosine exactly 0.85 (near = cosθ·v + sinθ·u, u ⊥ v):
    // with planes=3 the per-table collision probability at that angle is
    // (1 - θ/π)^3 ≈ 0.59, so one table misses ~40% of pairs while 6 independent
    // tables union to ≈ 1-(0.41)^6 ≈ 0.995 recall. Fixed seed ⇒ deterministic.
    val dim = 32
    val rnd = new scala.util.Random(7)
    val theta = math.acos(0.85)
    val rows = (0 until 200).flatMap { k =>
      val v = Array.fill(dim)(rnd.nextGaussian())
      val vn = math.sqrt(v.map(x => x * x).sum)
      val base = v.map(_ / vn)
      val u0 = Array.fill(dim)(rnd.nextGaussian())
      val dot = base.zip(u0).map { case (a, b) => a * b }.sum
      val uo = u0.zip(base).map { case (a, b) => a - dot * b }
      val un = math.sqrt(uo.map(x => x * x).sum)
      val near = base.zip(uo).map { case (b, u) =>
        math.cos(theta) * b + math.sin(theta) * (u / un) }
      Seq((2L * k, base.map(_.toFloat).toSeq), (2L * k + 1, near.map(_.toFloat).toSeq))
    }
    val df = rows.toDF("id", "v")
    // Brute-force truth driver-side (400 vectors): exactly the planted pairs plus any
    // chance background pair over threshold (none at dim 32 with this seed).
    val vecs = rows.toMap
    val ids = rows.map(_._1)
    val truth = (for {
      i <- ids; j <- ids if i < j
      a = vecs(i); b = vecs(j)
      cos = a.zip(b).map { case (x, y) => x.toDouble * y }.sum /
        (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
      if cos >= 0.8
    } yield (i, j)).toSet
    assert(truth.size >= 200, s"planted pairs missing from brute force: ${truth.size}")
    def recallAt(tables: Int): Double = {
      val found = Dedup.nearDupPairsEmbedding(df, "id", "v", dim = dim, threshold = 0.8,
        planes = 3, tables = tables)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(found.subsetOf(truth), "LSH must never report a pair below threshold")
      found.size.toDouble / truth.size
    }
    val one = recallAt(1)
    val six = recallAt(6)
    assert(one < 0.95, s"single-table recall unexpectedly high ($one) — test not discriminating")
    assert(six >= 0.97, s"six-table recall $six below 0.97")
  }

  test("semDedup: kmeans-seeded cells catch planted dups, guard bounds degenerate cells") {
    import spark.implicits._
    // Two tight clusters + planted exact copies: copies share their source's cell for
    // ANY sane centroid set, so within-cell dedup must drop every copy.
    val dim = 16
    val rnd = new scala.util.Random(11)
    def around(center: Array[Double]): Seq[Float] = {
      val v = center.map(c => c + 0.05 * rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat).toSeq
    }
    val c1 = Array.tabulate(dim)(i => if (i < dim / 2) 1.0 else 0.0)
    val c2 = Array.tabulate(dim)(i => if (i >= dim / 2) 1.0 else 0.0)
    val originals = (0 until 40).map(k =>
      (k.toLong, around(if (k % 2 == 0) c1 else c2)))
    val copies = originals.take(10).map { case (id, v) => (id + 1000L, v) }
    val df = (originals ++ copies).toDF("id", "v")
    val seeds = Similarity.seedCentroids(df, "id", "v", 2)
    val centroids = Similarity.refineCentroids(df, "v", seeds, iters = 3)
    val kept = Similarity.semDedup(df, "id", "v", centroids, threshold = 0.999)
      .select("id").as[Long].collect().toSet
    assert(copies.forall { case (cid, _) => !kept.contains(cid) || !kept.contains(cid - 1000L) },
      "an exact copy and its source both survived semDedup")
    assert(kept.size == 40, s"expected exactly the 40 distinct vectors, got ${kept.size}")
    // Degenerate clustering: every row in ONE cell above maxCellSize -> guard drops
    // the cell, pairs are empty, and nothing is deduplicated (bounded, not quadratic).
    val pairs = Similarity.semDedupPairs(df, "id", "v",
      centroids = Seq(Seq.tabulate(dim)(_ => 1.0f)), threshold = 0.999, maxCellSize = 10)
    assert(pairs.count() == 0L, "oversized cell must be dropped by the guard")
    // Zero-norm vectors cosine to NaN against every cell-mate, and Spark orders NaN
    // above every double — without the isnan guard each zero vector would "match"
    // everything in its cell and semDedup would drop innocent rows.
    val withZero = (originals :+ (9999L, Seq.fill(dim)(0.0f))).toDF("id", "v")
    val zPairs = Similarity.semDedupPairs(withZero, "id", "v", centroids, threshold = 0.9)
    assert(zPairs.filter(col("id_a") === 9999L || col("id_b") === 9999L).count() == 0L,
      "zero-norm vector must pair with nothing")
    assert(Similarity.semDedup(withZero, "id", "v", centroids, threshold = 0.9)
      .count() == withZero.count() -
        Similarity.semDedupPairs(withZero, "id", "v", centroids, threshold = 0.9)
          .select("id_b").distinct().count(),
      "kept count must equal input minus dropped ids")
  }

  test("hierarchical IVF assignment: full probe exact, partial probe high-fidelity, " +
    "degenerate/NaN/null semantics match flat") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(7)
    // 36 well-separated centroid directions (orthogonal-ish pairs + noise), 400 rows
    // drawn tightly around them — the regime hierarchical assignment targets
    val centroids = (0 until 36).map { c =>
      val v = Array.tabulate(dim)(i => (if (i == c % dim) 4.0 else 0.0) + 0.3 * rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat).toSeq
    }
    val rows = (0 until 400).map { r =>
      val c = centroids(r % 36)
      val v = c.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
      (r.toLong, v)
    }
    val df = rows.toDF("id", "v")
    def cellsOf(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "ivf_cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val flat = cellsOf(Similarity.ivfAssign(df, "v", centroids))
    // full probe (probeSupers >= superCount) must be EXACTLY the flat assignment
    val full = cellsOf(Similarity.ivfAssignHierarchical(df, "v", centroids,
      probeSupers = 36))
    assert(full == flat, "full-probe hierarchical must equal flat argmax")
    // partial probe: high fidelity on clustered data (the documented recall trade)
    val part = cellsOf(Similarity.ivfAssignHierarchical(df, "v", centroids,
      probeSupers = 3))
    val agree = part.count { case (id, c) => flat(id) == c }
    assert(agree >= 380, s"partial-probe fidelity too low: $agree/400 agree with flat")
    // null vector -> null cell; zero-norm -> cell 0 (flat's fallback semantics)
    val edge = Seq((1L, Some(Seq.fill(dim)(0.0f))), (2L, None))
      .toDF("id", "v")
    val ec = Similarity.ivfAssignHierarchical(edge, "v", centroids, probeSupers = 2)
      .select("id", "ivf_cell").collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(ec(1L).contains(0) && ec(2L).isEmpty)
    // semDedupPairs through the hierarchical path still catches planted exact copies
    // (copies share their source's probed cell by construction — identical vectors)
    val copies = rows.take(8).map { case (id, v) => (id + 1000L, v) }
    val withCopies = (rows ++ copies).toDF("id", "v")
    val pairs = Similarity.semDedupPairs(withCopies, "id", "v", centroids,
      threshold = 0.999, probeSupers = 3)
    val caught = pairs.filter(col("id_b") >= 1000L &&
      col("id_b") - col("id_a") === 1000L).count()
    assert(caught == 8L, s"hierarchical semDedup must catch all planted copies, got $caught")
  }

  test("hierarchical IVF on ADVERSARIAL centroid geometry: collapsed supers leave " +
    "empties that must not steal probe slots; duplicate centroids; boundary vectors") {
    import spark.implicits._
    val dim = 8
    // 12 EXACT copies of direction M (a degenerate k-means output — collapsed
    // cells) + 4 spread centroids around direction D ⊥ M. The driver-side mini
    // k-means seeds every (k/m)-th centroid, so THREE of the four supers seed at
    // M; tied assignments all migrate to the last tied super, leaving two supers
    // EMPTY but stale at position M — positions that outscore the spread super
    // for any M-leaning query. Pre-fix those stale supers won a probe slot each,
    // so probeSupers=2 probed {M-super, empty} and boundary vectors between M
    // and D were assigned an M cell while flat argmax picks a spread cell.
    val M = Seq.tabulate(dim)(i => if (i == 0) 1.0f else 0.0f)
    val rnd = new scala.util.Random(11)
    val spread = (0 until 4).map { j =>
      val v = Array.tabulate(dim)(i =>
        (if (i == j + 1) 1.0 else 0.0) + 0.05 * rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat).toSeq
    }
    val centroids = Seq.fill(12)(M) ++ spread
    // rows: M-cluster members + BOUNDARY vectors halfway between M and each
    // spread direction (the class the stale-super probe theft mis-assigned)
    val rows = (0 until 24).map(r => (r.toLong, M.map(_ + 0.01f * rnd.nextGaussian().toFloat))) ++
      spread.zipWithIndex.flatMap { case (d, j) =>
        (0 until 6).map { t =>
          // near-boundary but strictly spread-leaning (0.9/1.1): an unbiased
          // midpoint ties EXACTLY between the M cells and the spread cell
          // (cos identical in closed form), so per-row noise would coin-flip
          // the flat assignment and the fixture's sanity check
          val v = M.zip(d).map { case (a, b) => 0.9f * a + 1.1f * b }
          (100L + j * 10 + t, v.map(_ + 0.005f * rnd.nextGaussian().toFloat))
        }
      }
    val df = rows.toDF("id", "v")
    def cellsOf(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "ivf_cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val flat = cellsOf(Similarity.ivfAssign(df, "v", centroids))
    // sanity: flat sends every boundary vector to a SPREAD cell (cos slightly
    // above the M cells), so any probe theft is visible as a changed cell
    assert(rows.filter(_._1 >= 100L).forall(r => flat(r._1) >= 12),
      s"fixture broken: boundary vectors must flat-assign to spread cells: $flat")
    // after the empty-super drop only 2 supers remain (all-M, all-spread), so
    // probeSupers=2 covers every centroid and must equal flat EXACTLY — the
    // regression pin for the stale-empty-super probe theft
    val two = cellsOf(Similarity.ivfAssignHierarchical(df, "v", centroids,
      probeSupers = 2, superCount = 4))
    assert(two == flat,
      "probeSupers=2 over the two surviving supers must equal flat argmax")
    // probeSupers=1: M-cluster rows probe the all-M super and stay exact; the
    // silent cell-0 fallback (probing an empty super) must never fire — every
    // assignment lands in SOME real member list
    val one = cellsOf(Similarity.ivfAssignHierarchical(df, "v", centroids,
      probeSupers = 1, superCount = 4))
    assert(rows.filter(_._1 < 24L).forall(r => one(r._1) == flat(r._1)),
      "cluster rows must match flat at probeSupers=1")
    // ALL centroids identical: one non-empty super survives; any probe width
    // degenerates to exact flat (tie-to-highest-cell semantics included)
    val allSame = Seq.fill(9)(M)
    val dfSmall = rows.take(10).toDF("id", "v")
    val flatSame = cellsOf(Similarity.ivfAssign(dfSmall, "v", allSame))
    val hierSame = cellsOf(Similarity.ivfAssignHierarchical(dfSmall, "v", allSame,
      probeSupers = 1, superCount = 3))
    assert(hierSame == flatSame,
      "all-identical centroids must collapse to one super and match flat exactly")

    // MIGRATED-then-EMPTIED super: the geometry the stale-member defect class
    // actually needs. Seeds (every k/m-th centroid) put super 0 at e1; in Lloyd
    // iteration 1 it captures {c0=e1, c1≈-e2} and its mean migrates to P between
    // them; iteration 2 moves BOTH members out (c0 to the 25-30° super, c1 to the
    // -e2-leaning e3 super), so super 0 ends EMPTY but stale at P — a position NO
    // live super occupies. A P-leaning query then scores the dead super strictly
    // highest: pre-fix, probeSupers=1 probed only it, found zero member cells,
    // and silently fell back to cell 0; the fix drops the empty super so the
    // probe goes to the best LIVE super and matches flat (cell 1, solid margin).
    val deg30 = Seq(0.8660254f, 0.5f, 0f, 0f)
    val mig = Seq(
      Seq(1f, 0f, 0f, 0f),                          // c0: super-0 seed, leaves in iter 2
      Seq(0.0995037f, -0.9950372f, 0f, 0f),         // c1: drags super 0's mean to P
      deg30,
      Seq(0.9063078f, 0.4226183f, 0f, 0f),          // c3: super-1 seed (25°)
      deg30, deg30,
      Seq(0f, 0f, 1f, 0f),                          // c6: super-2 seed
      Seq(0f, -0.9578263f, 0.2873479f, 0f),         // c7/c8: pull super 2 toward -e2
      Seq(0f, -0.9578263f, 0.2873479f, 0f))
    val probes = Seq(
      (0L, Seq(0.6405f, -0.7680f, 0f, 0f)),         // P-leaning, nearest cell is c1
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0f, -0.1f, 0.99f, 0f))).toDF("id", "v")
    val flatMig = cellsOf(Similarity.ivfAssign(probes, "v", mig))
    assert(flatMig(0L) == 1, s"fixture: P-leaning probe must flat-assign to c1: $flatMig")
    val hierMig = cellsOf(Similarity.ivfAssignHierarchical(probes, "v", mig,
      probeSupers = 1, superCount = 3))
    assert(hierMig == flatMig,
      s"probe of a migrated-then-emptied super must fall to the best LIVE super " +
        s"(flat $flatMig, hier $hierMig)")
  }

  test("hashed embedding: deterministic unit vectors, overlap-tracking cosine, ANN integration") {
    import spark.implicits._
    import graft.functions.TextFunctions.hashedEmbedding
    val df = Seq(
      (1L, Some("alpha beta gamma delta")),
      (2L, Some("alpha beta gamma delta")),  // identical text
      (3L, Some("alpha beta gamma epsilon")), // 3/4 token overlap
      (4L, Some("zeta eta theta iota")),      // disjoint
      (5L, Some("   ")),                      // tokenless -> zero vector
      (6L, None: Option[String]))
      .toDF("id", "text")
    val emb = df.select(col("id"), hashedEmbedding(col("text"), 64).as("v"))
    val rows = emb.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) null else r.getSeq[Float](1))).toMap
    assert(rows(6L) == null, "null text must embed null")
    assert(rows(5L).forall(_ == 0.0f), "tokenless text must be the zero vector")
    assert(rows(1L) == rows(2L), "same text must embed identically")
    def cos(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    assert(math.abs(cos(rows(1L), rows(1L)) - 1.0) < 1e-6, "unit norm")
    assert(cos(rows(1L), rows(3L)) > 0.5, "high token overlap must keep cosine high")
    assert(math.abs(cos(rows(1L), rows(4L))) < 0.5, "disjoint tokens must decorrelate")
    // whitespace variants share the token multiset -> identical embedding
    val ws = Seq(("a  b\tc"), ("a b c")).toDF("text")
      .select(hashedEmbedding(col("text"), 64).as("v")).collect()
    assert(ws(0).getSeq[Float](0) == ws(1).getSeq[Float](0))
    // integration: text -> embedding -> brute-force ANN ranks the identical doc at 1.0
    val probeVec = rows(1L)
    val top = Similarity.bruteForceTopK(
      emb.filter(col("id") =!= 1L), "id", "v", probeVec, k = 2).collect()
    assert(top.head.getLong(0) == 2L && math.abs(top.head.getDouble(1) - 1.0) < 1e-6)
    // integration: embeddings survive int8 quantization with high fidelity
    val fid = Similarity.quantizationFidelity(emb, "id", "v")
      .agg(min(col("cos_fidelity"))).head().getDouble(0)
    assert(fid > 0.99, s"quantized hashed embeddings lost fidelity: $fid")
    // codegen over a real scan
    val plan = docs.select(hashedEmbedding(col("text"), 64))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected WholeStageCodegen in:\n$plan")
  }

  test("int8 quantization: codes, guards, fidelity bound, shuffle-free plan") {
    import spark.implicits._
    val rows = Seq(
      (1L, Some(Seq(1.0f, -0.5f, 0.25f, 0.0f))),
      (2L, Some(Seq(0.0f, 0.0f, 0.0f, 0.0f))), // zero-norm: unquantizable
      (3L, None: Option[Seq[Float]]), // null vector: unquantizable
      (4L, Some(Seq(Float.NaN, 1.0f, 0.0f, 0.0f))), // NaN poisons the scale
      (5L, Some(Seq(Float.PositiveInfinity, 1.0f, 0.0f, 0.0f)))) // Inf too
      .toDF("id", "v")
    val q = Similarity.quantizeInt8(rows.toDF("id", "v"), "id", "v")
      .orderBy("id").collect()
    // id 1: scale = 1/127, q = round(x*127) = [127, -64, 32, 0] (HALF_UP: -63.5 -> -64)
    assert(math.abs(q(0).getDouble(1) - 1.0 / 127) < 1e-15)
    assert(q(0).getSeq[Byte](2) == Seq[Byte](127, -64, 32, 0))
    assert(q(1).isNullAt(1) && q(1).isNullAt(2), "zero vector must not fake a code")
    assert(q(2).isNullAt(1) && q(2).isNullAt(2))
    assert(q(3).isNullAt(1) && q(3).isNullAt(2), "NaN element must not quantize")
    // fidelity: error bounded by scale/2, cosine near 1 on a real vector; the
    // unquantizable rows are excluded
    val fid = Similarity.quantizationFidelity(rows.toDF("id", "v"), "id", "v").collect()
    assert(fid.map(_.getLong(0)).toSeq == Seq(1L))
    val r = fid.head
    assert(r.getDouble(2) <= r.getDouble(1) / 2 + 1e-15, "max err must be <= scale/2")
    assert(r.getDouble(3) > 0.999, s"cosine fidelity too low: ${r.getDouble(3)}")
    // randomized fidelity sweep: 64-dim vectors, reconstruction stays tight
    val rng = new scala.util.Random(7)
    val many = (1L to 200L).map(i => (i, Seq.fill(64)(rng.nextFloat() * 2 - 1))).toDF("id", "v")
    val stats = Similarity.quantizationFidelity(many, "id", "v")
      .agg(min(col("cos_fidelity")), max(col("max_abs_err") / col("q_scale"))).head()
    assert(stats.getDouble(0) > 0.999, s"min fidelity ${stats.getDouble(0)}")
    assert(stats.getDouble(1) <= 0.5 + 1e-12, "normalized error must respect the half-step bound")
    // row-local contract: no Exchange over a real scan
    val plan = Similarity.quantizeInt8(embs, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"quantizeInt8 must not shuffle:\n$plan")
    assert(q(4).isNullAt(1) && q(4).isNullAt(2), "Inf element must not quantize")
    // native fidelity kernel == Column-pipeline specification, bit-for-bit, over
    // the real embeddings corpus plus every guard class from `rows` above
    // (null-element vectors can't ride the Seq encoder: build one via SQL)
    val withNullElem = spark.sql(
      "SELECT CAST(9 AS BIGINT) AS id, array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)) AS v")
    val both = Seq(rows.toDF("id", "v"), withNullElem,
      embs.select(col("vec_id").as("id"), col("embedding").as("v")))
    both.foreach { frame =>
      val k = Similarity.quantizationFidelity(frame, "id", "v")
      val c = Similarity.quantizationFidelityColumns(frame, "id", "v")
      assert(k.exceptAll(c).count() == 0L && c.exceptAll(k).count() == 0L,
        "kernel diverges from Column spec")
    }
    assert(Similarity.quantizationFidelity(withNullElem, "id", "v").count() == 0L,
      "null-element vector must be excluded")
    // the verifier accepts array<double> like the compressor does
    val dbl = spark.sql(
      "SELECT CAST(1 AS BIGINT) AS id, array(CAST(1.0 AS DOUBLE), CAST(-0.5 AS DOUBLE)) AS v")
    val dk = Similarity.quantizationFidelity(dbl, "id", "v").head()
    val dc = Similarity.quantizationFidelityColumns(dbl, "id", "v").head()
    assert(dk == dc, s"double-vector kernel $dk != spec $dc")
  }

  test("brute-force topK matches within-bucket ANN on its candidates") {
    val probe = embs.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toSeq
    val top = Similarity.bruteForceTopK(embs.filter(col("vec_id") =!= 0), "vec_id", "embedding", probe, 5)
      .collect()
    assert(top.length == 5)
    // descending cosine, and self-similarity of the probe is 1
    val cos = top.map(_.getDouble(1)).toSeq
    assert(cos == cos.sorted.reverse)
    assert(cos.head < 1.0 && cos.head > 0.2)
    val ann = Similarity.annTopK(embs, "vec_id", "embedding", probe, 5, planes = 4, multiProbeBits = 2)
    val annIds = ann.collect().map(_.getLong(0)).toSet
    assert(annIds.contains(0L)) // probe itself lives in its own bucket
  }

  test("ivf assignment puts every row in a valid cell") {
    val centroids = Similarity.seedCentroids(embs, "vec_id", "embedding", 4)
    assert(centroids.size == 4)
    val assigned = Similarity.ivfAssign(embs, "embedding", centroids)
    val cells = assigned.select("ivf_cell").distinct().collect().map(_.getInt(0)).toSet
    assert(cells.subsetOf((0 until 4).toSet) && cells.size > 1)
  }

  test("topK edge cases: zero vectors excluded, misaligned ids still seed, empty IVF rejected") {
    import spark.implicits._
    // a zero-norm vector scores cosine NaN, which sorts ABOVE every real double under
    // desc — it must be excluded, not returned as the "best" neighbor
    val probe = Seq(1.0f, 0.0f)
    val df = Seq(
      (1L, Seq(1.0f, 0.1f)), (2L, Seq(0.0f, 0.0f)), (3L, Seq(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df, "vec_id", "embedding", probe, 3).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 3L), "zero vector must not rank")
    assert(top.forall(r => !r.getDouble(1).isNaN))
    // ids all ≡ 7 (mod 8): the old pmod-based seeding returned ZERO centroids here
    val off = (0 until 32).map(i => (i * 8L + 7L, Seq(i.toFloat, 1.0f))).toDF("vec_id", "embedding")
    val seeds = Similarity.seedCentroids(off, "vec_id", "embedding", 4)
    assert(seeds.size == 4, s"got ${seeds.size} centroids")
    // silent-empty guards
    intercept[IllegalArgumentException](Similarity.ivfAssign(df, "embedding", Seq.empty))
    intercept[IllegalArgumentException](
      Similarity.ivfTopK(df, "vec_id", "embedding", seeds, probe, 3, nprobe = 0))
    // pre-bucketed ANN path agrees with the recomputed-bucket path
    val corpus = embs.filter(col("vec_id") =!= 0)
    val p2 = embs.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toSeq
    val pre = Similarity.annTopK(
      Similarity.bucketedCorpus(corpus, "embedding", p2.size, planes = 4), "vec_id", "embedding",
      p2, 5, planes = 4, multiProbeBits = 2, bucketCol = Some("bucket")).collect()
    val recomputed = Similarity.annTopK(corpus, "vec_id", "embedding",
      p2, 5, planes = 4, multiProbeBits = 2).collect()
    assert(pre.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      recomputed.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("multimodal null/empty payloads: null features, frame rows preserved") {
    import spark.implicits._
    val df = Seq(
      (1L, Array[Byte](1, 2, 3)), (2L, null.asInstanceOf[Array[Byte]]), (3L, Array.emptyByteArray))
      .toDF("id", "bytes")
    // null/empty bytes must yield NULL features (a zero vector would be a "valid"
    // embedding with NaN cosine, ranking broken media first in top-k)
    val feats = Multimodal.withFeatures(df, "bytes", dim = 4)
      .select(col("id"), col("features")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(feats(1L).isDefined && feats(2L).isEmpty && feats(3L).isEmpty)
    // frameless rows stay in the output with null frame columns (count reconciliation)
    val frames = Multimodal.explodeFrames(df, "bytes")
    assert(frames.count() == 3)
    assert(frames.filter(col("id") === 2 && col("frame_idx").isNull).count() == 1)
  }

  test("multimodal meta/features/frames plumbing") {
    import graft.operators.Multimodal.MediaCodecs
    import spark.implicits._
    val png = MediaCodecs.encodeImage(50, 40, "png", seed = 3L)
    val jpg = MediaCodecs.encodeImage(20, 30, "jpeg", seed = 4L)
    // a big opaque blob (stands in for video) to exercise the frame slicer
    val blob = Array.fill(8192)(7.toByte)
    val df = Seq((1L, png), (2L, jpg), (3L, blob)).toDF("id", "bytes")
    val meta = Multimodal.withMediaMeta(df, "bytes")
    assert(meta.select("media_meta.format").collect().map(_.getString(0)).toSeq ==
      Seq("png", "jpeg", "bin"))
    // REAL dimensions, decoded from the headers
    assert(meta.select("media_meta.width").collect().map(r => Option(r.get(0))).toSeq ==
      Seq(Some(50), Some(20), None))
    assert(meta.select("media_meta.height").collect().map(r => Option(r.get(0))).toSeq ==
      Seq(Some(40), Some(30), None))
    assert(meta.select("media_meta.size_bytes").collect().map(_.getLong(0)).toSeq ==
      Seq(png.length.toLong, jpg.length.toLong, 8192L))

    val feats = Multimodal.withFeatures(df, "bytes", dim = 8)
    val v = feats.select("features").head().getSeq[Float](0)
    assert(v.size == 8 && v.exists(_ != 0.0f))
    // determinism: same bytes → same features
    val v2 = Multimodal.withFeatures(df, "bytes", dim = 8).select("features").head().getSeq[Float](0)
    assert(v == v2)

    val frames = Multimodal.explodeFrames(df, "bytes", everyNth = 1, maxFrames = 4)
    assert(frames.filter(col("id") === 3).count() == 2) // 8192 bytes -> 2 4KiB frames
    assert(frames.columns.contains("frame_idx") && frames.columns.contains("frame_bytes"))

    val stats = Multimodal.mediaStats(df, "bytes").collect()
    assert(stats.map(_.getString(0)).toSeq == Seq("bin", "jpeg", "png"))
    // formats without timing report NULL total time, never a fake 0
    assert(stats.forall(_.isNullAt(4)), "still images must have NULL total_duration_ms")
    val timed = Seq((1L, MediaCodecs.encodeAviMeta(1500L, 8, 8)),
      (2L, MediaCodecs.encodeAviMeta(500L, 8, 8))).toDF("id", "bytes")
    val ts = Multimodal.mediaStats(timed, "bytes").head()
    assert(ts.getString(0) == "avi" && ts.getLong(4) == 2000L, s"got $ts")

    // resize is REAL for images: decoded output dims equal the target, deterministic
    val resized = Multimodal.withResized(df, "bytes", 32, 32)
      .select(col("id"), col("resized")).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val m1 = MediaCodecs.decodeMeta(resized(1L))
    assert(m1.format == "png" && m1.width.contains(32) && m1.height.contains(32))
    val m2 = MediaCodecs.decodeMeta(resized(2L))
    assert(m2.format == "jpeg" && m2.width.contains(32) && m2.height.contains(32))
    assert(resized(3L).length == 32 * 32) // non-image fallback: proportional resample
    val again = Multimodal.withResized(df, "bytes", 32, 32)
      .select(col("id"), col("resized")).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(resized.forall { case (id, b) => java.util.Arrays.equals(b, again(id)) })
  }

  test("oversized LSH buckets are dropped, not joined quadratically") {
    import spark.implicits._
    // 200 identical documents: every band bucket holds all 200 ids — unguarded, the
    // self-join would emit 200*199/2 pairs per band. With maxBucketSize below the
    // bucket population, the degenerate buckets are excluded wholesale.
    val boiler = (0 until 200).map(i => (i.toLong, "exactly the same boilerplate text repeated"))
    val distinctTail = Seq((900L, "a genuinely unique document about salmon migration"),
      (901L, "a genuinely unique document about salmon migration")) // one real dup pair
    val df = (boiler ++ distinctTail).toDF("doc_id", "text")
    val guarded = Dedup.minhashCandidatePairs(df, "doc_id", "text", maxBucketSize = 50)
    val pairs = guarded.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((900L, 901L)),
      s"only the under-cap bucket's pair should survive, got ${pairs.size} pairs")
    // and with the cap above the population, the boilerplate pairs all appear
    val unguarded = Dedup.minhashCandidatePairs(df, "doc_id", "text", maxBucketSize = 1000)
    assert(unguarded.count() == 200L * 199L / 2 + 1)
    // SimHash (the banded-Hamming join the media families share): the pile sketches
    // to one 64-bit hash, so all four of its band buckets hold the 200 ids.
    val simGuarded = Dedup.nearDupPairsSimhash(df, "doc_id", "text", maxBucketSize = 50)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(simGuarded == Set((900L, 901L)),
      s"simhash: only the under-cap bucket's pair should survive, got ${simGuarded.size} pairs")
    assert(Dedup.nearDupPairsSimhash(df, "doc_id", "text", maxBucketSize = 1000).count() ==
      200L * 199L / 2 + 1)
    // Incremental MinHash with the pile split 100/100 across the index and the new
    // batch: each side alone is under a cap of 150, the combined bucket is not, so
    // the guard must count both sides.
    val isNew = col("doc_id") % 2 === 0
    val index = Dedup.minhashIndex(df.filter(!isNew), "doc_id", "text")
    val incGuarded = Dedup.incrementalMinhashCandidates(df.filter(isNew), index,
      "doc_id", "text", maxBucketSize = 150)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incGuarded == Set((900L, 901L)),
      s"incremental: the combined bucket must be dropped, got ${incGuarded.size} pairs")
    // above the cap: every pile pair with a new side, i.e. C(200,2) minus the C(100,2)
    // old-by-old pairs, plus the tail pair
    assert(Dedup.incrementalMinhashCandidates(df.filter(isNew), index, "doc_id", "text",
      maxBucketSize = 1000).count() == 200L * 199L / 2 - 100L * 99L / 2 + 1)
    // A cap below 2 drops every bucket that could hold a pair: rejected, not silently empty.
    assertThrows[IllegalArgumentException](
      Dedup.minhashCandidatePairs(df, "doc_id", "text", maxBucketSize = 1))
    assertThrows[IllegalArgumentException](
      Dedup.nearDupPairsSimhash(df, "doc_id", "text", maxBucketSize = 1))
  }

  test("quality score ranges and ordering") {
    import spark.implicits._
    val good = "This is a well formed paragraph of reasonable length with normal words and punctuation. " * 3
    val bad = "!!!! ???? ;;;; @@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( ))))"
    val df = Seq(good, bad).toDF("t")
    val scores = df.select(TextFunctions.qualityScore(col("t"))).collect().map(_.getDouble(0))
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
    assert(scores(0) > scores(1))
  }
}
