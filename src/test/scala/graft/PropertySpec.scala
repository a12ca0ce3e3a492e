package graft

import graft.constraints._
import graft.core._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based layer mirroring the reference's proptest suite
  * (term-guard/tests/property_tests.rs): generate data with controlled null fraction /
  * value ranges, compute the expected metric independently in Scala, compare.
  * Drives ScalaCheck Gen directly with fixed seeds (deterministic, no scalatestplus
  * bridge needed in this offline environment).
  */
class PropertySpec extends SparkSpec {

  /** Independent codepoint-level reimplementation of the MATCHING tokenizer
    * (whitespace split → joiner-attached units → class segments → SEG bigrams);
    * shares only the classifier predicates with the byte-walk kernel, so the
    * tokenization mechanics cross-check each other.
    */
  private def refSegTokens(t: String): Seq[String] = {
    import graft.functions.SegmentKernel
    t.split("\\s+").filter(_.nonEmpty).toSeq.flatMap { w =>
      val cps = w.codePoints.toArray.toSeq
      val units = cps.foldLeft(Vector.empty[Vector[Int]]) { (acc, cp) =>
        if (acc.nonEmpty && SegmentKernel.isJoiner(cp)) acc.init :+ (acc.last :+ cp)
        else acc :+ Vector(cp)
      }
      val segs = units.foldLeft(Vector.empty[(Boolean, Vector[Vector[Int]])]) { (acc, u) =>
        val s = SegmentKernel.isSeg(u.head)
        if (acc.nonEmpty && acc.last._1 == s) acc.init :+ ((s, acc.last._2 :+ u))
        else acc :+ ((s, Vector(u)))
      }
      def str(us: Seq[Vector[Int]]): String =
        us.flatten.flatMap(Character.toChars(_).toSeq).mkString
      segs.flatMap { case (isSegC, us) =>
        if (!isSegC || us.size == 1) Seq(str(us))
        else us.sliding(2).map(str).toSeq
      }
    }
  }

  private val Cases = 8
  private def forAll[A](g: Gen[A])(f: A => Unit): Unit =
    (1 to Cases).foreach { i =>
      f(g.apply(Gen.Parameters.default.withSize(40), Seed(1000L + i))
        .getOrElse(sys.error("gen failed")))
    }
  private def forAll[A, B, C](g1: Gen[A], g2: Gen[B], g3: Gen[C])(f: (A, B, C) => Unit): Unit =
    (1 to Cases).foreach { i =>
      def s(k: Int) = Seed(2000L + i * 3 + k)
      val p = Gen.Parameters.default.withSize(40)
      f(g1.apply(p, s(0)).getOrElse(sys.error("gen failed")),
        g2.apply(p, s(1)).getOrElse(sys.error("gen failed")),
        g3.apply(p, s(2)).getOrElse(sys.error("gen failed")))
    }
  private def whenever(cond: Boolean)(f: => Unit): Unit = if (cond) f

  private val rowsGen = for {
    n <- Gen.choose(1, 120)
    nullEvery <- Gen.choose(2, 10)
    base <- Gen.choose(-1000, 1000)
  } yield (1 to n).map { i =>
    (i.toLong, if (i % nullEvery == 0) None else Some((base + i).toDouble))
  }

  test("hashSplit properties: total, disjoint, seed-stable for random fraction vectors") {
    import spark.implicits._
    val fracGen = for {
      k <- Gen.choose(2, 5)
      raw <- Gen.listOfN(k, Gen.choose(1, 100))
    } yield {
      val tot = raw.sum.toDouble
      raw.zipWithIndex.map { case (w, i) => s"s$i" -> (w / tot) }
    }
    forAll(Gen.zip(fracGen, Gen.choose(-500L, 500L), Gen.choose(50, 400))) {
      case (fracs, seed, n) =>
        // fractions from integer weights can drift an ulp from 1.0 — normalize
        val total = fracs.map(_._2).sum
        val normalized = fracs.map { case (k2, f) => k2 -> f / total }
        val df = (0L until n.toLong).toVector.toDF("doc_id")
        val out = graft.operators.Splits.hashSplit(df, "doc_id", normalized, seed)
        val counts = out.groupBy("split").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(counts.values.sum == n.toLong, "every row must land in exactly one split")
        assert(counts.keySet.subsetOf(normalized.map(_._1).toSet))
        val again = graft.operators.Splits.hashSplit(df, "doc_id", normalized, seed)
        assert(out.exceptAll(again).count() == 0L, "membership must be seed-stable")
    }
  }

  test("dedupLinesAcrossCorpus round-trips dup-free corpora for ANY separator") {
    import spark.implicits._
    val sepGen = Gen.oneOf("\n", "\n\n", "|", "::")
    forAll(Gen.zip(sepGen, Gen.choose(2, 30))) { case (sep, n) =>
      // unique per-doc units: nothing dedups, so reassembly must be byte-identical
      val docs = (1L to n.toLong).map(i =>
        (i, (1 to 3).map(j => s"unit $i $j").mkString(sep))).toVector.toDF("doc_id", "text")
      val out = graft.operators.Dedup
        .dedupLinesAcrossCorpus(docs, "doc_id", "text", sep = sep)
      assert(out.filter(org.apache.spark.sql.functions.col("lines_dropped") > 0).count() == 0L)
      val back = out.select("doc_id", "text").as[(Long, String)].collect().toMap
      (1L to n.toLong).foreach(i =>
        assert(back(i) == (1 to 3).map(j => s"unit $i $j").mkString(sep), s"sep=$sep doc=$i"))
    }
  }

  test("quantization fidelity bound holds for random vectors at any dim") {
    import spark.implicits._
    val vecGen = for {
      dim <- Gen.choose(2, 96)
      scale <- Gen.choose(1e-3, 1e3)
      vs <- Gen.listOfN(dim, Gen.choose(-1.0, 1.0))
    } yield vs.map(v => (v * scale).toFloat)
    forAll(Gen.listOfN(20, vecGen)) { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val out = graft.operators.Similarity.quantizationFidelity(df, "id", "v")
        .select("q_scale", "max_abs_err", "cos_fidelity").collect()
      out.foreach { r =>
        assert(r.getDouble(1) <= r.getDouble(0) / 2 + 1e-12,
          "reconstruction error must stay under half a quantization step")
        assert(r.getDouble(2) > 0.995, s"fidelity ${r.getDouble(2)}")
      }
    }
  }

  test("interleaveBySource equals the window formulation for random partitionings") {
    import spark.implicits._
    forAll(Gen.zip(Gen.choose(20, 200), Gen.choose(1, 9), Gen.choose(1, 16))) {
      case (n, nSources, parts) =>
        val df = (1L to n.toLong).map(i => (i, s"src${i % nSources}")).toVector
          .toDF("id", "src").repartition(parts)
        val viaOp = graft.operators.Sharding.interleaveBySource(df, "src", "id")
          .select("id", "rr_rank").as[(Long, Long)].collect().toMap
        val viaWin = df.withColumn("rr_rank",
          org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(org.apache.spark.sql.functions.col("src")).orderBy(org.apache.spark.sql.functions.col("id"))))
          .select("id", "rr_rank").as[(Long, Int)].collect().toMap
        assert(viaOp.size == n && viaOp.forall { case (id, r) => viaWin(id).toLong == r },
          s"n=$n sources=$nSources parts=$parts")
    }
  }

  test("asofJoin equals the naive max-match join for random multi-key data") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(19)
    // duplicate times and sparse keys on purpose: ties and unmatched rows are the
    // interesting cases; two key columns exercise the multi-key path
    val left = (1 to 1500).map { i =>
      (i.toLong, rng.nextInt(4), rng.nextInt(3).toString, rng.nextInt(200).toLong)
    }.toDF("lid", "k1", "k2", "t")
    val right = (1 to 400).map { i =>
      (rng.nextInt(4), rng.nextInt(3).toString, rng.nextInt(200).toLong, i.toDouble)
    }.toDF("k1", "k2", "rt", "payload")
      // unique (key, rt): duplicate right instants are ambiguous in ANY as-of engine
      .groupBy("k1", "k2", "rt").agg(max($"payload").as("payload"))
    val got = graft.operators.AsOf.asofJoin(left, right, Seq("k1", "k2"), "t", "rt",
        Seq("payload"), matchedTimeCol = Some("mt"))
      .select("lid", "payload", "mt")
    // naive specification: join all right rows at-or-before, keep the max rt
    val naive = left.as("l")
      .join(right.as("r"),
        $"l.k1" === $"r.k1" && $"l.k2" === $"r.k2" && $"r.rt" <= $"l.t", "left")
      .groupBy($"l.lid".as("lid"), $"l.t")
      .agg(max(struct($"r.rt", $"r.payload")).as("m"))
      .select($"lid", $"m.payload".as("payload"), $"m.rt".as("mt"))
    assert(got.exceptAll(naive).count() == 0 && naive.exceptAll(got).count() == 0,
      "as-of carry must equal the naive inequality-join specification")
  }

  test("completeness matches independent computation") {
    forAll(rowsGen) { rows =>
      import spark.implicits._
      val df = rows.toDF("id", "v")
      val expected = rows.count(_._2.isDefined).toDouble / rows.size
      val r = CompletenessConstraint("v", Assertion.Equals(expected)).evaluate(df)
      assert(r.status == ConstraintStatus.Success, s"$r expected=$expected")
    }
  }

  test("size / min / max / sum / mean match independent computation") {
    forAll(rowsGen) { rows =>
      import spark.implicits._
      val df = rows.toDF("id", "v")
      val vs = rows.flatMap(_._2)
      assert(SizeConstraint(Assertion.Equals(rows.size)).evaluate(df).isSuccess)
      if (vs.nonEmpty) {
        assert(StatisticConstraint("v", Stat.Min, Assertion.Equals(vs.min)).evaluate(df).isSuccess)
        assert(StatisticConstraint("v", Stat.Max, Assertion.Equals(vs.max)).evaluate(df).isSuccess)
        assert(StatisticConstraint("v", Stat.Sum, Assertion.Equals(vs.sum)).evaluate(df).isSuccess)
        val mean = vs.sum / vs.size
        assert(StatisticConstraint("v", Stat.Mean,
          Assertion.Between(mean - 1e-9, mean + 1e-9)).evaluate(df).isSuccess)
      }
    }
  }

  test("stddev (n-1) matches independent computation") {
    forAll(rowsGen) { rows =>
      import spark.implicits._
      val vs = rows.flatMap(_._2)
      whenever(vs.size >= 2) {
        val df = rows.toDF("id", "v")
        val mean = vs.sum / vs.size
        val sd = math.sqrt(vs.map(x => (x - mean) * (x - mean)).sum / (vs.size - 1))
        val r = StatisticConstraint("v", Stat.StdDev,
          Assertion.Between(sd - 1e-6, sd + 1e-6)).evaluate(df)
        assert(r.isSuccess, s"$r expected=$sd")
      }
    }
  }

  test("uniqueness and distinctness match independent computation") {
    val dupGen = for {
      n <- Gen.choose(1, 80)
      mod <- Gen.choose(1, 20)
    } yield (1 to n).map(i => (i.toLong, (i % mod).toString))
    forAll(dupGen) { rows =>
      import spark.implicits._
      val df = rows.toDF("id", "k")
      val distinct = rows.map(_._2).distinct.size.toDouble
      val u = UniquenessConstraint(Seq("k"), Assertion.Equals(distinct / rows.size)).evaluate(df)
      assert(u.isSuccess, u.message)
      val d = DistinctnessConstraint(Seq("k"), Assertion.Equals(distinct / rows.size)).evaluate(df)
      assert(d.isSuccess, d.message)
    }
  }

  test("uniqueness NULL modes match independent computation") {
    val keyedRowsGen = for {
      n <- Gen.choose(1, 120)
      nullEvery <- Gen.choose(2, 10)
      card <- Gen.choose(1, 15) // small range to force duplicate keys
    } yield (1 to n).map { i =>
      (i.toLong, if (i % nullEvery == 0) None else Some((i % card).toLong))
    }
    forAll(keyedRowsGen) { rows =>
      import spark.implicits._
      val df = rows.toDF("id", "k")
      val total = rows.size.toDouble
      val nonNull = rows.flatMap(_._2)
      val nullRows = rows.count(_._2.isEmpty)
      val expected = Map[NullMode, Double](
        NullMode.Exclude -> nonNull.distinct.size / total,
        NullMode.IncludeAsOne -> (nonNull.distinct.size + (if (nullRows > 0) 1 else 0)) / total,
        NullMode.EachDistinct -> (nonNull.distinct.size + nullRows) / total)
      expected.foreach { case (mode, exp) =>
        val r = UniquenessConstraint(Seq("k"), Assertion.Equals(exp), mode).evaluate(df)
        assert(r.status == ConstraintStatus.Success, s"mode=$mode expected=$exp got=$r")
      }
    }
  }

  test("pattern-match ratio matches independent computation") {
    val strGen = for {
      n <- Gen.choose(1, 60)
      matchEvery <- Gen.choose(1, 5)
    } yield (1 to n).map(i => if (i % matchEvery == 0) s"AB$i" else s"x$i")
    forAll(strGen) { values =>
      import spark.implicits._
      val df = values.toDF("s")
      val expected = values.count(_.startsWith("AB")).toDouble / values.size
      val r = PatternConstraint("s", "^AB", Assertion.Equals(expected)).evaluate(df)
      assert(r.isSuccess, s"$r expected=$expected")
    }
  }

  test("containment ratio matches independent computation") {
    val gen = for {
      n <- Gen.choose(1, 80)
      inEvery <- Gen.choose(1, 4)
    } yield (1 to n).map(i => if (i % inEvery == 0) "ok" else s"bad$i")
    forAll(gen) { values =>
      import spark.implicits._
      val df = values.toDF("g")
      val expected = values.count(_ == "ok").toDouble / values.size
      val r = ComplianceConstraint.containedIn("g", Seq("ok"), Assertion.Equals(expected)).evaluate(df)
      assert(r.isSuccess, s"$r expected=$expected")
    }
  }

  test("type consistency ratio matches independent computation") {
    val gen = for {
      n <- Gen.choose(1, 80)
      intEvery <- Gen.choose(1, 5)
    } yield (1 to n).map(i => if (i % intEvery == 0) i.toString else s"t$i")
    forAll(gen) { values =>
      import spark.implicits._
      val df = values.toDF("s")
      val intRatio = values.count(v => v.forall(_.isDigit)).toDouble / values.size
      val dominant = math.max(intRatio, 1.0 - intRatio)
      val r = TypeConsistencyConstraint("s", dominant - 1e-9).evaluate(df)
      assert(r.isSuccess, s"$r dominant=$dominant")
    }
  }

  test("analyzer merge associativity: merge(a, merge(b, c)) == merge(merge(a, b), c)") {
    import graft.analyzers._
    forAll(rowsGen, rowsGen, rowsGen) { (r1, r2, r3) =>
      import spark.implicits._
      val (d1, d2, d3) = (r1.toDF("id", "v"), r2.toDF("id", "v"), r3.toDF("id", "v"))
      Seq(MeanAnalyzer("v"), StdDevAnalyzer("v"), CompletenessAnalyzer("v")).foreach { a =>
        val (s1, s2, s3) = (a.computeState(d1), a.computeState(d2), a.computeState(d3))
        val left = a.metricFromAnyState(a.mergeAnyStates(a.mergeAnyStates(s1, s2), s3)).asDouble.get
        val right = a.metricFromAnyState(a.mergeAnyStates(s1, a.mergeAnyStates(s2, s3))).asDouble.get
        assert((left.isNaN && right.isNaN) || math.abs(left - right) < 1e-9, a.key)
      }
    }
  }

  test("text kernels match independent computation on generated text") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.functions._
    val textGen = for {
      n <- Gen.choose(0, 40)
      words <- Gen.listOfN(n, Gen.oneOf(
        Gen.alphaStr.map(_.take(8)), Gen.oneOf("the", "und", "la", "y", "...", "42")))
      seps <- Gen.listOfN(math.max(n - 1, 0), Gen.oneOf(" ", "  ", "\t", "\n", " \t "))
    } yield words.zipAll(seps :+ "", "", "").map { case (w, s) => w + s }.mkString
    forAll(Gen.listOfN(25, textGen)) { texts =>
      import spark.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val got = df.select(col("id"), TextFunctions.tokenCount(col("text")),
          TextFunctions.charCount(col("text")), TextFunctions.fingerprint(col("text")),
          TextFunctions.qualityScore(col("text")))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
      got.foreach { case (id, tc, cc, _, qs) =>
        val t = texts(id.toInt)
        assert(tc == t.split("\\s+").count(_.nonEmpty), s"tokens of '$t'")
        assert(cc == t.length)
        assert(qs >= 0.0 && qs <= 1.0, s"quality $qs out of range for '$t'")
      }
      // fingerprint is whitespace-normalization invariant
      val variants = texts.map(t => t.replaceAll("\\s+", "\t "))
      val fpA = df.select(TextFunctions.fingerprint(col("text"))).collect().map(_.getLong(0))
      val fpB = variants.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
        .select(TextFunctions.fingerprint(col("text"))).collect().map(_.getLong(0))
      // leading/trailing whitespace trims away; internal runs collapse identically
      assert(fpA.toSeq == fpB.toSeq)
    }
  }

  test("native quality score and langId equal the Column formulations bit-exactly") {
    import graft.functions.TextFunctions._
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // The pre-kernel Column formulations, inlined as the independent reference.
    def refQuality(c: org.apache.spark.sql.Column) = {
      val len = length(c).cast("double")
      val lengthScore = least(len / lit(200.0), lit(1.0)) * when(len > 20000, 0.5).otherwise(1.0)
      val punctScore = when(punctRatio(c) < 0.2, 1.0).otherwise(0.5)
      val wsScore = when(whitespaceRatio(c).between(0.05, 0.35), 1.0).otherwise(0.7)
      val wordLenScore = when(meanWordLength(c).between(2.0, 12.0), 1.0).otherwise(0.6)
      round(lengthScore * lit(0.4) + punctScore * lit(0.2) + wsScore * lit(0.2) +
        wordLenScore * lit(0.2), 6)
    }
    def refLangId(c: org.apache.spark.sql.Column) = {
      def ratio(part: org.apache.spark.sql.Column, whole: org.apache.spark.sql.Column) =
        when(whole > 0, part.cast("double") / whole.cast("double")).otherwise(lit(0.0))
      val cjk = ratio(length(regexp_replace(c, "[^\\p{IsHan}]", "")), length(c))
      val scored = LangMarkers.toSeq.sortBy(_._1).map { case (lang, ms) =>
        struct(wordSetRatio(c, ms).as("score"), lit(lang).as("lang"))
      }
      val best = array_max(array(scored: _*))
      when(cjk > 0.2, "zh")
        .when(best.getField("score") > 0.05, best.getField("lang"))
        .otherwise("und")
    }
    val edges = Seq(null, "", " ", "x", "the the the", "!!!???...", "中文中文中文xx",
      "a" * 250, ("word " * 50).trim, "mixed 中文 the und la y", "\t\n\f\r",
      "ab" * 10001 /* > 20000 chars */, "é中a " * 60)
    val gen = for {
      n <- Gen.choose(0, 60)
      ws <- Gen.listOfN(n, Gen.oneOf("the", "und", "der", "la", "el", "y", "...", "!x",
        "中文", "supercalifragilistic", "a", "éé"))
      seps <- Gen.listOfN(math.max(n - 1, 0), Gen.oneOf(" ", "  ", "\t", "\n"))
    } yield ws.zipAll(seps :+ "", "", "").map { case (w, s) => w + s }.mkString
    forAll(Gen.listOfN(15, gen)) { texts =>
      val all = edges ++ texts
      val df = all.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val rows = df.select(col("id"),
          qualityScore(col("text")), refQuality(col("text")),
          langId(col("text")), refLangId(col("text")))
        .collect()
      rows.foreach { r =>
        val t = Option(all(r.getLong(0).toInt)).map(_.take(40))
        // null text included: `least` skips the null length, so even the reference
        // yields a concrete score (0.86) for null — the kernel must reproduce it
        assert(!r.isNullAt(2) && r.getDouble(1) == r.getDouble(2),
          s"quality of '$t': ${r.getDouble(1)} vs ${r.get(2)}")
        assert(r.getString(3) == r.getString(4),
          s"langId of '$t': ${r.getString(3)} vs ${r.getString(4)}")
      }
    }
  }

  test("matching tokenizer equals the independent reference on mixed-script fuzz") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val pieceGen = Gen.oneOf("word", "x", "中文", "中", "漢字かな", "ラーメン", "ไทย",
      "한국어", "mixed中文tail", "a中b", "・", "。", "ｶﾞｷ", "中‍文", "か゛き", "😀",
      "中文。更多", "tail中", "中head")
    val textGen = for {
      n <- Gen.choose(0, 12)
      ps <- Gen.listOfN(n, pieceGen)
      seps <- Gen.listOfN(math.max(n - 1, 0), Gen.oneOf(" ", "", "\t", "  "))
    } yield ps.zipAll(seps :+ "", "", "").map { case (p, s) => p + s }.mkString
    forAll(Gen.listOfN(25, textGen)) { texts =>
      val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
        .select(col("id"), TextFunctions.tokens(col("text")))
        .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) == refSegTokens(t), s"tokens of '$t'")
      }
    }
  }

  test("repetition kernels match independent computation on generated text") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.functions._
    // biased toward repeated words/lines so the duplicate fractions are exercised
    val textGen = for {
      n <- Gen.choose(0, 30)
      // multi-byte UTF-8 tokens (é=2B, 中=3B) exercise the native kernel's code-point
      // walk; all BMP, so the JVM-string reference computation counts the same chars
      words <- Gen.listOfN(n, Gen.oneOf("spam", "ham", "eggs", "aa", "bbbb", "x", "héé", "中文中"))
      seps <- Gen.listOfN(math.max(n - 1, 0), Gen.oneOf(" ", "\n", "  "))
    } yield words.zipAll(seps :+ "", "", "").map { case (w, s) => w + s }.mkString
    forAll(Gen.listOfN(20, textGen)) { texts =>
      import spark.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val got = df.select(col("id"),
          TextFunctions.dupNgramFraction(col("text"), 3),
          TextFunctions.dupWordNgramFraction(col("text"), 2),
          TextFunctions.dupLineFraction(col("text")))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      got.foreach { case (id, cf, wf, lf) =>
        val t = texts(id.toInt)
        val expectedCf =
          if (t.length < 3) 0.0
          else 1.0 - t.sliding(3).toSeq.distinct.size.toDouble / (t.length - 2).toDouble
        assert(cf == expectedCf, s"char dup fraction of '$t'")
        val toks = refSegTokens(t)
        val expectedWf =
          if (toks.size < 2) 0.0
          else 1.0 - toks.sliding(2).map(_.mkString(" ")).toSeq.distinct.size.toDouble /
            (toks.size - 1).toDouble
        assert(wf == expectedWf, s"word dup fraction of '$t'")
        val lines = t.split("\n", -1).map(_.trim).filter(_.nonEmpty).toSeq
        val expectedLf =
          if (lines.isEmpty) 0.0 else 1.0 - lines.distinct.size.toDouble / lines.size.toDouble
        assert(lf == expectedLf, s"line dup fraction of '$t'")
      }
    }
  }

  test("word-gram hash kernel equals the Column formulation bit-for-bit") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // The pre-kernel Column formulations, inlined as the independent reference:
    // distinct grams = xxhash64 over wordShingles; positional = the span family's
    // transform(sequence) composition. The kernel must match BIT-FOR-BIT — the
    // stored-firewall guarantee rides on it.
    def refDistinct(c: org.apache.spark.sql.Column, k: Int) =
      transform(TextFunctions.wordShingles(c, k), g => xxhash64(g))
    def refPositional(c: org.apache.spark.sql.Column, k: Int) = {
      val t = TextFunctions.tokens(c)
      when(size(t) >= k, transform(
        sequence(lit(0), size(t) - k),
        i => xxhash64(concat_ws(" ", slice(t, i + 1, lit(k))))))
        .otherwise(array().cast("array<bigint>"))
    }
    val hostile = Seq(
      "a b c d e f g h", "a  b\tc\nd\re fg\fh i", "one", "", "   ",
      "a b c", "word " * 40, "emoji 😀 mixed éü tokens here okay fine",
      "nbsp is one token b c d e f g h", "tab\tsep\tx y z w v u t s r",
      "\n\nleading and trailing ws a b c d e f\n\n", "dup dup dup dup dup dup dup dup dup",
      "漢字とかな a b c d e f g h")
    val texts = hostile ++ (1 to 30).map(i =>
      (1 to (i % 17)).map(j => s"w${(i * j) % 7}").mkString(Seq(" ", "  ", "\t", " \n")(i % 4)))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (k <- Seq(2, 5, 8)) {
      val rows = df.select(col("id"),
          TextFunctions.wordShingleHashes(col("text"), k).as("kd"),
          refDistinct(col("text"), k).as("rd"),
          TextFunctions.wordGramHashesAt(col("text"), k).as("kp"),
          refPositional(col("text"), k).as("rp"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"distinct k=$k diverged on '${texts(r.getLong(0).toInt)}'")
        assert(r.getSeq[Long](3) == r.getSeq[Long](4),
          s"positional k=$k diverged on '${texts(r.getLong(0).toInt)}'")
      }
    }
    // NULL propagates like the wordShingles when(isNotNull) wrapper
    val nullRow = Seq(Tuple1(null.asInstanceOf[String])).toDF("text")
      .select(TextFunctions.wordShingleHashes(col("text"), 8),
        TextFunctions.wordGramHashesAt(col("text"), 8)).head()
    assert(nullRow.isNullAt(0) && nullRow.isNullAt(1))
    // GOLDEN pin (same value PipelineOpsSpec pins via the Column path): the kernel
    // is now the production hasher for stored contamination blooms.
    val g = Seq("a b c d e f g h").toDF("text")
      .select(TextFunctions.wordShingleHashes(col("text"), 8)).head().getSeq[Long](0)
    assert(g == Seq(48378799402119996L), s"kernel gram hash drifted: $g")
  }

  test("gopher kernel equals the Column specification bit-for-bit") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val hostile = Seq(
      // word-count / mean-length boundaries
      ("w " * 49).trim, ("w " * 50).trim, ("abc " * 60).trim,
      // symbols: overlapping dots, ellipsis char, hashes
      "txt ..... txt # ## txt … .... " + ("pad " * 60).trim,
      // bullet and ellipsis lines, incl. the \r-terminated $ quirk and NEL/LS/PS
      "• bullet\n- dash\n* star\nplain\nend...\nend…\nend...\r\nend...\nend... ",
      "   spaces only trim   \n\t tab keeps line nonempty\n",
      // alpha vs non-alpha tokens, non-BMP letters (surrogate pairs), CJK
      "12345 67890 !!! ??? " + ("𝒮𝒸ript " * 30).trim,
      "漢字 かな mixed the and that with of be to have",
      // stopwords with a trailing line terminator that SURVIVES ASCII-\s+
      // tokenization (NEL/LS/PS): `(?i)^(the|...)$`'s non-MULTILINE $ matches
      // before ONE such terminator, so these ARE stopword hits
      "the\u2028 AND\u0085 of\u2029 with\u2028x have\u2028\u2028 " +
        ("filler " * 50).trim,
      // stopwords in every case
      "THE The tHe and AND that THAT have HAVE with WITH be BE to TO of OF " +
        ("filler " * 50).trim,
      "", "   ", "\n\n\n", "one", null.asInstanceOf[String]) ++
      (1 to 25).map(i => (1 to (i * 7 % 90)).map(j =>
        Seq("the", "word", "...", "•x", s"tok$j", "…")((i + j) % 6))
        .mkString(Seq(" ", "\n", "  ", " \r\n")(i % 4)))
    val df = hostile.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val cols = Seq("word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
      "bullet_lines_ok", "ellipsis_lines_ok", "alpha_words_ok", "stopword_ok", "keep")
    for (cfg <- Seq(TextFunctions.GopherConfig(),
      TextFunctions.GopherConfig(minWords = 1, maxWords = 20, minMeanWordLen = 1.0,
        maxMeanWordLen = 99.0, maxSymbolWordRatio = 0.01,
        maxBulletLineFraction = 0.2, maxEllipsisLineFraction = 0.0,
        minAlphaWordFraction = 0.3, minStopwordHits = 1))) {
      val rows = df.select(col("id"),
          TextFunctions.gopherFlags(col("text"), cfg).as("k"),
          TextFunctions.gopherFlagsSpec(col("text"), cfg).as("r"))
        .select(col("id") +: (cols.map(f => col(s"k.$f")) ++ cols.map(f => col(s"r.$f"))): _*)
        .collect()
      rows.foreach { r =>
        val id = r.getLong(0).toInt
        val k = (1 to 8).map(j => Option(r.get(j)))
        val sRef = (9 to 16).map(j => Option(r.get(j)))
        assert(k == sRef,
          s"kernel diverged from spec on text #$id '${hostile(id)}' ($cfg): $k vs $sRef")
      }
    }
  }

  test("gopherFlagsRouted is exactly per-row config dispatch (routing fuzz vs " +
    "independently evaluated flags)") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // THREE routed languages (exercises the CaseWhen fold order) with thresholds
    // chosen to DISAGREE on boundary docs — a routing bug that applies the wrong
    // config must flip at least one flag somewhere in the corpus.
    val cfgs = Map(
      "zh" -> TextFunctions.GopherConfig.cjk,
      "de" -> TextFunctions.GopherConfig(minWords = 10, minStopwordHits = 0,
        minMeanWordLen = 2.0, maxMeanWordLen = 12.0),
      "und" -> TextFunctions.GopherConfig(minWords = 1, minStopwordHits = 0,
        minAlphaWordFraction = 0.0))
    val default = TextFunctions.GopherConfig()
    // deterministic mixed-language fuzz corpus + crafted boundary fixtures
    val rng = new scala.util.Random(20260816L)
    val en = Seq("the", "and", "that", "with", "have", "river", "basket", "morning")
    val de = Seq("der", "die", "das", "und", "ist", "nicht", "von", "mit", "brücke")
    val fr = Seq("le", "la", "les", "et", "est", "dans", "pour", "que", "pont")
    val zh = "漢字文章内容河橋市場広場教会鐘谷夏日省鉄道港町".toSeq.map(_.toString)
    val fuzz = (1 to 200).map { _ =>
      val pools = Seq(en, de, fr, zh)
      val n = 1 + rng.nextInt(80)
      (1 to n).map { _ =>
        val pool = pools(rng.nextInt(pools.size))
        pool(rng.nextInt(pool.size))
      }.mkString(Seq(" ", "", "\n")(rng.nextInt(3))) // "" glues CJK into runs
    }
    val crafted = Seq(
      ("der die " * 5).trim, // exactly 10 de words: de-config boundary
      ("der die " * 4).trim + " das", // 9 words: below the routed minWords
      zh.take(8).mkString * 7, // pure CJK run: zh config
      "xx yy zz", // und route
      ("the and " * 25).trim, // en: falls to default
      "", "   ", null.asInstanceOf[String])
    val docs = (fuzz ++ crafted).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val flagCols = Seq("word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
      "bullet_lines_ok", "ellipsis_lines_ok", "alpha_words_ok", "stopword_ok", "keep")
    // every candidate config evaluated UNCONDITIONALLY per row (independent of the
    // routed CaseWhen), dispatch replayed scala-side from the lang column
    val keys = cfgs.keys.toSeq.sorted
    val rows = docs.toDF("id", "text").select(
      col("id") +:
        TextFunctions.langId(col("text")).as("lang") +:
        TextFunctions.gopherFlagsRouted(col("text"), cfgs, default).as("routed") +:
        (keys.map(k => TextFunctions.gopherFlags(col("text"), cfgs(k)).as(s"f_$k")) :+
          TextFunctions.gopherFlags(col("text"), default).as("f_default")): _*)
      .collect()
    rows.foreach { r =>
      val id = r.getLong(0).toInt
      val routed = Option(r.get(2)).map(_.asInstanceOf[org.apache.spark.sql.Row])
      if (docs(id)._2 == null) assert(routed.isEmpty, s"#$id null text must route to null")
      else {
        val lang = r.getString(1)
        assert(routed.get.getString(0) == lang, s"#$id routed.lang != langId")
        val expectIdx = keys.indexOf(lang) match {
          case -1 => 3 + keys.size // f_default
          case i  => 3 + i
        }
        val expected = r.get(expectIdx).asInstanceOf[org.apache.spark.sql.Row]
        val got = routed.get.get(1).asInstanceOf[org.apache.spark.sql.Row]
        flagCols.indices.foreach { j =>
          assert(got.get(j) == expected.get(j),
            s"#$id lang=$lang flag ${flagCols(j)}: routed=${got.get(j)} " +
              s"expected=${expected.get(j)} text='${docs(id)._2.take(60)}'")
        }
      }
    }
  }

  test("zstdFramesComplete: complete streams read complete, structural cuts read " +
    "incomplete, arbitrary garbage never throws") {
    import graft.operators.Warc
    def zstd(b: Array[Byte], level: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new com.github.luben.zstd.ZstdOutputStream(bos, level)
      z.write(b); z.close()
      bos.toByteArray
    }
    val rng = new scala.util.Random(42)
    // COMPLETE-positive matrix: sizes x levels x frame layouts — a false negative
    // here flags a VALID page truncated (recall loss), the inverse failure mode of
    // the silent-truncation bug the walk fixed
    val payloads = Seq(Array.emptyByteArray, Array[Byte](7),
      ("repetitive content " * 40).getBytes("UTF-8"),
      Array.fill(50000)(rng.nextInt(256).toByte)) // incompressible: raw blocks
    for (p <- payloads; lvl <- Seq(1, 3, 19)) {
      val single = zstd(p, lvl)
      assert(Warc.zstdFramesComplete(single),
        s"complete single frame (payload ${p.length}, level $lvl) read as incomplete")
      val multi = single ++ zstd(p.reverse, lvl)
      assert(Warc.zstdFramesComplete(multi), "complete multi-frame read as incomplete")
      // skippable frame (magic 0x184D2A50 + LE size) between real frames
      val skippable = {
        val body = Array.fill(12)(0x5a.toByte)
        Array(0x50, 0x2a, 0x4d, 0x18, 12, 0, 0, 0).map(_.toByte) ++ body
      }
      assert(Warc.zstdFramesComplete(single ++ skippable ++ zstd(p, lvl)),
        "skippable frame between real frames read as incomplete")
      // every PROPER PREFIX that cuts structure must read incomplete — except cuts
      // at frame boundaries (complete shorter stream, the documented codec-layer
      // blind spot) and the empty prefix (zero frames)
      val frameEnds = Set(0, single.length)
      (0 until single.length).foreach { cut =>
        if (!frameEnds.contains(cut))
          assert(!Warc.zstdFramesComplete(java.util.Arrays.copyOf(single, cut)),
            s"cut=$cut of a ${single.length}-byte frame (level $lvl) read as complete")
      }
    }
    // totality: random bytes, zstd-magic + garbage, point mutations of valid
    // streams — any Boolean is acceptable, an exception never is
    val base = zstd(("page " * 100).getBytes("UTF-8"), 3)
    (1 to 2000).foreach { i =>
      val b = i % 4 match {
        case 0 => Array.fill(rng.nextInt(64))(rng.nextInt(256).toByte)
        case 1 => Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte) ++
          Array.fill(rng.nextInt(32))(rng.nextInt(256).toByte)
        case 2 =>
          val m = base.clone()
          m(rng.nextInt(m.length)) = (m(rng.nextInt(m.length)) ^ (1 << rng.nextInt(8))).toByte
          m
        case _ => Array[Byte](0x50, 0x2a, 0x4d, 0x18) ++
          Array.fill(rng.nextInt(16))(rng.nextInt(256).toByte)
      }
      Warc.zstdFramesComplete(b) // must not throw
    }
    assert(!Warc.zstdFramesComplete(null))
  }

  test("minhash kernel is bit-stable (golden values) and set-semantic") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val texts = Seq("the quick brown fox", "the quick brown fox", "jumps over the lazy dog")
    val sigs = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text")
      .select(col("id"), graft.operators.Dedup.minhashSignature(col("text"), 5, 8).as("sig"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    // identical text ⇒ identical signature; different text ⇒ different signature
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
    // duplicated shingles don't move the min: text+text shares most shingles with text,
    // and every shingle of text IS in text+text, so each sig slot can only decrease
    val rep = Seq((0, "abcdefghij"), (1, "abcdefghijabcdefghij")).toDF("id", "text")
      .select(col("id"), graft.operators.Dedup.minhashSignature(col("text"), 5, 8).as("sig"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    rep(0).zip(rep(1)).foreach { case (single, repeated) =>
      assert(repeated <= single, "superset of shingles can only lower each minimum")
    }
  }

  test("minhash kernel matches an independent reference implementation bit-for-bit " +
    "(round-15 seed-constant hoist)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // Reference reimplements the spec'd kernel from its published constants
    // (FNV-1a + fmix64 shingle hash; fmix64 of h xor 0x9e3779b97f4a7c15L*(seed+1))
    // WITHOUT the production code's hoisted seed table — any drift in the
    // hot-loop restructure breaks equality here.
    def fmix(v: Long): Long = {
      var x = v
      x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
      x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
      x ^= x >>> 33
      x
    }
    def refHashNgram(t: String, start: Int, n: Int): Long = {
      var h = 0xcbf29ce484222325L
      var i = start
      while (i < start + n) { h ^= t.charAt(i); h *= 0x100000001b3L; i += 1 }
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
      h
    }
    def refSig(t: String, shingleSize: Int, numHashes: Int): Seq[Long] = {
      val sig = Array.fill(numHashes)(Long.MaxValue)
      val (count, width) =
        if (t.length < shingleSize) (1, t.length) else (t.length - shingleSize + 1, shingleSize)
      for (i <- 0 until count; j <- 0 until numHashes) {
        val v = fmix(refHashNgram(t, i, width) ^ (0x9e3779b97f4a7c15L * (j + 1)))
        if (v < sig(j)) sig(j) = v
      }
      sig.toSeq
    }
    val rnd = new scala.util.Random(42)
    val texts = Seq("", "a", "abcd", "the quick brown fox jumps over the lazy dog",
      "中文数据处理系统中文数据处理", "aaaaaaaaaaaaaaaaaaaa") ++
      (1 to 20).map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(400)).mkString)
    val got = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text")
      .select(col("id"), graft.operators.Dedup.minhashSignature(col("text"), 6, 128).as("sig"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i) == refSig(t, 6, 128), s"signature drift on text #$i (${t.take(30)}…)")
    }
  }

  test("entropy matches independent computation") {
    import org.apache.spark.sql.functions.col
    val gen = for {
      n <- Gen.choose(1, 150)
      card <- Gen.choose(1, 8)
      vals <- Gen.listOfN(n, Gen.choose(0, card - 1))
    } yield vals
    forAll(gen) { vals =>
      import spark.implicits._
      val df = vals.map(v => s"v$v").toDF("c")
      val got = Metrics.entropy(df, "c").head().getDouble(0)
      val counts = vals.groupBy(identity).values.map(_.size.toDouble)
      val total = vals.size.toDouble
      val expected = -counts.map(c => (c / total) * math.log(c / total)).sum
      assert(math.abs(got - expected) < 1e-6, s"$got vs $expected for n=${vals.size}")
    }
  }

  test("mutual information matches independent computation") {
    val gen = for {
      n <- Gen.choose(5, 150)
      kx <- Gen.choose(1, 4)
      ky <- Gen.choose(1, 4)
      pairs <- Gen.listOfN(n, for {
        x <- Gen.choose(0, kx); y <- Gen.choose(0, ky)
      } yield (s"x$x", s"y$y"))
    } yield pairs
    forAll(gen) { pairs =>
      import spark.implicits._
      val df = pairs.toDF("a", "b")
      val got = Metrics.mutualInformation(df, "a", "b").head().getDouble(0)
      val n = pairs.size.toDouble
      val joint = pairs.groupBy(identity).view.mapValues(_.size / n)
      val px = pairs.groupBy(_._1).view.mapValues(_.size / n)
      val py = pairs.groupBy(_._2).view.mapValues(_.size / n)
      val expected = joint.map { case ((x, y), pxy) =>
        pxy * math.log(pxy / (px(x) * py(y)))
      }.sum
      assert(math.abs(got - expected) < 1e-6, s"$got vs $expected n=${pairs.size}")
    }
  }

  test("numeric histogram matches independent equal-width bucketing") {
    import org.apache.spark.sql.functions.col
    val gen = for {
      n <- Gen.choose(2, 200)
      lo <- Gen.choose(-500, 500)
      span <- Gen.choose(1, 1000)
      vals <- Gen.listOfN(n, Gen.choose(0, span).map(v => (lo + v).toDouble))
      buckets <- Gen.choose(2, 12)
    } yield (vals, buckets)
    forAll(gen) { case (vals, nb) =>
      import spark.implicits._
      val df = vals.toDF("v")
      val got = Metrics.numericHistogram(df, "v", nb)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      val mn = vals.min
      val mx = vals.max
      val width = if (mx > mn) (mx - mn) / nb else 1.0
      val expected = vals
        .groupBy(v => math.min(math.floor((v - mn) / width).toLong, (nb - 1).toLong))
        .map { case (b, vs) => b -> vs.size.toLong }
      assert(got == expected, s"n=${vals.size} nb=$nb")
      assert(got.values.sum == vals.size.toLong) // every value lands in exactly one bucket
    }
  }

  test("star contraction equals driver union-find on random graphs") {
    import org.apache.spark.sql.functions.col
    val graphGen = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(0, 60)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0, n - 1); b <- Gen.choose(0, n - 1)
      } yield (a.toLong, b.toLong))
    } yield (n, edges.filter { case (a, b) => a != b })
    (1 to 4).foreach { i =>
      val (n, edges) = graphGen.apply(Gen.Parameters.default, Seed(7000L + i))
        .getOrElse(sys.error("gen failed"))
      import spark.implicits._
      val ids = (0 until n).map(_.toLong).toDF("id")
      val pairs = if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("id_a", "id_b")
        else edges.toDF("id_a", "id_b")
      val viaUnionFind = graft.operators.Dedup.clustersFromPairs(ids, pairs, "id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaStars = graft.operators.Dedup.clustersFromPairs(ids, pairs, "id", smallGraphEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaStars == viaUnionFind, s"case $i: n=$n edges=${edges.size}")
    }
  }

  test("theta set algebra matches exact set arithmetic on random sets (exact mode)") {
    import spark.implicits._
    import graft.functions.SketchFunctions._
    import org.apache.spark.sql.functions.{col, when}
    val rng = new scala.util.Random(41)
    (1 to 5).foreach { trial =>
      // Random subsets of a 3000-element universe: well under 2^14, so every
      // estimate must EQUAL the exact set arithmetic — a property, not a tolerance.
      val a = (0 until 3000).filter(_ => rng.nextDouble() < 0.4).map(i => s"e$i").toSet
      val b = (0 until 3000).filter(_ => rng.nextDouble() < 0.3).map(i => s"e$i").toSet
      val df = (a.toSeq.map((_, true)) ++ b.toSeq.map((_, false))).toDF("v", "ina")
        .repartition(1 + trial)
      val r = df.agg(
          thetaSketch(when(col("ina"), col("v"))).as("ska"),
          thetaSketch(when(!col("ina"), col("v"))).as("skb"))
        .select(
          thetaEstimate(col("ska")), thetaEstimate(col("skb")),
          thetaIntersectionEstimate(col("ska"), col("skb")),
          thetaUnionEstimate(col("ska"), col("skb")),
          thetaDifferenceEstimate(col("ska"), col("skb")),
          thetaIntersectionEstimate(col("skb"), col("ska")),
          thetaUnionEstimate(col("skb"), col("ska"))).head()
      assert(r.getDouble(0) == a.size.toDouble && r.getDouble(1) == b.size.toDouble)
      assert(r.getDouble(2) == (a & b).size.toDouble, s"trial $trial intersection")
      assert(r.getDouble(3) == (a | b).size.toDouble, s"trial $trial union")
      assert(r.getDouble(4) == (a -- b).size.toDouble, s"trial $trial difference")
      // Commutativity of the symmetric ops.
      assert(r.getDouble(5) == r.getDouble(2) && r.getDouble(6) == r.getDouble(3))
    }
  }

  test("budget selection equals the naive prefix definition over randomized corpora") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Sharding
    (1 to 6).foreach { trial =>
      val rng = new scala.util.Random(100 + trial)
      val n = 300 + rng.nextInt(700)
      // Scores from a SMALL discrete set (heavy ties at partition boundaries),
      // weights with zeros and occasional NULLs, varying partitioning per trial.
      val rows = (0 until n).map { i =>
        (i.toLong,
          if (rng.nextInt(10) == 0) None else Some(rng.nextInt(5).toDouble),
          if (rng.nextInt(12) == 0) None else Some(rng.nextInt(9).toLong),
          s"g${rng.nextInt(4)}")
      }
      val df = rows.toDF("id", "q", "w", "g").repartition(1 + rng.nextInt(13))
      val budget = 1L + rng.nextInt(1500).toLong
      val got = Sharding.selectTopByBudget(df, "q", "w", "id", budget, "cum")
        .select("id", "cum").as[(Long, Long)].collect().toMap
      val expect = rows.filter(_._2.isDefined)
        .sortBy { case (id, q, _, _) => (-q.get, id) }
        .scanLeft((-1L, 0L)) { case ((_, acc), (id, _, w, _)) => (id, acc + w.getOrElse(0L)) }
        .drop(1).takeWhile(_._2 <= budget).toMap
      assert(got == expect, s"trial $trial (n=$n, budget=$budget) global mismatch")
      val gotG = Sharding.selectTopByBudgetByGroup(df, "g", "q", "w", "id", budget, "cum")
        .select("id", "cum").as[(Long, Long)].collect().toMap
      val expectG = rows.filter(_._2.isDefined).groupBy(_._4).values.flatMap { grp =>
        grp.sortBy { case (id, q, _, _) => (-q.get, id) }
          .scanLeft((-1L, 0L)) { case ((_, acc), (id, _, w, _)) => (id, acc + w.getOrElse(0L)) }
          .drop(1).takeWhile(_._2 <= budget)
      }.toMap
      assert(gotG == expectG, s"trial $trial (n=$n, budget=$budget) per-group mismatch")
    }
  }

  test("z-score anomaliesAt equals detect's anomalies at that timestamp on random series") {
    import graft.analyzers.{AnomalyDetectionRunner, ZScoreStrategy}
    import graft.repository.{InMemoryMetricsRepository, ResultKey}
    val rnd = new scala.util.Random(17)
    val nonFinite = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val verdicts = (1 to 2000).map { c =>
      // short series (below minHistory), constant ones (sd = 0), non-finite values and
      // runs of points at one timestamp, the latest included
      val base = rnd.nextGaussian() * 10
      val timestamps = (1 to rnd.nextInt(16)).scanLeft(0L)((t, _) => t + rnd.nextInt(3)).tail
      val series = timestamps.map { ts =>
        ts -> (if (c % 5 == 0) base
          else if (rnd.nextInt(8) == 0) nonFinite(rnd.nextInt(3))
          else base + rnd.nextGaussian() * (if (rnd.nextInt(6) == 0) 50 else 1))
      }
      val z = ZScoreStrategy(threshold = Seq(1.0, 2.0, 3.0)(rnd.nextInt(3)), minHistory = rnd.nextInt(5))
      // the latest timestamp, a random one and one the series does not carry
      val picked = series.lift(rnd.nextInt(series.size max 1)).map(_._1)
      (series.lastOption.map(_._1).toSeq ++ picked :+ -1L).foreach { ts =>
        assert(z.anomaliesAt(series, ts) == z.detect(series).filter(_.timestamp == ts), s"$z at $ts on $series")
      }
      def expected(h: Seq[(Long, Double)]) =
        h.lastOption.exists { case (ts, _) => z.detect(h).exists(_.timestamp == ts) }
      // through the runner: points at one timestamp are runs under different tag sets
      val repo = new InMemoryMetricsRepository
      series.zipWithIndex.foreach { case ((ts, v), i) => repo.save(ResultKey(ts, Map("i" -> s"$i")), Map("m" -> v)) }
      val verdict = new AnomalyDetectionRunner(repo, Map("m" -> z)).isLatestAnomalous("m")
      assert(verdict == expected(repo.history("m")), s"$z on ${repo.history("m")}")
      verdict
    }
    assert(verdicts.count(identity) > 50 && verdicts.count(!_) > 50)
  }

  test("empty input: aggregate constraints skip, size succeeds at zero") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Option[Double])].toDF("id", "v")
    assert(SizeConstraint(Assertion.Equals(0)).evaluate(empty).isSuccess)
    assert(CompletenessConstraint("v", Assertion.Equals(1.0)).evaluate(empty).status == ConstraintStatus.Skipped)
    assert(StatisticConstraint("v", Stat.Mean, Assertion.Equals(0)).evaluate(empty).status == ConstraintStatus.Skipped)
    assert(UniquenessConstraint(Seq("v")).evaluate(empty).status == ConstraintStatus.Skipped)
  }

  test("container parsers never throw: random bytes, mutated valid containers, round-trips") {
    import graft.operators.Multimodal.MediaCodecs
    // These run inside executor UDFs over 100 TB of untrusted blobs: ONE uncaught
    // exception in a parser kills a task and, with retries, the job. The contract
    // is (None/"bin"/…), never a throw — the hostile-largesize crash the round-9
    // code review caught is exactly this class.
    def mustNotThrow(bytes: Array[Byte], label: String): Unit =
      try {
        MediaCodecs.decodeMeta(bytes)
        MediaCodecs.mp4Meta(bytes); MediaCodecs.mkvMeta(bytes); MediaCodecs.aviMeta(bytes)
        MediaCodecs.gifDurationMs(bytes); MediaCodecs.wavDurationMs(bytes)
        MediaCodecs.flacMeta(bytes); MediaCodecs.mp3Meta(bytes); MediaCodecs.oggMeta(bytes)
        graft.operators.Warc.records(bytes, maxRecords = 64)
        MediaCodecs.gifFrames(bytes, 1, 4)
        MediaCodecs.sampleFrames(bytes, 2, 4)
        MediaCodecs.perceptualHash(bytes); MediaCodecs.audioHash(bytes)
        ()
      } catch {
        case scala.util.control.NonFatal(e) =>
          fail(s"parser threw on $label: ${e.getClass.getName}: ${e.getMessage}")
      }
    val valid: Seq[Array[Byte]] = Seq(
      MediaCodecs.encodeMp4Meta(2500L, 320, 180),
      MediaCodecs.encodeMkvMeta(2500L, 320, 180),
      MediaCodecs.encodeAviMeta(2500L, 320, 180),
      MediaCodecs.encodeAnimatedGif(9, 7, 3, 5L, delayCs = 25),
      MediaCodecs.encodeWavPcm(8000, Array.tabulate(512)(_.toByte)),
      MediaCodecs.encodeNoiseImage(16, 12, "png", 3L),
      MediaCodecs.encodeFlacMeta(2500L),
      MediaCodecs.encodeMp3Cbr(25, id3Pad = 40),
      MediaCodecs.encodeOggMeta(2500L),
      MediaCodecs.encodeOggMeta(2500L, opus = true),
      graft.operators.Warc.encodeWarc(Seq(graft.operators.Warc.encodeResponseRecord(
        "https://example.com/x", "2026-01-01T00:00:00Z", "<urn:uuid:x>", 200,
        "text/plain", "hello fuzz".getBytes("ISO-8859-1"))), gzip = true),
      graft.operators.Warc.encodeWarcZstd(Seq(graft.operators.Warc.encodeResponseRecord(
        "https://example.com/z", "2026-01-01T00:00:00Z", "<urn:uuid:z>", 200,
        "text/plain", "hello zstd".getBytes("ISO-8859-1")))))
    // exact round-trips for the metadata skeletons
    assert(MediaCodecs.mp4Meta(valid(0)) == (Some(2500L), Some((320, 180))))
    assert(MediaCodecs.mkvMeta(valid(1)) == (Some(2500L), Some((320, 180))))
    assert(MediaCodecs.aviMeta(valid(2)) == (Some(2500L), Some((320, 180))))
    forAll(Gen.choose(1L, 1000000L)) { seed =>
      val rnd = new scala.util.Random(seed)
      // pure random bytes (often sniffed "bin", sometimes lucky magic prefixes)
      val junk = new Array[Byte](rnd.nextInt(600) + 1)
      rnd.nextBytes(junk)
      mustNotThrow(junk, s"random[$seed]")
      // a valid container with random point mutations and a random truncation —
      // the hostile class: valid magic, corrupt structure
      for ((v, vi) <- valid.zipWithIndex) {
        val mut = v.clone()
        (1 to 8).foreach(_ => mut(rnd.nextInt(mut.length)) = rnd.nextInt(256).toByte)
        mustNotThrow(mut, s"mutated[$vi, seed=$seed]")
        mustNotThrow(mut.take(rnd.nextInt(mut.length) + 1), s"truncated[$vi, seed=$seed]")
      }
      // random bytes behind each REAL magic prefix: parser walks garbage structure
      val magics = Seq(
        Array[Byte](0, 0, 0, 16) ++ "ftypisom".getBytes("ISO-8859-1"),
        Array(0x1A.toByte, 0x45.toByte, 0xDF.toByte, 0xA3.toByte),
        "RIFF1234AVI ".getBytes("ISO-8859-1"),
        "RIFF1234WAVE".getBytes("ISO-8859-1"),
        "GIF89a".getBytes("ISO-8859-1"),
        "fLaC".getBytes("ISO-8859-1"),
        "OggS".getBytes("ISO-8859-1"),
        "ID3".getBytes("ISO-8859-1"),
        Array(0xFF.toByte, 0xE3.toByte, 0x18.toByte, 0xC0.toByte),
        "WARC/1.0\r\nContent-Length: 9\r\n\r\n".getBytes("ISO-8859-1"),
        Array(0x1F.toByte, 0x8B.toByte, 0x08.toByte, 0x00.toByte),
        Array(0x28.toByte, 0xB5.toByte, 0x2F.toByte, 0xFD.toByte))
      magics.foreach { m =>
        val tail = new Array[Byte](rnd.nextInt(300))
        rnd.nextBytes(tail)
        mustNotThrow(m ++ tail, s"magic+junk[${new String(m.take(4), "ISO-8859-1")}, seed=$seed]")
      }
    }
  }

  test("charset decode chain is total and honest on randomized input") {
    import graft.operators.Warc
    val utf8Payload = "日本 test page".getBytes("UTF-8")
    val bom = Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ utf8Payload
    forAll(Gen.choose(1L, 1000000L)) { seed =>
      val rnd = new scala.util.Random(seed)
      val bytes = new Array[Byte](rnd.nextInt(400) + 1)
      rnd.nextBytes(bytes)
      // random bytes x random/hostile content types: total, and the result is
      // always an honest triple (non-null text, named charset, assumed flag)
      val cts = Seq(null, "", "text/html", "text/html; charset=utf-8",
        "text/html; charset=shift_jis", "text/html; charset==;;\"",
        s"text/html; charset=${rnd.nextString(6)}",
        s"text/plain; charset=x-${rnd.nextInt(1000)}")
      for (ct <- cts) {
        val d = Warc.decodeText(bytes, Option(ct))
        assert(d.text != null && d.charset.nonEmpty)
        // the windows-1252 fallback is single-byte: length-preserving modulo a
        // stripped lying UTF-8 BOM (3 bytes of declaration artifact, by
        // design), so no CONTENT is ever silently dropped on this path
        val bomLen = if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xEF &&
          (bytes(1) & 0xff) == 0xBB && (bytes(2) & 0xff) == 0xBF) 3 else 0
        if (d.charset == "windows-1252" && d.charset_assumed)
          assert(d.text.length == bytes.length - bomLen)
      }
      // a UTF-8 BOM beats ANY header label and is stripped from the text
      val d = Warc.decodeText(bom, Some(s"text/plain; charset=label${rnd.nextInt(100)}"))
      assert(d.text == "日本 test page" && d.charset == "utf-8" && !d.charset_assumed)
      // declared-but-garbage labels fall through the chain, never throw; pure
      // ASCII always survives byte-identical whatever the label says
      val ascii = ("plain ascii " + rnd.nextInt(1000)).getBytes("ISO-8859-1")
      val a = Warc.decodeText(ascii, Some(s"text/html; charset=${rnd.nextString(4)}"))
      assert(a.text == new String(ascii, "ISO-8859-1"))
    }
  }

  test("html kernel is total and whitespace-canonical on randomized input") {
    import org.apache.spark.unsafe.types.UTF8String
    def run(s: String): (String, String) = {
      val row = graft.functions.HtmlKernel.extract(UTF8String.fromString(s))
      (if (row.isNullAt(0)) null else row.getUTF8String(0).toString,
        row.getUTF8String(1).toString)
    }
    def runMain(s: String): String = graft.functions.HtmlKernel
      .extractMain(UTF8String.fromString(s)).getUTF8String(1).toString
    val frag = Seq("<p>", "</p>", "<div class=\"x\">", "&amp;", "&#65;", "&bogus;",
      "plain words here", "<script>var x='<p>';</script>", "<!--", "-->", "&",
      "<title>t</title>", "< 5", "<![CDATA[z]]>", "\n\n", "  ", "<td>", "&#x",
      "<b>bold</b>", "</", "<", ">", "é中文", "<a href=\"/x\">link text</a>", "</a>")
    forAll(Gen.choose(1L, 1000000L)) { seed =>
      val rnd = new scala.util.Random(seed)
      // random fragment soup: every structural edge adjacent to every other
      val soup = (0 until rnd.nextInt(40) + 1)
        .map(_ => frag(rnd.nextInt(frag.length))).mkString
      val (_, text) = run(soup) // must not throw
      // normalization invariants: no space runs, no newline runs, trimmed edges
      assert(!text.contains("  ") && !text.contains("\n\n") &&
        !text.contains(" \n") && !text.contains("\n ") && text.trim == text,
        s"non-canonical whitespace for seed $seed: <$text>")
      // main-content extraction: total, and its lines are an in-order
      // SUBSEQUENCE of the full extraction's lines (blocks are only ever
      // dropped by the density filter, never altered or reordered)
      val main = runMain(soup)
      val fullLines = text.split("\n", -1).iterator
      assert(main.isEmpty || main.split("\n", -1).forall(l => fullLines.contains(l)),
        s"main lines not a subsequence for seed $seed: <$main> vs <$text>")
      // pure random chars (may contain < & >): total, canonical
      val junk = new String(Array.fill(rnd.nextInt(300) + 1)(
        (rnd.nextInt(0xD7FF) + 1).toChar))
      run(junk)
      runMain(junk)
      // tag-free, entity-free plain text passes through modulo whitespace —
      // and anchor-free input is NEVER filtered (extractMain == extract)
      val words = (0 until rnd.nextInt(10) + 1)
        .map(_ => "w" + rnd.nextInt(100)).mkString("  ")
      assert(run(words)._2 == words.replaceAll(" +", " ").trim)
      assert(runMain(words) == run(words)._2)
    }
  }

  test("audio container metadata round-trips exactly for randomized parameters") {
    import graft.operators.Multimodal.MediaCodecs
    // 8 kHz FLAC/Vorbis and 48 kHz Opus are exact for ANY ms; each MPEG-2.5
    // Layer III frame is exactly 72 ms regardless of frame count or ID3 padding
    forAll(Gen.choose(0L, 100000000L), Gen.choose(1, 500), Gen.choose(0, 600)) {
      (ms, k, pad) =>
        whenever(ms > 0) {
          assert(MediaCodecs.flacMeta(MediaCodecs.encodeFlacMeta(ms)).contains(ms))
          assert(MediaCodecs.oggMeta(MediaCodecs.encodeOggMeta(ms)).contains(ms))
          assert(MediaCodecs.oggMeta(MediaCodecs.encodeOggMeta(ms, opus = true)).contains(ms))
        }
        assert(MediaCodecs.mp3Meta(MediaCodecs.encodeMp3Cbr(k, id3Pad = pad))
          .contains(72L * k))
    }
    // non-divisor rates: ms -> samples -> ms loses at most the sub-sample remainder
    forAll(Gen.choose(1L, 10000000L), Gen.oneOf(16000, 22050, 44100, 48000),
      Gen.const(())) { (ms, rate, _) =>
      val flac = MediaCodecs.flacMeta(MediaCodecs.encodeFlacMeta(ms, rate)).get
      assert(flac == ms || flac == ms - 1, s"flac $ms @$rate -> $flac")
      val ogg = MediaCodecs.oggMeta(MediaCodecs.encodeOggMeta(ms, rate)).get
      assert(ogg == ms || ogg == ms - 1, s"ogg $ms @$rate -> $ogg")
    }
  }

  test("media fingerprint invariance classes hold for randomized content") {
    import graft.operators.Multimodal.MediaCodecs
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    // IMAGE: (a) true lossless TRANSCODE invariance — decode the PNG bytes and
    // re-encode as BMP through ImageIO (decoder-path, not generator-parity);
    // (b) planted distinct-seed noise pairs stay far apart (the dedup threshold
    // is 3 bits; encodeNoiseImage exists because gradients collided).
    forAll(Gen.zip(Gen.choose(1L, 1000000L), Gen.choose(12, 48), Gen.choose(12, 48))) {
      case (seed, w, h) =>
        val png = MediaCodecs.encodeNoiseImage(w, h, "png", seed)
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
        val bos = new java.io.ByteArrayOutputStream()
        require(javax.imageio.ImageIO.write(img, "bmp", bos), "no BMP writer")
        val hPng = MediaCodecs.perceptualHash(png)
        val hBmp = MediaCodecs.perceptualHash(bos.toByteArray)
        assert(hPng.nonEmpty && hPng == hBmp,
          s"lossless transcode moved the aHash (seed=$seed ${w}x$h): $hPng vs $hBmp")
        val hOther = MediaCodecs.perceptualHash(
          MediaCodecs.encodeNoiseImage(w, h, "png", seed + 7919L))
        assert(ham(hPng.get, hOther.get) >= 10,
          s"distinct noise seeds only ${ham(hPng.get, hOther.get)} bits apart (seed=$seed)")
    }
    // AUDIO: exact uniform gain (2x around the 8-bit midpoint, amplitudes kept
    // small enough that doubling cannot clip) preserves the hash EXACTLY: every
    // sample amplitude doubles exactly, RMS scales by exactly 2 (power-of-two
    // scaling commutes with IEEE rounding), so every env(i) > mean comparison is
    // unchanged. Distinct seeds stay far apart.
    forAll(Gen.choose(1L, 1000000L)) { seed =>
      def mix(z0: Long): Long = {
        var z = z0 + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      val quiet = Array.tabulate(4096) { i =>
        val amp = 4 + java.lang.Long.remainderUnsigned(mix(mix(seed) ^ (i >> 6).toLong), 56L).toInt
        val sign = if ((mix(mix(seed) ^ 0x51bfL ^ i.toLong) & 1L) == 0L) 1 else -1
        (128 + sign * amp).toByte
      }
      val gained = quiet.map(b => (128 + 2 * ((b & 0xff) - 128)).toByte)
      val h1 = MediaCodecs.audioHash(MediaCodecs.encodeWavPcm(8000, quiet))
      val h2 = MediaCodecs.audioHash(MediaCodecs.encodeWavPcm(8000, gained))
      assert(h1.nonEmpty && h1 == h2, s"uniform 2x gain moved the audio hash (seed=$seed)")
      val hOther = MediaCodecs.audioHash(MediaCodecs.encodeNoiseWav(8000, 4096, seed + 104729L))
      assert(ham(h1.get, hOther.get) >= 10,
        s"distinct audio seeds only ${ham(h1.get, hOther.get)} bits apart (seed=$seed)")
    }
  }
}
