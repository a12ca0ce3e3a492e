package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-level statistical text models for training-data curation: TF-IDF keyword
  * extraction, a bigram language model for CCNet-style perplexity/surprisal quality
  * filtering, and PMI collocation mining. These are the "train a cheap statistical
  * model ON the corpus, then score every document WITH it" family — the workhorse
  * quality signals of large-scale pretraining pipelines (beyond the reference's
  * per-row validation surface; reference quality checks are row-local only,
  * term-guard/src/constraints/format.rs, values.rs).
  *
  * 100 TB shape, shared by all three operators:
  *  - Tokenization and n-gram extraction are row-local array transforms (codegen'd,
  *    no UDFs) — one projection over the corpus scan.
  *  - Model "training" is a keyed `groupBy` over exploded grams: map-side combine
  *    collapses each distinct gram to one row per input partition before the
  *    shuffle, so shuffle volume is bounded by (partitions × vocabulary), not by
  *    corpus token count.
  *  - Scoring joins the exploded grams back to the count tables on the gram key —
  *    keyed shuffles of compact (hashable) rows. A natural-language vocabulary is
  *    Zipfian, so the gram-keyed joins are skew-prone on stopword grams; they are
  *    plain equi-joins, which AQE's skew-join splitting handles without salting.
  *  - Corpus-wide scalars (doc count, vocab size, total bigrams) are single-row
  *    frames broadcast into the scoring join, never driver-collected constants
  *    embedded in the plan (keeps the whole pipeline one lazy DAG).
  */
object CorpusStats {

  // Deliberately NO fanOut here (measured, round 14): on the tokenize-then-
  // aggregate shape a round-robin exchange of the text makes things WORSE
  // (same-JVM A/B, tfidf body: raw-scan 1.01 s vs fanned 1.89 s at sf0.1) —
  // the explode feeds map-side partial aggregation, which combines better from
  // large scan batches than from a shuffled 32-way spray, and the exchange adds
  // a sort-before-repartition pass over the payload.
  private def nonNull(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(col(idCol).isNotNull && col(textCol).isNotNull)

  /** Per-document top-`k` TF-IDF terms: `tf · (ln((N+1)/(df+1)) + 1)` with the
    * smooth-idf convention (sklearn's default — never zero, never divides by zero,
    * even for a term in every document). Output: (idCol, token, tf, df_docs, score,
    * rank), rank 1..k per doc ordered (score desc, token asc) — fully deterministic,
    * token is unique within a doc's tf table so ties cannot reorder.
    *
    * N counts distinct participating docs (non-null id AND text) — including docs
    * whose text tokenizes to nothing (whitespace-only): they are real corpus members
    * for idf purposes even though they contribute no tf rows.
    */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val base = nonNull(df, idCol, textCol)
    val toks = base.select(col(idCol).as("_id"),
      explode(TextFunctions.tokens(col(textCol))).as("token"))
    // tf feeds BOTH the scoring join and the document-frequency rollup. Measured
    // round 8 (ScratchTfidf in PLANS.md's deleted-tools index, sf0.1 + synthetic
    // 10x): eagerly materializing it (localCheckpoint) beats the two-pass re-scan
    // at BOTH scales — 1.13→0.87 s at sf0.1 and 3.04→1.42 s at 10x
    // (scan+tokenize+shuffle twice costs more than
    // one block-manager write of the (doc,token) frame; post-agg tf is also far
    // smaller than the exploded token stream). Lineage truncation is the accepted
    // trade of every localCheckpoint in this module (bigramSurprisal's counts):
    // an executor loss mid-query re-runs the query instead of recomputing blocks.
    val tf = toks.groupBy(col("_id"), col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    // df from the tf table (one row per (doc, token) already) — no second
    // distinct over the exploded frame.
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df_docs"))
    val nDocs = base.agg(countDistinct(col(idCol)).as("_n"))
    val w = Window.partitionBy(col("_id"))
      .orderBy(col("score").desc, col("token").asc)
    tf.join(dfreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf").cast("double") *
          (log((col("_n").cast("double") + 1.0) / (col("df_docs").cast("double") + 1.0)) + 1.0))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("_id").as(idCol), col("token"), col("tf"), col("df_docs"),
        col("score"), col("rank"))
  }

  /** Exploded within-doc bigrams: one row per adjacent token pair. Row-local array
    * transform (no shuffle); docs with <2 tokens contribute nothing.
    */
  private def bigrams(base: DataFrame, idCol: String, textCol: String): DataFrame =
    base.select(col(idCol).as("_id"), TextFunctions.tokens(col(textCol)).as("_t"))
      .filter(size(col("_t")) >= 2)
      .select(col("_id"), explode(transform(
        sequence(lit(1), size(col("_t")) - 1),
        i => struct(element_at(col("_t"), i).as("w1"),
          element_at(col("_t"), i + 1).as("w2")))).as("_b"))
      .select(col("_id"), col("_b.w1").as("w1"), col("_b.w2").as("w2"))

  /** Bigram-LM document scoring (CCNet-style perplexity filter, self-trained):
    * trains add-α-smoothed bigram probabilities on the corpus itself, then scores
    * every document by mean surprisal (negative log-likelihood per bigram) —
    * boilerplate and fluent text score LOW, gibberish/OCR-noise scores HIGH,
    * which is exactly the split a perplexity quality gate filters on.
    *
    * `P(w2|w1) = (c(w1,w2) + α) / (ctx(w1) + α·V)` where `ctx(w1)` is w1's count as
    * a bigram left-hand side and `V` the corpus vocabulary size (distinct tokens).
    * Output: (idCol, n_bigrams, surprisal) for every doc with ≥2 tokens.
    *
    * The model tables derive from ONE bigram explode: `ctx` is a rollup of the
    * bigram counts (vocab-sized input, not corpus-sized), and V comes from the
    * unigram distinct. Scoring re-explodes and joins on (w1,w2) then w1.
    */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String,
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"smoothing alpha must be positive, got $alpha")
    val base = nonNull(df, idCol, textCol)
    val bi = bigrams(base, idCol, textCol)
    // Eager at call time (localCheckpoint): `counts` feeds the ctx rollup AND the
    // scoring join's build side — unmaterialized, each consumer re-scans and
    // re-tokenizes the whole corpus (plan-verified: 4 file scans instead of 2).
    // The table is distinct-bigram-bounded (~30 B rows), orders of magnitude
    // smaller than the corpus it summarizes — the cheap side of the trade at any
    // scale. The corpus-sized `bi` frame deliberately stays unmaterialized and is
    // scanned twice (train + score), same trade as duplicateTokenSpans documents.
    val counts = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .localCheckpoint(true)
    val ctx = counts.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val vocab = base
      .select(explode(TextFunctions.tokens(col(textCol))).as("_tok"))
      .agg(countDistinct(col("_tok")).as("_v"))
    bi.join(counts, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("_lp", log(
        (col("c12").cast("double") + alpha) /
          (col("c1").cast("double") + lit(alpha) * col("_v").cast("double"))))
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_bigrams"), (-avg(col("_lp"))).as("surprisal"))
      .select(col("_id").as(idCol), col("n_bigrams"), col("surprisal"))
  }

  /** Top-`k` bigram collocations by frequency with pointwise mutual information:
    * `pmi = ln(c12 · N / (left(w1) · right(w2)))` over pairs seen ≥ `minCount`
    * times. High-count high-PMI pairs are multiword expressions ("new york");
    * high-count LOW-PMI pairs are stopword noise — the standard collocation screen.
    * Deterministic order: (c12 desc, w1 asc, w2 asc).
    */
  def collocationsPmi(df: DataFrame, idCol: String, textCol: String, k: Int,
      minCount: Long = 2L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val bi = bigrams(nonNull(df, idCol, textCol), idCol, textCol)
    // Eager once (localCheckpoint): left/right/total are all rollups of `counts` —
    // unmaterialized they each re-scan and re-tokenize the corpus (4 scans for one
    // logical pass). Distinct-bigram-bounded, small relative to the corpus.
    val counts = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .localCheckpoint(true)
    val left = counts.groupBy(col("w1")).agg(sum(col("c12")).as("_l"))
    val right = counts.groupBy(col("w2")).agg(sum(col("c12")).as("_r"))
    val total = counts.agg(coalesce(sum(col("c12")), lit(0L)).as("_n"))
    counts.filter(col("c12") >= minCount)
      .join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(total))
      .withColumn("pmi", log(
        col("c12").cast("double") * col("_n").cast("double") /
          (col("_l").cast("double") * col("_r").cast("double"))))
      .orderBy(col("c12").desc, col("w1").asc, col("w2").asc)
      .limit(k)
      .select(col("w1"), col("w2"), col("c12"), col("pmi"))
  }

  /** Pairwise source-similarity matrix: vocabulary Jaccard between every pair of
    * sources — the "which corpus components are linguistically close" mixture
    * diagnostic (two near-identical sources in a mixture silently double their
    * weight; a source whose vocabulary overlaps nothing is often noise). One row
    * per UNORDERED source pair that shares at least one token (zero-overlap pairs
    * are absent, not zero rows): `source_a < source_b`, `shared_tokens`,
    * `vocab_jaccard = |A∩B| / |A∪B|`. NULL source/text rows carry no identity and
    * are excluded.
    *
    * Scale: distinct (source, token) is one map-side-combined shuffle; the token
    * self-join fans each token out to at most |sources| rows (hot stopwords are
    * bounded by the source count, not the corpus); the pair rollup and size joins
    * run on |sources|²-bounded frames. Contract: sources are a BOUNDED dimension
    * (dozens-to-thousands) — this is a matrix over them, not over documents.
    */
  def sourceVocabOverlap(df: DataFrame, textCol: String, sourceCol: String): DataFrame = {
    val tok = df
      .filter(col(sourceCol).isNotNull && col(textCol).isNotNull)
      .select(col(sourceCol).as("_src"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("_tok"))
      .distinct()
    val sizes = tok.groupBy(col("_src")).agg(count(lit(1)).as("_n"))
    val a = tok.select(col("_tok"), col("_src").as("source_a"))
    val b = tok.select(col("_tok"), col("_src").as("source_b"))
    a.join(b, Seq("_tok")).filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared_tokens"))
      .join(sizes.select(col("_src").as("source_a"), col("_n").as("_na")), Seq("source_a"))
      .join(sizes.select(col("_src").as("source_b"), col("_n").as("_nb")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared_tokens"),
        (col("shared_tokens").cast("double") /
          (col("_na") + col("_nb") - col("shared_tokens")).cast("double"))
          .as("vocab_jaccard"))
  }

  /** Sketch-based [[sourceVocabOverlap]]: per-source theta sketches in ONE corpus
    * pass (the sketch dedups internally — no distinct materialization of the
    * (source, token) domain at all), then every pairwise overlap is SET ALGEBRA on
    * ~100 KiB binaries. The exact version's cost is a distinct + a token-keyed
    * self-join that grows with vocabulary × source-overlap; this one's corpus cost
    * is one map-side-combined aggregation whose shuffle carries one sketch per
    * (task × source), and the pairwise stage touches `sources²` sketch rows,
    * never the corpus. Below 2^lgK distinct tokens per source the sketches are in
    * exact mode and the estimates ARE the exact matrix.
    *
    * Sources are mixture components (10s–1000s) — `maxSources` fails loud before
    * the quadratic pairing, same contract as `interleaveBySource`. Pairs where
    * both vocabularies are empty report NULL jaccard (0/0 is no overlap
    * statement, not zero overlap). Unlike the exact operator (whose token join
    * only SURFACES overlapping pairs), this emits the FULL matrix — zero-overlap
    * pairs appear with `shared_est` 0, which is usually what a mixture diagnostic
    * wants to see.
    */
  def sourceVocabOverlapSketch(df: DataFrame, textCol: String, sourceCol: String,
      lgK: Int = 14, maxSources: Int = 10000): DataFrame = {
    import graft.functions.SketchFunctions._
    // localCheckpoint: the sketch frame is BOUNDED (one ~100 KiB row per source),
    // and both the guard count and the pairwise join read it — without pinning it,
    // each action would re-run the corpus-scale aggregation.
    val sk = df
      .filter(col(sourceCol).isNotNull && col(textCol).isNotNull)
      .select(col(sourceCol).as("_src"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("_tok"))
      .groupBy(col("_src"))
      .agg(thetaSketch(col("_tok"), lgK).as("_sk"))
      .localCheckpoint(true)
    val n = sk.count()
    require(n <= maxSources,
      s"sourceVocabOverlapSketch saw $n distinct sources (> maxSources=$maxSources); " +
        "this operator is for mixture-component granularity — bucket the source key first")
    // Per-source estimates are computed ONCE per source row (heapifying a ~100 KiB
    // binary per call), BEFORE the sources² pairing; the pairwise stage then
    // evaluates intersection/union once each per pair and derives the jaccard from
    // those columns — not re-evaluating the set ops inside the division.
    val est = sk.withColumn("_est", thetaEstimate(col("_sk")))
    val a = est.select(col("_src").as("source_a"), col("_sk").as("_ska"),
      col("_est").as("distinct_a"))
    val b = est.select(col("_src").as("source_b"), col("_sk").as("_skb"),
      col("_est").as("distinct_b"))
    a.join(b, col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), col("distinct_a"), col("distinct_b"),
        thetaIntersectionEstimate(col("_ska"), col("_skb")).as("shared_est"),
        thetaUnionEstimate(col("_ska"), col("_skb")).as("_uni"))
      .withColumn("vocab_jaccard_est",
        when(col("_uni") > 0.0, col("shared_est") / col("_uni")))
      .drop("_uni")
  }

  /** Zipf-law fit over the top-`topK` vocabulary: the OLS slope of `ln(freq)` on
    * `ln(rank)` — natural language sits near −1; a corpus drifting toward template
    * spam (too steep: a few boilerplate tokens dominate) or toward noise/ID soup
    * (too flat: no head at all) moves the slope, making it a cheap one-number
    * corpus-health signal alongside `Metrics.vocabTopK`'s inspectable head.
    *
    * Fit over the top-K only (the standard practice): the count-1 tail is
    * quantization noise, not signal. Ranking ties (equal counts) don't disturb the
    * fit — tied tokens share `y`, so which tie takes which rank permutes identical
    * points — but the top-K CUT is tie-broken deterministically (count desc, token
    * asc) so any re-derivation ranks the same set. Slope is NULL below 2 ranked
    * tokens (no line through one point).
    *
    * Scale: one token-keyed count shuffle (map-side combined), a TakeOrdered top-K
    * (no global sort), then the regression runs over ≤ K rows — the single-task
    * window is bounded by K, never by the corpus.
    */
  def zipfSlope(df: DataFrame, textCol: String, topK: Int = 500): DataFrame = {
    require(topK >= 2, s"topK must be at least 2, got $topK")
    val top = df
      .select(explode(graft.functions.TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("occ"))
      .orderBy(col("occ").desc, col("token").asc)
      .limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("occ").desc, col("token").asc)
    val xy = top.withColumn("_r", row_number().over(w))
      .select(log(col("_r").cast("double")).as("_x"),
        log(col("occ").cast("double")).as("_y"))
    xy.agg(
      count(lit(1)).as("n_ranked"),
      when(count(lit(1)) >= 2 && var_pop(col("_x")) > 0,
        covar_pop(col("_x"), col("_y")) / var_pop(col("_x"))).as("zipf_slope"))
  }

  /** One-call corpus DATA CARD: the single summary row a dataset release ships —
    * volume (docs, null-text rows, token mass, mean and exact-median tokens/doc),
    * quality (mean heuristic score, Gopher keep fraction), and composition
    * (language count + entropy, source count + largest-source share). Every number
    * reuses a proven formulation: token counts and quality/Gopher kernels ride one
    * codegen'd aggregation scan; the language/source mixes are two cardinality-
    * bounded groupBys; the median runs through the exact sketch+bracket quantile
    * operator. Honest cost: the quantile jobs execute EAGERLY at call time (the
    * exact median is a driver-side value, not a plan node), so the whole card is
    * ~4-5 corpus scans the moment this returns — call it once per release, cache
    * the input if the corpus read is expensive, and don't build cards
    * speculatively. NULL langs/sources are excluded from
    * their mixes (unattributed, same convention as [[graft.Metrics.entropy]]);
    * NULL-text docs are counted, carry no tokens, and get no quality opinion.
    * Empty corpus: zeros for counts, NULL for every statistic.
    */
  def corpusReport(df: DataFrame, textCol: String = "text", langCol: String = "lang",
      sourceCol: String = "source"): DataFrame = {
    val w = TextFunctions.tokenCount(col(textCol)).cast("long")
    // qualityScore deliberately scores NULL text like empty text (the kernel's
    // nullScore — a filter wants a verdict on every row); the CARD's mean is over
    // docs that HAVE text, so the no-opinion convention is applied here explicitly.
    val q = when(col(textCol).isNotNull, TextFunctions.qualityScore(col(textCol)))
    val keep = TextFunctions.gopherFlags(col(textCol)).getField("keep")
    val main = df.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(when(col(textCol).isNull, 1L).otherwise(0L)), lit(0L)).as("n_null_text"),
      coalesce(sum(w), lit(0L)).as("tokens_total"),
      avg(w).as("tokens_mean"),
      avg(q).as("quality_mean"),
      avg(keep.cast("double")).as("gopher_keep_frac"))
    val p50 = graft.operators.Quantiles
      .exactQuantiles(df.select(w.as("_w")), "_w", Seq(0.5)).map(_.head)
    val langs = df.filter(col(langCol).isNotNull)
      .groupBy(col(langCol)).agg(count(lit(1)).as("_c"))
      .agg(count(lit(1)).as("n_langs"), sum(col("_c")).as("_n"),
        sum(col("_c") * log(col("_c"))).as("_s"))
      .select(col("n_langs"),
        (log(col("_n")) - col("_s") / col("_n")).as("lang_entropy"))
    val sources = df.filter(col(sourceCol).isNotNull)
      .groupBy(col(sourceCol)).agg(count(lit(1)).as("_c"))
      .agg(count(lit(1)).as("n_sources"), max(col("_c")).as("_top"), sum(col("_c")).as("_tot"))
      .select(col("n_sources"),
        when(col("_tot") > 0, col("_top").cast("double") / col("_tot"))
          .as("top_source_share"))
    main
      .withColumn("tokens_p50", lit(p50.orNull).cast("double"))
      .crossJoin(langs).crossJoin(sources)
  }
}
