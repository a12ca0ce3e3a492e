package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — one projection + a driver-side top-k
  * (TakeOrdered), no shuffle of the corpus. Scale path: hyperplane-LSH bucketing (probe
  * touches only matching buckets — partition-prunable when the corpus is written
  * bucketed) and an IVF variant with explicit centroids.
  */
object Similarity {

  /** Cosine of a vector column against a fixed probe vector (computed in double).
    * A native codegen'd Catalyst expression ([[graft.functions.CosineToProbe]]): one
    * fused loop reading the unsafe float array in place — no per-element interpreted
    * lambdas (`zip_with`/`aggregate` are CodegenFallback) and no UDF boxing of every
    * row's array. This is the hot inner loop of a 100 TB brute-force ANN scan.
    */
  def cosineToProbe(vec: Column, probe: Seq[Float]): Column =
    graft.functions.VectorFunctions.cosineToProbe(vec, probe)

  /** The ONE ranking shape all four top-k entry points share: score, drop unrankable
    * rows, TakeOrdered k. Null embeddings (null cosine) and zero-norm vectors (NaN
    * cosine) are EXCLUDED — under a descending sort Spark ranks NaN above every real
    * double, so a single all-zeros embedding would otherwise occupy the top of every
    * result; and dropping them on every path keeps the exhaustive-IVF == brute-force
    * equality exact even when k exceeds the rankable row count.
    */
  private def topKByCosine(df: DataFrame, idCol: String, vecCol: String,
      probe: Seq[Float], k: Int): DataFrame = {
    val scored = df.select(col(idCol), cosineToProbe(col(vecCol), probe).as("cosine"))
    scored.filter(col("cosine").isNotNull && !isnan(col("cosine")))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Exact top-k by cosine. The plan is scan → project → TakeOrderedAndProject:
    * no shuffle, k rows to the driver. Null/zero-norm vectors are excluded (see
    * [[topKByCosine]]).
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      probe: Seq[Float], k: Int): DataFrame =
    topKByCosine(df, idCol, vecCol, probe, k)

  /** LSH-bucketed ANN: only rows in the probe's hyperplane bucket (and optionally
    * neighboring buckets within `multiProbeBits` sign flips) are scored. Pass
    * `bucketCol` to filter on a PRE-BUCKETED column ([[bucketedCorpus]], ideally
    * persisted partitioned/bucketed by it) so the filter can prune at the storage
    * layer — recomputing the bucket via the kernel (the default) scans and hashes the
    * whole corpus and can never prune the scan.
    */
  def annTopK(df: DataFrame, idCol: String, vecCol: String, probe: Seq[Float], k: Int,
      planes: Int = 8, seed: Long = 42L, multiProbeBits: Int = 1,
      bucketCol: Option[String] = None): DataFrame = {
    val dim = probe.size
    val probeBucket = bucketOf(probe, planes, seed)
    // multi-probe: the probe bucket plus all buckets within `multiProbeBits` bit flips.
    val buckets = multiProbe(probeBucket, planes, multiProbeBits)
    val candidates = bucketCol match {
      case Some(bc) => df.filter(col(bc).isin(buckets: _*))
      case None =>
        df.withColumn("_bucket", Dedup.hyperplaneBucket(col(vecCol), dim, planes, seed))
          .filter(col("_bucket").isin(buckets: _*))
    }
    topKByCosine(candidates, idCol, vecCol, probe, k)
  }

  /** Pre-bucket a corpus for ANN reads: adds the bucket column and (optionally) writes
    * bucketBy so future probes prune partitions instead of scanning the corpus.
    */
  def bucketedCorpus(df: DataFrame, vecCol: String, dim: Int, planes: Int = 8,
      seed: Long = 42L, out: String = "bucket"): DataFrame =
    df.withColumn(out, Dedup.hyperplaneBucket(col(vecCol), dim, planes, seed))

  /** Driver-side bucket id for the probe — delegates to the SAME plane generation and
    * sign packing the executor-side [[Dedup.hyperplaneBucket]] uses (one shared
    * implementation, so the two sides cannot silently desynchronize).
    */
  def bucketOf(vec: Seq[Float], planes: Int, seed: Long = 42L): Long =
    Dedup.bucketFor(vec.map(java.lang.Float.valueOf), vec.size,
      Dedup.planesFor(vec.size, planes, seed))

  private def multiProbe(bucket: Long, planes: Int, flips: Int): Seq[Long] = {
    require(flips <= 2,
      s"multiProbeBits=$flips not supported: only 0-, 1- and 2-flip neighborhoods are " +
        "enumerated — a larger value would silently probe fewer buckets than promised")
    val base = Seq(bucket)
    val oneFlip = if (flips >= 1) (0 until planes).map(b => bucket ^ (1L << b)) else Nil
    val twoFlip = if (flips >= 2)
      for (i <- 0 until planes; j <- (i + 1) until planes) yield bucket ^ (1L << i) ^ (1L << j)
    else Nil
    (base ++ oneFlip ++ twoFlip).distinct
  }

  /** IVF (inverted-file) assignment: nearest centroid id per row. Centroids are a small
    * driver-side list (e.g. from a KMeans sample); assignment is row-local (one UDF
    * pass over all centroids); probes scan only their centroid's partition.
    * Ties break to the higher cell id (matching lexicographic max on (score, cell)).
    */
  def ivfAssign(df: DataFrame, vecCol: String, centroids: Seq[Seq[Float]],
      out: String = "ivf_cell"): DataFrame = {
    require(centroids.nonEmpty,
      "IVF needs at least one centroid (empty centroids would assign every row to cell 0)")
    require(centroids.map(_.length).distinct.size == 1,
      s"IVF centroids have mixed dimensions: ${centroids.map(_.length).distinct.sorted}")
    val cs = centroids.map(_.map(_.toDouble).toArray).toArray
    val norms = cs.map(c => math.sqrt(c.map(v => v * v).sum))
    val dim = cs(0).length
    val f = udf { (v: Seq[java.lang.Float]) =>
      if (v == null) null.asInstanceOf[java.lang.Integer]
      else {
        // Fail loud on a dimension mismatch (same rule as Dedup.bucketFor): scoring a
        // PREFIX would assign rows to prefix-derived cells and every probe would see
        // silently degraded recall with no error anywhere.
        require(v.length == dim,
          s"embedding length ${v.length} != centroid dim $dim")
        var best = Double.NegativeInfinity
        var bestCell = -1
        var k = 0
        while (k < cs.length) {
          val c = cs(k)
          var dot = 0.0
          var nv = 0.0
          var i = 0
          // null elements contribute 0, matching the native CosineSim verify skip
          while (i < dim) {
            val b = v(i)
            if (b != null) { val x = b.toDouble; dot += x * c(i); nv += x * x }
            i += 1
          }
          val s = dot / (math.sqrt(nv) * norms(k))
          // NaN (zero-norm vector or centroid) fails every comparison — without the
          // explicit check a zero vector would keep cell -1 and silently vanish from
          // every probe's partition filter.
          if (!s.isNaN && s >= best) { best = s; bestCell = k }
          k += 1
        }
        java.lang.Integer.valueOf(if (bestCell < 0) 0 else bestCell)
      }
    }
    df.withColumn(out, f(col(vecCol)))
  }

  /** Two-level (hierarchical) IVF assignment — the 100 TB path for LARGE k. Plain
    * [[ivfAssign]] scores every row against every centroid: with the production
    * SemDeDup fit k ∝ n (constant expected cell size) that is an n·k ∝ n² term, the
    * quadratic the PLANS.md semdedup workload model names. Here the k centroids are
    * first clustered DRIVER-SIDE into ~√k super-centroids (a few local Lloyd
    * iterations over the centroid list — tiny next to one corpus pass); each row then
    * scores the √k supers, keeps the `probeSupers` best, and runs argmax only over
    * those supers' member centroids: ~√k·(1 + probeSupers) scores per row instead of
    * k, i.e. n^1.5 total instead of n². Standard coarse-quantizer IVF practice
    * (Johnson et al. 2017 apply the same two-level trick to the centroid lookup).
    *
    * APPROXIMATE by design: a row whose true nearest centroid lives in a non-probed
    * super is assigned its best PROBED cell — raise `probeSupers` to trade cost for
    * fidelity (`probeSupers >= superCount` degenerates to exact flat argmax, spec-
    * pinned). Tie and NaN semantics match [[ivfAssign]] (ties to the higher cell id
    * within the probed set; zero-norm vectors fall back to cell 0; null → null).
    */
  def ivfAssignHierarchical(df: DataFrame, vecCol: String, centroids: Seq[Seq[Float]],
      out: String = "ivf_cell", probeSupers: Int = 4, superCount: Int = 0): DataFrame = {
    require(centroids.nonEmpty, "IVF needs at least one centroid")
    require(centroids.map(_.length).distinct.size == 1,
      s"IVF centroids have mixed dimensions: ${centroids.map(_.length).distinct.sorted}")
    require(probeSupers >= 1, s"probeSupers must be >= 1, got $probeSupers")
    val k = centroids.size
    val m = math.max(1, if (superCount > 0) superCount else math.round(math.sqrt(k)).toInt)
    if (m >= k || probeSupers >= m) return ivfAssign(df, vecCol, centroids, out)
    val cs = centroids.map(_.map(_.toDouble).toArray).toArray
    val dim = cs(0).length
    // ---- driver-local mini k-means over the CENTROID list (k rows, not corpus) ----
    // seeds = every (k/m)-th centroid (deterministic); 3 Lloyd iterations suffice —
    // supers only need to partition the centroid set sanely, not converge.
    var supers = Array.tabulate(m)(j => cs(j * k / m).clone())
    def normOf(a: Array[Double]): Double = { var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }; math.sqrt(s) }
    def nearestSuper(v: Array[Double], sNorms: Array[Double]): Int = {
      val vn = normOf(v)
      var best = Double.NegativeInfinity; var bi = 0; var j = 0
      while (j < m) {
        var dot = 0.0; var i = 0
        while (i < dim) { dot += v(i) * supers(j)(i); i += 1 }
        val s = dot / (vn * sNorms(j))
        if (!s.isNaN && s >= best) { best = s; bi = j }
        j += 1
      }
      bi
    }
    var members: Array[Array[Int]] = null
    (1 to 3).foreach { _ =>
      val sNorms = supers.map(normOf)
      val assign = cs.map(nearestSuper(_, sNorms))
      members = Array.tabulate(m)(j => assign.indices.filter(assign(_) == j).toArray)
      supers = Array.tabulate(m) { j =>
        if (members(j).isEmpty) supers(j)
        else {
          val mean = new Array[Double](dim)
          members(j).foreach { c => var i = 0; while (i < dim) { mean(i) += cs(c)(i); i += 1 } }
          var i = 0; while (i < dim) { mean(i) /= members(j).length; i += 1 }
          mean
        }
      }
    }
    // Recompute members against the FINAL supers: each loop iteration above derives
    // members from the PREVIOUS supers then moves them, so without this pass the row
    // kernel would probe final-position supers but search stale member lists — a
    // centroid whose nearest super changed in the last update would sit under the
    // wrong super and silently cost assignment fidelity beyond the probe trade.
    locally {
      val sNorms = supers.map(normOf)
      val assign = cs.map(nearestSuper(_, sNorms))
      members = Array.tabulate(m)(j => assign.indices.filter(assign(_) == j).toArray)
    }
    // Drop supers that own ZERO centroids after the final recompute: a stale empty
    // super can still score into the top-probeSupers set — wasting a probe slot on a
    // position with nothing under it — and if EVERY probed super were empty the
    // kernel would silently fall back to cell 0 instead of the best reachable cell.
    // Every centroid is assigned to exactly one super, so the kept list still covers
    // all k centroids and at least one super survives (k >= 1).
    locally {
      val keep = members.indices.filter(members(_).nonEmpty).toArray
      supers = keep.map(supers(_))
      members = keep.map(members(_))
    }
    val mEff = supers.length
    val superNorms = supers.map(normOf)
    val cellNorms = cs.map(normOf)
    val ps = probeSupers
    val f = udf { (v: Seq[java.lang.Float]) =>
      if (v == null) null.asInstanceOf[java.lang.Integer]
      else {
        require(v.length == dim, s"embedding length ${v.length} != centroid dim $dim")
        val vd = new Array[Double](dim)
        var nv = 0.0
        var i = 0
        while (i < dim) {
          val b = v(i)
          if (b != null) { vd(i) = b.toDouble; nv += vd(i) * vd(i) } // null elems = 0
          i += 1
        }
        val vn = math.sqrt(nv)
        // top-`ps` supers by cosine (selection over mEff scores — mEff ~ √k is small)
        val sScores = new Array[Double](mEff)
        var j = 0
        while (j < mEff) {
          var dot = 0.0; i = 0
          while (i < dim) { dot += vd(i) * supers(j)(i); i += 1 }
          sScores(j) = dot / (vn * superNorms(j))
          j += 1
        }
        val probed = sScores.zipWithIndex.filter(!_._1.isNaN)
          .sortBy { case (s, idx) => (-s, -idx) }.take(ps).map(_._2)
        var best = Double.NegativeInfinity
        var bestCell = -1
        // explicit (score, cell) tie-break to the HIGHER cell id — ivfAssign's rule
        // restricted to the probed set (member iteration order is per-super, so a
        // plain >= would keep the LAST iterated equal scorer, not the highest cell)
        probed.foreach { sj =>
          members(sj).foreach { cell =>
            var dot = 0.0; i = 0
            while (i < dim) { dot += vd(i) * cs(cell)(i); i += 1 }
            val s = dot / (vn * cellNorms(cell))
            if (!s.isNaN && (s > best || (s == best && cell > bestCell))) {
              best = s; bestCell = cell
            }
          }
        }
        java.lang.Integer.valueOf(if (bestCell < 0) 0 else bestCell)
      }
    }
    df.withColumn(out, f(col(vecCol)))
  }

  /** IVF top-k: score only rows assigned to the `nprobe` centroid cells nearest the
    * probe. `nprobe == centroids.size` is exhaustive — exact, equal to
    * [[bruteForceTopK]] — while smaller values trade recall for touching fewer cells;
    * with the corpus stored partitioned by `ivf_cell` the non-probed cells are never
    * read (partition pruning), which is the 100 TB read path.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, centroids: Seq[Seq[Float]],
      probe: Seq[Float], k: Int, nprobe: Int): DataFrame = {
    val cells = nearestCells(centroids, probe, nprobe)
    topKByCosine(
      ivfAssign(df, vecCol, centroids).filter(col("ivf_cell").isin(cells: _*)),
      idCol, vecCol, probe, k)
  }

  /** One distributed Lloyd's iteration: assign every row to its nearest centroid, then
    * recompute each centroid as its cell's element-wise mean. Wholly distributed —
    * posexplode to (cell, dim_index, value), one groupBy (cell, dim_index) avg with
    * map-side combine (shuffle rows = k × dim, independent of corpus size), k × dim
    * doubles to the driver. Empty cells keep their previous centroid. Chain `iters`
    * times for k-means-style refinement. `probeSupers > 0` routes the assign pass
    * through [[ivfAssignHierarchical]] — the n^1.5 fit path for k ∝ n cluster counts.
    */
  def refineCentroids(df: DataFrame, vecCol: String, centroids: Seq[Seq[Float]],
      iters: Int = 1, probeSupers: Int = 0): Seq[Seq[Float]] = {
    var cur = centroids
    for (_ <- 1 to iters) {
      val means = (if (probeSupers > 0)
          ivfAssignHierarchical(df, vecCol, cur, probeSupers = probeSupers)
        else ivfAssign(df, vecCol, cur))
        .select(col("ivf_cell"), posexplode(col(vecCol)).as(Seq("dim", "v")))
        .groupBy(col("ivf_cell"), col("dim"))
        .agg(avg(col("v")).as("mean_v"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq
        }
      cur = cur.indices.map(i => means.getOrElse(i, cur(i)))
    }
    cur
  }

  /** Persist a corpus PARTITIONED BY its IVF cell: probes that filter on `ivf_cell`
    * (exactly what [[ivfTopKFromPartitioned]] emits) prune non-probed cells at the
    * directory level — at 100 TB, an nprobe=8-of-1024 query lists and reads under 1%
    * of the corpus. The one-time write shuffles on the cell for one file set per cell.
    */
  def writeIvfPartitioned(df: DataFrame, vecCol: String, centroids: Seq[Seq[Float]],
      path: String): Unit =
    graft.sources.Sources.writePartitioned(
      ivfAssign(df, vecCol, centroids).repartition(col("ivf_cell")),
      path, Seq("ivf_cell"))

  /** IVF top-k over a corpus written by [[writeIvfPartitioned]]: the cell filter becomes
    * a partition filter on the scan (directory pruning — non-probed cells are never
    * listed, let alone read), then the same score + TakeOrdered shape as [[ivfTopK]].
    */
  def ivfTopKFromPartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String, centroids: Seq[Seq[Float]],
      probe: Seq[Float], k: Int, nprobe: Int): DataFrame = {
    val cells = nearestCells(centroids, probe, nprobe)
    topKByCosine(
      spark.read.parquet(path).filter(col("ivf_cell").isin(cells: _*)),
      idCol, vecCol, probe, k)
  }

  /** The `nprobe` cell ids nearest the probe (same ordering/tiebreak as [[ivfTopK]]). */
  private def nearestCells(centroids: Seq[Seq[Float]], probe: Seq[Float],
      nprobe: Int): Seq[Int] = {
    // A silent empty result is the failure mode here: zero centroids or zero probes
    // make every downstream isin() filter reject all rows with no error.
    require(centroids.nonEmpty, "IVF needs at least one centroid")
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    val pd = probe.map(_.toDouble)
    val pn = math.sqrt(pd.map(v => v * v).sum)
    centroids.zipWithIndex.map { case (c, i) =>
      val cd = c.map(_.toDouble)
      val dot = cd.lazyZip(pd).map(_ * _).sum
      (dot / (math.sqrt(cd.map(v => v * v).sum) * pn), i)
    }.sortBy { case (s, i) => (-s, -i) }.take(nprobe).map(_._2)
  }

  /** Simple deterministic centroid seeding for IVF: k pseudo-randomly spread rows,
    * chosen by ordering on a hash of the id (TakeOrdered — no full sort
    * materialization). Id-AGNOSTIC: the previous pmod(id, step)==0 filter returned
    * fewer than k — possibly zero — centroids whenever ids weren't 0-aligned
    * multiples (e.g. all ids ≡ 7 mod step). Refine with [[refineCentroids]].
    */
  def seedCentroids(df: DataFrame, idCol: String, vecCol: String, k: Int): Seq[Seq[Float]] = {
    require(k > 0, s"k must be positive, got $k")
    df.filter(col(vecCol).isNotNull)
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toSeq).toSeq
  }

  /** SemDeDup-style semantic near-duplicate PAIRS (Abbas et al. 2023: cluster the
    * embedding space, deduplicate within clusters): rows are assigned to their
    * nearest-centroid cell ([[ivfAssign]]), and every within-cell pair at cosine ≥
    * `threshold` is emitted as `(id_a, id_b, cosine)` with `id_a < id_b`. Cross-cell
    * near-dups are invisible by design — that is SemDeDup's recall/cost trade, with
    * the cluster count k steering it (more cells = cheaper + lower recall).
    *
    * Same blocking step as the hyperplane-LSH path (`Dedup.blockedPairs`): only
    * (cell, id) rows cross the cell shuffle, cells above `maxCellSize` (>= 2) are
    * dropped (a degenerate clustering cannot go quadratic carrying vectors), and
    * vectors join back per side only for surviving candidate id-pairs. NULL
    * vectors have no cell and pair with nothing.
    */
  /** `probeSupers > 0` routes cell assignment through [[ivfAssignHierarchical]] —
    * the n^1.5 assignment path for the production k ∝ n cluster-count fit (plain
    * flat argmax is n·k ∝ n² there; PLANS.md round-12 workload model). Recall
    * trade: a row probed into the wrong super dedups against a neighboring cell's
    * members instead of its true cell — SemDeDup's own cell-boundary blindness,
    * slightly enlarged; 0 (default) keeps the exact flat assignment.
    */
  def semDedupPairs(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Float]], threshold: Double,
      maxCellSize: Int = 10000, probeSupers: Int = 0): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    val docs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val celled = (if (probeSupers > 0)
        ivfAssignHierarchical(docs, "v", centroids, out = "_cell", probeSupers = probeSupers)
      else ivfAssign(docs, "v", centroids, out = "_cell"))
      .filter(col("_cell").isNotNull)
      .select(col("id"), col("_cell"))
    // One cell per row, so two rows share at most one cell: no distinct needed.
    val idPairs = Dedup.blockedPairs(celled, Seq("_cell"), maxCellSize)
    Dedup.withCosine(idPairs, docs.select(col("id").as("_vid"), col("v")))
      // NaN guard: a zero-norm vector is assigned cell 0 by ivfAssign (bestCell<0
      // falls back to 0) and its cosine with every cell-mate is 0/0 = NaN — which
      // Spark orders ABOVE every double, so `>= threshold` alone would emit a
      // pair per cell-mate and semDedup would silently drop every higher-id row
      // sharing the cell. Same guard topKByCosine applies.
      .filter(!isnan(col("cosine")) && col("cosine") >= threshold)
  }

  /** SemDeDup keep-set: drop every row that appears as the HIGHER id of a within-cell
    * near-dup pair — each semantic duplicate set keeps its lowest id. Returns the
    * surviving rows of `df` unchanged.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Float]], threshold: Double,
      maxCellSize: Int = 10000): DataFrame = {
    val drop = semDedupPairs(df, idCol, vecCol, centroids, threshold, maxCellSize)
      .select(col("id_b").as(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }

  // ---------- int8 quantization (ANN memory compression) ----------

  /** Quantizable = a real direction exists: non-null vector, no null elements, a
    * finite positive max |x|. Zero vectors have no direction (scale 0 would map
    * everything to 0 and "reconstruct" perfectly — a lie); NaN/Inf elements poison
    * every element through the shared scale. ONE definition feeds both
    * [[quantizeInt8]] and [[quantizationFidelity]] — the guard encodes subtle
    * semantics and the compressor and its verifier must never disagree on it.
    */
  private case class QuantPrep(xd: Column, ok: Column, scale: Column)
  private def quantPrep(vecCol: Column): QuantPrep = {
    val ma = array_max(transform(vecCol, x => abs(x.cast("double"))))
    QuantPrep(
      xd = transform(vecCol, x => x.cast("double")),
      ok = vecCol.isNotNull && !exists(vecCol, x => x.isNull) &&
        !isnan(ma) && ma > 0 && ma < lit(Double.PositiveInfinity),
      scale = ma / lit(127.0))
  }

  /** Symmetric per-vector int8 quantization: `scale = max|x| / 127`,
    * `q_i = round(x_i / scale)` — 4× smaller than float32 (the standard memory
    * lever for serving a 100 TB corpus's ANN index; pair with IVF cells so a probe
    * reads a pruned, compressed slice). Output: (idCol, q_scale DOUBLE, q_vec
    * ARRAY<TINYINT>). `|q_i| ≤ 127` by construction, so the tinyint cast cannot
    * overflow (ANSI-safe). Unquantizable vectors (null / null-element / zero-norm /
    * non-finite — see [[maxAbsD]]) surface NULL scale+vec rather than a fabricated
    * zero code: the caller decides whether to keep them uncompressed or drop them.
    *
    * Row-local projection — zero shuffles, the whole pass lives inside the scan.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val p = quantPrep(col(vecCol))
    df.select(
      col(idCol),
      when(p.ok, p.scale).as("q_scale"),
      when(p.ok, transform(p.xd, x => round(x / p.scale).cast("tinyint"))).as("q_vec"))
  }

  /** Reconstruction fidelity of [[quantizeInt8]], per vector: `max_abs_err` =
    * `max_i |x_i − q_i·scale|` (bounded by scale/2 = max|x|/254 by construction —
    * the assertion a spec pins) and `cos_fidelity` = cosine(x, dequantized x).
    * Unquantizable vectors are EXCLUDED (they have no reconstruction to measure).
    * Quantization is recomputed inline (row-local both ways) — cheaper than
    * joining the compressed table back to the originals.
    *
    * Hot path is the fused native kernel ([[graft.functions.QuantFidelity]] — the
    * `zip_with`/`aggregate` formulation runs interpreted CodegenFallback lambdas
    * and was the slowest projection in the bench); [[quantizationFidelityColumns]]
    * stays as the executable specification, spec-pinned equal.
    */
  def quantizationFidelity(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val q = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.QuantFidelity(
        org.apache.spark.sql.GraftSqlBridge.expression(col(vecCol))))
    df.select(col(idCol), q.as("_q"))
      .filter(col("_q").isNotNull)
      .select(col(idCol), col("_q.q_scale").as("q_scale"),
        col("_q.max_abs_err").as("max_abs_err"),
        col("_q.cos_fidelity").as("cos_fidelity"))
  }

  /** Column-pipeline fidelity — the executable specification of
    * [[quantizationFidelity]]'s native kernel. */
  def quantizationFidelityColumns(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val p = quantPrep(col(vecCol))
    val dq = transform(p.xd, x => round(x / p.scale) * p.scale)
    val err = array_max(zip_with(p.xd, dq, (a, b) => abs(a - b)))
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val fid = dot(p.xd, dq) / (sqrt(dot(p.xd, p.xd)) * sqrt(dot(dq, dq)))
    df.filter(p.ok)
      .select(col(idCol), p.scale.as("q_scale"), err.as("max_abs_err"),
        fid.as("cos_fidelity"))
  }
}
