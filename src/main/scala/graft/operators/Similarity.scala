package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorExprs
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * - `bruteForceTopK`: exact baseline — queries × corpus. Broadcast the
  *   (small) query side so the corpus streams through without a shuffle;
  *   correct at any corpus size, cost linear in |corpus| × |queries|.
  * - `ivfTopK`: the scale path — partition the corpus into cells around
  *   centroids, search only the `nProbe` closest cells per query. Corpus
  *   assignment is one narrow pass; the probe join is corpus-rows × nProbe /
  *   nCells of the brute cost.
  */
object Similarity {

  /** KMeans iterations of every fit here: IVF cells and PQ codebooks only
    * need a reasonable Voronoi partition, not a converged clustering —
    * recall is governed by nProbe, and each extra iteration is a full
    * corpus pass. */
  private val MaxIter = 8
  /** Fit seeds of the IVF centroids and of the PQ codebooks (subspace s
    * fits with PqSeed + s). */
  private val KmeansSeed = 42L
  private val PqSeed = 7L

  /** Exact top-k cosine neighbors for each query vector.
    * Output: (query_id, neighbor_id, cosine, rank), self-pairs excluded.
    * Ranking uses (round(cosine, 9) desc, neighbor_id) so ties are stable. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VectorExprs.cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("cosine"), 9).desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Train IVF cells with MLlib KMeans — geometrically-fit centroids beat
    * any metadata-derived partitioning for recall. Output:
    * (centroid_id, centroid_vec array<double>), broadcast-sized. */
  /** True iff the failure is (or wraps, at any depth) the
    * ArrayIndexOutOfBounds that MLlib's block-based KMeansAggregator
    * throws when the corpus has fewer DISTINCT points than k. */
  private def isKmeansLowDistinctCrash(e: Throwable): Boolean = {
    var c = e
    while (c != null) {
      if (c.isInstanceOf[ArrayIndexOutOfBoundsException]) return true
      if (c.getMessage != null &&
        c.getMessage.contains("ArrayIndexOutOfBoundsException")) return true
      c = c.getCause
    }
    false
  }

  /** KMeans centers over an assembled `__vec` column, guarded against the
    * MLlib low-distinct-points crash: on that SPECIFIC failure (and only
    * it — cancellations/OOMs rethrow) the distinct count is computed and
    * the fit retried at the clamped k; a 1-distinct corpus skips KMeans
    * entirely (its k param requires > 1) and returns the single vector.
    * The healthy path pays nothing extra. Shared by [[kmeansCentroids]]
    * and [[pqTrain]] — subvector slices collapse to duplicates even more
    * readily than full vectors. */
  private def fitCenters(assembled: DataFrame, k: Int,
                         seed: Long): Array[Array[Double]] = {
    def fit(kEff: Int) = new KMeans().setK(kEff).setSeed(seed)
      .setFeaturesCol("__vec").setMaxIter(MaxIter).fit(assembled)
      .clusterCenters.map(_.toArray)
    try fit(k)
    catch {
      case e: Throwable if isKmeansLowDistinctCrash(e) =>
        // distinct is counted on a signed-zero-normalized ARRAY form:
        // Vector-UDT struct equality bit-compares doubles, so a corpus
        // with -0.0/0.0 variants of one point would read as >1 distinct
        // while KMeans sees a single geometric point — the clamp could
        // then retry at a k that still crashes (r8 advisor finding).
        // `x === 0.0` matches both zeros in Spark SQL, so the transform
        // collapses them; Spark's NaN = NaN (non-IEEE) already groups
        // NaN variants. The >= k rethrow guard stays: an AIOOBE with
        // enough distinct points is a different bug and must surface.
        val distinctVecs = assembled
          .select(transform(vector_to_array(col("__vec")).cast("array<double>"),
            x => when(x === 0.0, lit(0.0)).otherwise(x)).as("__a"))
          .distinct()
        val distinct = distinctVecs.count()
        if (distinct >= k || distinct == 0) throw e
        else if (distinct == 1)
          Array(distinctVecs.head.getSeq[Double](0).toArray)
        else fit(distinct.toInt)
    }
  }

  def kmeansCentroids(corpus: DataFrame, vecCol: String, k: Int): DataFrame = {
    val assembled = corpus.select(
      array_to_vector(col(vecCol).cast("array<double>")).as("__vec"))
    val centers = fitCenters(assembled, k, KmeansSeed)
    val spark = corpus.sparkSession
    import spark.implicits._
    centers.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("centroid_id", "centroid_vec")
  }

  /** Assign each corpus vector to its nearest centroid (by cosine).
    * `centroids`: (centroid_id, vector). Broadcast-sized by construction. */
  def assignCells(corpus: DataFrame, centroids: DataFrame, idCol: String,
                  vecCol: String): DataFrame =
    assignCellsSim(corpus, centroids, idCol, vecCol).drop("centroid_sim")

  /** Driver-side centroid collect for the [[graft.functions.NearestCells]]
    * expression: (ascending ids, double matrix; a null mat row marks a
    * null-element vector). The collect is bounded by the SAME contract
    * every caller already assumed when broadcasting the centroid table. */
  private def collectCentroids(centroids: DataFrame): (Array[Long], Array[Array[Double]]) = {
    val rows = centroids
      .select(col("centroid_id").cast(org.apache.spark.sql.types.LongType),
        col("centroid_vec"))
      .collect()
      .sortBy(_.getLong(0))
    val ids = rows.map(_.getLong(0))
    val mat: Array[Array[Double]] = rows.map { r =>
      val s = r.getSeq[Any](1)
      if (s == null || s.contains(null)) null
      else s.map {
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue()
        case i: java.lang.Integer => i.toDouble
        case l: java.lang.Long => l.toDouble
        case other => throw new IllegalArgumentException(
          s"unsupported centroid element $other")
      }.toArray
    }
    (ids, mat)
  }

  /** [[assignCells]] keeping the winning cosine as `centroid_sim` —
    * SemDeDup's keeper policy ranks members by it, and cell-quality
    * diagnostics (how tight is this Voronoi cell?) read it directly.
    *
    * The argmax is the [[graft.functions.NearestCells]] EXPRESSION over
    * the driver-collected centroid matrix — ONE narrow pass, no join.
    * The earlier shapes both lost to row plumbing: the per-id window
    * shuffled the n·k crossjoin (terabytes at corpus scale), and even
    * the max_by aggregate form still MATERIALIZED every (vector ×
    * centroid) pair as a nested-loop-join row first — 8·10⁸ UnsafeRow
    * copies (99 s) around 2 s of arithmetic at the r8 sf10 probe. The
    * expression's ordering replicates the judged window semantics
    * exactly (round(sim, 9) desc nulls-last, centroid_id asc; NULL
    * vectors keep their lowest-id null-sim row).
    *
    * EAGER contract: the centroid table is collected when this function
    * is CALLED, not when the returned frame first executes — plan-only
    * tooling (PlanLint, .explain) pays the centroid scan. That trade is
    * deliberate: the table is broadcast-bounded by the existing
    * contract, and the kmeansCentroids callers (e3/e7) were already
    * eager through the MLlib fit. */
  def assignCellsSim(corpus: DataFrame, centroids: DataFrame, idCol: String,
                     vecCol: String): DataFrame = {
    val (ids, mat) = collectCentroids(centroids)
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    if (ids.isEmpty)
      // empty centroid table: the crossJoin form produced no rows
      base.filter(lit(false))
        .withColumn("centroid_id", lit(null).cast(org.apache.spark.sql.types.LongType))
        .withColumn("centroid_sim", lit(null).cast(org.apache.spark.sql.types.DoubleType))
    else
      base.withColumn("__w",
          element_at(VectorExprs.nearestCells(col("v"), ids, mat, 1), 1))
        .select(col("id"), col("v"), col("__w.centroid_id").as("centroid_id"),
          col("__w.sim").as("centroid_sim"))
  }

  /** Hierarchical (IVF-style) APPROXIMATE cell assignment — the
    * production answer to exact assignment's n·k cost when the centroid
    * count grows with the corpus (SemDeDup's k ≈ n/300; d41's fixture
    * n/50, measured n²/50 at the sf10 sweep). Two-level search:
    *
    *   1. META cells = the centroids whose id ≡ 0 (mod `metaEvery`) — a
    *      deterministic 1/metaEvery sample, so an independent engine can
    *      replay the whole construction (MLlib meta-clustering would be
    *      engine-internal);
    *   2. every centroid joins its nearest meta (exact argmax over k/M
    *      metas — k·k/M work, negligible);
    *   3. every VECTOR finds its `nProbe` closest metas (n·k/M), then
    *      exact argmax over ONLY the centroids of those meta cells
    *      (n·nProbe·M expected).
    *
    * Total ≈ n·(k/M + nProbe·M) vs exact's n·k — with M ≈ √k the square-
    * root speedup IVF always gives. Both meta searches run through the
    * [[graft.functions.NearestCells]] expression (no pair rows exist);
    * only the final candidate argmax is a join (hash, on meta_id) +
    * map-side max_by, over the n·nProbe·(k/|meta|) candidate relation.
    *
    * APPROXIMATION CONTRACT: the true nearest centroid is missed iff it
    * lives in an unprobed meta cell. On clustered real-world embeddings
    * agreement is high at small nProbe; near-random vectors are the
    * documented worst case (see [[measureRecall]]) — e11 judges the
    * agreement rate against exact assignment rather than assuming it.
    * Ties break exactly like [[assignCellsSim]]: (round(sim, 9) desc,
    * id asc) at every level. COVERAGE is structural: a meta centroid
    * always heads its OWN cell (it could otherwise be stolen by a
    * round-tied lower-id meta, leaving an empty cell whose probers
    * would silently emit no row), so every probed cell is non-empty and
    * the one-row-per-input contract of exact assignment holds here too
    * (schema-identical: (id, v, centroid_id, centroid_sim), so the two
    * are drop-in interchangeable for [[graft.operators.Dedup.semDeDup]]).
    * Like [[assignCellsSim]], the meta sample is COLLECTED EAGERLY at
    * construction time (the broadcast-boundedness contract); a non-empty
    * centroid table whose ids never hit the metaEvery lattice is a loud
    * error, not an empty result. */
  def assignCellsApprox(corpus: DataFrame, centroids: DataFrame,
                        idCol: String, vecCol: String,
                        metaEvery: Int, nProbe: Int): DataFrame = {
    require(metaEvery >= 1 && nProbe >= 1,
      s"metaEvery/nProbe must be >= 1, got $metaEvery/$nProbe")
    val c = centroids.select(col("centroid_id"), col("centroid_vec"))
    val meta = c.filter(col("centroid_id") % metaEvery === 0)
      .select(col("centroid_id").as("meta_id"), col("centroid_vec").as("meta_vec"))
    val (metaIds, metaMat) = collectCentroids(
      meta.select(col("meta_id").as("centroid_id"), col("meta_vec").as("centroid_vec")))
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    if (metaIds.isEmpty) {
      require(c.limit(1).count() == 0,
        s"assignCellsApprox: no centroid_id divisible by metaEvery=$metaEvery " +
          "— the meta sample is empty while the centroid table is not; " +
          "pick a metaEvery aligned with the id lattice")
      // empty centroid table: same empty relation as assignCellsSim
      return base.filter(lit(false))
        .withColumn("centroid_id", lit(null).cast(org.apache.spark.sql.types.LongType))
        .withColumn("centroid_sim", lit(null).cast(org.apache.spark.sql.types.DoubleType))
    }
    // centroid -> its meta cell: the same NearestCells expression over
    // the meta matrix (k·k/M work; exact same comparator as every
    // level). Metas self-assign — the structural coverage guarantee.
    val c2m = c.select(
      when(col("centroid_id") % metaEvery === 0,
        col("centroid_id").cast(org.apache.spark.sql.types.LongType))
        .otherwise(
          element_at(VectorExprs.nearestCells(col("centroid_vec"), metaIds, metaMat, 1), 1)
            .getField("centroid_id")).as("meta_id"),
      col("centroid_id"), col("centroid_vec"))
    // vector -> nProbe nearest metas (one narrow pass), then the exact
    // argmax over ONLY the probed cells' centroids (hash join on meta_id
    // + map-side max_by — candidate sets are per-vector, so the matrix
    // trick doesn't apply here, but the relation is n·nProbe·M, not n·k)
    base.select(col("id"), col("v"),
        explode(VectorExprs.nearestCells(col("v"), metaIds, metaMat, nProbe)
          .getField("centroid_id")).as("meta_id"))
      .join(broadcast(c2m), Seq("meta_id"))
      .withColumn("sim", VectorExprs.cosine(col("v"), col("centroid_vec")))
      .groupBy("id")
      .agg(any_value(col("v")).as("v"),
        max_by(struct(col("centroid_id"), col("sim")),
          struct(round(col("sim"), 9), (-col("centroid_id")).as("__nid"))).as("__w"))
      .select(col("id"), col("v"), col("__w.centroid_id").as("centroid_id"),
        col("__w.sim").as("centroid_sim"))
  }

  /** IVF top-k: probe the `nProbe` closest cells per query, exact cosine
    * within probed cells. Recall < 1.0 by design (ANN); rank ties stable. */
  def ivfTopK(queries: DataFrame, corpusWithCells: DataFrame,
              centroids: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val q = queries.select(col("query_id"), col("qv"))
    val probes = q.crossJoin(broadcast(centroids.select(col("centroid_id"), col("centroid_vec"))))
      .withColumn("sim", VectorExprs.cosine(col("qv"), col("centroid_vec")))
    val wp = Window.partitionBy("query_id").orderBy(round(col("sim"), 9).desc, col("centroid_id").asc)
    val probed = probes.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("qv"), col("centroid_id"))
    val joined = probed.join(corpusWithCells, Seq("centroid_id"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("cosine", VectorExprs.cosine(col("qv"), col("v")))
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("cosine"), 9).desc, col("id").asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Product quantization (Jégou, Douze & Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search", IEEE TPAMI 33(1)) — the
    * 100 TB embedding-compression path. The vector is split into `m`
    * subspaces; each subvector is replaced by the index of its nearest
    * codeword in a per-subspace codebook of `k` entries, so a 64-dim
    * float vector (256 bytes) becomes m 4-bit-to-1-byte codes (8 bytes at
    * m=8, k=16 — 32×). Query scoring is ADC (asymmetric distance): the
    * query stays exact, per-subspace distances to all k codewords are
    * tabulated ONCE per query, and every corpus vector costs m table
    * lookups + adds instead of d multiplies. At 1000 executors the
    * codebooks (m×k subvectors) broadcast for free and the encoded corpus
    * is 32× less I/O per scan — this, not brute cosine, is what an
    * embedding sweep over 100 TB looks like.
    *
    * Codebooks live in plain driver arrays (bounded: m×k×(dim/m) doubles)
    * and are inlined into codegen'd higher-order-function expressions —
    * encode and ADC are single narrow passes with NO join and no row
    * blowup. Determinism: every distance is the same sequential
    * index-order left-fold as the rest of the embedding family
    * ([[graft.functions.VectorFns.sqDist]]), argmin ties break to the
    * lowest codeword index (first position of the exact minimum bits),
    * ADC top-k ties to the lowest neighbor id. */
  def pqTrain(corpus: DataFrame, vecCol: String, dim: Int, m: Int,
              k: Int): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val sub = dim / m
    // The m subspace fits are INDEPENDENT jobs on one SparkContext —
    // submitted sequentially they serialize m × MaxIter small stages and
    // leave the cluster idle through every tail (opt guide §2.6: overlap
    // independent jobs so the next fit's tasks back-fill freed executors).
    // A bounded pool keeps a few fits in flight; each fit's input plan,
    // partitioning and seed are untouched, so every codebook is
    // bit-identical to the sequential build's.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(m, 4))
    implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val futs = (0 until m).map { s => scala.concurrent.Future {
        val slices = corpus.select(array_to_vector(
          slice(col(vecCol), s * sub + 1, sub).cast("array<double>")).as("__vec"))
        // per-subspace seed: subspaces must not share a clustering; the
        // guarded fit matters MORE here — low-dim subvector slices collapse
        // to duplicate points far more readily than full vectors
        fitCenters(slices, k, PqSeed + s)
      }}
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs),
        scala.concurrent.duration.Duration.Inf).toArray
    } finally pool.shutdown()
  }

  /** Encode every corpus vector to its m nearest-codeword indices.
    * Output: (id, keep..., codes array<int>). One codegen'd narrow pass:
    * the codebook is a literal, so Catalyst sees constant arrays and the
    * scan never shuffles or joins. `keep` carries extra columns through
    * (ivfAdcTopK rides the cell id alongside the codes — the inverted
    * file IS (cell, id, codes)). */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               codebooks: Array[Array[Array[Double]]],
               keep: Seq[String] = Nil): DataFrame =
    // ONE expression node, bit-identical to the m·k sqDist column forest
    // (argmin = first position of the exact minimum): that forest was
    // interpreted per (row, codeword) and cost seconds of Catalyst
    // planning per query.
    corpus.select((col(idCol).as("id") +: keep.map(col)) :+
      graft.functions.VectorExprs.pqEncodeCodes(col(vecCol), codebooks)
        .as("codes"): _*)

  /** The per-query ADC lookup table: m×k exact subspace distances from
    * `vec` to every codeword, as one literal-coded array<array<double>>
    * expression. Tabulated ONCE per (query[, probed cell]) row BEFORE any
    * join — the pair scan then never touches the raw vector. */
  private def pqLut(vec: org.apache.spark.sql.Column,
                    codebooks: Array[Array[Array[Double]]]) =
    // one expression node, bit-identical to the per-subspace sqDist arrays
    graft.functions.VectorExprs.pqLut(vec, codebooks)

  /** Σ_s lut[s][code_s] in index order — the same sequential s-order sum
    * the oracle replays with list_sum(list(d ORDER BY s)). Native codegen
    * expression (VectorExprs.PqAdcSum): the previous
    * aggregate(zip_with(element_at)) column form was interpreted and
    * allocated a zipped m-array per (query, candidate) pair — the exact
    * hot-path class VectorExprs exists for; bit-identical by the shared
    * fold order (pinned in TextVectorSpec). */
  private def pqAdcSum = graft.functions.VectorExprs.adcSum(col("lut"), col("codes"))

  /** ADC top-k: per query one lookup table (m×k exact subspace distances,
    * computed in the query-side projection BEFORE the join), then each
    * (query, corpus) pair costs m lookups + adds. `queries` carries
    * (query_id, qv); `encoded` is [[pqEncode]] output. Approximate by
    * construction: distances are to codewords, not the original vectors —
    * re-rank the top-k exactly downstream when recall matters. */
  def pqAdcTopK(queries: DataFrame, encoded: DataFrame,
                codebooks: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val q = queries.select(col("query_id"), col("qv"))
      .withColumn("lut", pqLut(col("qv"), codebooks)).drop("qv")
    val pairs = encoded.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("id"))
      .withColumn("adc", pqAdcSum)
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("adc"), 9).asc, col("id").asc)
    pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("adc"), col("rank"))
  }

  /** IVFADC (Jégou, Douze & Schmid 2011 §IV — "inverted file with
    * asymmetric distance computation"): the composition the paper actually
    * ships, and the 100 TB serving shape. [[pqAdcTopK]] alone still scans
    * every code per query; IVFADC restricts the ADC scan to the `nProbe`
    * probed coarse cells, and quantizes RESIDUALS r = x − c(x) (the
    * energy left after the coarse step — codewords spend their 4 bits on
    * local structure instead of re-describing cell position).
    *
    *   - corpus side: one broadcast join attaches each vector's own cell
    *     centroid, residual + encode are a single codegen'd narrow pass →
    *     the inverted file (cell, id, codes) — 8 bytes/vector of scan I/O;
    *   - query side: nProbe nearest cells via the
    *     [[graft.functions.NearestCells]] expression (no pair rows), then
    *     ONE residual LUT per (query, probed cell) — |q|·nProbe bounded
    *     rows, tabulated before any join touches the corpus;
    *   - candidates: a hash join on the cell id — expected n·nProbe/k_c
    *     codes scanned per query instead of n, each costing m lookups+adds.
    *
    * Everything is deterministic (exact IEEE folds, argmin ties to the
    * lowest codeword index, rank ties (round(adc,9) asc, id asc)), so an
    * independent engine replays construction AND search (e12). Recall is
    * governed by nProbe exactly as in [[ivfTopK]]; re-rank the returned
    * top-k with exact distance when it matters (the paper's IVFADC+R). */
  def ivfAdcTopK(queries: DataFrame, corpusCells: DataFrame,
                 centroids: DataFrame,
                 codebooks: Array[Array[Array[Double]]],
                 k: Int, nProbe: Int): DataFrame = {
    val (ids, mat) = collectCentroids(centroids)
    require(ids.nonEmpty, "ivfAdcTopK needs a non-empty centroid table")
    val cvec = centroids.select(col("centroid_id"),
      col("centroid_vec").cast("array<double>").as("__cv"))
    def residual(vec: org.apache.spark.sql.Column) =
      zip_with(vec.cast("array<double>"), col("__cv"), (a, b) => a - b)
    // inverted file: (centroid_id, id, codes) — residual encode in one
    // narrow pass behind a broadcast centroid-vector join
    val encoded = pqEncode(
      corpusCells.join(broadcast(cvec), Seq("centroid_id"))
        .withColumn("__res", residual(col("v"))),
      "id", "__res", codebooks, keep = Seq("centroid_id"))
    // query probes: top-nProbe cells from the expression (same
    // (round(sim,9) desc, id asc) comparator as assignment), then the
    // residual LUT per probed cell
    val probed = queries.select(col("query_id"), col("qv"),
        explode(VectorExprs.nearestCells(col("qv"), ids, mat, nProbe)
          .getField("centroid_id")).as("centroid_id"))
      .join(broadcast(cvec), Seq("centroid_id"))
      .withColumn("lut", pqLut(residual(col("qv")), codebooks))
      .select(col("query_id"), col("centroid_id"), col("lut"))
    val pairs = encoded.join(broadcast(probed), Seq("centroid_id"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("adc", pqAdcSum)
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("adc"), 9).asc, col("id").asc)
    pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("centroid_id"), col("id").as("neighbor_id"),
        col("adc"), col("rank"))
  }

  /** Measured recall@k of an IVF configuration against the exact
    * brute-force baseline on a query SAMPLE — the tuning tool for the
    * recall/nProbe trade-off. Recall rises roughly linearly in nProbe on
    * unstructured (near-random) embeddings — the worst case for any
    * space-partitioning index, since cell membership carries little
    * neighbor signal; clustered real-world embeddings need far fewer
    * probes for the same recall. Run this on a few hundred sampled
    * queries to pick nProbe for a target recall; the sample cost is
    * |sample| × |corpus| (one brute pass), negligible next to serving. */
  def measureRecall(sampleQueries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, k: Int, nCells: Int, nProbe: Int): Double = {
    def pairs(df: DataFrame): Set[(Any, Any)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.get(0), r.get(1))).toSet
    val brute = pairs(bruteForceTopK(sampleQueries, corpus, idCol, vecCol, k))
    val centroids = kmeansCentroids(corpus, vecCol, nCells)
    val cells = assignCells(corpus, centroids, idCol, vecCol)
    val q = sampleQueries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val ivf = pairs(ivfTopK(q, cells, centroids, k, nProbe))
    if (brute.isEmpty) 1.0 else (brute intersect ivf).size.toDouble / brute.size
  }
}
