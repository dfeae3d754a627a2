package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.core.Tables
import graft.functions.TextFns
import graft.operators.Dedup

/** Eighteenth coverage batch: measuring the pipeline's own decisions —
  *
  *  - d80: MinHash-LSH precision/recall against exact-Jaccard ground
  *    truth on a bounded eval set — the dedup-quality audit (Broder
  *    1997's resemblance vs its sketch; the "measure your LSH, don't
  *    trust the s-curve" step every production dedup runs).
  *  - d81: one DoReMi-style mixture-reweighting step (Xie et al. 2023,
  *    arXiv:2305.10429): per-source excess LM loss → exponentiated-
  *    gradient domain-weight update — the data-mixture complement to
  *    d42/d47's temperature and budget mixing.
  */
object TextVector15 {

  def defs: Seq[QueryDef] = Seq(d80, d81, d82, d84)

  /** LSH candidate quality vs exact ground truth, per pair: the judged
    * relation is every eval-set pair sharing ≥ 2 shingles OR surfaced by
    * the 16-hash/4-band md5 family (d5/d21's construction), with the
    * exact intersection, the J ≥ 0.5 truth verdict in EXACT integers
    * (3·n_int ≥ n_a+n_b ⟺ J ≥ 0.5), and the LSH prediction — TP, FN and
    * FP rows all visible (precision/recall are one aggregation away,
    * but the pair surface is what a tuning engineer reads). Twins make
    * the truth polarity deterministic at every SF: strong (last-5-tokens
    * dropped, J ≈ 0.8 → dup) and weak (40 %-prefix, J ≈ 0.4 → non-dup,
    * but shingle-sharing so it stays in the surface). The eval set is
    * BOUNDED (≤ 250 docs at any SF — doc_id % 20 = 0 AND < 5000): dedup
    * EVALUATION is an O(k²) measurement on a fixed panel by design; the
    * production dedup itself stays d5's banded-linear shape. */
  /** The d80/d82 shared eval panel: bounded base sample + strong
    * (J ≈ 0.8) and weak (J ≈ 0.4) twins. */
  private[graft] def d80Docs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val base = Tables.documents(s, dir)
      .filter(col("doc_id") % 20 === 0 && col("doc_id") < 5000)
      .select(col("doc_id"), col("text"))
    val toked = base
      .select(col("doc_id"), col("text"), TextFns.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 15)
    val strong = toked.filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + 6000000000L).as("doc_id"),
        concat_ws(" ", slice(col("t"), lit(1), size(col("t")) - 5)).as("text"))
    val weak = toked.filter(col("doc_id") % 40 =!= 0)
      .select((col("doc_id") + 7000000000L).as("doc_id"),
        concat_ws(" ", slice(col("t"), lit(1),
          greatest((size(col("t")) * 2 / 5).cast("int"), lit(3)))).as("text"))
    base.unionByName(strong).unionByName(weak)
  }

  /** (sizes, exact pair intersections, LSH-predicted pairs, 16-hash
    * signature) over the panel — the relations d80, d82 and d84 consume. */
  private[graft] def d80Relations(docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val (sh, sig, banded) = Dedup.md5Bands(docs, "doc_id", "text")
    val predicted = Dedup.pairCandidates(banded, Seq("band", "bkey"))
    val sizes = sh.select(col("id"), size(col("sh")).cast(LongType).as("n"))
    val inter = sh.select(col("id"), explode(col("sh")).as("shingle"))
      .alias("a")
      .join(sh.select(col("id"), explode(col("sh")).as("shingle")).alias("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_int"))
    (sizes, inter, predicted, sig)
  }

  /** The DuckDB twin of [[d80Docs]] and of the sizes and intersections of
    * [[d80Relations]]: `base` -> `toked` -> `long_docs` -> `docs` (the
    * panel with its strong and weak twins), the `tok`/`sh`/`seeds`/`xv`/
    * `sig` CTEs of `Dedup.affineSignatureSql` over it, `sizes` (distinct
    * shingles per doc) and `inter` (shared shingles per doc pair, kept when
    * at least `minShared`). Starts after the `WITH`, so it also opens a
    * `WITH RECURSIVE`. */
  private def d80PanelSql(minShared: Int): String =
    s"""base AS (SELECT doc_id, text FROM documents
        WHERE doc_id % 20 = 0 AND doc_id < 5000),
      toked AS (SELECT doc_id, text,
          ${TextFns.tokensSql("text")} AS t
        FROM base),
      long_docs AS (SELECT * FROM toked WHERE len(t) >= 15),
      docs AS (
        SELECT doc_id, text FROM base
        UNION ALL
        SELECT doc_id + 6000000000, array_to_string(t[1:len(t)-5], ' ')
        FROM long_docs WHERE doc_id % 40 = 0
        UNION ALL
        SELECT doc_id + 7000000000,
          array_to_string(t[1:greatest(len(t)*2//5, 3)], ' ')
        FROM long_docs WHERE doc_id % 40 <> 0),
      ${Dedup.affineSignatureSql("docs", "doc_id", "text", 16)},
      sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(COUNT(*) AS BIGINT) AS n_int
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= $minShared)"""

  /** The predicted pairs of [[d80Relations]] over the `sig` CTE of
    * [[d80PanelSql]]: `banded` (4 bands of 4 minhashes per doc, the twin of
    * `Dedup.md5Bands`) and `pred` (doc pairs sharing a band key, the twin
    * of `Dedup.pairCandidates`). */
  private val lshPairsSql: String =
    """banded AS (SELECT doc_id, CAST(seed // 4 AS INT) AS band,
          array_to_string(list(CAST(mh AS VARCHAR) ORDER BY seed), ',') AS bkey
        FROM sig GROUP BY 1, 2),
      pred AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)"""

  val d80 = QueryDef("d80_lsh_pr_eval",
    (s, dir) => {
      val (sizes, inter, predicted0, _) = d80Relations(d80Docs(s, dir))
      val predicted = predicted0.withColumn("predicted", lit(true))
      val surface = inter.filter(col("n_int") >= 2).select("id_a", "id_b")
        .unionByName(predicted.select("id_a", "id_b")).distinct()
      surface
        .join(inter, Seq("id_a", "id_b"), "left")
        .join(predicted, Seq("id_a", "id_b"), "left")
        .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
        .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          coalesce(col("n_int"), lit(0L)).as("n_int"),
          col("n_a"), col("n_b"),
          (coalesce(col("n_int"), lit(0L)) * 3 >= col("n_a") + col("n_b"))
            .as("is_dup"),
          coalesce(col("predicted"), lit(false)).as("predicted"),
          round(coalesce(col("n_int"), lit(0L)).cast(DoubleType) /
            (col("n_a") + col("n_b") - coalesce(col("n_int"), lit(0L))), 6)
            .as("jaccard_r"))
        .orderBy("id_a", "id_b")
    },
    Some(s"""WITH ${d80PanelSql(1)},
      $lshPairsSql,
      surface AS (
        SELECT id_a, id_b FROM inter WHERE n_int >= 2
        UNION
        SELECT id_a, id_b FROM pred)
      SELECT s.id_a, s.id_b,
        coalesce(i.n_int, 0) AS n_int, na.n AS n_a, nb.n AS n_b,
        coalesce(i.n_int, 0) * 3 >= na.n + nb.n AS is_dup,
        (p.id_a IS NOT NULL) AS predicted,
        ROUND(CAST(coalesce(i.n_int, 0) AS DOUBLE)
          / (na.n + nb.n - coalesce(i.n_int, 0)), 6) AS jaccard_r
      FROM surface s
      LEFT JOIN inter i USING (id_a, id_b)
      LEFT JOIN pred p USING (id_a, id_b)
      JOIN sizes na ON na.doc_id = s.id_a
      JOIN sizes nb ON nb.doc_id = s.id_b
      ORDER BY s.id_a, s.id_b"""))

  /** One DoReMi exponentiated-gradient step over the per-source LM loss:
    * loss_h = −mean log P_MLE(bigram) within source h (d24's corpus-
    * trained model, assembled at TYPE granularity per the d74 lesson),
    * excess_h = loss_h − min_h loss_h, and the domain-weight update
    * w'_h ∝ w_h·exp(η·excess_h) with η = 1 and w_h = the source's bigram
    * share — hard (high-excess-loss) domains get UPWEIGHTED, the DoReMi
    * direction. All cross-source reductions (min, the two normalizing
    * sums) are windows over the ≤|sources| aggregate rollup — never raw
    * rows. The emitted step is exactly what a mixture scheduler feeds
    * back into d42/d47's samplers. */
  val d81 = QueryDef("d81_doremi_step",
    (s, dir) => {
      def big = Tables.documents(s, dir)
        .select(col("source"), TextFns.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("source"), col("t"),
          explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
        .select(col("source"),
          element_at(col("t"), col("i")).as("w1"),
          element_at(col("t"), col("i") + 1).as("w2"))
      val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .localCheckpoint(false) // c1 rollup AND the logp join consume it
      val typeP = c12
        .join(c12.groupBy("w1").agg(sum(col("c12")).as("c1")), Seq("w1"))
        .select(col("w1"), col("w2"),
          log(col("c12").cast(DoubleType) / col("c1").cast(DoubleType))
            .as("logp"))
      // cross-source reductions via 1-row keyless aggregates broadcast
      // back over the rollup (PlanLint check 3 does not exempt
      // grouped aggregates, and this is the d26/q29/q98 pattern — a
      // keyless agg bounds its own broadcast by construction). The rollup
      // is checkpointed once so the totals pass re-reads |sources| rows,
      // not the corpus-scale bigram join.
      val rollup = big
        .join(typeP, Seq("w1", "w2"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_bigrams"),
          (lit(0.0) - avg(col("logp"))).as("loss"))
        .localCheckpoint(false)
      val totals = rollup.agg(min(col("loss")).as("__minloss"),
        sum(col("n_bigrams")).as("__nbig"))
      val stepped = rollup.crossJoin(broadcast(totals))
        .withColumn("excess", col("loss") - col("__minloss"))
        .withColumn("w_old", col("n_bigrams").cast(DoubleType) / col("__nbig"))
        .withColumn("unnorm", col("w_old") * exp(col("excess")))
      stepped
        .crossJoin(broadcast(stepped.agg(sum(col("unnorm")).as("__totun"))))
        .withColumn("w_new", col("unnorm") / col("__totun"))
        .select(col("source"), col("n_bigrams"),
          round(col("loss"), 6).as("loss_r"),
          round(col("excess"), 6).as("excess_r"),
          round(col("w_old"), 6).as("w_old_r"),
          round(col("w_new"), 6).as("w_new_r"))
        .orderBy("source")
    },
    Some(s"""WITH big AS (SELECT source, t[i] AS w1, t[i+1] AS w2
        FROM (SELECT source, ${TextFns.tokensSql("text")} AS t
              FROM documents),
          UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 2),
      c2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
      c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
      tp AS (SELECT w1, w2,
          ln(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)) AS logp
        FROM c2 JOIN c1 USING (w1)),
      rollup AS (SELECT source, COUNT(*) AS n_bigrams,
          0.0 - AVG(logp) AS loss
        FROM big JOIN tp USING (w1, w2) GROUP BY 1),
      stepped AS (SELECT source, n_bigrams, loss,
          loss - MIN(loss) OVER () AS excess,
          CAST(n_bigrams AS DOUBLE) / SUM(n_bigrams) OVER () AS w_old
        FROM rollup),
      unnormed AS (SELECT *, w_old * exp(excess) AS unnorm FROM stepped)
      SELECT source, n_bigrams,
        ROUND(loss, 6) AS loss_r, ROUND(excess, 6) AS excess_r,
        ROUND(w_old, 6) AS w_old_r,
        ROUND(unnorm / SUM(unnorm) OVER (), 6) AS w_new_r
      FROM unnormed ORDER BY source"""))

  /** Pair-counting Rand index between the LSH clustering and the truth
    * clustering on the d80 panel (Rand 1971; the pair-level
    * precision/recall view Hubert & Arabie's ARI builds on): connected
    * components over the predicted pairs vs components over the J ≥ 0.5
    * truth pairs, agreement counted THROUGH CLUSTER SIZES in exact
    * integers — pair_tp = Σ_ij C(n_ij,2) over the contingency cells,
    * never by materializing pairs (the standard trick that keeps
    * clustering evaluation linear in nodes even though it counts C(n,2)
    * pair decisions). Completes the d80 story: d80 judges candidate
    * PAIRS, d82 judges the CLUSTERING those pairs induce — transitive
    * merge errors (one bad edge gluing two real clusters) only show at
    * this level. Singletons keep their own id as label (coalesce), so
    * isolated docs count as agreeing negatives. The DuckDB oracle
    * re-derives both clusterings with recursive CTEs (the d23 idiom)
    * and replays every sum. */
  val d82 = QueryDef("d82_rand_index",
    (s, dir) => {
      val (sizes, inter, predicted, _) = d80Relations(d80Docs(s, dir))
      val truth = inter
        .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
        .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
        .filter(col("n_int") * 3 >= col("n_a") + col("n_b"))
        .select("id_a", "id_b")
      val nodes = sizes.select(col("id")).localCheckpoint(false)
      def labels(pairs: org.apache.spark.sql.DataFrame, out: String) =
        nodes.join(
          Dedup.connectedComponents(pairs, "id_a", "id_b")
            .select(col("node").as("id"), col("component")),
          Seq("id"), "left")
          .select(col("id"), coalesce(col("component"), col("id")).as(out))
      val lab = labels(truth, "ct").join(labels(predicted, "cp"), Seq("id"))
        .localCheckpoint(false) // three contingency rollups consume it
      def pairSum(df: org.apache.spark.sql.DataFrame, keys: Seq[String]): Long = {
        val r = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
          .agg(sum(col("n") * (col("n") - 1) / 2)).head()
        if (r.isNullAt(0)) 0L else r.getDouble(0).toLong
      }
      val nDocs = lab.count()
      val nPairs = nDocs * (nDocs - 1) / 2
      val tp = pairSum(lab, Seq("ct", "cp"))
      val inTruth = pairSum(lab, Seq("ct"))
      val inPred = pairSum(lab, Seq("cp"))
      val agree = nPairs - inTruth - inPred + 2 * tp
      // degenerate panels (pathological corpora) have zero denominators:
      // emit NaN like the oracle's x/0 double division, never crash
      def r6(num: Long, den: Long): Double =
        if (den == 0) Double.NaN
        else BigDecimal(num.toDouble / den)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val sess = s
      import sess.implicits._
      Seq((nDocs, nPairs, tp, inPred - tp, inTruth - tp,
        r6(agree, nPairs), r6(tp, inPred), r6(tp, inTruth)))
        .toDF("n_docs", "n_pairs", "pair_tp", "pair_fp", "pair_fn",
          "rand_r", "precision_r", "recall_r")
    },
    Some(s"""WITH RECURSIVE ${d80PanelSql(1)},
      $lshPairsSql,
      truth AS (SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes na ON na.doc_id = i.id_a
        JOIN sizes nb ON nb.doc_id = i.id_b
        WHERE i.n_int * 3 >= na.n + nb.n),
      tedges AS (SELECT id_a AS a, id_b AS b FROM truth
        UNION SELECT id_b, id_a FROM truth),
      treach AS (SELECT a, b FROM tedges
        UNION SELECT r.a, e.b FROM treach r JOIN tedges e ON r.b = e.a),
      tlab AS (SELECT a AS doc_id, LEAST(MIN(b), a) AS c
        FROM treach GROUP BY a),
      pedges AS (SELECT id_a AS a, id_b AS b FROM pred
        UNION SELECT id_b, id_a FROM pred),
      preach AS (SELECT a, b FROM pedges
        UNION SELECT r.a, e.b FROM preach r JOIN pedges e ON r.b = e.a),
      plab AS (SELECT a AS doc_id, LEAST(MIN(b), a) AS c
        FROM preach GROUP BY a),
      lab AS (SELECT s.doc_id,
          coalesce(tl.c, s.doc_id) AS ct, coalesce(pl.c, s.doc_id) AS cp
        FROM sizes s
        LEFT JOIN tlab tl ON tl.doc_id = s.doc_id
        LEFT JOIN plab pl ON pl.doc_id = s.doc_id),
      sums AS (SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM lab) AS n_docs,
        (SELECT CAST(coalesce(SUM(n*(n-1)//2), 0) AS BIGINT) FROM
          (SELECT COUNT(*) AS n FROM lab GROUP BY ct, cp)) AS tp,
        (SELECT CAST(coalesce(SUM(n*(n-1)//2), 0) AS BIGINT) FROM
          (SELECT COUNT(*) AS n FROM lab GROUP BY ct)) AS in_truth,
        (SELECT CAST(coalesce(SUM(n*(n-1)//2), 0) AS BIGINT) FROM
          (SELECT COUNT(*) AS n FROM lab GROUP BY cp)) AS in_pred)
      SELECT n_docs, n_docs*(n_docs-1)//2 AS n_pairs, tp AS pair_tp,
        in_pred - tp AS pair_fp, in_truth - tp AS pair_fn,
        ROUND(CAST(n_docs*(n_docs-1)//2 - in_truth - in_pred + 2*tp AS DOUBLE)
          / (n_docs*(n_docs-1)//2), 6) AS rand_r,
        ROUND(CAST(tp AS DOUBLE) / in_pred, 6) AS precision_r,
        ROUND(CAST(tp AS DOUBLE) / in_truth, 6) AS recall_r
      FROM sums"""))

  /** b-bit minhash similarity estimation (Li & König 2010, b = 1): keep
    * only the LOWEST BIT of each of the 16 minhash values — the
    * signature shrinks 32× (16 bits per doc) and resemblance is still
    * estimable, because P(lowbit_a = lowbit_b) = J + (1−J)/2, so
    * Ĵ = 2·(agree/16) − 1. Judged per panel pair (the d80 surface):
    * the exact Jaccard, the EXACT-INTEGER agreement count over the 16
    * one-bit rows, and the unbiased estimate — estimation error is a
    * judged column next to the truth, the d80/d82 measure-your-sketch
    * discipline applied to the sketch's own compression knob. At 100 TB
    * the b-bit table is what ships to the dedup join: 2 bytes/doc. */
  val d84 = QueryDef("d84_bbit_minhash",
    (s, dir) => {
      val (sizes, inter, _, sig) = d80Relations(d80Docs(s, dir))
      val bits = sig.select(col("id"), col("seed"), (col("mh") % 2).as("bit"))
      inter.filter(col("n_int") >= 2)
        .join(bits.select(col("id").as("id_a"), col("seed"),
          col("bit").as("bit_a")), Seq("id_a"))
        .join(bits.select(col("id").as("id_b"), col("seed"),
          col("bit").as("bit_b")), Seq("id_b", "seed"))
        .groupBy("id_a", "id_b", "n_int")
        .agg(sum(when(col("bit_a") === col("bit_b"), 1L).otherwise(0L))
          .as("agree16"))
        .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
        .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          round(col("n_int").cast(DoubleType) /
            (col("n_a") + col("n_b") - col("n_int")), 6).as("jaccard_r"),
          col("agree16"),
          round(lit(2.0) * col("agree16") / 16 - 1.0, 6).as("jhat_r"))
        .orderBy("id_a", "id_b")
    },
    Some(s"""WITH ${d80PanelSql(2)},
      bits AS (SELECT doc_id, seed, mh % 2 AS bit FROM sig)
      SELECT i.id_a, i.id_b,
        ROUND(CAST(i.n_int AS DOUBLE) / (na.n + nb.n - i.n_int), 6) AS jaccard_r,
        CAST(SUM(CASE WHEN ba.bit = bb.bit THEN 1 ELSE 0 END) AS BIGINT) AS agree16,
        ROUND(2.0 * SUM(CASE WHEN ba.bit = bb.bit THEN 1 ELSE 0 END) / 16 - 1.0, 6)
          AS jhat_r
      FROM inter i
      JOIN bits ba ON ba.doc_id = i.id_a
      JOIN bits bb ON bb.doc_id = i.id_b AND bb.seed = ba.seed
      JOIN sizes na ON na.doc_id = i.id_a
      JOIN sizes nb ON nb.doc_id = i.id_b
      GROUP BY i.id_a, i.id_b, i.n_int, na.n, nb.n
      ORDER BY i.id_a, i.id_b"""))
}

