package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.core.Tables
import graft.operators.Classifier
import graft.functions.TextFns

/** Nineteenth coverage batch: embedding linear algebra + classifier
  * diagnostics —
  *
  *  - e16: top principal direction of the embedding corpus by POWER
  *    ITERATION (Mises & Pollaczek-Geiringer 1929; the matrix-free PCA
  *    step behind embedding whitening and SemDeDup-style preprocessing)
  *    — five fixed matrix-free passes, fully replayed by the oracle.
  *  - d83: reliability diagram + expected calibration error (Naeini et
  *    al. 2015's ECE over equal-width bins) for d48's quality
  *    classifier — the "is the score a probability" audit a filtering
  *    threshold depends on.
  */
object TextVector16 {

  def defs: Seq[QueryDef] = Seq(e16, d83, d85)

  private val ITERS = 5

  /** Top principal direction by 5 FIXED power-iteration steps (no
    * convergence test — a fixed schedule is what two engines can replay
    * verbatim): center, then repeat v ← Aᵀ(Av)/‖·‖ where A is the
    * centered corpus matrix, all matrix-free — s = ⟨x−μ, v⟩ per vector
    * (one shuffle on vec_id), w_j = Σ s·(x_j−μ_j) (one shuffle on dim),
    * normalize on the driver (64 doubles). The (vec, dim, centered)
    * points relation is checkpointed — TEN passes consume it, the
    * clear-cut side of the d74 checkpoint rule. Scale: each step is two
    * corpus-width rollups; nothing holds more than 64 values of state.
    * Emitted rounded at 6 dp: both engines run the IDENTICAL 5-step
    * schedule from the e₁ start, so only accumulation-order ulps differ.
    * Eigenvalue estimate = ‖w‖ of the final step (the Rayleigh quotient
    * at convergence), constant across rows. */
  val e16 = QueryDef("e16_pca_power",
    (s, dir) => {
      val base = Tables.embeddings(s, dir)
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), (col("pos") + 1).as("dim"),
          col("col").cast(DoubleType).as("x"))
      val mu = base.groupBy("dim")
        .agg((sum(col("x")) / count(lit(1))).as("mu"))
        .localCheckpoint(false) // pts, v0, and the final join consume it
      val pts = base.join(mu, Seq("dim"))
        .select(col("vec_id"), col("dim"), (col("x") - col("mu")).as("xc"))
        .localCheckpoint(false) // 2 passes per iteration x 5 iterations
      var v = mu.select(col("dim"),
        when(col("dim") === 1, lit(1.0)).otherwise(lit(0.0)).as("val"))
        .localCheckpoint(false)
      var lambda = 0.0
      for (_ <- 1 to ITERS) {
        val sv = pts.join(v, Seq("dim"))
          .groupBy("vec_id").agg(sum(col("xc") * col("val")).as("s"))
        val w = pts.join(sv, Seq("vec_id"))
          .groupBy("dim").agg(sum(col("xc") * col("s")).as("w"))
          .localCheckpoint(false) // norm scan AND the normalized v
        val normRow = w.agg(sqrt(sum(col("w") * col("w")))).head()
        lambda = if (normRow.isNullAt(0) || normRow.getDouble(0) == 0.0) 1.0
          else normRow.getDouble(0)
        v = w.select(col("dim"), (col("w") / lambda).as("val"))
          .localCheckpoint(false)
      }
      mu.join(v, Seq("dim"))
        .select(col("dim").cast(LongType).as("dim"),
          round(col("mu"), 6).as("mu_r"),
          round(col("val"), 6).as("v1_r"),
          round(lit(lambda), 4).as("lambda_r"))
        .orderBy("dim")
    },
    Some {
      // The zero-norm guard (all-identical embeddings ⟹ centered matrix is
      // zero) is mirrored: Spark substitutes lambda = 1.0, so the oracle's
      // divisor is CASE WHEN nrm > 0 THEN nrm ELSE 1.0 END — the engines
      // agree on a DEFINED output for the fully degenerate corpus instead
      // of Spark emitting 0.0 and DuckDB NULL (advisor r8).
      // MATERIALIZED on every CTE (r14): DuckDB inlines single-use CTEs and
      // can replay multiply-referenced ones; with pts consumed 10 times and
      // each v_i feeding the next step, the inlined twin re-ran the whole
      // power iteration per reference — 166 s of the driver's 201 s oracle
      // budget at the correctness SF. Forcing materialization evaluates
      // each CTE once: measured 165 s -> 0.10 s at sf0.01, rows identical.
      val steps = (1 to ITERS).map { i =>
        s"""s$i AS MATERIALIZED (SELECT vec_id, SUM(xc * val) AS s
           |    FROM pts JOIN v${i - 1} USING (dim) GROUP BY 1),
           |w$i AS MATERIALIZED (SELECT dim, SUM(pts.xc * s$i.s) AS w
           |    FROM pts JOIN s$i USING (vec_id) GROUP BY 1),
           |n$i AS MATERIALIZED (SELECT CASE WHEN coalesce(sqrt(SUM(w * w)), 0.0) > 0
           |    THEN sqrt(SUM(w * w)) ELSE 1.0 END AS nrm FROM w$i),
           |v$i AS MATERIALIZED (SELECT dim, w / (SELECT nrm FROM n$i) AS val FROM w$i)"""
          .stripMargin
      }.mkString(",\n      ")
      s"""WITH base AS MATERIALIZED (SELECT vec_id, i AS dim, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings, UNNEST(generate_series(1, 64)) AS u(i)
        WHERE embedding IS NOT NULL),
      mu AS MATERIALIZED (SELECT dim, SUM(x) / COUNT(*) AS mu FROM base GROUP BY 1),
      pts AS MATERIALIZED (SELECT vec_id, base.dim, x - mu AS xc FROM base JOIN mu USING (dim)),
      v0 AS MATERIALIZED (SELECT dim, CASE WHEN dim = 1 THEN 1.0 ELSE 0.0 END AS val FROM mu),
      $steps
      SELECT CAST(mu.dim AS BIGINT) AS dim, ROUND(mu.mu, 6) AS mu_r,
        ROUND(v$ITERS.val, 6) AS v1_r,
        ROUND((SELECT nrm FROM n$ITERS), 4) AS lambda_r
      FROM mu JOIN v$ITERS ON mu.dim = v$ITERS.dim
      ORDER BY dim"""
    })

  /** Reliability diagram + ECE for d48's Pareto quality classifier, on
    * EQUAL-MASS score deciles (adaptive binning, Nixon et al. 2019 —
    * equal-width bins collapse to 1–2 populated rows on this corpus's
    * near-chance score distribution; equal-mass bins keep all ten
    * populated at every SF): per decile the mean confidence vs the
    * empirical positive rate (labels = the SAME curated-slice predicate
    * the classifier trains on), gap = |confidence − accuracy|, and
    * ECE = Σ (n_b/N)·gap as a constant column. The decile runs through
    * the scale-safe [[graft.core.Indexing.globalNtile]] (the d49/q50
    * machinery — no single-partition window); cross-bin reductions are
    * windows over the 10-row rollup. A calibrated classifier has
    * ECE ≈ 0; the hashed-NB's miscalibration here (~0.35) is a judged
    * number, not an assumption. */
  val d83 = QueryDef("d83_ece_calibration",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = Classifier.paretoQualityFilter(docs, "doc_id", "text",
          col("source").isin("src0", "src1", "src2"),
          alpha = 9, numBuckets = 4096)
        .join(docs.select(col("doc_id").as("id"),
          col("source").isin("src0", "src1", "src2").as("pos")), Seq("id"))
        // globalNtile consumes its input THREE times (count, bucket
        // histogram, pick) — un-checkpointed, the whole classifier would
        // re-run per pass (PlanLint caught the duplicated 1-row broadcast)
        .localCheckpoint(false)
      val binned = graft.core.Indexing
        .globalNtile(scored, 10, "prob_r", "bin", tieBreak = Seq("id"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
          avg(col("prob_r")).as("conf"))
        .withColumn("acc", col("n_pos").cast(DoubleType) / col("n"))
        .withColumn("gap", abs(col("conf") - col("acc")))
      val all = Window.partitionBy()
      binned
        .withColumn("ece",
          sum(col("n") * col("gap")).over(all) / sum(col("n")).over(all))
        .select(col("bin").cast(LongType).as("bin"), col("n"), col("n_pos"),
          round(col("conf"), 6).as("conf_r"),
          round(col("acc"), 6).as("acc_r"),
          round(col("gap"), 6).as("gap_r"),
          round(col("ece"), 6).as("ece_r"))
        .orderBy("bin")
    },
    Some(s"""WITH tokd AS (SELECT doc_id, (source IN ('src0','src1','src2')) AS pos,
          unnest(${TextFns.tokensSql("text")}) AS tok
        FROM documents),
      feats AS (SELECT DISTINCT doc_id, pos,
          ${TextFns.hash32Sql("tok")} % 4096 AS bucket
        FROM tokd),
      tot AS (SELECT count(*) FILTER (WHERE pos) AS np,
          count(*) FILTER (WHERE NOT pos) AS nn
        FROM (SELECT DISTINCT doc_id, pos FROM feats)),
      model AS (SELECT bucket, count(*) FILTER (WHERE pos) AS dfp,
          count(*) FILTER (WHERE NOT pos) AS dfn
        FROM feats GROUP BY 1),
      w AS (SELECT bucket,
          ln((dfp + 1)::DOUBLE / (np + 2)::DOUBLE)
            - ln((dfn + 1)::DOUBLE / (nn + 2)::DOUBLE) AS w
        FROM model CROSS JOIN tot),
      sc AS (SELECT doc_id, pos,
          round(1.0 / (1.0 + exp(-round(sum(w) / count(*), 6))), 6) AS prob_r
        FROM feats JOIN w USING (bucket) GROUP BY doc_id, pos),
      tiled AS (SELECT *, CAST(ntile(10) OVER (ORDER BY prob_r ASC, doc_id ASC)
          AS BIGINT) AS bin FROM sc),
      binned AS (SELECT bin,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(count(*) FILTER (WHERE pos) AS BIGINT) AS n_pos,
          AVG(prob_r) AS conf
        FROM tiled GROUP BY 1),
      gapped AS (SELECT *, CAST(n_pos AS DOUBLE) / n AS acc,
          abs(conf - CAST(n_pos AS DOUBLE) / n) AS gap
        FROM binned)
      SELECT bin, n, n_pos,
        ROUND(conf, 6) AS conf_r, ROUND(acc, 6) AS acc_r,
        ROUND(gap, 6) AS gap_r,
        ROUND(SUM(n * gap) OVER () / SUM(n) OVER (), 6) AS ece_r
      FROM gapped ORDER BY bin"""))

  /** Eval-side decontamination verdict (the GPT-3/PaLM protocol, Brown
    * et al. 2020 App. C / Chowdhery et al. 2022 App. — d15's complement:
    * d15 reports which TRAINING docs touch the benchmark; d85 judges
    * each BENCHMARK doc): the fraction of an eval doc's distinct word
    * 8-grams that occur anywhere in the training corpus, and the
    * keep/drop verdict at PaLM's 70 % threshold in EXACT integer
    * cross-multiplication (10·n_hit ≥ 7·n_8grams). Scale: the train
    * side collapses to a DISTINCT 8-gram set (one corpus shuffle, key
    * cardinality grows with the corpus — at 100 TB the key is a 64-bit
    * hash); the bench side is the bounded eval suite broadcast into a
    * left semi-ish join, one aggregation. */
  val d85 = QueryDef("d85_decontamination_verdict",
    (s, dir) => {
      val sh8 = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.functions.TextExprs.distinctShingles(
            graft.functions.TextFns.tokens(col("text")), 8)).as("g"))
      val train = sh8.filter(col("doc_id") >= 20).select("g").distinct()
        .withColumn("hit", lit(1L))
      sh8.filter(col("doc_id") < 20)
        .join(train, Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_8grams"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(col("doc_id"), col("n_8grams"), col("n_hit"),
          round(col("n_hit").cast(DoubleType) / col("n_8grams"), 6)
            .as("hit_frac_r"),
          (col("n_hit") * 10 >= col("n_8grams") * 7).as("dirty"))
        .orderBy("doc_id")
    },
    Some(s"""WITH sh AS (SELECT doc_id,
        unnest(list_distinct(list_transform(range(1, greatest(len(t) - 6, 1)),
          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' '
            || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]))) AS g
        FROM (SELECT doc_id, ${TextFns.tokensSql("text")} AS t
              FROM documents)
        WHERE len(t) >= 8),
      train AS (SELECT DISTINCT g FROM sh WHERE doc_id >= 20)
      SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_8grams,
        CAST(count(*) FILTER (WHERE t.g IS NOT NULL) AS BIGINT) AS n_hit,
        ROUND(CAST(count(*) FILTER (WHERE t.g IS NOT NULL) AS DOUBLE)
          / COUNT(*), 6) AS hit_frac_r,
        count(*) FILTER (WHERE t.g IS NOT NULL) * 10 >= COUNT(*) * 7 AS dirty
      FROM sh s LEFT JOIN train t ON s.g = t.g
      WHERE s.doc_id < 20
      GROUP BY s.doc_id ORDER BY s.doc_id"""))
}

