package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables
import graft.operators.{Dedup, Mixture}
import graft.functions.TextFns

/** Eighth coverage batch — the training-corpus curation moves the pipeline
  * layer still lacked, each judged end-to-end: SemDeDup (cluster-blocked
  * semantic deduplication over embeddings, Abbas et al. 2023),
  * temperature-scaled mixture resampling (the α-sampling of mC4/XLM-R,
  * completing the fixed-rate d13 / equal-quota d37 family; α = 0.5 routes
  * through IEEE-correctly-rounded sqrt so both engines produce identical
  * bits where libm pow would not), DSIR importance weights (Xie et al.
  * 2023), ExactSubstr duplicate-span removal (Lee et al. 2021), the
  * SimHash construction oracle (completing the d21/d25 family), and the
  * Gopher quality-rule composite (Rae et al. 2021).
  */
object TextVector5 {

  def defs: Seq[QueryDef] = Seq(d41, d42, d43, d44, d45, d46)

  /** Guarded 64-dim cosine, shared with the other embedding oracles —
    * see [[QueryDef.cosSql64]] for the zero-norm/NaN rationale. */
  private def cosSql(a: String, b: String): String = QueryDef.cosSql64(a, b)

  /** SemDeDup over the embeddings table with injected deterministic anchors
    * (every 50th vec_id — the judged stand-in for kmeansCentroids, the
    * d11/d21 injection pattern): nearest-anchor assignment, within-cluster
    * pairwise cosine, paper keeper (lowest centroid-sim survives). The 0.25
    * threshold is calibrated to THIS fixture — near-random unit vectors
    * whose max pairwise cosine is ~0.5, so a production-style 0.95 would
    * judge an empty relation; at 0.25 roughly half the corpus drops and
    * every branch (assignment ties, keeper direction, survivor) is
    * exercised. Judged per doc: cluster, anchor cosine, fate.
    * COST CONTRACT: anchors grow as n/50, so the exact assignment is
    * n²/50 cosines — the paper's own n×k bill with k tracking corpus
    * size. The [[graft.functions.NearestCells]] expression runs it as a
    * tight per-row loop (3 s at sf10 — no pair rows, no shuffle);
    * e11 judges the IVF-accelerated approximate alternative. */
  val d41 = QueryDef("d41_semdedup",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val anchors = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      Dedup.semDeDup(emb, "vec_id", "embedding", anchors, cosineThreshold = 0.25)
        .select(col("id").as("vec_id"), col("centroid_id").as("anchor_id"),
          round(col("centroid_sim"), 6).as("cos_anchor_r"), col("dropped"))
        .orderBy("vec_id")
    },
    Some(s"""WITH a AS (
        SELECT vec_id AS aid, embedding AS av FROM embeddings WHERE vec_id % 50 = 0),
      sims AS (
        SELECT e.vec_id, a.aid, ${cosSql("e.embedding", "a.av")} AS sim
        FROM embeddings e CROSS JOIN a),
      asg AS (
        SELECT vec_id, aid, sim FROM (
          SELECT vec_id, aid, sim,
            row_number() OVER (PARTITION BY vec_id
              ORDER BY round(sim, 9) DESC, aid) AS rn
          FROM sims) t
        WHERE rn = 1),
      losers AS (
        SELECT DISTINCT
          CASE WHEN (round(x.sim, 9), x.vec_id) < (round(y.sim, 9), y.vec_id)
            THEN y.vec_id ELSE x.vec_id END AS id
        FROM asg x
        JOIN asg y ON x.aid = y.aid AND x.vec_id < y.vec_id
        JOIN embeddings ex ON ex.vec_id = x.vec_id
        JOIN embeddings ey ON ey.vec_id = y.vec_id
        WHERE ${cosSql("ex.embedding", "ey.embedding")} >= 0.25)
      SELECT g.vec_id, g.aid AS anchor_id, round(g.sim, 6) AS cos_anchor_r,
        (l.id IS NOT NULL) AS dropped
      FROM asg g LEFT JOIN losers l ON l.id = g.vec_id
      ORDER BY g.vec_id"""))

  /** Temperature-scaled mixture resampling over the language axis (α = 0.5,
    * target half the corpus): drives the REAL
    * [[Mixture.temperatureResample]] for the kept side and
    * [[Mixture.temperatureRates]] for the judged rate column. Judged per
    * language: input size, derived basis-point rate, kept doc/char mass —
    * so the oracle re-derives the α-weights (sorted-fold denominator, sqrt
    * weights, one floor) AND replays the md5-bucket membership. */
  val d42 = QueryDef("d42_temperature_mix",
    (s, dir) => {
      import s.implicits._
      // NULL-lang rows are outside the resample contract (the operator
      // drops them; temperatureRates loudly rejects a null group) — the
      // judged corpus has none, but the query must not crash on one
      val docs = Tables.documents(s, dir).filter(col("lang").isNotNull)
      val kept = Mixture.temperatureResample(docs, "lang", "doc_id",
        alpha = 0.5, targetFraction = 0.5)
      val keptAgg = kept.groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val rates = Mixture.temperatureRates(
          counts.collect().map(r => (r.getString(0), r.getLong(1))).toSeq,
          alpha = 0.5, targetFraction = 0.5)
        .toDF("lang", "rate_bp")
      counts.join(broadcast(rates), Seq("lang"))
        .join(keptAgg, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("rate_bp"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("chars_kept"), lit(0L)).as("chars_kept"))
        .orderBy("lang")
    },
    Some(s"""WITH per AS (SELECT lang, count(*) AS n FROM documents
        WHERE lang IS NOT NULL GROUP BY lang),
      den AS (SELECT list_sum(list(sqrt(CAST(n AS DOUBLE)) ORDER BY lang)) AS d,
                     CAST(sum(n) AS BIGINT) AS total
              FROM per),
      rates AS (SELECT p.lang, p.n AS n_docs,
          CAST(floor(least(1.0,
            ((CAST(total AS DOUBLE) * 0.5) * sqrt(CAST(p.n AS DOUBLE)))
              / d / CAST(p.n AS DOUBLE)) * 10000.0) AS BIGINT) AS rate_bp
        FROM per p CROSS JOIN den),
      sel AS (SELECT lang, n_chars,
          ${TextFns.hash32Sql("CAST(doc_id AS VARCHAR)")}
            % 10000 AS bucket
        FROM documents),
      keptagg AS (SELECT s.lang, count(*) AS n_kept,
          CAST(sum(s.n_chars) AS BIGINT) AS chars_kept
        FROM sel s JOIN rates r ON r.lang = s.lang
        WHERE s.bucket < r.rate_bp GROUP BY s.lang)
      SELECT r.lang, r.n_docs, r.rate_bp,
        COALESCE(k.n_kept, 0) AS n_kept, COALESCE(k.chars_kept, 0) AS chars_kept
      FROM rates r LEFT JOIN keptagg k ON k.lang = r.lang
      ORDER BY r.lang"""))

  /** DSIR importance weights with target = the English slice (the
    * train-on-target-like-data selection signal): hashed-bigram bucket
    * model, Laplace smoothing, per-doc summed log-likelihood ratio —
    * judged for EVERY scoring doc at round(6) (the d24 libm/accumulation
    * envelope). Selection composes downstream with the scale-safe exact
    * quantile machinery (Indexing.globalNtile, judged by q50) — a global
    * rank window here would be the single-partition trap. */
  val d43 = QueryDef("d43_dsir_weights",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      Mixture.dsirLogWeights(docs, "doc_id", "text",
          col("lang") === "en", numBuckets = 8192)
        .select(col("id").as("doc_id"), col("n_bigrams"),
          round(col("log_weight"), 6).as("log_weight_r"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (SELECT doc_id, lang,
          ${TextFns.tokensSql("text")} AS t
        FROM documents),
      occ AS (SELECT doc_id, (lang = 'en') AS tgt,
          ${TextFns.hash32Sql("t[i] || ' ' || t[i+1]")}
            % 8192 AS bucket
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 2),
      model AS (SELECT bucket, COUNT(*) AS c_raw,
          count(CASE WHEN tgt THEN 1 END) AS c_tgt
        FROM occ GROUP BY 1),
      tot AS (SELECT CAST(sum(c_raw) AS BIGINT) AS r,
          CAST(sum(c_tgt) AS BIGINT) AS t FROM model),
      ratio AS (SELECT bucket,
          ln((c_tgt + 1)::DOUBLE / (t + 8192)::DOUBLE)
            - ln((c_raw + 1)::DOUBLE / (r + 8192)::DOUBLE) AS lr
        FROM model CROSS JOIN tot),
      pdb AS (SELECT doc_id, bucket, COUNT(*) AS c FROM occ GROUP BY 1, 2)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        round(sum(CAST(c AS DOUBLE) * lr), 6) AS log_weight_r
      FROM pdb JOIN ratio USING (bucket)
      GROUP BY doc_id ORDER BY doc_id"""))

  /** ExactSubstr duplicate-span removal over the corpus (Lee et al. 2021;
    * `Dedup.exactSubstringRemoval`, L = 20 tokens): DuckDB replays window
    * hashing, first-occurrence keeper election, the removal index set,
    * and the cleaned-text rebuild byte-for-byte — including docs that
    * lose everything and docs too short to window. */
  val d44 = QueryDef("d44_exact_substring_removal",
    (s, dir) => graft.operators.Dedup.exactSubstringRemoval(
        Tables.documents(s, dir), "doc_id", "text", windowTokens = 20)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id"),
    Some(s"""WITH tok AS (SELECT doc_id,
        ${TextFns.tokensSql("text")} AS t FROM documents),
      win AS (SELECT doc_id, i, md5(array_to_string(t[i:i+19], ' ')) AS h
        FROM tok, UNNEST(generate_series(1, len(t) - 19)) AS u(i)
        WHERE len(t) >= 20),
      marked AS (SELECT doc_id, i,
          row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn
        FROM win),
      dropidx AS (SELECT DISTINCT d.doc_id, u.idx
        FROM (SELECT doc_id, i FROM marked WHERE rn > 1) d,
          UNNEST(generate_series(d.i, d.i + 19)) AS u(idx)),
      tokidx AS (SELECT doc_id, idx, t[idx] AS tok
        FROM tok, UNNEST(generate_series(1, len(t))) AS u(idx)),
      kept AS (SELECT k.doc_id, k.idx, k.tok
        FROM tokidx k LEFT JOIN dropidx d
          ON d.doc_id = k.doc_id AND d.idx = k.idx
        WHERE d.doc_id IS NULL),
      agg AS (SELECT doc_id, count(*) AS n_kept,
          string_agg(tok, ' ' ORDER BY idx) AS cleaned
        FROM kept GROUP BY doc_id)
      SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
        CAST(len(t.t) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
        COALESCE(a.cleaned, '') AS cleaned_text
      FROM tok t LEFT JOIN agg a USING (doc_id)
      ORDER BY t.doc_id"""))

  /** SimHash CONSTRUCTION pinned cross-engine (Charikar 2002) — the d21/
    * d25 pattern applied to the third sketch family: per token a 32-bit
    * md5 base value; bit b accumulates +1 when set, −1 when clear, over
    * the doc's token multiset; sketch bit b = (sum > 0). The production
    * d7 path keeps its fast JVM hash family (not SQL-reproducible); this
    * judges the construction — tokenization, bit voting, sign pack — on
    * the 5% subsample. 2^b via pow(2,b) is exact in doubles below 2³²,
    * so the pack is engine-identical. */
  val d45 = QueryDef("d45_simhash_md5_oracle",
    (s, dir) => {
      import graft.functions.TextFns
      val tok = Tables.documents(s, dir)
        .filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), explode(col("toks")).as("tok"))
        .select(col("doc_id"),
          TextFns.hash32(col("tok")).as("h"))
      val votes = tok
        .select(col("doc_id"), col("h"),
          explode(sequence(lit(0), lit(31))).as("b"))
        .select(col("doc_id"), col("b"),
          // h < 2^32, so unsigned-shift-then-%2 == DuckDB's (h >> b) & 1
          when(expr("shiftrightunsigned(h, b) % 2") === 1,
            lit(1)).otherwise(lit(-1)).as("w"))
        .groupBy("doc_id", "b").agg(sum(col("w")).as("sgn"))
      votes.groupBy("doc_id")
        .agg(sum(when(col("sgn") > 0, pow(lit(2.0), col("b")).cast(LongType))
          .otherwise(lit(0L))).as("sketch32"))
        .orderBy("doc_id")
    },
    Some(s"""WITH tok AS (SELECT doc_id, unnest(t) AS tok
        FROM (SELECT doc_id, ${TextFns.tokensSql("text")} AS t
              FROM documents WHERE doc_id % 20 = 0)
        WHERE len(t) >= 3),
      hv AS (SELECT doc_id,
          ${TextFns.hash32Sql("tok")} AS h
        FROM tok),
      votes AS (SELECT doc_id, b,
          SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
        FROM hv CROSS JOIN (SELECT UNNEST(generate_series(0, 31)) AS b)
        GROUP BY 1, 2)
      SELECT doc_id,
        CAST(SUM(CASE WHEN sgn > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END)
          AS BIGINT) AS sketch32
      FROM votes GROUP BY doc_id ORDER BY doc_id"""))

  /** The Gopher quality-rule composite (Rae et al. 2021, Appendix A —
    * the published MassiveWeb filter set), per-rule verdicts + overall
    * pass, judged for every doc. Paper-faithful details: the 0.1
    * symbol-to-word threshold applies to the hash ratio and the ellipsis
    * ratio SEPARATELY (either failing fails the rule), and the stopword
    * rule requires ≥ 2 DISTINCT members of the paper's 8-word list (the,
    * be, to, of, and, that, have, with) — not occurrence counts. All
    * ratio thresholds are phrased in EXACT integer arithmetic (chars ≥
    * 3·words, 5·alpha ≥ 4·words, 10·hash ≤ words, 10·ellipsis ≤ words)
    * so no float ever reaches a rule boundary — engine-identical by
    * construction. The non-whitespace char count reuses d2's codegen'd
    * regexp_replace form (sum of token lengths == chars minus whitespace;
    * the interpreted per-token lambda costs two extra passes). Line-level
    * rules (bullet/ellipsis line starts) are N/A on this single-line
    * corpus and documented out; d3/d32/d36 carry the repo's other
    * quality-filter shapes. */
  val d46 = QueryDef("d46_gopher_rules",
    (s, dir) => {
      import graft.functions.TextFns
      val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val m = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), TextFns.tokens(col("text")).as("t"))
        .select(col("doc_id"),
          size(col("t")).cast(LongType).as("n_words"),
          length(regexp_replace(col("text"), "\\s+", ""))
            .cast(LongType).as("n_chars_tok"),
          size(filter(col("t"), w => w.rlike("[A-Za-z]")))
            .cast(LongType).as("n_alpha"),
          (length(col("text")) - length(regexp_replace(col("text"), "#", "")))
            .cast(LongType).as("n_hash"),
          ((length(col("text")) -
            length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / lit(3))
            .cast(LongType).as("n_ellipsis"),
          size(array_intersect(array_distinct(col("t")),
            array(gopherStops.map(lit(_)): _*)))
            .cast(LongType).as("n_stop_words"))
      val rWc = col("n_words").between(50, 100000)
      val rMwl = col("n_chars_tok") >= col("n_words") * 3 &&
        col("n_chars_tok") <= col("n_words") * 10
      val rSym = col("n_hash") * 10 <= col("n_words") &&
        col("n_ellipsis") * 10 <= col("n_words")
      val rAlpha = col("n_alpha") * 5 >= col("n_words") * 4
      val rStop = col("n_stop_words") >= 2
      m.select(col("doc_id"), col("n_words"), col("n_chars_tok"),
          col("n_alpha"), col("n_hash"), col("n_ellipsis"), col("n_stop_words"),
          rWc.as("r_word_count"), rMwl.as("r_mean_word_len"),
          rSym.as("r_symbol_ratio"), rAlpha.as("r_alpha_words"),
          rStop.as("r_stopwords"),
          (rWc && rMwl && rSym && rAlpha && rStop).as("gopher_pass"))
        .orderBy("doc_id")
    },
    Some(s"""WITH m AS (SELECT doc_id,
        CAST(len(t) AS BIGINT) AS n_words,
        CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS n_chars_tok,
        CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
        CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
        CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ellipsis,
        CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
          w -> list_contains(t, w))) AS BIGINT) AS n_stop_words
      FROM (SELECT doc_id, text,
          ${TextFns.tokensSql("text")} AS t FROM documents))
      SELECT doc_id, n_words, n_chars_tok, n_alpha, n_hash, n_ellipsis, n_stop_words,
        (n_words BETWEEN 50 AND 100000) AS r_word_count,
        (n_chars_tok >= n_words * 3 AND n_chars_tok <= n_words * 10) AS r_mean_word_len,
        (n_hash * 10 <= n_words AND n_ellipsis * 10 <= n_words) AS r_symbol_ratio,
        (n_alpha * 5 >= n_words * 4) AS r_alpha_words,
        (n_stop_words >= 2) AS r_stopwords,
        ((n_words BETWEEN 50 AND 100000)
          AND (n_chars_tok >= n_words * 3 AND n_chars_tok <= n_words * 10)
          AND (n_hash * 10 <= n_words AND n_ellipsis * 10 <= n_words)
          AND (n_alpha * 5 >= n_words * 4)
          AND (n_stop_words >= 2)) AS gopher_pass
      FROM m ORDER BY doc_id"""))
}
