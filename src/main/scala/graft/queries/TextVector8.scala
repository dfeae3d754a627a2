package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextFns
import graft.operators.{Mixture, Similarity}

/** Eleventh coverage batch (round 8): judged surfaces for the round-7
  * verdict's evidence gaps — the production [[Similarity.pqTrain]]
  * KMeans path (e10), the line-level C4 rules the single-line corpus
  * could not judge (d56), the incremental skip-existing curation step
  * (d57, [[graft.operators.Incremental]]), C4's three-sentence-span
  * global dedup (d58), and the hierarchical approximate cell assignment
  * with its judged exact-agreement surface (e11,
  * [[graft.operators.Similarity.assignCellsApprox]]). */
object TextVector8 {

  def defs: Seq[QueryDef] = Seq(e10, d56, d57, d58, e11, d59)

  /** Shared oracle CTE prefix replaying [[Similarity.assignCellsApprox]]
    * on the d41 fixture (metas = anchors % 150, nProbe = 1, self-assigned
    * metas): ends at `cands` = the probed cells' candidate centroids per
    * vector. e11 and d59 both build on it — one formulation, no drift. */
  private def approxAsgCtes: String = s"""a AS (
        SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 50 = 0),
      m AS (SELECT cid AS mid, cv AS mv FROM a WHERE cid % 150 = 0),
      c2ms AS (SELECT a.cid, a.cv, m.mid,
          ${QueryDef.cosSql64("a.cv", "m.mv")} AS sim
        FROM a CROSS JOIN m),
      c2m AS (SELECT cid, cv,
          CASE WHEN cid % 150 = 0 THEN cid ELSE mid END AS mid
        FROM (
          SELECT cid, cv, mid, row_number() OVER (PARTITION BY cid
            ORDER BY round(sim, 9) DESC, mid ASC) AS rn FROM c2ms) t
        WHERE rn = 1),
      vps AS (SELECT e.vec_id, e.embedding, m.mid,
          ${QueryDef.cosSql64("e.embedding", "m.mv")} AS sim
        FROM embeddings e CROSS JOIN m),
      probe AS (SELECT vec_id, embedding, mid FROM (
          SELECT vec_id, embedding, mid, row_number() OVER (PARTITION BY vec_id
            ORDER BY round(sim, 9) DESC, mid ASC) AS rn FROM vps) t
        WHERE rn = 1),
      cands AS (SELECT p.vec_id, p.embedding, c.cid, c.cv FROM probe p
        JOIN c2m c ON c.mid = p.mid)"""

  /** The full SemDeDup pipeline on APPROXIMATE assignment
    * ([[graft.operators.Dedup.semDeDupApprox]]) — the production
    * composition once the centroid count grows: cells from the two-level
    * search (e11's judged construction), then d41's exact pairing and
    * paper keeper policy inside each approximate cell. Everything stays
    * deterministic, so the oracle replays assignment AND dedup end to
    * end; per-doc verdicts differ from d41 exactly where the cell
    * differs, which is the judged point. */
  val d59 = QueryDef("d59_semdedup_ivf",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val anchors = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      graft.operators.Dedup.semDeDupApprox(emb, "vec_id", "embedding",
          anchors, cosineThreshold = 0.25, metaEvery = 150, nProbe = 1)
        .select(col("id").as("vec_id"), col("centroid_id").as("anchor_id"),
          round(col("centroid_sim"), 6).as("cos_anchor_r"), col("dropped"))
        .orderBy("vec_id")
    },
    Some(s"""WITH $approxAsgCtes,
      asg AS (SELECT vec_id, cid AS aid, sim FROM (
          SELECT vec_id, cid, sim,
            row_number() OVER (PARTITION BY vec_id ORDER BY
              round(sim, 9) DESC, cid ASC) AS rn
          FROM (SELECT vec_id, cid,
              ${QueryDef.cosSql64("embedding", "cv")} AS sim FROM cands) s) t
        WHERE rn = 1),
      losers AS (
        SELECT DISTINCT
          CASE WHEN (round(x.sim, 9), x.vec_id) < (round(y.sim, 9), y.vec_id)
            THEN y.vec_id ELSE x.vec_id END AS id
        FROM asg x
        JOIN asg y ON x.aid = y.aid AND x.vec_id < y.vec_id
        JOIN embeddings ex ON ex.vec_id = x.vec_id
        JOIN embeddings ey ON ey.vec_id = y.vec_id
        WHERE ${QueryDef.cosSql64("ex.embedding", "ey.embedding")} >= 0.25)
      SELECT g.vec_id, g.aid AS anchor_id, round(g.sim, 6) AS cos_anchor_r,
        (l.id IS NOT NULL) AS dropped
      FROM asg g LEFT JOIN losers l ON l.id = g.vec_id
      ORDER BY g.vec_id"""))

  /** Judged surface for [[Similarity.assignCellsApprox]] — the
    * hierarchical (IVF-style) approximate cell assignment that replaces
    * exact assignment's n·k cost when the centroid count grows with the
    * corpus (the d41 contract: n²/50 at the sf10 sweep). The fixture is
    * d41's (anchors = every 50th vec_id); metas = the anchors divisible
    * by 150, nProbe = 1 — real approximation at every SF (4/4/14 metas).
    * Judged PER VECTOR: the approx assignment (anchor + rounded cosine),
    * the exact assignment, and the agreement flag — the whole two-level
    * search is deterministic (id-sampled metas, exact cosines,
    * (round(sim,9), id) ties), so DuckDB replays construction AND
    * verdict; the aggregate agreement rate is then judged data, not a
    * claim. Production tunes metaEvery so |metas| ≈ √k and nProbe for
    * target agreement; near-random fixtures are the documented worst
    * case (e7's recall note). */
  val e11 = QueryDef("e11_semdedup_ivf_assign",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val anchors = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val approx = Similarity.assignCellsApprox(emb, anchors, "vec_id",
          "embedding", metaEvery = 150, nProbe = 1)
        .select(col("id").as("vec_id"),
          col("centroid_id").as("approx_anchor"),
          round(col("centroid_sim"), 6).as("approx_sim_r"))
      val exact = Similarity.assignCellsSim(emb, anchors, "vec_id", "embedding")
        .select(col("id").as("vec_id"), col("centroid_id").as("exact_anchor"))
      approx.join(exact, Seq("vec_id"))
        .withColumn("agree", col("approx_anchor") === col("exact_anchor"))
        .orderBy("vec_id")
    },
    Some(s"""WITH $approxAsgCtes,
      ax AS (SELECT vec_id, cid AS approx_anchor, round(sim, 6) AS approx_sim_r
        FROM (SELECT vec_id, cid, sim,
            row_number() OVER (PARTITION BY vec_id ORDER BY
              round(sim, 9) DESC, cid ASC) AS rn
          FROM (SELECT vec_id, cid,
              ${QueryDef.cosSql64("embedding", "cv")} AS sim FROM cands) s) t
        WHERE rn = 1),
      exs AS (SELECT e.vec_id, a.cid,
          ${QueryDef.cosSql64("e.embedding", "a.cv")} AS sim
        FROM embeddings e CROSS JOIN a),
      ex AS (SELECT vec_id, cid AS exact_anchor FROM (
          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
            ORDER BY round(sim, 9) DESC, cid ASC) AS rn FROM exs) t
        WHERE rn = 1)
      SELECT ax.vec_id, ax.approx_anchor, ax.approx_sim_r, ex.exact_anchor,
        (ax.approx_anchor = ex.exact_anchor) AS agree
      FROM ax JOIN ex USING (vec_id)
      ORDER BY ax.vec_id"""))

  /** C4's span-level deduplication (Raffel et al. 2020 §2.2: "we
    * discarded all but one of any three-sentence span occurring more than
    * once in the data set") — the remaining C4 move after d50 (page
    * rules), d56 (line rules) and d44 (window-granular exact substrings).
    * Sentences are extracted with the lookaround-free pattern
    * `[^.!?]*[.!?]` (Java and RE2 agree — lookbehind splits would fork
    * the engines); spans are every 3 consecutive sentences, keyed by the
    * d21 md5-prefix int; the keeper is the GLOBAL first occurrence
    * (lowest (doc_id, span_idx)) via a window partitioned by span hash —
    * one shuffle on the span key, no global window, the d1 scale shape.
    * The synthetic corpus has no sentence punctuation, so every
    * doc_id % 10 == 0 doc gains a punctuated tail: one doc-unique
    * anchor sentence (spans containing it are singletons — the keep
    * polarity) and three SHARED tail sentences whose span is identical
    * across all injected docs (a corpus-wide duplicate cluster — the
    * drop polarity, and the block-size case the span-hash shuffle must
    * absorb). Judged per span: hash, cluster size, first-occurrence
    * verdict. */
  val d58 = QueryDef("d58_c4_span_dedup",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val text2 = concat(col("text"), lit(". Unique anchor "),
        col("doc_id"),
        lit(" ends here! Shared tail one. Shared tail two? Shared tail three."))
      val sents = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          regexp_extract_all(text2, lit("[^.!?]*[.!?]"), lit(0)).as("sents"))
      val spans = sents
        .filter(size(col("sents")) >= 3)
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(1), size(col("sents")) - 2),
            i => concat_ws(" ",
              trim(element_at(col("sents"), i)),
              trim(element_at(col("sents"), i + 1)),
              trim(element_at(col("sents"), i + 2))))))
        .select(col("doc_id"), (col("pos") + 1).as("span_idx"),
          TextFns.hash32(col("col")).as("span_h"))
      spans
        .withColumn("dup_count",
          count(lit(1)).over(Window.partitionBy("span_h")))
        .withColumn("is_first",
          row_number().over(Window.partitionBy("span_h")
            .orderBy(col("doc_id").asc, col("span_idx").asc)) === 1)
        .orderBy("doc_id", "span_idx")
    },
    Some(s"""WITH t AS (SELECT doc_id,
        regexp_extract_all(text || '. Unique anchor ' || CAST(doc_id AS VARCHAR)
          || ' ends here! Shared tail one. Shared tail two? Shared tail three.',
          '[^.!?]*[.!?]') AS s
        FROM documents WHERE doc_id % 10 = 0),
      sp AS (SELECT doc_id, CAST(i AS INT) AS span_idx,
          ${TextFns.hash32Sql("trim(s[i]) || ' ' || trim(s[i+1]) || ' ' || trim(s[i+2])")} AS span_h
        FROM t, UNNEST(generate_series(1, len(s) - 2)) AS u(i)
        WHERE len(s) >= 3)
      SELECT doc_id, span_idx, span_h,
        count(*) OVER (PARTITION BY span_h) AS dup_count,
        (row_number() OVER (PARTITION BY span_h
          ORDER BY doc_id ASC, span_idx ASC) = 1) AS is_first
      FROM sp ORDER BY doc_id, span_idx"""))

  /** Incremental curation step (round-7 verdict task 6 — the reference's
    * B2/B7 skip-existing semantics on the corpus pipeline): the odd-id
    * half of the corpus is the already-curated STORE, the even-id half
    * (plus injected twins) is the NEW batch, and ONLY the batch is
    * curated — against the store's frozen normalized-hash set and frozen
    * per-lang mixture rates ([[graft.operators.Mixture.temperatureRates]]
    * over the store's language counts at freeze time). Stage routing per
    * batch doc plus the STATELESS hash shard (md5(id) % 8 — unlike d52's
    * position interleave, a later batch can never move an earlier doc's
    * shard). Twin injection keeps every judged surface non-empty:
    * +2e9 punctuated-suffix twins (pass C4 → reach mix/kept), +5e9
    * copies of store docs (must die at 'dedup' via the incumbent check),
    * +6e9 copies of batch docs (must die at 'dedup' via the
    * within-batch min-id keeper). The classifier stage runs with
    * FROZEN weights trained once on the STORE (positives = the curated
    * src0/src1/src2 slice — [[graft.operators.Classifier.trainNbWeights]])
    * and applied to the batch via [[graft.operators.Classifier.applyNbPareto]];
    * the oracle re-trains the same ≤4096-row bucket model from the store
    * rows and replays the left-join scoring (unmodeled buckets contribute
    * nothing) and the exp-free (2−s)⁹ acceptance chain term-for-term —
    * d48's replay, pointed at frozen state. The two-batch ≡ one-batch
    * equivalence proof is IncrementalCurationSpec. */
  val d57 = QueryDef("d57_incremental_curation",
    (s, dir) => {
      import org.apache.spark.sql.types.StringType
      val suffix = ". Extra sentence one! Extra sentence two? Extra three."
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
      val store = docs.filter(col("doc_id") % 2 === 1)
      val b0 = docs.filter(col("doc_id") % 2 === 0)
      val batch = b0
        .unionByName(b0.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 2000000000L).as("doc_id"), col("lang"),
            col("source"), concat(col("text"), lit(suffix)).as("text")))
        .unionByName(store.filter(col("doc_id") % 20 === 1)
          .select((col("doc_id") + 5000000000L).as("doc_id"), col("lang"),
            col("source"), col("text")))
        .unionByName(b0.filter(col("doc_id") % 30 === 0)
          .select((col("doc_id") + 6000000000L).as("doc_id"), col("lang"),
            col("source"), col("text")))
      val counts = store
        .groupBy(col("lang").cast(StringType).as("g"))
        .agg(count(lit(1)).as("n"))
        .filter(col("g").isNotNull)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val state = graft.operators.Incremental.CurationState(
        store.select(graft.operators.Incremental.normHash(col("text")).as("nh")),
        clsWeights = Some(graft.operators.Classifier.trainNbWeights(
          store, "doc_id", "text",
          col("source").isin("src0", "src1", "src2"))),
        rates = Mixture.temperatureRates(counts, alpha = 0.5, targetFraction = 0.5),
        nShards = 8)
      graft.operators.Incremental.curateBatch(batch, state)
        .orderBy("doc_id")
    },
    Some(s"""WITH store AS (
        SELECT doc_id, lang, source, text FROM documents WHERE doc_id % 2 = 1),
      b0 AS (SELECT doc_id, lang, source, text FROM documents WHERE doc_id % 2 = 0),
      batch AS (
        SELECT doc_id, lang, text FROM b0
        UNION ALL
        SELECT doc_id + 2000000000, lang,
          text || '. Extra sentence one! Extra sentence two? Extra three.'
        FROM b0 WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 5000000000, lang, text FROM store WHERE doc_id % 20 = 1
        UNION ALL
        SELECT doc_id + 6000000000, lang, text FROM b0 WHERE doc_id % 30 = 0),
      sh AS (SELECT doc_id, lang, text,
        md5(coalesce(trim(regexp_replace(regexp_replace(regexp_replace(
          translate(lower(text), '${TextFns.accentFrom}', '${TextFns.accentTo}'),
          '[0-9]', '0', 'g'), '[^a-z0 \\t\\n\\r\\f]', '', 'g'),
          '[ \\t\\n\\r\\f]+', ' ', 'g')), '')) AS nh
        FROM batch),
      sth AS (SELECT DISTINCT
        md5(coalesce(trim(regexp_replace(regexp_replace(regexp_replace(
          translate(lower(text), '${TextFns.accentFrom}', '${TextFns.accentTo}'),
          '[0-9]', '0', 'g'), '[^a-z0 \\t\\n\\r\\f]', '', 'g'),
          '[ \\t\\n\\r\\f]+', ' ', 'g')), '')) AS nh
        FROM store),
      keep AS (SELECT nh, min(doc_id) AS keeper FROM sh GROUP BY nh),
      s1 AS (SELECT sh.doc_id, sh.lang, sh.text,
          (sth.nh IS NULL AND sh.doc_id = keep.keeper) AS dedup_keep
        FROM sh JOIN keep USING (nh) LEFT JOIN sth ON sth.nh = sh.nh),
      c4g AS (SELECT doc_id, ${TextFns.c4PassSql("text")} AS c4_pass
        FROM s1 WHERE dedup_keep),
      s2 AS (SELECT s1.doc_id, s1.lang, s1.text FROM s1 JOIN c4g USING (doc_id)
        WHERE c4g.c4_pass),
      sttok AS (SELECT doc_id, (source IN ('src0','src1','src2')) AS pos,
          unnest(${TextFns.tokensSql("text")}) AS tok
        FROM store),
      stfeat AS (SELECT DISTINCT doc_id, pos,
          ${TextFns.hash32Sql("tok")} % 4096 AS bucket
        FROM sttok),
      sttot AS (SELECT count(*) FILTER (WHERE pos) AS np,
          count(*) FILTER (WHERE NOT pos) AS nn
        FROM (SELECT DISTINCT doc_id, pos FROM stfeat)),
      w AS (SELECT bucket,
          ln((count(*) FILTER (WHERE pos) + 1)::DOUBLE / (np + 2)::DOUBLE)
            - ln((count(*) FILTER (WHERE NOT pos) + 1)::DOUBLE / (nn + 2)::DOUBLE) AS w
        FROM stfeat CROSS JOIN sttot GROUP BY bucket, np, nn),
      bfeat AS (SELECT DISTINCT doc_id,
          ${TextFns.hash32Sql("tok")} % 4096 AS bucket
        FROM (SELECT doc_id,
            unnest(${TextFns.tokensSql("text")}) AS tok
          FROM s2)),
      sc AS (SELECT f.doc_id, count(w.w) AS n_feat,
          CASE WHEN count(w.w) > 0
            THEN round(sum(w.w) / count(w.w), 6) ELSE 0.0 END AS score_r
        FROM bfeat f LEFT JOIN w USING (bucket) GROUP BY f.doc_id),
      pr AS (SELECT doc_id,
          round(1.0 / (1.0 + exp(-score_r)), 6) AS prob_r,
          CAST(${TextFns.hash32Sql("CAST(doc_id AS VARCHAR) || '|u'")}
            % 1000000 AS DOUBLE) / 1000000.0 AS u
        FROM sc),
      cls AS (SELECT doc_id,
          (u > 1.0 - 1.0 / (((2.0 - prob_r) * (2.0 - prob_r))
            * ((2.0 - prob_r) * (2.0 - prob_r))
            * (((2.0 - prob_r) * (2.0 - prob_r)) * ((2.0 - prob_r) * (2.0 - prob_r)))
            * (2.0 - prob_r))) AS cls_kept
        FROM pr),
      s3 AS (SELECT s2.doc_id, s2.lang FROM s2 JOIN cls USING (doc_id)
        WHERE cls.cls_kept),
      per AS (SELECT lang, count(*) AS nl FROM store
        WHERE lang IS NOT NULL GROUP BY lang),
      den AS (SELECT list_sum(list(sqrt(CAST(nl AS DOUBLE)) ORDER BY lang)) AS dsum,
          CAST(sum(nl) AS BIGINT) AS total FROM per),
      rates AS (SELECT p.lang,
          CAST(floor(least(1.0,
            ((CAST(total AS DOUBLE) * 0.5) * sqrt(CAST(p.nl AS DOUBLE)))
              / dsum / CAST(p.nl AS DOUBLE)) * 10000.0) AS BIGINT) AS rate_bp
        FROM per p CROSS JOIN den),
      mix AS (SELECT s3.doc_id FROM s3 JOIN rates r ON r.lang = s3.lang
        WHERE ${TextFns.hash32Sql("CAST(s3.doc_id AS VARCHAR)")}
          % 10000 < r.rate_bp)
      SELECT s1.doc_id,
        CASE WHEN NOT s1.dedup_keep THEN 'dedup'
             WHEN NOT c4g.c4_pass THEN 'c4'
             WHEN NOT cls.cls_kept THEN 'classifier'
             WHEN mix.doc_id IS NULL THEN 'mix'
             ELSE 'kept' END AS stage,
        CASE WHEN mix.doc_id IS NOT NULL THEN
          ${TextFns.hash32Sql("CAST(s1.doc_id AS VARCHAR)")} % 8
        END AS shard
      FROM s1
      LEFT JOIN c4g USING (doc_id)
      LEFT JOIN cls ON cls.doc_id = s1.doc_id
      LEFT JOIN mix ON mix.doc_id = s1.doc_id
      ORDER BY s1.doc_id"""))

  /** Line-level C4 rules (Raffel et al. 2020, arXiv:1910.10683 §2.2 and
    * the released TF c4.py) — the rules d50 could not judge on the
    * driver's single-line corpus (the documented TextVector6 boundary,
    * round-7 verdict task 4): keep a line iff it ends in terminal
    * punctuation (./!/?/closing quote), has ≥ 5 words, does not mention
    * javascript, and is not cookie/policy boilerplate. Judged surface =
    * one row per (doc, line) with every rule's verdict. Multi-line
    * twins are injected deterministically (the d35 pattern): every
    * doc_id % 10 == 0 gains four crafted lines that each fail exactly
    * one rule plus one line that passes all — so every verdict polarity
    * is non-empty at every SF, and the remaining docs judge their single
    * line organically. The oracle replays the injection and the line
    * split (string_split on chr(10)) and every rule in DuckDB.
    * Scale shape: one narrow posexplode per doc (fan-out = line count),
    * all verdicts codegen'd scalar exprs, no shuffle before the ORDER BY
    * — a pure map at 100 TB. */
  val d56 = QueryDef("d56_c4_line_rules",
    (s, dir) => {
      val tail = "\nshort line" +
        "\nThis appended sentence definitely contains more than five words." +
        "\nEnable javascript to view this page." +
        "\nThis website uses cookies to improve your browsing experience." +
        "\nA trailing line with many words but no terminal punctuation at all"
      val multi = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 10 === 0, concat(col("text"), lit(tail)))
          .otherwise(col("text")).as("text2"))
      val lines = multi
        .select(col("doc_id"), posexplode(split(col("text2"), "\n", -1)))
        .select(col("doc_id"), (col("pos") + 1).as("line_no"),
          col("col").as("line"))
      val lowered = lower(col("line"))
      val policyPhrases = Seq("terms of use", "privacy policy",
        "cookie policy", "uses cookies", "use of cookies", "use cookies")
      val verdicts = lines.select(
        col("doc_id"), col("line_no"),
        size(TextFns.tokens(col("line"))).cast("long").as("n_words"),
        substring(rtrim(col("line")), -1, 1).isin(".", "!", "?", "\"")
          .as("ends_terminal"),
        lowered.contains("javascript").as("has_js"),
        policyPhrases.map(p => lowered.contains(p)).reduce(_ || _)
          .as("has_policy"))
      verdicts
        .withColumn("line_kept",
          col("ends_terminal") && col("n_words") >= 5 &&
            !col("has_js") && !col("has_policy"))
        .orderBy("doc_id", "line_no")
    },
    Some(s"""WITH m AS (SELECT doc_id,
        CASE WHEN doc_id % 10 = 0 THEN text
          || chr(10) || 'short line'
          || chr(10) || 'This appended sentence definitely contains more than five words.'
          || chr(10) || 'Enable javascript to view this page.'
          || chr(10) || 'This website uses cookies to improve your browsing experience.'
          || chr(10) || 'A trailing line with many words but no terminal punctuation at all'
        ELSE text END AS text2 FROM documents),
      sp AS (SELECT doc_id, string_split(text2, chr(10)) AS ln FROM m),
      l AS (SELECT doc_id, CAST(i AS INT) AS line_no, ln[i] AS line
        FROM sp, UNNEST(generate_series(1, len(ln))) AS u(i)),
      v AS (SELECT doc_id, line_no,
        CAST(len(${TextFns.tokensSql("line")}) AS BIGINT) AS n_words,
        right(rtrim(line), 1) IN ('.', '!', '?', '"') AS ends_terminal,
        contains(lower(line), 'javascript') AS has_js,
        (contains(lower(line), 'terms of use')
          OR contains(lower(line), 'privacy policy')
          OR contains(lower(line), 'cookie policy')
          OR contains(lower(line), 'uses cookies')
          OR contains(lower(line), 'use of cookies')
          OR contains(lower(line), 'use cookies')) AS has_policy
      FROM l)
      SELECT doc_id, line_no, n_words, ends_terminal, has_js, has_policy,
        (ends_terminal AND n_words >= 5 AND NOT has_js AND NOT has_policy)
          AS line_kept
      FROM v ORDER BY doc_id, line_no"""))

  /** Oracle-gated run of the PRODUCTION pqTrain path — the real MLlib
    * KMeans per subspace, not the e8/e9 anchor-derived stand-in
    * (closes the round-7 "unjudged fit interiors" gap for PQ).
    *
    * Fixture: every corpus vector is replaced by an exact copy of anchor
    * vec_id % 4 ∈ {0,1,2,3} — four well-separated blobs of IDENTICAL
    * points (one broadcast join; blob sizes ≈ n/4 at every SF). On such a
    * corpus the per-subspace k-means optimum is unique with cost 0: the
    * four anchor subvectors themselves. MLlib reaches it
    * deterministically — k-means|| samples candidate centers only from
    * data points with probability proportional to their current cost, so
    * duplicates of an already-chosen center (cost 0) are never sampled
    * and the distinct anchor points are the only possible centers; Lloyd
    * then fixes them (each center's cluster mean is the center itself, up
    * to mean-of-N-identical-doubles accumulation, ≤ ulps, absorbed by
    * round(6)). If two anchors COINCIDE in some subspace slice the
    * guarded fit ([[Similarity]] fitCenters) clamps k to the distinct
    * count — and the oracle's DISTINCT collapses identically, so the gate
    * still matches. Centroid ORDER is an MLlib internal, so the judged
    * claim is the SET of codewords: sorted lexicographically per
    * subspace, flattened to one row per (s, cw_rank, i) component.
    * The oracle re-derives the unique optimum relationally: the distinct
    * per-subspace anchor slices in the same lexicographic order. */
  val e10 = QueryDef("e10_pq_train_codebook",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val anchors = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("aid"), col("embedding").as("avec"))
      val fixture = emb.select(col("vec_id"), (col("vec_id") % 4).as("aid"))
        .join(broadcast(anchors), "aid")
        .select(col("vec_id"), col("avec").as("embedding"))
      val cb = Similarity.pqTrain(fixture, "embedding", dim = 64, m = 8,
        k = 4, seed = 7L, maxIter = 8)
      import scala.math.Ordering.Implicits.seqOrdering
      val flat = for {
        (subCb, si) <- cb.zipWithIndex.toSeq
        (cw, r) <- subCb.map(_.toSeq).sorted.zipWithIndex
        (c, i) <- cw.zipWithIndex
      } yield (si, r + 1, i + 1, c)
      val spark = s
      import spark.implicits._
      flat.toDF("s", "cw_rank", "i", "c")
        .select(col("s"), col("cw_rank"), col("i"), round(col("c"), 6).as("c_r"))
        .orderBy("s", "cw_rank", "i")
    },
    Some("""WITH sl AS (
        SELECT DISTINCT s,
          list_transform(range(1, 9), i -> CAST(embedding[s*8+i] AS DOUBLE)) AS cw
        FROM embeddings CROSS JOIN (SELECT UNNEST(generate_series(0, 7)) AS s)
        WHERE vec_id < 4),
      r AS (SELECT s, cw,
          row_number() OVER (PARTITION BY s ORDER BY cw) AS cw_rank
        FROM sl)
      SELECT CAST(s AS INT) AS s, CAST(cw_rank AS INT) AS cw_rank,
        CAST(i AS INT) AS i, round(cw[i], 6) AS c_r
      FROM r, UNNEST(generate_series(1, 8)) AS u(i)
      ORDER BY s, cw_rank, i"""))
}
