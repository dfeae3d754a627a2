package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.core.Tables
import graft.functions.TextFns
import graft.operators.{Classifier, Mixture, Similarity}

/** Ninth coverage batch — the remaining famous corpus-assembly moves, each
  * judged end-to-end: token-budgeted mixture selection (published
  * pretraining mixes are per-source TOKEN budgets — The Pile's subset
  * epochs, LLaMA's proportions), the GPT-3 quality-classifier +
  * Pareto-acceptance filter (Brown et al. 2020 Appendix A), and product
  * quantization for embeddings (Jégou et al. 2011) — both the code
  * construction (e9) and ADC top-k serving (e8). */
object TextVector6 {

  def defs: Seq[QueryDef] = Seq(d47, d48, d49, d50, e8, e9)

  /** Deterministic judged stand-in for [[Similarity.pqTrain]] (the d41
    * anchor-injection pattern): codeword j of subspace s is the s-th
    * 8-dim slice of anchor vector vec_id = 31·j (j < 16). Bounded driver
    * collect (≤ 16 rows); the oracle re-derives the same codebook
    * relationally from the same parquet, so the two cannot drift. */
  private def anchorCodebooks(emb: DataFrame): Array[Array[Array[Double]]] = {
    val anchors = emb.filter(col("vec_id") % 31 === 0 && col("vec_id") < 496)
      .select(col("vec_id"), col("embedding")).orderBy("vec_id").collect()
    require(anchors.nonEmpty, "embeddings table has no anchor vectors")
    // The oracle labels codeword j = vec_id / 31; Spark labels by dense
    // array position. A GAP in the anchor ids (a filtered/regenerated
    // table) would silently misalign the two labelings — e8's ADC would
    // still agree (self-consistent joins) but e9's packed code_key would
    // fork with no diagnostic. Pin the contract loudly instead.
    val ids = anchors.map(_.getLong(0)).toSeq
    require(ids == Seq.tabulate(ids.length)(_ * 31L),
      s"anchor ids must be exactly 0,31,..,${(ids.length - 1) * 31} (dense multiples of 31); got $ids")
    val vecs = anchors.map(_.getSeq[Float](1).toArray.map(_.toDouble))
    Array.tabulate(8)(s => vecs.map(_.slice(s * 8, s * 8 + 8)))
  }

  /** Token-budgeted mixture: each source's budget is 40% of its token
    * mass, stated in EXACT integer arithmetic (tokens·2 / 5, integer
    * division) so no float touches the budget boundary. Judged per
    * source: input mass, budget, kept docs/tokens/buckets — the oracle
    * replays the md5 bucketing, the per-bucket fill, the cum−t < budget
    * keep rule, and the selection join. The 1000 buckets keep the
    * bucket-granularity overshoot visible at every judged SF. */
  val d47 = QueryDef("d47_token_budget_mix",
    (s, dir) => {
      // ONE tokenize scan: this frame feeds totals (twice — budgets input
      // and final join), the per-bucket fill, and the selection join back
      // — the duplicated-lazy-plan trap; the lazy checkpoint truncates it
      // so tokenization runs once (at 100 TB the tokenize pass dominates)
      val docs = Tables.documents(s, dir)
        .withColumn("n_tokens", size(TextFns.tokens(col("text"))).cast(LongType))
        .localCheckpoint(false)
      val totals = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs_in"), sum(col("n_tokens")).as("tokens_in"))
        // DIV, not `/`: Spark's Divide is double-valued on longs; the
        // budget boundary must stay in exact integers (DuckDB `//`)
        .withColumn("budget", expr("tokens_in * 2 DIV 5"))
      val kept = Mixture.tokenBudgetSelect(docs, "source", "doc_id",
        "n_tokens", totals.select(col("source"), col("budget")))
      val keptAgg = kept.groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("tokens_kept"),
          countDistinct(col("__bucket")).as("n_buckets_kept"))
      totals.join(keptAgg, Seq("source"))
        .select(col("source"), col("n_docs_in"), col("tokens_in"),
          col("budget"), col("n_kept"), col("tokens_kept"), col("n_buckets_kept"))
        .orderBy("source")
    },
    Some(s"""WITH d AS (SELECT doc_id, source,
          CAST(len(${TextFns.tokensSql("text")}) AS BIGINT) AS n_tokens,
          ${TextFns.hash32Sql("CAST(doc_id AS VARCHAR)")}
            % 1000 AS bucket
        FROM documents),
      tot AS (SELECT source, count(*) AS n_docs_in,
          CAST(sum(n_tokens) AS BIGINT) AS tokens_in FROM d GROUP BY 1),
      bud AS (SELECT source, tokens_in * 2 // 5 AS budget FROM tot),
      pb AS (SELECT source, bucket, CAST(sum(n_tokens) AS BIGINT) AS t
        FROM d GROUP BY 1, 2),
      cums AS (SELECT source, bucket, t,
          sum(t) OVER (PARTITION BY source ORDER BY bucket) AS cum FROM pb),
      keepb AS (SELECT c.source, c.bucket
        FROM cums c JOIN bud b USING (source) WHERE c.cum - c.t < b.budget),
      k AS (SELECT d.source, count(*) AS n_kept,
          CAST(sum(d.n_tokens) AS BIGINT) AS tokens_kept,
          count(DISTINCT d.bucket) AS n_buckets_kept
        FROM d JOIN keepb kb ON kb.source = d.source AND kb.bucket = d.bucket
        GROUP BY 1)
      SELECT t.source, t.n_docs_in, t.tokens_in, b.budget,
        k.n_kept, k.tokens_kept, k.n_buckets_kept
      FROM tot t JOIN bud b USING (source) JOIN k USING (source)
      ORDER BY t.source"""))

  /** GPT-3 quality classifier + Pareto acceptance, positives = the
    * src0/src1/src2 slice (the "curated sources" stand-in). Judged per
    * doc: feature count, rounded raw score, rounded probability, the
    * md5 acceptance draw, and the keep verdict — the oracle re-trains
    * the NB log-odds bucket model from the same rows and replays the
    * exp-free (2−s)⁹ acceptance chain term-for-term. The two round(6)
    * fences bracket the libm calls (ln, exp) exactly as d24/d43. */
  val d48 = QueryDef("d48_quality_pareto",
    (s, dir) => Classifier.paretoQualityFilter(Tables.documents(s, dir),
        "doc_id", "text", col("source").isin("src0", "src1", "src2"))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id"),
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
      sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feat,
          round(sum(w) / count(*), 6) AS score_r
        FROM feats JOIN w USING (bucket) GROUP BY 1),
      pr AS (SELECT doc_id, n_feat, score_r,
          round(1.0 / (1.0 + exp(-score_r)), 6) AS prob_r,
          CAST(${TextFns.hash32Sql("CAST(doc_id AS VARCHAR) || '|u'")}
            % 1000000 AS DOUBLE) / 1000000.0 AS u
        FROM sc),
      c1 AS (SELECT *, (2.0 - prob_r) AS p FROM pr),
      c2 AS (SELECT *, p * p AS p2 FROM c1),
      c3 AS (SELECT *, p2 * p2 AS p4 FROM c2),
      c4 AS (SELECT *, p4 * p4 AS p8 FROM c3),
      c5 AS (SELECT *, p8 * p AS p9 FROM c4)
      SELECT doc_id, n_feat, score_r, prob_r, u,
        (u > 1.0 - 1.0 / p9) AS kept
      FROM c5 ORDER BY doc_id"""))

  /** CCNet perplexity bucketing (Wenzek et al. 2020, arXiv:1911.00359):
    * score every doc with the corpus-trained bigram LM (d24's exact
    * construction — MLE P(w2|w1), per-doc mean log-prob) and split the
    * corpus into head/middle/tail TERCILES of model fit — CCNet's
    * "perplexity buckets", the cheap quality stratification that picks
    * which slice feeds training. The tercile runs through the scale-safe
    * exact [[graft.core.Indexing.globalNtile]] (q50's machinery — bucketed
    * global row ids, NO single-partition ntile window). The ntile key is
    * the ROUNDED score: raw doubles differ across engines in last ulps
    * (libm ln + accumulation order), and a boundary flip would shift a
    * whole tercile edge; round(6) + doc_id tie-break make the order —
    * and hence the buckets — engine-identical. */
  val d49 = QueryDef("d49_perplexity_buckets",
    (s, dir) => {
      import org.apache.spark.sql.types.DoubleType
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
      val big = toks
        .select(col("doc_id"),
          explode(sequence(lit(1), size(col("t")) - 1)).as("i"), col("t"))
        .select(col("doc_id"),
          element_at(col("t"), col("i")).as("w1"),
          element_at(col("t"), col("i") + 1).as("w2"))
      val bigramCounts = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val unigramCounts = big.groupBy("w1").agg(count(lit(1)).as("c1"))
      // no broadcast hint on either count relation: both are
      // vocabulary-sized (unbounded in corpus scale — Heaps' law), so a
      // forced broadcast would OOM the driver at 100 TB; shuffle-join on
      // the word key and let AQE downgrade to broadcast when a corpus's
      // vocabulary actually is small (r8 advisor finding)
      val scored = big
        .join(bigramCounts, Seq("w1", "w2"))
        .join(unigramCounts, Seq("w1"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(log(col("c12").cast(DoubleType) / col("c1").cast(DoubleType))), 6)
            .as("logp_r"))
        // globalNtile consumes its input THREE times (count, bucket
        // histogram, pick) — un-checkpointed, the whole bigram-LM scoring
        // (tokenize + explode + two vocabulary joins) re-ran per pass
        // (r14; the d83 call site had the checkpoint, this one missed it).
        // Doc-count-sized relation, same contract as d83's.
        .localCheckpoint(false)
      graft.core.Indexing.globalNtile(scored, 3, "logp_r", "tercile",
          descending = true, tieBreak = Seq("doc_id"))
        .select(col("doc_id"), col("n_bigrams"), col("logp_r"),
          col("tercile"),
          when(col("tercile") === 1, "head").when(col("tercile") === 2, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (SELECT doc_id, ${TextFns.tokensSql("text")} AS t
        FROM documents),
      big AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 2),
      c2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
      c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY 1),
      sc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
          ROUND(AVG(ln(CAST(c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE))), 6) AS logp_r
        FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        GROUP BY doc_id),
      nt AS (SELECT doc_id, n_bigrams, logp_r,
          ntile(3) OVER (ORDER BY logp_r DESC, doc_id ASC) AS tercile
        FROM sc)
      SELECT doc_id, n_bigrams, logp_r, CAST(tercile AS INT) AS tercile,
        CASE WHEN tercile = 1 THEN 'head' WHEN tercile = 2 THEN 'middle'
          ELSE 'tail' END AS bucket
      FROM nt ORDER BY doc_id"""))

  /** The C4 cleaning-rule composite (Raffel et al. 2020, arXiv:1910.10683
    * §2.2 — the published "Colossal Clean Crawled Corpus" filter set),
    * doc-level rules with per-rule verdicts: ≥ 3 sentences (terminal
    * punctuation count), no "lorem ipsum", no curly brace (the code
    * filter), no "javascript" token, no bad-words hit (literal stand-in
    * list). Every rule is exact integer/substring arithmetic — no float
    * near any boundary, engine-identical by construction. Line-level
    * rules (terminal-punctuation line ends, citation/policy line drops)
    * are N/A on this single-line corpus, same boundary as d46; together
    * the published filter stacks are all present: C4 (this), Gopher
    * (d46), and the repetition/quality family (d3/d12/d32/d36). */
  val d50 = QueryDef("d50_c4_rules",
    (s, dir) => {
      val lowered = lower(col("text"))
      // rule primitives shared with the d54 composition (TextFns) so the
      // two rule sets cannot drift; equivalence pinned by spec
      val badwords = TextFns.c4Badwords
      val m = Tables.documents(s, dir).select(col("doc_id"),
        TextFns.c4SentenceCount(col("text")).as("n_sentences"),
        lowered.contains("lorem ipsum").as("has_lorem"),
        col("text").contains("{").as("has_brace"),
        lowered.contains("javascript").as("has_javascript"),
        badwords.map(w => lowered.contains(w)).reduce(_ || _).as("has_badword"))
      m.select(col("doc_id"), col("n_sentences"), col("has_lorem"),
          col("has_brace"), col("has_javascript"), col("has_badword"),
          (col("n_sentences") >= 3 && !col("has_lorem") && !col("has_brace") &&
            !col("has_javascript") && !col("has_badword")).as("c4_pass"))
        .orderBy("doc_id")
    },
    Some("""WITH m AS (SELECT doc_id,
        CAST(length(text) - length(regexp_replace(text, '[.!?]', '', 'g')) AS BIGINT)
          AS n_sentences,
        contains(lower(text), 'lorem ipsum') AS has_lorem,
        contains(text, '{') AS has_brace,
        contains(lower(text), 'javascript') AS has_javascript,
        (contains(lower(text), 'badword1') OR contains(lower(text), 'badword2')
          OR contains(lower(text), 'badword3')) AS has_badword
      FROM documents)
      SELECT doc_id, n_sentences, has_lorem, has_brace, has_javascript,
        has_badword,
        (n_sentences >= 3 AND NOT has_lorem AND NOT has_brace
          AND NOT has_javascript AND NOT has_badword) AS c4_pass
      FROM m ORDER BY doc_id"""))

  /** PQ ADC top-10 over the embeddings table: anchor-derived codebooks
    * (m = 8 subspaces × ≤ 16 codewords), every vector encoded, queries =
    * the vec_id % 83 sample. The oracle re-derives the codebook from the
    * same parquet, replays the argmin encode (row_number over (d, j) ≡
    * first-position-of-min), tabulates the same LUT, and folds the ADC
    * sum in subspace order (list_sum over list(d ORDER BY s) ≡ the
    * zip_with/aggregate left fold). Pure IEEE mult/add — round(6) is
    * comfortably exact.
    * COST CONTRACT: the query set grows as n/83, so the judged ADC scan
    * is n²/83 pairs (~3·10⁹ at sf10, 93 s — ~30M scored pairs/s);
    * production serves bounded query batches, linear in corpus. */
  val e8 = QueryDef("e8_pq_adc_topk",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = anchorCodebooks(emb)
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      val queries = emb.filter(col("vec_id") % 83 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      Similarity.pqAdcTopK(queries, enc, cb, 10)
        .select(col("query_id"), col("neighbor_id"),
          round(col("adc"), 6).as("adc_r"), col("rank"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH cb AS (
        SELECT CAST(vec_id // 31 AS INT) AS j, s,
          list_transform(range(1, 9), i -> CAST(embedding[s*8+i] AS DOUBLE)) AS cw
        FROM embeddings CROSS JOIN (SELECT UNNEST(generate_series(0, 7)) AS s)
        WHERE vec_id % 31 = 0 AND vec_id < 496),
      dists AS (SELECT e.vec_id, c.s, c.j,
          list_sum(list_transform(range(1, 9), i ->
            (CAST(e.embedding[c.s*8+i] AS DOUBLE) - c.cw[i])
              * (CAST(e.embedding[c.s*8+i] AS DOUBLE) - c.cw[i]))) AS d
        FROM embeddings e CROSS JOIN cb c),
      codes AS (SELECT vec_id, s, j FROM (
          SELECT vec_id, s, j,
            row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
          FROM dists) t
        WHERE rn = 1),
      lut AS (SELECT q.vec_id AS query_id, c.s, c.j,
          list_sum(list_transform(range(1, 9), i ->
            (CAST(q.embedding[c.s*8+i] AS DOUBLE) - c.cw[i])
              * (CAST(q.embedding[c.s*8+i] AS DOUBLE) - c.cw[i]))) AS d
        FROM embeddings q CROSS JOIN cb c WHERE q.vec_id % 83 = 0),
      adc AS (SELECT l.query_id, x.vec_id AS neighbor_id,
          list_sum(list(l.d ORDER BY l.s)) AS adc
        FROM codes x JOIN lut l ON l.s = x.s AND l.j = x.j
        WHERE l.query_id <> x.vec_id
        GROUP BY 1, 2)
      SELECT query_id, neighbor_id, round(adc, 6) AS adc_r,
        CAST(rank AS INT) AS rank FROM (
        SELECT query_id, neighbor_id, adc,
          row_number() OVER (PARTITION BY query_id
            ORDER BY round(adc, 9), neighbor_id) AS rank
        FROM adc) t
      WHERE rank <= 10 ORDER BY query_id, rank"""))

  /** PQ code construction pinned per vector: the m codes packed into one
    * integer key (code_s · 16^s as exact long shifts) — the cheapest
    * whole-construction oracle, same role as d21/d25/d45 for the sketch
    * families. */
  val e9 = QueryDef("e9_pq_codes",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = anchorCodebooks(emb)
      val codeKey = (0 until 8).map(sp =>
        shiftleft(element_at(col("codes"), sp + 1).cast(LongType), sp * 4))
        .reduce(_ + _)
      Similarity.pqEncode(emb, "vec_id", "embedding", cb)
        .select(col("id").as("vec_id"), codeKey.as("code_key"))
        .orderBy("vec_id")
    },
    Some("""WITH cb AS (
        SELECT CAST(vec_id // 31 AS INT) AS j, s,
          list_transform(range(1, 9), i -> CAST(embedding[s*8+i] AS DOUBLE)) AS cw
        FROM embeddings CROSS JOIN (SELECT UNNEST(generate_series(0, 7)) AS s)
        WHERE vec_id % 31 = 0 AND vec_id < 496),
      dists AS (SELECT e.vec_id, c.s, c.j,
          list_sum(list_transform(range(1, 9), i ->
            (CAST(e.embedding[c.s*8+i] AS DOUBLE) - c.cw[i])
              * (CAST(e.embedding[c.s*8+i] AS DOUBLE) - c.cw[i]))) AS d
        FROM embeddings e CROSS JOIN cb c),
      codes AS (SELECT vec_id, s, j FROM (
          SELECT vec_id, s, j,
            row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
          FROM dists) t
        WHERE rn = 1)
      SELECT vec_id,
        CAST(sum(j * (CAST(1 AS BIGINT) << (s * 4))) AS BIGINT) AS code_key
      FROM codes GROUP BY vec_id ORDER BY vec_id"""))
}
