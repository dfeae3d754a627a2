package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Similarity
import graft.functions.TextFns

/** Twelfth coverage batch (round 8, continued): the IVFADC search
  * composition — [[graft.operators.Similarity.ivfAdcTopK]], Jégou, Douze
  * & Schmid 2011 §IV ("Product Quantization for Nearest Neighbor
  * Search", IEEE TPAMI 33(1)) — judged end to end (e8 judged the ADC
  * scan, e9 the codes, e11 the coarse assignment; e12 judges what the
  * paper actually ships: coarse cells + RESIDUAL product codes +
  * per-probed-cell ADC); the leakage-safe dedup-cluster-atomic
  * train/val/test split (d60, [[graft.operators.Splits]]); the
  * data-constrained epoch-allocation rule (d61, Muennighoff et al.
  * 2023); GPT-style sequence packing over the weighted global prefix sum
  * (d62, [[graft.core.Indexing.globalPrefixSum]]); and UniMax
  * epoch-capped water-filling (d63, Chung et al. 2023). */
object TextVector9 {

  def defs: Seq[QueryDef] = Seq(e12, d60, d61, d62, d63)

  /** GPT-style sequence packing (concat-and-chunk): shuffle the corpus
    * deterministically (d52's md5 order), lay documents end to end, and
    * cut the token stream into fixed-length training sequences (L = 128)
    * — each doc's placement is its global token offset, from
    * [[graft.core.Indexing.globalPrefixSum]] (the weighted twin of d52's
    * globalRowIds: bucketed two-pass, no single-partition window). Judged
    * per doc: offset, first/last sequence touched, sequences spanned —
    * the packing manifest a trainer consumes. Corpus mean doc length
    * (~55 tokens) vs L=128 keeps both polarities rich at every SF (docs
    * within one sequence AND docs straddling a boundary). The keyed
    * frame is checkpointed: it feeds the prefix-sum's bounds scan,
    * histogram scan, output scan, and the final orderBy's sampling pass
    * (the multi-consumer rule — without it the tokenize re-runs four
    * times). tok_offset ≥ 0 so `div` matches the oracle's floor `//`. */
  val d62 = QueryDef("d62_sequence_packing",
    (s, dir) => {
      import org.apache.spark.sql.types.LongType
      val keyed = Tables.documents(s, dir)
        .select(col("doc_id"),
          TextFns.hash32(col("doc_id").cast("string")).as("hkey"),
          size(graft.functions.TextFns.tokens(col("text"))).cast(LongType)
            .as("n_toks"))
        .localCheckpoint(false)
      graft.core.Indexing.globalPrefixSum(keyed, "hkey", "n_toks",
          "tok_offset", tieBreak = Seq("doc_id"))
        .withColumn("seq_start", expr("tok_offset div 128"))
        .withColumn("seq_end", expr("(tok_offset + n_toks - 1) div 128"))
        .withColumn("n_seqs", col("seq_end") - col("seq_start") + 1L)
        .orderBy("doc_id")
    },
    Some(s"""WITH k AS (SELECT doc_id,
        ${TextFns.hash32Sql("CAST(doc_id AS VARCHAR)")}
          AS hkey,
        CAST(len(${TextFns.tokensSql("text")}) AS BIGINT) AS n_toks
        FROM documents),
      p AS (SELECT doc_id, hkey, n_toks,
          CAST(COALESCE(SUM(n_toks) OVER (ORDER BY hkey ASC, doc_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS tok_offset
        FROM k)
      SELECT doc_id, hkey, n_toks, tok_offset,
        tok_offset // 128 AS seq_start,
        (tok_offset + n_toks - 1) // 128 AS seq_end,
        (tok_offset + n_toks - 1) // 128 - tok_offset // 128 + 1 AS n_seqs
      FROM p ORDER BY doc_id"""))

  /** UniMax epoch-capped allocation
    * ([[graft.operators.Mixture.unimaxAllocation]], Chung et al. 2023):
    * spread the global budget uniformly across sources except that no
    * source repeats past 4 epochs — the dual of d61's equal-share rule,
    * via the water-filling closed form in exact integer arithmetic. Same
    * deterministic heavy-tail fixture as d61 (srcN keeps doc_id % (N+1)
    * == 0 — ~8 surviving sources spanning ~20× mass), budget = 2×total
    * unique mass + 3: small sources cap (alloc = 4×unique), the largest
    * two split the leftover, and the +3 makes the remainder nonzero so
    * the one-extra-token rule is judged at every SF. Scale shape: one
    * (source, hash) dedup shuffle + one source rollup + ONE bounded
    * collect; the allocation itself is driver math over ≤|sources| rows
    * (the temperatureRates contract), so the plan carries no global
    * window and no second corpus scan. */
  val d63 = QueryDef("d63_unimax_allocation",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.LongType
      val srcN = substring(col("source"), 4, 10).cast("int")
      val perSource = Tables.documents(s, dir)
        .filter(col("doc_id") % (srcN + 1) === 0)
        .select(col("source"), md5(col("text")).as("h"),
          size(graft.functions.TextFns.tokens(col("text"))).cast(LongType)
            .as("n_toks"))
        .groupBy("source", "h").agg(max("n_toks").as("n_toks"))
        .groupBy("source").agg(sum("n_toks").as("unique_tokens"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val budget = perSource.map(_._2).sum * 2L + 3L
      graft.operators.Mixture.unimaxAllocation(perSource, budget)
        .toDF("source", "unique_tokens", "cap_tokens", "capped",
          "alloc_tokens", "budget_left")
        .withColumn("budget", lit(budget))
        .orderBy("source")
    },
    Some(s"""WITH d AS (SELECT source, md5(text) AS h,
          CAST(len(${TextFns.tokensSql("text")}) AS BIGINT) AS n_toks
        FROM documents
        WHERE doc_id % (CAST(substr(source, 4) AS INT) + 1) = 0),
      u AS (SELECT source, h, max(n_toks) AS n_toks FROM d GROUP BY 1, 2),
      ps AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS unique_tokens
        FROM u GROUP BY 1),
      tot AS (SELECT CAST(sum(unique_tokens) * 2 + 3 AS BIGINT) AS b,
          count(*) AS k FROM ps),
      s AS (SELECT source, unique_tokens,
          CAST(unique_tokens * 4 AS BIGINT) AS cap_tokens,
          CAST(row_number() OVER (ORDER BY unique_tokens * 4 ASC, source ASC)
            AS BIGINT) AS j,
          CAST(COALESCE(SUM(unique_tokens * 4) OVER (
            ORDER BY unique_tokens * 4 ASC, source ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS s_prev
        FROM ps),
      f AS (SELECT s.*, b, k,
          (cap_tokens * (k - j + 1) <= b - s_prev) AS flag
        FROM s CROSS JOIN tot),
      c AS (SELECT f.*,
          (MIN(CASE WHEN flag THEN 1 ELSE 0 END) OVER (
            ORDER BY cap_tokens ASC, source ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1) AS capped
        FROM f),
      a2 AS (SELECT CAST(COALESCE(SUM(CASE WHEN capped THEN cap_tokens END), 0)
            AS BIGINT) AS s_m,
          CAST(COALESCE(SUM(CASE WHEN NOT capped THEN 1 END), 0) AS BIGINT)
            AS nu
        FROM c),
      r AS (SELECT c.*, s_m, nu,
          CAST(SUM(CASE WHEN capped THEN 0 ELSE 1 END) OVER (
            ORDER BY cap_tokens ASC, source ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ru
        FROM c CROSS JOIN a2)
      SELECT source, unique_tokens, cap_tokens, capped,
        CAST(CASE WHEN capped THEN cap_tokens
          ELSE (b - s_m) // nu
            + CASE WHEN ru <= (b - s_m) % nu THEN 1 ELSE 0 END END AS BIGINT)
          AS alloc_tokens,
        CAST(CASE WHEN nu > 0 THEN 0 ELSE b - s_m END AS BIGINT)
          AS budget_left,
        b AS budget
      FROM r ORDER BY source"""))

  /** Leakage-safe (dedup-cluster-atomic) train/val/test split —
    * [[graft.operators.Splits.leakageSafeSplit]] keyed by d51's CCNet
    * normalization hash: a per-DOCUMENT random split puts trivial
    * variants of one text on both sides of the train/test fence and the
    * eval measures memorization; routing the CLUSTER key makes straddling
    * impossible by construction (GroupShuffleSplit semantics, split =
    * f(md5(cluster||salt)) mod 100 → 80/10/10). Injected twins (every
    * doc_id % 10 doc re-appears under id+3e9 with identical text) create
    * multi-member clusters at every SF, so the judged surface carries the
    * hazard the operator neutralizes, not just singletons. Judged per
    * doc: cluster hash, cluster size, bucket, split. Scale shape: the
    * normalize+md5 is one narrow pass (checkpointed — it feeds the
    * cluster counts, the join-back, and the final orderBy's sampling
    * pass); one hash shuffle for cluster sizes; the split itself is
    * stateless routing, so an incremental batch can never move an
    * earlier doc's split (the d52/Incremental property). */
  val d60 = QueryDef("d60_leakage_safe_split",
    (s, dir) => {
      import org.apache.spark.sql.types.LongType
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val docs = base.unionByName(
        base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 3000000000L).as("doc_id"), col("text")))
      val h = docs
        .select(col("doc_id"),
          md5(graft.functions.TextFns.ccnetNormalize(col("text"))).as("grp_h"))
        .localCheckpoint(false)
      val clusters = h.groupBy("grp_h").agg(count(lit(1)).as("n_in_group"))
      graft.operators.Splits.leakageSafeSplit(
          h.join(clusters, Seq("grp_h")), col("grp_h"))
        .select(col("doc_id"), col("grp_h"), col("n_in_group").cast(LongType)
          .as("n_in_group"), col("split_bucket"), col("split"))
        .orderBy("doc_id")
    },
    Some(s"""WITH base AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 3000000000, text FROM documents WHERE doc_id % 10 = 0),
      n AS (SELECT doc_id,
        trim(regexp_replace(regexp_replace(regexp_replace(
          translate(lower(text), '${graft.functions.TextFns.accentFrom}',
            '${graft.functions.TextFns.accentTo}'),
          '[0-9]', '0', 'g'), '[^a-z0 \\t\\n\\r\\f]', '', 'g'),
          '[ \\t\\n\\r\\f]+', ' ', 'g')) AS norm
        FROM base),
      h AS (SELECT doc_id, md5(norm) AS grp_h FROM n),
      c AS (SELECT grp_h, count(*) AS n_in_group FROM h GROUP BY 1),
      b AS (SELECT doc_id, grp_h, n_in_group,
          CAST(${TextFns.hash32Sql("grp_h || '|split'")}
            % 100 AS INT) AS split_bucket
        FROM h JOIN c USING (grp_h))
      SELECT doc_id, grp_h, n_in_group, split_bucket,
        CASE WHEN split_bucket < 80 THEN 'train'
             WHEN split_bucket < 90 THEN 'val'
             ELSE 'test' END AS split
      FROM b ORDER BY doc_id"""))

  /** Epoch allocation under a token budget (Muennighoff et al. 2023,
    * arXiv:2305.16264 "Scaling Data-Constrained Language Models": repeated
    * data is nearly as good as fresh for ~4 epochs, then decays — so a
    * budgeted pipeline REPEATS small sources up to 4× before giving up
    * the shortfall). Per source: unique token mass (after d1-style exact
    * dedup within the source), an equal share of the global budget
    * (1.5× total unique mass), epochs = min(4, ceil(target/unique)),
    * allocated = min(target, epochs·unique), shortfall — ALL exact
    * integer arithmetic (DIV, never `/`), the d47 budget rule. The
    * fixture heavy-tails the per-source mass deterministically (source
    * srcN keeps doc_id % (N+1) == 0) so every polarity is non-empty at
    * every SF: 1-epoch big sources, multi-epoch middles, 4-capped tails
    * with real shortfall — the near-uniform synthetic sources would
    * otherwise all land on one epoch count. (The generator assigns
    * doc_id ≡ N (mod 20) within srcN, so the filter is UNSATISFIABLE for
    * the N where gcd-incompatible — only ~8 sources survive; that is the
    * point: the survivors' masses span ~20× where the raw sources span
    * 1.4×, and a vanished source is identical on both engines.) Scale
    * shape: one (source,
    * hash) dedup shuffle + one source rollup; the budget scalar is a
    * bounded driver reduction over ≤|sources| rows (checkpointed — it
    * feeds the scalar collect and the final projection). */
  val d61 = QueryDef("d61_epoch_allocation",
    (s, dir) => {
      import org.apache.spark.sql.types.LongType
      val srcN = substring(col("source"), 4, 10).cast("int")
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id") % (srcN + 1) === 0)
        .select(col("source"), md5(col("text")).as("h"),
          size(graft.functions.TextFns.tokens(col("text"))).cast(LongType).as("n_toks"))
      val uniq = docs.groupBy("source", "h").agg(max("n_toks").as("n_toks"))
      val perSource = uniq.groupBy("source")
        .agg(count(lit(1)).as("unique_docs"), sum("n_toks").as("unique_tokens"))
        .localCheckpoint(false)
      val Array(tot) = perSource
        .agg(sum("unique_tokens").as("t"), count(lit(1)).as("ns")).collect()
      val target = tot.getLong(0) * 3L / 2L / tot.getLong(1)
      perSource
        .withColumn("target_tokens", lit(target))
        .withColumn("epochs",
          least(lit(4L), expr(s"($target + unique_tokens - 1) div unique_tokens")))
        .withColumn("allocated_tokens",
          least(col("target_tokens"), col("epochs") * col("unique_tokens")))
        .withColumn("shortfall_tokens",
          col("target_tokens") - col("allocated_tokens"))
        .orderBy("source")
    },
    Some(s"""WITH d AS (SELECT source, md5(text) AS h,
          CAST(len(${TextFns.tokensSql("text")}) AS BIGINT) AS n_toks
        FROM documents
        WHERE doc_id % (CAST(substr(source, 4) AS INT) + 1) = 0),
      u AS (SELECT source, h, max(n_toks) AS n_toks FROM d GROUP BY 1, 2),
      ps AS (SELECT source, count(*) AS unique_docs,
          CAST(sum(n_toks) AS BIGINT) AS unique_tokens
        FROM u GROUP BY 1),
      tot AS (SELECT CAST(sum(unique_tokens) AS BIGINT) AS t,
          count(*) AS ns FROM ps),
      tgt AS (SELECT CAST(t * 3 // 2 // ns AS BIGINT) AS target FROM tot)
      SELECT source, unique_docs, unique_tokens,
        target AS target_tokens,
        CAST(least(4, (target + unique_tokens - 1) // unique_tokens) AS BIGINT)
          AS epochs,
        CAST(least(target,
          least(4, (target + unique_tokens - 1) // unique_tokens)
            * unique_tokens) AS BIGINT) AS allocated_tokens,
        CAST(target - least(target,
          least(4, (target + unique_tokens - 1) // unique_tokens)
            * unique_tokens) AS BIGINT) AS shortfall_tokens
      FROM ps CROSS JOIN tgt ORDER BY source"""))

  /** Residual codebook stand-in for the judged query, derived exactly the
    * way e8/e9 derive their raw-space codebooks (anchor slices; the dense
    * multiples-of-31 contract, loudly required) — except in RESIDUAL
    * space: each codebook anchor is first assigned to its coarse cell
    * through the JUDGED assignment path ([[Similarity.assignCellsSim]] —
    * reusing it means the codebook cannot drift from the oracle's
    * replayed assignment), and the codeword is the anchor-minus-centroid
    * difference, sliced per subspace. All arithmetic is exact: float →
    * double widening then one IEEE subtraction per element, identical to
    * DuckDB's CAST(a[i] AS DOUBLE) − CAST(c[i] AS DOUBLE). The production
    * trainer is [[Similarity.pqTrain]] over the residual column (e10
    * gates its KMeans path); this stand-in keeps e12's judged surface
    * independently replayable. */
  private def residualCodebooks(emb: DataFrame,
                                coarse: DataFrame): Array[Array[Array[Double]]] = {
    val cbAnchors = emb.filter(col("vec_id") % 31 === 0 && col("vec_id") < 496)
    val rows = Similarity.assignCellsSim(cbAnchors, coarse, "vec_id", "embedding")
      .join(broadcast(coarse.select(col("centroid_id"),
        col("centroid_vec").as("__acv"))), Seq("centroid_id"))
      .select(col("id"), col("v"), col("__acv"))
      .orderBy("id").collect()
    require(rows.nonEmpty, "embeddings table has no codebook anchor vectors")
    val ids = rows.map(_.getLong(0)).toSeq
    require(ids == Seq.tabulate(ids.length)(_ * 31L),
      s"codebook anchor ids must be exactly 0,31,..,${(ids.length - 1) * 31} " +
        s"(dense multiples of 31 — the oracle labels codeword j = vec_id/31); got $ids")
    val res = rows.map { r =>
      val v = r.getSeq[Float](1)
      val c = r.getSeq[Float](2)
      require(v != null && c != null && v.length == 64 && c.length == 64,
        "codebook anchors must carry full 64-dim vectors")
      Array.tabulate(64)(i => v(i).toDouble - c(i).toDouble)
    }
    Array.tabulate(8)(s => res.map(_.slice(s * 8, s * 8 + 8)))
  }

  /** IVFADC top-10 over the embeddings table: coarse cells = the d41/e11
    * anchor lattice (vec_id % 50), corpus vectors exactly assigned and
    * residual-encoded into the inverted file (cell, id, codes); queries
    * (the e8 vec_id % 83 sample) probe their nProbe = 2 nearest cells and
    * ADC-scan ONLY those cells' codes through a per-(query, cell)
    * residual lookup table. Judged per returned neighbor: the probed cell
    * it came from, the rounded ADC distance, and the rank — the oracle
    * re-derives the assignment (e11's CTEs), the residual codebook, the
    * argmin encode, the probe selection, the per-cell LUT, and the
    * s-ordered ADC fold, so construction AND search are both judged.
    *
    * SCALE CONTRACT: the serving scan is n·nProbe/k_c codes per query
    * (~n/5 here) instead of n, each code 8 bytes instead of 256 — the
    * two multipliers (probe restriction, 32× compression) that make a
    * 100 TB embedding sweep an I/O problem instead of a FLOP problem.
    * Like e8, the judged FIXTURE grows its query set with the corpus
    * (n/83), so the judged pair mass is n²·nProbe/(83·k_c); production
    * query batches are bounded. Recall is nProbe-governed (e7's
    * measured-recall note); the paper's +R re-rank is exact-cosine over
    * the returned k·|q| pairs downstream. */
  val e12 = QueryDef("e12_ivfadc_topk",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val coarse = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val cells = Similarity.assignCellsSim(emb, coarse, "vec_id", "embedding")
      val cb = residualCodebooks(emb, coarse)
      val queries = emb.filter(col("vec_id") % 83 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      Similarity.ivfAdcTopK(queries, cells, coarse, cb, k = 10, nProbe = 2)
        .select(col("query_id"), col("centroid_id").as("cell_id"),
          col("neighbor_id"), round(col("adc"), 6).as("adc_r"), col("rank"))
        // lazy checkpoint: the final global orderBy's range-sampling pass
        // would otherwise re-execute the whole assignment+encode+scan
        // subtree (the repo's multi-consumer rule); the checkpoint is
        // k·|queries| rows
        .localCheckpoint(false)
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH a AS (
        SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 50 = 0),
      exs AS (SELECT e.vec_id, a.cid, ${QueryDef.cosSql64("e.embedding", "a.cv")} AS sim
        FROM embeddings e CROSS JOIN a),
      asg AS (SELECT vec_id, cid, cv FROM (
          SELECT x.vec_id, x.cid, a.cv, row_number() OVER (PARTITION BY x.vec_id
            ORDER BY round(x.sim, 9) DESC, x.cid ASC) AS rn
          FROM exs x JOIN a ON a.cid = x.cid) t
        WHERE rn = 1),
      cb AS (SELECT CAST(g.vec_id // 31 AS INT) AS j, s,
          list_transform(range(1, 9), i ->
            CAST(e.embedding[s*8+i] AS DOUBLE) - CAST(g.cv[s*8+i] AS DOUBLE)) AS cw
        FROM (SELECT vec_id, cv FROM asg WHERE vec_id % 31 = 0 AND vec_id < 496) g
        JOIN embeddings e ON e.vec_id = g.vec_id
        CROSS JOIN (SELECT UNNEST(generate_series(0, 7)) AS s)),
      dists AS (SELECT e.vec_id, g.cid AS acid, c.s, c.j,
          list_sum(list_transform(range(1, 9), i ->
            ((CAST(e.embedding[c.s*8+i] AS DOUBLE) - CAST(g.cv[c.s*8+i] AS DOUBLE)) - c.cw[i])
            * ((CAST(e.embedding[c.s*8+i] AS DOUBLE) - CAST(g.cv[c.s*8+i] AS DOUBLE)) - c.cw[i]))) AS d
        FROM embeddings e JOIN asg g ON g.vec_id = e.vec_id CROSS JOIN cb c),
      codes AS (SELECT vec_id, acid, s, j FROM (
          SELECT vec_id, acid, s, j,
            row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
          FROM dists) t
        WHERE rn = 1),
      qp AS (SELECT q.vec_id AS query_id, q.embedding AS qv, a.cid, a.cv,
          ${QueryDef.cosSql64("q.embedding", "a.cv")} AS sim
        FROM embeddings q CROSS JOIN a WHERE q.vec_id % 83 = 0),
      probe AS (SELECT query_id, qv, cid, cv FROM (
          SELECT query_id, qv, cid, cv, row_number() OVER (PARTITION BY query_id
            ORDER BY round(sim, 9) DESC, cid ASC) AS rn FROM qp) t
        WHERE rn <= 2),
      lut AS (SELECT p.query_id, p.cid, c.s, c.j,
          list_sum(list_transform(range(1, 9), i ->
            ((CAST(p.qv[c.s*8+i] AS DOUBLE) - CAST(p.cv[c.s*8+i] AS DOUBLE)) - c.cw[i])
            * ((CAST(p.qv[c.s*8+i] AS DOUBLE) - CAST(p.cv[c.s*8+i] AS DOUBLE)) - c.cw[i]))) AS d
        FROM probe p CROSS JOIN cb c),
      adc AS (SELECT l.query_id, x.acid AS cell_id, x.vec_id AS neighbor_id,
          list_sum(list(l.d ORDER BY l.s)) AS adc
        FROM codes x JOIN lut l ON l.cid = x.acid AND l.s = x.s AND l.j = x.j
        WHERE l.query_id <> x.vec_id
        GROUP BY 1, 2, 3)
      SELECT query_id, cell_id, neighbor_id, round(adc, 6) AS adc_r,
        CAST(rank AS INT) AS rank FROM (
        SELECT query_id, cell_id, neighbor_id, adc,
          row_number() OVER (PARTITION BY query_id
            ORDER BY round(adc, 9), neighbor_id) AS rank
        FROM adc) t
      WHERE rank <= 10 ORDER BY query_id, rank"""))
}
