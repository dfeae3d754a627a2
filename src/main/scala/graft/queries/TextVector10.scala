package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.core.Tables
import graft.operators.Bpe
import graft.functions.TextFns

/** Thirteenth coverage batch: the BPE subword tokenizer
  * ([[graft.operators.Bpe]], Sennrich et al. 2016) judged end to end —
  * d64 the trained merge table, d65 its application (per-doc subword
  * counts). The DuckDB oracles replay the full iterative training loop
  * through [[graft.operators.Bpe.oracleMergeChain]]'s generated CTE
  * chain, so every merge decision (pair counts, argmax tie-breaks, the
  * greedy replace) is judged, not assumed — plus template-hub centrality
  * (d66, [[graft.operators.Centrality]]): integer fixed-point PageRank
  * over the d55 shared-shingle candidate graph, all five power
  * iterations oracle-replayed — and distributed suffix-array ranks by
  * prefix doubling (d67, [[graft.operators.SuffixRanks]], the Lee et
  * al. dedup index built the Manber-Myers way, judged against DuckDB's
  * direct suffix-string sort) and its payoff query d68 (duplicated
  * L-char spans as rank ties in the CAPPED index — span dedup with
  * 8-byte shuffle keys at any span length). */
object TextVector10 {

  def defs: Seq[QueryDef] = Seq(d64, d65, d66, d67, d68, d69)

  /** Per-doc longest duplicated substring, read off the suffix-array
    * index ([[graft.operators.SuffixRanks.suffixLcp]]): for each doc, the
    * max over its suffixes of the LCP with the neighboring suffixes in
    * corpus-wide suffix order — the classic array property Lee et al.'s
    * dedup exploits (sorted neighbors realize the maximal common prefix,
    * so no pair beyond adjacent ever needs checking). The Spark side
    * resolves every LCP through the retained doubling rounds (integer
    * rank equality at descending power-of-two levels — ceil(log2 maxLen)
    * hash-join steps, no character comparison); DuckDB re-derives it by
    * sorting the suffix STRINGS and scanning characters to the first
    * mismatch. Twins (d67's fixture) make whole-doc duplicates: their
    * max_dup_len is the full doc length; natural boilerplate repeats
    * supply the mid-range. */
  val d69 = QueryDef("d69_longest_dup_span",
    (s, dir) => {
      val base = Tables.documents(s, dir)
        .filter(col("doc_id") % 20 === 0 && length(col("text")) >= 1)
        .select(col("doc_id"), col("text"))
      val twins = base.filter(col("doc_id") % 60 === 0)
        .select((col("doc_id") + 5000000000L).as("doc_id"), col("text"))
      graft.operators.SuffixRanks.suffixLcp(base.unionByName(twins))
        .groupBy("doc_id").agg(max("lcp").as("max_dup_len"))
        .orderBy("doc_id")
    },
    Some("""WITH base AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id % 20 = 0 AND len(text) >= 1),
      d AS (SELECT doc_id, text FROM base
        UNION ALL
        SELECT doc_id + 5000000000, text FROM base WHERE doc_id % 60 = 0),
      s AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, substr(text, i) AS suf
        FROM d, UNNEST(generate_series(1, len(text))) AS u(i)),
      o AS (SELECT doc_id, pos, suf,
          lag(suf) OVER (ORDER BY suf, doc_id, pos) AS prv,
          lead(suf) OVER (ORDER BY suf, doc_id, pos) AS nxt
        FROM s),
      lp AS (SELECT doc_id, pos,
          min(k) FILTER (WHERE k > len(suf) OR prv IS NULL OR k > len(prv)
            OR substr(suf, CAST(k AS INT), 1) <> substr(prv, CAST(k AS INT), 1)
            ) - 1 AS lcp_prv,
          min(k) FILTER (WHERE k > len(suf) OR nxt IS NULL OR k > len(nxt)
            OR substr(suf, CAST(k AS INT), 1) <> substr(nxt, CAST(k AS INT), 1)
            ) - 1 AS lcp_nxt
        FROM o, UNNEST(generate_series(1, len(suf) + 1)) AS g(k)
        GROUP BY 1, 2)
      SELECT doc_id,
        CAST(max(greatest(lcp_prv, lcp_nxt)) AS BIGINT) AS max_dup_len
      FROM lp GROUP BY 1 ORDER BY doc_id"""))

  /** Duplicated-span detection FROM the suffix-rank index (Lee et al.
    * 2021 §4 — what the suffix array is actually built for): rank every
    * suffix by its first L=16 characters only (capped prefix doubling,
    * log2(L)=4 rounds), then a duplicated L-char span is precisely a
    * rank TIE among suffixes long enough to carry a full window. Judged
    * per duplicated occurrence: (doc, pos, the L-prefix rank, group
    * multiplicity, first-occurrence keeper flag — Lee et al.'s
    * remove-all-but-first election). Contrast with d44's window-hash
    * formulation: d44 shuffles an md5 over the L-token window text
    * (key construction pays O(L) bytes per position, and a longer span
    * threshold costs proportionally more), while the rank index shuffles
    * 8-byte integer ranks regardless of L, needs only log2(L) rounds, and
    * the ORDER it produces also serves d67's full sort — one index, many
    * span lengths. The DuckDB oracle takes the quadratic-memory shortcut
    * (rank() directly over substr(text, pos, 16)); agreement of the two is
    * the capped Manber-Myers invariant, incl. the shorter-suffix-first
    * sentinel rule for positions within L of the doc end. Fixture: every
    * 15th doc re-appears under id+5e9 (guaranteed cross-doc span groups);
    * natural 16-char repeats inside the corpus supply the rest. */
  val d68 = QueryDef("d68_dup_span_index",
    (s, dir) => {
      val L = 16
      val base = Tables.documents(s, dir)
        .filter(col("doc_id") % 5 === 0 && length(col("text")) >= 1)
        .select(col("doc_id"), col("text"))
      val twins = base.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 5000000000L).as("doc_id"), col("text"))
      val docs = base.unionByName(twins)
      val ranks = graft.operators.SuffixRanks.suffixRanks(docs, maxPrefix = L)
      val lens = docs.select(col("doc_id"),
        length(col("text")).cast(LongType).as("n"))
      // rank computed over ALL positions (the lead() shift needs dense
      // per-doc positions), full-window filter applied after — group
      // structure among full windows is unaffected (a <L-char suffix can
      // never tie a full L-window: sentinel vs real rank).
      val full = ranks.join(lens, Seq("doc_id"))
        .filter(col("pos") + (L - 1) <= col("n"))
      val grp = Window.partitionBy("rank")
      full
        .withColumn("n_occ", count(lit(1)).over(grp).cast(LongType))
        .withColumn("rn",
          row_number().over(grp.orderBy(col("doc_id"), col("pos"))))
        .filter(col("n_occ") >= 2)
        .select(col("doc_id"), col("pos"), col("rank").as("span_rank"),
          col("n_occ"), (col("rn") === 1).as("keep"))
        .orderBy("doc_id", "pos")
    },
    Some("""WITH base AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id % 5 = 0 AND len(text) >= 1),
      d AS (SELECT doc_id, text FROM base
        UNION ALL
        SELECT doc_id + 5000000000, text FROM base WHERE doc_id % 15 = 0),
      s AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
          substr(text, i, 16) AS g, CAST(len(text) AS BIGINT) AS n
        FROM d, UNNEST(generate_series(1, len(text))) AS u(i)),
      r AS (SELECT doc_id, pos, n,
          CAST(rank() OVER (ORDER BY g) AS BIGINT) AS span_rank FROM s),
      f AS (SELECT doc_id, pos, span_rank FROM r WHERE pos + 15 <= n),
      g AS (SELECT doc_id, pos, span_rank,
          CAST(count(*) OVER (PARTITION BY span_rank) AS BIGINT) AS n_occ,
          rank() OVER (PARTITION BY span_rank ORDER BY doc_id, pos) AS rn
        FROM f)
      SELECT doc_id, pos, span_rank, n_occ, (rn = 1) AS keep
      FROM g WHERE n_occ >= 2 ORDER BY doc_id, pos"""))

  /** Corpus-wide suffix ranks ([[graft.operators.SuffixRanks]], prefix
    * doubling — the Lee et al. 2021 suffix-array index, built
    * distributed). Judged per (doc, pos): the suffix's `rank()` in the
    * corpus-wide binary order of ALL suffixes — DuckDB re-derives it by
    * literally sorting the suffix STRINGS (the O(n²)-memory form its
    * judged SF can afford), while the Spark side never compares anything
    * longer than one character across its log(maxLen) doubling rounds;
    * agreement of the two is precisely the Manber-Myers invariant.
    * Fixture: every 60th doc re-appears under id+5e9 with identical
    * text, so TIED ranks (identical suffixes — the duplicated-substring
    * signal a suffix array exists to expose) are non-empty at every SF;
    * the 1-in-20 subsample bounds the oracle's quadratic string sort. */
  val d67 = QueryDef("d67_suffix_ranks",
    (s, dir) => {
      val base = Tables.documents(s, dir)
        .filter(col("doc_id") % 20 === 0 && length(col("text")) >= 1)
        .select(col("doc_id"), col("text"))
      val twins = base.filter(col("doc_id") % 60 === 0)
        .select((col("doc_id") + 5000000000L).as("doc_id"), col("text"))
      graft.operators.SuffixRanks.suffixRanks(base.unionByName(twins))
        .select(col("doc_id"), col("pos"), col("rank").as("suffix_rank"))
        .orderBy("doc_id", "pos")
    },
    Some("""WITH base AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id % 20 = 0 AND len(text) >= 1),
      d AS (SELECT doc_id, text FROM base
        UNION ALL
        SELECT doc_id + 5000000000, text FROM base WHERE doc_id % 60 = 0),
      s AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, substr(text, i) AS suf
        FROM d, UNNEST(generate_series(1, len(text))) AS u(i))
      SELECT doc_id, pos,
        CAST(rank() OVER (ORDER BY suf) AS BIGINT) AS suffix_rank
      FROM s ORDER BY doc_id, pos"""))

  private val K = 6

  /** The shared oracle prefix: word counts from `documents`, then K
    * chained merge iterations. */
  private def chain: String = Bpe.oracleMergeChain(
    s"""SELECT word, CAST(count(*) AS BIGINT) AS cnt
      |      FROM (SELECT UNNEST(${TextFns.tokensSql("text")}) AS word
      |            FROM documents)
      |      WHERE word <> '' AND strpos(word, chr(31)) = 0
      |      GROUP BY 1""".stripMargin, K)

  /** BPE merge-table training (the learn_bpe run): the 6 most frequent
    * adjacent symbol pairs, merged greedily in order, each judged with
    * its weighted pair count. Scale shape per the operator scaladoc: one
    * corpus-scale word-count shuffle, then constant-many bounded
    * iterations (pair explode over the Heaps-bounded distinct-word
    * table, argmax via TakeOrdered). The result is driver-sized by
    * construction (K rows). */
  val d64 = QueryDef("d64_bpe_merges",
    (s, dir) => {
      import s.implicits._
      val words = Bpe.wordCounts(Tables.documents(s, dir), "text")
      val (merges, _) = Bpe.trainMerges(words, K)
      merges.map(m => (m.step.toLong, m.left, m.right, m.n))
        .toDF("step", "lhs", "rhs", "pair_count")
        .orderBy("step")
    },
    Some {
      val rows = (1 to K).map(i =>
        s"SELECT CAST($i AS BIGINT) AS step, a AS lhs, b AS rhs, n AS pair_count FROM b$i")
        .mkString("\n      UNION ALL ")
      s"""WITH $chain
      SELECT step, lhs, rhs, pair_count FROM (
      $rows)
      ORDER BY step"""
    })

  /** BPE application: every document's word stream tokenized with the
    * trained merges — per doc, the word count and the resulting subword
    * count (a word's subword count = its final symbol count, `</w>`
    * marker included). The apply is a join of the exploded corpus
    * against the trained word→rep table on the word key — the published
    * serving shape (the vocabulary rides the join, the corpus streams) —
    * then one per-doc rollup. Inner-join semantics on both engines: a
    * doc whose every token is filtered (empty corpus contract) drops
    * out identically. */
  val d65 = QueryDef("d65_bpe_tokenize",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val (_, trained) = Bpe.trainMerges(Bpe.wordCounts(docs, "text"), K)
      val nSyms = trained.select(col("word"),
        (size(split(col("rep"), Bpe.US)) - 1).cast(LongType).as("n_syms"))
      docs
        .select(col("doc_id"),
          explode(graft.functions.TextFns.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "" && !col("word").contains(Bpe.US))
        .join(nSyms, Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("n_syms").as("n_bpe_tokens"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $chain,
      dw AS (SELECT doc_id, word
        FROM (SELECT doc_id,
            UNNEST(${TextFns.tokensSql("text")}) AS word
          FROM documents)
        WHERE word <> '' AND strpos(word, chr(31)) = 0),
      nn AS (SELECT word,
          CAST(len(string_split(rep, chr(31))) - 1 AS BIGINT) AS n_syms
        FROM w$K)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens
      FROM dw JOIN nn USING (word)
      GROUP BY 1 ORDER BY doc_id"""))

  /** Template-hub centrality ([[graft.operators.Centrality]]): integer
    * fixed-point PageRank over the shared-shingle candidate graph —
    * nodes = d55's corpus (even half + injected excerpt twins, so hub
    * structure exists at every SF), edges = pairs sharing ≥ 2 informative
    * shingles (d55's blocking WITHOUT the containment verdict: the graph
    * wants all near-dup candidacy, not just 0.8-containment). A doc that
    * accumulates score across 5 rounds is a boilerplate-family hub. The
    * DuckDB oracle replays the d55 CTE prefix (kept textually in sync
    * with d55's — same docs/tok/sh/kept blocks) plus ALL FIVE power
    * iterations via [[graft.operators.Centrality.oracleRankChain]].
    * Scale: the edge list is bounded by the stop-shingle cut (d55's
    * contract) and each round is one edge shuffle — the textbook
    * distributed PageRank shape. */
  val d66 = QueryDef("d66_template_pagerank",
    (s, dir) => {
      val kept = TextVector7.d55Kept(
          TextVector7.d55Shingles(TextVector7.d55Docs(s, dir)))
        .localCheckpoint(false)
      val pairs = kept.alias("a")
        .join(kept.alias("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
        .agg(count(lit(1)).as("n_int"))
        .filter(col("n_int") >= 2)
        .select("src", "dst")
      val nodes = TextVector7.d55Docs(s, dir).select("doc_id")
      graft.operators.Centrality.integerPageRank(nodes, pairs, 5)
        .select(col("id").as("doc_id"), col("degree"), col("score"))
        .orderBy("doc_id")
    },
    Some {
      val chain = graft.operators.Centrality.oracleRankChain(
        "SELECT doc_id AS id FROM docs", "SELECT src, dst FROM pr", 5)
      s"""WITH docs AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id + 4000000000, array_to_string(t[1:10], ' ') AS text
        FROM (SELECT doc_id, ${TextFns.tokensSql("text")} AS t
              FROM documents WHERE doc_id % 2 = 0)
        WHERE doc_id % 40 = 0 AND len(t) >= 15),
      tok AS (SELECT doc_id, ${TextFns.tokensSql("text")} AS t
        FROM docs),
      sh AS (SELECT DISTINCT doc_id,
          ${TextFns.hash32Sql("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")} AS sh
        FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
        WHERE len(t) >= 3),
      kept AS (SELECT doc_id, sh, count(*) OVER (PARTITION BY doc_id) AS n
        FROM (SELECT doc_id, sh FROM (
            SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh) t
          WHERE df <= 20) u),
      pr AS (SELECT a.doc_id AS src, b.doc_id AS dst
        FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 2),
      $chain
      SELECT s5.id AS doc_id, CAST(COALESCE(deg.deg, 0) AS BIGINT) AS degree,
        s5.s AS score
      FROM s5 LEFT JOIN deg USING (id) ORDER BY doc_id"""
    })
}
