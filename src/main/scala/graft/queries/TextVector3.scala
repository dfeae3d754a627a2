package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables
import graft.functions.TextFns

/** Third text/training-data batch: edit-distance near-duplicate candidates
  * (the blocked-quadratic family's third member after Jaccard d6 and
  * levenshtein-free minhash d5), per-document token entropy (an
  * information-theoretic quality signal), and the stream-static enrichment
  * twin. All oracle-gated.
  */
object TextVector3 {

  def defs: Seq[QueryDef] = Seq(d28, d29, d30, s6, s7)

  /** Edit-distance candidate pairs via PassJoin segment matching (Li,
    * Deng, Feng, "PassJoin: A Partition-based Method for Similarity
    * Joins" — public algorithm), replacing the earlier (lang,
    * length-bucket) blocking whose block sizes grow WITH the corpus: the
    * sf0.1→sf1 rehearsal measured that design at 49× wall on 10× data
    * (10× docs per block → ~100× pairs). Segment matching keeps candidate
    * keys per doc bounded, so cost scales with corpus size, not corpus².
    *
    * Construction (complete for the distance bound — no missed pairs):
    * each prefix is partitioned into maxDist+1 segments by ITS OWN length
    * (first `len % (k+1)` segments take the extra char — the standard
    * even split); if ed(a,b) <= k, then a contains at least one of b's
    * segments EXACTLY, at a start within ±k of its canonical position
    * (pigeonhole + shift lemma). The probe side emits, for every partner
    * length ℓ in [len−k, len] (one-directional: the pigeonhole partitions
    * the SHORTER string, so each pair is generated from its longer side),
    * the substrings of ℓ's segmentation grid whose start offset d from the
    * canonical position passes the shift filter |d| + |d−(len−ℓ)| ≤ k;
    * the join key is (lang, ℓ, segIdx, content). The banded-DP verify
    * (`levenshtein(a, b, k)`: O(n·k), -1 above the cap) runs INLINE in
    * the join pipeline — candidates are never materialized — and the
    * output-sized surviving pairs are normalized and deduped last.
    *
    * Per-doc key counts are bounded by (k+1)²·(k+1) — constant in
    * corpus size. No padding anywhere: an earlier padded-grid variant
    * gave every short doc an identical all-padding segment, a join key
    * that degenerates to quadratic once a corpus has many short docs.
    * The residual weak stratum is docs shorter than k+1 chars (segments
    * shrink to 0-1 chars) — inherent: nearly all such tiny strings ARE
    * within k edits of each other, so the OUTPUT itself is quadratic in
    * that stratum no matter the algorithm.
    *
    * maxDist sets selectivity: k+1 segments over a 40-char prefix stay
    * ~8 chars at k=4 — strong exact-match pruning; a large k (say 12)
    * degrades segments to trigrams, which natural text shares by chance,
    * and candidates go quadratic again.
    *
    * HOT-KEY HIERARCHICAL REFINEMENT (round 9 — the exact-preserving
    * prune for the one residual super-linearity): Zipf-frequent segments
    * ("customer", " the ", …) saturate their key cardinality, so their
    * blocks grow ∝ corpus and their join output ∝ corpus² — at sf10 the
    * keys with block > 64 carried 51% of the total join mass
    * (Σ block², measured). For those keys ONLY, the join key is REFINED
    * with a second PassJoin level over the COMPLEMENTS: if the witness
    * segment j matched exactly at pos, there is an edit script in which
    * the left and right remainders align with e_L + e_R ≤ k edits, so
    * ed(comp_a, comp_b) ≤ k for comp = prefix minus the matched segment
    * (concatenation of two aligned scripts). PassJoin applies again:
    * partition comp_b (length l−w, a pure function of (l, j)) into k+1
    * sub-segments; some sub-segment matches exactly in comp_a within the
    * SAME shift filter (D₂ = (len−w) − (l−w) = D). Completeness is the
    * same pigeonhole, soundness is still the inline banded levenshtein
    * on the FULL prefixes, and the cold path is untouched — so the
    * output is identical by construction (and the naive all-pairs oracle
    * doubles as the completeness check, as before). Measured at sf10:
    * hot-block mass 26.9M → ~0.4–1.1M under a single 7-char complement
    * slice; the probe inflation is ×~25 on hot probe rows only. The
    * default threshold 256 comes from a measured sf10 sweep (64/256/1024/
    * off → 31/29/34/42 s, identical 295,342 output rows at every setting
    * — the output-identity claim checked empirically beyond the oracle
    * SFs): exploded secondary rows price ~an order of magnitude higher
    * per row than candidates streaming through the join's codegen, so
    * only genuinely hot blocks should pay the explosion. Keys
    * whose complement is too short for a meaningful second grid
    * (l − w < 2(k+1)) stay cold — the tiny-string stratum is inherently
    * quadratic (scaladoc above). */
  def editDistancePairs(docs: DataFrame, prefixLen: Int,
                        maxDist: Int, hotThreshold: Int = 256): DataFrame = {
    val k = maxDist
    val nSeg = k + 1
    // segmentation of an l-length string (SQL fragments over a length
    // expression): segment j has length (l div n) + (j < l mod n ? 1 : 0)
    // and starts at j*(l div n) + min(j, l mod n)
    def segLen(l: String, j: String) =
      s"(($l div $nSeg) + IF($j < $l % $nSeg, 1, 0))"
    def segStart(l: String, j: String) =
      s"($j * ($l div $nSeg) + least($j, $l % $nSeg))"
    val b = docs.select(col("doc_id"), col("lang"),
        substring(col("text"), 1, prefixLen).as("p"))
      .withColumn("len", length(col("p")))
    // both relations CARRY THEIR FULL PREFIX so the verify can run inline
    // in the join's codegen pipeline (below) — +40 bytes on ~n·(k+1) and
    // ~n·(k+1)² rows, nothing at all on the (block-quadratic) join output
    val segs = b.select(col("doc_id").as("b_id"), col("lang"),
      col("len").as("l"), col("p").as("b_p"),
      explode(expr(s"""transform(sequence(0, $k), j ->
          struct(j AS j, substring(p, ${segStart("len", "j")} + 1,
            ${segLen("len", "j")}) AS s))""")).as("seg"))
      .select(col("b_id"), col("lang"), col("l"), col("b_p"),
        col("seg.j").as("j"), col("seg.s").as("s"))
    // probe: ONE-DIRECTIONAL (l in [len-k, len] — the pigeonhole partitions
    // the shorter string, so every pair is found from its longer side;
    // equal lengths probe both ways and the least/greatest dedup absorbs
    // it) with the PassJoin SHIFT FILTER on the start offset d = pos −
    // segStart: the prefix regions differ by |d| chars and the suffix
    // regions by |d − D| (D = len − l), each a lower bound on edits in that
    // region, so |d| + |d−D| ≤ k ⟺ d ∈ [−((k−D) div 2), (k+D) div 2].
    // Both are output-identical prunes; together they cut the probe rows
    // ~13× (the ±k two-sided window was the sf10 probe's 167M-row stage).
    // sequence(lo, hi) DESCENDS when hi < lo in Spark, so empty windows
    // must return array() explicitly.
    val subs = b.select(col("doc_id").as("a_id"), col("lang"),
      col("p").as("a_p"),
      explode(expr(s"""flatten(flatten(
          transform(sequence(greatest(len - $k, 0), len), l ->
            transform(sequence(0, $k), j ->
              CASE WHEN least(len - ${segLen("l", "j")},
                       ${segStart("l", "j")} + ((len - l) + $k) div 2)
                     >= greatest(0, ${segStart("l", "j")} - (($k - (len - l)) div 2))
              THEN transform(sequence(
                     greatest(0, ${segStart("l", "j")} - (($k - (len - l)) div 2)),
                     least(len - ${segLen("l", "j")},
                       ${segStart("l", "j")} + ((len - l) + $k) div 2)),
                pos -> struct(l AS l, j AS j, pos AS pos,
                  substring(p, pos + 1, ${segLen("l", "j")}) AS s))
              ELSE array() END))))""")).as("sub"))
      .select(col("a_id"), col("lang"), col("a_p"), col("sub.l").as("l"),
        col("sub.j").as("j"), col("sub.pos").as("pos"), col("sub.s").as("s"))
    val pk = Seq("lang", "l", "j", "s")
    // keys with segment blocks past the threshold AND a complement long
    // enough for a second grid get the hierarchical treatment; the set is
    // n/threshold-bounded, consumed by two marking joins -> checkpoint
    val hotKeys = segs.groupBy(pk.map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") > hotThreshold &&
        expr(s"l - ${segLen("l", "j")}") >= 2 * nSeg)
      .select(pk.map(col): _*)
      .withColumn("__hot", lit(true))
      .localCheckpoint(false)
    // marking joins BROADCAST, explicitly: the hot-key set is n/threshold-
    // bounded (2.2k rows at sf10) and a shuffle marking join would move
    // the whole probe relation on a 4-part string key just to attach one
    // boolean (measured: ~3× the refinement's entire savings)
    val segsF = segs.join(broadcast(hotKeys), pk, "left")
    val subsF = subs.join(broadcast(hotKeys), pk, "left")
    // VERIFY INLINE, DEDUP LAST (the lesson-4 shape): Zipf-frequent
    // segments make the join output block-quadratic, and materializing it
    // into a distinct shuffle is what died at the sf30 probe
    // (SPILL_OUT_OF_MEMORY on ~10⁹ candidate rows). With both prefixes on
    // the join inputs, the banded levenshtein runs INSIDE the join's
    // whole-stage-codegen pipeline — candidate rows stream through the
    // filter and never hit an exchange; only the OUTPUT-sized surviving
    // pairs reach the distinct. Redundant verification of a pair matching
    // several segments is bounded by the probe-window size (a small
    // constant) and costs arithmetic, not memory.
    // ONE unified join, not a cold/hot branch split: a split would consume
    // subsF/segsF twice each and re-execute the whole probe/build
    // derivation per branch (the multi-consumer trap — measured as a ~2×
    // regression before this form). Cold rows carry the sentinel
    // secondary key (-1, ''); hot rows explode their secondary grid — the
    // key spaces are disjoint (j2 ≥ 0 on hot rows), so the unified join
    // is exactly cold⋈cold ∪ hot⋈hot.
    val wE = segLen("l", "j")
    val stE = segStart("l", "j")
    val l2E = s"(l - $wE)"
    val coldSec = array(struct(lit(-1).as("j2"), lit("").as("s2")))
    val segsG = segsF
      .withColumn("comp", when(col("__hot").isNotNull, expr(
          s"concat(substring(b_p, 1, $stE), substring(b_p, $stE + $wE + 1, $prefixLen))"))
        .otherwise(lit("")))
      .withColumn("sec", when(col("__hot").isNull, coldSec)
        .otherwise(expr(s"""transform(sequence(0, $k), j2 ->
            struct(j2 AS j2, substring(comp, ${segStart(l2E, "j2")} + 1,
              ${segLen(l2E, "j2")}) AS s2))""")))
      .select(col("b_id"), col("lang"), col("l"), col("j"), col("s"),
        col("b_p"), explode(col("sec")).as("sec"))
      .select(col("b_id"), col("lang"), col("l"), col("j"), col("s"),
        col("b_p"), col("sec.j2").as("j2"), col("sec.s2").as("s2"))
    val len2E = s"(alen - $wE)"
    val dE = s"(alen - l)"
    val lo2 = s"greatest(0, ${segStart(l2E, "j2")} - (($k - $dE) div 2))"
    val hi2 = s"least($len2E - ${segLen(l2E, "j2")}, ${segStart(l2E, "j2")} + (($dE + $k) div 2))"
    val subsG = subsF
      .withColumn("alen", length(col("a_p")))
      .withColumn("comp", when(col("__hot").isNotNull, expr(
          s"concat(substring(a_p, 1, pos), substring(a_p, pos + $wE + 1, $prefixLen))"))
        .otherwise(lit("")))
      .withColumn("sec", when(col("__hot").isNull, coldSec)
        .otherwise(expr(s"""flatten(transform(sequence(0, $k), j2 ->
            CASE WHEN $hi2 >= $lo2
            THEN transform(sequence($lo2, $hi2), pos2 ->
              struct(j2 AS j2, substring(comp, pos2 + 1,
                ${segLen(l2E, "j2")}) AS s2))
            ELSE array() END))""")))
      .select(col("a_id"), col("lang"), col("l"), col("j"), col("s"),
        col("a_p"), explode(col("sec")).as("sec"))
      .select(col("a_id"), col("lang"), col("l"), col("j"), col("s"),
        col("a_p"), col("sec.j2").as("j2"), col("sec.s2").as("s2"))
    subsG.join(segsG, pk ++ Seq("j2", "s2"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("dist", levenshtein(col("a_p"), col("b_p"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("lang"),
        least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"),
        col("dist"))
      .distinct()
      .select(col("a_id"), col("b_id"), col("lang"), col("dist"))
  }

  /** Per-document token Shannon entropy (see d29 scaladoc). */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val cnt = docs
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    cnt.groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c").cast(DoubleType) * log2(col("c").cast(DoubleType))).as("clog"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(log2(col("n_tokens").cast(DoubleType)) -
          col("clog") / col("n_tokens").cast(DoubleType), 9).as("token_entropy"))
  }

  /** Levenshtein near-duplicate pairs over 40-char prefixes within a
    * language, found with PassJoin segment matching (see
    * [[editDistancePairs]]) — candidate keys per doc are bounded, so the
    * operator scales linearly in corpus size where the old length-bucket
    * blocking went quadratic (the sf1 rehearsal's one red row). The DuckDB
    * oracle is the NAIVE all-pairs form, which doubles as the completeness
    * check: any pair the segment join missed would hash-mismatch. */
  val d28 = QueryDef("d28_edit_distance",
    (s, dir) => editDistancePairs(Tables.documents(s, dir),
      prefixLen = 40, maxDist = 4)
      .orderBy("a_id", "b_id"),
    Some("""WITH b AS (
        SELECT doc_id, lang, substr(text, 1, 40) AS p
        FROM documents)
      SELECT a.doc_id AS a_id, c.doc_id AS b_id, a.lang,
        CAST(levenshtein(a.p, c.p) AS INT) AS dist
      FROM b a JOIN b c ON a.lang = c.lang AND a.doc_id < c.doc_id
      WHERE levenshtein(a.p, c.p) <= 4
      ORDER BY a_id, b_id"""))

  /** Token-distribution Shannon entropy per document: H = log2(n) −
    * Σ c·log2(c) / n over the token counts — low entropy flags repetitive /
    * template text (complements d12's ratio-based repetition stats with the
    * information-theoretic form). One explode + two partial-aggregated
    * shuffles; entropy rounds to 9 decimals so last-ulp Σ order wobble
    * can't flip the gate (d26's lesson). */
  val d29 = QueryDef("d29_token_entropy",
    (s, dir) => tokenEntropy(Tables.documents(s, dir)).orderBy("doc_id"),
    Some(s"""WITH cnt AS (
        SELECT doc_id, tok, COUNT(*) AS c
        FROM (SELECT doc_id,
                unnest(${TextFns.tokensSql("text")}) AS tok
              FROM documents) t
        GROUP BY 1, 2),
      agg AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
          SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS clog
        FROM cnt GROUP BY doc_id)
      SELECT doc_id, n_tokens, n_distinct,
        ROUND(log2(CAST(n_tokens AS DOUBLE)) - clog / n_tokens, 9) AS token_entropy
      FROM agg ORDER BY doc_id"""))

  /** Stream-static enrichment twin: the SAME transform the streaming job
    * runs (EventStreams.hourlyBySegment — stream ⨝ broadcast static dim →
    * watermarked hourly rollup), executed in batch and gated against the
    * plain join+agg oracle. Streaming agreement pinned by Coverage5Spec's
    * MemoryStream test. */
  val s6 = QueryDef("s6_stream_enrich",
    (s, dir) => graft.streaming.EventStreams.hourlyBySegment(
      Tables.events(s, dir),
      Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment")),
      withWatermark = false)
      .orderBy("window_start", "c_mktsegment"),
    Some("""SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
      c_mktsegment, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY 1, 2 ORDER BY window_start, c_mktsegment"""))

  /** HyperLogLog++ approximate distinct (`approx_count_distinct`) beside
    * the exact count — the constant-state cardinality path for when even
    * KMV's k values are too much per group. The sketch VALUE is
    * engine-specific (d20's KMV is the deterministic oracle-gated sketch),
    * but the ACCURACY CLAIM is not: the judged surface carries the exact
    * count plus a `within_5pct` verdict computed against it in the same
    * plan, and DuckDB recomputes the exact side and asserts the verdict
    * TRUE — so the 5% envelope is oracle-checked, not just spec-pinned.
    * rsd=0.01 sizes the HLL registers so the envelope holds
    * deterministically (default 0.05 would make 5% a coin flip). */
  private[graft] def d30Full(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n"))

  val d30 = QueryDef("d30_approx_distinct",
    (s, dir) => d30Full(s, dir)
      .select(col("event_type"), col("exact_users"), col("n"),
        (abs(col("approx_users") - col("exact_users")).cast(DoubleType) <=
          col("exact_users").cast(DoubleType) * 0.05).as("within_5pct"))
      .orderBy("event_type"),
    Some("""SELECT event_type,
        COUNT(DISTINCT user_id) AS exact_users,
        COUNT(*) AS n,
        TRUE AS within_5pct
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** Stream-stream LEFT OUTER interval join twin (EventStreams
    * .purchasesWithClick in batch mode): purchases keep their
    * no-click-preceded rows as NULLs. Null click_ids sort FIRST on both
    * engines (Spark's asc default vs DuckDB's NULLS LAST — the q64
    * lesson). Streaming null-emission semantics pinned by Coverage5Spec's
    * MemoryStream test. */
  val s7 = QueryDef("s7_stream_left_join",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      graft.streaming.EventStreams
        .purchasesWithClick(purchases, clicks, streaming = false)
        .orderBy(col("purchase_id"), col("click_id").asc_nulls_first)
    },
    Some("""SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
      FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 30 MINUTES AND c.ts <= p.ts
      ORDER BY purchase_id, click_id NULLS FIRST"""))
}
