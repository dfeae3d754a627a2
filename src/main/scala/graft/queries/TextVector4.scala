package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.TextFns

/** Seventh coverage batch — training-data pipeline signals: disjoint-segment
  * exact dedup (the CCNet-style "remove boilerplate blocks" primitive over
  * whitespace corpora), duplicate-n-gram coverage (the RefinedWeb quality
  * signal), per-source corpus quality profiling, minhash-signature Jaccard
  * estimation (sketch accuracy judged next to the exact value), and the
  * chained-stateful active-users rollup. Each oracle-gated against DuckDB.
  */
object TextVector4 {

  def defs: Seq[QueryDef] = Seq(d31, d32, d33, d35, d36, d37, d38, s8, s9)

  /** Disjoint 20-token segments hashed and counted across the corpus; a
    * segment is a duplicate when it appears in ≥2 DISTINCT documents. Per
    * doc: segment count, cross-doc duplicate count, duplicate fraction.
    * Scale: the explode output is O(tokens/20) rows partitioned by hash —
    * the global histogram is one shuffle on h; no per-doc state exceeds
    * its own segment list, and the dup-set join is shuffle-on-h again
    * (co-partitioned with the histogram, AQE-coalesced). */
  val d31 = QueryDef("d31_segment_dedup",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      val segs = toks.filter(size(col("toks")) >= 20)
        .select(col("doc_id"),
          explode(sequence(lit(1), (size(col("toks")) / 20).cast(IntegerType))).as("i"),
          col("toks"))
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(col("toks"), (col("i") - 1) * 20 + 1, lit(20)))).as("h"))
      val dups = segs.groupBy("h")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("h"), lit(1).as("isdup"))
      val per = segs.join(dups, Seq("h"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segments"), count(col("isdup")).as("n_dup_segments"))
      docs.select("doc_id").join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_segments"), lit(0L)).as("n_segments"),
          coalesce(col("n_dup_segments"), lit(0L)).as("n_dup_segments"),
          when(col("n_segments").isNotNull,
            round(col("n_dup_segments") / col("n_segments"), 9)).as("dup_frac"))
        .orderBy("doc_id")
    },
    Some(s"""WITH tok AS (SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
        FROM documents),
      seg AS (SELECT doc_id,
          md5(array_to_string(toks[(i-1)*20+1:(i-1)*20+20], ' ')) AS h
        FROM tok, UNNEST(generate_series(1, len(toks)//20)) AS t(i)
        WHERE len(toks) >= 20),
      dup AS (SELECT h FROM seg GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
      per AS (SELECT seg.doc_id, COUNT(*) AS n_segments, COUNT(dup.h) AS n_dup_segments
        FROM seg LEFT JOIN dup ON seg.h = dup.h GROUP BY seg.doc_id)
      SELECT d.doc_id,
        COALESCE(per.n_segments, 0) AS n_segments,
        COALESCE(per.n_dup_segments, 0) AS n_dup_segments,
        CASE WHEN per.n_segments IS NOT NULL
          THEN round(per.n_dup_segments::DOUBLE / per.n_segments::DOUBLE, 9) END AS dup_frac
      FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
      ORDER BY d.doc_id"""))

  /** Per-source corpus profile: doc count, exact mean words, distinct
    * languages, short-doc fraction, and a total-ordered quality rank.
    * The rank goes through the distributed
    * [[graft.core.Indexing.globalRowIds]] (r12, the d77 pattern): the
    * source axis is a rollup, but a web corpus's source vocabulary (host
    * domains) grows with the corpus, so a naked global window over it is
    * the shape PlanLint check 3 refuses since r12. Bucket key = −avg_words
    * (monotone for the DESC order), within-bucket order (avg_words desc,
    * source asc) — the identical total order, so the rank and the hash
    * cannot move. The rollup is checkpointed so the id machinery's extra
    * scans re-read #sources rows, not the corpus. */
  val d32 = QueryDef("d32_source_quality",
    (s, dir) => {
      val per = Tables.documents(s, dir)
        .select(col("source"), col("lang"),
          size(TextFns.tokens(col("text"))).cast(LongType).as("words"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("words")).as("total_words"),
          countDistinct(col("lang")).as("n_langs"),
          count_if(col("words") < 30).as("n_short"))
      val scored = per
        .select(col("source"), col("n_docs"), col("total_words"), col("n_langs"),
          round(col("total_words") / col("n_docs"), 9).as("avg_words"),
          round(col("n_short") / col("n_docs"), 9).as("short_frac"))
        .localCheckpoint(false)
      graft.core.Indexing.globalRowIds(
          scored.withColumn("__negq", -col("avg_words")), "__negq", "__rid",
          withinOrder = Seq(col("avg_words").desc, col("source").asc))
        .withColumn("quality_rank", col("__rid") + 1L)
        .select("source", "n_docs", "total_words", "n_langs", "avg_words",
          "short_frac", "quality_rank")
        .orderBy("source")
    },
    Some(s"""WITH per AS (SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(len(${TextFns.tokensSql("text")})) AS BIGINT) AS total_words,
        COUNT(DISTINCT lang) AS n_langs,
        COUNT(*) FILTER (WHERE len(${TextFns.tokensSql("text")}) < 30) AS n_short
        FROM documents GROUP BY source)
      SELECT source, n_docs, total_words, n_langs,
        round(total_words::DOUBLE / n_docs::DOUBLE, 9) AS avg_words,
        round(n_short::DOUBLE / n_docs::DOUBLE, 9) AS short_frac,
        row_number() OVER (ORDER BY round(total_words::DOUBLE / n_docs::DOUBLE, 9) DESC, source) AS quality_rank
      FROM per ORDER BY source"""))

  /** Duplicate-n-gram coverage (RefinedWeb-style): the fraction of each
    * document's DISTINCT word-5-grams that also occur in another document.
    * Differs from d31 in granularity (sliding, overlapping) and in set
    * semantics (per-doc distinct). High coverage = templated/boilerplate
    * text. Same one-shuffle-on-hash scale shape as d31. */
  val d33 = QueryDef("d33_dup_ngram_coverage",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val grams = docs
        .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"),
          explode(sequence(lit(1), size(col("toks")) - 4)).as("i"), col("toks"))
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(col("toks"), col("i"), lit(5)))).as("h"))
        .distinct()
      val shared = grams.groupBy("h")
        .agg(count(lit(1)).as("nd")) // rows are distinct per (doc, h) already
        .filter(col("nd") >= 2)
        .select(col("h"), lit(1).as("issh"))
      grams.join(shared, Seq("h"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), count(col("issh")).as("n_shared"))
        .select(col("doc_id"), col("n_grams"), col("n_shared"),
          round(col("n_shared") / col("n_grams"), 9).as("coverage"))
        .orderBy("doc_id")
    },
    Some(s"""WITH tok AS (SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
        FROM documents),
      g AS (SELECT DISTINCT doc_id, md5(array_to_string(toks[i:i+4], ' ')) AS h
        FROM tok, UNNEST(generate_series(1, len(toks)-4)) AS t(i)
        WHERE len(toks) >= 5),
      sh AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2)
      SELECT g.doc_id, COUNT(*) AS n_grams, COUNT(sh.h) AS n_shared,
        round(COUNT(sh.h)::DOUBLE / COUNT(*)::DOUBLE, 9) AS coverage
      FROM g LEFT JOIN sh ON g.h = sh.h
      GROUP BY g.doc_id ORDER BY g.doc_id"""))

  /** Minhash-signature Jaccard ESTIMATION, oracle-gated end to end: the
    * estimate (fraction of agreeing minhashes over 16 seeds) sits next to
    * the exact Jaccard on the same pairs, so the sketch's accuracy is
    * itself a judged, reproducible number. Uses the d21 md5-seeded affine hash basis —
    * deterministic in both engines. Scale: signatures are 16 longs per
    * doc (constant state); pair comparison is 16 equality checks, not a
    * shingle-set intersection — the whole point of minhash. Candidate
    * pairs come from EQUAL MINHASH VALUES per (lang, seed) — 1-row LSH
    * bands, so blocks are hash-value buckets (near-dup-cluster-sized),
    * not per-language all-pairs. The round-8 sf10 probe caught the
    * original (lang, seed)-keyed join timing out at 10× sf1: language is
    * a constant-cardinality block, so its blocks grow linearly with the
    * corpus and the join quadratically. The value-keyed form emits
    * exactly the pairs the old `est_jaccard > 0` filter kept (≥ 1
    * agreeing seed ⟺ ≥ 1 value match), so the judged output is
    * unchanged — n_match/16 with 16 a power of two is the same exact
    * double the seed-wise AVG produced.
    *
    * The random-doc fixture has no naturally-shared shingles in the 5%
    * slice, so the judged surface would be the empty relation (both
    * engines agreeing on emptiness proves nothing). Deterministic TWIN
    * docs are injected (the d41-anchor injection pattern): every
    * doc_id % 100 doc reappears as doc_id + 1e9 with one marker token
    * appended — a guaranteed high-but-not-1.0 Jaccard pair per twin, so
    * est_jaccard vs exact_jaccard is judged on NON-EMPTY rows at every
    * SF. */
  val d35 = QueryDef("d35_minhash_jaccard_est",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val base = docs.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), col("lang"), col("text"))
      val twins = docs.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("lang"),
          concat(col("text"), lit(" twindupmarker")).as("text"))
      val toks = base.union(twins)
        .select(col("doc_id"), col("lang"), TextFns.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
      // checkpoint: the shingle relation feeds the signature derivation,
      // the per-doc sizes, and both legs of the pair-restricted exact
      // intersection (the r8 multi-consumer rule)
      val sh = toks
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(1), size(col("toks")) - 2)).as("i"), col("toks"))
        .select(col("doc_id"), col("lang"),
          concat_ws(" ", slice(col("toks"), col("i"), lit(3))).as("shingle"))
        .distinct()
        .localCheckpoint(false)
      val mh = graft.operators.Dedup.affineSignature(sh, Seq("doc_id", "lang"), 16)
      val est = mh.alias("a")
        .join(mh.alias("b"),
          col("a.lang") === col("b.lang") && col("a.seed") === col("b.seed") &&
            col("a.mh") === col("b.mh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(round(count(lit(1)).cast(DoubleType) / 16.0, 9).as("est_jaccard"))
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      // exact intersections ONLY for the candidate pairs (r8): the old
      // shared-shingle self-join enumerated every shingle-sharing pair in
      // the corpus before the left join threw the non-candidates away —
      // an uncut block bomb on boilerplate-heavy corpora. Pair-restricted,
      // the work is Σ_candidates |sh(a)| — linear in candidates. est fans
      // out to 2 consumers → checkpointed (the r8 class-3 rule; sh is
      // checkpointed at its definition above).
      val estC = est.localCheckpoint(false)
      val inter = estC.select(col("id_a"), col("id_b"))
        .join(sh.select(col("doc_id").as("id_a"), col("shingle")), Seq("id_a"))
        .join(sh.select(col("doc_id").as("id_b"), col("shingle")),
          Seq("id_b", "shingle"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_int"))
      estC.join(inter, Seq("id_a", "id_b"), "left")
        .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a"),
          Seq("id_a"))
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b"),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("est_jaccard"),
          round(coalesce(col("n_int"), lit(0L)) /
            (col("n_a") + col("n_b") - coalesce(col("n_int"), lit(0L))), 9)
            .as("exact_jaccard"))
        .orderBy("id_a", "id_b")
    },
    Some(s"""WITH base AS (
        SELECT doc_id, lang, text FROM documents WHERE doc_id % 20 = 0
        UNION ALL
        SELECT doc_id + 1000000000, lang, text || ' twindupmarker'
        FROM documents WHERE doc_id % 100 = 0),
      ${graft.operators.Dedup.affineSignatureSql("base", "doc_id, lang", "text", 16)},
      est AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          round(AVG(CASE WHEN a.mh = b.mh THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END), 9) AS est_jaccard
        FROM sig a JOIN sig b ON a.lang = b.lang AND a.seed = b.seed AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING AVG(CASE WHEN a.mh = b.mh THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) > 0),
      sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n_int
        FROM sh x JOIN sh y ON x.lang = y.lang AND x.shingle = y.shingle
          AND x.doc_id < y.doc_id
        GROUP BY 1, 2)
      SELECT est.id_a, est.id_b, est.est_jaccard,
        round(COALESCE(inter.n_int, 0)::DOUBLE /
          (sa.n_sh + sb.n_sh - COALESCE(inter.n_int, 0))::DOUBLE, 9) AS exact_jaccard
      FROM est
      LEFT JOIN inter ON est.id_a = inter.id_a AND est.id_b = inter.id_b
      JOIN sizes sa ON est.id_a = sa.doc_id
      JOIN sizes sb ON est.id_b = sb.doc_id
      ORDER BY est.id_a, est.id_b"""))

  /** The SQL-expressible slice of the corpus-cleaning composite
    * (normalize → exact dedup → quality filter), oracle-gated end to end —
    * d11's full cleanCorpus stays rows-only because of the minhash stage,
    * so this pins every deterministic stage of the same pipeline against
    * DuckDB: whitespace/case normalization, keep-min-id exact dedup on
    * the normalized text, and a token-count + stopword-ratio quality
    * gate. One shuffle for the dedup, everything else scan-local. */
  val d36 = QueryDef("d36_filter_pipeline",
    (s, dir) => {
      val en = TextFns.langStopwords.toMap.apply("en")
      val normalized = Tables.documents(s, dir)
        .withColumn("norm",
          regexp_replace(lower(trim(col("text"))), "\\s+", " "))
        .withColumn("toks", TextFns.tokens(col("norm")))
      val keepers = normalized
        .groupBy(md5(col("norm")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      normalized.join(keepers, Seq("doc_id"))
        .withColumn("n_tokens", size(col("toks")).cast(LongType))
        .withColumn("n_stop",
          TextFns.vocabTokenCountOf(col("toks"), en).cast(LongType))
        .filter(col("n_tokens") >= 15 &&
          col("n_stop") * 10L >= col("n_tokens")) // stop ratio >= 0.1, integer form
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_stop"))
        .orderBy("doc_id")
    },
    Some(s"""WITH norm AS (SELECT doc_id, lang,
          regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
        FROM documents),
      keep AS (SELECT MIN(doc_id) AS doc_id FROM norm GROUP BY md5(norm)),
      toks AS (SELECT n.doc_id, n.lang,
          ${TextFns.tokensSql("n.norm")} AS t
        FROM norm n JOIN keep k ON n.doc_id = k.doc_id)
      SELECT doc_id, lang,
        CAST(len(t) AS BIGINT) AS n_tokens,
        CAST(len(list_filter(t, x -> list_contains(
          ['the','a','of','and','to','in','is','that','it','for'], x))) AS BIGINT) AS n_stop
      FROM toks
      WHERE len(t) >= 15
        AND len(list_filter(t, x -> list_contains(
          ['the','a','of','and','to','in','is','that','it','for'], x))) * 10 >= len(t)
      ORDER BY doc_id"""))

  /** Mixture rebalance (curriculum reweighting): downsample every language
    * stream to the SMALLEST language's token count so the training mix is
    * token-balanced. Rates are DATA-DEPENDENT (quota / actual), converted
    * to a basis-point threshold with one floor() so both engines cut the
    * md5 bucket space identically; inclusion is the d13-style
    * deterministic hash bucket — rerunnable, no rand(). The rate table is
    * |langs| rows, broadcast back. */
  val d37 = QueryDef("d37_mixture_rebalance",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          size(TextFns.tokens(col("text"))).cast(LongType).as("n_tok"))
      // ONE aggregation scan collects the (tiny) per-lang totals; quota
      // and rates derive driver-side so the final plan re-scans documents
      // once, not three times
      val perLang = toks.groupBy("lang").agg(sum(col("n_tok")).as("total_tok"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val quota = perLang.map(_._2).min
      val rates = {
        import s.implicits._
        perLang.map { case (lang, total) =>
          (lang, math.min(10000L,
            math.floor(quota.toDouble / total * 10000.0).toLong))
        }.toDF("lang", "rate_bp")
      }
      val bucket = TextFns.hash32(col("doc_id").cast(StringType)) % 10000
      toks.join(broadcast(rates), Seq("lang"))
        .withColumn("bucket", bucket)
        .filter(col("bucket") < col("rate_bp"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs_kept"), sum(col("n_tok")).as("tokens_kept"),
          max(col("rate_bp")).as("rate_bp"))
        .orderBy("lang")
    },
    Some(s"""WITH toks AS (SELECT doc_id, lang,
          CAST(len(${TextFns.tokensSql("text")}) AS BIGINT) AS n_tok
        FROM documents),
      per AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS total_tok FROM toks GROUP BY lang),
      q AS (SELECT MIN(total_tok) AS quota FROM per),
      rates AS (SELECT lang,
          least(10000, CAST(floor(q.quota::DOUBLE / per.total_tok * 10000.0) AS BIGINT)) AS rate_bp
        FROM per, q)
      SELECT t.lang, COUNT(*) AS n_docs_kept,
        CAST(SUM(t.n_tok) AS BIGINT) AS tokens_kept, MAX(r.rate_bp) AS rate_bp
      FROM toks t JOIN rates r ON t.lang = r.lang
      WHERE ${TextFns.hash32Sql("CAST(t.doc_id AS VARCHAR)")} % 10000 < r.rate_bp
      GROUP BY t.lang ORDER BY t.lang"""))

  /** Character-coverage signal (the SentencePiece `character_coverage`
    * analysis): the corpus character histogram picks a top-16 alphabet
    * (count desc, char asc — total order), and each document reports how
    * much of it the alphabet covers. Low coverage = wrong-script or noisy
    * docs. Two phases like d37: the alphabet derives from ONE histogram
    * aggregation (collected driver-side — 16 values), the per-doc pass is
    * scan-local with the alphabet inlined as a literal array. The char
    * explode uses the substr(i,1) idiom shared with m2/d25 so both
    * engines split identically. */
  val d38 = QueryDef("d38_char_coverage",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val chars = docs
        .select(col("doc_id"),
          explode(sequence(lit(1), length(col("text")))).as("i"), col("text"))
        .select(col("doc_id"), col("text").substr(col("i"), lit(1)).as("c"))
      // alphabet from a DETERMINISTIC 10% doc sample — at corpus scale you
      // don't histogram every byte to find the top of a Zipf curve; the
      // oracle samples identically so the judged alphabet matches
      val alphabet = chars.filter(col("doc_id") % 10 === 0)
        .groupBy("c").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("c").asc).limit(16)
        .select("c").collect().map(_.getString(0)).toSeq
      chars.groupBy("doc_id")
        .agg(count(lit(1)).as("n_chars"),
          count_if(col("c").isin(alphabet.map(lit(_)): _*)).as("n_covered"))
        .select(col("doc_id"), col("n_chars"), col("n_covered"),
          round(col("n_covered") / col("n_chars"), 9).as("coverage"))
        .orderBy("doc_id")
    },
    Some("""WITH ch AS (SELECT doc_id, substr(text, CAST(i AS INT), 1) AS c
        FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
              FROM documents)),
      alpha AS (SELECT c FROM ch WHERE doc_id % 10 = 0 GROUP BY c
        ORDER BY COUNT(*) DESC, c ASC LIMIT 16)
      SELECT doc_id, COUNT(*) AS n_chars,
        COUNT(*) FILTER (WHERE c IN (SELECT c FROM alpha)) AS n_covered,
        round(COUNT(*) FILTER (WHERE c IN (SELECT c FROM alpha))::DOUBLE
          / COUNT(*)::DOUBLE, 9) AS coverage
      FROM ch GROUP BY doc_id ORDER BY doc_id"""))

  /** Chained stateful aggregation, batch twin: hourly active users via
    * per-(window, user) pre-aggregation — the scalable COUNT(DISTINCT)
    * shape (see EventStreams.hourlyActiveUsers for the streaming mode). */
  val s8 = QueryDef("s8_active_users",
    (s, dir) => graft.streaming.EventStreams
      .hourlyActiveUsers(Tables.events(s, dir), withWatermark = false)
      .orderBy("window_start"),
    Some("""WITH per AS (SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS w,
        user_id, COUNT(*) AS n
        FROM events GROUP BY 1, 2)
      SELECT w AS window_start, COUNT(*) AS n_active_users,
        CAST(SUM(n) AS BIGINT) AS total_events
      FROM per GROUP BY w ORDER BY w"""))

  /** Stream-stream FULL OUTER interval join, batch twin (inner s4, left
    * outer s7 — this completes the matrix): unmatched rows from EITHER
    * side survive with NULLs. Order key: the (purchase_id, click_id) pair
    * is unique incl. the one-sided rows; nulls pinned FIRST on both
    * engines. */
  val s9 = QueryDef("s9_stream_full_join",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      graft.streaming.EventStreams
        .purchasesFullClicks(purchases, clicks, streaming = false)
        .orderBy(col("purchase_id").asc_nulls_first, col("click_id").asc_nulls_first)
    },
    Some("""SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        COALESCE(p.user_id, c.user_id) AS user_id
      FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'purchase') p
      FULL OUTER JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 30 MINUTES AND c.ts <= p.ts
      ORDER BY purchase_id NULLS FIRST, click_id NULLS FIRST"""))
}
