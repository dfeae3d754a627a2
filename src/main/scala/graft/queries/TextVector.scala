package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.{TextExprs, TextFns, VectorFns, SimHash}
import graft.operators.{Dedup, Similarity}
import QueryDef.dec

/** LLM-training-data pipeline coverage: dedup, similarity search, text
  * analysis over `documents` / `embeddings`, and the streaming-shaped event
  * queries (batch equivalents of the Structured Streaming jobs in
  * `graft.streaming`). Queries whose hashing scheme can't be replicated in
  * DuckDB (murmur3 minhash / simhash) have no oracle — the driver records a
  * rows-only check for those.
  */
object TextVector {

  def defs: Seq[QueryDef] = Seq(d1, d2, d3, d4, d5, d6, d7, d8, d9, d10, d11,
    d12, d13, d14, d15, e1, e2, e3, e4, e7, m2, s1, s2)

  /** Exact dedup: content-hash groupBy (md5), keeper = min id. */
  val d1 = QueryDef("d1_exact_dedup",
    (s, dir) => Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("fingerprint"),
    Some("""SELECT md5(text) AS fingerprint, MIN(doc_id) AS keeper_id,
      COUNT(*) AS n_dups FROM documents GROUP BY 1 ORDER BY fingerprint"""))

  /** Token counting (whitespace + BPE-ish regex) + mean token length. */
  val d2 = QueryDef("d2_token_stats",
    (s, dir) => {
      val doc = Tables.documents(s, dir)
      // GPT-2-flavored pre-tokenizer classes, ASCII-safe so Java regex and
      // RE2 (DuckDB) agree: letter runs | single digits | punctuation runs
      val bpeish = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]+"
      doc.select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast(LongType).as("n_tokens"),
        size(regexp_extract_all(col("text"), lit(bpeish), lit(0)))
          .cast(LongType).as("n_bpe_tokens"),
        TextFns.nonWsChars(col("text")).cast(LongType).as("n_chars_nows"),
        TextFns.meanTokenLen(col("text")).as("mean_token_len"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id,
      len(${TextFns.tokensSql("text")}) AS n_tokens,
      len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]+')) AS n_bpe_tokens,
      length(regexp_replace(text, '\\s+', '', 'g')) AS n_chars_nows,
      CASE WHEN len(${TextFns.tokensSql("text")}) > 0
        THEN CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
             / len(${TextFns.tokensSql("text")})
        ELSE 0.0 END AS mean_token_len
      FROM documents ORDER BY doc_id"""))

  /** Quality scoring: stopword ratio, punctuation count, length gate.
    * Tokens bound once — interpreted lambdas re-split per occurrence
    * otherwise (same lesson as the dedup hot path). */
  val d3 = QueryDef("d3_quality_score",
    (s, dir) => {
      val en = TextFns.langStopwords.toMap.apply("en")
      Tables.documents(s, dir)
        .withColumn("toks", TextFns.tokens(col("text")))
        .select(col("doc_id"),
          TextFns.vocabTokenCountOf(col("toks"), en).cast(LongType).as("stopword_hits"),
          TextFns.vocabTokenRatioOf(col("toks"), en).as("stop_ratio"),
          length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast(LongType).as("punct_chars"),
          when(TextFns.vocabTokenRatioOf(col("toks"), en) > 0.02 &&
            size(col("toks")).between(20, 2000), 1).otherwise(0).as("is_quality"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id,
      len(list_filter(${TextFns.tokensSql("text")},
        x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS stopword_hits,
      CASE WHEN len(${TextFns.tokensSql("text")}) > 0
        THEN CAST(len(list_filter(${TextFns.tokensSql("text")},
          x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS DOUBLE)
          / len(${TextFns.tokensSql("text")})
        ELSE 0.0 END AS stop_ratio,
      length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS punct_chars,
      CASE WHEN (CASE WHEN len(${TextFns.tokensSql("text")}) > 0
          THEN CAST(len(list_filter(${TextFns.tokensSql("text")},
            x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS DOUBLE)
            / len(${TextFns.tokensSql("text")})
          ELSE 0.0 END) > 0.02
        AND len(${TextFns.tokensSql("text")}) BETWEEN 20 AND 2000
        THEN 1 ELSE 0 END AS is_quality
      FROM documents ORDER BY doc_id"""))

  /** Language-ID heuristic: per-language stopword scores + argmax with a
    * fixed priority order (en > de > es > fr > zh). */
  val d4 = QueryDef("d4_lang_id",
    (s, dir) => {
      val doc = Tables.documents(s, dir)
        .withColumn("toks", TextFns.tokens(col("text")))
      val scored = TextFns.langStopwords.foldLeft(doc) { case (d, (lang, words)) =>
        d.withColumn(s"s_$lang",
          TextFns.vocabTokenCountOf(col("toks"), words).cast(LongType))
      }
      scored.select(col("doc_id"), col("s_en"), col("s_de"), col("s_es"),
        col("s_fr"), col("s_zh"),
        TextFns.langIdHeuristicOf(col("toks")).as("predicted_lang"))
        .orderBy("doc_id")
    },
    Some(s"""WITH sc AS (SELECT doc_id,
        len(list_filter(${TextFns.tokensSql("text")},
          x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS s_en,
        len(list_filter(${TextFns.tokensSql("text")},
          x -> x IN ('der','die','das','und','ist','nicht','ein','mit','von','zu'))) AS s_de,
        len(list_filter(${TextFns.tokensSql("text")},
          x -> x IN ('el','la','de','que','y','en','un','por','con','para'))) AS s_es,
        len(list_filter(${TextFns.tokensSql("text")},
          x -> x IN ('le','la','les','et','un','une','dans','est','pour','que'))) AS s_fr,
        len(list_filter(${TextFns.tokensSql("text")},
          x -> x IN ('的','是','了','在','我','有','和','就','不','人'))) AS s_zh
      FROM documents)
      SELECT doc_id, s_en, s_de, s_es, s_fr, s_zh,
        CASE
          WHEN s_en > 0 AND s_en >= greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
          WHEN s_de > 0 AND s_de >= greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
          WHEN s_es > 0 AND s_es >= greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
          WHEN s_fr > 0 AND s_fr >= greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
          WHEN s_zh > 0 AND s_zh >= greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'zh'
          ELSE 'und' END AS predicted_lang
      FROM sc ORDER BY doc_id"""))

  /** MinHash+LSH near-dup pairs, BOTH hash families on the same fixture,
    * ORACLE-GATED as an agreement claim: the production JVM family
    * (murmur3 signatures, not SQL-reproducible) and the md5-seeded affine
    * family (the d21/d11 construction) each emit their verified pair set
    * tagged with a `family` column; the DuckDB twin replays the md5
    * family end-to-end (shingles → affine minhash matrix → band-signature
    * candidates → exact-Jaccard verify) and emits every pair under BOTH
    * family labels. The judged claim is therefore: the JVM family's
    * band/bucket SELECTION surfaces exactly the same verified pairs as
    * the replayable md5 family — if the families ever diverge on a
    * judged SF, this row goes red instead of silently passing rows-only.
    * (Construction twins d21/d45/d25 pin the per-family hash math; this
    * closes the selection decision, the last unjudged piece.) The exact
    * Jaccard both families attach is the same shingle-set computation, so
    * the value column agrees by construction. */
  val d5 = QueryDef("d5_minhash_dedup",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val jvm = Dedup.minHashNearDuplicates(docs, "doc_id", "text",
        shingleK = 3, numHashes = 32, numBands = 4, jaccardThreshold = 0.5)
        .select(lit("jvm").as("family"), col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
      val md5f = Dedup.minHashNearDuplicatesMd5(docs, "doc_id", "text",
        shingleK = 3, numHashes = 16, numBands = 4, jaccardThreshold = 0.5)
        .select(lit("md5").as("family"), col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
      jvm.union(md5f).orderBy("family", "id_a", "id_b")
    },
    Some(s"""WITH ${Dedup.affineSignatureSql("documents", "doc_id", "text", 16)},
      shset AS (SELECT doc_id, list(shingle) AS s FROM sh GROUP BY doc_id),
      banded AS (SELECT doc_id, CAST(seed // 4 AS INT) AS band,
          array_to_string(list(CAST(mh AS VARCHAR) ORDER BY seed), ',') AS bkey
        FROM sig GROUP BY 1, 2),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      ver AS (SELECT c.id_a, c.id_b,
          CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
            / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS j
        FROM cand c
        JOIN shset sa ON c.id_a = sa.doc_id
        JOIN shset sb ON c.id_b = sb.doc_id)
      SELECT fam.family, v.id_a, v.id_b, round(v.j, 6) AS jaccard
      FROM ver v CROSS JOIN (VALUES ('jvm'), ('md5')) fam(family)
      WHERE v.j >= 0.5
      ORDER BY fam.family, v.id_a, v.id_b"""))

  /** Exact blocked n-gram Jaccard pairs (verify step of near-dup),
    * blocked on (source, lang) to bound the quadratic. */
  val d6 = QueryDef("d6_ngram_jaccard",
    (s, dir) => Dedup.blockedJaccardPairs(Tables.documents(s, dir),
      "doc_id", "text", blockCols = Seq("source", "lang"), shingleK = 3,
      threshold = 0.05)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("id_a", "id_b"),
    Some(s"""WITH sh AS (SELECT doc_id, source, lang,
        list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM (SELECT doc_id, source, lang, ${TextFns.tokensSql("text")} AS t FROM documents))
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
      FROM sh a JOIN sh b ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.05
      ORDER BY id_a, id_b"""))

  /** SimHash near-dup pairs (custom Catalyst expression — rows-only by
    * design: there is no verify step, so the emitted set is a function of
    * the family's own hash values and near-threshold pairs legitimately
    * differ between hash families; an exact-equality oracle would be
    * wrong). Construction is oracle-gated by d45; the SELECTION decision
    * is pinned by FamilyAgreementSpec (core-recall + cross-family-overlap
    * floors against the md5-64 twin, both fixtures). */
  val d7 = QueryDef("d7_simhash_dedup",
    (s, dir) => Dedup.simHashNearDuplicates(Tables.documents(s, dir),
      "doc_id", "text", maxHamming = 3)
      .orderBy("id_a", "id_b"),
    None,
    // sandwich (r12 task 6): d45 replays the identical pipeline on an
    // md5 bit basis DuckDB can compute — only the rolling-hash basis
    // differs, and FamilyAgreementSpec pins the selection overlap.
    twins = Seq("d45_simhash_md5_oracle"))

  /** Winnowing-lite document fingerprint: min md5 over word 5-shingles. */
  val d8 = QueryDef("d8_doc_fingerprint",
    (s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        TextFns.minShingleFingerprintOf(col("toks"), col("text"), 5)
          .as("fingerprint"))
      .orderBy("doc_id"),
    Some(s"""SELECT doc_id,
      COALESCE(list_min(list_transform(range(1, greatest(len(t) - 3, 1)),
        i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))),
        md5(trim(text))) AS fingerprint
      FROM (SELECT doc_id, text, ${TextFns.tokensSql("text")} AS t FROM documents)
      ORDER BY doc_id"""))

  /** Rolling-hash winnowing fingerprints (custom Catalyst expression) +
    * shared-fingerprint pair detection (rows-only: custom hash; no verify
    * step, so pair sets are family-dependent at the margin). Construction
    * is oracle-gated by d25; the SELECTION decision is pinned by
    * FamilyAgreementSpec: exact-Jaccard core ⊆ jvm pairs ⊆ md5-family
    * pairs on both fixtures. */
  val d9 = QueryDef("d9_winnowing_pairs",
    (s, dir) => {
      // checkpoint: the rolling-hash fingerprint expression feeds BOTH
      // sides of the self-join (and the global orderBy's range-sampling
      // pass re-executes its child) — materialize it once (r8 sf10 probe:
      // the un-checkpointed form re-ran the winnowing pass up to 4x)
      val fp = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.functions.TextExprs.winnowingFingerprint(
            col("text"), k = 20, w = 8)).as("fp"))
        .localCheckpoint(false)
      val b = fp.select(col("fp"), col("doc_id").as("doc_b"))
      fp.join(b, Seq("fp"))
        .filter(col("doc_id") < col("doc_b"))
        .groupBy(col("doc_id").as("id_a"), col("doc_b").as("id_b"))
        .agg(count(lit(1)).as("shared_fingerprints"))
        .filter(col("shared_fingerprints") >= 3)
        .orderBy("id_a", "id_b")
    },
    None,
    // sandwich (r12 task 6): d25 is the md5-basis winnowing twin DuckDB
    // replays end-to-end; only the rolling-hash basis differs.
    twins = Seq("d25_winnowing_md5_oracle"))

  /** Text cleaning transform: stopword removal + token re-join (the
    * corpus-normalization step before dedup/training). */
  val d10 = QueryDef("d10_stopword_strip",
    (s, dir) => {
      val en = TextFns.langStopwords.toMap.apply("en")
      Tables.documents(s, dir)
        .withColumn("toks", TextFns.tokens(col("text")))
        .select(col("doc_id"),
          array_join(filter(col("toks"),
            t => !t.isin(en.map(lit(_)): _*)), " ").as("clean_text"),
          (size(col("toks")) -
            size(filter(col("toks"), t => !t.isin(en.map(lit(_)): _*))))
            .cast(LongType).as("n_removed"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id,
      array_to_string(list_filter(${TextFns.tokensSql("text")},
        t -> t NOT IN ('the','a','of','and','to','in','is','that','it','for')), ' ') AS clean_text,
      len(${TextFns.tokensSql("text")})
        - len(list_filter(${TextFns.tokensSql("text")},
            t -> t NOT IN ('the','a','of','and','to','in','is','that','it','for'))) AS n_removed
      FROM documents ORDER BY doc_id"""))

  /** The full corpus-cleaning composite: normalize -> exact dedup ->
    * near-dup removal -> quality gate; outputs surviving doc ids. ORACLE-
    * GATED since the near-dup stage runs the md5-seeded affine hash family
    * (`Dedup.minHashNearDuplicatesMd5`, the d21 construction), which lets
    * DuckDB replay the ENTIRE pipeline — normalization regex, min-id exact
    * dedup, affine minhash matrix, band-signature candidate join,
    * exact-Jaccard verify, greedy smaller-id-wins drop, token-count gate —
    * end to end. */
  val d11 = QueryDef("d11_clean_corpus",
    (s, dir) => {
      val (clean, stats) = graft.operators.CorpusPipeline.cleanCorpus(
        Tables.documents(s, dir), jaccardThreshold = 0.5, minTokens = 5,
        pairFinder = Some((d, i, t, j) =>
          graft.operators.Dedup.minHashNearDuplicatesMd5(d, i, t,
            jaccardThreshold = j)))
      clean.select(col("doc_id"), lit(stats.input).as("n_input"),
        lit(stats.afterNearDup).as("n_after_neardup"))
        .orderBy("doc_id")
    },
    Some(s"""WITH norm AS (
        SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
        FROM documents),
      exact AS (
        SELECT doc_id, t FROM norm
        QUALIFY row_number() OVER (PARTITION BY md5(t) ORDER BY doc_id) = 1),
      ${Dedup.affineSignatureSql("exact", "doc_id", "t", 16)},
      shsz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      banded AS (
        SELECT doc_id, CAST(seed // 4 AS INT) AS band,
          array_to_string(list(CAST(mh AS VARCHAR) ORDER BY seed), ',') AS bkey
        FROM sig GROUP BY 1, 2),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      jac AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
        GROUP BY 1, 2),
      losers AS (
        SELECT DISTINCT j.id_b AS doc_id
        FROM jac j
        JOIN shsz za ON za.doc_id = j.id_a
        JOIN shsz zb ON zb.doc_id = j.id_b
        WHERE CAST(j.inter AS DOUBLE) / (za.sz + zb.sz - j.inter) >= 0.5),
      neark AS (
        SELECT e.doc_id, e.t FROM exact e
        LEFT JOIN losers l ON l.doc_id = e.doc_id WHERE l.doc_id IS NULL),
      counts AS (
        SELECT (SELECT COUNT(*) FROM documents) AS n_input,
               (SELECT COUNT(*) FROM neark) AS n_after_neardup)
      SELECT q.doc_id, c.n_input, c.n_after_neardup
      FROM (SELECT doc_id FROM neark
            WHERE len(regexp_split_to_array(t, '\\s+')) BETWEEN 5 AND 100000) q
      CROSS JOIN counts c
      ORDER BY q.doc_id"""))

  /** Repetition/diversity quality signals (the Gopher-style filters a
    * training corpus runs): type-token ratio, top-bigram concentration,
    * duplicate-bigram fraction. Explode+groupBy keeps the bigram counting
    * distributed (no per-row quadratic buffers). */
  val d12 = QueryDef("d12_repetition_stats",
    (s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"),
          size(col("toks")).cast(LongType).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          col("toks"))
      val bigrams = base.select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        explode(expr(
          "transform(sequence(1, size(toks)-1), i -> concat(element_at(toks, i), ' ', element_at(toks, i+1)))"
        )).as("bigram"))
      bigrams
        .groupBy("doc_id", "n_tokens", "n_distinct", "bigram")
        .agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "n_tokens", "n_distinct")
        .agg(max(col("c")).as("top_bigram_n"),
          sum(col("c")).as("n_bigrams"),
          count(lit(1)).as("n_distinct_bigrams"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("n_distinct").cast(DoubleType) / col("n_tokens"), 6).as("ttr"),
          col("top_bigram_n"),
          round(lit(1.0) - col("n_distinct_bigrams").cast(DoubleType) / col("n_bigrams"), 6)
            .as("dup_bigram_frac"))
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, ${TextFns.tokensSql("text")} AS toks
        FROM documents),
      b AS (SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct,
          unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bigram
        FROM t WHERE len(toks) >= 2),
      c AS (SELECT doc_id, n_tokens, n_distinct, bigram, COUNT(*) AS cnt
        FROM b GROUP BY 1, 2, 3, 4)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS ttr,
        CAST(MAX(cnt) AS BIGINT) AS top_bigram_n,
        ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6) AS dup_bigram_frac
      FROM c GROUP BY doc_id, n_tokens, n_distinct ORDER BY doc_id"""))

  /** Deterministic stratified sampling — domain/language mixing for a
    * training corpus: downsample the dominant language by a content-stable
    * hash (md5 of the id, never rand(): reproducible under retries and
    * identical on any engine). */
  val d13 = QueryDef("d13_stratified_sample",
    (s, dir) => {
      val bucket = TextFns.hash32(col("doc_id").cast(StringType)) % 100
      val rate = when(col("lang") === "en", 40)
        .when(col("lang") === "zh", 80)
        .otherwise(100)
      Tables.documents(s, dir)
        .withColumn("bucket", bucket)
        .filter(col("bucket") < rate)
        .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id, lang, source, bucket FROM (
        SELECT doc_id, lang, source,
          ${TextFns.hash32Sql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
          CASE WHEN lang = 'en' THEN 40 WHEN lang = 'zh' THEN 80 ELSE 100 END AS rate
        FROM documents) t
      WHERE bucket < rate ORDER BY doc_id"""))

  /** Token-budget sequence packing — concatenate-then-chop (how training
    * corpora pack documents into fixed-length sequences): each doc lands in
    * the sequence containing its START offset within its language stream.
    * One window cumsum + one groupBy; deterministic doc order (doc_id). */
  val d14 = QueryDef("d14_token_packing",
    (s, dir) => {
      val budget = 512
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          size(TextFns.tokens(col("text"))).cast(LongType).as("n"))
        .withColumn("cum", sum(col("n")).over(w))
        .withColumn("seq_id",
          floor((col("cum") - col("n")) / lit(budget.toDouble)).cast(LongType))
        .groupBy("lang", "seq_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).as("total_tokens"),
          round(sum(col("n")).cast(DoubleType) / budget, 6).as("fill_ratio"))
        .orderBy("lang", "seq_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, lang,
        len(${TextFns.tokensSql("text")}) AS n FROM documents),
      c AS (SELECT doc_id, lang, n,
        SUM(n) OVER (PARTITION BY lang ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
      SELECT lang, CAST(FLOOR((cum - n) / 512.0) AS BIGINT) AS seq_id,
        COUNT(*) AS n_docs,
        CAST(SUM(n) AS BIGINT) AS total_tokens,
        ROUND(CAST(SUM(n) AS DOUBLE) / 512, 6) AS fill_ratio
      FROM c GROUP BY lang, seq_id ORDER BY lang, seq_id"""))

  /** Train/eval contamination check: does a training doc share word
    * 5-grams with the benchmark set (here: doc_id < 20 plays the eval
    * suite)? Explode distinct shingles, equi-join on the shingle — at
    * 100 TB the shingle key would be a 64-bit hash; strings keep the
    * DuckDB oracle exact here. */
  val d15 = QueryDef("d15_contamination",
    (s, dir) => {
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextExprs.distinctShingles(
            TextFns.tokens(col("text")), 5)).as("shingle"))
      val bench = sh.filter(col("doc_id") < 20)
        .select(col("shingle"), col("doc_id").as("bench_id")).distinct()
      sh.filter(col("doc_id") >= 20)
        .join(bench, Seq("shingle"))
        .groupBy("doc_id")
        .agg(countDistinct(col("shingle")).as("n_shared_shingles"),
          countDistinct(col("bench_id")).as("n_bench_docs"))
        .orderBy("doc_id")
    },
    Some(s"""WITH sh AS (SELECT doc_id,
        unnest(list_distinct(list_transform(range(1, greatest(len(t) - 3, 1)),
          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))) AS shingle
        FROM (SELECT doc_id, ${TextFns.tokensSql("text")} AS t FROM documents)
        WHERE len(t) >= 5),
      bench AS (SELECT DISTINCT shingle, doc_id AS bench_id FROM sh WHERE doc_id < 20)
      SELECT s.doc_id,
        CAST(COUNT(DISTINCT s.shingle) AS BIGINT) AS n_shared_shingles,
        CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
      FROM sh s JOIN bench b ON s.shingle = b.shingle
      WHERE s.doc_id >= 20
      GROUP BY s.doc_id ORDER BY s.doc_id"""))

  /** Per-label centroids: element-wise mean via posexplode — shuffles on
    * (label, dim), the scalable layout for wide fleets. */
  val e1 = QueryDef("e1_label_centroids",
    (s, dir) => Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), (col("pos") + 1).cast(LongType).as("dim"))
      .agg(round(avg(col("v").cast(DoubleType)), 6).as("centroid"))
      .orderBy("label", "dim"),
    Some("""SELECT label, i AS dim,
      ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS centroid
      FROM embeddings, range(1, 65) t(i)
      GROUP BY label, i ORDER BY label, dim"""))

  /** Brute-force cosine top-k (exact ANN baseline; query side broadcast). */
  val e2 = QueryDef("e2_knn_brute",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 30)
      Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine_r"), col("rank"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 30),
      pairs AS (SELECT q.qid, c.vec_id AS nid,
        list_sum(list_transform(range(1, 65), i -> CAST(q.qv[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))
           * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))))
        AS sim
      FROM q CROSS JOIN embeddings c WHERE c.vec_id <> q.qid)
      SELECT qid AS query_id, nid AS neighbor_id, ROUND(sim, 4) AS cosine_r, CAST(rank AS INT) AS rank
      FROM (SELECT qid, nid, sim,
              row_number() OVER (PARTITION BY qid ORDER BY round(sim, 9) DESC, nid) AS rank
            FROM pairs) t
      WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** IVF ANN through the PRODUCTION path — kmeansCentroids (the real
    * MLlib fit) → assignCells → ivfTopK — oracle-gated end to end via the
    * e10 unique-optimum trick (r11 verdict task 3; this was the last
    * rows-only operator whose own query had no oracle).
    *
    * Fixture: the indexed corpus replaces every vector with an exact copy
    * of anchor vec_id % 10 — ten well-separated blobs of IDENTICAL points.
    * On such a corpus the k=10 KMeans optimum is unique with cost 0: the
    * ten anchors themselves. MLlib reaches it deterministically (e10's
    * argument: k-means|| samples candidates proportional to cost, so
    * duplicates of a chosen center are never re-sampled and the distinct
    * anchors are the only possible centers; Lloyd then fixes them up to
    * mean-of-N-identical-doubles ulps). The QUERY side keeps the ORIGINAL
    * embeddings (vec_id < 30), so probe selection and the final cosines
    * are non-degenerate. Every stage is then relational: centroids = the
    * anchors; cell(v) = own anchor (cosine ~1.0 vs ≤0.46 cross-anchor on
    * this corpus); probed cells = top-6 anchors by (round(cos,9) desc);
    * top-k = members of probed cells by (round(cos,9) desc, id asc).
    * Spark's probe tie-break is centroid_id (an MLlib internal), the
    * oracle's is anchor id — they can differ only on a round-9 cosine
    * collision between two distinct random anchors; none occurs at any
    * judged SF (the e10 ulps-tolerance class of assumption). The recall
    * claim on the REAL corpus stays judged separately by e7. */
  val e3 = QueryDef("e3_knn_ivf",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val anchors = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("aid"), col("embedding").as("avec"))
      val fixture = emb.select(col("vec_id"), (col("vec_id") % 10).as("aid"))
        .join(broadcast(anchors), "aid")
        .select(col("vec_id"), col("avec").as("embedding"))
      val centroids = Similarity.kmeansCentroids(fixture, "embedding", k = 10)
      val cells = Similarity.assignCells(fixture, centroids, "vec_id", "embedding")
      val queries = emb.filter(col("vec_id") < 30)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      Similarity.ivfTopK(queries, cells, centroids, k = 5, nProbe = 6)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine_r"), col("rank"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH anchors AS (SELECT vec_id AS aid, embedding AS avec
        FROM embeddings WHERE vec_id < 10),
      fixture AS (SELECT e.vec_id, a.aid, a.avec
        FROM embeddings e JOIN anchors a ON a.aid = e.vec_id % 10),
      q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 30),
      probes AS (SELECT q.qid, a.aid,
        list_sum(list_transform(range(1, 65), i -> CAST(q.qv[i] AS DOUBLE) * CAST(a.avec[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))
           * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.avec[i] AS DOUBLE) * CAST(a.avec[i] AS DOUBLE)))))
        AS sim
        FROM q CROSS JOIN anchors a),
      probed AS (SELECT qid, aid FROM (SELECT qid, aid,
          row_number() OVER (PARTITION BY qid ORDER BY round(sim, 9) DESC, aid ASC) AS rn
        FROM probes) WHERE rn <= 6),
      cand AS (SELECT p.qid, f.vec_id AS nid,
        list_sum(list_transform(range(1, 65), i -> CAST(q.qv[i] AS DOUBLE) * CAST(f.avec[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))
           * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(f.avec[i] AS DOUBLE) * CAST(f.avec[i] AS DOUBLE)))))
        AS sim
        FROM probed p JOIN fixture f ON f.aid = p.aid JOIN q ON q.qid = p.qid
        WHERE f.vec_id <> p.qid)
      SELECT qid AS query_id, nid AS neighbor_id, ROUND(sim, 4) AS cosine_r,
        CAST(rank AS INT) AS rank
      FROM (SELECT qid, nid, sim,
          row_number() OVER (PARTITION BY qid ORDER BY round(sim, 9) DESC, nid ASC) AS rank
        FROM cand) t
      WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** The IVF index's accuracy claim as a judged surface (the d30/d34
    * verdict pattern): e3's exact result set stays rows-only (kmeans
    * centroids aren't SQL-reproducible), but its recall against the
    * brute-force exact top-k — computed IN THE SAME PLAN with identical
    * parameters — becomes a boolean the oracle asserts: DuckDB recomputes
    * the query-sample size and expects recall_ok = TRUE. The ≥0.8 bound
    * comes from the nProbe=6 sweep (recall@5 = 0.85/0.86 measured at
    * sf0.001/sf0.01, SimilaritySpec envelope). */
  val e7 = QueryDef("e7_ivf_recall_check",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 30)
      val brute = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val centroids = Similarity.kmeansCentroids(emb, "embedding", k = 10)
      val cells = Similarity.assignCells(emb, centroids, "vec_id", "embedding")
      val ivf = Similarity.ivfTopK(
        queries.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        cells, centroids, k = 5, nProbe = 6)
        .select(col("query_id"), col("neighbor_id"))
      val hits = brute.join(ivf, Seq("query_id", "neighbor_id"), "left_semi")
      brute.agg(count(lit(1)).as("__n_exact"))
        .crossJoin(hits.agg(count(lit(1)).as("__n_hit")))
        .crossJoin(queries.agg(count(lit(1)).as("n_queries")))
        .select(col("n_queries"),
          (col("__n_hit").cast(DoubleType) / col("__n_exact").cast(DoubleType)
            >= 0.8).as("recall_ok"))
    },
    Some("""SELECT COUNT(*) AS n_queries, TRUE AS recall_ok
      FROM embeddings WHERE vec_id < 30"""))

  /** Embedding-cosine near-duplicates via random-hyperplane LSH blocking +
    * exact cosine verify — now ORACLE-GATED end to end: the murmur-seeded
    * plane coefficients are DATA-INDEPENDENT constants (hash("hp<b>|<j>")
    * / 2³²), so the oracle inlines the same 6×64 doubles (shortest-repr
    * literals round-trip exactly) and replays bucketing, the bucket
    * equi-join, and the e2-parity cosine verify. The projection sums fold
    * left in dimension order on both engines; `>= 0` on bit-identical
    * sums picks identical buckets. The test embeddings are near-random
    * (max pairwise cosine ~0.46), so the threshold sits where this corpus
    * actually has neighbors; production near-dup removal would use ~0.95.
    * (TextVectorSpec pins the inlined constants == hash(lit(...)).) */
  val e4 = QueryDef("e4_embedding_neardup",
    (s, dir) => Dedup.embeddingNearDuplicates(Tables.embeddings(s, dir),
      "vec_id", "embedding", dim = 64, bits = 6, cosineThreshold = 0.3)
      .withColumn("cosine", round(col("cosine"), 4))
      .orderBy("id_a", "id_b"),
    Some {
      // shared guarded cosine (QueryDef.cosSql64): a zero-norm vector is
      // NULL on both engines, matching CosineSim — NaN would pass
      // DuckDB's >= filter while Spark's NULL never does
      val cos = QueryDef.cosSql64("ea.embedding", "eb.embedding")
      val bitExprs = (0 until 6).map { b =>
        val terms = (0 until 64).map { j =>
          s"CAST(embedding[${j + 1}] AS DOUBLE) * (${graft.functions.VectorFns.planeCoef(b, j)})"
        }.mkString(" + ")
        s"CASE WHEN ($terms) >= 0 THEN '1' ELSE '0' END"
      }.mkString(" || ")
      s"""WITH sig AS (SELECT vec_id, $bitExprs AS bucket FROM embeddings),
        pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        SELECT p.id_a, p.id_b, round($cos, 4) AS cosine
        FROM pairs p
        JOIN embeddings ea ON ea.vec_id = p.id_a
        JOIN embeddings eb ON eb.vec_id = p.id_b
        WHERE $cos >= 0.3
        ORDER BY p.id_a, p.id_b"""
    })

  /** Multimodal asset plumbing over synthesized binary content (documents'
    * bytes play the asset payload): content entropy stats + frame-sample
    * counts through the real mapPartitions/explode plumbing. ORACLE-GATED:
    * the payload is ASCII, so DuckDB recomputes byte entropy and frame
    * windows from the source text. (The murmur stub-decode fields stay off
    * the judged projection — pinned by MultimodalSpec instead.) */
  val m2 = QueryDef("m2_multimodal_stats",
    (s, dir) => {
      val assets = Tables.documents(s, dir)
        .select(col("doc_id").as("asset_id"),
          when(col("doc_id") % 2 === 0, "image").otherwise("video").as("media_type"),
          col("text").cast("binary").as("content"))
      val meta = graft.operators.Multimodal.withDecodedMeta(assets)
      val stats = graft.operators.Multimodal.contentStats(assets)
      val frames = graft.operators.Multimodal.sampleFramesStub(assets,
        frameBytes = 64, everyNth = 2)
        .groupBy("asset_id").agg(count(lit(1)).as("n_frames"))
      meta.select(col("asset_id"), col("media_type"))
        .join(stats, Seq("asset_id"))
        .join(frames, Seq("asset_id"), "left")
        .withColumn("n_frames", coalesce(col("n_frames"), lit(0L)))
        .withColumn("entropy", round(col("entropy"), 6))
        .orderBy("asset_id")
    },
    Some("""WITH a AS (SELECT doc_id AS asset_id,
        CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'video' END AS media_type,
        text FROM documents),
      b AS (SELECT asset_id, substr(text, CAST(i AS INT), 1) AS c
        FROM (SELECT asset_id, text, unnest(range(1, length(text) + 1)) AS i FROM a)),
      p AS (SELECT asset_id, c, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
      e AS (SELECT p.asset_id,
          ROUND(SUM(-(CAST(cnt AS DOUBLE) / n) * log2(CAST(cnt AS DOUBLE) / n)), 6) AS entropy
        FROM p JOIN (SELECT asset_id, SUM(cnt) AS n FROM p GROUP BY 1) t USING (asset_id)
        GROUP BY p.asset_id)
      SELECT a.asset_id, a.media_type,
        CAST(length(a.text) AS BIGINT) AS n_bytes,
        COALESCE(e.entropy, 0.0) AS entropy,
        CASE WHEN FLOOR(length(a.text) / 64) > 0
          THEN CAST(FLOOR((FLOOR(length(a.text) / 64.0) + 1) / 2) AS BIGINT)
          ELSE 0 END AS n_frames
      FROM a LEFT JOIN e USING (asset_id)
      ORDER BY asset_id"""))

  /** Tumbling-window event aggregation — the EXACT transform the
    * Structured Streaming job runs (graft.streaming.EventStreams), executed
    * in batch mode: one definition, two execution modes. */
  val s1 = QueryDef("s1_event_hourly",
    (s, dir) => graft.streaming.EventStreams
      .hourlyByType(Tables.events(s, dir), withWatermark = false)
      .orderBy("window_start", "event_type"),
    Some("""SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
      event_type, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""))

  /** Gap-based sessionization (30-min inactivity), microsecond-truncated on
    * both engines so the ns-precision parquet column compares equal. */
  val s2 = QueryDef("s2_sessionize",
    (s, dir) => {
      val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val ev = Tables.events(s, dir)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wOrd))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1).otherwise(0))
        .withColumn("session_id",
          sum(col("new_session")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      ev.groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"), min(col("ts")).as("session_start"))
        .orderBy("user_id", "session_id")
    },
    Some("""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      marked AS (SELECT user_id, event_id, ts,
        CASE WHEN lag(ts) OVER w IS NULL
          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_session
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (SELECT user_id, event_id, ts,
        CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM marked)
      SELECT user_id, session_id, COUNT(*) AS n_events, MIN(ts) AS session_start
      FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id"""))
}
