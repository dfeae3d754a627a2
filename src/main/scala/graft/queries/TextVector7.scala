package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.core.Tables
import graft.functions.TextFns
import graft.operators.Mixture

/** Tenth coverage batch: the corpus OUTPUT-side moves — normalization-keyed
  * deduplication (CCNet's dedup normalizer) and the deterministic global
  * shuffle + sharding that lays a corpus out for training. */
object TextVector7 {

  def defs: Seq[QueryDef] = Seq(d51, d52, d53, d54, d55)

  /** CCNet normalization-keyed exact dedup: hash the NORMALIZED text
    * ([[TextFns.ccnetNormalize]] — lowercase, accent fold, digits→0,
    * punctuation strip, whitespace collapse) so trivially-variant docs
    * collide where d1's raw-byte hash would not. Scale shape = d1's: one
    * md5-key shuffle for cluster sizes, broadcast-free join back on the
    * hash. Judged per doc: normalized length, hash, cluster size, dup
    * flag. */
  val d51 = QueryDef("d51_ccnet_norm_dedup",
    (s, dir) => {
      // checkpoint: the normalize chain (4 regex passes over every byte)
      // feeds TWO consumers (cluster counts + the join-back) and then a
      // global orderBy whose range-sampling pass re-executes its child —
      // without the checkpoint the chain runs up to 4x (r8 sf10 probe:
      // 49-69 s legs vs 4 s with the plan shared; the duplicated-lazy-
      // plan trap, instance six)
      val h = Tables.documents(s, dir)
        .select(col("doc_id"), TextFns.ccnetNormalize(col("text")).as("__norm"))
        .select(col("doc_id"),
          length(col("__norm")).cast(LongType).as("n_norm_chars"),
          md5(col("__norm")).as("norm_hash"))
        .localCheckpoint(false)
      val clusters = h.groupBy("norm_hash").agg(count(lit(1)).as("n_same"))
      h.join(clusters, Seq("norm_hash"))
        .select(col("doc_id"), col("n_norm_chars"), col("norm_hash"),
          col("n_same"), (col("n_same") > 1).as("is_dup"))
        .orderBy("doc_id")
    },
    Some(s"""WITH n AS (SELECT doc_id,
        trim(regexp_replace(regexp_replace(regexp_replace(
          translate(lower(text), '${TextFns.accentFrom}', '${TextFns.accentTo}'),
          '[0-9]', '0', 'g'), '[^a-z0 \\t\\n\\r\\f]', '', 'g'),
          '[ \\t\\n\\r\\f]+', ' ', 'g')) AS norm
        FROM documents),
      h AS (SELECT doc_id, CAST(length(norm) AS BIGINT) AS n_norm_chars,
          md5(norm) AS norm_hash FROM n),
      c AS (SELECT norm_hash, count(*) AS n_same FROM h GROUP BY 1)
      SELECT doc_id, n_norm_chars, norm_hash, n_same, (n_same > 1) AS is_dup
      FROM h JOIN c USING (norm_hash) ORDER BY doc_id"""))

  /** Corpus datacard — the per-(source, lang) statistics rollup every
    * released dataset publishes (datasheets/data cards: size, token and
    * char mass, length distribution, duplication): doc/token/char counts,
    * exact median token count (the q10 percentile ↔ quantile_cont
    * parity), CORPUS-WIDE exact-dup incidence attributed per group
    * (md5(text) appearing >1 anywhere — d1's key), dup rate in exact
    * integer basis points, and the share of docs meeting Gopher's 50-word
    * floor. One tokenize scan (the lazy checkpoint feeds the dup-key
    * counts, the rollup, and the median select); two shuffles (hash
    * counts, group rollup). The exact median comes from
    * [[graft.core.Indexing.groupQuantiles]] — the distributed
    * order-statistic select (r8 advisor finding: the `percentile`
    * aggregate's buffer holds ALL group members, and a (source, lang)
    * group is corpus-sized; the select's state is a driver-bounded
    * histogram plus a bucket-filtered pick — hash-identical output, the
    * d34 contract). The join-back is null-safe: the degenerate-corpus
    * gate feeds a NULL-lang group a plain equi-join would drop. */
  val d53 = QueryDef("d53_corpus_datacard",
    (s, dir) => {
      val perDoc = Tables.documents(s, dir)
        .select(col("source"), col("lang"), col("n_chars"),
          size(TextFns.tokens(col("text"))).cast(LongType).as("n_toks"),
          md5(col("text")).as("h"))
        .localCheckpoint(false)
      val dupCounts = perDoc.groupBy("h").agg(count(lit(1)).as("n_same"))
      val med = graft.core.Indexing
        .groupQuantiles(perDoc, Seq("source", "lang"), "n_toks", Seq(0.5))
        .select(col("source").as("m_source"), col("lang").as("m_lang"),
          col("__quantile").as("median_tokens"))
      val roll = perDoc.join(dupCounts, Seq("h"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          count(when(col("n_same") > 1, 1)).as("n_dup_docs"),
          count(when(col("n_toks") >= 50, 1)).as("n_ge50_tokens"))
      // LEFT join (and null-safe keys): an all-NULL-token group is absent
      // from the select's output but keeps its datacard row with a NULL
      // median, matching the old percentile form and the oracle
      roll.join(broadcast(med),
          col("source") <=> col("m_source") && col("lang") <=> col("m_lang"),
          "left")
        .withColumn("dup_rate_bp", expr("n_dup_docs * 10000 DIV n_docs"))
        .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
          col("sum_chars"), col("median_tokens"), col("n_dup_docs"),
          col("n_ge50_tokens"), col("dup_rate_bp"))
        // explicit nulls-first on BOTH engines: Spark's asc default is
        // NULLS FIRST, DuckDB's is NULLS LAST — a NULL lang row (the
        // pathological-corpus class) would otherwise order differently
        .orderBy(col("source").asc_nulls_first, col("lang").asc_nulls_first)
    },
    Some(s"""WITH d AS (SELECT source, lang, n_chars,
          CAST(len(${TextFns.tokensSql("text")}) AS BIGINT) AS n_toks,
          md5(text) AS h
        FROM documents),
      c AS (SELECT h, count(*) AS n_same FROM d GROUP BY 1)
      SELECT source, lang, count(*) AS n_docs,
        CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        quantile_cont(n_toks, 0.5) AS median_tokens,
        count(CASE WHEN n_same > 1 THEN 1 END) AS n_dup_docs,
        count(CASE WHEN n_toks >= 50 THEN 1 END) AS n_ge50_tokens,
        count(CASE WHEN n_same > 1 THEN 1 END) * 10000
          // count(*) AS dup_rate_bp
      FROM d JOIN c USING (h)
      GROUP BY source, lang
      ORDER BY source NULLS FIRST, lang NULLS FIRST"""))

  /** The round-7 curation stack composed END-TO-END as one lazy plan —
    * the capstone composition: normalization-keyed dedup (d51's key,
    * lowest-id keeper) → the C4 rule gate (d50) → the GPT-3 quality
    * classifier + Pareto acceptance TRAINED ON THE SURVIVOR distribution
    * (d48 re-based — the model a real pipeline fits after cleaning) →
    * temperature mixture resampling (d42, α = 0.5) → deterministic
    * shuffle-sharding of the final corpus (d52). Judged per doc: the
    * FIRST stage that dropped it (or 'kept') plus the final shard
    * assignment — a single hash over the whole pipeline's routing, so
    * any drift in any stage, or in how stages compose, breaks the gate.
    * Every stage is an operator already oracle-proven in isolation; this
    * pins their composition. */
  val d54 = QueryDef("d54_curation_pipeline",
    (s, dir) => {
      // Injected deterministic twins (the d35 pattern) make EVERY stage's
      // judged surface non-empty at every SF — the synthetic corpus has no
      // sentence punctuation, so without them the C4 gate would drop all
      // docs and stages 3-5 would be judged on the empty relation:
      //  * +2e9 twins (every 10th doc): original text + a punctuated
      //    suffix — pass C4 and feed classifier/mix/shard;
      //  * +3e9 twins (every 25th doc): ASCII-case-folded text + the same
      //    suffix — where both twins exist (every 50th) they collide in
      //    NORMALIZED space, exercising the dedup stage (keeper = lower
      //    id). translate, not upper(): locale-exact on both engines.
      val suffix = ". Extra sentence one! Extra sentence two? Extra three."
      val lo = "abcdefghijklmnopqrstuvwxyz"
      val up = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
      val baseDocs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
      val twins1 = baseDocs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000000L).as("doc_id"), col("lang"),
          col("source"), concat(col("text"), lit(suffix)).as("text"))
      val twins2 = baseDocs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 3000000000L).as("doc_id"), col("lang"),
          col("source"),
          concat(translate(col("text"), lo, up), lit(suffix)).as("text"))
      val docs = baseDocs.unionByName(twins1).unionByName(twins2)
      // coalesce: a NULL text must still be attributed to a stage, not
      // vanish through a never-matching NULL join key
      val withH = docs
        .withColumn("nh",
          md5(coalesce(TextFns.ccnetNormalize(col("text")), lit(""))))
        .localCheckpoint(false)
      val keepers = withH.groupBy("nh").agg(min(col("doc_id")).as("keeper"))
      // checkpoint: s1 feeds three legs of the final plan (verdict join,
      // c4 flags, survivor path) — without it the dedup shuffle re-runs
      val s1 = withH.join(keepers, Seq("nh"))
        .withColumn("dedup_keep", col("doc_id") === col("keeper"))
        .localCheckpoint(false)
      val s2flag = s1.filter(col("dedup_keep"))
        .withColumn("c4_pass", TextFns.c4Pass(col("text")))
      val surv2 = s2flag.filter(col("c4_pass"))
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .localCheckpoint(false)
      val cls = graft.operators.Classifier.paretoQualityFilter(surv2,
          "doc_id", "text", col("source").isin("src0", "src1", "src2"))
        .select(col("id").as("doc_id"), col("kept").as("cls_kept"))
      val surv3 = surv2.join(cls, Seq("doc_id")).filter(col("cls_kept"))
        .select(col("doc_id"), col("lang"))
      // checkpoint: mixFlag is consumed by the shard pass (3 scans inside
      // globalRowIds) AND the final verdict join
      val mixFlag = Mixture.temperatureResample(surv3, "lang", "doc_id",
          alpha = 0.5, targetFraction = 0.5)
        .select(col("doc_id"), lit(true).as("mix_keep"))
        .localCheckpoint(false)
      val hkey = TextFns.hash32(col("doc_id").cast("string"))
      val keyed = mixFlag.select(col("doc_id")).withColumn("hkey", hkey)
      val sh = graft.core.Indexing.globalRowIds(keyed, "hkey", "position",
          tieBreak = Seq("doc_id"))
        .select(col("doc_id"), expr("position % 8").as("shard"),
          expr("position DIV 8").as("pos_in_shard"))
      s1.select(col("doc_id"), col("dedup_keep"))
        .join(s2flag.select(col("doc_id"), col("c4_pass")), Seq("doc_id"), "left")
        .join(cls, Seq("doc_id"), "left")
        .join(mixFlag, Seq("doc_id"), "left")
        .join(sh, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(!col("dedup_keep"), "dedup")
            .when(!col("c4_pass"), "c4")
            .when(!col("cls_kept"), "classifier")
            .when(col("mix_keep").isNull, "mix")
            .otherwise("kept").as("stage"),
          col("shard"), col("pos_in_shard"))
        .orderBy("doc_id")
    },
    Some(s"""WITH docs AS (
        SELECT doc_id, lang, source, text FROM documents
        UNION ALL
        SELECT doc_id + 2000000000, lang, source,
          text || '. Extra sentence one! Extra sentence two? Extra three.'
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 3000000000, lang, source,
          translate(text, 'abcdefghijklmnopqrstuvwxyz',
            'ABCDEFGHIJKLMNOPQRSTUVWXYZ')
            || '. Extra sentence one! Extra sentence two? Extra three.'
        FROM documents WHERE doc_id % 25 = 0),
      norm AS (SELECT doc_id, lang, source, text,
        md5(coalesce(trim(regexp_replace(regexp_replace(regexp_replace(
          translate(lower(text), '${TextFns.accentFrom}', '${TextFns.accentTo}'),
          '[0-9]', '0', 'g'), '[^a-z0 \\t\\n\\r\\f]', '', 'g'),
          '[ \\t\\n\\r\\f]+', ' ', 'g')), '')) AS nh
        FROM docs),
      keep1 AS (SELECT nh, min(doc_id) AS keeper FROM norm GROUP BY nh),
      s1 AS (SELECT norm.doc_id, norm.lang, norm.source, norm.text,
          (norm.doc_id = keep1.keeper) AS dedup_keep
        FROM norm JOIN keep1 USING (nh)),
      c4g AS (SELECT doc_id, ${TextFns.c4PassSql("text")} AS c4_pass
        FROM s1 WHERE dedup_keep),
      s2 AS (SELECT s1.doc_id, s1.lang, s1.source, s1.text
        FROM s1 JOIN c4g USING (doc_id) WHERE c4g.c4_pass),
      tokd AS (SELECT doc_id, (source IN ('src0','src1','src2')) AS pos,
          unnest(${TextFns.tokensSql("text")}) AS tok FROM s2),
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
      sc AS (SELECT doc_id, round(sum(w) / count(*), 6) AS score_r
        FROM feats JOIN w USING (bucket) GROUP BY 1),
      pr AS (SELECT doc_id,
          round(1.0 / (1.0 + exp(-score_r)), 6) AS prob_r,
          CAST(${TextFns.hash32Sql("CAST(doc_id AS VARCHAR) || '|u'")}
            % 1000000 AS DOUBLE) / 1000000.0 AS u
        FROM sc),
      cc1 AS (SELECT *, (2.0 - prob_r) AS p FROM pr),
      cc2 AS (SELECT *, p * p AS p2 FROM cc1),
      cc3 AS (SELECT *, p2 * p2 AS p4 FROM cc2),
      cc4 AS (SELECT *, p4 * p4 AS p8 FROM cc3),
      cls AS (SELECT doc_id, (u > 1.0 - 1.0 / (p8 * p)) AS cls_kept FROM cc4),
      s3 AS (SELECT s2.doc_id, s2.lang FROM s2 JOIN cls USING (doc_id)
        WHERE cls.cls_kept),
      per AS (SELECT lang, count(*) AS nl FROM s3
        WHERE lang IS NOT NULL GROUP BY lang),
      den AS (SELECT list_sum(list(sqrt(CAST(nl AS DOUBLE)) ORDER BY lang)) AS dsum,
          CAST(sum(nl) AS BIGINT) AS total FROM per),
      rates AS (SELECT p.lang,
          CAST(floor(least(1.0,
            ((CAST(total AS DOUBLE) * 0.5) * sqrt(CAST(p.nl AS DOUBLE)))
              / dsum / CAST(p.nl AS DOUBLE)) * 10000.0) AS BIGINT) AS rate_bp
        FROM per p CROSS JOIN den),
      s4 AS (SELECT s3.doc_id FROM s3 JOIN rates r ON r.lang = s3.lang
        WHERE ${TextFns.hash32Sql("CAST(s3.doc_id AS VARCHAR)")}
          % 10000 < r.rate_bp),
      keyed AS (SELECT doc_id,
          ${TextFns.hash32Sql("CAST(doc_id AS VARCHAR)")} AS hkey
        FROM s4),
      sh AS (SELECT doc_id,
          row_number() OVER (ORDER BY hkey ASC, doc_id ASC) - 1 AS position
        FROM keyed)
      SELECT s1.doc_id,
        CASE WHEN NOT s1.dedup_keep THEN 'dedup'
             WHEN NOT c4g.c4_pass THEN 'c4'
             WHEN NOT cls.cls_kept THEN 'classifier'
             WHEN s4.doc_id IS NULL THEN 'mix'
             ELSE 'kept' END AS stage,
        sh.position % 8 AS shard, sh.position // 8 AS pos_in_shard
      FROM s1
      LEFT JOIN c4g USING (doc_id)
      LEFT JOIN cls USING (doc_id)
      LEFT JOIN s4 ON s4.doc_id = s1.doc_id
      LEFT JOIN sh ON sh.doc_id = s1.doc_id
      ORDER BY s1.doc_id"""))

  /** N-gram CONTAINMENT detection (Broder 1997's second resemblance
    * measure — |S(A)∩S(B)| / min(|S(A)|,|S(B)|)): catches doc-IN-doc
    * relationships (excerpts, quotes, boilerplate wrappers) that Jaccard
    * deliberately misses — d6's length-ratio prefilter EXCLUDES exactly
    * these asymmetric pairs. Candidates come from shared-shingle
    * blocking with the standard stop-shingle cut (a 3-gram occurring in
    * > 20 docs is boilerplate: useless for candidate generation and the
    * block-size bomb at corpus scale), so the contract is containment
    * over INFORMATIVE shingles — both engines replay the same cut, and
    * reported pairs need ≥ 2 shared informative shingles (a single
    * shared rare 3-gram is coincidence, not containment evidence). The
    * containment verdict is exact integer arithmetic (5·n_int ≥
    * 4·min(n_a, n_b) ⟺ C ≥ 0.8): no float at the boundary. Injected
    * excerpt twins (+4e9, first 10 tokens of every 40th doc — the d35
    * pattern) guarantee true containment pairs at every judged SF. */
  // d55 stage builders — shared with d66 (TextVector10), which builds its
  // graph over the same corpus and blocking.

  /** Even-half corpus + injected excerpt twins (the judged d55 input).
    * Judged on the even-doc_id half (the d45 subsample precedent): pair
    * CPU is quadratic-in-block, so the half-sample quarters the judged
    * cost while the injected excerpt pairs (%40 ⊂ %2) survive. */
  private[graft] def d55Docs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val base = Tables.documents(s, dir)
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"))
    val excerpts = base
      .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
      .filter(col("doc_id") % 40 === 0 && size(col("t")) >= 15)
      .select((col("doc_id") + 4000000000L).as("doc_id"),
        concat_ws(" ", slice(col("t"), 1, 10)).as("text"))
    base.unionByName(excerpts)
  }

  /** Distinct (doc_id, hashed-shingle) relation.
    * Join key = md5-prefix int of the shingle (the d21 SQL-replayable
    * convention): int shuffles+equality beat string keys severalfold,
    * and both engines hash identically so the (negligible) 32-bit
    * collision mass is shared — the contract is containment over the
    * hashed shingle space.
    * The repartition spreads the shingle explode across cores: the judged
    * corpus is one small parquet split (a single input partition), so the
    * higher-order shingle lambda would otherwise run single-threaded — at
    * production scale inputs split naturally and this is a no-op cost.
    * Tokens are BOUND to an attribute before the shingle lambda: HOF
    * lambdas get no common-subexpression elimination, so the unbound form
    * (shingleSet(text, k)) re-runs the full-document regex split once per
    * element_at — ~3·n_tokens splits per doc (the TextFns CSE note;
    * round-7's unattributed d55 cost). Bound, the split runs once per
    * row. */
  private[graft] def d55Shingles(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(TextFns.shinglesOf(col("toks"), 3))).as("sh"))
      .select(col("doc_id"),
        TextFns.hash32(col("sh")).as("sh"))
      .distinct()

  /** Stop-shingle cut (df ≤ 20) and per-doc set sizes as PARTITIONED
    * WINDOWS over the one (doc, shingle) relation — a single linear
    * pipeline with no diamond reuse, so nothing depends on exchange-reuse
    * kicking in. NOT checkpointed here: the caller checkpoints exactly at
    * the genuine double-consumption (the self-join). */
  private[graft] def d55Kept(
      sh: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
      .filter(col("df") <= 20)
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .select("doc_id", "sh", "n")
  }

  /** Shared-shingle self-join → containment verdict (exact integer
    * arithmetic at the boundary). */
  private[graft] def d55Pairs(
      kept: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    kept.alias("a")
      .join(kept.alias("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_int"),
        min(col("a.n")).as("n_a"), min(col("b.n")).as("n_b"))
      .filter(col("n_int") >= 2)
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"), col("n_int"),
        (col("n_int") * 5 >= least(col("n_a"), col("n_b")) * 4).as("contained"))
      .orderBy("id_a", "id_b")

  val d55 = QueryDef("d55_ngram_containment",
    (s, dir) => d55Pairs(
      d55Kept(d55Shingles(d55Docs(s, dir))).localCheckpoint(false)),
    Some(s"""WITH docs AS (
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
          WHERE df <= 20) u)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(min(a.n) AS BIGINT) AS n_a, CAST(min(b.n) AS BIGINT) AS n_b,
        count(*) AS n_int,
        (count(*) * 5 >= least(min(a.n), min(b.n)) * 4) AS contained
      FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2
      ORDER BY id_a, id_b"""))

  /** Deterministic global shuffle + strided sharding — the "shuffle the
    * corpus, write N interleaved shards" layout step every training run
    * consumes. Shuffle order = md5 of the id (content-stable, never
    * rand()); the global position comes from the scale-safe
    * [[graft.core.Indexing.globalRowIds]] (bucketed two-pass, no
    * single-partition window — the q84 machinery on a new surface);
    * shard = position mod N interleaves the shuffled order so every
    * shard is an unbiased corpus sample of equal size ±1. The oracle
    * replays with the single-partition row_number it is proven
    * row-identical to. */
  val d52 = QueryDef("d52_shuffle_shards",
    (s, dir) => {
      val hkey = TextFns.hash32(col("doc_id").cast("string"))
      val keyed = Tables.documents(s, dir)
        .select(col("doc_id"), hkey.as("hkey"))
      graft.core.Indexing.globalRowIds(keyed, "hkey", "position",
          tieBreak = Seq("doc_id"))
        .select(col("doc_id"), col("hkey"), col("position"),
          expr("position % 8").as("shard"),
          expr("position DIV 8").as("pos_in_shard"))
        .orderBy("doc_id")
    },
    Some(s"""WITH k AS (SELECT doc_id,
        ${TextFns.hash32Sql("CAST(doc_id AS VARCHAR)")}
          AS hkey
        FROM documents),
      p AS (SELECT doc_id, hkey,
          row_number() OVER (ORDER BY hkey ASC, doc_id ASC) - 1 AS position
        FROM k)
      SELECT doc_id, hkey, position, position % 8 AS shard,
        position // 8 AS pos_in_shard
      FROM p ORDER BY doc_id"""))
}
