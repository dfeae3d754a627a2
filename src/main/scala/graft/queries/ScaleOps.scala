package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{RangeJoin, RuntimeFilters, Tables}
import graft.operators.Chunking
import graft.functions.TextFns

/** Scale-machinery queries: runtime-filtered joins, the
  * point-in-interval aggregate, chunking, PII masking, and the stream-dedup
  * batch twin — every one oracle-gated (the operators are deterministic
  * relational plans; only their EXECUTION strategy is scale-specific).
  */
object ScaleOps {

  def defs: Seq[QueryDef] = Seq(d16, d17, d18, d19, d20, d21, d22, d23, d24,
    d25, e5, e6, q56, q57, q59, q60, q61, q62, q63, s3, s4)

  /** Winnowing fingerprint selection verified against an independent
    * engine (companion to d21's minhash twin): character k-gram hashes on
    * the md5 basis, minimum per sliding w-window over FULL windows only,
    * distinct selected values — the Schleimer et al. construction. The
    * fingerprint SET is tie-insensitive (equal minima collapse in the
    * distinct), so the per-window tie rule needs no cross-engine
    * agreement. The production d9 path keeps its Rabin-Karp rolling hash
    * (one pass, no per-position re-hash); this pins the SELECTION logic. */
  val d25 = QueryDef("d25_winnowing_md5_oracle",
    (s, dir) => {
      val k = 20
      val w = 8
      val win = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
      Tables.documents(s, dir)
        // 10% subsample: a verification twin needs coverage, not the whole
        // corpus — the per-position md5 is the price of engine-neutrality
        .filter(col("doc_id") % 10 === 0)
        .filter(length(col("text")) >= k + w - 1)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(1), length(col("text")) - (k - 1))).as("pos"))
        .select(col("doc_id"), col("pos"), length(col("text")).as("lt"),
          TextFns.hash32(col("text").substr(col("pos"), lit(k))).as("hv"))
        .withColumn("fp", min(col("hv")).over(win))
        .filter(col("pos") <= col("lt") - (k + w - 2))
        .select(col("doc_id"), col("fp")).distinct()
        .orderBy("doc_id", "fp")
    },
    Some(s"""WITH pos AS (SELECT doc_id, text,
        unnest(generate_series(1, len(text) - 19)) AS p
        FROM documents WHERE doc_id % 10 = 0 AND len(text) >= 27),
      h AS (SELECT doc_id, p, len(text) AS lt,
        ${TextFns.hash32Sql("substr(text, p, 20)")} AS hv
        FROM pos),
      wm AS (SELECT doc_id, p, lt,
        MIN(hv) OVER (PARTITION BY doc_id ORDER BY p
          ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
        FROM h)
      SELECT DISTINCT doc_id, fp FROM wm WHERE p <= lt - 26
      ORDER BY doc_id, fp"""))

  /** Corpus-trained bigram language-model scoring — the perplexity-style
    * quality filter a training pipeline runs with a cheap self-trained
    * model: global MLE bigram probabilities P(w2|w1) = c(w1,w2)/c(w1),
    * per-document mean log-probability over its bigrams. The UNIGRAM table
    * is vocab-sized — broadcast. The BIGRAM table is NOT (distinct bigram
    * types grow ~linearly with corpus size via the hapax tail), so that
    * join shuffles on (w1, w2) — high-cardinality keys, no skew hot-spot.
    * Every observed doc bigram has c >= 1, so the MLE log is defined. */
  val d24 = QueryDef("d24_bigram_lm_score",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.TextFns.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
      val big = toks
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
        .select(col("doc_id"),
          element_at(col("t"), col("i")).as("w1"),
          element_at(col("t"), col("i") + 1).as("w2"))
      val bigramCounts = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val unigramCounts = big.groupBy("w1").agg(count(lit(1)).as("c1"))
      big
        .join(bigramCounts, Seq("w1", "w2"))
        .join(broadcast(unigramCounts), Seq("w1"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(log(col("c12").cast(DoubleType) / col("c1").cast(DoubleType))), 6)
            .as("avg_logp"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (SELECT doc_id, ${TextFns.tokensSql("text")} AS t
        FROM documents),
      big AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 2),
      c2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
      c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY 1)
      SELECT doc_id, COUNT(*) AS n_bigrams,
        ROUND(AVG(ln(CAST(c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE))), 6) AS avg_logp
      FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
      GROUP BY doc_id ORDER BY doc_id"""))

  /** Symmetric int8 vector quantization (the storage/serving compression an
    * embedding pipeline applies): per-vector scale = 127/amax, q_i =
    * floor(x_i·scale + 0.5) — floor(+0.5) instead of round() because the
    * two engines agree on floor bit-for-bit while round() half-case
    * behavior differs by type. Quantized sums are exact integer sums
    * (order-independent); max |dequantized − original| is an order-free max
    * — both safely hash-comparable. */
  val e5 = QueryDef("e5_int8_quantization",
    (s, dir) => {
      val amax = array_max(transform(col("embedding"), c => abs(c.cast(DoubleType))))
      val scale = col("__scale")
      val qOf = (c: org.apache.spark.sql.Column) =>
        floor(c.cast(DoubleType) * scale + 0.5)
      Tables.embeddings(s, dir)
        .withColumn("__amax", amax)
        .withColumn("__scale", when(col("__amax") > 0, lit(127.0) / col("__amax"))
          .otherwise(0.0))
        .select(col("vec_id"),
          round(scale, 6).as("scale"),
          size(col("embedding")).cast(LongType).as("n_dims"),
          when(scale > 0, aggregate(transform(col("embedding"),
              c => qOf(c).cast(LongType)), lit(0L), (a, v) => a + v))
            .otherwise(0L).as("q_sum"),
          when(scale > 0, round(array_max(transform(col("embedding"),
              c => abs(qOf(c) / scale - c.cast(DoubleType)))), 6))
            .otherwise(0.0).as("max_abs_err"))
        .orderBy("vec_id")
    },
    Some("""WITH base AS (SELECT vec_id, embedding,
        list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
        FROM embeddings),
      scaled AS (SELECT vec_id, embedding,
        CASE WHEN amax > 0 THEN 127.0 / amax ELSE 0.0 END AS sc FROM base)
      SELECT vec_id, ROUND(sc, 6) AS scale,
        CAST(len(embedding) AS BIGINT) AS n_dims,
        CASE WHEN sc > 0 THEN CAST(list_sum(list_transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE) * sc + 0.5) AS BIGINT))) AS BIGINT)
          ELSE 0 END AS q_sum,
        CASE WHEN sc > 0 THEN ROUND(list_max(list_transform(embedding,
          x -> abs(floor(CAST(x AS DOUBLE) * sc + 0.5) / sc - CAST(x AS DOUBLE)))), 6)
          ELSE 0.0 END AS max_abs_err
      FROM scaled ORDER BY vec_id"""))

  /** Deterministic ±1 (Rademacher) hyperplanes for e6 — ONE source of
    * truth: the same Scala values drive the Spark expressions and are
    * inlined into the oracle SQL text. java.util.Random's algorithm is
    * specified, so the sequence is stable across JVMs. */
  private[queries] object Planes {
    val bits = 12
    val dim = 64
    val signs: Seq[Seq[Int]] = {
      val rnd = new java.util.Random(2024L)
      Seq.fill(bits, dim)(if (rnd.nextBoolean()) 1 else -1)
    }
  }

  /** Hyperplane LSH bucket assignment verified exactly (companion to e4's
    * production gaussian path, pattern of d21/d25): embeddings quantized
    * to integers FIRST (floor(x·1000+0.5) — exact on both engines), so
    * every projection is an integer sum — order-independent, no float
    * sign-flip risk at the bucket boundary. bucket = Σ_b [dot_b > 0]·2^b. */
  val e6 = QueryDef("e6_hyperplane_bucket_oracle",
    (s, dir) => {
      val qv = transform(col("embedding"),
        x => floor(x.cast(DoubleType) * 1000 + 0.5).cast(LongType))
      val bucket = (0 until Planes.bits).map { b =>
        val dot = (0 until Planes.dim).map { j =>
          element_at(col("qv"), j + 1) * lit(Planes.signs(b)(j).toLong)
        }.reduce(_ + _)
        when(dot > 0, lit(1L << b)).otherwise(0L)
      }.reduce(_ + _)
      Tables.embeddings(s, dir)
        .withColumn("qv", qv)
        .select(col("vec_id"), bucket.as("bucket"))
        .orderBy("vec_id")
    },
    Some {
      val dots = (0 until Planes.bits).map { b =>
        val terms = (0 until Planes.dim).map { j =>
          s"qv[${j + 1}]*(${Planes.signs(b)(j)})"
        }.mkString(" + ")
        s"CASE WHEN ($terms) > 0 THEN ${1L << b} ELSE 0 END"
      }.mkString("\n          + ")
      s"""WITH q AS (SELECT vec_id,
          list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
          FROM embeddings)
        SELECT vec_id, CAST($dots AS BIGINT) AS bucket
        FROM q ORDER BY vec_id"""
    })

  /** CUBE: all 2^k grouping-set combinations in ONE shuffle (the rollup
    * row q51 covers the hierarchical subset; CUBE is the full lattice).
    * Grouping labels coalesced on both sides — Spark sorts null grouping
    * keys first, DuckDB last. */
  val q62 = QueryDef("q62_cube_sales",
    (s, dir) => Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        QueryDef.moneySum(col("l_extendedprice")).as("sum_price"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_price"))
      .orderBy("rf", "ls"),
    Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        COALESCE(l_linestatus, 'ALL') AS ls, COUNT(*) AS n,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY rf, ls"""))

  /** Salted join on the judged surface: lineitem (3-value hot key) joined
    * to a per-flag dimension through `Skew.saltedJoin` — the oracle is the
    * plain join, so the salt must be invisible in the result. */
  val q63 = QueryDef("q63_salted_join",
    (s, dir) => {
      val s2 = s
      import s2.implicits._
      val dims = Seq(("A", 1.5), ("N", 1.0), ("R", 2.0))
        .toDF("l_returnflag", "fee_rate")
      graft.core.Skew.saltedJoin(
          Tables.lineitem(s, dir).select("l_returnflag", "l_extendedprice"),
          dims, Seq("l_returnflag"), factor = 8)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          // exact decimal sum, ONE double multiply per group — a per-row
          // decimal cast of the product would hit the engines' different
          // rounding modes (Spark HALF_UP vs DuckDB half-even)
          (QueryDef.moneySum(col("l_extendedprice")) * first(col("fee_rate")))
            .as("sum_fee"))
        .orderBy("l_returnflag")
    },
    Some("""WITH dims AS (SELECT * FROM (VALUES ('A', 1.5), ('N', 1.0),
        ('R', 2.0)) d(l_returnflag, fee_rate))
      SELECT l_returnflag, COUNT(*) AS n,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          * CAST(MIN(fee_rate) AS DOUBLE) AS sum_fee
      FROM lineitem JOIN dims USING (l_returnflag)
      GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Rank-function family widened: dense_rank, percent_rank, cume_dist
    * over per-segment spend (deterministic unique ordering). */
  val q61 = QueryDef("q61_rank_functions",
    (s, dir) => {
      val spend = Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"), col("o_custkey"))
        .agg(QueryDef.moneySum(col("o_totalprice")).as("spend"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("segment").orderBy("spend", "o_custkey")
      spend.select(col("segment"), col("o_custkey"), col("spend"),
          dense_rank().over(w).as("drank"),
          round(percent_rank().over(w), 6).as("prank"),
          round(cume_dist().over(w), 6).as("cdist"))
        .orderBy("segment", "o_custkey")
    },
    Some("""WITH spend AS (SELECT c_mktsegment AS segment, o_custkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2)
      SELECT segment, o_custkey, spend,
        CAST(dense_rank() OVER w AS INT) AS drank,
        ROUND(percent_rank() OVER w, 6) AS prank,
        ROUND(cume_dist() OVER w, 6) AS cdist
      FROM spend
      WINDOW w AS (PARTITION BY segment ORDER BY spend, o_custkey)
      ORDER BY segment, o_custkey"""))

  /** Exact dup-cluster resolution: connected components (min-label
    * propagation) over the n-gram-jaccard pair graph — ORACLE-GATED end to
    * end: DuckDB rebuilds the same pairs (the d6 construction at a looser
    * threshold) and resolves components with a recursive CTE. */
  val d23 = QueryDef("d23_dup_clusters",
    (s, dir) => {
      val pairs = graft.operators.Dedup.blockedJaccardPairs(
        Tables.documents(s, dir), "doc_id", "text",
        blockCols = Seq("source", "lang"), threshold = 0.02)
        .select("id_a", "id_b")
      graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("node", "doc_id")
        .withColumnRenamed("component", "cluster_id")
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE sh AS (SELECT doc_id, source, lang,
        list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        FROM (SELECT doc_id, source, lang,
          ${TextFns.tokensSql("text")} AS t FROM documents)),
      pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.source = b.source AND a.lang = b.lang
          AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.02),
      edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
      SELECT a AS doc_id, LEAST(MIN(b), a) AS cluster_id
      FROM reach GROUP BY a ORDER BY doc_id"""))

  /** Vocabulary build + out-of-vocabulary rate — the coverage check a
    * tokenizer-training pipeline runs: global top-K vocabulary (count-desc,
    * word-asc ties so the cut is deterministic), broadcast back against
    * every document's tokens. Two shuffles total: the word count and the
    * per-doc aggregate; the vocab join is a broadcast. */
  val d22 = QueryDef("d22_oov_rate",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.functions.TextFns.tokens(col("text"))).as("w"))
      val vocab = toks.groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(16)
        .select(col("w"), lit(1).as("__in"))
      toks.join(broadcast(vocab), Seq("w"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__in").isNull, 1).otherwise(0)).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          round(col("n_oov").cast(DoubleType) / col("n_tokens").cast(DoubleType), 6)
            .as("oov_rate"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (SELECT doc_id,
        unnest(${TextFns.tokensSql("text")}) AS w FROM documents),
      vocab AS (SELECT w FROM (SELECT w, COUNT(*) AS c FROM toks
        GROUP BY w ORDER BY c DESC, w LIMIT 16)),
      j AS (SELECT t.doc_id, t.w, v.w AS vw FROM toks t
        LEFT JOIN vocab v ON t.w = v.w)
      SELECT doc_id, COUNT(*) AS n_tokens,
        CAST(SUM(CASE WHEN vw IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        ROUND(CAST(SUM(CASE WHEN vw IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
      FROM j GROUP BY doc_id ORDER BY doc_id"""))

  /** Multi-quantile aggregation (exact interpolated percentiles, the A2
    * family widened): p25/p50/p75 from ONE pass of
    * [[graft.core.Indexing.groupQuantiles]] — the distributed
    * order-statistic SELECT. The `percentile` aggregate this replaces
    * holds a group-sized value map merged single-threaded per group
    * (23×/decade measured on the sf10 tiling, d34); the select's state is
    * a driver-bounded histogram + a bucket-filtered pick, hash-identical
    * at 6 decimals (same HF7 rule; Coverage7Spec pins tie/tiny/constant/
    * null-key equality). */
  val q60 = QueryDef("q60_quantile_trio",
    (s, dir) => {
      val li = Tables.lineitem(s, dir).select("l_returnflag", "l_extendedprice")
      def q(p: Double) = round(max(when(col("__q") === p, col("__quantile"))), 6)
      val cuts = graft.core.Indexing
        .groupQuantiles(li, Seq("l_returnflag"), "l_extendedprice",
          Seq(0.25, 0.5, 0.75))
        .groupBy("l_returnflag")
        .agg(q(0.25).as("p25"), q(0.5).as("p50"), q(0.75).as("p75"))
      // LEFT join from the group list: an all-NULL group keeps its row
      // (NULL quantiles) as under the aggregate form — the d34/d53 restore
      li.select("l_returnflag").distinct()
        .join(broadcast(cuts), Seq("l_returnflag"), "left")
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
        ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
        ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Skew-safe holistic aggregation on a 3-value (maximally hot) group
    * key: exact distinct count via the progressive-key expansion and an
    * exact sum via the salted two-phase path — both must equal the plain
    * single-shuffle forms (the oracle). */
  val q59 = QueryDef("q59_skew_safe_agg",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val nd = graft.core.Skew.skewSafeCountDistinct(li.select("l_returnflag", "l_partkey"),
        Seq("l_returnflag"), "l_partkey")
      val sums = graft.core.Skew.twoPhaseAgg(
        li.select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"),
        Seq("l_returnflag"), factor = 8,
        partial = Seq(sum(QueryDef.dec(col("l_extendedprice"))).as("__ps")),
        merge = Seq(sum(col("__ps")).cast(DoubleType).as("sum_price")))
      nd.join(sums, Seq("l_returnflag")).orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
        COUNT(DISTINCT l_partkey) AS n_distinct_l_partkey,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Stream-stream interval join in batch mode (the streaming twin and its
    * agreement spec live in EventStreams / ScaleOpsSpec): clicks in the 30
    * minutes at or before each purchase by the same user. */
  val s4 = QueryDef("s4_stream_join",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      graft.streaming.EventStreams
        .clicksBeforePurchase(purchases, clicks, streaming = false)
        .orderBy("purchase_id", "click_id")
    },
    Some("""SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
      FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 30 MINUTES AND c.ts <= p.ts
      ORDER BY purchase_id, click_id"""))

  /** KMV distinct-count sketch (bounded-state, mergeable — the
    * deterministic stand-in for HLL) per group, ORACLE-GATED: both engines
    * compute the identical estimate from the same md5-derived hashes.
    * The exact distinct count rides along for calibration. */
  val d20 = QueryDef("d20_kmv_distinct",
    (s, dir) => {
      val li = Tables.lineitem(s, dir).filter(col("l_partkey").isNotNull)
      li.groupBy("l_returnflag")
        .agg(
          round(graft.functions.KmvAgg.kmvDistinct(
            TextFns.hash32(col("l_partkey").cast("string")), 64), 6)
            .as("est_distinct_parts"),
          countDistinct(col("l_partkey")).as("n_distinct_parts"))
        .orderBy("l_returnflag")
    },
    Some(s"""WITH h AS (SELECT DISTINCT l_returnflag AS g,
        ${TextFns.hash32Sql("CAST(l_partkey AS VARCHAR)")} AS hv
        FROM lineitem WHERE l_partkey IS NOT NULL),
      r AS (SELECT g, hv,
        row_number() OVER (PARTITION BY g ORDER BY hv) AS rn,
        COUNT(*) OVER (PARTITION BY g) AS cnt FROM h),
      est AS (SELECT g,
        CASE WHEN MAX(cnt) < 64 THEN CAST(MAX(cnt) AS DOUBLE)
          ELSE ROUND(63.0 * 4294967296.0 /
            CAST(MAX(CASE WHEN rn = 64 THEN hv END) AS DOUBLE), 6)
        END AS est_distinct_parts
        FROM r GROUP BY g),
      ex AS (SELECT l_returnflag AS g,
        COUNT(DISTINCT l_partkey) AS n_distinct_parts
        FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1)
      SELECT ex.g AS l_returnflag, est.est_distinct_parts, ex.n_distinct_parts
      FROM ex JOIN est USING (g) ORDER BY l_returnflag"""))

  /** MinHash signatures on the md5-seeded AFFINE hash basis, ORACLE-GATED:
    * DuckDB recomputes the identical (doc, seed) -> min-hash matrix from
    * the same shingles, the same md5 base hashes, and the same inlined
    * Carter-Wegman constants ((a·x + b) mod p, one md5 per shingle — the
    * family `Dedup.minHashNearDuplicatesMd5`/`Md5Star` run in d11/d40).
    * The production d5 path keeps its fast JVM hash family (not
    * SQL-reproducible); this pins the minhash CONSTRUCTION — shingling,
    * base hashing, per-seed rehash, min-reduce — against an independent
    * engine on a 5% document subsample. (TextVectorSpec separately pins
    * that the shingle set here equals the production `distinct_shingles`
    * output.) */
  val d21 = QueryDef("d21_minhash_md5_oracle",
    (s, dir) => {
      val tok = Tables.documents(s, dir)
        .filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"),
          graft.functions.TextFns.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
      val sh = tok
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(1), size(col("toks")) - 2)).as("i"))
        .select(col("doc_id"),
          concat_ws(" ", slice(col("toks"), col("i"), lit(3))).as("shingle"))
        .distinct()
      graft.operators.Dedup.affineSignature(sh, Seq("doc_id"), 16)
        .withColumnRenamed("mh", "minhash")
        .orderBy("doc_id", "seed")
    },
    Some(s"""WITH ${graft.operators.Dedup.affineSignatureSql(
        "documents WHERE doc_id % 20 = 0", "doc_id", "text", 16)}
      SELECT doc_id, seed, mh AS minhash FROM sig ORDER BY doc_id, seed"""))

  /** J2 forward variant: for each purchase, the EARLIEST view at or after
    * it by the same user (union + forward-frame window, one shuffle). */
  val q56 = QueryDef("q56_asof_forward",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      // dedupe views to ONE row per (user, ts) — DuckDB's ASOF picks an
      // ARBITRARY row among equal-ts matches, so ties must not exist by
      // the time either engine runs its as-of (tie-safe oracle)
      val wv = Window.partitionBy("user_id", "ts").orderBy("event_id")
      val views = ev.filter(col("event_type") === "view")
        .withColumn("__rn", row_number().over(wv)).filter(col("__rn") === 1)
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_id"), col("value").as("view_value"))
      graft.core.AsOf.joinForward(purchases, views, Seq("user_id"), "ts",
        Seq("view_id", "view_value"))
        .select("event_id", "user_id", "view_id", "view_value")
        .orderBy("event_id")
    },
    Some("""WITH v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        event_id, value FROM events WHERE event_type = 'view'
        QUALIFY row_number() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
          ORDER BY event_id) = 1)
      SELECT p.event_id, p.user_id, v.event_id AS view_id,
        v.value AS view_value
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts <= v.ts
      ORDER BY p.event_id"""))

  /** SCD2 dimension-history build from a change log: per-customer order
    * history as validity intervals (valid_from/valid_to/is_current). */
  val q57 = QueryDef("q57_scd2_intervals",
    (s, dir) => {
      val changes = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderdate").cast(DateType).as("change_d"),
          col("o_totalprice").as("state_price"), col("o_orderkey"))
      graft.core.SeriesOps.buildScd2(changes, Seq("o_custkey"), "change_d",
          tieBreak = Seq(col("o_orderkey")))
        .select(col("o_custkey"), col("valid_from"), col("valid_to"),
          col("is_current"), col("state_price"))
        .orderBy("o_custkey", "valid_from")
    },
    Some("""WITH dedup AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS change_d,
        o_totalprice AS state_price
        FROM orders
        QUALIFY row_number() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
          ORDER BY o_orderkey DESC) = 1)
      SELECT o_custkey, change_d AS valid_from,
        lead(change_d) OVER (PARTITION BY o_custkey ORDER BY change_d) AS valid_to,
        lead(change_d) OVER (PARTITION BY o_custkey ORDER BY change_d) IS NULL AS is_current,
        state_price
      FROM dedup ORDER BY o_custkey, valid_from"""))

  /** Bloom-prefiltered semi-join: lineitem rows whose order is URGENT.
    * The oracle is the plain semi-join — the Bloom pass must be invisible
    * in the result (no false negatives; false positives removed by the
    * exact join). */
  val d16 = QueryDef("d16_bloom_semi_join",
    (s, dir) => {
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
      RuntimeFilters.bloomSemiJoin(Tables.lineitem(s, dir), "l_orderkey",
          urgent, "o_orderkey")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          QueryDef.moneySum(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, COUNT(*) AS n,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        WHERE o_orderpriority = '1-URGENT')
      GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Point-in-interval aggregate (DuckDB answers it with a BETWEEN join
    * through its IEJoin): shipments falling in 14-day windows anchored at
    * a deterministic order subsample. */
  val d17 = QueryDef("d17_range_join",
    (s, dir) => {
      val iv = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").as("interval_id"),
          col("o_orderdate").cast(DateType).as("win_start"),
          date_add(col("o_orderdate").cast(DateType), 14).as("win_end"))
      val pts = Tables.lineitem(s, dir)
        .select(col("l_shipdate").cast(DateType).as("ship"), col("l_quantity"))
      // prefix-sum form: no matched pairs, cum(end) − cum(start−1) over a
      // daily rollup, O(points+intervals). Decimal cum-sums keep the
      // difference bit-identical to the direct decimal sum.
      RangeJoin.intervalPrefixAgg(pts, iv, "ship", "win_start", "win_end",
          Seq("sum_qty" -> QueryDef.dec(col("l_quantity"))))
        .select(col("interval_id"), col("n_points").as("n_shipments"),
          col("sum_qty").cast(DoubleType).as("sum_qty"))
        .orderBy("interval_id")
    },
    Some("""WITH iv AS (SELECT o_orderkey AS interval_id,
        CAST(o_orderdate AS DATE) AS win_start,
        CAST(o_orderdate AS DATE) + 14 AS win_end
        FROM orders WHERE o_orderkey % 97 = 0)
      SELECT interval_id, COUNT(*) AS n_shipments,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM iv JOIN lineitem
        ON CAST(l_shipdate AS DATE) BETWEEN win_start AND win_end
      GROUP BY interval_id ORDER BY interval_id"""))

  /** Overlapping token-window chunking (window 50, stride 40) — the
    * context-window preparation stage before token packing (d14). */
  val d18 = QueryDef("d18_doc_chunking",
    (s, dir) => Chunking.chunkByTokens(Tables.documents(s, dir),
        "doc_id", "text", window = 50, stride = 40)
      .orderBy("doc_id", "chunk_idx"),
    Some(s"""WITH t AS (SELECT doc_id,
        ${TextFns.tokensSql("text")} AS toks FROM documents),
      st AS (SELECT doc_id, toks,
        unnest(generate_series(0, len(toks) - 1, 40)) AS s
        FROM t WHERE len(toks) >= 1)
      SELECT doc_id, s // 40 AS chunk_idx,
        array_to_string(list_slice(toks, s + 1, s + 50), ' ') AS chunk_text,
        LEAST(len(toks) - s, 50) AS n_chunk_tokens
      FROM st ORDER BY doc_id, chunk_idx"""))

  /** PII masking: emails then long digit runs replaced with typed mask
    * tokens (regex families RE2 and Java agree on). The PII is injected
    * deterministically on BOTH engines so the masking is actually
    * exercised — the raw corpus is synthetic lowercase prose. */
  val d19 = QueryDef("d19_pii_mask",
    (s, dir) => {
      val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val numPat = "[0-9]{7,}"
      val raw = concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@mail.example.com or call "),
        (lit(5550000000L) + col("doc_id")).cast(StringType))
      Tables.documents(s, dir)
        .withColumn("__raw", raw)
        .withColumn("__m1", regexp_replace(col("__raw"), emailPat, "<EMAIL>"))
        .select(col("doc_id"),
          regexp_replace(col("__m1"), numPat, "<NUM>").as("masked_text"),
          size(regexp_extract_all(col("__raw"), lit(emailPat), lit(0)))
            .cast(LongType).as("n_emails"),
          size(regexp_extract_all(col("__m1"), lit(numPat), lit(0)))
            .cast(LongType).as("n_numbers"))
        .orderBy("doc_id")
    },
    Some("""WITH raw AS (SELECT doc_id,
        text || ' contact user' || doc_id || '@mail.example.com or call '
          || CAST(5550000000 + doc_id AS VARCHAR) AS r
        FROM documents),
      m1 AS (SELECT doc_id, r,
        regexp_replace(r, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}',
          '<EMAIL>', 'g') AS e FROM raw)
      SELECT doc_id,
        regexp_replace(e, '[0-9]{7,}', '<NUM>', 'g') AS masked_text,
        len(regexp_extract_all(r,
          '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
        len(regexp_extract_all(e, '[0-9]{7,}')) AS n_numbers
      FROM m1 ORDER BY doc_id"""))

  /** Keep-first dedup per (user, event_type) — the batch twin of the
    * watermarked streaming dropDuplicates (EventStreams.firstPerKeyStream):
    * on an in-order feed the stream keeps the earliest arrival, which is
    * exactly this row_number plan. */
  val s3 = QueryDef("s3_stream_dedup",
    (s, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      Tables.events(s, dir)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("event_type"),
          col("ts").as("first_ts"), col("event_id"), col("value"))
        .orderBy("user_id", "event_type")
    },
    Some("""SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS first_ts,
        event_id, value
      FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        ORDER BY CAST(ts AS TIMESTAMP), event_id) = 1
      ORDER BY user_id, event_type"""))
}
