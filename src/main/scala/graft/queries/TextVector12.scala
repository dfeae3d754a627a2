package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.core.Tables
import graft.functions.{TextFns, VectorExprs}

/** Fifteenth coverage batch: the retrieval / sampling / LM-smoothing
  * quartet plus binary-quantized ANN —
  *
  *  - d71: BM25 ranked retrieval (Robertson & Zaragoza 2009, "The
  *    Probabilistic Relevance Framework: BM25 and Beyond") over the
  *    corpus inverted index — the missing classic next to d26's TF-IDF
  *    and d27's inverted index.
  *  - d72: weighted sampling WITHOUT replacement in one pass
  *    (Efraimidis & Spirakis 2006, "Weighted random sampling with a
  *    reservoir") — the deterministic-uniform variant every curation
  *    pipeline needs for seed-stable weighted subsets.
  *  - d73: word2vec phrase (collocation) detection (Mikolov et al. 2013,
  *    arXiv:1310.4546 §4) with the verdict in EXACT integer
  *    cross-multiplication.
  *  - d74: interpolated Kneser-Ney bigram smoothing (Kneser & Ney 1995;
  *    Chen & Goodman 1999 eq. 4.26) — the LM upgrade over d24's MLE.
  *  - e14: 1-bit (sign) embedding quantization + packed-word Hamming
  *    shortlist + exact cosine rerank — the binary-embedding serving
  *    path (64 floats → 8 bytes, 32× less scan IO than e5's int8).
  */
object TextVector12 {

  def defs: Seq[QueryDef] = Seq(d71, d72, d73, d74, e14)

  /** BM25 top-5 retrieval for the 8 rarest index terms (k1 = 1.2,
    * b = 0.75 — the reference parameters). The corpus statistics (N,
    * avgdl) are 1-row aggregates captured on the driver (the e13 m2
    * pattern); avgdl is computed as exact-long SUM(dl) / COUNT so both
    * engines divide the same two integers once (a streaming AVG would be
    * engine-private). Query terms are picked by EXACT integer ordering
    * (df asc, term asc, limit 8 — a distributed TakeOrdered, never a
    * global window) — with this corpus's 31-term vocabulary a df band
    * would be empty at some SFs, and "rarest terms" is what retrieval
    * queries look like anyway. Scale: one explode + (term,doc) shuffle
    * builds the posting relation; dl, df, the stats scan, and the scored
    * join all derive from it (checkpointed — four consumers), so nothing
    * token-array-sized is ever materialized; top-5 per term is a
    * term-partitioned window. */
  val d71 = QueryDef("d71_bm25_topk",
    (s, dir) => {
      // Everything derives from the POSTING relation (term, doc, tf) — one
      // tokenize+explode+shuffle, checkpointed for its four consumers.
      // dl = Σ_term tf (every token is counted, so the sum IS the doc
      // length) and N = |distinct doc| — deriving them here instead of
      // from a materialized token-array table is the sf10 lesson: the
      // array checkpoint was GBs and 16×/decade; the posting relation is
      // three flat columns. The oracle defines dl/N the same way.
      val tf = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
        .localCheckpoint(false)
      val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
      val statsRow = dl.agg(count(lit(1)), sum(col("dl"))).head()
      val nDocs = statsRow.getLong(0)
      val sumDl = if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1)
      val avgdl = if (nDocs == 0) 1.0 else sumDl.toDouble / nDocs
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val qTerms = df.orderBy(col("df").asc, col("term").asc).limit(8)
      val scored = tf
        .join(broadcast(qTerms), Seq("term"))
        .join(dl, Seq("doc_id"))
        .withColumn("idf",
          log((lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
        .withColumn("score",
          col("idf") * (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / lit(avgdl)))))
      val w = Window.partitionBy("term")
        .orderBy(round(col("score"), 9).desc, col("doc_id").asc)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select(col("term"), col("rank"), col("doc_id"), col("tf"), col("dl"),
          round(col("score"), 4).as("score_r"))
        .orderBy("term", "rank")
    },
    Some(s"""WITH tf AS (SELECT term, doc_id, COUNT(*) AS tf
        FROM (SELECT doc_id,
            unnest(${TextFns.tokensSql("text")}) AS term
          FROM documents) GROUP BY 1, 2),
      dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      qt AS (SELECT term, df FROM df ORDER BY df ASC, term ASC LIMIT 8),
      scored AS (SELECT tf.term, tf.doc_id, tf.tf, dl.dl,
        ln(((SELECT n FROM stats) - qt.df + 0.5) / (qt.df + 0.5) + 1.0)
          * (tf.tf * 2.2)
          / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / (SELECT avgdl FROM stats)))) AS score
        FROM tf JOIN qt ON qt.term = tf.term JOIN dl ON dl.doc_id = tf.doc_id),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY term
          ORDER BY round(score, 9) DESC, doc_id ASC) AS rank FROM scored)
      SELECT term, CAST(rank AS INT) AS rank, doc_id, tf, dl,
        ROUND(score, 4) AS score_r
      FROM ranked WHERE rank <= 5 ORDER BY term, rank"""))

  /** One-pass weighted sampling without replacement (Efraimidis-Spirakis
    * A-ES): per doc a deterministic uniform u from the md5 of its id —
    * (52-bit hex prefix + 0.5) / 2^52, an EXACT dyadic rational on both
    * engines — and the race key −ln(u)/w (w = doc length in chars);
    * the 30 SMALLEST keys are the sample. Equivalent to keeping the 30
    * largest u^(1/w) (the paper's form), but the negated-log key stays
    * strictly positive so rounding near zero can never manufacture a
    * signed-zero parity split. Scale: one narrow pass + a distributed
    * TakeOrdered(30) — no shuffle, no state, mergeable across any
    * partitioning; the selection is a pure function of (id, w), so
    * re-runs and incremental batches agree (the d52/d60 determinism
    * contract). ln() is the one libm call at the boundary: both engines
    * round-trip correctly-rounded doubles, and the 9-dp key rounding +
    * id tiebreak absorbs any final-ulp fork. */
  val d72 = QueryDef("d72_weighted_sample",
    (s, dir) => {
      val sampled = Tables.documents(s, dir)
        .select(col("doc_id"),
          greatest(coalesce(col("n_chars"), lit(0L)), lit(1L)).as("w"))
        .withColumn("u",
          (conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
            .cast(DoubleType) + lit(0.5)) / lit(4503599627370496.0))
        .withColumn("ares_key", round((lit(0.0) - log(col("u"))) / col("w"), 9))
        .orderBy(col("ares_key").asc, col("doc_id").asc)
        .limit(30)
      val w = Window.orderBy(col("ares_key").asc, col("doc_id").asc)
      sampled.withColumn("rank", row_number().over(w))
        .select(col("rank"), col("doc_id"), col("w"), col("ares_key"))
        .orderBy("rank")
    },
    Some("""WITH keyed AS (SELECT doc_id,
        greatest(coalesce(n_chars, 0), 1) AS w,
        (CAST(CONCAT('0x', SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
          + 0.5) / 4503599627370496.0 AS u
        FROM documents),
      sampled AS (SELECT doc_id, w,
        round((0.0 - ln(u)) / w, 9) AS ares_key
        FROM keyed ORDER BY ares_key ASC, doc_id ASC LIMIT 30)
      SELECT CAST(row_number() OVER (ORDER BY ares_key ASC, doc_id ASC) AS INT) AS rank,
        doc_id, w, ares_key
      FROM sampled ORDER BY rank"""))

  /** word2vec phrase detection (Mikolov et al. 2013 §4): score(w1,w2) =
    * (c(w1w2) − δ) · N / (c(w1)·c(w2)), δ = 3; a bigram is a phrase when
    * score > 2. The verdict is EXACT integer cross-multiplication —
    * (c12−3)·N > 2·c1·c2 — so no float sits at the decision boundary
    * (the d47/d55 rule); the rational score itself is emitted rounded
    * for the reader. The synthetic corpus's 31-token vocabulary has no
    * real collocations, so literal-text twins (every 25th doc re-appears
    * at id+5e9 as "new_york city ×3") guarantee the phrase polarity at
    * every SF while the base corpus supplies ~900 non-phrases; the
    * judged surface is bigrams with c12 ≥ 5 (bounded by the vocabulary²,
    * not the corpus). Scale: two term-keyed shuffles (bigram counts,
    * unigram counts) + one 1-row total captured on the driver; the
    * tokenized frame is checkpointed (three consumers).
    *
    * Exact-integer validity bound (advisor r8): `2·c1·c2` fits a BIGINT
    * only while c1·c2 < 2^62; since c1,c2 ≤ nTok the form is provably
    * safe for nTok ≤ 2^31−1 (~2.1e9 tokens — every judged SF by orders
    * of magnitude). Beyond that Spark would wrap silently while DuckDB
    * raises, so the driver guard below fails LOUDLY instead; the
    * production form past the bound is the rounded-double score with an
    * epsilon band (score_r is already emitted), traded consciously
    * because a float at the decision boundary breaks cross-engine
    * replay. */
  val d73 = QueryDef("d73_phrase_detect",
    (s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val injected = base.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 5000000000L).as("doc_id"),
          lit("new_york city new_york city new_york city").as("text"))
      // No token-array checkpoint (the d71/d74 sf10 lesson — materialized
      // arrays are GBs): the unigram and bigram rollups are two cheap
      // tokenize scans, and N_tokens derives from the Heaps-bounded
      // unigram table instead of a third corpus pass.
      val toks = base.unionByName(injected)
        .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
      val uni = toks.select(explode(col("t")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // nTok scan AND the two verdict joins
      val nTok = {
        val r = uni.agg(sum(col("c"))).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
      require(nTok <= Int.MaxValue.toLong,
        s"d73 exact-integer verdict is BIGINT-safe only for nTok <= 2^31-1 " +
          s"(got $nTok); switch to the epsilon-banded double score past this bound")
      val big = toks.filter(size(col("t")) >= 2)
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
        .select(element_at(col("t"), col("i")).as("w1"),
          element_at(col("t"), col("i") + 1).as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
      big
        .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
        .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
          ((col("c12") - 3) * lit(nTok) > lit(2) * col("c1") * col("c2"))
            .as("is_phrase"),
          round(((col("c12") - 3) * lit(nTok)).cast(DoubleType) /
            (col("c1") * col("c2")).cast(DoubleType), 6).as("score_r"))
        .orderBy("w1", "w2")
    },
    Some(s"""WITH docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 5000000000, 'new_york city new_york city new_york city'
        FROM documents WHERE doc_id % 25 = 0),
      toks AS (SELECT doc_id, ${TextFns.tokensSql("text")} AS t FROM docs),
      uni AS (SELECT w, COUNT(*) AS c
        FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
      nt AS (SELECT COUNT(*) AS n FROM (SELECT unnest(t) AS w FROM toks)),
      big AS (SELECT t[i] AS w1, t[i+1] AS w2
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 2),
      c2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2 HAVING COUNT(*) >= 5)
      SELECT w1, w2, c12, a.c AS c1, b.c AS c2,
        (c12 - 3) * (SELECT n FROM nt) > 2 * a.c * b.c AS is_phrase,
        ROUND(CAST((c12 - 3) * (SELECT n FROM nt) AS DOUBLE)
          / CAST(a.c * b.c AS DOUBLE), 6) AS score_r
      FROM c2 JOIN uni a ON a.w = w1 JOIN uni b ON b.w = w2
      ORDER BY w1, w2"""))

  /** Interpolated Kneser-Ney bigram scoring (Chen & Goodman 1999 eq.
    * 4.26, fixed discount D = 0.75): P(w2|w1) = max(c12−D, 0)/c1 +
    * (D·N1+(w1·)/c1) · N1+(·w2)/B — continuation probability instead of
    * raw frequency for the backoff mass, the smoothing KenLM ships and
    * the CCNet/d24 MLE filter graduates to. Judged per doc: bigram
    * count and mean log-probability (the d24 surface, directly
    * comparable). All model inputs are exact integers (c12, c1,
    * distinct-continuation counts, B = distinct bigram types, captured
    * as a 1-row driver scalar); the float expression trees are mirrored
    * operation-for-operation and the per-doc mean is rounded at 6 dp
    * (the d24-proven parity recipe). Every observed bigram has c12 ≥ 1
    * so max(c12−D,0) ≥ 0.25 and the log is always defined. Scale: two
    * corpus-scale shuffles (c12 build, probability join-back); the whole
    * smoothing model assembles at TYPE granularity from the
    * Heaps²-bounded c12 table, and nothing vocabulary-sized broadcasts
    * (the d49 lesson). */
  val d74 = QueryDef("d74_kneser_ney",
    (s, dir) => {
      // The corpus-scale bigram stream is shuffled exactly TWICE: once to
      // build c12, once to join the finished per-TYPE probability back.
      // Everything else (context totals c1 = Σ_w2 c12, continuation
      // counts, B) derives from the Heaps²-bounded c12 table — the sf10
      // lesson: the first cut joined the stream against three model
      // tables separately (3 corpus shuffles, 11-19×/decade). The stream
      // itself is deliberately NOT checkpointed: materializing 27M
      // deserialized rows costs ~10 s at sf10 while re-deriving it
      // (tokenize+explode, ~2.5 s) twice is cheap — the multi-consumer
      // checkpoint rule is for subtrees that are expensive RELATIVE to
      // their materialized size, and a flat corpus-sized stream with a
      // two-scan derivation is the counterexample (probed: 16 s with the
      // checkpoint, 6-7 s without).
      def big = Tables.documents(s, dir)
        .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
        .select(col("doc_id"),
          element_at(col("t"), col("i")).as("w1"),
          element_at(col("t"), col("i") + 1).as("w2"))
      val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .localCheckpoint(false) // bTypes, left, right, typeP all consume it
      val bTypes = c12.count()
      val left = c12.groupBy("w1")
        .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
      val right = c12.groupBy("w2").agg(count(lit(1)).as("n1r"))
      val typeP = c12
        .join(left, Seq("w1"))
        .join(right, Seq("w2"))
        .withColumn("p",
          (greatest(col("c12") - lit(0.75), lit(0.0)) +
            lit(0.75) * col("n1f") * (col("n1r").cast(DoubleType) / lit(bTypes.toDouble))) /
            col("c1"))
        .select("w1", "w2", "p")
      big
        .join(typeP, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(log(col("p"))), 6).as("avg_logp_kn"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (SELECT doc_id, ${TextFns.tokensSql("text")} AS t
        FROM documents),
      big AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 2),
      types AS (SELECT DISTINCT w1, w2 FROM big),
      bt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS b FROM types),
      c2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
      lft AS (SELECT c1.w1, c1.c1, nf.n1f
        FROM (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY 1) c1
        JOIN (SELECT w1, COUNT(*) AS n1f FROM types GROUP BY 1) nf USING (w1)),
      rgt AS (SELECT w2, COUNT(*) AS n1r FROM types GROUP BY 1),
      scored AS (SELECT big.doc_id,
        (greatest(c12 - 0.75, 0.0)
          + 0.75 * n1f * (CAST(n1r AS DOUBLE) / (SELECT b FROM bt))) / c1 AS p
        FROM big JOIN c2 USING (w1, w2) JOIN lft USING (w1) JOIN rgt USING (w2))
      SELECT doc_id, COUNT(*) AS n_bigrams,
        ROUND(AVG(ln(p)), 6) AS avg_logp_kn
      FROM scored GROUP BY doc_id ORDER BY doc_id"""))

  /** Binary (1-bit sign) embedding quantization + Hamming-shortlist ANN
    * with exact cosine rerank — the binary-embedding serving stack
    * (Indyk & Motwani 1998 sign-LSH; the modern "binary quantization +
    * rescore" recipe): 64 float dims pack into two 32-bit words
    * (MSB-first exact-integer fold acc·2 + [x>0], overflow-free in a
    * BIGINT), Hamming distance = popcount of the XOR — at 100 TB the
    * shortlist scan reads 8 bytes/vector instead of 256 and the
    * candidate set that reaches the full-precision rerank is 20/N of
    * the corpus. Judged per (query, rank): the top-5 after rerank with
    * the shortlist Hamming distance alongside — quantization error is
    * visible as non-monotone hamming within the cosine order, a judged
    * surface rather than an assertion. The oracle replays the fold, the
    * XOR popcount (as the dim-wise sign-disagreement sum — identical by
    * construction, which is itself the packing proof), and the rerank.
    * The corpus×query pair stage is the e2/e13 exact-baseline shape:
    * corpus × broadcast(20-query sample) — the broadcast side is the
    * bounded query batch, never the corpus. */
  /** MSB-first sign-bit pack of dims [lo, lo+32): exact-integer fold
    * acc·2 + [x>0], so dim `lo` lands at bit 31 — 32 bits per word keeps
    * the fold overflow-free in a Long on BOTH engines (a 64-bit pack
    * would wrap in Java and ERROR in DuckDB at bit 63). */
  private[graft] def signCode(v: org.apache.spark.sql.Column, lo: Int)
      : org.apache.spark.sql.Column =
    aggregate(slice(v, lo, 32), lit(0L),
      (acc, x) => acc * 2 + when(x > lit(0), 1L).otherwise(0L))

  val e14 = QueryDef("e14_binary_hamming_rerank",
    (s, dir) => {
      val codeOf = signCode _
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val codes = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"),
        codeOf(col("embedding"), 1).as("c_hi"),
        codeOf(col("embedding"), 33).as("c_lo"))
      val q = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          codeOf(col("embedding"), 1).as("q_hi"),
          codeOf(col("embedding"), 33).as("q_lo"))
      val short = codes.crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("hamming",
          (bit_count(col("c_hi").bitwiseXOR(col("q_hi"))) +
            bit_count(col("c_lo").bitwiseXOR(col("q_lo")))).cast(LongType))
      val wh = Window.partitionBy("query_id")
        .orderBy(col("hamming").asc, col("neighbor_id").asc)
      val reranked = short.withColumn("hrank", row_number().over(wh))
        .filter(col("hrank") <= 20)
        .withColumn("cos", VectorExprs.cosine(col("qv"), col("cv")))
      // Null-pin (e15's rule): cosine is NULL for zero-norm vectors and the
      // engines' default DESC null order diverges (Spark nulls-last, DuckDB
      // nulls-first) — coalesce(-2) sorts them below every real cosine on
      // BOTH engines.
      val wc = Window.partitionBy("query_id")
        .orderBy(round(coalesce(col("cos"), lit(-2.0)), 9).desc,
          col("neighbor_id").asc)
      reranked.withColumn("rank", row_number().over(wc)).filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("hamming"),
          round(col("cos"), 4).as("cos_r"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH c AS (SELECT vec_id, embedding FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qv FROM c WHERE vec_id < 20),
      pairs AS (SELECT q.query_id, c.vec_id AS neighbor_id, q.qv, c.embedding AS cv,
        CAST(list_sum(list_transform(range(1, 65),
          i -> CASE WHEN (q.qv[i] > 0) <> (c.embedding[i] > 0) THEN 1 ELSE 0 END))
          AS BIGINT) AS hamming
        FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id),
      short AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY hamming ASC, neighbor_id ASC) AS hrank FROM pairs),
      reranked AS (SELECT query_id, neighbor_id, hamming,
        ${QueryDef.cosSql64("qv", "cv")} AS cos
        FROM short WHERE hrank <= 20),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY round(coalesce(cos, -2.0), 9) DESC, neighbor_id ASC) AS rank FROM reranked)
      SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, hamming,
        ROUND(cos, 4) AS cos_r
      FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))
}
