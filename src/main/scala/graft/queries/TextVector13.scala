package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.core.Tables
import graft.functions.VectorExprs
import graft.operators.Bpe
import graft.functions.TextFns

/** Sixteenth coverage batch: serving-efficiency and governance operators —
  *
  *  - e15: Matryoshka truncation recall (Kusupati et al. 2022,
  *    arXiv:2205.13147) — how much of the exact top-10 survives searching
  *    only the first 16 of 64 dims, judged per query. The MRL serving
  *    question at 100 TB: a 4× cheaper scan whose quality loss is
  *    measured, not assumed.
  *  - d75: k-anonymity audit over quasi-identifiers (Sweeney 2002) — the
  *    governance gate a corpus release runs before publishing per-group
  *    statistics.
  *  - d76: tokenizer fertility by language (subwords-per-word /
  *    chars-per-subword off the d64-trained BPE) — the
  *    tokenizer-equity metric multilingual pipelines report (Rust et
  *    al. 2021, arXiv:2012.15613).
  */
object TextVector13 {

  def defs: Seq[QueryDef] = Seq(e15, d75, d76)

  /** Matryoshka truncation recall@10: exact cosine top-10 on the full 64
    * dims vs the same search on the 16-dim PREFIX (MRL's nesting —
    * truncation, never projection), per query the overlap count. Both
    * searches and the overlap are fully deterministic (9-dp-rounded
    * score order, id tiebreak), so the oracle replays everything. The
    * two corpus×query stages are the e2 bounded-query-batch shape
    * (broadcast side = the 30-query sample); at scale the prefix pass
    * reads 16/64 of the embedding bytes — the point of MRL serving —
    * and the overlap join is ≤ 10 rows per query. */
  val e15 = QueryDef("e15_mrl_truncation_recall",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val q = emb.filter(col("vec_id") < 30)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          slice(col("embedding"), 1, 16).as("qp"))
      // coalesce(-2): a zero-norm side yields a NULL cosine, and the
      // engines' default null ordering under DESC disagrees (Spark last,
      // DuckDB first) — pinning nulls below every real cosine keeps the
      // ranking deterministic on degenerate vectors (PathologicalCorpus).
      def topk(scoreCol: org.apache.spark.sql.Column,
               src: org.apache.spark.sql.DataFrame) = {
        val w = Window.partitionBy("query_id")
          .orderBy(round(coalesce(scoreCol, lit(-2.0)), 9).desc,
            col("neighbor_id").asc)
        src.withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
      }
      val pairs = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
        .crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("neighbor_id"))
      val full = topk(VectorExprs.cosine(col("qv"), col("cv")), pairs)
        .select(col("query_id"), col("neighbor_id"))
      val prefix = topk(
        VectorExprs.cosine(col("qp"), slice(col("cv"), 1, 16)), pairs)
        .select(col("query_id"), col("neighbor_id"))
      full.join(prefix, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
        .join(q.select("query_id"), Seq("query_id"), "right_outer")
        .select(col("query_id"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
        .withColumn("recall_r",
          round(col("n_overlap").cast(DoubleType) / lit(10.0), 2))
        .orderBy("query_id")
    },
    Some(s"""WITH c AS (SELECT vec_id, embedding FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qv FROM c WHERE vec_id < 30),
      pairs AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        ${QueryDef.cosSql64("q.qv", "c.embedding")} AS cos_full,
        CASE WHEN list_sum(list_transform(range(1, 17),
            i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))) > 0
          AND list_sum(list_transform(range(1, 17),
            i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) > 0
          THEN list_sum(list_transform(range(1, 17),
            i -> CAST(q.qv[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(range(1, 17),
                i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))
              * sqrt(list_sum(list_transform(range(1, 17),
                i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))))
          END AS cos_pre
        FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id),
      full_k AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
        row_number() OVER (PARTITION BY query_id
          ORDER BY round(coalesce(cos_full, -2.0), 9) DESC, neighbor_id ASC) AS r FROM pairs)
        WHERE r <= 10),
      pre_k AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
        row_number() OVER (PARTITION BY query_id
          ORDER BY round(coalesce(cos_pre, -2.0), 9) DESC, neighbor_id ASC) AS r FROM pairs)
        WHERE r <= 10),
      ov AS (SELECT f.query_id, COUNT(*) AS n_overlap
        FROM full_k f JOIN pre_k p USING (query_id, neighbor_id) GROUP BY 1)
      SELECT q.query_id, coalesce(ov.n_overlap, 0) AS n_overlap,
        ROUND(coalesce(ov.n_overlap, 0) / 10.0, 2) AS recall_r
      FROM q LEFT JOIN ov USING (query_id) ORDER BY query_id"""))

  /** k-anonymity audit (Sweeney 2002): group the corpus by its
    * quasi-identifier tuple — (lang, source, length bucket of 100 chars)
    * — and flag equivalence classes smaller than k = 5, the groups a
    * release must suppress or generalize before publishing per-group
    * statistics. Exact integer surface (group size, DIV bucket,
    * boundary verdict); one hash shuffle on the QI tuple, output bounded
    * by the QI domain (not the corpus). Null QI components order
    * NULLS FIRST explicitly on both engines (the d53 lesson). */
  val d75 = QueryDef("d75_k_anonymity",
    (s, dir) => {
      Tables.documents(s, dir)
        .select(col("lang"), col("source"),
          (coalesce(col("n_chars"), lit(0L)) / 100).cast(LongType).as("len_bucket"))
        .groupBy("lang", "source", "len_bucket")
        .agg(count(lit(1)).as("k"))
        .withColumn("suppressed", col("k") < 5)
        .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first,
          col("len_bucket").asc)
    },
    Some("""SELECT lang, source,
        coalesce(n_chars, 0) // 100 AS len_bucket,
        COUNT(*) AS k, COUNT(*) < 5 AS suppressed
      FROM documents GROUP BY 1, 2, 3
      ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST, len_bucket ASC"""))

  private val K = 6

  /** Tokenizer fertility by language (Rust et al. 2021): words,
    * BPE subwords, fertility = subwords/word and chars/subword per
    * lang, off the SAME trained merge table as d64/d65 (the oracle
    * replays all six training iterations through
    * [[graft.operators.Bpe.oracleMergeChain]] — shared text, cannot
    * drift). The multilingual-equity number a tokenizer review reports:
    * a language whose fertility is ~2× pays ~2× the tokens for the
    * same text. Scale: d65's serving join (vocabulary rides the join,
    * corpus streams) + one lang rollup. */
  val d76 = QueryDef("d76_bpe_fertility",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val (_, trained) = Bpe.trainMerges(Bpe.wordCounts(docs, "text"), K)
      val nSyms = trained.select(col("word"),
        (size(split(col("rep"), Bpe.US)) - 1).cast(LongType).as("n_syms"))
      docs
        .select(col("lang"),
          explode(graft.functions.TextFns.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "" && !col("word").contains(Bpe.US))
        .join(nSyms, Seq("word"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
          sum("n_syms").as("n_bpe_tokens"),
          sum(length(col("word")).cast(LongType)).as("n_chars"))
        .withColumn("fertility_r",
          round(col("n_bpe_tokens").cast(DoubleType) / col("n_words"), 6))
        .withColumn("chars_per_tok_r",
          round(col("n_chars").cast(DoubleType) / col("n_bpe_tokens"), 6))
        .orderBy(col("lang").asc_nulls_first)
    },
    Some {
      val chain = Bpe.oracleMergeChain(
        s"""SELECT word, CAST(count(*) AS BIGINT) AS cnt
          |      FROM (SELECT UNNEST(${TextFns.tokensSql("text")}) AS word
          |            FROM documents)
          |      WHERE word <> '' AND strpos(word, chr(31)) = 0
          |      GROUP BY 1""".stripMargin, K)
      s"""WITH $chain,
      dw AS (SELECT lang, word
        FROM (SELECT lang,
            UNNEST(${TextFns.tokensSql("text")}) AS word
          FROM documents)
        WHERE word <> '' AND strpos(word, chr(31)) = 0),
      nn AS (SELECT word,
          CAST(len(string_split(rep, chr(31))) - 1 AS BIGINT) AS n_syms
        FROM w$K),
      agg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
          CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens,
          CAST(sum(len(word)) AS BIGINT) AS n_chars
        FROM dw JOIN nn USING (word) GROUP BY 1)
      SELECT lang, n_words, n_bpe_tokens, n_chars,
        ROUND(CAST(n_bpe_tokens AS DOUBLE) / n_words, 6) AS fertility_r,
        ROUND(CAST(n_chars AS DOUBLE) / n_bpe_tokens, 6) AS chars_per_tok_r
      FROM agg ORDER BY lang ASC NULLS FIRST"""
    })
}
