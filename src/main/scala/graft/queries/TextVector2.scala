package graft.queries

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.TextFns

/** Second text/training-data batch: corpus-level term statistics — TF-IDF
  * ranking and an inverted-index build — plus the sliding-window streaming
  * twin. All oracle-gated. The constructions are free functions over a
  * documents frame so the specs drive the SAME code the judged queries
  * run. */
object TextVector2 {

  def defs: Seq[QueryDef] = Seq(d26, d27, s5)

  /** TF-IDF per-document term ranking (see d26 scaladoc). */
  def tfidfTop(docs: DataFrame, topK: Int): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(round(col("tfidf"), 9).desc, col("term"))
    tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf") * log(col("n_docs").cast(DoubleType) / col("df")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        round(col("tfidf"), 6).as("tfidf_r"))
  }

  /** Inverted-index build (see d27 scaladoc). */
  def invertedIndex(docs: DataFrame, postingCap: Int): DataFrame = docs
    .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
    .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    .groupBy("term")
    .agg(count(lit(1)).as("df"),
      sum(col("tf")).as("total_tf"),
      concat_ws(",",
        slice(sort_array(collect_list(col("doc_id"))), 1, postingCap))
        .as("posting_head"))

  /** TF-IDF top-3 terms per document. tf and df ride ONE tokenize +
    * explode: (doc, term) counts aggregate once, df is a second aggregation
    * over that (already tiny — one row per distinct (doc, term)), and the
    * df/N sides broadcast back. At 100 TB nothing here re-shuffles the
    * corpus: the heavy explode shuffles once on (doc_id, term). Ranking
    * rounds to 9 decimals before ordering (e2's lesson: last-ulp ln()
    * differences must not flip ranks between engines). */
  val d26 = QueryDef("d26_tfidf",
    (s, dir) => tfidfTop(Tables.documents(s, dir), topK = 3)
      .orderBy("doc_id", "rank"),
    Some(s"""WITH tf AS (
        SELECT doc_id, unnest(${TextFns.tokensSql("text")}) AS term
        FROM documents),
      tfc AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
      df AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      scored AS (SELECT tfc.doc_id, tfc.term, tfc.tf, df.df,
          tfc.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf
        FROM tfc JOIN df USING (term) CROSS JOIN n)
      SELECT doc_id, CAST(rank AS INT) AS rank, term,
        CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        ROUND(tfidf, 6) AS tfidf_r
      FROM (SELECT doc_id, term, tf, df, tfidf,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY round(tfidf, 9) DESC, term) AS rank
            FROM scored) t
      WHERE rank <= 3 ORDER BY doc_id, rank"""))

  /** Inverted-index build: term → document frequency, total occurrences,
    * and the head of the posting list (first 8 doc ids, ascending) as a
    * bounded string. The cap is the point at scale: an uncapped posting
    * list for a stopword is one giant row; real indexes shard postings —
    * the head-string keeps the judged output bounded while exercising the
    * ordered-collect machinery. */
  val d27 = QueryDef("d27_inverted_index",
    (s, dir) => invertedIndex(Tables.documents(s, dir), postingCap = 8)
      .orderBy("term"),
    Some(s"""WITH tfc AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id,
                unnest(${TextFns.tokensSql("text")}) AS term
              FROM documents) t
        GROUP BY 1, 2)
      SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf,
        array_to_string((list(doc_id ORDER BY doc_id))[1:8], ',') AS posting_head
      FROM tfc GROUP BY term ORDER BY term"""))

  /** Sliding-window event aggregation (2h window, 30m slide): the SAME
    * transform the streaming job runs (graft.streaming.EventStreams
    * .slidingByType), executed in batch. Each event lands in 4 overlapping
    * windows; the oracle expands the same 4 epoch-aligned slots
    * explicitly. */
  val s5 = QueryDef("s5_sliding_window",
    (s, dir) => graft.streaming.EventStreams
      .slidingByType(Tables.events(s, dir), withWatermark = false)
      .orderBy("window_start", "event_type"),
    Some("""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value
        FROM events)
      SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes'
          AS window_start,
        event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM e, (VALUES (0), (1), (2), (3)) t(k)
      GROUP BY 1, 2 ORDER BY window_start, event_type"""))
}
