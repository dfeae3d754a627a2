package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.core.Tables
import graft.functions.TextFns

/** Seventeenth coverage batch: corpus statistics, pretraining layout, and
  * sparse retrieval —
  *
  *  - d77: Zipf-exponent fit (Zipf 1949; the rank-frequency power law) by
  *    OLS on the log-log vocabulary curve — the one-number corpus-health
  *    stat (a slope far from −1 flags templated or truncated text).
  *  - d78: T5 span-corruption layout (Raffel et al. 2020 §3.1.4 — 15%
  *    mask rate, mean span 3) as a DETERMINISTIC, seed-stable mask plan.
  *  - d79: sparse TF-IDF cosine retrieval doc→doc through the inverted
  *    index — the sparse-vector complement to d71's term→doc BM25 and
  *    e2's dense cosine.
  *  - s10: the Count-Min sketch over the event feed's user ids, judged in
  *    batch mode; the same `CountMin.sketch` runs unchanged on a stream.
  */
object TextVector14 {

  def defs: Seq[QueryDef] = Seq(d77, d78, d79, s10)

  /** Zipf rank-frequency fit: rank the vocabulary by count, regress
    * ln(freq) on ln(rank), report slope (alpha = −slope), intercept, and
    * r². The rank goes through the distributed two-pass
    * [[graft.core.Indexing.globalRowIds]]: the
    * vocabulary is an AGGREGATE but it GROWS with the corpus (Heaps' law
    * still puts a web-scale vocab at 10⁸–10⁹ noise tokens), so a naked
    * `row_number().over(Window.orderBy(...))` would plan a
    * single-partition sort over it — the exact shape PlanLint check 3
    * exists to refuse. Bucketing key = −cnt (monotone for the DESC
    * order); within-bucket order (cnt desc, token asc) is the identical
    * total order, so ids — and the final hash — cannot move. One
    * corpus-scale token shuffle; the regression consumes vocab-sized sums
    * (the q73 exact-moment recipe, rounded at 6 dp so cross-engine
    * double-fold order can't flip the hash). */
  val d77 = QueryDef("d77_zipf_alpha",
    (s, dir) => {
      val vocab = Tables.documents(s, dir)
        .select(explode(TextFns.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        // checkpointed so globalRowIds' extra scans (bounds + histogram)
        // re-read the vocab-sized aggregate, not the corpus tokenization
        .localCheckpoint(false)
      val ranked = graft.core.Indexing.globalRowIds(
          vocab.withColumn("__negcnt", -col("cnt")), "__negcnt", "__rid",
          withinOrder = Seq(col("cnt").desc, col("token").asc))
        .withColumn("r", col("__rid") + 1L)
      val pts = ranked.select(
        log(col("r").cast(DoubleType)).as("x"),
        log(col("cnt").cast(DoubleType)).as("y"))
      val n = col("n").cast(DoubleType)
      pts
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
        .select(col("n").as("n_vocab"),
          round(lit(0.0) - (n * col("sxy") - col("sx") * col("sy")) /
            (n * col("sxx") - col("sx") * col("sx")), 6).as("alpha_r"),
          round((col("sy") - (n * col("sxy") - col("sx") * col("sy")) /
            (n * col("sxx") - col("sx") * col("sx")) * col("sx")) / n, 6)
            .as("intercept_r"),
          round(((n * col("sxy") - col("sx") * col("sy")) *
            (n * col("sxy") - col("sx") * col("sy"))) /
            ((n * col("sxx") - col("sx") * col("sx")) *
              (n * col("syy") - col("sy") * col("sy"))), 6).as("r2_r"))
        .orderBy("n_vocab")
    },
    Some(s"""WITH vocab AS (SELECT token, COUNT(*) AS cnt
        FROM (SELECT unnest(${TextFns.tokensSql("text")}) AS token
              FROM documents)
        WHERE token <> '' GROUP BY 1),
      ranked AS (SELECT cnt,
        row_number() OVER (ORDER BY cnt DESC, token ASC) AS r FROM vocab),
      pts AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
        FROM ranked),
      agg AS (SELECT COUNT(*) AS n0, SUM(x) AS sx, SUM(y) AS sy,
        SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy FROM pts)
      SELECT n0 AS n_vocab,
        ROUND(0.0 - (CAST(n0 AS DOUBLE) * sxy - sx * sy)
          / (CAST(n0 AS DOUBLE) * sxx - sx * sx), 6) AS alpha_r,
        ROUND((sy - (CAST(n0 AS DOUBLE) * sxy - sx * sy)
          / (CAST(n0 AS DOUBLE) * sxx - sx * sx) * sx) / CAST(n0 AS DOUBLE), 6)
          AS intercept_r,
        ROUND(((CAST(n0 AS DOUBLE) * sxy - sx * sy)
            * (CAST(n0 AS DOUBLE) * sxy - sx * sy))
          / ((CAST(n0 AS DOUBLE) * sxx - sx * sx)
            * (CAST(n0 AS DOUBLE) * syy - sy * sy)), 6) AS r2_r
      FROM agg ORDER BY n_vocab"""))

  /** T5 span-corruption mask plan (15% corruption, mean span 3 → one
    * 3-token span per ~20 tokens): n_spans = max(1, round(n/20)) via
    * exact integer (n+10) DIV 20; the doc is partitioned into n_spans
    * equal segments and each span lands at a DETERMINISTIC md5 offset
    * within its segment — non-overlapping BY CONSTRUCTION (no rejection
    * sampling to replay), seed-stable across reruns and batches (the
    * d52/d72 determinism contract). Narrow per-row math + one bounded
    * explode (n/20 rows per doc); nothing shuffles until the output
    * sort. Docs shorter than 3 tokens carry no span — dropped
    * identically on both engines. */
  val d78 = QueryDef("d78_span_corruption",
    (s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
        .select(col("doc_id"), size(col("t")).cast(LongType).as("n"))
        .filter(col("n") >= 3)
        .withColumn("n_spans", greatest(lit(1L),
          ((col("n") + 10) / 20).cast(LongType)))
        .withColumn("seg_len", (col("n") / col("n_spans")).cast(LongType))
      base
        .select(col("doc_id"), col("n"), col("n_spans"), col("seg_len"),
          explode(sequence(lit(1L), col("n_spans"))).as("span_idx"))
        .withColumn("off",
          TextFns.hash32(concat(col("doc_id").cast("string"), lit(":"),
            col("span_idx").cast("string")))
            % (col("seg_len") - 2))
        .select(col("doc_id"), col("span_idx"), col("n").as("n_tokens"),
          col("n_spans"),
          ((col("span_idx") - 1) * col("seg_len") + 1 + col("off"))
            .as("span_start"),
          round(col("n_spans") * lit(3.0) / col("n"), 6).as("mask_frac_r"))
        .orderBy("doc_id", "span_idx")
    },
    Some(s"""WITH base AS (SELECT doc_id,
        CAST(len(${TextFns.tokensSql("text")}) AS BIGINT) AS n
        FROM documents),
      spans AS (SELECT doc_id, n,
        greatest(1, (n + 10) // 20) AS n_spans,
        n // greatest(1, (n + 10) // 20) AS seg_len
        FROM base WHERE n >= 3),
      ex AS (SELECT doc_id, n, n_spans, seg_len,
        unnest(generate_series(1, n_spans)) AS span_idx FROM spans)
      SELECT doc_id, span_idx, n AS n_tokens, n_spans,
        (span_idx - 1) * seg_len + 1 +
          (${TextFns.hash32Sql(
            "CAST(doc_id AS VARCHAR) || ':' || CAST(span_idx AS VARCHAR)")} % (seg_len - 2))
          AS span_start,
        ROUND(n_spans * 3.0 / n, 6) AS mask_frac_r
      FROM ex ORDER BY doc_id, span_idx"""))

  /** Sparse TF-IDF cosine retrieval (doc→doc through the inverted
    * index): the query docs' posting lists are broadcast (bounded query
    * batch — the e2 contract in sparse form), the corpus postings hash-
    * join them on the term key, and the sparse dot product is one
    * (query, doc) rollup — at 100 TB the corpus-side work is one
    * posting-list scan, never a dense pair materialization. Weights are
    * d26's tf·ln(N/df); norms ride a per-doc rollup of the same weight
    * relation (checkpointed — weights feed pairs, query side, and both
    * norm joins). */
  val d79 = QueryDef("d79_tfidf_retrieval",
    (s, dir) => {
      val tf = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val nDocs = Tables.documents(s, dir).count()
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = tf.join(df, Seq("term"))
        .select(col("doc_id"), col("term"),
          (col("tf") * log(lit(nDocs.toDouble) / col("df"))).as("w"))
        .localCheckpoint(false)
      val norms = w.groupBy("doc_id")
        .agg(sqrt(sum(col("w") * col("w"))).as("norm"))
        .localCheckpoint(false)
      // BOUNDED query batch (the e2 contract, in sparse form): the id cap
      // keeps the batch at ≤25 queries at ANY corpus size — without it the
      // query count grows with the corpus and the candidate aggregation
      // goes quadratic (the d35 constant-cardinality-block lesson: on this
      // 31-term vocabulary every doc is a candidate for every query, so
      // the only linear knob is the query side). sf1 probe: 25 s → 1.4 s.
      val qw = w.filter(col("doc_id") % 100 === 0 && col("doc_id") < 2500)
        .select(col("doc_id").as("query_id"), col("term"), col("w").as("qw"))
      val scored = w
        .join(broadcast(qw), Seq("term"))
        .filter(col("doc_id") =!= col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(sum(col("w") * col("qw")).as("dot"))
        .join(norms.select(col("doc_id").as("query_id"),
          col("norm").as("qn")), Seq("query_id"))
        .join(norms, Seq("doc_id"))
        .withColumn("cos",
          when(col("qn") > 0 && col("norm") > 0,
            col("dot") / (col("qn") * col("norm"))))
      val rk = Window.partitionBy("query_id")
        .orderBy(round(coalesce(col("cos"), lit(-2.0)), 9).desc,
          col("doc_id").asc)
      scored.withColumn("rank", row_number().over(rk)).filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("doc_id"),
          round(col("cos"), 4).as("cos_r"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id,
            unnest(${TextFns.tokensSql("text")}) AS term
          FROM documents)
        WHERE term <> '' GROUP BY 1, 2),
      nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      w AS (SELECT doc_id, term, tf * ln((SELECT n FROM nd) / df) AS w
        FROM tf JOIN df USING (term)),
      norms AS (SELECT doc_id, sqrt(SUM(w * w)) AS norm FROM w GROUP BY 1),
      qw AS (SELECT doc_id AS query_id, term, w AS qw FROM w
        WHERE doc_id % 100 = 0 AND doc_id < 2500),
      dots AS (SELECT qw.query_id, w.doc_id, SUM(w.w * qw.qw) AS dot
        FROM w JOIN qw USING (term) WHERE w.doc_id <> qw.query_id
        GROUP BY 1, 2),
      scored AS (SELECT d.query_id, d.doc_id,
        CASE WHEN qn.norm > 0 AND dn.norm > 0
          THEN d.dot / (qn.norm * dn.norm) END AS cos
        FROM dots d
        JOIN norms qn ON qn.doc_id = d.query_id
        JOIN norms dn ON dn.doc_id = d.doc_id),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY round(coalesce(cos, -2.0), 9) DESC, doc_id ASC) AS rank
        FROM scored)
      SELECT query_id, CAST(rank AS INT) AS rank, doc_id,
        ROUND(cos, 4) AS cos_r
      FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** Count-Min sketch over the event feed (the sketch build is a
    * groupBy on the bounded (seed, bucket) domain, so it also runs as a
    * streaming aggregation, and counter addition makes micro-batching
    * commute with it — TextVector14Spec pins streamed ≡ batch): the
    * event feed's user frequencies sketched into 4×256 counters, the
    * top-10 users by exact count estimated back off the sketch with the
    * one-sided error as a judged column (d70's surface over the event
    * stream — 150+ users into 256 buckets/row makes collisions, and the
    * judged estimates, real). */
  val s10 = QueryDef("s10_event_cms",
    (s, dir) => {
      val toks = Tables.events(s, dir)
        .select(col("user_id").cast("string").as("user_key"))
        .localCheckpoint(false) // exact counts AND the sketch consume it
      val exact = toks.groupBy("user_key").agg(count(lit(1)).as("exact_cnt"))
        .localCheckpoint(false) // top-k AND the result join consume it
      val top = exact.orderBy(col("exact_cnt").desc, col("user_key").asc)
        .limit(10)
      val cms = graft.operators.CountMin.sketch(toks, "user_key", 4, 256)
      graft.operators.CountMin
        .estimate(top.select("user_key"), "user_key", cms, 4, 256)
        .join(exact, Seq("user_key"))
        .select(col("user_key"), col("exact_cnt"), col("cms_est"),
          (col("cms_est") > col("exact_cnt")).as("overestimated"))
        .orderBy("user_key")
    },
    Some(s"""WITH toks AS (SELECT CAST(user_id AS VARCHAR) AS user_key
        FROM events),
      exact AS (SELECT user_key, CAST(count(*) AS BIGINT) AS exact_cnt
        FROM toks GROUP BY 1),
      top AS (SELECT user_key, exact_cnt FROM exact
        ORDER BY exact_cnt DESC, user_key ASC LIMIT 10),
      cms AS (SELECT seed,
          ${TextFns.hash32Sql("CAST(seed AS VARCHAR) || ':' || user_key")} % 256 AS bucket,
          CAST(count(*) AS BIGINT) AS cnt
        FROM toks, UNNEST(generate_series(0, 3)) AS sd(seed)
        GROUP BY 1, 2),
      est AS (SELECT t.user_key,
          CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_est
        FROM (SELECT user_key, seed,
            ${TextFns.hash32Sql("CAST(seed AS VARCHAR) || ':' || user_key")} % 256 AS bucket
          FROM top, UNNEST(generate_series(0, 3)) AS sd(seed)) t
        LEFT JOIN cms c ON t.seed = c.seed AND t.bucket = c.bucket
        GROUP BY 1)
      SELECT e.user_key, x.exact_cnt, e.cms_est,
        (e.cms_est > x.exact_cnt) AS overestimated
      FROM est e JOIN exact x USING (user_key)
      ORDER BY user_key"""))
}
