package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.VectorExprs
import graft.functions.TextFns

/** Fourteenth coverage batch: bounded-memory frequency sketching —
  * Count-Min heavy-hitter estimation (d70, [[graft.operators.CountMin]])
  * with the ENTIRE sketch (every seeded counter, every min, every
  * collision) replayed by the DuckDB oracle through the md5 bucket
  * idiom — and the MIPS → cosine norm-augmentation transform (e13),
  * which lets every cosine-ANN index in the repo answer maximum
  * inner-product queries unchanged. */
object TextVector11 {

  def defs: Seq[QueryDef] = Seq(d70, e13)

  /** MIPS → cosine reduction (the XBOX / L2-augmentation transform:
    * Bachrach et al. RecSys 2014; Neyshabur & Srebro 2015): maximum
    * inner-product search is not a metric problem (no triangle
    * inequality — long vectors dominate), but appending one dimension
    * sqrt(M² − ‖x‖²) to every corpus vector (M = max corpus norm) and 0
    * to every query makes every augmented corpus vector the SAME length
    * M, so cosine order ≡ inner-product order and EVERY cosine-ANN index
    * in this repo (IVF e3, PQ e8, IVFADC e12, hyperplane LSH e4) serves
    * MIPS unchanged — that is the transform's entire point at 100 TB:
    * one index family, both objectives. Judged per (query, rank): the
    * exact MIPS top-5 by raw inner product, the augmented-space cosine,
    * and the augmented squared norm — whose constancy at M² across all
    * rows IS the transform's correctness, surfaced as data instead of
    * asserted. DuckDB replays the fold arithmetic including the
    * sqrt-then-square ulp (aug² = sqrt(g)², not g). */
  val e13 = QueryDef("e13_mips_transform",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val withN = emb
        .withColumn("nsq", VectorExprs.dot(col("embedding"), col("embedding")))
        .localCheckpoint(false) // the max agg AND the augmented corpus consume it
      val m2 = withN.agg(max("nsq")).head().getDouble(0)
      val asD = (c: org.apache.spark.sql.Column) =>
        transform(c, x => x.cast("double"))
      val aug = withN.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"),
        concat(asD(col("embedding")),
          array(sqrt(greatest(lit(m2) - col("nsq"), lit(0.0))))).as("cv_aug"))
      val q = emb.filter(col("vec_id") < 30)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          concat(asD(col("embedding")), array(lit(0.0))).as("qv_aug"))
      val scored = aug.crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("ip", VectorExprs.dot(col("qv"), col("cv")))
        .withColumn("cos_aug",
          VectorExprs.dot(col("qv_aug"), col("cv_aug")) /
            (sqrt(VectorExprs.dot(col("qv_aug"), col("qv_aug"))) *
             sqrt(VectorExprs.dot(col("cv_aug"), col("cv_aug")))))
        .withColumn("aug_nsq", VectorExprs.dot(col("cv_aug"), col("cv_aug")))
      val w = Window.partitionBy("query_id")
        .orderBy(round(col("ip"), 9).desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("ip"), 4).as("ip_r"),
          round(col("cos_aug"), 4).as("cos_aug_r"),
          round(col("aug_nsq"), 4).as("aug_nsq_r"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH c AS (SELECT vec_id, embedding,
        list_sum(list_transform(range(1, 65),
          i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS nsq
      FROM embeddings),
      m AS (SELECT max(nsq) AS m2 FROM c),
      ca AS (SELECT vec_id, embedding, nsq,
        list_append(list_transform(embedding, x -> CAST(x AS DOUBLE)),
          sqrt(greatest((SELECT m2 FROM m) - nsq, 0))) AS cv_aug
      FROM c),
      q AS (SELECT vec_id AS query_id, embedding AS qv,
        list_append(list_transform(embedding, x -> CAST(x AS DOUBLE)),
          CAST(0 AS DOUBLE)) AS qv_aug
      FROM c WHERE vec_id < 30),
      pairs AS (SELECT q.query_id, ca.vec_id AS neighbor_id,
        list_sum(list_transform(range(1, 65),
          i -> CAST(q.qv[i] AS DOUBLE) * CAST(ca.embedding[i] AS DOUBLE))) AS ip,
        list_sum(list_transform(range(1, 66),
          i -> q.qv_aug[i] * ca.cv_aug[i])) AS ip_aug,
        list_sum(list_transform(range(1, 66),
          i -> q.qv_aug[i] * q.qv_aug[i])) AS qq,
        list_sum(list_transform(range(1, 66),
          i -> ca.cv_aug[i] * ca.cv_aug[i])) AS cc
      FROM q CROSS JOIN ca WHERE ca.vec_id <> q.query_id),
      ranked AS (SELECT query_id, neighbor_id, ip,
        ip_aug / (sqrt(qq) * sqrt(cc)) AS cos_aug, cc AS aug_nsq,
        row_number() OVER (PARTITION BY query_id
          ORDER BY round(ip, 9) DESC, neighbor_id) AS rank
      FROM pairs)
      SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id,
        ROUND(ip, 4) AS ip_r, ROUND(cos_aug, 4) AS cos_aug_r,
        ROUND(aug_nsq, 4) AS aug_nsq_r
      FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** Count-Min heavy hitters: the corpus token stream sketched into
    * 4×1024 counters, then the top-20 tokens by EXACT count (the
    * deterministic query set — ties broken lexically) estimated back off
    * the sketch next to their true counts. `overestimated` marks tokens
    * whose every hash row collided with other mass — the sketch's
    * one-sided error surfaced as a judged column rather than asserted
    * away. Scale: exact counting pays one token-keyed shuffle
    * (Heaps-bounded output); the sketch pays one (seed,bucket)-keyed
    * shuffle with ≤4096 output rows REGARDLESS of vocabulary — the
    * production path when the key space (n-grams, URLs) outgrows exact
    * groupBy; top-20 is a distributed TakeOrdered, never a global
    * window. */
  val d70 = QueryDef("d70_count_min_hh",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(graft.functions.TextFns.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .localCheckpoint(false) // exact counts AND the sketch consume it
      val exact = toks.groupBy("token").agg(count(lit(1)).as("exact_cnt"))
        .localCheckpoint(false) // top-k AND the result join consume it
      val top = exact.orderBy(col("exact_cnt").desc, col("token").asc)
        .limit(20)
      val cms = graft.operators.CountMin.sketch(toks, "token")
      graft.operators.CountMin.estimate(top.select("token"), "token", cms)
        .join(exact, Seq("token"))
        .select(col("token"), col("exact_cnt"), col("cms_est"),
          (col("cms_est") > col("exact_cnt")).as("overestimated"))
        .orderBy("token")
    },
    Some(s"""WITH toks AS (
        SELECT word AS token FROM (
          SELECT UNNEST(${TextFns.tokensSql("text")}) AS word
          FROM documents)
        WHERE word <> ''),
      exact AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt
        FROM toks GROUP BY 1),
      top AS (SELECT token, exact_cnt FROM exact
        ORDER BY exact_cnt DESC, token ASC LIMIT 20),
      cms AS (SELECT seed,
          ${TextFns.hash32Sql("CAST(seed AS VARCHAR) || ':' || token")} % 1024 AS bucket,
          CAST(count(*) AS BIGINT) AS cnt
        FROM toks, UNNEST(generate_series(0, 3)) AS sd(seed)
        GROUP BY 1, 2),
      est AS (SELECT t.token,
          CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_est
        FROM (SELECT token, seed,
            ${TextFns.hash32Sql("CAST(seed AS VARCHAR) || ':' || token")} % 1024 AS bucket
          FROM top, UNNEST(generate_series(0, 3)) AS sd(seed)) t
        LEFT JOIN cms c ON t.seed = c.seed AND t.bucket = c.bucket
        GROUP BY 1)
      SELECT e.token, x.exact_cnt, e.cms_est,
        (e.cms_est > x.exact_cnt) AS overestimated
      FROM est e JOIN exact x USING (token)
      ORDER BY token"""))
}
