package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}
import graft.functions.TextFns

/** The GPT-3-style document-quality classifier + Pareto acceptance filter
  * (Brown et al. 2020, "Language Models are Few-Shot Learners",
  * arXiv:2005.14165 Appendix A): score every document by similarity to a
  * curated positive slice, then keep a document iff
  * `pareto_sample(α=9) > 1 − score` — high-quality docs survive almost
  * surely, low-quality docs survive with probability `(2−score)^{−α}`,
  * which keeps a long (deduplicated-tail) sample of the low end instead
  * of a hard cutoff.
  *
  * The classifier here is the hashed-feature Naive-Bayes log-odds form
  * (the NB half of NBSVM, Wang & Manning 2012): features are md5-hashed
  * unigram buckets (presence, not counts — document frequency), weight
  * w_b = ln((df_pos+1)/(n_pos+2)) − ln((df_neg+1)/(n_neg+2)), and the
  * document score is the mean weight of its distinct buckets pushed
  * through a sigmoid. The hashed model is ≤ `NumBuckets` rows —
  * broadcastable regardless of corpus size, the same bound as DSIR's
  * bucket model — so scoring 100 TB is one tokenize scan, one shuffle to
  * distinct (doc, bucket) pairs, and a broadcast join back.
  *
  * Determinism contract: the acceptance draw is the md5 bucket of the id
  * (content-stable, never rand()), and the Pareto comparison is rewritten
  * algebraically so no `pow` is evaluated at the decision boundary:
  * keep ⟺ pareto(α=9) > 1 − s ⟺ u > 1 − (2−s)^{−9}, with (2−s)^9
  * computed by an explicit square-and-multiply chain over the ROUNDED
  * score — exact IEEE arithmetic an independent engine replays
  * bit-for-bit. The only libm calls (ln in the weights, exp in the
  * sigmoid) sit behind round(…, 6), the d24/d43 envelope.
  */
object Classifier {

  /** Hashed unigram buckets: the model's row bound. */
  private val NumBuckets = 4096

  /** Score + filter. `isPositive` marks the curated slice INSIDE df (a
    * column predicate — e.g. `col("source").isin("wiki", "books")`).
    * Output: (id, n_feat, score_r, prob_r, u, kept) for every doc with at
    * least one token — score_r the rounded raw log-odds mean, prob_r the
    * rounded sigmoid, u the acceptance draw, kept the Pareto verdict. */
  def paretoQualityFilter(df: DataFrame, idCol: String, textCol: String,
                          isPositive: Column): DataFrame = {
    val toks = df.select(col(idCol).as("id"), isPositive.as("__pos"),
        graft.functions.TextFns.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= 1)
    val feats = toks
      .select(col("id"), col("__pos"), explode(col("t")).as("tok"))
      .select(col("id"), col("__pos"),
        (TextFns.hash32(col("tok")) % NumBuckets).as("bucket"))
      .distinct()
    // ONE distinct-feature plan feeds the model, the doc counts, and the
    // scoring join — lazy checkpoint so no consumer re-derives it (the
    // duplicated-lazy-plan trap; construction stays free).
    val featsC = feats.localCheckpoint(false)
    // n_pos/n_neg must count DOCS (including docs contributing no unique
    // buckets — impossible here since every doc has ≥1 bucket), so derive
    // from the distinct ids of the feature relation: one bounded pass.
    val docTotals = featsC.select(col("id"), col("__pos")).distinct()
      .agg(count(when(col("__pos"), 1)).as("__np"),
        count(when(!col("__pos"), 1)).as("__nn"))
    val model = featsC.groupBy("bucket")
      .agg(count(when(col("__pos"), 1)).as("df_pos"),
        count(when(!col("__pos"), 1)).as("df_neg"))
    val weights = model.crossJoin(broadcast(docTotals)).select(col("bucket"),
      (log((col("df_pos") + 1).cast(DoubleType) / (col("__np") + 2).cast(DoubleType)) -
        log((col("df_neg") + 1).cast(DoubleType) / (col("__nn") + 2).cast(DoubleType)))
        .as("w"))
    val scored = featsC.join(broadcast(weights), Seq("bucket"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_feat"), sum(col("w")).as("__sw"))
      .select(col("id"), col("n_feat"),
        round(col("__sw") / col("n_feat"), 6).as("score_r"))
    // sigmoid over the ROUNDED raw score, itself rounded — the two
    // round(6) fences bracket every libm call (ln above, exp here)
    val prob = round(lit(1.0) / (lit(1.0) + exp(-col("score_r"))), 6)
    // u ∈ [0, 1): md5 of the id at 10⁻⁶ resolution; /1e6 is the same
    // IEEE division on any engine
    val u = (TextFns.hash32(concat(col("id").cast(StringType), lit("|u"))) % 1000000)
      .cast(DoubleType) / lit(1000000.0)
    scored.withColumn("prob_r", prob).withColumn("u", u)
      .withColumn("kept", paretoKeep(col("prob_r"), col("u")))
  }

  /** Distinct (id, bucket) hashed-unigram presence features — the shared
    * construction of [[paretoQualityFilter]], [[trainNbWeights]] and
    * [[applyNbPareto]] (one definition so train and frozen-apply cannot
    * drift). */
  private def hashedFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.TextFns.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= 1)
      .select(col("id"), explode(col("t")).as("tok"))
      .select(col("id"),
        (TextFns.hash32(col("tok")) % NumBuckets).as("bucket"))
      .distinct()

  /** Train the hashed-NB log-odds weights ONCE and hand them back as a
    * (bucket, w) frame (≤ NumBuckets rows — broadcastable at any corpus
    * size). The frozen-model half of the incremental curation contract:
    * a production quality classifier is trained once on a reference
    * corpus and applied unchanged to every later batch (GPT-3 trained its
    * classifier once against WebText), so batch decisions never depend on
    * when a document arrives. Same arithmetic as [[paretoQualityFilter]]
    * (which stays the fused single-pass form for the one-shot case). */
  def trainNbWeights(df: DataFrame, idCol: String, textCol: String,
                     isPositive: Column): DataFrame = {
    val feats = df.select(col(idCol).as("id"), isPositive.as("__pos"),
        graft.functions.TextFns.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= 1)
      .select(col("id"), col("__pos"), explode(col("t")).as("tok"))
      .select(col("id"), col("__pos"),
        (TextFns.hash32(col("tok")) % NumBuckets).as("bucket"))
      .distinct()
      .localCheckpoint(false)
    val docTotals = feats.select(col("id"), col("__pos")).distinct()
      .agg(count(when(col("__pos"), 1)).as("__np"),
        count(when(!col("__pos"), 1)).as("__nn"))
    feats.groupBy("bucket")
      .agg(count(when(col("__pos"), 1)).as("df_pos"),
        count(when(!col("__pos"), 1)).as("df_neg"))
      .crossJoin(broadcast(docTotals)).select(col("bucket"),
        (log((col("df_pos") + 1).cast(DoubleType) / (col("__np") + 2).cast(DoubleType)) -
          log((col("df_neg") + 1).cast(DoubleType) / (col("__nn") + 2).cast(DoubleType)))
          .as("w"))
  }

  /** Score + Pareto-filter `df` against FROZEN weights (from
    * [[trainNbWeights]], possibly over an earlier corpus). Buckets absent
    * from the model contribute nothing; a document with NO modeled bucket
    * scores 0 raw log-odds (sigmoid 0.5 — neutral), so out-of-vocabulary
    * batches degrade to a fair coin against the Pareto draw rather than
    * vanishing. Output schema = [[paretoQualityFilter]]'s. */
  def applyNbPareto(df: DataFrame, idCol: String, textCol: String,
                    weights: DataFrame): DataFrame = {
    val feats = hashedFeatures(df, idCol, textCol)
    val scored = feats.join(broadcast(weights), Seq("bucket"), "left")
      .groupBy("id")
      .agg(count(col("w")).as("n_feat"),
        sum(col("w")).as("__sw"))
      .select(col("id"), col("n_feat"),
        when(col("n_feat") > 0, round(col("__sw") / col("n_feat"), 6))
          .otherwise(lit(0.0)).as("score_r"))
    val prob = round(lit(1.0) / (lit(1.0) + exp(-col("score_r"))), 6)
    val u = (TextFns.hash32(concat(col("id").cast(StringType), lit("|u"))) % 1000000)
      .cast(DoubleType) / lit(1000000.0)
    scored.withColumn("prob_r", prob).withColumn("u", u)
      .withColumn("kept", paretoKeep(col("prob_r"), col("u")))
  }

  /** keep ⟺ Pareto(α=9) draw > 1 − s ⟺ u > 1 − (2−s)^{−9}, the
    * square-and-multiply chain (p²)²·(p²)²·… so both engines evaluate the
    * identical IEEE op sequence — no libm pow at the decision boundary.
    * Exposed for the oracle twin to mirror term-for-term. */
  def paretoKeep(s: Column, u: Column): Column = {
    val p = lit(2.0) - s
    val p2 = p * p
    val p4 = p2 * p2
    val p8 = p4 * p4
    val p9 = p8 * p
    u > lit(1.0) - lit(1.0) / p9
  }
}
