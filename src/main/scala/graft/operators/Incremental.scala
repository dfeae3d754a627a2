package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.functions.TextFns

/** Incremental corpus curation — the reference's skip-existing / merge
  * orchestration (SURVEY §2.12 B2/B5/B7, reference `pipeline/build.py`
  * incremental task grid) applied to the d54 curation stack: a curated
  * store already exists, a batch of NEW documents arrives, and only the
  * batch is processed — at 100 TB the pipeline that re-curates the world
  * per increment is the one that never ships.
  *
  * The design constraint is DECISION STABILITY: nothing a later batch
  * contains may change a verdict already issued. Every stage is therefore
  * either stateless per-doc or keyed against FROZEN state:
  *
  *  - dedup: a batch doc is dropped iff its CCNet-normalized hash
  *    ([[TextFns.ccnetNormalize]], d51's key) appears in the store's seen
  *    set, or a lower-id doc in the same batch shares it. Incumbents
  *    always win — the store is never re-keyed. With batch ids strictly
  *    above store ids (append-only ingestion, the production case) this
  *    equals the global min-id keeper rule, which is what makes
  *    two-batch ≡ one-batch provable (IncrementalCurationSpec).
  *  - C4 gate: per-doc rules ([[TextFns.c4Pass]]) — stateless.
  *  - quality classifier: FROZEN hashed-NB weights
  *    ([[Classifier.trainNbWeights]] once, [[Classifier.applyNbPareto]]
  *    per batch) — GPT-3's classifier was trained once, not per crawl.
  *  - mixture: per-doc md5 fate against FROZEN per-lang basis-point rates
  *    ([[Mixture.temperatureRates]] over the store's language counts at
  *    freeze time). A language unseen at freeze time has no quota (rate
  *    0) until the state is re-frozen — quota drift is an explicit
  *    re-freeze, never a silent per-batch recomputation.
  *  - sharding: shard = md5(doc_id) mod nShards — STATELESS, unlike
  *    d52's position-interleave (equal ±1 but a global property: one new
  *    doc would reshuffle every existing shard assignment). Hash sharding
  *    is stable under increments at the cost of binomial (not exact ±1)
  *    shard balance — the right trade for an append-only store.
  *
  * Scale shape per batch: one normalize+hash scan, one semi-join against
  * the store hash set (shuffle on nh — the store side is pre-hashed and
  * can be bucketed by nh so increments co-locate), one within-batch
  * keeper shuffle, narrow per-doc gates, one broadcast weights join.
  * Nothing touches store rows except the (nh) key column.
  */
object Incremental {

  /** Frozen curation state. `storeHashes`: one `nh` column — the
    * normalized hash of EVERY doc ever seen (kept or dropped: a dup of a
    * dropped doc is still a dup). `clsWeights`: (bucket, w) from
    * [[Classifier.trainNbWeights]]; None disables the classifier stage.
    * `rates`: (lang, rate_bp) from [[Mixture.temperatureRates]].
    */
  final case class CurationState(storeHashes: DataFrame,
                                 clsWeights: Option[DataFrame],
                                 rates: Seq[(String, Long)],
                                 nShards: Int = 8)

  /** The d51/d54 dedup key: md5 of the CCNet-normalized text, NULL-safe
    * (a NULL text must still be attributed, not vanish through a
    * never-matching NULL key). */
  def normHash(text: Column): Column =
    md5(coalesce(TextFns.ccnetNormalize(text), lit("")))

  /** Stateless shard assignment (md5 of the id, `% nShards`). */
  def hashShard(idCol: Column, nShards: Int): Column =
    TextFns.hash32(idCol.cast(StringType)) % nShards

  /** Curate ONE batch against frozen state. `batch`: (doc_id, lang,
    * source, text). Returns one row per batch doc:
    * (doc_id, stage ∈ dedup|c4|classifier|mix|kept, shard — NULL unless
    * kept). Store rows are NOT re-emitted: their verdicts are immutable.
    */
  def curateBatch(batch: DataFrame, state: CurationState): DataFrame = {
    val withH = batch
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .withColumn("nh", normHash(col("text")))
      .localCheckpoint(false)
    val store = state.storeHashes.select(col("nh")).distinct()
    // incumbent check (semi-join flag) + within-batch min-id keeper
    val inStore = withH.join(store, Seq("nh"), "left_semi")
      .select(col("doc_id"), lit(true).as("in_store"))
    val keepers = withH.groupBy("nh").agg(min(col("doc_id")).as("keeper"))
    val s1 = withH
      .join(keepers, Seq("nh"))
      .join(inStore, Seq("doc_id"), "left")
      .withColumn("dedup_keep",
        col("in_store").isNull && col("doc_id") === col("keeper"))
      .localCheckpoint(false)
    val s2flag = s1.filter(col("dedup_keep"))
      .withColumn("c4_pass", TextFns.c4Pass(col("text")))
    val surv2 = s2flag.filter(col("c4_pass"))
      .select(col("doc_id"), col("lang"), col("text"))
      .localCheckpoint(false)
    // checkpointed: cls feeds the mixture-survivor chain AND the final
    // verdict join — un-checkpointed, the whole frozen-apply scoring plan
    // (including the weight-training subtree when the state carries a
    // lazy weights frame) executes once per consumer
    val cls = (state.clsWeights match {
      case Some(w) => Classifier.applyNbPareto(surv2, "doc_id", "text", w)
        .select(col("id").as("doc_id"), col("kept").as("cls_kept"))
      case None => surv2.select(col("doc_id"), lit(true).as("cls_kept"))
    }).localCheckpoint(false)
    val surv3 = surv2.join(cls, Seq("doc_id")).filter(col("cls_kept"))
      .select(col("doc_id"), col("lang"))
    // frozen-rate mixture fate: md5(doc_id) % 10000 < rate_bp[lang]
    // (Mixture.temperatureResample's exact fate convention); langs
    // without a frozen rate never match the join → dropped at 'mix'
    val spark = batch.sparkSession
    import spark.implicits._
    val rates = state.rates.toDF("__grp", "rate_bp")
    val fate = TextFns.hash32(col("doc_id").cast(StringType)) % 10000
    val mixFlag = surv3
      .join(broadcast(rates), col("lang").cast(StringType) === col("__grp"))
      .filter(fate < col("rate_bp"))
      .select(col("doc_id"), lit(true).as("mix_keep"))
    s1.select(col("doc_id"), col("dedup_keep"))
      .join(s2flag.select(col("doc_id"), col("c4_pass")), Seq("doc_id"), "left")
      .join(cls, Seq("doc_id"), "left")
      .join(mixFlag, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(!col("dedup_keep"), "dedup")
          .when(!col("c4_pass"), "c4")
          .when(!col("cls_kept"), "classifier")
          .when(col("mix_keep").isNull, "mix")
          .otherwise("kept").as("stage"),
        when(col("mix_keep").isNotNull,
          hashShard(col("doc_id"), state.nShards)).as("shard"))
  }
}
