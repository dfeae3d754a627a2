package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Classifier, Incremental, Mixture}

/** The incremental-curation contract: with frozen state (store hash set,
  * classifier weights, mixture rates) and append-only ingestion (batch-2
  * ids strictly above batch-1 ids), curating in two batches is EXACTLY
  * the one-batch run on the judged columns — the property that makes per-increment processing sound at
  * 100 TB, where re-curating the world per crawl is not an option.
  */
class IncrementalCurationSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val suffix = ". Extra sentence one! Extra sentence two? Extra three."

  /** Corpus with deterministic structure: punctuated-suffix variants (some
    * docs pass C4 and reach the classifier/mix/shard stages) plus +1e9
    * dup twins that all land in batch 2 under the id-threshold split —
    * cross-batch dups (twin of a batch-1 doc) must die against the store
    * hash set, within-batch dups (twin of a batch-2 doc) against the
    * min-id keeper. */
  private def corpus = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(suffix)))
          .otherwise(col("text")).as("text"))
    base.unionByName(base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000000L).as("doc_id"), col("lang"),
        col("source"), col("text")))
  }

  test("two-batch incremental run is exactly the one-batch run (frozen state)") {
    val docs = corpus.localCheckpoint(false)
    // freeze state once, from the full reference corpus — shared verbatim
    // by both runs (the production freeze-then-apply discipline)
    val weights = Classifier
      .trainNbWeights(docs, "doc_id", "text",
        col("source").isin("src0", "src1", "src2"))
      .localCheckpoint(false)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .filter(col("lang").isNotNull)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val rates = Mixture.temperatureRates(counts, alpha = 0.5, targetFraction = 0.5)
    val emptyStore = Seq.empty[String].toDF("nh")

    val oneBatch = Incremental.curateBatch(docs,
      Incremental.CurationState(emptyStore, Some(weights), rates))

    val threshold = 500000000L // below every +1e9 twin, above no base doc? no:
    // base ids are small; the twins all sit above the threshold, so batch 2
    // = (high-id base docs if any) + all twins. Split must satisfy the
    // append-only precondition: every batch-2 id > every batch-1 id.
    val b1 = docs.filter(col("doc_id") < threshold)
    val b2 = docs.filter(col("doc_id") >= threshold)
    assert(b1.count() > 0 && b2.count() > 0, "both batches must be non-empty")
    val r1 = Incremental.curateBatch(b1,
      Incremental.CurationState(emptyStore, Some(weights), rates))
    // the store's seen-set = EVERY batch-1 hash (kept or dropped)
    val store1 = b1.select(Incremental.normHash(col("text")).as("nh"))
    val r2 = Incremental.curateBatch(b2,
      Incremental.CurationState(store1, Some(weights), rates))

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "stage", "shard").collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val one = rows(oneBatch)
    val two = rows(r1) ++ rows(r2)
    assert(one == two,
      s"two-batch diverged: only-one=${(one -- two).take(5)} only-two=${(two -- one).take(5)}")

    // the equivalence must not be vacuous: every stage polarity present
    val stages = one.groupBy(_._2).map { case (k, v) => k -> v.size }
    info(s"stage counts: $stages")
    assert(stages.getOrElse("dedup", 0) > 0, "dedup surface empty")
    assert(stages.getOrElse("c4", 0) > 0, "c4 surface empty")
    assert(stages.getOrElse("kept", 0) > 0, "kept surface empty")
  }

  test("incumbents win: a batch doc duplicating the store dies at dedup even with a lower id") {
    val store = Seq((100L, "en", "src0", "same normalized text here"))
      .toDF("doc_id", "lang", "source", "text")
    val batch = Seq(
      (5L, "en", "src0", "same normalized text here"), // lower id than incumbent
      (6L, "en", "src0", "a genuinely new document"))
      .toDF("doc_id", "lang", "source", "text")
    val state = Incremental.CurationState(
      store.select(Incremental.normHash(col("text")).as("nh")),
      None, rates = Seq("en" -> 10000L))
    val out = Incremental.curateBatch(batch, state)
      .select("doc_id", "stage").as[(Long, String)].collect().toMap
    assert(out(5L) == "dedup", "store incumbency must beat a lower batch id")
    assert(out(6L) != "dedup")
  }
}
