package graft

import org.apache.spark.sql.functions._
import graft.operators.{Classifier, Mixture, Similarity}

/** Specs for the ninth coverage batch: token-budgeted mixture selection,
  * the GPT-3 Pareto quality filter, and product quantization. */
class TextVector6Spec extends SparkSpec {
  import spark.implicits._

  // --- tokenBudgetSelect ---------------------------------------------------

  private def mixDocs = (1L to 300L).map { i =>
    val grp = if (i % 3 == 0) "web" else if (i % 3 == 1) "wiki" else "code"
    (i, grp, 10L + i % 7)
  }.toDF("doc_id", "domain", "n_tokens")

  test("tokenBudgetSelect: budget above the group's mass keeps everything, " +
    "budget 0 keeps nothing") {
    val budgets = Seq(("web", 100000L), ("wiki", 0L), ("code", 100000L))
      .toDF("g", "b")
    val kept = Mixture.tokenBudgetSelect(mixDocs, "domain", "doc_id",
      "n_tokens", budgets)
    val byG = kept.groupBy("domain").count().as[(String, Long)].collect().toMap
    assert(byG("web") == 100 && byG("code") == 100)
    assert(!byG.contains("wiki"))
  }

  test("tokenBudgetSelect: kept mass lands within one bucket of the budget " +
    "and is deterministic") {
    val budgets = Seq(("web", 500L), ("wiki", 500L), ("code", 500L)).toDF("g", "b")
    def run() = Mixture.tokenBudgetSelect(mixDocs, "domain", "doc_id",
      "n_tokens", budgets)
    val kept = run()
    val mass = kept.groupBy("domain").agg(sum("n_tokens").as("m"))
      .as[(String, Long)].collect().toMap
    // every group has SOME fill, reaches the budget, and overshoots by at
    // most one bucket's mass (≤ a handful of docs at 1000 buckets)
    mass.values.foreach { m => assert(m >= 500 && m <= 500 + 100) }
    assert(run().select("doc_id").as[Long].collect().sorted
      .sameElements(kept.select("doc_id").as[Long].collect().sorted))
  }

  test("tokenBudgetSelect: NULL and unbudgeted groups are dropped (the " +
    "documented semi-join contract), budgeted groups unaffected") {
    val docs = Seq((1L, "web", 10L), (2L, null, 10L), (3L, "unlisted", 10L),
      (4L, "web", 10L)).toDF("doc_id", "domain", "n_tokens")
    val budgets = Seq(("web", 1000L)).toDF("g", "b")
    val kept = Mixture.tokenBudgetSelect(docs, "domain", "doc_id",
      "n_tokens", budgets).select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(1L, 4L)))
  }

  test("tokenBudgetSelect: a doc's fate is independent of other groups' budgets") {
    val b1 = Seq(("web", 500L), ("wiki", 500L), ("code", 500L)).toDF("g", "b")
    val b2 = Seq(("web", 500L), ("wiki", 99999L), ("code", 1L)).toDF("g", "b")
    def webIds(b: org.apache.spark.sql.DataFrame) =
      Mixture.tokenBudgetSelect(mixDocs, "domain", "doc_id", "n_tokens", b)
        .filter(col("domain") === "web").select("doc_id").as[Long].collect().sorted
    assert(webIds(b1).sameElements(webIds(b2)))
  }

  // --- paretoQualityFilter -------------------------------------------------

  private def qualityDocs = (1L to 400L).map { i =>
    val pos = i % 2 == 0
    // positives share a distinctive vocabulary, negatives another
    val text = if (pos) s"curated encyclopedia article number $i with citations"
    else s"spam spam click here buy now offer $i"
    (i, pos, text)
  }.toDF("id", "pos", "text")

  test("paretoQualityFilter: positives score higher and survive more often") {
    val out = Classifier.paretoQualityFilter(qualityDocs, "id", "text",
      col("pos")).cache()
    val agg = out.join(qualityDocs.select("id", "pos"), "id")
      .groupBy("pos").agg(avg("score_r").as("s"),
        avg(col("kept").cast("double")).as("kr"))
      .as[(Boolean, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(agg(true)._1 > agg(false)._1, "positive mean score must be higher")
    assert(agg(true)._2 > agg(false)._2, "positive keep-rate must be higher")
    // the low-end TAIL survival probability here is (2-s)^-9 ≈ 1/500 per
    // doc — with 200 negatives, zero survivors is the expected draw; the
    // tail behavior itself is pinned by the closed-form grid test below
    out.unpersist()
  }

  test("paretoQualityFilter: u is a unit draw, prob a probability, verdict " +
    "reproducible") {
    def run() = Classifier.paretoQualityFilter(qualityDocs, "id", "text", col("pos"))
    val rows = run().select("u", "prob_r", "kept").collect()
    rows.foreach { r =>
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) < 1.0)
      assert(r.getDouble(1) > 0.0 && r.getDouble(1) < 1.0)
    }
    assert(run().filter(col("kept")).count() == rows.count(_.getBoolean(2)))
  }

  test("paretoKeep matches the closed-form acceptance probability (2-s)^-9") {
    // s = 0.5 → P(keep) = 1.5^-9 ≈ 0.0260123...; sweep u on a fine grid and
    // check the indicator flips exactly at 1 - (2-s)^-9
    val grid = (0 until 10000).map(i => (i / 10000.0, 0.5)).toDF("u", "s")
    val kept = grid.withColumn("k", Classifier.paretoKeep(col("s"), col("u")))
      .filter(col("k")).count()
    val expect = math.pow(1.5, -9)
    assert(math.abs(kept / 10000.0 - expect) < 2e-4)
  }

  // --- d49/d50 query-level behavior ---------------------------------------

  test("d50 C4 rules: each rule fires on its crafted offender and a clean " +
    "doc passes") {
    val dir = java.nio.file.Files.createTempDirectory("c4docs").toString
    Seq(
      (1L, "One good sentence. Another one follows! A third ends it?", "en", "src0", 1L),
      (2L, "Too short. Really.", "en", "src0", 1L),
      (3L, "This has lorem ipsum filler. More text here. And more still.", "en", "src0", 1L),
      (4L, "Code block { int x = 1; } inside. Two more. Sentences here.", "en", "src0", 1L),
      (5L, "Please enable JavaScript to view. Second sentence. Third one.", "en", "src0", 1L),
      (6L, "Contains badword2 sadly. Second sentence. Third sentence.", "en", "src0", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.TextVector6.d50.fn(spark, dir)
      .select("doc_id", "c4_pass").as[(Long, Boolean)].collect().toMap
    assert(out(1L)); assert(!out(2L)); assert(!out(3L))
    assert(!out(4L)); assert(!out(5L)); assert(!out(6L))
  }

  test("d50's per-rule c4_pass equals the shared TextFns.c4Pass predicate " +
    "row-for-row (the d54 composition uses the shared form)") {
    val texts = Seq(
      "One good sentence. Another one follows! A third ends it?",
      "Too short. Really.",
      "lorem ipsum here. And more. And more still.",
      "code { x } here. Two. Three.",
      "javascript required. Two. Three.",
      "badword3 present. Two. Three.",
      "no punctuation at all",
      "") // empty
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val both = df.select(col("id"),
      graft.functions.TextFns.c4Pass(col("t")).as("shared"),
      (graft.functions.TextFns.c4SentenceCount(col("t")) >= 3 &&
        !lower(col("t")).contains("lorem ipsum") && !col("t").contains("{") &&
        !lower(col("t")).contains("javascript") &&
        !graft.functions.TextFns.c4Badwords.map(w => lower(col("t")).contains(w))
          .reduce(_ || _)).as("d50form"))
    assert(both.filter(col("shared") =!= col("d50form")).count() == 0)
    // and the rules actually discriminate on this fixture
    assert(both.filter(col("shared")).count() == 1)
  }

  test("d49 perplexity terciles: buckets are balanced and ordered by model " +
    "fit (head's mean logp >= tail's)") {
    val out = graft.queries.TextVector6.d49.fn(spark, "/root/testdata/sf0.001")
      .groupBy("bucket").agg(count(lit(1)).as("n"), avg("logp_r").as("m"))
      .as[(String, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(Set("head", "middle", "tail").subsetOf(out.keySet))
    val sizes = out.values.map(_._1)
    assert(sizes.max - sizes.min <= 1, "ntile terciles must be balanced")
    assert(out("head")._2 >= out("middle")._2 && out("middle")._2 >= out("tail")._2)
  }

  // --- product quantization ------------------------------------------------

  /** 2 subspaces × 2 codewords × 2 dims — tiny codebook for exact checks. */
  private val tinyCb: Array[Array[Array[Double]]] = Array(
    Array(Array(0.0, 0.0), Array(1.0, 1.0)),
    Array(Array(2.0, 2.0), Array(3.0, 3.0)))

  test("pqEncode: a vector assembled from codewords encodes to exactly " +
    "those codewords; ties break to the lowest index") {
    val corpus = Seq(
      (1L, Seq(0.0f, 0.0f, 3.0f, 3.0f)), // cw0 ++ cw1
      (2L, Seq(1.0f, 1.0f, 2.0f, 2.0f)), // cw1 ++ cw0
      (3L, Seq(0.5f, 0.5f, 2.5f, 2.5f))  // equidistant — lowest index wins
    ).toDF("id", "vec")
    val codes = Similarity.pqEncode(corpus, "id", "vec", tinyCb)
      .orderBy("id").select("codes").as[Seq[Int]].collect()
    assert(codes(0) == Seq(0, 1))
    assert(codes(1) == Seq(1, 0))
    assert(codes(2) == Seq(0, 0))
  }

  test("pqAdcTopK: when corpus vectors sit ON codewords, ADC distance is " +
    "the exact squared distance and ranking matches brute force") {
    val corpus = Seq(
      (1L, Seq(0.0f, 0.0f, 2.0f, 2.0f)),
      (2L, Seq(1.0f, 1.0f, 3.0f, 3.0f)),
      (3L, Seq(1.0f, 1.0f, 2.0f, 2.0f))).toDF("id", "vec")
    val enc = Similarity.pqEncode(corpus, "id", "vec", tinyCb)
    val q = Seq((99L, Seq(0.0f, 0.0f, 2.0f, 2.0f))).toDF("query_id", "qv")
    val top = Similarity.pqAdcTopK(q, enc, tinyCb, 3)
      .orderBy("rank").select("neighbor_id", "adc").as[(Long, Double)].collect()
    assert(top(0) == (1L, 0.0)) // identical vector
    assert(top(1) == (3L, 2.0)) // differs by cw0→cw1 in subspace 0
    assert(top(2) == (2L, 4.0)) // differs in both subspaces
  }

  test("ivfAdcTopK: one coarse cell reduces exactly to pqAdcTopK on centered " +
    "vectors; multi-cell search returns neighbors only from probed cells") {
    val corpus = Seq(
      (1L, Seq(0.2f, 0.1f, 2.2f, 2.1f)),
      (2L, Seq(1.1f, 0.9f, 3.0f, 3.2f)),
      (3L, Seq(0.9f, 1.2f, 2.0f, 1.8f)),
      (4L, Seq(0.0f, 0.4f, 2.9f, 3.1f))).toDF("id", "vec")
    val q = Seq((99L, Seq(0.1f, 0.2f, 2.1f, 2.0f))).toDF("query_id", "qv")
    val center = Seq(1.0, 1.0, 1.0, 1.0)
    val c1 = Seq((0L, center)).toDF("centroid_id", "centroid_vec")
    val cells1 = Similarity.assignCells(corpus, c1, "id", "vec")
    val got = Similarity.ivfAdcTopK(q, cells1, c1, tinyCb, k = 4, nProbe = 1)
      .select("query_id", "neighbor_id", "adc", "rank")
    // the same search with the coarse step factored out by hand: residuals
    // are (v - center) in the identical float->double-then-subtract
    // arithmetic, so codes, LUT, and ADC folds must agree BIT-FOR-BIT
    def shift(vc: org.apache.spark.sql.Column) =
      zip_with(vc.cast("array<double>"), typedLit(center), (a, b) => a - b)
    val want = Similarity.pqAdcTopK(
      q.select(col("query_id"), shift(col("qv")).as("qv")),
      Similarity.pqEncode(
        corpus.select(col("id"), shift(col("vec")).as("vec")), "id", "vec", tinyCb),
      tinyCb, 4)
      .select("query_id", "neighbor_id", "adc", "rank")
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "single-cell IVFADC must equal plain ADC over centered vectors")
    // structural restriction: with two cells and nProbe = 1, every returned
    // neighbor must come from the query's single probed (nearest) cell
    val c2 = Seq((0L, Seq(0.0, 0.0, 2.0, 2.0)), (1L, Seq(1.0, 1.0, 3.0, 3.0)))
      .toDF("centroid_id", "centroid_vec")
    val cells2 = Similarity.assignCells(corpus, c2, "id", "vec")
    val multi = Similarity.ivfAdcTopK(q, cells2, c2, tinyCb, k = 4, nProbe = 1)
    val probedCells = multi.select("centroid_id").distinct().as[Long].collect()
    assert(probedCells.length == 1,
      "nProbe=1 must restrict all neighbors to one coarse cell")
    val members = cells2.filter(col("centroid_id") === probedCells.head)
      .select("id").as[Long].collect().toSet
    val returned = multi.select("neighbor_id").as[Long].collect().toSet
    assert(returned.nonEmpty && returned.subsetOf(members),
      "every returned neighbor must live in the probed cell")
  }

  test("kmeansCentroids: an all-identical corpus (1 distinct point) returns " +
    "that single vector instead of crashing MLlib's k>1 trainer") {
    val corpus = (1 to 20).map(i => (i.toLong, Seq(1.0f, 2.0f, 3.0f, 4.0f)))
      .toDF("id", "vec")
    val c = Similarity.kmeansCentroids(corpus, "vec", k = 5)
      .select("centroid_vec").as[Seq[Double]].collect()
    assert(c.length == 1 && c.head == Seq(1.0, 2.0, 3.0, 4.0))
  }

  test("pqTrain: subspaces with fewer distinct subvectors than k clamp " +
    "instead of crashing (the low-dim collapse case)") {
    // subspace 0 has 2 distinct subvectors, subspace 1 has 4 — k=4 forces
    // the guarded refit in subspace 0 only
    val corpus = (0 until 100).map { i =>
      val a = (i % 2).toFloat; val b = (i % 4).toFloat
      (i.toLong, Seq(a, a, b, b))
    }.toDF("id", "vec")
    val cb = Similarity.pqTrain(corpus, "vec", dim = 4, m = 2, k = 4)
    assert(cb(0).length == 2 && cb(1).length == 4)
  }

  test("pqTrain: codebook shape is m x k x dim/m and encoding covers all " +
    "codewords on a separable corpus") {
    val corpus = (0 until 200).map { i =>
      val base = (i % 4).toFloat * 10f
      (i.toLong, Seq(base, base + 1f, -base, -base - 1f))
    }.toDF("id", "vec")
    val cb = Similarity.pqTrain(corpus, "vec", dim = 4, m = 2, k = 4)
    assert(cb.length == 2 && cb.forall(_.length == 4) &&
      cb.forall(_.forall(_.length == 2)))
    val used = Similarity.pqEncode(corpus, "id", "vec", cb)
      .select(explode(col("codes"))).distinct().count()
    assert(used == 4, "4 well-separated clusters must use all 4 codewords")
  }
}
