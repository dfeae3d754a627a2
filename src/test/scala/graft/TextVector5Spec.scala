package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Mixture}

/** SemDeDup and temperature-mixture resampling — the eighth coverage
  * batch's operator-level pins (d41/d42 carry the cross-engine oracles). */
class TextVector5Spec extends SparkSpec {
  import spark.implicits._

  /** Two well-separated anchor directions in 4-d, members built by exact
    * arithmetic so cluster assignment and pairwise cosines are knowable. */
  private def fixture = Seq(
    // cluster around e1: ids 1,2 are an exact-duplicate direction (cos 1),
    // id 3 is orthogonal-ish within the cluster
    (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Seq(2.0f, 0.0f, 0.0f, 0.0f)),
    (3L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
    // cluster around e3: ids 11,12 duplicates of each other
    (11L, Seq(0.0f, 0.0f, 1.0f, 0.1f)),
    (12L, Seq(0.0f, 0.0f, 1.0f, 0.1f)),
    (13L, Seq(0.0f, 0.1f, 0.9f, 0.0f))
  ).toDF("vec_id", "embedding")

  private def anchors = Seq(
    (100L, Seq(1.0, 0.0, 0.0, 0.0)),
    (200L, Seq(0.0, 0.0, 1.0, 0.0))
  ).toDF("centroid_id", "centroid_vec")

  test("semDeDup assigns members to the nearest anchor") {
    val out = Dedup.semDeDup(fixture, "vec_id", "embedding", anchors, 0.999)
      .select("id", "centroid_id").as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L).forall(out(_) == 100L))
    assert(Seq(11L, 12L, 13L).forall(out(_) == 200L))
  }

  test("semDeDup keeper: within a duplicate pair the lower centroid-sim " +
    "member survives; id breaks exact ties") {
    val out = Dedup.semDeDup(fixture, "vec_id", "embedding", anchors, 0.999)
      .select("id", "dropped").as[(Long, Boolean)].collect().toMap
    // ids 1,2: identical direction, both cos=1 to the anchor → tie on sim,
    // id 1 < id 2 so 1 survives, 2 drops
    assert(!out(1L) && out(2L))
    // ids 11,12: identical vectors, equidistant → 11 survives, 12 drops
    assert(!out(11L) && out(12L))
    // the non-duplicate members survive
    assert(!out(3L) && !out(13L))
    assert(out.size == 6, "one verdict row per input doc")
  }

  test("semDeDup at a loose threshold drops the higher-sim member of " +
    "every qualifying pair (paper keeper, not min-id)") {
    // threshold 0.9 pulls 3 into the {1,2} dup group: cos(1,3)=0.9939.
    // sims to anchor: 1→1.0, 2→1.0, 3→0.9939 — 3 has the LOWEST sim, so
    // with the paper keeper 3 survives while 1 and 2 both lose to it.
    val out = Dedup.semDeDup(fixture, "vec_id", "embedding", anchors, 0.9)
      .select("id", "dropped").as[(Long, Boolean)].collect().toMap
    assert(!out(3L), "lowest centroid-sim member survives")
    assert(out(2L), "higher-sim member drops")
    assert(out(1L), "even the min id drops when a lower-sim partner exists")
  }

  test("semDeDup is deterministic across runs") {
    val a = Dedup.semDeDup(fixture, "vec_id", "embedding", anchors, 0.9)
      .orderBy("id").collect().toSeq
    val b = Dedup.semDeDup(fixture, "vec_id", "embedding", anchors, 0.9)
      .orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("temperatureRates: alpha=1 keeps every group at the target fraction") {
    val rates = Mixture.temperatureRates(
      Seq(("en", 800L), ("de", 150L), ("zh", 50L)), alpha = 1.0,
      targetFraction = 0.5).toMap
    // n^1 weights reproduce each group's own share → rate = target for all
    assert(rates.values.forall(_ == 5000L))
  }

  test("temperatureRates: alpha=0 is the equal-quota limit (d37)") {
    val rates = Mixture.temperatureRates(
      Seq(("en", 800L), ("de", 100L), ("zh", 100L)), alpha = 0.0,
      targetFraction = 0.3).toMap
    // equal quotas: 300 docs total target → 100 per group; small groups
    // keep everything (capped at 10000), the big one keeps 100/800
    assert(rates("de") == 10000L && rates("zh") == 10000L)
    assert(rates("en") == 1250L)
  }

  test("temperatureRates: alpha=0.5 flattens the head without erasing it") {
    val rates = Mixture.temperatureRates(
      Seq(("en", 6400L), ("de", 1600L), ("zh", 100L)), alpha = 0.5,
      targetFraction = 0.5).toMap
    // sqrt weights: 80:40:10 → en keeps less than its raw share, zh more
    assert(rates("en") < 5000L, s"head must downsample, got ${rates("en")}")
    assert(rates("zh") == 10000L, s"tail saturates, got ${rates("zh")}")
    assert(rates("en") < rates("de") && rates("de") < rates("zh"))
  }

  test("temperatureRates folds the denominator in sorted-key order " +
    "regardless of input order") {
    val a = Mixture.temperatureRates(
      Seq(("a", 31L), ("b", 57L), ("c", 911L)), 0.5, 0.4)
    val b = Mixture.temperatureRates(
      Seq(("c", 911L), ("a", 31L), ("b", 57L)), 0.5, 0.4)
    assert(a == b)
  }

  test("temperatureResample keeps exactly the md5-bucket subset its rate " +
    "table implies, deterministically") {
    val docs = (1L to 400L).map(i =>
      (i, if (i % 4 == 0) "de" else "en", i % 7)).toDF("doc_id", "lang", "x")
    val kept = Mixture.temperatureResample(docs, "lang", "doc_id", 0.5, 0.5)
    val again = Mixture.temperatureResample(docs, "lang", "doc_id", 0.5, 0.5)
    assert(kept.orderBy("doc_id").collect().toSeq ==
      again.orderBy("doc_id").collect().toSeq)
    // independent reconstruction: same rates + same bucket rule
    val rates = Mixture.temperatureRates(
      Seq(("de", 100L), ("en", 300L)), 0.5, 0.5).toMap
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 10000
    val expected = docs
      .withColumn("b", bucket)
      .filter(when(col("lang") === "de", col("b") < rates("de"))
        .otherwise(col("b") < rates("en")))
      .select("doc_id").as[Long].collect().toSet
    assert(kept.select("doc_id").as[Long].collect().toSet == expected)
    // and the target budget is honored approximately (hash granularity)
    assert(math.abs(kept.count() - 200L) < 40L)
  }

  test("temperatureResample accepts a non-string group column (int domain " +
    "id) and matches the stringified-key run") {
    val docs = (1L to 400L).map(i =>
      (i, if (i % 4 == 0) 7 else 3)).toDF("doc_id", "domain")
    val byInt = Mixture.temperatureResample(docs, "domain", "doc_id", 0.5, 0.5)
    val byStr = Mixture.temperatureResample(
      docs.withColumn("domain", col("domain").cast("string")),
      "domain", "doc_id", 0.5, 0.5)
    assert(byInt.select("doc_id").as[Long].collect().toSet ==
      byStr.select("doc_id").as[Long].collect().toSet)
    assert(byInt.count() > 0)
  }

  test("temperatureResample drops NULL groups and keeps them distinct " +
    "from a literal 'null' string group (no rate-key collision fanout)") {
    val docs = (1L to 200L).map(i => (i, i % 3 match {
      case 0 => null; case 1 => "null"; case _ => "en"
    })).toDF("doc_id", "lang")
    val kept = Mixture.temperatureResample(docs, "lang", "doc_id", 0.5, 0.5)
    // no row fanout: every kept doc_id appears exactly once
    val ids = kept.select("doc_id").as[Long].collect()
    assert(ids.length == ids.distinct.length, "rate-key collision fanout")
    // NULL-group docs are never kept (they cannot match the rate join)
    assert(kept.filter(col("lang").isNull).count() == 0)
    // the literal "null" string group resamples normally
    assert(kept.filter(col("lang") === "null").count() > 0)
  }

  test("exactSubstringRemoval cuts later occurrences of a shared run, " +
    "keeps the first, and leaves short docs untouched") {
    val shared = (1 to 20).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"$shared tail1 tail2"),          // first occurrence -> kept
      (2L, s"head1 head2 $shared tail3"),    // later occurrence -> removed
      (3L, "tiny doc under twenty tokens"),  // no windows -> untouched
      (4L, shared)                           // exact window, later -> emptied
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstringRemoval(docs, "doc_id", "text")
      .select("id", "n_tokens", "n_removed", "cleaned_text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._3 == 0 && out(1L)._4 == s"$shared tail1 tail2")
    assert(out(2L)._3 == 20 && out(2L)._4 == "head1 head2 tail3")
    assert(out(3L)._3 == 0 && out(3L)._4 == "tiny doc under twenty tokens")
    assert(out(4L)._3 == 20 && out(4L)._4 == "")
  }

  test("exactSubstringRemoval merges overlapping duplicated spans " +
    "instead of double-counting") {
    // doc 2 contains a 22-token run shared with doc 1: three overlapping
    // duplicated windows whose union is 22 tokens, not 60
    val run = (1 to 22).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, s"$run x1 x2"),
      (2L, s"pre1 $run post1")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstringRemoval(docs, "doc_id", "text")
      .select("id", "n_removed", "cleaned_text")
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == 0)
    assert(out(2L)._2 == 22, s"expected the merged 22-token span, got ${out(2L)._2}")
    assert(out(2L)._3 == "pre1 post1")
  }

  test("dsirLogWeights ranks target-like docs above off-target docs") {
    // two disjoint vocabularies; targets use the 'aa..' one
    val docs = Seq(
      (1L, "aa bb cc aa bb cc aa bb", true),
      (2L, "bb cc aa bb cc aa bb cc", true),
      (3L, "aa bb cc aa bb cc cc aa", false), // target-like but unlabeled
      (4L, "xx yy zz xx yy zz xx yy", false),
      (5L, "yy zz xx yy zz xx yy zz", false)
    ).toDF("doc_id", "text", "is_t")
    val w = Mixture.dsirLogWeights(docs, "doc_id", "text", col("is_t"))
      .select("id", "log_weight").as[(Long, Double)].collect().toMap
    // the unlabeled target-like doc outranks the off-target ones — the
    // whole point of importance weighting
    assert(w(3L) > w(4L) && w(3L) > w(5L),
      s"target-like doc must score higher: $w")
    assert(w(1L) > w(4L))
  }

  test("dsirLogWeights counts bigram occurrences and excludes " +
    "sub-bigram docs") {
    val docs = Seq(
      (1L, "a b c d", true),  // 3 bigrams
      (2L, "a", true),        // no bigrams -> excluded
      (3L, " x  y ", false)   // whitespace-robust: 1 bigram
    ).toDF("doc_id", "text", "is_t")
    val out = Mixture.dsirLogWeights(docs, "doc_id", "text", col("is_t"))
      .select("id", "n_bigrams").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 3L -> 1L))
  }
}
