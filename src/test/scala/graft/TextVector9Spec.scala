package graft

import org.apache.spark.sql.functions._

/** Construction pins for the round-8 continuation batch (the DuckDB
  * oracle owns value parity; these pin the structural claims each
  * scaladoc makes, at sf0.001). */
class TextVector9Spec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("leakageSafeSplit: the split is a pure function of the group key " +
    "(no group ever straddles splits) and carves 100 buckets exactly") {
    val df = (0 until 400).map(i => (i.toLong, s"g${i % 37}")).toDF("id", "g")
    val out = graft.operators.Splits.leakageSafeSplit(df, col("g"))
    // group-atomicity: one distinct (bucket, split) pair per group
    val perGroup = out.groupBy("g")
      .agg(countDistinct("split_bucket").as("nb"), countDistinct("split").as("ns"))
      .agg(max("nb"), max("ns")).head()
    assert(perGroup.getLong(0) == 1L && perGroup.getLong(1) == 1L,
      "every member of a group must receive the identical split")
    // carving: bucket < 80 -> train, < 90 -> val, else test — no other combo
    val bad = out.filter(
      (col("split_bucket") < 80 && col("split") =!= "train") ||
        (col("split_bucket") >= 80 && col("split_bucket") < 90 && col("split") =!= "val") ||
        (col("split_bucket") >= 90 && col("split") =!= "test")).count()
    assert(bad == 0L, "bucket carving must follow the documented ranges")
    assert(out.filter(col("split_bucket") < 0 || col("split_bucket") > 99).count() == 0L)
  }

  test("d60: injected twins share their original's cluster AND split; " +
    "realized fractions sit near 80/10/10") {
    val out = graft.queries.TextVector9.d60.fn(spark, dir)
      .select("doc_id", "grp_h", "n_in_group", "split").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val byId = out.map(t => t._1 -> t).toMap
    val twins = out.filter(_._1 >= 3000000000L)
    assert(twins.nonEmpty, "twin injection must produce rows")
    twins.foreach { case (id, grp, n, split) =>
      val orig = byId(id - 3000000000L)
      assert(orig._2 == grp && orig._4 == split,
        s"twin $id must share its original's cluster and split")
      assert(n >= 2, "twin clusters must be multi-member")
    }
    val frac = out.groupBy(_._4).view.mapValues(_.length.toDouble / out.length)
    // hash-carved groups at 500+ clusters: generous envelope, not exactness
    assert(frac("train") > 0.7 && frac("train") < 0.9, s"train frac ${frac("train")}")
  }

  test("globalPrefixSum: equals the naive single-partition exclusive cumsum, " +
    "weight≡1 recovers globalRowIds, null weights contribute 0") {
    import org.apache.spark.sql.expressions.Window
    val df = (0 until 500).map { i =>
      val w: java.lang.Long = if (i % 17 == 0) null else (i % 7 + 1).toLong
      (i.toLong, (i * 131 % 97).toLong, w)
    }.toDF("id", "k", "w")
    val got = graft.core.Indexing.globalPrefixSum(df, "k", "w", "ps",
      nBuckets = 8, tieBreak = Seq("id"))
    val naive = df.withColumn("ps_naive",
      coalesce(sum("w").over(Window.orderBy(col("k").asc_nulls_first, col("id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    assert(got.join(naive, Seq("id", "k", "w"))
      .filter(col("ps") =!= col("ps_naive")).count() == 0L)
    assert(got.count() == 500L, "none dropped, none duplicated")
    // weight ≡ 1: prefix sum == globalRowIds' id
    val ones = df.withColumn("one", lit(1L))
    val viaSum = graft.core.Indexing.globalPrefixSum(ones, "k", "one", "ps",
      tieBreak = Seq("id"))
    val viaIds = graft.core.Indexing.globalRowIds(ones, "k", "rid",
      tieBreak = Seq("id"))
    assert(viaSum.join(viaIds, Seq("id", "k"))
      .filter(col("ps") =!= col("rid")).count() == 0L)
  }

  test("d62: offsets reconstruct the token stream and both packing " +
    "polarities are present") {
    val rows = graft.queries.TextVector9.d62.fn(spark, dir)
      .select("n_toks", "tok_offset", "seq_start", "seq_end", "n_seqs")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // the offsets are a permutation-consistent layout: sorted by offset,
    // each doc starts exactly where the previous ended
    val sorted = rows.sortBy(_._2)
    sorted.sliding(2).foreach {
      case Array((n1, o1, _, _, _), (_, o2, _, _, _)) =>
        assert(o2 == o1 + n1, "docs must tile the stream with no gap/overlap")
      case _ =>
    }
    assert(sorted.head._2 == 0L, "the stream starts at offset 0")
    rows.foreach { case (n, o, s0, s1, ns) =>
      assert(s0 == o / 128 && s1 == (o + n - 1) / 128 && ns == s1 - s0 + 1)
    }
    assert(rows.exists(_._5 == 1L) && rows.exists(_._5 >= 2L),
      "fixture must contain within-sequence docs AND boundary-straddling docs")
  }

  test("unimaxAllocation: water-filling invariants + d63 polarity span") {
    import graft.operators.Mixture.unimaxAllocation
    // hand case: caps (4,8,40) budget 30 -> 4 capped, 8 capped, last gets 18
    val hand = unimaxAllocation(Seq(("a", 1L), ("b", 2L), ("c", 10L)), 30L)
    assert(hand == Seq(("a", 1L, 4L, true, 4L, 0L), ("b", 2L, 8L, true, 8L, 0L),
      ("c", 10L, 40L, false, 18L, 0L)))
    // remainder rule: budget 31 over two equal uncapped groups after one cap
    val rem = unimaxAllocation(Seq(("a", 1L), ("b", 10L), ("c", 10L)), 31L)
    assert(rem.map(_._5) == Seq(4L, 14L, 13L),
      "first uncapped in (cap, key) order takes the extra token")
    // all-capped: surplus reported, never silently dropped
    val allCap = unimaxAllocation(Seq(("a", 1L), ("b", 2L)), 100L)
    assert(allCap.forall(_._4) && allCap.forall(_._6 == 100L - 12L))
    // invariants on randomized masses: alloc sums to budget (or caps+left),
    // uncapped alloc < own cap, capped set is a prefix of the cap order
    val masses = Seq(("g0", 3L), ("g1", 17L), ("g2", 5L), ("g3", 200L),
      ("g4", 41L), ("g5", 0L))
    for (b <- Seq(0L, 1L, 57L, 300L, 1063L, 5000L)) {
      val out = unimaxAllocation(masses, b)
      assert(out.map(_._5).sum + out.head._6 == b,
        s"budget $b must be fully accounted (alloc total + surplus)")
      // q < cap for every uncapped group; the remainder +1 can close the
      // gap exactly, so alloc ≤ cap (never exceeds)
      out.filter(!_._4).foreach(t => assert(t._5 <= t._3))
      val flags = out.map(_._4)
      assert(!flags.dropWhile(identity).contains(true), "capped is a prefix")
    }
    val d63rows = graft.queries.TextVector9.d63.fn(spark, dir).collect()
    assert(d63rows.exists(_.getBoolean(3)) && d63rows.exists(!_.getBoolean(3)),
      "d63 fixture must exercise capped AND uncapped sources")
    assert(d63rows.forall(_.getLong(5) == 0L),
      "d63's budget < sum of caps, so no surplus leaks")
  }

  test("d61: the fixture exercises every epoch polarity and the allocation " +
    "arithmetic holds row-wise") {
    val rows = graft.queries.TextVector9.d61.fn(spark, dir)
      .select("unique_tokens", "target_tokens", "epochs", "allocated_tokens",
        "shortfall_tokens")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val epochs = rows.map(_._3).toSet
    assert(epochs.contains(1L) && epochs.contains(4L) && epochs.exists(e => e > 1L && e < 4L),
      s"fixture must span 1-epoch, intermediate, and 4-capped sources; got $epochs")
    assert(rows.exists(_._5 > 0L), "some 4-capped source must carry a real shortfall")
    rows.foreach { case (u, t, e, a, sf) =>
      assert(e == math.min(4L, (t + u - 1) / u), "epochs rule")
      assert(a == math.min(t, e * u), "allocation rule")
      assert(sf == t - a && sf >= 0L, "shortfall rule")
      assert(e < 4L || a == math.min(t, 4L * u), "cap binds only at 4")
      if (e < 4L) assert(sf == 0L, "an uncapped source meets its target")
    }
  }
}
