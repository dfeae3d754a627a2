package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core.{SchemaOps, SeriesOps}
import graft.pipeline.TickerValidation

/** ScalaCheck-generated property tests for the invariants the reference
  * leaves implicit (SURVEY §5 item 2). Raw ScalaCheck generators with
  * seeded sampling (scalatestplus isn't in the offline cache); Spark jobs
  * per case are expensive, so each property samples a handful of cases. */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](gen: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  test("property: split adjust then un-adjust is identity") {
    val seriesGen = Gen.listOfN(6, Gen.choose(1, 1000).map(_ / 10.0))
    val ratioGen = Gen.listOfN(2, Gen.choose(2, 10).map(_ / 2.0))
    for ((values, ratios) <- samples(Gen.zip(seriesGen, ratioGen), 4)) {
      val divs = values.zipWithIndex.map { case (v, i) =>
        ("T", java.sql.Date.valueOf(f"2023-${i + 1}%02d-01"), v)
      }.toDF("ticker", "date", "dividend")
      val splits = ratios.zipWithIndex.map { case (r, i) =>
        ("T", java.sql.Date.valueOf(f"2023-${i * 2 + 2}%02d-15"), r)
      }.toDF("ticker", "date", "split_ratio")
      val adjusted = SeriesOps.adjustForSplits(divs, splits, Seq("ticker"),
        "date", "dividend", "split_ratio")
      val inverseSplits = splits.withColumn("split_ratio", lit(1.0) / col("split_ratio"))
      val roundTrip = SeriesOps.adjustForSplits(adjusted, inverseSplits, Seq("ticker"),
        "date", "dividend", "split_ratio")
        .orderBy("date").select("dividend").as[Double].collect()
      roundTrip.zip(values).foreach { case (got, want) =>
        assert(math.abs(got - want) < 1e-9 * math.max(1.0, want))
      }
    }
  }

  test("property: validator status is flagged iff violations nonempty") {
    for (ys <- samples(Gen.listOfN(4, Gen.choose(-2.0, 1000.0)), 5)) {
      val df = ys.zipWithIndex.map { case (y, i) =>
        ("T", java.sql.Date.valueOf(s"202$i-01-01"), y)
      }.toDF("ticker", "as_of", "dividend_yield")
      TickerValidation.validate(df)
        .select("validation_status", "violations").collect()
        .foreach { r =>
          assert((r.getString(0) == "flagged") == r.getString(1).nonEmpty)
        }
    }
  }

  test("property: unionHarmonized is count-additive and schema-idempotent") {
    for (xs <- samples(Gen.listOfN(3, Gen.choose(0, 100)), 3)) {
      val a = xs.map(x => (x, x.toDouble)).toDF("k", "v")
      val b = xs.map(x => (x.toLong, s"s$x")).toDF("k", "w")
      val u = SchemaOps.unionHarmonized(Seq(a, b))
      assert(u.count() == a.count() + b.count())
      val uu = SchemaOps.unionHarmonized(Seq(u, u))
      assert(uu.schema == u.schema)
      assert(uu.count() == 2 * u.count())
    }
  }

  test("property: keepLastBy is idempotent, one row per key, max-ord wins") {
    for (keys <- samples(Gen.nonEmptyListOf(Gen.choose(1, 5)), 5)) {
      val df = keys.zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "ord")
      val once = SeriesOps.keepLastBy(df, Seq("k"), Seq(col("ord")))
      assert(once.count() == keys.distinct.size)
      val twice = SeriesOps.keepLastBy(once, Seq("k"), Seq(col("ord")))
      assert(twice.orderBy("k").collect().toSeq == once.orderBy("k").collect().toSeq)
      val kept = once.select("k", "ord").as[(Int, Int)].collect().toMap
      keys.zipWithIndex.groupBy(_._1).foreach { case (k, rows) =>
        assert(kept(k) == rows.map(_._2).max)
      }
    }
  }

  test("property: jaccard is symmetric, bounded, 1 on self") {
    import graft.functions.{TextFns, TextExprs}
    val words = Gen.listOfN(8, Gen.oneOf("ab", "cd", "ef", "gh", "ij", "kl"))
    for ((w1, w2) <- samples(Gen.zip(words, words), 5)) {
      val df = Seq((w1.mkString(" "), w2.mkString(" "))).toDF("a", "b")
      val r = df.select(
        TextExprs.jaccardSim(TextFns.shingleSet(col("a"), 2),
          TextFns.shingleSet(col("b"), 2)).as("ab"),
        TextExprs.jaccardSim(TextFns.shingleSet(col("b"), 2),
          TextFns.shingleSet(col("a"), 2)).as("ba"),
        TextExprs.jaccardSim(TextFns.shingleSet(col("a"), 2),
          TextFns.shingleSet(col("a"), 2)).as("aa")).collect()(0)
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
      assert(r.getDouble(2) == 1.0)
    }
  }

  test("property: stored eic is raw when below cap, +inf otherwise (V4 invariant)") {
    val cases = samples(Gen.zip(Gen.choose(-5000.0, 5000.0), Gen.choose(1.0, 50.0)), 6)
    for ((ebit, interest) <- cases) {
      val inc = Seq(("T", java.sql.Date.valueOf("2023-12-31"), ebit, interest, 0.0))
        .toDF("ticker", "date", "incomeBeforeTax", "interestExpense",
          "depreciationAndAmortization")
      val bal = Seq(("T", java.sql.Date.valueOf("2023-12-31"), 0.0, 0.0))
        .toDF("ticker", "date", "cashAndShortTermInvestments", "totalDebt")
      val grid = Seq(("T", java.sql.Date.valueOf("2024-01-01"))).toDF("ticker", "as_of")
      val stored = graft.features.TickerFeatures.fundamentalsBlock(grid, inc, bal)
        .select("ebit_interest_cover").collect()(0).getDouble(0)
      val raw = ebit / interest
      assert(stored == raw || stored.isPosInfinity)
    }
  }

  test("property: kmv sketch is exact below k, partition-invariant, and duplicate-blind") {
    import graft.functions.{KmvAgg, TextFns}
    val gen = Gen.zip(Gen.choose(1, 120), Gen.choose(1, 4))
    for ((n, reps) <- samples(gen, 5)) {
      // n distinct values, each repeated `reps` times, k = 64
      val df = (1 to n).flatMap(i => Seq.fill(reps)(("g", i.toLong))).toDF("g", "v")
      def est(parts: Int): Double = df.repartition(parts).groupBy("g")
        .agg(KmvAgg.kmvDistinct(TextFns.hash32(col("v").cast("string")), 64).as("e"))
        .select("e").as[Double].head()
      val one = est(1)
      assert(est(7) == one, s"n=$n reps=$reps: merge path diverged")
      if (n < 64) assert(one == n.toDouble, s"n=$n below k must be exact")
      else assert(one > 0.0)
    }
  }

  test("property: globalRowIds equals naive row_number for random keys/nulls/buckets") {
    import org.apache.spark.sql.expressions.Window
    val rowsGen = Gen.listOfN(60,
      Gen.zip(Gen.option(Gen.choose(-50L, 50L)), Gen.choose(0L, 1000000L)))
    val bucketsGen = Gen.oneOf(1, 2, 7, 64)
    for (((rows0, nBuckets), i) <- samples(Gen.zip(rowsGen, bucketsGen), 4).zipWithIndex) {
      // unique tie-break per row (scalacheck may duplicate the pair)
      val rows = rows0.zipWithIndex.map { case ((k, _), j) => (k, j.toLong) }
      val df = rows.toDF("k", "tb")
      val got = graft.core.Indexing.globalRowIds(df, "k", "rid",
        nBuckets = nBuckets, tieBreak = Seq("tb"))
      val want = df.withColumn("rid",
        row_number().over(Window.orderBy(col("k").asc_nulls_first, col("tb"))) - 1)
      assert(got.select("k", "tb", "rid").except(want.select("k", "tb", "rid")).isEmpty &&
        want.select("k", "tb", "rid").except(got.select("k", "tb", "rid")).isEmpty,
        s"case $i (nBuckets=$nBuckets) diverged from row_number")
    }
  }

  test("property: globalNtile equals window ntile for random sizes/tiles/direction") {
    import org.apache.spark.sql.expressions.Window
    val caseGen = Gen.zip(
      Gen.choose(1, 80),            // row count (may be < nTiles)
      Gen.oneOf(1, 3, 10, 17),      // tiles: divisible and not
      Gen.oneOf(true, false),       // descending
      Gen.oneOf(2, 8))              // buckets
    for (((n, tiles, desc, buckets), i) <- samples(caseGen, 5).zipWithIndex) {
      // duplicated keys (k mod 7) force tie-break ordering through fills;
      // null and NaN rows pin the descending path's null<->NaN transposition
      // (desc_nulls_last with NaN greatest — the subtlest branch)
      val df = (1 to n).map { j =>
        val k: Option[Double] =
          if (j % 11 == 0) None
          else if (j % 13 == 0) Some(Double.NaN)
          else Some((j % 7).toDouble)
        (k, j.toLong)
      }.toDF("k", "tb")
      val got = graft.core.Indexing.globalNtile(df, tiles, "k", "dec",
        descending = desc, tieBreak = Seq("tb"), nBuckets = buckets)
      val order = if (desc) col("k").desc else col("k").asc_nulls_first
      val want = df.withColumn("dec", ntile(tiles).over(Window.orderBy(order, col("tb"))))
      assert(got.select("k", "tb", "dec").except(want.select("k", "tb", "dec")).isEmpty &&
        want.select("k", "tb", "dec").except(got.select("k", "tb", "dec")).isEmpty,
        s"case $i (n=$n tiles=$tiles desc=$desc buckets=$buckets) diverged from ntile")
    }
  }
}
