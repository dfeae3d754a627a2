package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import graft.core.{AsOf, SchemaOps, SeriesOps}

/** Traverses AQE query stages when collecting plan nodes. */
private object AdaptivePlans extends AdaptiveSparkPlanHelper

class CoreOpsSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = java.sql.Date.valueOf(s)

  test("asof backward join attaches latest right value at or before") {
    val left = Seq(("A", d("2024-01-05")), ("A", d("2024-01-10")),
      ("A", d("2024-01-01")), ("B", d("2024-01-05")))
      .toDF("k", "date")
    val right = Seq(("A", d("2024-01-02"), 1.0), ("A", d("2024-01-05"), 2.0),
      ("A", d("2024-01-09"), 3.0))
      .toDF("k", "date", "v")
    val out = AsOf.joinBackward(left, right, Seq("k"), "date", Seq("v"))
      .orderBy("k", "date").collect()
    // A@01-01: nothing before -> null; A@01-05: exact-date match 2.0;
    // A@01-10: 3.0; B: no right rows -> null
    assert(out(0).isNullAt(2))
    assert(out(1).getDouble(2) == 2.0)
    assert(out(2).getDouble(2) == 3.0)
    assert(out(3).isNullAt(2))
  }

  private val asofForms = AsOfForms.all

  test("as-of NULL times never match, in all four forms") {
    val left = Seq(("A", Some(5L)), ("A", None), ("B", Some(5L))).toDF("k", "t")
    val right = Seq(("A", Some(7L), 1.0), ("A", None, 99.0), ("B", None, 42.0))
      .toDF("k", "t", "v")
    for ((form, forward, join) <- asofForms) {
      val out = join(left, right, Seq("k"), "t", Seq("v"))
        .as[(String, Option[Long], Option[Double])].collect().toSet
      val want = Set(("A", Some(5L), if (forward) Some(1.0) else None),
        ("A", None, None), ("B", Some(5L), None))
      assert(out == want, form)
    }
  }

  test("as-of NULL keys never match, in all four forms") {
    // DuckDB's ASOF LEFT JOIN ... ON p.k = c.k: a NULL-key left row stays,
    // with NULL matched values; a NULL-key right row matches nothing
    val left = Seq[(Option[String], Long)]((None, 5L), (Some("A"), 5L)).toDF("k", "t")
    val right = Seq[(Option[String], Long, Double)]((None, 1L, 7.0), (Some("A"), 1L, 1.0),
      (None, 9L, 8.0), (Some("A"), 9L, 2.0)).toDF("k", "t", "v")
    for ((form, forward, join) <- asofForms) {
      val out = join(left, right, Seq("k"), "t", Seq("v"))
        .as[(Option[String], Long, Option[Double])].collect().toSet
      val want = Set((None, 5L, None),
        (Some("A"), 5L, Some(if (forward) 2.0 else 1.0)))
      assert(out == want, form)
    }
  }

  test("asof backward attaches the matched row atomically: its NULLs are not backfilled") {
    val left = Seq(("A", d("2024-01-10"))).toDF("k", "date")
    // latest matching right row (01-09) has v2 = NULL; an older row (01-02)
    // has v2 = 7.0 — Polars join_asof attaches (3.0, NULL), never (3.0, 7.0).
    val right = Seq(
      ("A", d("2024-01-02"), Some(1.0), Some(7.0)),
      ("A", d("2024-01-09"), Some(3.0), None))
      .toDF("k", "date", "v1", "v2")
    val out = AsOf.joinBackward(left, right, Seq("k"), "date", Seq("v1", "v2"))
      .collect()(0)
    assert(out.getDouble(2) == 3.0)
    assert(out.isNullAt(3))
  }

  // deterministic pseudo-random data with a HOT key (~40% of rows), NULL
  // keys (~1/13 — never matched, on either side), duplicate timestamps
  // (disambiguated by a seq tie-break), NULL values in one column, and a
  // few NULL timestamps (the null-bucket path)
  private def genAsOf(n: Int, seed: Int, keys: Int) = {
    def h(i: Int, salt: Int) =
      math.abs(scala.util.hashing.MurmurHash3.productHash((i, seed, salt)))
    (0 until n).map { i =>
      val k = if (h(i, 7) % 13 == 0) None
        else if (h(i, 1) % 10 < 4) Some("HOT") else Some(s"K${h(i, 2) % keys}")
      val ts = if (h(i, 3) % 41 == 0) None else Some((h(i, 4) % 500).toLong)
      (k, ts, i.toLong, if (h(i, 5) % 5 == 0) None else Some(h(i, 6) % 100.0))
    }.toDF("k", "ts", "seq", "v")
  }

  test("joinBackwardBucketed row-identical to joinBackward across widths, skew, nulls") {
    val left = genAsOf(400, 7, 5)
    val right = genAsOf(300, 13, 5).withColumnRenamed("v", "rv")
      .withColumnRenamed("seq", "rseq")
    val plain = AsOf.joinBackward(left, right, Seq("k"), "ts",
      Seq("rv", "rseq"), tieBreak = Seq(col("rseq")))
    // width 1 (every ts its own bucket), 50, and one-giant-bucket (the
    // degenerate case must reduce to the plain form exactly)
    for (w <- Seq(1L, 50L, 100000L)) {
      val bucketed = AsOf.joinBackwardBucketed(left, right, Seq("k"), "ts",
        Seq("rv", "rseq"), c => floor(c / lit(w.toDouble)).cast("long"),
        tieBreak = Seq(col("rseq")))
      assert(bucketed.columns.sorted.sameElements(plain.columns.sorted))
      val b = bucketed.select(plain.columns.map(col): _*)
      assert(b.exceptAll(plain).isEmpty && plain.exceptAll(b).isEmpty,
        s"width $w diverges from joinBackward")
    }
  }

  test("joinForwardBucketed row-identical to joinForward across widths, skew, nulls") {
    val left = genAsOf(400, 23, 5)
    val right = genAsOf(300, 31, 5).withColumnRenamed("v", "rv")
      .withColumnRenamed("seq", "rseq")
    val plain = AsOf.joinForward(left, right, Seq("k"), "ts",
      Seq("rv", "rseq"), tieBreak = Seq(col("rseq")))
    for (w <- Seq(1L, 50L, 100000L)) {
      val bucketed = AsOf.joinForwardBucketed(left, right, Seq("k"), "ts",
        Seq("rv", "rseq"), c => floor(c / lit(w.toDouble)).cast("long"),
        tieBreak = Seq(col("rseq")))
        .select(plain.columns.map(col): _*)
      assert(bucketed.exceptAll(plain).isEmpty && plain.exceptAll(bucketed).isEmpty,
        s"width $w diverges from joinForward")
    }
  }

  test("as-of window partitions: bucketed on (keys, bucket), plain on keys alone") {
    val left = genAsOf(200, 7, 3)
    val right = genAsOf(150, 13, 3).withColumnRenamed("v", "rv")
      .withColumnRenamed("seq", "rseq")
    // the hot-key bound: a key's window sort spans one (key, bucket) in
    // the bucketed form and the key's whole history in the plain form.
    // Partition keys of every window in the executed (AQE final) plan:
    def windowKeys(df: DataFrame): Seq[Seq[String]] = {
      df.collect()
      AdaptivePlans.collect(df.queryExecution.executedPlan) {
        case w: WindowExec => w.partitionSpec.map {
          case a: Attribute => a.name
          case e => e.sql
        }
      }
    }
    for ((form, _, join) <- asofForms) {
      val keys = windowKeys(join(left, right, Seq("k"), "ts", Seq("rv", "rseq")))
      if (form.endsWith("Bucketed"))
        // the in-bucket pass on (k, __b) plus the carry-in as-of on k,
        // which runs over one aggregate row per (key, bucket)
        assert(keys.sortBy(_.size) == Seq(Seq("k"), Seq("k", "__b")), form)
      else assert(keys == Seq(Seq("k")), form)
    }
  }

  test("as-of family accepts dotted key/time/value column names, both directions") {
    def dotted(df: org.apache.spark.sql.DataFrame) = df
      .withColumnRenamed("k", "user.id").withColumnRenamed("ts", "t.s")
    val left = dotted(genAsOf(100, 7, 3))
    val right = dotted(genAsOf(80, 13, 3))
      .withColumnRenamed("v", "r.v").withColumnRenamed("seq", "rseq")
    val vals = Seq("r.v", "rseq")
    val qc = (c: String) => col(s"`$c`")
    val back = AsOf.joinBackward(left, right, Seq("user.id"), "t.s",
      vals, tieBreak = Seq(col("rseq")))
    val backB = AsOf.joinBackwardBucketed(left, right, Seq("user.id"), "t.s",
      vals, c => floor(c / lit(50.0)).cast("long"), tieBreak = Seq(col("rseq")))
      .select(back.columns.map(qc): _*)
    assert(backB.exceptAll(back).isEmpty && back.exceptAll(backB).isEmpty)
    val fwd = AsOf.joinForward(left, right, Seq("user.id"), "t.s",
      vals, tieBreak = Seq(col("rseq")))
    val fwdB = AsOf.joinForwardBucketed(left, right, Seq("user.id"), "t.s",
      vals, c => floor(c / lit(50.0)).cast("long"), tieBreak = Seq(col("rseq")))
      .select(fwd.columns.map(qc): _*)
    assert(fwdB.exceptAll(fwd).isEmpty && fwd.exceptAll(fwdB).isEmpty)
  }

  test("joinForward honors explicit tieBreak sort directions like joinBackward") {
    // equal-ts right rows: backward keeps the LAST in tieBreak order,
    // forward the FIRST — with .desc those flip to seq ascending picks
    val left = Seq(("A", 10L, 0L)).toDF("k", "ts", "seq")
    val right = Seq(("A", 10L, 1L, 1.0), ("A", 10L, 2L, 2.0), ("A", 10L, 3L, 3.0))
      .toDF("k", "ts", "rseq", "rv")
    def pick(df: org.apache.spark.sql.DataFrame): Double =
      df.select("rv").head.getDouble(0)
    assert(pick(AsOf.joinForward(left, right, Seq("k"), "ts",
      Seq("rv", "rseq"), tieBreak = Seq(col("rseq")))) == 1.0) // first asc
    assert(pick(AsOf.joinForward(left, right, Seq("k"), "ts",
      Seq("rv", "rseq"), tieBreak = Seq(col("rseq").desc))) == 3.0) // first desc
    assert(pick(AsOf.joinBackward(left, right, Seq("k"), "ts",
      Seq("rv", "rseq"), tieBreak = Seq(col("rseq").desc))) == 1.0) // last desc
    // explicit .asc equals the bare column in BOTH directions (regression:
    // naive _.desc on a SortOrder-wrapped column nests and fails analysis)
    assert(pick(AsOf.joinForward(left, right, Seq("k"), "ts",
      Seq("rv", "rseq"), tieBreak = Seq(col("rseq").asc))) == 1.0)
  }

  test("plain as-of forms reject reserved __side/__asof_row inputs loudly") {
    val df = Seq(("A", 1L, 1.0)).toDF("k", "ts", "v")
    val poisoned = df.withColumn("__side", lit(9))
    intercept[IllegalArgumentException] {
      AsOf.joinBackward(poisoned, df.withColumnRenamed("v", "rv"),
        Seq("k"), "ts", Seq("rv"))
    }
    intercept[IllegalArgumentException] {
      AsOf.joinForward(df, df.withColumnRenamed("v", "rv")
        .withColumn("__asof_row", lit(0)), Seq("k"), "ts", Seq("rv"))
    }
  }

  test("adjustForSplits matches the reference golden: [1.0,1.2,1.5] + 2:1 -> [1.0,1.2,0.75]") {
    val divs = Seq(("T", d("2023-01-01"), 1.0), ("T", d("2023-06-01"), 1.2),
      ("T", d("2024-01-01"), 1.5)).toDF("ticker", "date", "dividend")
    val splits = Seq(("T", d("2023-09-01"), 2.0)).toDF("ticker", "date", "split_ratio")
    val out = SeriesOps.adjustForSplits(divs, splits, Seq("ticker"),
      "date", "dividend", "split_ratio")
      .orderBy("date").select("dividend").as[Double].collect()
    assert(out(0) ~= 1.0)
    assert(out(1) ~= 1.2)
    assert(out(2) ~= (0.75, 1e-9))
  }

  test("adjustForSplits with no splits is identity") {
    val divs = Seq(("T", d("2023-01-01"), 1.0)).toDF("ticker", "date", "dividend")
    val splits = Seq.empty[(String, java.sql.Date, Double)]
      .toDF("ticker", "date", "split_ratio")
    val out = SeriesOps.adjustForSplits(divs, splits, Seq("ticker"),
      "date", "dividend", "split_ratio").select("dividend").as[Double].collect()
    assert(out.head ~= 1.0)
  }

  test("keepLastBy keeps the row with the highest arrival order") {
    val df = Seq((1, "old", 0), (1, "new", 1), (2, "only", 0))
      .toDF("k", "v", "gen")
    val out = SeriesOps.keepLastBy(df, Seq("k"), Seq(col("gen")))
      .orderBy("k").select("v").as[String].collect()
    assert(out.toSeq == Seq("new", "only"))
  }

  test("cumProd over window equals running product") {
    val df = Seq(("T", 1, 2.0), ("T", 2, 3.0), ("T", 3, 0.5))
      .toDF("k", "i", "x")
    val w = Window.partitionBy("k").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, 0)
    val out = df.withColumn("cp", SeriesOps.cumProd(col("x"), w))
      .orderBy("i").select("cp").as[Double].collect()
    assert(out(0) ~= (2.0, 1e-12))
    assert(out(1) ~= (6.0, 1e-12))
    assert(out(2) ~= (3.0, 1e-12))
  }

  test("unionHarmonized resolves dtype drift via the lattice") {
    val a = Seq((1, 1.5)).toDF("k", "x") // x: double
    val b = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(2, 7, "s"))),
      StructType(Seq(StructField("k", IntegerType), StructField("x", IntegerType),
        StructField("extra", StringType))))
    val out = SchemaOps.unionHarmonized(Seq(a, b))
    assert(out.schema("x").dataType == DoubleType)
    assert(out.columns.toSeq == Seq("extra", "k", "x")) // sorted superset
    assert(out.count() == 2)
    // missing column backfilled as null
    assert(out.filter(col("extra").isNull).count() == 1)
  }

  test("round2f32 applies round(2) + Float32 to numerics only") {
    val df = Seq((1, 1.23456, "s")).toDF("k", "x", "t")
    val out = SchemaOps.round2f32(df, except = Set("k"))
    assert(out.schema("x").dataType == FloatType)
    assert(out.schema("k").dataType == IntegerType)
    assert(out.select("x").as[Float].head() == 1.23f)
  }
}
