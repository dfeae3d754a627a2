package graft

import org.apache.spark.sql.functions._
import graft.core.Skew

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin produces the same rows as a plain join") {
    val big = (1 to 200).map(i => (i % 3, i)).toDF("k", "v") // hot keys 0,1,2
    val small = Seq((0, "a"), (1, "b"), (2, "c"), (3, "d")).toDF("k", "name")
    val plain = big.join(small, Seq("k")).orderBy("k", "v")
      .collect().map(_.toSeq).toSeq
    val salted = Skew.saltedJoin(big, small, Seq("k"), factor = 4)
      .orderBy("k", "v").collect().map(_.toSeq).toSeq
    assert(salted == plain)
  }

  test("twoPhaseAgg collect_list matches single-phase up to ordering") {
    val df = (1 to 50).map(i => (i % 2, i)).toDF("k", "v")
    val out = Skew.twoPhaseAgg(df, Seq("k"), factor = 4,
      partial = Seq(collect_list(col("v")).as("part")),
      merge = Seq(flatten(collect_list(col("part"))).as("all")))
      .select(col("k"), size(col("all")).as("n"),
        aggregate(col("all"), lit(0L), (acc, x) => acc + x).as("sum"))
      .orderBy("k").as[(Int, Int, Long)].collect()
    assert(out(0) == ((0, 25, (2 to 50 by 2).sum.toLong)))
    assert(out(1) == ((1, 25, (1 to 49 by 2).sum.toLong)))
  }

  test("join strategy: broadcast under threshold, sort-merge when disabled") {
    val big = (1 to 5000).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
    val small = (1 to 100).map(i => (i.toLong, s"d$i")).toDF("k", "name")
    def strategy(): String =
      big.join(small, Seq("k")).queryExecution.executedPlan.toString
    assert(strategy().contains("BroadcastHashJoin"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = strategy()
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("skewSafeCountDistinct equals countDistinct") {
    val df = (1 to 100).map(i => (i % 2, i % 7)).toDF("k", "v")
    val expected = df.groupBy("k").agg(countDistinct(col("v")).as("n"))
      .orderBy("k").as[(Int, Long)].collect().toSeq
    val got = Skew.skewSafeCountDistinct(df, Seq("k"), "v")
      .orderBy("k").as[(Int, Long)].collect().toSeq
    assert(got == expected)
  }
}
