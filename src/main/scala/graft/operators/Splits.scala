package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Train/val/test splitting for training corpora.
  *
  * The failure mode this exists to prevent: a random PER-DOCUMENT split
  * puts near-duplicate documents on both sides of the train/test fence,
  * and the eval set silently measures memorization (the split-leakage
  * half of contamination — d15 covers the benchmark-overlap half). The
  * fix is the GroupShuffleSplit rule: assign the split to a GROUP KEY
  * that captures "these rows must not straddle splits" — a dedup-cluster
  * key (d51's normalization hash), a domain/url, an author — and route
  * every member with it.
  */
object Splits {

  /** Percent of the 100 buckets that go to train, and to val; md5 salt. */
  private val TrainPct = 80
  private val ValPct = 10
  private val Salt = "split"

  /** Deterministic group-atomic split: every row whose `groupCol` agrees
    * lands in the same split, because the split is a pure function of the
    * group key (md5 of key + salt, first 8 hex digits as an integer,
    * mod 100), never of the row. The 100 buckets carve as [0, 80) train,
    * [80, 90) val and [90, 100) test.
    *
    * Scale shape: one narrow projection — no shuffle, no state; the split
    * of any row can be recomputed anywhere (the same stateless-routing
    * property as d52's shards and Incremental's sharding, so an
    * incremental batch can never move an earlier doc's split). Realized
    * fractions converge to the targets only as GROUP count grows and
    * groups stay small relative to the corpus — group-atomicity trades
    * exact fractions for leakage safety by construction. */
  def leakageSafeSplit(df: DataFrame, groupCol: Column): DataFrame = {
    val bucket = (TextFns.hash32(concat(groupCol, lit("|" + Salt))) % 100).cast("int")
    df.withColumn("split_bucket", bucket)
      .withColumn("split",
        when(col("split_bucket") < TrainPct, "train")
          .when(col("split_bucket") < TrainPct + ValPct, "val")
          .otherwise("test"))
  }
}
