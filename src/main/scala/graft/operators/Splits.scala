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

  /** Deterministic group-atomic split: every row whose `groupCol` agrees
    * lands in the same split, because the split is a pure function of the
    * group key (md5 of key + salt, first 8 hex digits as an integer,
    * mod 100), never of the row. `trainPct`/`valPct` carve the 100
    * buckets as [0, trainPct) / [trainPct, trainPct+valPct) / rest.
    *
    * Scale shape: one narrow projection — no shuffle, no state; the split
    * of any row can be recomputed anywhere (the same stateless-routing
    * property as d52's shards and Incremental's sharding, so an
    * incremental batch can never move an earlier doc's split). Realized
    * fractions converge to the targets only as GROUP count grows and
    * groups stay small relative to the corpus — group-atomicity trades
    * exact fractions for leakage safety by construction. */
  def leakageSafeSplit(df: DataFrame, groupCol: Column,
                       trainPct: Int = 80, valPct: Int = 10,
                       salt: String = "split"): DataFrame = {
    require(trainPct >= 1 && valPct >= 0 && trainPct + valPct <= 100,
      s"split percentages must satisfy 1 <= train, 0 <= val, train+val <= 100; " +
        s"got $trainPct/$valPct")
    val bucket = (TextFns.hash32(concat(groupCol, lit("|" + salt))) % 100).cast("int")
    df.withColumn("split_bucket", bucket)
      .withColumn("split",
        when(col("split_bucket") < trainPct, "train")
          .when(col("split_bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }
}
