package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Count-Min Sketch (Cormode & Muthukrishnan 2005, J.Algorithms 55) —
  * THE bounded-memory frequency structure for corpus-scale token stats:
  * d seeded hash rows × w counters; point estimate = min over rows of
  * the hashed counter, always ≥ the true count (one-sided error ≤
  * εN with ε = e/w at confidence 1 − e^−d). The reference's exact
  * groupBy counting is fine until the key space explodes (tokens,
  * n-grams, URLs); the sketch caps state at d·w longs NO MATTER the
  * corpus — and two sketches over disjoint corpus halves merge by
  * counter addition, which is what makes it the streaming/combiner
  * shape (a groupBy over (seed, bucket) IS the merge).
  *
  * Determinism contract: the hash family is md5 over "seed:token" (the
  * repo's replayable-bucket idiom, Classifier.scala:52) — no JVM
  * hashing, so DuckDB re-derives every counter and every min exactly;
  * the sketch's collisions are judged, not assumed.
  *
  * Scale shape: building is one explode (d rows per token occurrence —
  * the d factor rides the map side; partial aggregation collapses each
  * partition to ≤ d·w rows before the shuffle) + one groupBy on
  * (seed, bucket) with a d·w-row result; estimation broadcasts the
  * bounded sketch to the query tokens. Nothing is corpus-sized but the
  * token scan itself. */
object CountMin {

  /** The seeded bucket column — md5("seed:token") % width. */
  def bucket(seed: Column, tok: Column, width: Int): Column =
    (TextFns.hash32(concat(seed.cast("string"), lit(":"), tok)) % width)

  /** Build the sketch over a token column: (seed, bucket, cnt), exactly
    * depth × width rows max (absent (seed,bucket) pairs = zero count —
    * estimation treats missing as 0 via the guaranteed-present min). */
  def sketch(toks: DataFrame, tokCol: String,
             depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 1, s"bad CMS shape $depth x $width")
    toks
      .select(explode(sequence(lit(0), lit(depth - 1))).as("seed"),
        col(tokCol).as("__t"))
      .select(col("seed"), bucket(col("seed"), col("__t"), width).as("bucket"))
      .groupBy("seed", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Point-estimate each query token against a (bounded) sketch: the min
    * over the depth rows of the hashed counter. `queries` must be small
    * enough to broadcast OR the sketch is (it always is: ≤ depth·width
    * rows) — the join is on the computed (seed, bucket) key. A token
    * whose every row happens to be absent estimates 0 (impossible if the
    * token was in the build input — its own occurrences are counted). */
  def estimate(queries: DataFrame, tokCol: String, cms: DataFrame,
               depth: Int = 4, width: Int = 1024): DataFrame = {
    val probes = queries
      .select(col(tokCol),
        explode(sequence(lit(0), lit(depth - 1))).as("seed"))
      .withColumn("bucket", bucket(col("seed"), col(tokCol), width))
    probes
      .join(broadcast(cms), Seq("seed", "bucket"), "left")
      .groupBy(tokCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }
}
