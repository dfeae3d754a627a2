package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL exposure of graft's custom Catalyst expressions, both as a
  * `SparkSessionExtensions` plug-in (`--conf spark.sql.extensions=
  * graft.functions.GraftExtensions` — cluster-wide, survives session
  * cloning) and as a runtime registrar for existing sessions. After either,
  * plain SQL can call:
  *
  *   SELECT simhash64(tokens), jaccard_sim(a, b),
  *          distinct_shingles(tokens, 3), shingle_minhash(tokens, 3, 32),
  *          winnowing_fingerprint(text, 20, 8)
  */
object GraftFunctions {

  private def intArg(e: Expression, what: String): Int = e match {
    case lit: org.apache.spark.sql.catalyst.expressions.Literal =>
      lit.value.asInstanceOf[Number].intValue()
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash64" -> { es => SimHash64(es.head) },
    "jaccard_sim" -> { es => JaccardSim(es(0), es(1)) },
    "distinct_shingles" -> { es => DistinctShingles(es(0), intArg(es(1), "k")) },
    "shingle_minhash" -> { es =>
      ShingleMinHash(es(0), intArg(es(1), "k"), intArg(es(2), "numHashes")) },
    "winnowing_fingerprint" -> { es =>
      WinnowingFingerprint(es(0), intArg(es(1), "k"), intArg(es(2), "w")) },
    "product_agg" -> { es => ProductAgg(es.head) },
    "kmv_distinct" -> { es => KmvAgg(es(0), intArg(es(1), "k")) },
    "vec_dot" -> { es => DotProduct(es(0), es(1)) },
    "vec_cosine" -> { es => CosineSim(es(0), es(1)) })

  /** Register into an already-running session. */
  def registerAll(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
}

/** `spark.sql.extensions` entry point: injects the SQL functions of
  * [[GraftFunctions.all]] and nothing else. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
}
