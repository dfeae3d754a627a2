package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector math over `array<float>` columns, built from Spark's
  * higher-order functions (`zip_with`, `aggregate`) — codegen'd, sequential
  * left-fold in array order, so results are bit-deterministic for a given
  * pair of vectors (no shuffle-order sensitivity).
  */
object VectorFns {

  /** Dot product in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, null-safe for zero vectors. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val na = l2Norm(a)
    val nb = l2Norm(b)
    when(na > 0 && nb > 0, d / (na * nb))
  }

  /** Squared euclidean distance. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val diff = x.cast("double") - y.cast("double")
      diff * diff
    }), lit(0.0), (acc, v) => acc + v)

  /** SimHash-style sign vector of random-hyperplane LSH for cosine: for each
    * of `bits` seeded pseudo-random hyperplanes (murmur3 of (seed, dim) as
    * the plane coefficients), the sign of the projection. Packs into a
    * bitstring for bucket joins. Deterministic given `bits`/`dim`.
    */
  def hyperplaneSignature(vec: Column, bits: Int, dim: Int): Column = {
    val bitCols = (0 until bits).map { b =>
      // plane coefficient for (b, j): murmur3 hash mapped to [-0.5, 0.5)
      val proj = (0 until dim).map { j =>
        val coef = (hash(lit(s"hp$b|$j")).cast("double") / lit(4294967296.0))
        element_at(vec, j + 1).cast("double") * coef
      }.reduce(_ + _)
      when(proj >= 0, lit("1")).otherwise(lit("0"))
    }
    concat(bitCols: _*)
  }

  /** The (b, j) plane coefficient as a JVM double — EXACTLY the value the
    * column expression above computes (murmur3 of "hp<b>|<j>" at Spark's
    * fixed seed 42, int-cast to double, / 2³²), exposed so an oracle can
    * inline the 6×64 constants: the coefficients are data-independent,
    * and a shortest-repr double literal parses back to the same bits on
    * any engine. Equality with hash(lit(...)) is pinned by spec. */
  def planeCoef(b: Int, j: Int): Double = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(s"hp$b|$j")
    org.apache.spark.unsafe.hash.Murmur3_x86_32
      .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42)
      .toDouble / 4294967296.0
  }
}
