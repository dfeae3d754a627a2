package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.operators.Dedup

/** The shared cross-engine text-hash primitives: [[TextFns.hash32]] and its
  * DuckDB twin [[TextFns.hash32Sql]], the tokenizer twin
  * [[TextFns.tokensSql]], and the affine MinHash signature
  * [[Dedup.affineSignature]]. */
class TextHashSpec extends SparkSpec {
  import spark.implicits._

  test("hash32: first 8 hex digits of md5 as a long (hashlib goldens)") {
    // int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)
    val golden = Seq(
      "" -> 3558706393L,
      "a" -> 214005177L,
      "hello world" -> 1589001147L,
      "naïve café" -> 2414793136L,
      "的是了" -> 589850932L,
      "12345" -> 2189216526L)
    val got = golden.map(_._1).toDF("s")
      .select(col("s"), TextFns.hash32(col("s")).as("h"))
      .as[(String, Long)].collect().toMap
    assert(got == golden.toMap)
  }

  test("hash32Sql and tokensSql render the exact DuckDB text") {
    assert(TextFns.hash32Sql("CAST(doc_id AS VARCHAR)") ==
      "CAST(CONCAT('0x', SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)")
    assert(TextFns.tokensSql("text") ==
      """regexp_split_to_array(trim(text), '\s+')""")
    // a string interpolating the renderer keeps the single backslash
    assert(s"""x ${TextFns.tokensSql("t")} y""" ==
      "x regexp_split_to_array(trim(t), '\\s+') y")
  }

  test("affineSignature equals MessageDigest + affineConsts + AffineP arithmetic") {
    val numHashes = 8
    val rows = Seq(
      (1L, "a b c"), (1L, "b c d"), (1L, "c d e"),
      (2L, "x y z"), (2L, "naïve café ok"))
    val got = Dedup.affineSignature(rows.toDF("k", "shingle"), Seq("k"), numHashes)
      .select("k", "seed", "mh").as[(Long, Long, Long)].collect().toSet
    def x(s: String): Long =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .take(4).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
    val consts = Dedup.affineConsts(numHashes)
    val want = rows.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
      consts.zipWithIndex.map { case ((a, b), seed) =>
        (k, seed.toLong, rs.map(r => (a * x(r._2) + b) % Dedup.AffineP).min)
      }
    }.toSet
    assert(got == want)
    assert(got.size == 2 * numHashes)
  }
}
