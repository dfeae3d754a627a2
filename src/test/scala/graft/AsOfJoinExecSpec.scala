package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.AsOf

/** The four `core.AsOf` forms as (name, forward, join); the bucketed ones
  * use width-3 buckets over an integral time column. */
private[graft] object AsOfForms {
  type Join = (DataFrame, DataFrame, Seq[String], String, Seq[String]) => DataFrame

  val all: Seq[(String, Boolean, Join)] = {
    val b3: Column => Column = c => floor(c / lit(3.0)).cast("long")
    Seq(
      ("joinBackward", false, AsOf.joinBackward(_, _, _, _, _)),
      ("joinForward", true, AsOf.joinForward(_, _, _, _, _)),
      ("joinBackwardBucketed", false, AsOf.joinBackwardBucketed(_, _, _, _, _, b3)),
      ("joinForwardBucketed", true, AsOf.joinForwardBucketed(_, _, _, _, _, b3)))
  }

  val backward: Seq[(String, Boolean, Join)] = all.filterNot(_._2)
}

/** Match semantics of the as-of join behind q74_asof_exec, checked on every
  * `core.AsOf` form they apply to: inclusive backward match, atomic row
  * carry, composite keys, and two sides drawn from one relation.
  */
class AsOfJoinExecSpec extends SparkSpec {
  import spark.implicits._

  test("backward inclusive match, atomic carry, no-match rows are null") {
    val left = Seq(("A", 1L), ("A", 5L), ("A", 10L), ("B", 3L), ("C", 2L))
      .toDF("k", "t")
    val right = Seq(("A", 1L, 10.0, "x"), ("A", 7L, 70.0, "y"),
      ("B", 4L, 40.0, "z")).toDF("k", "t", "v", "tag")
    for ((form, _, join) <- AsOfForms.backward) {
      val out = join(left, right, Seq("k"), "t", Seq("v", "tag"))
        .orderBy("k", "t")
        .as[(String, Long, Option[Double], Option[String])].collect().toSeq
      assert(out == Seq(
        ("A", 1L, Some(10.0), Some("x")),   // exact-timestamp match is visible
        ("A", 5L, Some(10.0), Some("x")),
        ("A", 10L, Some(70.0), Some("y")),
        ("B", 3L, None, None),              // right row at t=4 is in the future
        ("C", 2L, None, None)), form)       // key with no right rows at all
    }
  }

  test("atomic row carry: a NULL value in the matched right row stays NULL") {
    val left = Seq(("A", 10L)).toDF("k", "t")
    val right = Seq(("A", 1L, Some(1.0), Some(100.0)),
      ("A", 5L, Some(5.0), None)).toDF("k", "t", "a", "b")
    for ((form, _, join) <- AsOfForms.backward) {
      val row = join(left, right, Seq("k"), "t", Seq("a", "b"))
        .as[(String, Long, Option[Double], Option[Double])].head()
      // matched row is t=5: its b is NULL and must NOT backfill from t=1
      assert(row == (("A", 10L, Some(5.0), None)), form)
    }
  }

  test("self-join: both sides from one relation re-alias instead of mis-pruning") {
    // left and right derive from the SAME DataFrame, so their attribute ids
    // collide; right-side references must not resolve against the left
    val ev = Seq((1L, 1L, "click", 1.5), (1L, 5L, "purchase", 0.0),
      (1L, 7L, "click", 2.5), (2L, 2L, "purchase", 0.0))
      .toDF("user_id", "t", "kind", "v")
    val purchases = ev.filter($"kind" === "purchase").select("user_id", "t")
    val clicks = ev.filter($"kind" === "click")
      .select($"user_id", $"t", $"v".as("click_v"))
    for ((form, forward, join) <- AsOfForms.all) {
      val out = join(purchases, clicks, Seq("user_id"), "t", Seq("click_v"))
        .orderBy("user_id").select("click_v").as[Option[Double]].collect().toSeq
      assert(out == Seq(Some(if (forward) 2.5 else 1.5), None), form)
    }
  }

  test("multi-key grouping: matches never cross composite keys") {
    val left = Seq((1, "x", 10L), (1, "y", 10L), (2, "x", 10L)).toDF("k1", "k2", "t")
    val right = Seq((1, "x", 5L, 1.0), (1, "x", 15L, 3.0), (1, "y", 6L, 2.0),
      (2, "y", 1L, 9.0), (2, "y", 20L, 8.0)).toDF("k1", "k2", "t", "v")
    for ((form, forward, join) <- AsOfForms.all) {
      val out = join(left, right, Seq("k1", "k2"), "t", Seq("v"))
        .orderBy("k1", "k2").select("v").as[Option[Double]].collect().toSeq
      assert(out == (if (forward) Seq(Some(3.0), None, None)
        else Seq(Some(1.0), Some(2.0), None)), form)
    }
  }
}
