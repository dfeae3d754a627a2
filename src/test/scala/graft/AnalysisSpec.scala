package graft

import org.apache.spark.sql.functions._
import graft.analysis.{Analysis, Report}

class AnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("MLlib correlation matrix agrees with native corr()") {
    val df = (1 to 100).map(i => (i.toDouble, i * 2.0 + (i % 7), 100.0 - i))
      .toDF("a", "b", "c")
    val m = Analysis.correlationMatrix(df, Seq("a", "b", "c"))
      .orderBy("col_a", "col_b")
      .as[(String, String, Double)].collect()
    val native = df.agg(corr(col("a"), col("b")), corr(col("a"), col("c")),
      corr(col("b"), col("c"))).head
    assert(m.length == 3)
    assert(math.abs(m(0)._3 - native.getDouble(0)) < 1e-9) // (a,b)
    assert(math.abs(m(1)._3 - native.getDouble(1)) < 1e-9) // (a,c)
    assert(math.abs(m(2)._3 - native.getDouble(2)) < 1e-9) // (b,c)
  }

  test("RF importance returns one weight per feature summing to ~1 with R2") {
    val df = (1 to 200).map { i =>
      (i % 10 * 1.0, i % 3 * 1.0, (i % 10) * 5.0 + 2.0)
    }.toDF("x1", "x2", "y")
    val out = Analysis.rfImportance(df, Seq("x1", "x2"), "y")
      .orderBy("feature").as[(String, Double, Double)].collect()
    assert(out.map(_._1).toSeq == Seq("x1", "x2"))
    assert(math.abs(out.map(_._2).sum - 1.0) < 1e-6)
    assert(out.head._3 > 0.9) // y is a function of x1 -> high R2
    assert(out(0)._2 > out(1)._2) // x1 dominates importance
  }

  test("feature report groups columns by prefix with source hints") {
    val df = Seq((0.1, 0.2, 12.5, 1, "ok"))
      .toDF("6m_return", "eps_cagr_3y", "pe_ratio", "sector_technology", "status")
    val r = Report.render(df)
    assert(r.contains("== Price-Based Features (from prices) =="))
    assert(r.contains("6m_return"))
    assert(r.contains("== Growth =="))
    assert(r.contains("== Valuation (from ratios) =="))
    assert(r.contains("== Sector Encoding (from profile) =="))
    assert(!r.contains("status")) // ungrouped columns excluded
  }

  test("q41 builds its long form without a temp view in the session catalog") {
    val session = spark.newSession()
    val rows = graft.queries.Relational2.q41.fn(session,
      s"${sys.props("user.home")}/testdata/sf0.001").collect()
    assert(rows.length == 6, "one row per column pair")
    assert(!session.catalog.tableExists("__w"), "q41 left the temp view __w behind")
  }
}
