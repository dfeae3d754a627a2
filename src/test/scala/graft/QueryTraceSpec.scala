package graft

import org.apache.spark.sql.graftbridge.Listeners

/** QueryTrace over one small registry query in the shared session: the
  * layer split adds up, both reps see the same jobs (Bench.resetRound
  * isolates them), and the listeners leave with the run. */
class QueryTraceSpec extends SparkSpec {
  private val dir = s"${sys.props("user.home")}/testdata/sf0.001"
  private val name = "q1_pricing_summary"

  test("QueryTrace: rows, jobs, driver gap and Catalyst phases per rep; listeners removed") {
    val query = SparkEntry.queries(name)
    // untraced first: also warms the per-path schema cache, whose
    // inference job would otherwise land in rep 1 only
    val expectedRows = query(spark, dir).count()
    // the trace's own listeners on the context's bus and on the session's
    // query-execution listener manager
    def registered = {
      def ours(ls: Seq[AnyRef]) =
        ls.count(_.getClass.getName.startsWith("graft.QueryTrace"))
      (ours(Listeners.sparkListeners(spark)),
        ours(Listeners.executionListeners(spark)))
    }
    assert(registered == (0, 0))
    var during = Seq.empty[(Int, Int)]
    val reps = QueryTrace.run(spark, reps = 2) {
      during :+= registered
      query(spark, dir)
    }
    assert(during == Seq((1, 1), (1, 1)))
    assert(registered == (0, 0), "listeners left registered after the run")

    assert(reps.size == 2)
    reps.foreach { r =>
      assert(r.rows == expectedRows)
      assert(r.jobs.nonEmpty)
      assert(r.jobs.forall(_.tasks > 0), r.jobs)
      assert(r.jobSumS <= r.wallS + 0.05, r)
      assert(r.driverGapS >= 0.0 && r.driverGapS <= r.wallS, r)
      assert(QueryTrace.Phases.forall(r.phasesS.contains), r.phasesS)
    }
    assert(reps(0).jobs.size == reps(1).jobs.size,
      reps.map(_.jobs.map(_.site)))
  }
}
