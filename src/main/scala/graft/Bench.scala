package graft

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one compact JSON line. The full per-query timing map is written to
  * `bench_detail.json` next to the repo root, and a per-run copy to
  * `bench_detail_<cpus>_<sf>.json`; the printed line carries the
  * total plus the slowest queries only — the r1/r2 full map (~2.9k chars)
  * exceeded the driver's log-tail capture and arrived truncated
  * (BENCH_r01/r02 "parsed": null). */
object Bench {
  /** Box-calibration probe (r11 verdict task 6): a fixed CPU-bound
    * workload whose cost depends only on this box's speed, recorded in
    * every BENCH_rN.json so cross-round totals can be normalized without
    * rebuilding old commits (the VM runs identical code 1.5-5x slower
    * between sessions). Two legs:
    *   scalar — 1e8-iteration xorshift64* loop, pure single-thread JVM
    *     arithmetic (JIT-warmed once, then best of 3);
    *   agg — one canned 10M-row spark.range aggregation (hash + sum +
    *     avg), exercising codegen + the /32-thread task path.
    * Best-of-3 because the probe measures the BOX, not load spikes. */
  private def xorshiftLoop(n: Long): Long = {
    var x = 0x9E3779B97F4A7C15L; var i = 0L
    while (i < n) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      x *= 0x2545F4914F6CDD1DL
      i += 1
    }
    x
  }

  private def calibrate(spark: org.apache.spark.sql.SparkSession): (Double, Double) = {
    import org.apache.spark.sql.functions.{avg, hash, sum, col}
    var sink = 0L
    def scalarLeg(): Double = {
      val t0 = System.nanoTime(); sink ^= xorshiftLoop(100000000L)
      (System.nanoTime() - t0) / 1e9
    }
    def aggLeg(): Double = {
      val t0 = System.nanoTime()
      sink ^= spark.range(10000000L)
        .agg(sum(hash(col("id")).cast("long")), avg(col("id") % 9973L))
        .head().getLong(0)
      (System.nanoTime() - t0) / 1e9
    }
    scalarLeg(); aggLeg() // JIT/codegen warm legs, not recorded
    val s = (1 to 3).map(_ => scalarLeg()).min
    val a = (1 to 3).map(_ => aggLeg()).min
    if (sink == 42L) System.err.println("[bench] calib sink") // defeat DCE
    (s, a)
  }

  /** Round isolation, shared by the bench rounds and [[QueryTrace]] reps:
    * drops the session-materialized p1 and w4 frames, the cache, and
    * every persisted / locally-checkpointed RDD block a previous round
    * left behind. Without the unpersist, blocks accumulate across rounds
    * and are freed only when the ContextCleaner notices the RDD was
    * garbage-collected — GC-timing-dependent eviction pressure that made
    * identical legs differ 2-6x (d11 legs 49/117/19 s at sf10). Safe
    * between rounds: no frame from a previous round is referenced after
    * clearMaterialized.
    *
    * SHUFFLE files (not just blocks) also accumulate: the ContextCleaner
    * deletes a shuffle's spill files only after the ShuffleDependency is
    * garbage-collected, and a round over shuffle-heavy queries (the
    * suffix-array builds write several GB each at sf10) can fill the disk
    * before any full GC happens naturally — a 3-query sf10 probe leaked
    * 61 GB of blockmgr files and died on ENOSPC. One explicit GC per round
    * bounds on-disk shuffle state to roughly one round's worth. */
  private[graft] def resetRound(spark: org.apache.spark.sql.SparkSession): Unit = {
    queries.Pipeline.clearMaterialized()
    queries.DynamicRow.clearMaterialized()
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))
    System.gc()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // parse BEFORE the multi-minute warm-up so a typo'd value fails fast
    val nRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS") match {
      case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse(
        sys.error(s"SPARK_GRAFT_BENCH_RUNS must be a positive int, got '$v'"))
      case None => 3
    }
    val spark = Verify.makeSession(cpus)
    // calibration before AND after the measured rounds: the pair exposes
    // within-run drift, and either leg normalizes cross-round totals
    val (calibScalar0, calibAgg0) = calibrate(spark)
    // Warm the JVM/codegen on the smallest scale so per-query numbers
    // measure the plan, not first-call JIT + classloading. One query per
    // family: relational (entry), minhash, vector, ML pipeline (p4 pulls
    // p1 + GBT + scoring). Different dataset — only JIT state is reused.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if (new java.io.File(warmDir).isDirectory) {
      // r14 additions (verdict task 6): one suffix-family query (d67 — the
      // direct groupRank pass), one iterative-graph query (d66 — the
      // PageRank round machinery), and w4 (the ~500-column feature+
      // validation codegen, distinct classes from p4's p1 pull). The r13
      // run_totals [309, 266, 241] showed round 1 absorbing exactly these
      // families' first-call JIT; warming them at sf0.001 makes the
      // measured rounds time the plan, not classloading.
      (Seq("__entry" -> null) ++ Seq("d5_minhash_dedup", "d6_ngram_jaccard",
        "d11_clean_corpus", "e2_knn_brute", "e3_knn_ivf", "m1_macro_pipeline",
        "p4_score_portfolio", "d67_suffix_ranks", "d66_template_pagerank",
        "w4_dynamic_row").map(q => q -> q)).foreach { case (label, q) =>
        try {
          if (q == null) SparkEntry.entry(spark).count()
          else SparkEntry.queries(q)(spark, warmDir).count()
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] warm-up $label failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    } else System.err.println(s"[bench] warm-up skipped: $warmDir missing")
    // Single-run totals swing ±20% with VM load (the r3 committed run was
    // a 142s outlier against 83-107s quiet runs of the same code). Measure
    // every query across SPARK_GRAFT_BENCH_RUNS full rounds (default 3) and
    // report per-query MEDIANS, with each round's total in "runs" so the
    // variance is visible in the committed artifact itself.
    // SPARK_GRAFT_BENCH_ONLY: comma-separated query names — scale
    // rehearsals measure the heavy subset on big inputs without paying for
    // the full registry. Unknown names fail fast (a typo would silently
    // bench nothing).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      val unknown = o.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"SPARK_GRAFT_BENCH_ONLY unknown names: $unknown")
    }
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val errors = scala.collection.mutable.LinkedHashSet[String]()
    // A round where the query THROWS records no timing at all: its
    // time-to-failure must not enter the median next to successful rounds
    // (it usually skews the reported median low for flaky queries). Failed
    // names are surfaced in "errors"; a query that fails every round gets
    // the sentinel -1.0 so the artifact stays valid JSON and the miss is
    // unmistakable.
    val runMaps: Seq[Map[String, Double]] = (1 to nRuns).map { r =>
      // The warm-up (and any previous round) materialized p1 and the w4
      // validated frame; drop both so every measured round builds (and
      // pays for) the sfDir intermediates.
      resetRound(spark)
      // SPARK_GRAFT_BENCH_QUERY_HYGIENE=1: ALSO drop each query's
      // registered shuffles right after it finishes (r13 — the full
      // 235-query sf10 sweep accumulated ~90 GB of shuffle files across
      // queries in one JVM and one query died on ENOSPC; per-ROUND GC was
      // not enough once the registry outgrew what a round's disk headroom
      // holds). Uses the same deterministic ShuffleBridge path as the
      // suffix family's step hygiene; safe because bench queries run
      // strictly sequentially and each query's result is fully consumed
      // (count) before the next starts. Off by default: the extra
      // bookkeeping is per-query overhead the 3-leg sf0.1 ritual doesn't
      // need.
      val perQueryHygiene = sys.env.get("SPARK_GRAFT_BENCH_QUERY_HYGIENE")
        .contains("1")
      named.flatMap { case (name, fn) =>
        val t0 = System.nanoTime()
        val run = { () =>
          try {
            fn(spark, sfDir).count()
            Some(name -> (System.nanoTime() - t0) / 1e9)
          } catch {
            case e: Throwable =>
              errors += name
              System.err.println(s"[bench] run $r $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
              None
          }
        }
        if (perQueryHygiene)
          graft.core.RoundCheckpointer.sweepShuffles(spark.sparkContext)(run())
        else run()
      }.toMap
    }
    def median(xs: Seq[Double]): Double = { val s = xs.sorted; s((s.size - 1) / 2) }
    val results = named.map { case (name, _) =>
      val ok = runMaps.flatMap(_.get(name))
      name -> (if (ok.nonEmpty) median(ok) else -1.0)
    }
    // per-query leg MINIMUM summed — the noise floor on a loaded VM: the
    // median total absorbs load spikes, the leg_min total is the best the
    // code demonstrably ran (round-8 verdict task 7: carry it in the
    // one-line tail so a reader needs no bench_detail.json to judge load)
    // a query with NO successful leg contributes nothing here (summing 0.0
    // would report a spuriously LOW "demonstrated best" for a failing run
    // — advisor r9); legMinMissing makes the omission explicit next to the
    // -1.0 sentinels in "queries"
    val legMins = named.map { case (name, _) => runMaps.flatMap(_.get(name)) }
    val legMinTotal = legMins.filter(_.nonEmpty).map(_.min).sum
    val legMinMissing = legMins.count(_.isEmpty)
    val runTotals = runMaps.map(_.values.sum)
    val (calibScalar1, calibAgg1) = calibrate(spark)
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    def s3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val calibJson = s"""{"scalar_pre":${s3(calibScalar0)},"agg_pre":${s3(calibAgg0)},""" +
      s""""scalar_post":${s3(calibScalar1)},"agg_post":${s3(calibAgg1)}}"""
    def jmap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + s3(v) }.mkString("{", ",", "}")
    val total = s3(results.map(_._2).sum)
    val runsJson = runTotals.map(s3).mkString("[", ",", "]")
    // Full detail to a file the judge can read; compact line to stdout.
    // "legs" carries every round's per-query time (not just the median):
    // driver benches run on a shared VM whose load swings legs 2x, and
    // per-leg visibility lets a reader discard a loaded leg instead of
    // guessing which medians absorbed it (round-7 verdict task 7).
    val detailPath = "bench_detail.json"
    val legsJson = runMaps.map(m => jmap(m.toSeq.sortBy(_._1)))
      .mkString("[", ",", "]")
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},""" +
      s""""n_runs":$nRuns,"run_totals":$runsJson,"leg_min_total":${s3(legMinTotal)},"leg_min_missing":$legMinMissing,""" +
      s""""calib":$calibJson,"errors":$errJson,"materialized":["p1_ticker_pipeline","w4_dynamic_row"],""" +
      s""""queries":${jmap(results)},"legs":$legsJson,"sf":"$sfDir"}"""
    // the same detail also goes to a per-run name (cores × scale), so the
    // 8c run no longer overwrites the 32c legs
    val runDetailPath = s"bench_detail_${cpus}_${new java.io.File(sfDir).getName}.json"
    Seq(detailPath, runDetailPath).foreach(p => java.nio.file.Files.write(
      java.nio.file.Paths.get(p), (detail + "\n").getBytes("UTF-8")))
    val slow = results.sortBy(-_._2).take(18).sortBy(_._1)
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},""" +
      s""""n_runs":$nRuns,"run_totals":$runsJson,"leg_min_total":${s3(legMinTotal)},"leg_min_missing":$legMinMissing,""" +
      s""""calib":$calibJson,"errors":$errJson,"materialized":["p1_ticker_pipeline","w4_dynamic_row"],"detail":"$detailPath",""" +
      s""""queries":${jmap(slow)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
