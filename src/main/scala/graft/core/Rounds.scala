package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** Round-checkpoint hygiene for iteration loops — the d67 lesson as a
  * shared helper. Every iterative build (prefix doubling, PageRank
  * rounds, LCP descent) checkpoints a relation per round; done naively
  * that either (a) lazily checkpoints and frees the parent BEFORE the
  * successor materializes — a use-after-free race (truncated lineage
  * cannot recompute; PlanLint lost exactly that race with
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), or (b) never frees superseded
  * rounds, accumulating node-set-sized blocks until GC (the within-query
  * form of the bench round-isolation lesson — at sf10 a suffix build
  * squeezed execution memory to literal zero mid-loop).
  *
  * The contract here: EAGER localCheckpoint (materialize first), then
  * free the previous round's blocks (free second), tracking only the
  * RDD ids THIS loop persisted (set-diff against pre-existing ids, so a
  * caller's checkpoints are never touched); a GC nudge every four steps
  * bounds on-disk shuffle state (shuffle files are deleted only after
  * their dependency is GC'd — an sf10 probe hit ENOSPC without it). Live
  * storage is bounded by two rounds.
  *
  * `freeSuperseded = false` keeps every round alive (the LCP descent
  * needs all doubling rounds) — freeing is then the caller's duty via
  * the ids [[stepTracked]] returns.
  *
  * Each step ALSO drops its interior shuffle FILES deterministically
  * (r12, the d86 ENOSPC fix): unpersisting blocks frees memory, but a
  * shuffle's map-output files are deleted only when the ContextCleaner
  * notices its dependency was GC'd — an iterative build writes one
  * corpus-sized shuffle per round and the files pile up until the disk
  * fills. After the step's EAGER checkpoint the shuffles
  * that appeared during it are dead by construction (retained ROUNDS are
  * checkpointed blocks, never shuffles), so they are removed via
  * [[org.apache.spark.graftbridge.ShuffleBridge]] — the GC path, run on
  * time. Registry set-diff like the RDD tracking, same single-build
  * contract: never run two diffing builds concurrently.
  *
  * `level` sets the checkpoint storage (r12): the default MEMORY_AND_DISK
  * stores DESERIALIZED rows and spills them through Java serialization —
  * measured 3-5× inflated for position-scale relations (the 999-tile d86
  * probe died writing exactly those blocks). MEMORY_AND_DISK_SER keeps
  * blocks as compact serialized (and, with spark.rdd.compress, LZ4'd)
  * bytes in memory AND on disk — the right level when a round relation
  * is corpus-sized. */
final class RoundCheckpointer(sc: SparkContext,
                              freeSuperseded: Boolean = true,
                              level: org.apache.spark.storage.StorageLevel =
                                org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) {
  private var live: Set[Int] = Set.empty
  private var n = 0

  private def persistedIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  def free(ids: Set[Int]): Unit =
    ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))

  /** Materialize `df` eagerly, free the superseded round, return the
    * checkpointed frame plus the RDD ids this step persisted. */
  def stepTracked(df: DataFrame): (DataFrame, Set[Int]) =
    // the shuffle-registry diff below is only correct when no other
    // diffing build runs concurrently (advisor r12): hold the JVM-wide
    // build lock for the step so a violated contract fails loudly
    // (reentrant when the caller's sweepShuffles bracket already holds it)
    RoundCheckpointer.withBuildLock("stepTracked") {
      val before = persistedIds
      val shBefore = org.apache.spark.graftbridge.ShuffleBridge.activeShuffleIds(sc)
      val out = df.localCheckpoint(true, level) // eager: materialize-then-free
      val fresh = persistedIds -- before
      if (freeSuperseded) free(live)
      val shFresh =
        org.apache.spark.graftbridge.ShuffleBridge.activeShuffleIds(sc) -- shBefore
      RoundCheckpointer.assertNoForeignJobs(sc, "stepTracked")
      org.apache.spark.graftbridge.ShuffleBridge.removeShuffles(sc, shFresh)
      live = fresh
      n += 1
      if (n % RoundCheckpointer.GcEvery == 0) System.gc()
      (out, fresh)
    }

  def step(df: DataFrame): DataFrame = stepTracked(df)._1
}

object RoundCheckpointer {
  /** Steps between the GC nudges of [[RoundCheckpointer.stepTracked]]. */
  private val GcEvery = 4

  /** One-shot form of the round hygiene for memoized FINAL results (the
    * p1 / dynamic-row stores): run `build`, eagerly checkpoint its result,
    * then free every block the build persisted along the way (interior
    * eager localCheckpoints — the shared base aggregate, the fused cell
    * layer). Those blocks are superseded the moment the final bytes
    * exist; left alone they orphan one block set per (session, dataset)
    * until the ContextCleaner notices — the class the round-10 advisor
    * flagged on spanRemoval. Interior ids are the set-diff taken BETWEEN
    * build evaluation and the final checkpoint, so a caller's pre-existing
    * blocks and the output's own checkpoint are never touched.
    *
    * The interior-id set is a GLOBAL registry diff, so it is only correct
    * when exactly one build runs at a time and the build does not nest
    * another materializeFinal (advisor r10: a concurrent or nested build's
    * localCheckpoint blocks would land in this build's diff and be freed —
    * truncated lineage cannot recompute, the exact
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND class this file warns about). Both
    * are enforced loudly: builds serialize on the JVM-wide timed lock, and
    * same-thread nesting of materializeFinal INSIDE materializeFinal fails
    * the require below (tracked by a dedicated thread-local, r14: the lock
    * itself is shared with the other diffing brackets, and an outer
    * sweepShuffles — e.g. the bench per-query hygiene wrapper — is a SAFE
    * parent for this diff, so holding the lock is no longer the test).
    * CROSS-thread nesting — an outer build that awaits a result another
    * thread produces via materializeFinal — would deadlock under a plain
    * monitor; the timed acquire turns that into a loud failure naming the
    * owning thread (advisor r11). Builds must never await other threads
    * that call materializeFinal. */
  def materializeFinal(sc: SparkContext, coalesceTo: Int)
                      (build: => DataFrame): DataFrame = {
    // The no-nesting contract protects the RDD-registry diff below from an
    // INNER materializeFinal (its checkpoint blocks would land in the outer
    // diff and be freed while live). r13 enforced it as
    // !buildLock.isHeldByCurrentThread — but the lock is shared with the
    // OTHER diffing brackets, and an outer sweepShuffles bracket (the bench
    // per-query hygiene mode wraps every query in one) holds it too, so
    // hygiene sweeps failed every materializeFinal query (caught by this
    // round's sf10 sweep: m5/p1/p4/p8/w4/w5 all errored). A sweepShuffles
    // parent is safe for THIS diff — it tracks shuffle ids, never RDD ids —
    // so the guard now tests specifically "inside another materializeFinal"
    // (thread-local), and the lock acquire is the shared reentrant helper.
    require(!inMaterializeFinal.get(),
      "materializeFinal must not nest: an inner build's checkpoint blocks " +
        "would land in the outer registry diff and be freed while live")
    withBuildLock("materializeFinal") {
      inMaterializeFinal.set(true)
      try materializeFinalImpl(sc, coalesceTo)(build)
      finally inMaterializeFinal.set(false)
    }
  }

  private val inMaterializeFinal: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  private def materializeFinalImpl(sc: SparkContext, coalesceTo: Int)
                                  (build: => DataFrame): DataFrame = {
      val before = sc.getPersistentRDDs.keySet.toSet
      // NOTE (r14): r13 set a 64k AQE coalescing floor
      // (spark.sql.adaptive.coalescePartitions.minPartitionSize) here to
      // widen the drive's cheap-bytes/heavy-CPU final stages. The warm
      // interleaved A/Bs it was justified by did not survive the
      // deployment condition: under the driver's cold-JVM full-registry
      // protocol the wide stages of ~500-column codegen'd projections pay
      // per-task first-call JIT + GC contention, and p1/w4 regressed 2-3x
      // (p1 10.7 -> 30.4 s, w4 6.7 -> 15.5 s vs r12). Reverted; the
      // default 1 MB floor's narrow-but-warm stages win cold.
      val built = build // interior eager checkpoints materialize here
      val interior = sc.getPersistentRDDs.keySet.toSet -- before
      val out = built.coalesce(coalesceTo).localCheckpoint(true)
      interior.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      out
  }

  /** Run `build` and then drop EVERY shuffle registered during it (r12,
    * the d86 disk-lifecycle fix's outer bracket). The per-step diffs in
    * [[RoundCheckpointer.stepTracked]] bound within-loop accumulation;
    * this sweep catches the strays created BETWEEN steps (bounds scans,
    * convergence probes, the isEmpty checks). Caller contract: the value
    * `build` returns must not depend on interior shuffles — true when
    * every returned relation reads only eager-checkpoint blocks and raw
    * sources (the suffix-family boundary invariant). A swept shuffle some
    * lazy stray still references is recomputed from lineage, never lost. */
  def sweepShuffles[A](sc: SparkContext)(build: => A): A =
    // serialize the whole diffing bracket on the JVM-wide build lock
    // (advisor r12): a concurrent diffing build would see this bracket's
    // shuffles in ITS diff and unregister them mid-execution — the
    // documented single-build contract, now enforced loudly rather than
    // corrupting an unrelated query's shuffle state. Reentrant, so nested
    // brackets (spanRemoval's inner stepTracked) compose.
    withBuildLock("sweepShuffles") {
      import org.apache.spark.graftbridge.ShuffleBridge
      val before = ShuffleBridge.activeShuffleIds(sc)
      val out = build
      assertNoForeignJobs(sc, "sweepShuffles")
      ShuffleBridge.removeShuffles(sc,
        ShuffleBridge.activeShuffleIds(sc) -- before)
      out
    }

  /** Eager localCheckpoint that PRESERVES the plan's output partitioning
    * under AQE (r12 find, the w4/p1 job-count task). Dataset.localCheckpoint
    * copies `physicalPlan.outputPartitioning` into the LogicalRDD leaf —
    * but with AQE enabled the physical plan is the un-finalized
    * AdaptiveSparkPlanExec, whose outputPartitioning is UNKNOWN, so a
    * `repartition(key).localCheckpoint()` fold silently loses its
    * partitioning and every downstream per-key window/distinct/join
    * re-plans its own exchange (the w4 drive's warm AQE plan paid ~6
    * shuffle stages — each one an AQE stage-materialization JOB — that
    * the static plan avoids). Disabling AQE around just this
    * materialization makes the checkpoint leaf report hashpartitioning;
    * downstream queries (AQE on) honor leaf partitioning through
    * EnsureRequirements. The conf flip is session-global for the duration
    * of this one materialization — enforced in code (advisor r12): the
    * flip runs under the JVM-wide build lock via [[withBuildLock]]
    * (reentrant, so drive builds already holding it compose), so a future
    * caller outside any build cannot silently disable AQE for queries
    * planned concurrently, and a thrown build restores the conf before
    * the lock releases. */
  def checkpointPartitioned(df: DataFrame): DataFrame =
    withBuildLock("checkpointPartitioned") {
      val sess = df.sparkSession
      val key = "spark.sql.adaptive.enabled"
      val prev = sess.conf.get(key)
      sess.conf.set(key, "false")
      try df.localCheckpoint()
      finally sess.conf.set(key, prev)
    }

  /** Acquire the JVM-wide build lock (timed, loud on timeout, REENTRANT —
    * unlike materializeFinal, which additionally forbids nesting because
    * its RDD-registry diff cannot tolerate an inner build). All
    * registry-diffing brackets (shuffle sweeps, per-step shuffle frees,
    * the AQE conf flip) serialize here, so a violated single-build
    * contract fails loudly instead of corrupting another build's state
    * (advisor r12). */
  private[graft] def withBuildLock[A](site: String)(f: => A): A = {
    if (!buildLock.tryLock(lockTimeoutSec, java.util.concurrent.TimeUnit.SECONDS))
      throw new IllegalStateException(
        s"$site: build lock held > ${lockTimeoutSec}s by thread " +
          s"'${Option(owner).map(_.getName).getOrElse("?")}' — a second " +
          "diffing build is running concurrently; serialize builds at the caller")
    owner = Thread.currentThread()
    try f finally {
      if (buildLock.getHoldCount == 1) owner = null
      buildLock.unlock()
    }
  }

  /** Loud-failure guard before unregistering a shuffle diff (advisor r12):
    * the lock serializes diffing BUILDS, but a plain concurrent query on
    * the shared SparkContext takes no lock — if one is mid-flight when a
    * bracket closes, its in-progress shuffle could sit in the diff and be
    * removed under it (fetch failures / failed registerMapOutput). This
    * thread's own actions have returned by now, so after a short drain
    * (the status store is fed asynchronously) any still-active job is
    * foreign → fail before corrupting it. */
  private[graft] def assertNoForeignJobs(sc: SparkContext, site: String): Unit = {
    val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
    var active = sc.statusTracker.getActiveJobIds()
    while (active.nonEmpty && System.nanoTime < deadline) {
      Thread.sleep(25)
      active = sc.statusTracker.getActiveJobIds()
    }
    if (active.nonEmpty) throw new IllegalStateException(
      s"$site: jobs ${active.mkString(",")} still active at sweep time — " +
        "a concurrent query is running on this SparkContext; its shuffles " +
        "may sit in this bracket's diff. Quiesce other queries first.")
  }

  /** Generous: real builds run minutes at sf10; only a true deadlock waits
    * this long with zero progress. */
  private val lockTimeoutSec = 1800L
  private val buildLock = new java.util.concurrent.locks.ReentrantLock
  @volatile private var owner: Thread = null
}
