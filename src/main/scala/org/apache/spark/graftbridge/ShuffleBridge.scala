package org.apache.spark.graftbridge

import org.apache.spark.{MapOutputTrackerMaster, SparkContext, SparkEnv}

/** Deterministic shuffle-file cleanup (the d86 ENOSPC fix, r11 verdict
  * task 4). Spark deletes a shuffle's map-output files only when the
  * ContextCleaner notices the ShuffleDependency was garbage-collected —
  * GC-timing-dependent, which lets an iterative build (the suffix-array
  * doubling loop: one positions-sized shuffle per round) accumulate every
  * round's files until the disk fills (measured: ENOSPC at 0.66 G
  * positions with ~70 GB free). Once a round's output is EAGERLY
  * checkpointed, its interior shuffles are dead by construction — this
  * bridge frees them immediately, exactly as ContextCleaner.doCleanupShuffle
  * would eventually: remove the files through the shuffle driver
  * components, then unregister the map outputs.
  *
  * Lives under org.apache.spark because the three members it touches
  * (MapOutputTrackerMaster.shuffleStatuses, containsShuffle,
  * SparkContext.shuffleDriverComponents) are private[spark] — the same
  * pattern as sql.graftbridge.ColumnBridge. Callers own the safety
  * argument: only free ids that appeared DURING a phase whose output has
  * been eagerly checkpointed (registry set-diff), and never run two
  * diffing builds concurrently — the materializeFinal contract. A freed
  * shuffle that some un-checkpointed plan still references is not data
  * loss (lineage recomputes it), just wasted work. */
object ShuffleBridge {

  private def tracker: MapOutputTrackerMaster =
    SparkEnv.get.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]

  /** Shuffle ids currently registered with the driver's map-output
    * tracker (≈ shuffles whose files exist on disk). */
  def activeShuffleIds(sc: SparkContext): Set[Int] =
    tracker.shuffleStatuses.keySet.toSet

  /** Remove the given shuffles' files and map-output registrations —
    * ContextCleaner.doCleanupShuffle, invoked deterministically. Unknown
    * ids are skipped. Returns how many were actually removed. */
  def removeShuffles(sc: SparkContext, ids: Set[Int]): Int = {
    var removed = 0
    ids.foreach { id =>
      if (tracker.containsShuffle(id)) {
        sc.shuffleDriverComponents.removeShuffle(id, true)
        tracker.unregisterShuffle(id)
        removed += 1
      }
    }
    removed
  }
}
