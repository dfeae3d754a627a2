package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.operators.Validation

/** Sink layer (SURVEY §2.2): zstd parquet (K1), atomic write + change
  * detection (K2), status JSON (K3), audit sidecars (K4), ticker list (K5).
  * Driver-side JSON/text stays driver-side (tiny); everything row-shaped is
  * a distributed write.
  */
object Sinks {

  /** K1: zstd parquet, partitioned by `partitionBy` (none when empty). */
  def writeParquet(df: DataFrame, path: String,
                   partitionBy: Seq[String]): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).option("compression", "zstd")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** K2: write-if-changed. Spark parquet bytes aren't stable run-to-run, so
    * change detection hashes content (order-independent) instead of
    * comparing file bytes; returns true when the store changed. */
  def writeIfChanged(df: DataFrame, path: String,
                     previousHash: Option[String]): (Boolean, String) = {
    val h = contentHash(df)
    if (previousHash.contains(h)) (false, h)
    else { writeParquet(df, path, Nil); (true, h) }
  }

  /** Order-independent content hash: the wrapping 64-bit sum of per-row
    * xxhash64 over all columns (stringified), "empty" for a frame without
    * rows. The sum runs as two sums that cannot overflow below 2^31 rows,
    * of the hashes' signed high halves and unsigned low halves, so ANSI
    * mode never throws; they are recombined modulo 2^64 after collect. */
  def contentHash(df: DataFrame): String = {
    val row = df.select(
      xxhash64(df.columns.map(c => col(c).cast("string")).toSeq: _*).as("h"))
      .agg(sum(shiftright(col("h"), 32)), sum(col("h").bitwiseAND(0xFFFFFFFFL))).head
    if (row.isNullAt(0)) "empty" else ((row.getLong(0) << 32) + row.getLong(1)).toString
  }

  /** K3: run-status JSON (progress/ETA telemetry analog). Driver-side by
    * design: one small file per run. */
  final case class RunStats(total: Long, ok: Long, skipped: Long,
                            flagged: Long, failed: Long,
                            startedAt: String, updatedAt: String)

  def writeStatusJson(stats: RunStats, path: String): Unit = {
    val json =
      s"""{"total": ${stats.total}, "ok": ${stats.ok}, "skipped": ${stats.skipped},
         | "flagged": ${stats.flagged}, "failed": ${stats.failed},
         | "started_at": "${stats.startedAt}", "updated_at": "${stats.updatedAt}"}"""
        .stripMargin.replace("\n", "")
    atomicWriteText(json, path)
  }

  /** B4 run statistics as a DISTRIBUTED frame: per-status row counts,
    * distinct tickers, and the violation-family breakdown (range / jump /
    * nullification). [[runStats]] is the driver-side reduction of this;
    * pipelines that persist run telemetry at scale write this frame. All
    * conditional counts use count(CASE ...) so both this and a SQL twin
    * produce BIGINT (a SUM of ints would be HUGEINT on some engines). */
  def statusCounts(validated: DataFrame): DataFrame = {
    // degrade on minimal/legacy frames (pre-repairLegacyStore stores have
    // no violations column; some callers aggregate keyless status frames)
    val cols = validated.columns.toSet
    val viol = if (cols("violations")) col("violations") else lit("")
    val tick = if (cols("ticker")) col("ticker") else lit(null)
    validated.groupBy("validation_status").agg(
      count(lit(1)).as("n"),
      countDistinct(tick).as("n_tickers") +: Validation.familyCounts(viol): _*)
  }

  /** Stats from a validated feature frame: groupBy(status).count, B4.
    * Deliberately NOT routed through [[statusCounts]]: this driver-side
    * reduction only needs the two plain counts, and the breakdown's
    * countDistinct + substring scans would be paid on every status write. */
  def runStats(validated: DataFrame, startedAt: String,
               updatedAt: String): RunStats = {
    val counts = validated.groupBy("validation_status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ok = counts.getOrElse("ok", 0L)
    val flagged = counts.getOrElse("flagged", 0L)
    RunStats(ok + flagged, ok, 0, flagged, 0, startedAt, updatedAt)
  }

  /** K4: audit sidecar — flagged rows as one text line per violation,
    * written as a distributed text sink under `_audit/`. */
  def writeAuditSidecar(validated: DataFrame, path: String): Unit = {
    validated.filter(col("validation_status") === "flagged")
      .select(concat_ws(" | ", col("ticker"), col("as_of").cast("string"),
        col("violations")).as("value"))
      .write.mode(SaveMode.Overwrite).text(path)
  }

  /** K5: sorted unique ticker list as a single text file (driver-side —
    * the list is small by contract). */
  def writeTickerList(df: DataFrame, path: String): Unit = {
    val tickers = df.select(upper(trim(col("ticker"))).as("t"))
      .distinct().orderBy("t").collect().map(_.getString(0))
    atomicWriteText(tickers.mkString("\n") + "\n", path)
  }

  /** Atomic text write: temp file + move (the reference's .tmp+os.replace). */
  def atomicWriteText(content: String, path: String): Unit = {
    val target = Paths.get(path)
    if (target.getParent != null) Files.createDirectories(target.getParent)
    val tmp = Paths.get(path + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}
