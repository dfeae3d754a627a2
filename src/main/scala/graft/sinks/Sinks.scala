package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Sink layer (SURVEY §2.2): zstd parquet (K1), atomic write + change
  * detection (K2), status JSON (K3), audit sidecars (K4), ticker list (K5).
  * Driver-side JSON/text stays driver-side (tiny); everything row-shaped is
  * a distributed write.
  */
object Sinks {

  /** K1: zstd parquet, optionally partitioned. */
  def writeParquet(df: DataFrame, path: String,
                   partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).option("compression", "zstd")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** K6 format-matrix batch write: parquet+zstd is the default store, ORC the
    * columnar alternative, CSV/JSON the interchange escapes. One code
    * path, format picked by name — at scale the columnar pair keeps
    * predicate pushdown + column pruning; the text pair exists for
    * hand-off, never for re-reading at volume (no pushdown, full parse).
    * CSV writes a header so the roundtrip keeps column names; timestamps
    * are written as ISO micros in UTC on every format. */
  def writeFormat(df: DataFrame, path: String, format: String): Unit = {
    val w = df.write.mode("overwrite")
    format match {
      case "parquet" => w.option("compression", "zstd").parquet(path)
      case "orc"     => w.option("compression", "zstd").orc(path)
      case "csv"     => w.option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").csv(path)
      case "json"    => w
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").json(path)
      case other     => throw new IllegalArgumentException(
        s"unsupported sink format: $other (parquet|orc|csv|json)")
    }
  }

  /** Read back what `writeFormat` wrote. CSV/JSON lose type information in
    * transit — the caller supplies the schema to restore it (schema-less
    * inference is non-deterministic at scale: it samples). */
  def readFormat(spark: org.apache.spark.sql.SparkSession, path: String,
                 format: String,
                 schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read
    format match {
      case "parquet" => r.parquet(path)
      case "orc"     => r.orc(path)
      case "csv"     =>
        val base = r.option("header", "true")
          .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
        schema.map(base.schema).getOrElse(base).csv(path)
      case "json"    =>
        val base = r.option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
        schema.map(base.schema).getOrElse(base).json(path)
      case other     => throw new IllegalArgumentException(
        s"unsupported source format: $other (parquet|orc|csv|json)")
    }
  }

  /** Dynamic partition overwrite: replace ONLY the partitions present in
    * `df`, leaving every other partition's files untouched — the physical
    * form of U6 replace-partition (q37 is the logical form). With static
    * overwrite (the default) this write would TRUNCATE the whole store;
    * at 100 TB that difference is the job. Session conf is set per-write
    * and restored, so the sink can't silently change other writers'
    * semantics. */
  def overwritePartitionsDynamic(df: DataFrame, path: String,
                                 partitionBy: Seq[String]): Unit = {
    require(partitionBy.nonEmpty, "dynamic overwrite needs partition columns")
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try df.write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .partitionBy(partitionBy: _*).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Small-files compaction for a partitioned parquet store — the standing
    * maintenance job every streaming/incremental sink accumulates toward:
    * each micro-batch appends a file per partition, and a year of
    * 5-minute batches is 100k tiny files whose open/footer cost dwarfs the
    * data. Strategy: count files per partition directory (driver-side
    * listing, O(partitions)), and rewrite ONLY partitions exceeding
    * `maxFilesPerPartition` — each coalesced to `targetFiles` — through
    * dynamic partition overwrite, so healthy partitions keep their files
    * byte-for-byte. Returns the rewritten partition values.
    *
    * @param partitionCol single partition column (the common case; the
    *   pattern extends to nested partitioning by listing deeper) */
  def compactPartitions(spark: org.apache.spark.sql.SparkSession, path: String,
                        partitionCol: String, maxFilesPerPartition: Int = 8,
                        targetFiles: Int = 1): Seq[String] = {
    // Hadoop FileSystem API, not java.io.File: the store is an object-store
    // or HDFS path at scale, and listStatus can't return null the way
    // File.listFiles does on races/permissions (it throws instead).
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(root) && fs.getFileStatus(root).isDirectory,
      s"no store at $path")
    def dataFiles(dir: org.apache.hadoop.fs.Path): Int =
      if (!fs.exists(dir)) 0
      else fs.listStatus(dir).count { st =>
        val n = st.getPath.getName
        st.isFile && n.endsWith(".parquet") && !n.startsWith(".")
      }
    val fragmented = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partitionCol="))
      .filter(st => dataFiles(st.getPath) > maxFilesPerPartition)
      .map(_.getPath.getName.stripPrefix(s"$partitionCol="))
      .toSeq
    fragmented.foreach { escaped =>
      // directory names carry Hive path-escaping (":" -> "%3A", null ->
      // the default-partition sentinel) — unescape before comparing to
      // COLUMN values or the filter silently matches nothing
      val pred =
        if (escaped == "__HIVE_DEFAULT_PARTITION__") col(partitionCol).isNull
        else col(partitionCol) ===
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(escaped)
      // read THROUGH the store root (not the partition dir) so the
      // partition column survives; filter prunes to the one partition.
      // localCheckpoint materializes the partition BEFORE the overwrite —
      // without it Spark rejects writing a path that the plan still reads
      // (and the write would otherwise race its own input)
      val part = spark.read.parquet(path)
        .filter(pred)
        .coalesce(targetFiles)
        .localCheckpoint()
      overwritePartitionsDynamic(part, path, Seq(partitionCol))
      // a value/dir mismatch would make the overwrite a silent no-op —
      // fail loudly instead of reporting a partition as compacted
      val after = dataFiles(
        new org.apache.hadoop.fs.Path(root, s"$partitionCol=$escaped"))
      require(after <= targetFiles,
        s"compaction of $partitionCol=$escaped left $after files " +
          s"(expected <= $targetFiles) — partition filter matched nothing?")
    }
    fragmented
  }

  /** K2: write-if-changed. Spark parquet bytes aren't stable run-to-run, so
    * change detection hashes content (order-independent) instead of
    * comparing file bytes; returns true when the store changed. */
  def writeIfChanged(df: DataFrame, path: String,
                     previousHash: Option[String]): (Boolean, String) = {
    val h = contentHash(df)
    if (previousHash.contains(h)) (false, h)
    else { writeParquet(df, path); (true, h) }
  }

  /** Order-independent content hash: the sum of per-row xxhash64 over all
    * columns (stringified), "empty" for a frame without rows. */
  def contentHash(df: DataFrame): String = {
    val row = df.select(
      xxhash64(df.columns.map(c => col(c).cast("string")).toSeq: _*).as("h"))
      .agg(sum(col("h"))).head
    if (row.isNullAt(0)) "empty" else row.getLong(0).toString
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
      countDistinct(tick).as("n_tickers"),
      count(when(viol.contains("out-of-bounds"), 1)).as("n_range"),
      count(when(viol.contains("abnormal change"), 1)).as("n_jump"),
      count(when(viol.contains("nullified"), 1)).as("n_nullified"))
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
