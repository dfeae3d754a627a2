package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Local-store I/O settings of [[makeSession]]; neither changes what is
    * written. `fs.file.impl` swaps in [[graft.sinks.LocalFs]] (no `chmod`
    * fork per created file); it goes through the builder so it is in the
    * Hadoop conf before the first `file:` FileSystem is created and cached.
    * The discovery threshold keeps partition listing on the driver: under
    * `local[N]` a listing job runs on driver threads anyway and only adds
    * scheduling (the 144-directory p1 store would otherwise launch one). */
  val localStoreConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[graft.sinks.LocalFs].getName,
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> Int.MaxValue.toString)

  def makeSession(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // Polars/DuckDB-style null-on-error semantics (x/0 -> NULL, bad cast
      // -> NULL) instead of ANSI runtime errors — parity with the oracle.
      .config("spark.sql.ansi.enabled", "false")
      // LZ4 the SERIALIZED persist levels (r12): only MEMORY_*_SER blocks
      // are affected — the suffix family stores position-scale phase
      // checkpoints that way, and compressed longs are several-fold
      // smaller on the disk the 999-tile probe exhausted.
      .config("spark.rdd.compress", "true")
      // Codegen class cache sized to the REGISTRY, not the 100-entry
      // default (r13, guide §1.2 order-of-operations: per-task work):
      // 236 registered queries compile thousands of distinct
      // whole-stage/expression codegen units, so at 100 entries every
      // bench round (and every Verify pass) evicts and recompiles
      // nearly all of them — pure driver-side janino+JIT churn.
      // Driver-JVM cache sizing, scale-INDEPENDENT (identical on any
      // cluster; metaspace cost ~hundreds of MB worst case in an 8 GB
      // driver). Measured same-box full-bench A/B at sf0.1:
      // total 228.1 s -> 184.3 s, leg-min total 198.6 -> 155.1 s.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config(localStoreConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec alone to ERROR: the bucket-histogram windows in
    // core/Indexing.scala are global by design, and their per-plan
    // `No Partition Defined` WARN otherwise floods the log tail.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: run only these queries (local dev shortcut;
    // the driver always passes exactly two args → full run). Unknown names
    // fail loudly — a typo'd filter would otherwise verify nothing and
    // exit 0.
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = makeSession(cpus)
    new java.io.File(outDir).mkdirs()
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => only(k) }
    val failed = selected.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        // stdout too — stderr is routinely discarded and a throwing query
        // must not silently vanish from the gate
        println(s"[verify] FAILED $name: ${e.getMessage}")
        Some(name)
      }
    }
    if (failed.nonEmpty)
      println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // manifest of the selected registry (full registry on a driver run) so
    // the compare tool can flag queries whose output is missing (threw
    // above) instead of skipping them silently
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      selected.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    // rows-only sandwich manifest (r12 task 6): compare fails a rows-only
    // query whose declared oracle-gated twins are missing or failing. The
    // registry itself (allDefs, evaluated above) already refuses dangling
    // or oracle-less twin declarations.
    Files.writeString(Paths.get(s"$outDir/twins.json"),
      SparkEntry.twinManifest.toSeq.sortBy(_._1)
        .map { case (k, ts) => s"${q(k)}: ${ts.map(q).mkString("[", ",", "]")}" }
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
