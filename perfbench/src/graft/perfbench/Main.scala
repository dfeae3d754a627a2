package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBusBridge
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, StructType}

import graft.{SparkEntry, Verify}
import graft.analysis.{Analysis, Report}
import graft.core.{RoundCheckpointer, Tables}
import graft.features.TickerFeatures
import graft.functions.{SimHash, TextFns, VectorExprs}
import graft.pipeline.{TickerFeaturePipeline, TickerValidation}
import graft.queries.{DynamicRow, Pipeline}

/** One benchmark run: one JVM, one Spark session on `local[cpus]`, one
  * closed-loop client that issues each op after the previous one returns.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <outDir> <cpus>
  *
  * Set-up (session, prepared inputs, warm-up passes) is followed by passes
  * over the workload's op list until `seconds` have elapsed; every pass runs
  * whole. Each op is timed alone; isolation between passes and every output
  * check run outside the timed region. The seed orders the ops of a pass
  * where their order is free; the program never sees it. Results go to
  * `outDir/result.json`; registry outputs of the first pass go to
  * `outDir/outputs/<op>` for the oracle comparison made after the JVM exits.
  */
object Main {

  /** A timed op. `run` does the measured work and returns the check, which
    * the loop calls after the clock stops: None when the output is right. */
  final case class Op(name: String, run: () => (() => Option[String]))

  final case class OpRecord(name: String, pass: Int, seconds: Double,
                            error: Option[String], layers: Map[String, Double])

  trait Workload {
    /** Builds the inputs set-up prepares on purpose; re-running replaces them. */
    def prepare(): Unit = ()
    /** The ops of one pass, in the order the seed gives them. */
    def pass(rng: scala.util.Random): Seq[Op]
    /** Persisted RDDs and memos that survive isolation between passes. */
    def keepsFeatureMemo: Boolean = false
    def storeDirs: Seq[File] = Nil
    /** Grid cells persisted by one pass (0 when the workload writes no store). */
    def cellsPerPass: Long = 0L
    /** The op whose time is the store read. */
    def readOp: Option[String] = None
    /** Bytes of the store on disk per stored row, from the last pass. */
    def storeBytesPerRow: Option[Double] = None
    /** Untimed passes in set-up: the JIT is still compiling through the first
      * few, and a pass of many distinct short queries settles later. */
    def warmupPasses: Int = 1
    /** Traced-run extras measured after the passes. */
    def extraLayers(): Map[String, Double] = Map.empty
  }

  // ---------------------------------------------------------------- helpers

  private var spark: SparkSession = _
  private def sc: SparkContext = spark.sparkContext

  /** Forces a frame with a noop write; only traced runs pay for it. */
  private def force(name: String, df: DataFrame): Unit =
    if (Spans.on) Spans(name) { df.write.format("noop").mode("overwrite").save() }

  private def deleteTree(f: File): Unit = if (f.exists()) {
    Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
  }

  final case class DirStats(files: Long, bytes: Long, partitionDirs: Long)
  private def dirStats(root: File): DirStats = {
    val paths = Files.walk(root.toPath).iterator().asScala.toSeq
    val data = paths.filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet"))
    DirStats(data.size.toLong, data.map(Files.size).sum,
      paths.count(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("ticker=")).toLong)
  }

  /** Opens a ticker-partitioned store the way a downstream reader does: the
    * partition column back as a string, columns in the written order. */
  private def openStore(path: String, columns: Seq[String]): DataFrame =
    spark.read.parquet(path).withColumn("ticker", col("ticker").cast("string"))
      .select(columns.map(col): _*)

  // ------------------------------------------------- the p1 build by layers

  /** The calls `Pipeline.p1Plan` makes, with its constants, one span per
    * layer, and each layer's output forced in traced runs so its execution
    * time can be separated from the next. A change to p1Plan must be made
    * here too: `pipeline.p1_untraced_s` beside `pipeline.p1_composed_s`
    * shows when the two have drifted apart. */
  private def buildFeatures(dir: String): DataFrame = {
    val in = Spans("sources.inputs") { Pipeline.inputsForProbe(spark, dir) }
    val features = Spans("features.construct") {
      val tickers = in.prices.select("ticker").distinct()
      val grid = TickerFeaturePipeline.grid(spark, tickers, "1997-12-31", 4)
      val tickerEtf = tickers.withColumn("etf", lit("SPY"))
      val etfIndex = Tables.orders(spark, dir)
        .groupBy(col("o_orderdate").cast("date").as("date"))
        .agg(avg(col("o_totalprice")).as("close"))
        .select(lit("SPY").as("etf"), col("date"), col("close"))
      TickerFeatures.dynamicFeaturesSharedIndex(grid, in, tickerEtf, etfIndex,
        minPriceRows = 5,
        seriesPriceBlock = TickerFeatures.choosePriceForm(grid, in.prices))
    }
    force("features.exec", features)
    val validated = TickerValidation.validate(features)
    force("pipeline.validate", validated)
    Spans("pipeline.normalize") {
      RoundCheckpointer.materializeFinal(sc, coalesceTo = 8)(
        TickerFeaturePipeline.normalize(validated).orderBy("ticker", "as_of"))
    }
  }

  private def storeWrite(df: DataFrame, path: String): String = {
    if (Spans.on) Spans("sinks.hash") { TickerFeaturePipeline.contentHash(df) }
    Spans("sinks.write") { TickerFeaturePipeline.writeStore(df, path) }
  }

  private val storeLayers = mutable.Map[String, Double]()
  private def recordStore(path: File): DirStats = {
    val st = dirStats(path)
    storeLayers("sinks.files_written") = storeLayers.getOrElse("sinks.files_written", 0.0) + st.files
    storeLayers("sinks.bytes_written") = storeLayers.getOrElse("sinks.bytes_written", 0.0) + st.bytes
    storeLayers("sinks.partition_dirs") = storeLayers.getOrElse("sinks.partition_dirs", 0.0) + st.partitionDirs
    st
  }

  // ------------------------------------------------------------- workloads

  /** Cold p1 build, full store write, reopen and content hash. */
  final class TickerBuild(dir: String, work: File) extends Workload {
    private val store = new File(work, "store")
    private var cells = 0L
    private var bytesPerRow = 0.0
    private var reference: Option[(Long, String)] = None
    override def storeDirs: Seq[File] = Seq(store)
    override def cellsPerPass: Long = cells
    override def readOp: Option[String] = Some("reopen")
    override def storeBytesPerRow: Option[Double] = Some(bytesPerRow)

    def pass(rng: scala.util.Random): Seq[Op] = {
      var built: DataFrame = null
      var n = 0L
      var written = ""
      Seq(
        Op("build", () => {
          built =
            if (Spans.on) buildFeatures(dir)
            else Pipeline.p1.fn(spark, dir)
          () => {
            n = built.count()
            None
          }
        }),
        Op("write", () => {
          written = storeWrite(built, store.getPath)
          () => {
            bytesPerRow = recordStore(store).bytes.toDouble / n
            cells = n
            None
          }
        }),
        Op("reopen", () => {
          val back = Spans("sinks.open") { openStore(store.getPath, built.columns.toSeq) }
          val h = Spans("sinks.scan") { TickerFeaturePipeline.contentHash(back) }
          () => {
            val rows = back.count()
            val got = (rows, h)
            if (reference.isEmpty) reference = Some((n, written))
            if (h != written || rows != n) Some(s"store read-back ($rows rows, hash $h) != built ($n rows, hash $written)")
            else if (got != reference.get) Some(s"store ($rows, $h) differs from the first pass ${reference.get}")
            else None
          }
        }))
    }
  }

  /** Short ops over the feature table set-up materializes: a fixed sample of
    * the registry's relational, streaming, dynamic-row and multimodal
    * queries, the RF importance fit, the store slice that reads the feature
    * table, three curation queries built on the custom expressions, the
    * feature report and the correlation matrix. Outputs of the first execution are kept for
    * the oracle check; later executions must match them. */
  final class AnalystSession(dir: String) extends Workload {
    // a fixed list, so a change to the registry cannot change what is timed:
    // every twelfth q/s/w/m query by name when the benchmark was defined, few
    // enough distinct ops that the JIT settles within the warm-up passes
    val names: Seq[String] = Seq("m1_macro_pipeline", "q13_corr_stddev",
      "q24_validate_jumps", "q35_history_static_join", "q46_trailing_90d_spend",
      "q57_scd2_intervals", "q68_window_distinct", "q79_mode_freq",
      "q8_max_drawdown", "s10_event_cms", "w3_price_block",
      "p3_rf_importance", "p8_store_price_slice",
      "d7_simhash_dedup", "e8_pq_adc_topk", "e9_pq_codes")
    private val fns = SparkEntry.queries
    private val absent = names.filterNot(fns.contains)
    require(absent.isEmpty, s"analyst_session ops missing from the registry: ${absent.mkString(", ")}")
    val firstOutput = mutable.LinkedHashMap[String, (StructType, Array[Row])]()
    private val fingerprints = mutable.Map[String, String]()
    private var features: DataFrame = _
    private var corrCols: Seq[String] = Nil
    override def keepsFeatureMemo: Boolean = true
    override def warmupPasses: Int = 3

    override def prepare(): Unit = {
      Pipeline.clearMaterialized()
      features = Pipeline.p1.fn(spark, dir)
      // the correlation runs over the float features no row leaves empty
      val floats = features.schema.fields.filter(_.dataType == FloatType).map(_.name)
      val full = features.select(floats.map(c =>
        count(when(col(c).isNotNull && !isnan(col(c)), 1)).as(c)): _*).head()
      val rows = features.count()
      corrCols = floats.filter(c => full.getAs[Long](c) == rows).take(6).toSeq
    }

    private def sameAsFirst(name: String, fp: String): Option[String] =
      fingerprints.get(name) match {
        case None => fingerprints(name) = fp; None
        case Some(f) if f == fp => None
        case Some(_) => Some(s"$name output differs from its first execution")
      }

    private def registryOp(name: String): Op = Op(name, () => {
      val df = Spans("queries.construct") { fns(name)(spark, dir) }
      val rows = Spans("queries.action") { df.collect() }
      () => {
        if (!firstOutput.contains(name)) firstOutput(name) = (df.schema, rows)
        sameAsFirst(name, fingerprint(rows))
      }
    })

    private val analysisOps = Seq(
      Op("report_render", () => {
        val text = Spans("analysis.report") { Report.render(features) }
        () => if (text.isEmpty) Some("empty report") else sameAsFirst("report_render", text)
      }),
      Op("correlation_matrix", () => {
        val rows = Spans("analysis.fit") { Analysis.correlationMatrix(features, corrCols).collect() }
        () => {
          val bad = rows.filterNot(r => r.isNullAt(2) || r.getDouble(2).isNaN ||
            math.abs(r.getDouble(2)) <= 1.0 + 1e-9)
          if (corrCols.size < 2 || rows.length != corrCols.size * (corrCols.size - 1) / 2 || bad.nonEmpty)
            Some(s"correlation matrix over $corrCols malformed: ${rows.length} rows, ${bad.length} out of range")
          else sameAsFirst("correlation_matrix", fingerprint(rows))
        }
      }))

    def pass(rng: scala.util.Random): Seq[Op] = rng.shuffle(names.map(registryOp) ++ analysisOps)

    /** Per-row cost of each custom expression: a noop write of the
      * expression over a widened documents or embeddings table, minus the
      * same write of a trivial expression over the same column. */
    override def extraLayers(): Map[String, Double] = {
      def widened(df: DataFrame, times: Int, c: Column): DataFrame =
        df.crossJoin(spark.range(times).toDF("rep")).select(c.as("c")).localCheckpoint()
      val text = concat(col("text"), lit(" "), col("rep").cast("string"))
      val docs = widened(Tables.documents(spark, dir), 8, text)
      val fewDocs = widened(Tables.documents(spark, dir), 1, text)
      val embs = widened(Tables.embeddings(spark, dir), 400, col("embedding"))
      val dim = embs.head().getSeq[Float](0).size
      val rnd = new scala.util.Random(7)
      val books = Array.fill(8)(Array.fill(16)(Array.fill(dim / 8)(rnd.nextGaussian())))
      def timeOf(df: DataFrame, c: Column): Double = {
        val t0 = System.nanoTime()
        df.select(c.as("x")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }
      def med(df: DataFrame, c: Column): Double = { timeOf(df, c); median((1 to 3).map(_ => timeOf(df, c))) }
      def nsPerRow(df: DataFrame, trivial: Column)(expr: Column): Double =
        (med(df, expr) - med(df, trivial)) / df.count()
      val v = col("c")
      val onEmbs = nsPerRow(embs, size(v)) _
      Map(
        "functions.dot_ns_per_row" -> onEmbs(VectorExprs.dot(v, v)),
        "functions.cosine_ns_per_row" -> onEmbs(VectorExprs.cosine(v, reverse(v))),
        "functions.pq_encode_ns_per_row" -> onEmbs(VectorExprs.pqEncodeCodes(v, books)),
        "functions.pq_lut_ns_per_row" -> onEmbs(VectorExprs.pqLut(v, books)),
        "functions.simhash64_ns_per_row" ->
          nsPerRow(docs, length(v))(SimHash.simhash64(TextFns.tokens(v))),
        "functions.min_shingle_fingerprint_ns_per_row" ->
          nsPerRow(fewDocs, length(v))(TextFns.minShingleFingerprint(v, 5)))
    }
  }

  // ------------------------------------------------------------ measurement

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Row fingerprint for pass-to-pass comparison; doubles to 12 significant
    * digits so a reordered floating sum in the last place is not a change. */
  private def fingerprint(rows: Array[Row]): String = {
    def norm(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN) "NaN" else f"$d%.11e"
      case f: Float => if (f.isNaN) "NaN" else f"${f.toDouble}%.11e"
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case o => o.toString
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((norm(r) + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  final case class Snap(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
                        shuffleRead: Long, shuffleWrite: Long, spill: Long,
                        analysisMs: Long, optimizationMs: Long, planningMs: Long,
                        planNodes: Long, logErrors: Long, gcMs: Long, jitMs: Long)

  def main(argv: Array[String]): Unit = {
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val mainNs = System.nanoTime()
    def sinceJvmStart(): Double = bootS + (System.nanoTime() - mainNs) / 1e9
    val Array(workloadName, seedS, secondsS, traceS, dataDir, outDir, cpusS) = argv
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cpus = cpusS.toInt
    val out = new File(outDir)
    val work = new File(out, "work")
    work.mkdirs()

    Jvm.install()
    spark = Verify.makeSession(cpus.toString)
    // after the session, so Spark's own logging configuration is in place
    if (traced) ErrorLog.install()
    val execL = new ExecListener
    val planL = new PlanListener
    if (traced) {
      sc.addSparkListener(execL)
      spark.listenerManager.register(planL)
    }
    val sessionS = sinceJvmStart()

    val workload: Workload = workloadName match {
      case "ticker_build" => new TickerBuild(dataDir, work)
      case "analyst_session" => new AnalystSession(dataDir)
      case other => sys.error(s"unknown workload $other")
    }
    val rng = new scala.util.Random(seed)

    def snap(): Snap = {
      if (traced) ListenerBusBridge.drain(sc)
      execL.synchronized { planL.synchronized {
        Snap(execL.jobs, execL.stages, execL.tasks, execL.taskMs, execL.shuffleRead,
          execL.shuffleWrite, execL.spill, planL.analysisMs, planL.optimizationMs,
          planL.planningMs, planL.planNodes, ErrorLog.count.get(), Jvm.gcMs, Jvm.jitMs)
      } }
    }

    var keep = Set.empty[Int]
    def isolate(): Unit = {
      if (!workload.keepsFeatureMemo) Pipeline.clearMaterialized()
      DynamicRow.clearMaterialized()
      spark.sharedState.cacheManager.clearCache()
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep(id)) rdd.unpersist(blocking = true)
      }
      workload.storeDirs.foreach(deleteTree)
      System.gc()
    }

    def progress(what: String): Unit =
      System.err.println(f"[perfbench] ${sinceJvmStart()}%.1f s after JVM start: $what")
    progress("session ready")
    val tPrepare = System.nanoTime()
    workload.prepare()
    val prepareS = (System.nanoTime() - tPrepare) / 1e9
    keep = sc.getPersistentRDDs.keySet.toSet
    progress("inputs prepared")
    val tWarm = System.nanoTime()
    val untimedErrors = mutable.ArrayBuffer[String]()
    (1 to workload.warmupPasses).foreach { i =>
      if (i > 1) isolate()
      workload.pass(new scala.util.Random(seed)).foreach { op =>
        try op.run()().foreach(untimedErrors += _)
        catch { case e: Throwable => untimedErrors += s"${op.name}: $e" }
      }
    }
    val warmS = (System.nanoTime() - tWarm) / 1e9
    isolate()
    val setupS = sinceJvmStart()
    progress("set-up done, measuring")

    // measured passes
    Spans.on = traced
    storeLayers.clear()
    execL.resetPeak()
    val records = mutable.ArrayBuffer[OpRecord]()
    val passSeconds = mutable.ArrayBuffer[Double]()
    val compilations0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val gcJit0 = (Jvm.gcMs, Jvm.jitMs)
    val windowStart = System.nanoTime()
    var passNo = 0
    while (passNo == 0 || (System.nanoTime() - windowStart) / 1e9 < seconds) {
      if (passNo > 0) isolate()
      var total = 0.0
      workload.pass(rng).foreach { op =>
        Spans.op = op.name
        val before = if (traced) snap() else null
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val check = try Right(Spans(s"op.${op.name}")(op.run())) catch { case e: Throwable => Left(e) }
        val dt = (System.nanoTime() - t0) / 1e9
        val endMs = System.currentTimeMillis()
        total += dt
        val layers = if (!traced) Map.empty[String, Double] else {
          val after = snap()
          val jobs = execL.synchronized {
            execL.jobIntervals.filter(_._2 >= startMs).map { case (s, e) =>
              (math.max(s, startMs), math.min(e, endMs)) }.filter(i => i._2 > i._1).toSeq
          }
          val jobWallMs = unionLength(jobs)
          Map(
            "catalyst.analysis_s" -> (after.analysisMs - before.analysisMs) / 1e3,
            "catalyst.optimization_s" -> (after.optimizationMs - before.optimizationMs) / 1e3,
            "catalyst.planning_s" -> (after.planningMs - before.planningMs) / 1e3,
            "catalyst.plan_nodes" -> (after.planNodes - before.planNodes).toDouble,
            "exec.jobs" -> (after.jobs - before.jobs).toDouble,
            "exec.stages" -> (after.stages - before.stages).toDouble,
            "exec.tasks" -> (after.tasks - before.tasks).toDouble,
            "exec.task_s" -> (after.taskMs - before.taskMs) / 1e3,
            "exec.job_wall_s" -> jobWallMs / 1e3,
            "exec.driver_gap_s" -> math.max(0.0, dt - jobWallMs / 1e3),
            "exec.shuffle_read_bytes" -> (after.shuffleRead - before.shuffleRead).toDouble,
            "exec.shuffle_write_bytes" -> (after.shuffleWrite - before.shuffleWrite).toDouble,
            "exec.spill_bytes" -> (after.spill - before.spill).toDouble,
            "log.errors" -> (after.logErrors - before.logErrors).toDouble)
        }
        val error = check match {
          case Left(e) => Some(s"threw ${e.getClass.getName}: ${e.getMessage}")
          case Right(verify) =>
            try verify() catch { case e: Throwable => Some(s"check threw $e") }
        }
        error.foreach(e => System.err.println(s"[perfbench] op ${op.name} failed: $e"))
        records += OpRecord(op.name, passNo, dt, error, layers)
      }
      passSeconds += total
      passNo += 1
    }
    val windowS = (System.nanoTime() - windowStart) / 1e9
    Spans.on = false
    progress(s"measured $passNo passes")
    val passes = passNo
    val storeTotals = storeLayers.toMap
    val checkpointPeak = execL.synchronized(execL.blockPeak)
    val gcJit1 = (Jvm.gcMs, Jvm.jitMs)
    val compilations = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs = CodeGenerator.compileTime
    // a traced run also times one untraced pass: the difference is the
    // tracing overhead (span bookkeeping, listener drains, forcing writes)
    val untracedOps: Seq[(String, Double)] = if (!traced) Nil else {
      isolate()
      workload.pass(rng).map { op =>
        val t0 = System.nanoTime()
        val check = op.run()
        val dt = (System.nanoTime() - t0) / 1e9
        check().foreach(e => untimedErrors += s"untraced ${op.name}: $e")
        op.name -> dt
      }
    }
    val untracedPassS = if (traced) Some(untracedOps.map(_._2).sum) else None

    // rows-only ops are judged by their declared twins: run any twin the
    // workload does not already run, once, untimed
    val (dumped, twinsRun) = workload match {
      case r: AnalystSession =>
        val manifest = SparkEntry.twinManifest
        val twins = r.firstOutput.keys.flatMap(n => manifest.getOrElse(n, Nil))
          .filterNot(r.firstOutput.contains).toSeq.distinct
        twins.foreach { t =>
          val df = SparkEntry.queries(t)(spark, dataDir)
          r.firstOutput(t) = (df.schema, df.collect())
        }
        val dumpDir = new File(out, "outputs")
        r.firstOutput.foreach { case (name, (schema, rows)) =>
          spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(new File(dumpDir, name).getPath)
        }
        (r.firstOutput.keys.toSeq, twins)
      case _ => (Nil, Nil)
    }

    progress("outputs kept for the oracle check")
    val extra = if (traced) workload.extraLayers() else Map.empty[String, Double]

    // ------------------------------------------------------------- results
    val opSeconds = records.map(_.seconds).toSeq
    val layerTotals = mutable.LinkedHashMap[String, Double]()
    records.foreach(_.layers.foreach { case (k, v) =>
      layerTotals(k) = layerTotals.getOrElse(k, 0.0) + v })
    val spanTotals = mutable.LinkedHashMap[String, Double]()
    Spans.all.foreach { s =>
      spanTotals(s.name) = spanTotals.getOrElse(s.name, 0.0) + s.seconds }
    def span(n: String): Double = spanTotals.getOrElse(n, 0.0)
    val perPass = mutable.LinkedHashMap[String, Double]()
    if (traced) {
      layerTotals.foreach { case (k, v) => perPass(k) = v / passes }
      perPass("exec.slot_util") =
        layerTotals.getOrElse("exec.task_s", 0.0) / (opSeconds.sum * cpus)
      perPass("sources.inputs_s") = span("sources.inputs") / passes
      perPass("features.construct_s") = span("features.construct") / passes
      perPass("features.exec_s") = span("features.exec") / passes
      perPass("pipeline.validate_s") =
        math.max(0.0, span("pipeline.validate") - span("features.exec")) / passes
      perPass("pipeline.normalize_s") =
        math.max(0.0, span("pipeline.normalize") - span("pipeline.validate")) / passes
      perPass("sinks.hash_s") = span("sinks.hash") / passes
      perPass("sinks.write_s") = math.max(0.0, span("sinks.write") - span("sinks.hash")) / passes
      perPass("sinks.open_s") = span("sinks.open") / passes
      perPass("sinks.scan_s") = span("sinks.scan") / passes
      Seq("sinks.files_written", "sinks.bytes_written", "sinks.partition_dirs").foreach { k =>
        perPass(k) = storeTotals.getOrElse(k, 0.0) / passes }
      perPass("queries.construct_s") = span("queries.construct") / passes
      perPass("queries.action_s") = span("queries.action") / passes
      perPass("analysis.fit_s") = span("analysis.fit") / passes
      perPass("analysis.report_s") = span("analysis.report") / passes
      records.groupBy(_.name).foreach { case (n, rs) =>
        if (n.head == 'd' || n.head == 'e')
          perPass(s"operators.${n.takeWhile(_ != '_')}_s") = median(rs.map(_.seconds).toSeq) }
      perPass("core.checkpoint_bytes_peak") = checkpointPeak.toDouble
      perPass("codegen.compilations") = (compilations - compilations0).toDouble / passes
      perPass("codegen.compile_s") = (compileNs - compileNs0) / 1e9 / passes
      perPass("codegen.run_compilations") = compilations.toDouble
      perPass("codegen.run_compile_s") = compileNs / 1e9
      perPass("jvm.gc_s") = (gcJit1._1 - gcJit0._1) / 1e3 / passes
      perPass("jvm.jit_s") = (gcJit1._2 - gcJit0._2) / 1e3 / passes
      // the traced build composes p1 from its calls; set beside the untraced
      // Pipeline.p1 build, less the forcing writes, a drift between the two shows
      untracedOps.find(_._1 == "build").foreach { case (_, s) =>
        perPass("pipeline.p1_untraced_s") = s
        perPass("pipeline.p1_composed_s") = (span("op.build") - span("features.exec") -
          span("pipeline.validate")) / passes
      }
      extra.foreach { case (k, v) => perPass(k) = v }
    }

    val failedOps = records.count(_.error.nonEmpty)
    val json = new StringBuilder
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
    val oracle = SparkEntry.oracleSql
    val manifest = SparkEntry.twinManifest
    json ++= obj(Seq(
      "workload" -> q(workloadName), "seed" -> seed.toString, "trace" -> (if (traced) "1" else "0"),
      "cpus" -> cpus.toString, "data" -> q(dataDir),
      "session_s" -> num(sessionS), "prepare_s" -> num(prepareS),
      "warmup_s" -> num(warmS), "setup_s" -> num(setupS),
      "untimed_errors" -> untimedErrors.map(q).mkString("[", ",", "]"),
      "window_s" -> num(windowS),
      "untraced_pass_s" -> untracedPassS.map(num).getOrElse("null"),
      "passes" -> passSeconds.map(num).mkString("[", ",", "]"),
      "cells_per_pass" -> workload.cellsPerPass.toString,
      "read_op" -> workload.readOp.map(q).getOrElse("null"),
      "store_bytes_per_row" -> workload.storeBytesPerRow.map(num).getOrElse("null"),
      "heap_peak_mb" -> num(Jvm.heapAfterGcPeak.get / 1048576.0),
      "ops" -> records.map(r => obj(Seq("name" -> q(r.name), "pass" -> r.pass.toString,
        "seconds" -> num(r.seconds), "error" -> r.error.map(q).getOrElse("null"),
        "log_errors" -> num(r.layers.getOrElse("log.errors", 0.0))))).mkString("[", ",", "]"),
      "attempted" -> records.size.toString, "failed" -> failedOps.toString,
      "dumped" -> dumped.map(q).mkString("[", ",", "]"),
      "twins_run" -> twinsRun.map(q).mkString("[", ",", "]"),
      "oracle" -> obj(dumped.flatMap(n => oracle.get(n).map(s => n -> q(s)))),
      "twins" -> obj(dumped.flatMap(n => manifest.get(n).map(t => n -> t.map(q).mkString("[", ",", "]")))),
      "layers" -> obj(perPass.map { case (k, v) => k -> num(v) }),
      "spans" -> Spans.all.map(s => obj(Seq("id" -> s.id.toString, "name" -> q(s.name),
        "parent" -> s.parent.toString, "op" -> q(s.op),
        "start_ns" -> (s.startNs - mainNs).toString, "end_ns" -> (s.endNs - mainNs).toString)))
        .mkString("[", ",", "]")))
    Files.write(Paths.get(outDir, "result.json"), json.toString.getBytes(UTF_8))
    spark.stop()
  }

  /** Length of the union of [start, end) intervals. */
  private def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
