package graft

/** Profiling tool (dev, like GenScale/ProbeDeep). Two modes:
  *
  *   StageProfile qtrace <sfDir> <query> [reps]
  *     prints a [[QueryTrace]] of one registered query: per rep the wall,
  *     rows, job count, job sum, driver gap and Catalyst phase times, then
  *     one line per job (duration, tasks, task time, shuffle read/write,
  *     spill, GC, callsite). Rep 1 pays JIT/codegen; later reps time the
  *     plan.
  *   StageProfile streamsf10 <sfDir>
  *     drives the four stream transforms through `EventStreams.runAvailableNow`
  *     over a real file stream on both state-store providers and prints
  *     rows/s, micro-batches and state-store rows/bytes from the engines'
  *     progress metrics, which a job trace cannot see.
  *
  * Run with `tools/jrun.sh graft.StageProfile <mode> ...` (SPARK_GRAFT_CPUS
  * sets the local cores, default 32).
  */
object StageProfile {
  private def size(bytes: Long): String =
    if (bytes < (1L << 20)) f"${bytes / 1024.0}%.1f KB"
    else f"${bytes / 1048576.0}%.1f MB"

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("qtrace")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = Verify.makeSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    mode match {
      case "qtrace" =>
        val qname = args.lift(2).getOrElse(sys.error("qtrace needs a query name"))
        val reps = args.lift(3).map(_.toInt).getOrElse(2)
        val query = SparkEntry.queries(qname)
        QueryTrace.run(spark, reps)(query(spark, dir)).zipWithIndex.foreach {
          case (rep, i) =>
            val phases = QueryTrace.Phases.map(p =>
              f"$p=${rep.phasesS.getOrElse(p, 0.0)}%.3f s").mkString(" ")
            println(f"[profile] r${i + 1} $qname wall=${rep.wallS}%.2f s rows=${rep.rows} " +
              f"jobs=${rep.jobs.size} jobsum=${rep.jobSumS}%.2f s " +
              f"gap=${rep.driverGapS}%.2f s $phases")
            rep.jobs.foreach { j =>
              println(f"[profile]   job ${j.id}%3d ${j.seconds}%6.2f s tasks=${j.tasks}%4d " +
                f"ttime=${j.taskMs / 1e3}%6.2f s shuffle r/w=${size(j.shuffleReadBytes)}/" +
                f"${size(j.shuffleWriteBytes)} spill=${size(j.spillBytes)} " +
                f"gc=${j.gcMs / 1e3}%.2f s  ${j.site.take(70)}")
            }
        }
      case "streamsf10" =>
        // r12 verdict task 5: the s-family at scale — a REAL file-stream
        // over the sfDir events table (every prior judged surface was a
        // batch twin at sf0.1 or a MemoryStream spec). Drives the four
        // AvailableNow drivers over time-ordered sliced input on BOTH
        // state-store providers; records rows/s, micro-batch count, and
        // state-store rows/bytes from the engine's own progress metrics.
        import org.apache.spark.sql.functions.col
        val events = graft.core.Tables.events(spark, dir)
          .select(col("user_id"), col("ts"), col("event_type"), col("value"))
        val inDir = "target/streamprobe/input"
        // time-ordered file slices: a real feed arrives roughly in event
        // order, and the watermark only advances usefully when it does
        events.repartitionByRange(24, col("ts"))
          .write.mode("overwrite").parquet(inDir)
        val nIn = spark.read.parquet(inDir).count()
        println(s"[profile] input rows: $nIn (24 time-ranged files)")
        val schema = org.apache.spark.sql.Encoders
          .product[graft.streaming.EventStreams.EventIn].schema
        val slice = Map("maxFilesPerTrigger" -> "4") // ~6 micro-batches
        val providers = Seq(
          "hdfs" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
          "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        import graft.streaming.EventStreams
        val transforms: Seq[(String, org.apache.spark.sql.DataFrame =>
            org.apache.spark.sql.Dataset[_])] = Seq(
          ("s1_hourly", EventStreams.hourlyByType(_, withWatermark = true)),
          ("s3_dedup", EventStreams.firstPerKeyStream),
          ("s5_sliding", EventStreams.slidingByType(_, withWatermark = true)),
          ("sessions_fmgws", df => EventStreams.closedSessions(
            df.as(org.apache.spark.sql.Encoders.product[EventStreams.EventIn]),
            gapMinutes = 30)))
        val drivers = transforms.map { case (name, transform) =>
          (name, (out: String, ck: String) => EventStreams.runAvailableNow(
            spark, inDir, out, ck, schema, slice)(transform))
        }
        for ((provName, provClass) <- providers) {
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", provClass)
          for ((name, drive) <- drivers) {
            val base = s"target/streamprobe/$provName/$name"
            val fs = new java.io.File(base)
            def rm(f: java.io.File): Unit = {
              if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
            if (fs.exists) rm(fs)
            val t0 = System.nanoTime()
            val q = drive(s"$base/out", s"$base/ck")
            q.awaitTermination()
            val wall = (System.nanoTime() - t0) / 1e9
            val prog = q.recentProgress
            val batches = prog.count(_.numInputRows > 0)
            val inRows = prog.map(_.numInputRows).sum
            val st = prog.reverse.find(_.stateOperators.nonEmpty)
              .map(_.stateOperators.map(s =>
                (s.numRowsTotal, s.memoryUsedBytes)).toSeq)
              .getOrElse(Seq.empty)
            val outRows = spark.read.parquet(s"$base/out").count()
            println(f"[profile] $provName%-8s $name%-16s wall=$wall%7.1f s " +
              f"rows/s=${inRows / math.max(wall, 1e-9)}%,.0f batches=$batches " +
              s"in=$inRows out=$outRows state(rows,bytes)=${st.mkString(";")}")
          }
        }
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      case other => sys.error(s"unknown mode '$other' — use qtrace | streamsf10")
    }
    spark.stop()
  }
}
