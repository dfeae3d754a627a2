package graft

import org.apache.spark.sql.functions._
import graft.sources.Sources
import graft.sinks.Sinks
import java.nio.file.Files

class SourcesSinksSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = java.sql.Date.valueOf(s)

  test("coverage assertion passes within grace, fails outside") {
    val df = Seq(("A", d("1995-01-05")), ("A", d("2001-06-28")))
      .toDF("k", "date")
    Sources.assertCoverage(df, "date", "1995-01-01", "2001-06-30", graceDays = 7)
    intercept[Sources.ServerError] {
      Sources.assertCoverage(df, "date", "1994-01-01", "2001-06-30", graceDays = 7)
    }
    intercept[Sources.NotFound] {
      Sources.assertCoverage(df.filter(lit(false)), "date", "1995-01-01", "1995-02-01")
    }
    // two keys: A covers the range within grace, B starts two months late
    val two = df.unionByName(Seq(("B", d("1995-03-01")), ("B", d("2001-06-30")))
      .toDF("k", "date"))
    val perKey = Sources.coverage(two, Seq("k"), "date", "1995-01-01", "2001-06-30", 7)
      .orderBy("k").select("k", "actual_start", "covered")
      .as[(String, java.sql.Date, Boolean)].collect()
    assert(perKey.toSeq == Seq(("A", d("1995-01-05"), true), ("B", d("1995-03-01"), false)))
    // the throwing form is the no-key frame: the union spans the range,
    // B alone does not
    Sources.assertCoverage(two, "date", "1995-01-01", "2001-06-30")
    intercept[Sources.ServerError] {
      Sources.assertCoverage(two.filter(col("k") === "B"), "date", "1995-01-01", "2001-06-30")
    }
  }

  test("defaultDateRange: quarter snap to last completed quarter, day clamp") {
    import java.time.LocalDate
    // Feb 2026 -> last completed quarter end is 2025-12-31
    assert(Sources.defaultDateRange(5, LocalDate.of(2026, 2, 10), quarterMode = true)
      == ("2020-12-31", "2025-12-31"))
    // July -> Q2 end
    assert(Sources.defaultDateRange(1, LocalDate.of(2026, 7, 1), quarterMode = true)
      == ("2025-06-30", "2026-06-30"))
    // leap-day clamp: 2024-02-29 minus 1 year -> 2023-02-28
    assert(Sources.defaultDateRange(1, LocalDate.of(2024, 2, 29))
      == ("2023-02-28", "2024-02-29"))
  }

  test("topKMostRecent keeps k latest per entity") {
    val df = Seq(("A", d("2024-01-01"), 1), ("A", d("2024-02-01"), 2),
      ("A", d("2024-03-01"), 3), ("B", d("2024-01-01"), 9))
      .toDF("k", "date", "v")
    val out = Sources.topKMostRecent(df, 2, Seq("k"), "date", Seq("v"))
      .select("v").as[Int].collect()
    assert(out.toSeq == Seq(2, 3, 9))
    // two rows on B's latest date: the larger tie-break value is the more
    // recent, whatever the input order
    val tied = df.unionByName(Seq(("B", d("2024-05-01"), 7), ("B", d("2024-05-01"), 8))
      .toDF("k", "date", "v")).repartition(3)
    val top1 = Sources.topKMostRecent(tied, 1, Seq("k"), "date", Seq("v"))
      .select("k", "v").as[(String, Int)].collect()
    assert(top1.toSeq == Seq(("A", 3), ("B", 8)))
  }

  test("sliceWithGrace keeps rows within [lo-grace, hi+grace] (S3)") {
    val series = Seq(
      ("T", d("2023-09-30"), 1.0), // 2023-10-01 - 3m = 2023-07-01: inside
      ("T", d("2023-06-30"), 2.0), // before lo-grace: out
      ("T", d("2024-02-29"), 3.0), // 2023-12-31 + 3m = 2024-03-31: inside
      ("T", d("2024-04-01"), 4.0)  // after hi+grace: out
    ).toDF("ticker", "date", "dividend")
    val out = Sources.sliceWithGrace(series, "date", "2023-10-01", "2023-12-31")
      .select("dividend").as[Double].collect().toSet
    assert(out == Set(1.0, 3.0))
  }

  test("ticker list source trims, uppercases, drops blanks") {
    val tmp = Files.createTempDirectory("graft-test").resolve("tickers.txt")
    Files.writeString(tmp, " aapl \nMSFT\n\n tsla\n")
    val out = Sources.tickerList(spark, tmp.toString)
      .orderBy("ticker").as[String].collect()
    assert(out.toSeq == Seq("AAPL", "MSFT", "TSLA"))
  }

  test("universe CSV source: skip header rows, Equity filter, ticker regex, dedupe (S9)") {
    val tmp = Files.createTempDirectory("graft-test").resolve("universe.csv")
    val header = (1 to 10).map(i => s"junk header $i,,,").mkString("\n")
    val body = Seq(
      "aapl,Apple,US,Equity",
      "MSFT,Microsoft,US,Equity",
      "msft,Microsoft dup,US,Equity",
      "CASH_USD,Cash,US,Cash",      // not Equity
      "TOOLONGSYM,Bad,US,Equity",   // fails [A-Z.]{1,6}
      "BRK.B,Berkshire,US,Equity").mkString("\n")
    Files.writeString(tmp, header + "\n" + body + "\n")
    val out = Sources.universeCsv(spark, tmp.toString, skipRows = 10)
      .orderBy("ticker").as[String].collect()
    assert(out.toSeq == Seq("AAPL", "BRK.B", "MSFT"))
  }

  test("universe HTML scrape: first table with a Symbol/Ticker header, raw-symbol regex (S9)") {
    val tmp = Files.createTempDirectory("graft-test").resolve("sp500.html")
    Files.writeString(tmp, """<html><body>
      <table><tr><th>Rank</th><th>Name</th></tr>
        <tr><td>1</td><td>Not the constituents table</td></tr></table>
      <table class="wikitable">
        <tr><th>Symbol</th><th>Security</th><th>Sector</th></tr>
        <tr><td><a href="/wiki/Apple">AAPL</a></td><td>Apple</td><td>IT</td></tr>
        <tr><td>BRK.B</td><td>Berkshire</td><td>Financials</td></tr>
        <tr><td>^VIX</td><td>index, caret-invalid</td><td>-</td></tr>
        <tr><td>msft</td><td>lowercase is dropped, not uppercased</td><td>IT</td></tr>
        <tr><td>TOOLONGSYM</td><td>over 6 chars</td><td>-</td></tr>
        <tr><td> MMM &amp; Co</td><td>embedded space fails the regex</td><td>-</td></tr>
        <tr><td>AAPL</td><td>duplicate</td><td>IT</td></tr>
      </table></body></html>""")
    val out = Sources.universeHtml(spark, tmp.toString)
      .orderBy("ticker").as[String].collect()
    assert(out.toSeq == Seq("AAPL", "BRK.B"))
    // Nasdaq-100 shape: the symbol column is named Ticker and not first
    val tmp2 = Files.createTempDirectory("graft-test").resolve("ndx.html")
    Files.writeString(tmp2, """<table><tr><th>Company</th><th>Ticker</th></tr>
      <tr><td>NVIDIA</td><td>NVDA</td></tr></table>""")
    assert(Sources.universeHtml(spark, tmp2.toString).as[String].collect().toSeq == Seq("NVDA"))
    // entity decode order: "&amp;lt;" is the literal "&lt;", not "<" —
    // visible through the header match (an escaped header must NOT decode
    // into a matching one)
    val tmpE = Files.createTempDirectory("graft-test").resolve("esc.html")
    Files.writeString(tmpE, """<table><tr><th>&amp;Symbol</th></tr>
      <tr><td>ZZZ</td></tr></table>
      <table><tr><th>Symbol</th></tr><tr><td>IBM</td></tr></table>""")
    assert(Sources.universeHtml(spark, tmpE.toString).as[String].collect().toSeq == Seq("IBM"))
    // no matching table: loud failure, like the reference's raise
    val tmp3 = Files.createTempDirectory("graft-test").resolve("bad.html")
    Files.writeString(tmp3, "<table><tr><th>Nope</th></tr><tr><td>x</td></tr></table>")
    val ex = intercept[IllegalArgumentException] {
      Sources.universeHtml(spark, tmp3.toString)
    }
    assert(ex.getMessage.contains("Symbol/Ticker"))
  }

  test("universe probe: >=5 non-null closes in the trailing 30d window (S9)") {
    val universe = Seq("AAPL", "DEAD", "SPARSE", "OLD").toDF("ticker")
    def day(i: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 6, 1).plusDays(i))
    val prices =
      // AAPL: 6 recent non-null closes -> kept
      (0 until 6).map(i => ("AAPL", day(24 + i), Option(100.0 + i))) ++
      // SPARSE: recent but only 4 non-null (one null row doesn't count)
      (0 until 4).map(i => ("SPARSE", day(26 + i), Option(10.0))) :+
      ("SPARSE", day(25), Option.empty[Double]) :+
      // OLD: plenty of closes but all before the 30d window
      ("OLD", day(-40), Option(5.0))
    val pricesDf = (prices ++ (0 until 6).map(i => ("OLD", day(-40 - i), Option(5.0))))
      .toDF("ticker", "date", "close")
    val kept = Sources.validateUniverse(universe, pricesDf)
      .as[String].collect().toSeq
    assert(kept == Seq("AAPL"))
    // empty history -> empty universe, not a crash
    assert(Sources.validateUniverse(universe, pricesDf.limit(0)).count() == 0)
  }

  test("ticker-list writer: sorted unique symbols, atomic text file (K5)") {
    val df = Seq("msft", "AAPL", " aapl ", "TSLA").toDF("ticker")
    val path = Files.createTempDirectory("graft-sink").resolve("tickers.txt").toString
    Sinks.writeTickerList(df, path)
    assert(Files.readString(java.nio.file.Paths.get(path)) == "AAPL\nMSFT\nTSLA\n")
  }

  test("writeIfChanged detects identical content and skips the second write") {
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val dir = Files.createTempDirectory("graft-sink").resolve("store").toString
    val (changed1, h1) = Sinks.writeIfChanged(df, dir, None)
    assert(changed1)
    val (changed2, h2) = Sinks.writeIfChanged(df, dir, Some(h1))
    assert(!changed2 && h2 == h1)
    // different content -> different hash -> rewrite
    val (changed3, _) = Sinks.writeIfChanged(df.withColumn("v", lit("x")), dir, Some(h1))
    assert(changed3)
    // an empty frame has its own hash, stable across writes
    val empty = df.filter(lit(false))
    val (changed4, h4) = Sinks.writeIfChanged(empty, dir, Some(h1))
    assert(changed4 && h4 == "empty")
    val (changed5, _) = Sinks.writeIfChanged(empty, dir, Some(h4))
    assert(!changed5)
  }

  test("audit sidecar writes one line per flagged row") {
    val df = Seq(("T", d("2024-01-01"), "flagged", "x out-of-bounds"),
      ("U", d("2024-01-01"), "ok", ""))
      .toDF("ticker", "as_of", "validation_status", "violations")
    val dir = Files.createTempDirectory("graft-audit").resolve("_audit").toString
    Sinks.writeAuditSidecar(df, dir)
    val lines = spark.read.text(dir).as[String].collect()
    assert(lines.length == 1 && lines(0).startsWith("T | 2024-01-01"))
  }

  test("format matrix: parquet/orc/csv/json roundtrip values, types via supplied schema") {
    val df = Seq(
      (1L, "alpha,with comma", 2.5, java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456")),
      (2L, "beta \"quoted\"", -0.75, java.sql.Timestamp.valueOf("2024-06-30 23:59:59.999999")))
      .toDF("id", "name", "score", "ts")
    val base = Files.createTempDirectory("graft-fmt").toString
    for (fmt <- Seq("parquet", "orc", "csv", "json")) {
      Sinks.writeFormat(df, s"$base/$fmt", fmt)
      val schema = if (fmt == "csv" || fmt == "json") Some(df.schema) else None
      val back = Sinks.readFormat(spark, s"$base/$fmt", fmt, schema)
      // file sources surface every column nullable — compare name/type only
      assert(back.schema.map(f => (f.name, f.dataType)) ==
        df.schema.map(f => (f.name, f.dataType)), s"$fmt schema drifted")
      val got = back.orderBy("id")
        .as[(Long, String, Double, java.sql.Timestamp)].collect().toSeq
      val want = df.orderBy("id")
        .as[(Long, String, Double, java.sql.Timestamp)].collect().toSeq
      assert(got == want, s"$fmt roundtrip changed values")
    }
    intercept[IllegalArgumentException](Sinks.writeFormat(df, s"$base/x", "avro"))
  }

  test("dynamic partition overwrite replaces only the touched partition") {
    val base = Files.createTempDirectory("graft-dynpart").toString
    val full = Seq((1996, "a", 1.0), (1996, "b", 2.0), (1997, "c", 3.0))
      .toDF("yr", "k", "v")
    Sinks.overwritePartitionsDynamic(full, base, Seq("yr"))
    // rewrite ONLY 1997 with new content
    val patch = Seq((1997, "c2", 30.0)).toDF("yr", "k", "v")
    Sinks.overwritePartitionsDynamic(patch, base, Seq("yr"))
    val back = spark.read.parquet(base)
      .select("yr", "k", "v").as[(Int, String, Double)].collect().toSet
    assert(back == Set((1996, "a", 1.0), (1996, "b", 2.0), (1997, "c2", 30.0)),
      "1996 partition must survive the 1997 overwrite untouched")
    // static overwrite of the same patch would have dropped 1996 — prove
    // the conf was restored afterwards (no leak into other writers)
    assert(!spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .contains("dynamic"))
  }

  test("compaction rewrites only fragmented partitions, data intact, healthy files untouched") {
    val base = Files.createTempDirectory("graft-compact").toString
    // healthy partition: one file; fragmented partition: 12 appended files
    Seq((1996, "a", 1.0)).toDF("yr", "k", "v")
      .coalesce(1).write.mode("overwrite").partitionBy("yr").parquet(base)
    for (i <- 0 until 12)
      Seq((1997, s"f$i", i.toDouble)).toDF("yr", "k", "v")
        .coalesce(1).write.mode("append").partitionBy("yr").parquet(base)
    def files(p: String): Seq[String] =
      new java.io.File(s"$base/yr=$p").listFiles()
        .map(_.getName).filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSeq
    val healthyBefore = files("1996")
    assert(files("1997").size == 12)
    val before = spark.read.parquet(base)
      .select("yr", "k", "v").as[(Int, String, Double)].collect().toSet

    val rewritten = Sinks.compactPartitions(spark, base, "yr",
      maxFilesPerPartition = 8, targetFiles = 1)
    assert(rewritten == Seq("1997"))
    assert(files("1997").size == 1, "fragmented partition must coalesce")
    assert(files("1996") == healthyBefore, "healthy partition files must be untouched")
    val after = spark.read.parquet(base)
      .select("yr", "k", "v").as[(Int, String, Double)].collect().toSet
    assert(after == before, "compaction must not change the data")
  }

  test("compaction handles Hive-escaped string partition values") {
    val base = Files.createTempDirectory("graft-compact-esc").toString
    // ":" is path-escaped to %3A in the partition directory name — the
    // compactor must unescape before filtering or it rewrites nothing
    for (i <- 0 until 10)
      Seq(("12:30", s"f$i", i.toDouble)).toDF("slot", "k", "v")
        .coalesce(1).write.mode("append").partitionBy("slot").parquet(base)
    val dir = new java.io.File(base).listFiles().filter(_.isDirectory).head
    assert(dir.getName.contains("%3A"), s"expected escaped dir, got ${dir.getName}")
    val before = spark.read.parquet(base)
      .select("slot", "k", "v").as[(String, String, Double)].collect().toSet
    val rewritten = Sinks.compactPartitions(spark, base, "slot",
      maxFilesPerPartition = 4, targetFiles = 1)
    assert(rewritten.size == 1)
    assert(dir.listFiles().count(f =>
      f.getName.endsWith(".parquet") && !f.getName.startsWith(".")) == 1)
    val after = spark.read.parquet(base)
      .select("slot", "k", "v").as[(String, String, Double)].collect().toSet
    assert(after == before)
  }

  test("status JSON sink writes atomic parseable stats") {
    val validated = Seq(("T", "ok"), ("U", "flagged"), ("V", "ok"))
      .toDF("ticker", "validation_status")
    val stats = Sinks.runStats(validated, "2026-01-01T00:00:00Z", "2026-01-01T00:01:00Z")
    assert(stats.total == 3 && stats.ok == 2 && stats.flagged == 1)
    val path = Files.createTempDirectory("graft-status").resolve("status.json").toString
    Sinks.writeStatusJson(stats, path)
    val content = Files.readString(java.nio.file.Paths.get(path))
    assert(content.contains("\"ok\": 2") && content.contains("\"flagged\": 1"))
  }
}
