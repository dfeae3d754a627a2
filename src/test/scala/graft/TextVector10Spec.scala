package graft

import org.apache.spark.sql.functions._

/** Construction pins for the BPE batch (value parity is the DuckDB
  * oracle's job; these pin the algorithmic claims at hand-checkable
  * size). */
class TextVector10Spec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("trainMerges reproduces the hand-derived Sennrich-style merges " +
    "with deterministic tie-breaks") {
    // corpus: low ×2, lower ×1, newest ×2 — pair counts and ties worked
    // out by hand; ties at n=3 break (l,o) < (o,w) < (w,e) on the left
    // symbol, so the first two merges are l+o then lo+w
    val docs = Seq("low low lower", "newest newest").toDF("text")
    val words = graft.operators.Bpe.wordCounts(docs, "text")
    val (merges, trained) = graft.operators.Bpe.trainMerges(words, 3)
    assert(merges.map(m => (m.step, m.left, m.right, m.n)) == Seq(
      (1, "l", "o", 3L), (2, "lo", "w", 3L), (3, "e", "s", 2L)))
    // after (l,o)+(lo,w): "low" is one symbol + the marker
    val lowRep = trained.filter(col("word") === "low")
      .select("rep").head().getString(0)
    assert(lowRep == s"${graft.operators.Bpe.US}low${graft.operators.Bpe.US}</w>")
  }

  test("the greedy replace is non-overlapping left-to-right: aaaa + " +
    "merge(a,a) -> [aa, aa, </w>], never [aa, a, a, </w>] or a cascade") {
    val words = graft.operators.Bpe.wordCounts(Seq("aaaa").toDF("text"), "text")
    val (merges, trained) = graft.operators.Bpe.trainMerges(words, 1)
    assert(merges.head.left == "a" && merges.head.right == "a" &&
      merges.head.n == 3L, "pair count counts every adjacent occurrence")
    val syms = trained.select("rep").head().getString(0)
      .split(graft.operators.Bpe.US).drop(1).toSeq
    assert(syms == Seq("aa", "aa", "</w>"))
  }

  test("d64: the judged merge table exercises the iterative dependency " +
    "(a later merge consumes an earlier merge's symbol)") {
    val merges = graft.queries.TextVector10.d64.fn(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(2)))
    assert(merges.length == 6)
    val multiChar = (s: String) => s.length > 1 && s != "</w>"
    assert(merges.exists(m => multiChar(m._1) || multiChar(m._2)),
      "at least one merge must build on a previously merged symbol")
  }

  test("integerPageRank: hand-computed path graph a-b-c + isolated d, " +
    "two rounds exact") {
    val nodes = Seq("a", "b", "c", "d").toDF("id")
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val out = graft.operators.Centrality.integerPageRank(nodes, edges, 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // round 1: in(a)=500000, in(b)=2e6, in(c)=500000
    // round 2: in(a)=925000, in(b)=1150000, in(c)=925000 -> worked by hand
    assert(out("a") == (1L, 936250L))
    assert(out("b") == (2L, 1127500L))
    assert(out("c") == (1L, 936250L))
    assert(out("d") == (0L, 150000L), "isolated nodes keep the base share")
  }

  test("d66: hub polarity — template hubs accumulate past the initial " +
    "share, isolated docs sit at the base") {
    val rows = graft.queries.TextVector10.d66.fn(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(rows.exists { case (deg, s) => deg > 0L && s > 1000000L },
      "some connected doc must accumulate score past one initial share")
    assert(rows.exists { case (deg, s) => deg == 0L && s == 150000L },
      "isolated docs must decay to exactly the base share")
    // mass never grows: floor division only leaks
    assert(rows.map(_._2).sum <= 1000000L * rows.length)
  }

  test("suffixRanks: prefix doubling equals brute-force suffix sorting " +
    "(rank() semantics) including cross-doc ties and shorter-first") {
    val fixture = Seq((1L, "banana"), (2L, "ana"), (3L, "banana"), (4L, "z"),
      (5L, "ban"))
    val got = graft.operators.SuffixRanks.suffixRanks(fixture.toDF("doc_id", "text"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val sufs = for ((id, t) <- fixture; p <- 1 to t.length)
      yield ((id, p.toLong), t.substring(p - 1))
    val sorted = sufs.map(_._2).sorted
    val expected = sufs.map { case (k, s) =>
      k -> (sorted.indexWhere(_ == s) + 1).toLong }.toMap
    assert(got == expected)
    // the duplicated-substring signal: doc1 and doc3 tie at every position
    (1 to 6).foreach(p =>
      assert(got((1L, p.toLong)) == got((3L, p.toLong))))
    // "ban" < "banana": the shorter suffix ranks strictly first
    assert(got((5L, 1L)) < got((1L, 1L)))
  }

  test("d67: injected identical twins tie their originals' ranks " +
    "row-for-row") {
    val rows = graft.queries.TextVector10.d67.fn(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    val byKey = rows.toMap
    val twins = rows.filter(_._1._1 >= 5000000000L)
    assert(twins.nonEmpty, "twin injection must produce rows")
    twins.foreach { case ((id, pos), rk) =>
      assert(byKey((id - 5000000000L, pos)) == rk,
        s"twin $id pos $pos must share its original's suffix rank")
    }
  }

  test("capped suffixRanks: rank ties among full windows == direct " +
    "L-gram grouping, and the cap never merges short-suffix groups") {
    val L = 4L
    val docs = Seq((1L, "abcdefg"), (2L, "xxabcdzz"), (3L, "abcd"),
      (4L, "ab"), (5L, "ab")).toDF("doc_id", "text")
    val got = graft.operators.SuffixRanks.suffixRanks(docs, maxPrefix = L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    // brute-force: rank by the L-char prefix string of each suffix
    val fixture = Seq((1L, "abcdefg"), (2L, "xxabcdzz"), (3L, "abcd"),
      (4L, "ab"), (5L, "ab"))
    val sufs = for ((id, t) <- fixture; p <- 1 to t.length)
      yield ((id, p.toLong), t.substring(p - 1).take(L.toInt))
    val sorted = sufs.map(_._2).sorted
    val expected = sufs.map { case (k, s) =>
      k -> (sorted.indexWhere(_ == s) + 1).toLong }.toMap
    val m = got.toMap
    assert(m == expected)
    // "abcd" occurs at (1,1), (2,3), (3,1): one rank tie of size 3
    val abcd = Set((1L, 1L), (2L, 3L), (3L, 1L))
    val tied = got.filter { case (k, _) => abcd(k) }.map(_._2).distinct
    assert(tied.size == 1, "full-window duplicates must tie under the cap")
    // short identical suffixes still tie ("ab" docs 4/5), but never with
    // a full window starting "ab..." (sentinel rule)
    assert(m((4L, 1L)) == m((5L, 1L)))
    assert(m((4L, 1L)) != m((1L, 1L)))
  }

  test("d68: keeper election is first-occurrence and every group keeps " +
    "exactly one; twins guarantee cross-doc groups") {
    val rows = graft.queries.TextVector10.d68.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.nonEmpty)
    val byRank = rows.groupBy(_._3)
    byRank.foreach { case (rk, g) =>
      assert(g.count(_._5) == 1, s"group $rk must elect exactly one keeper")
      assert(g.map(_._4).distinct.toSeq == Seq(g.length.toLong),
        s"group $rk n_occ must equal the group size")
      val keeper = g.find(_._5).get
      assert(g.forall(o =>
        keeper._1 < o._1 || (keeper._1 == o._1 && keeper._2 <= o._2)),
        s"group $rk keeper must be the minimal (doc_id, pos)")
    }
    assert(rows.exists(r => r._1 >= 5000000000L && !r._5),
      "an injected twin occurrence must be marked removable")
  }

  test("suffixLcp: descent over retained rounds equals brute-force " +
    "max-common-prefix against ALL other suffixes (adjacency property " +
    "included), with end-of-doc ties capped exactly") {
    val fixture = Seq((1L, "banana"), (2L, "bandana"), (3L, "aaa"),
      (4L, "ana"), (5L, "ana"), (6L, "z"))
    val got = graft.operators.SuffixRanks
      .suffixLcp(fixture.toDF("doc_id", "text"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val sufs = for ((id, t) <- fixture; p <- 1 to t.length)
      yield ((id, p.toLong), t.substring(p - 1))
    def lcp(a: String, b: String): Long =
      a.zip(b).takeWhile { case (x, y) => x == y }.size.toLong
    val expected = sufs.map { case (k, s) =>
      k -> sufs.filter(_._1 != k).map(o => lcp(s, o._2)).max
    }.toMap
    assert(got == expected)
    // the twins realize their full suffix lengths ("ana" docs 4/5)
    assert(got((4L, 1L)) == 3L && got((5L, 1L)) == 3L)
    // the lone 'z' shares nothing
    assert(got((6L, 1L)) == 0L)
  }

  test("suffixLcp: single-suffix and degenerate corpora") {
    import org.apache.spark.sql.types._
    val one = Seq((1L, "q")).toDF("doc_id", "text")
    val r1 = graft.operators.SuffixRanks.suffixLcp(one).collect()
    assert(r1.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 1L, 0L)), "a 1-suffix corpus has nothing to share")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    assert(graft.operators.SuffixRanks.suffixLcp(empty).count() == 0L)
  }

  test("d65: per-doc subword counts sit between word count and initial " +
    "symbol count") {
    val out = graft.queries.TextVector10.d65.fn(spark, dir)
    val docs = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.TextFns.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nw"),
        // initial symbols = chars + the per-word marker
        (sum(length(col("word"))) + count(lit(1))).as("init_syms"))
    val bad = out.join(docs, Seq("doc_id"))
      .filter(col("n_words") =!= col("nw") ||
        col("n_bpe_tokens") < col("n_words") ||
        col("n_bpe_tokens") > col("init_syms")).count()
    assert(bad == 0L)
    // merging must actually compress: some doc ends below its initial count
    assert(out.join(docs, Seq("doc_id"))
      .filter(col("n_bpe_tokens") < col("init_syms")).count() > 0L)
  }

  test("suffix family: the size-gated DIRECT form is row-identical to " +
    "the doubling loop / composite descent on the same corpus (r13 — " +
    "the small-corpus physical-form choice must never change a value)") {
    // ties, shorter-first sentinels, cross-doc twins, a strict-prefix
    // adjacent pair, and a 1-char doc — every branch both forms own
    val fixture = Seq((1L, "banana"), (2L, "bandana"), (3L, "aaa"),
      (4L, "ana"), (5L, "ana"), (6L, "z"), (7L, "ban"), (8L, "banana"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // uncapped ranks
    assert(rows(graft.operators.SuffixRanks
        .suffixRanksImpl(fixture, Long.MaxValue, allowDirect = true)) ==
      rows(graft.operators.SuffixRanks
        .suffixRanksImpl(fixture, Long.MaxValue, allowDirect = false)))
    // capped ranks (L=4 exercises the capped remainder arithmetic)
    assert(rows(graft.operators.SuffixRanks
        .suffixRanksImpl(fixture, 4L, allowDirect = true)) ==
      rows(graft.operators.SuffixRanks
        .suffixRanksImpl(fixture, 4L, allowDirect = false)))
    // LCP: zip_with compare vs the retained-round descent
    assert(rows(graft.operators.SuffixRanks
        .suffixLcpImpl(fixture, allowDirect = true)) ==
      rows(graft.operators.SuffixRanks
        .suffixLcpImpl(fixture, allowDirect = false)))
  }

  test("suffix family: a corpus PAST the direct-form gates takes the " +
    "doubling loop and matches the direct form's rows (r14 — pins the " +
    "gate boundary itself, not just the allowDirect spec hook)") {
    val SR = graft.operators.SuffixRanks
    val fixture = Seq((1L, "banana"), (2L, "bandana"), (3L, "aaa"),
      (4L, "ana"), (5L, "ana"), (6L, "z"), (7L, "ban"), (8L, "banana"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // direct path with production gates (the fixture is tiny)
    val directRanks = rows(SR.suffixRanks(fixture))
    assert(SR.lastPathDirect.contains(true))
    val directLcp = rows(SR.suffixLcp(fixture))
    assert(SR.lastPathDirect.contains(true))
    // fixture holds 32 positions (Σ len): a 31-position gate puts it PAST
    // the boundary, so the production call (allowDirect = true) must
    // route to the loop/descent on its own
    val loopRanks = rows(SR.suffixRanksImpl(fixture, Long.MaxValue,
      allowDirect = true, maxPositions = 31L))
    assert(SR.lastPathDirect.contains(false),
      "positions gate exceeded but the direct form still ran")
    assert(loopRanks == directRanks)
    val loopLcp = rows(SR.suffixLcpImpl(fixture, allowDirect = true,
      maxPositions = 31L))
    assert(SR.lastPathDirect.contains(false))
    assert(loopLcp == directLcp)
    // same for the BYTES gate alone
    rows(SR.suffixRanksImpl(fixture, Long.MaxValue, allowDirect = true,
      maxSuffixBytes = 1.0))
    assert(SR.lastPathDirect.contains(false),
      "bytes gate exceeded but the direct form still ran")
    rows(SR.suffixLcpImpl(fixture, allowDirect = true, maxSuffixBytes = 1.0))
    assert(SR.lastPathDirect.contains(false))
  }
}
