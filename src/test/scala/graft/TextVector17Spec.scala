package graft

import org.apache.spark.sql.types._

/** Construction pins for the round-9 batch: suffix-index-driven span
  * removal (d86) on hand-built overlap geometries — value parity at
  * corpus size is the DuckDB oracle's job, these pin the removal
  * semantics where the intervals interact. */
class TextVector17Spec extends SparkSpec {
  import spark.implicits._

  test("spanRemoval: hand-built overlap geometries — cross-doc keeper, " +
    "exact twin erased, chained overlaps merged, periodic self-overlap, " +
    "sub-L duplicates untouched") {
    val docs = Seq(
      (1L, "1234XYZ"),     // keeper of the cross-doc "1234" group
      (2L, "1234QRS"),     // loses [1,4] -> "QRS"
      (3L, "hello world"), // keeper twin
      (4L, "hello world"), // exact twin: every window dropped -> ""
      (5L, "abcdefgh"),    // keeper of the chained-window run
      (6L, "XabcdefghY"),  // pos2..6 windows all dropped, [2,5]..[6,9] merge to [2,9] -> "XY"
      (7L, "aaaaaa"),      // periodic: pos2,3 dropped, [2,5]u[3,6]=[2,6] -> "a" (the d44 caveat)
      (8L, "unique9"),     // no duplicated window: passes through
      (9L, "ab"),          // shorter than L: no windows
      (10L, "cd"), (11L, "cd") // identical but sub-L: NOT removed (full-window rule)
    ).toDF("doc_id", "text")
    val out = graft.operators.SuffixRanks.spanRemoval(docs, 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((7L, 0L, "1234XYZ")))
    assert(out(2L) == ((7L, 4L, "QRS")))
    assert(out(3L) == ((11L, 0L, "hello world")))
    assert(out(4L) == ((11L, 11L, "")), "an exact twin must clean to empty")
    assert(out(5L) == ((8L, 0L, "abcdefgh")))
    assert(out(6L) == ((10L, 8L, "XY")),
      "chained overlapping windows must merge into one removed interval")
    assert(out(7L) == ((6L, 5L, "a")),
      "periodic self-overlap keeps fewer than L chars of the repeat")
    assert(out(8L) == ((7L, 0L, "unique9")))
    assert(out(9L) == ((2L, 0L, "ab")))
    assert(out(10L) == ((2L, 0L, "cd")) && out(11L) == ((2L, 0L, "cd")),
      "sub-L duplicates are out of an L-window index's scope")
    // conservation: removal is interval arithmetic, so kept + removed = n
    out.foreach { case (id, (n, rm, ct)) =>
      assert(ct.length.toLong + rm == n, s"doc $id: kept+removed != n_chars")
    }
  }

  test("round hygiene (RoundCheckpointer): iteration loops leave no " +
    "orphaned persisted rounds — integerPageRank and suffixRanks bound " +
    "their live checkpoints regardless of iteration count") {
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    // PageRank, 8 rounds: unfixed (lazy, never freed) would leave 9 score
    // rounds + inputs persisted; the helper keeps only the final round +
    // the n/sym/deg input checkpoints
    val before1 = persisted
    val nodes = (1L to 50L).toDF("id")
    val edges = (1L to 49L).map(i => (i, i + 1)).toDF("src", "dst")
    graft.operators.Centrality.integerPageRank(nodes, edges, 8).count()
    val leak1 = (persisted -- before1).size
    assert(leak1 <= 5, s"integerPageRank left $leak1 persisted RDDs (want <=5: " +
      "inputs + final round only)")
    // suffixRanks (retain = false), a corpus needing several doubling
    // rounds: live rounds are bounded at the final one
    val before2 = persisted
    val docs = Seq((1L, "abcabcabcabcabc"), (2L, "bcabcabcabcabca"),
      (3L, "cabcabcabcabcab")).toDF("doc_id", "text")
    graft.operators.SuffixRanks.suffixRanks(docs).count()
    val leak2 = (persisted -- before2).size
    assert(leak2 <= 2, s"suffixRanks left $leak2 persisted RDDs (want <=2: " +
      "the final round only)")
  }

  test("shuffle-file hygiene (freeShuffles): the doubling loop drops each " +
    "round's shuffle files deterministically instead of waiting for GC; " +
    "results are unaffected") {
    val sc = spark.sparkContext
    import org.apache.spark.graftbridge.ShuffleBridge
    // force a multi-round build: repeated text needs several doublings
    val docs = Seq((1L, "abcabcabcabcabcabc"), (2L, "bcabcabcabcabcabca"),
      (3L, "cabcabcabcabcabcab")).toDF("doc_id", "text")
    val before = ShuffleBridge.activeShuffleIds(sc)
    val out = graft.operators.SuffixRanks.spanRemoval(docs, 4).collect()
    val leaked = ShuffleBridge.activeShuffleIds(sc) -- before
    // every interior shuffle of the build (one+ per doubling round, plus
    // the span/merge/rebuild phases) must be unregistered by the time the
    // output is materialized — without the per-step removal this leaks one
    // positions-sized shuffle per round until the ContextCleaner's next GC
    // (the measured d86 ENOSPC class). The ORDER BY / driver-side collect
    // of the final result may hold a trailing shuffle or two.
    assert(leaked.size <= 2,
      s"spanRemoval leaked ${leaked.size} registered shuffles: $leaked")
    // and the removal is untouched by the hygiene: conservation still holds
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getString(3).length.toLong + r.getLong(2) == r.getLong(1))
    }
  }

  test("BMP encode/decode: round trip exact; decode matches the JDK's " +
    "independent ImageIO reader byte-for-byte (padding + bottom-up flip " +
    "both exercised by width 7)") {
    val w = 7; val h = 3
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 37 + 11) % 251).toByte)
    val bmp = graft.operators.Multimodal.encodeBmp(w, h, rgb)
    // 1. our decode inverts our encode exactly
    val Some((dw, dh, px)) = graft.operators.Multimodal.decodeBmpPixels(bmp)
    assert(dw == w && dh == h && px.toSeq == rgb.toSeq)
    // 2. the JDK's OWN BMP reader agrees pixel-for-pixel — an independent
    // implementation of the format, so encode and decode cannot share a
    // compensating bug (channel order, padding, row direction)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bmp))
    assert(img != null && img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val argb = img.getRGB(x, y)
      val p = (y * w + x) * 3
      assert(((argb >> 16) & 0xff) == (rgb(p) & 0xff), s"R at ($x,$y)")
      assert(((argb >> 8) & 0xff) == (rgb(p + 1) & 0xff), s"G at ($x,$y)")
      assert((argb & 0xff) == (rgb(p + 2) & 0xff), s"B at ($x,$y)")
    }
    // 3. top-down BMPs (negative biHeight) decode with the flip skipped:
    // rewrite the height field and the row order, expect identical pixels
    val stride = (w * 3 + 3) / 4 * 4
    val td = bmp.clone()
    val bb = java.nio.ByteBuffer.wrap(td).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(22, -h)
    for (r <- 0 until h)
      System.arraycopy(bmp, 54 + (h - 1 - r) * stride, td, 54 + r * stride, stride)
    val Some((_, th, tpx)) = graft.operators.Multimodal.decodeBmpPixels(td)
    assert(th == h && tpx.toSeq == rgb.toSeq)
    // 4. strictness: non-24bpp and truncated inputs reject to the stub path
    val bad = bmp.clone(); bad(28) = 8 // bpp field
    assert(graft.operators.Multimodal.decodeBmpPixels(bad).isEmpty)
    assert(graft.operators.Multimodal.decodeBmpPixels(bmp.take(53)).isEmpty)
  }

  test("WAV PCM16 encode/decode: round trip exact; decode matches the JDK's " +
    "independent javax.sound.sampled reader sample-for-sample; chunk walk " +
    "honors order, padding, and strictness") {
    val samples = Array.tabulate(14)(i => ((i * 2741 + 17) % 60001 - 30000).toShort)
    val wav = graft.operators.Multimodal.encodeWavPcm16(8000, 2, samples)
    // 1. our decode inverts our encode exactly
    val Some((sr, ch, s)) = graft.operators.Multimodal.decodeWavPcm16(wav)
    assert(sr == 8000 && ch == 2 && s.toSeq == samples.toSeq)
    // 2. the JDK's OWN reader agrees — an independent implementation of
    // the container, so encode and decode cannot share a compensating bug
    // (endianness, data offset, fmt layout)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val f = ais.getFormat
    assert(f.getSampleRate == 8000f && f.getChannels == 2 &&
      f.getSampleSizeInBits == 16 && !f.isBigEndian)
    val raw = ais.readAllBytes()
    assert(raw.length == samples.length * 2)
    val jdk = java.nio.ByteBuffer.wrap(raw)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
    samples.indices.foreach(i => assert(jdk.get(i) == samples(i), s"sample $i"))
    // 3. chunk WALK, not fixed offsets: an unknown odd-sized chunk
    // inserted BEFORE fmt must be skipped with its pad byte
    val extra = Array[Byte]('j', 'u', 'n', 'k', 3, 0, 0, 0, 1, 2, 3, 0)
    val walked = wav.take(12) ++ extra ++ wav.drop(12)
    val bb = java.nio.ByteBuffer.wrap(walked).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, walked.length - 8) // fix RIFF size
    val Some((sr2, ch2, s2)) = graft.operators.Multimodal.decodeWavPcm16(walked)
    assert(sr2 == 8000 && ch2 == 2 && s2.toSeq == samples.toSeq)
    // 4. strictness: non-PCM format tag, non-16-bit, truncated data all
    // reject to the stub path
    val badFmt = wav.clone(); badFmt(20) = 3 // IEEE float tag
    assert(graft.operators.Multimodal.decodeWavPcm16(badFmt).isEmpty)
    val bad8 = wav.clone(); bad8(34) = 8 // bits per sample
    assert(graft.operators.Multimodal.decodeWavPcm16(bad8).isEmpty)
    assert(graft.operators.Multimodal.decodeWavPcm16(wav.take(50)).isEmpty)
  }

  test("spanRemoval: degenerate corpus and the power-of-two contract") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    assert(graft.operators.SuffixRanks.spanRemoval(empty, 8).count() == 0L)
    intercept[IllegalArgumentException] {
      graft.operators.SuffixRanks.spanRemoval(empty, 6)
    }
  }

  test("suffixLcp: composite descent equals brute-force adjacent-suffix " +
    "LCP at every doubling-round parity (T=1, 2, 3, 4 — top composite, " +
    "plain level-0 leftover, and single-round paths)") {
    // Brute force: sort all (doc, pos) suffixes lexicographically, take
    // max(LCP with sorted predecessor, with successor) per suffix — the
    // definition the descent implements via retained-round rank probes.
    def brute(docs: Seq[(Long, String)]): Map[(Long, Long), Long] = {
      val sufs = docs.flatMap { case (id, t) =>
        (1 to t.length).map(p => ((id, p.toLong), t.substring(p - 1))) }
        .sortBy(_._2)
      def lcp(a: String, b: String): Long =
        a.zip(b).takeWhile { case (x, y) => x == y }.size.toLong
      sufs.indices.map { i =>
        val prev = if (i > 0) lcp(sufs(i)._2, sufs(i - 1)._2) else 0L
        val next = if (i < sufs.size - 1) lcp(sufs(i)._2, sufs(i + 1)._2) else 0L
        sufs(i)._1 -> math.max(prev, next)
      }.toMap
    }
    // maxLen picks the round count T with the G=16 start:
    //   maxLen 16 -> startG=16, no doubling round (T=1: plain full check)
    //   maxLen 10 -> startG=8, one round (T=2: single composite)
    //   maxLen 40 -> T=3 (top composite + plain level-0 leftover)
    //   maxLen 100 -> T=4 (top + one interior composite, no leftover)
    def mk(maxLen: Int): Seq[(Long, String)] = {
      val alpha = "abcab" // small alphabet -> deep ties -> real descents
      (0L to 6L).map { id =>
        val len = math.max(3, (maxLen - id * 2).toInt)
        (id, (0 until len).map(k =>
          alpha(((k * (id + 2) + k * k / 3) % alpha.length).toInt)).mkString)
      } :+ (7L -> "ab") :+ (8L -> mkDup(maxLen)) // a cross-doc full twin of 8'
    }
    def mkDup(maxLen: Int): String =
      (0 until math.max(3, maxLen - 1)).map(k => "ab" (k % 2)).mkString
    for (maxLen <- Seq(16, 10, 40, 100)) {
      val docs = mk(maxLen) :+ (9L -> mkDup(maxLen)) // identical twin pair
      val df = docs.toDF("doc_id", "text")
      val got = graft.operators.SuffixRanks.suffixLcp(df)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      val want = brute(docs)
      assert(got.size == want.size, s"maxLen=$maxLen: row count")
      val bad = want.collect { case (k, v) if got.get(k) != Some(v) =>
        s"$k: got ${got.get(k)}, want $v" }
      assert(bad.isEmpty,
        s"maxLen=$maxLen (${bad.size} mismatches): ${bad.take(5).mkString("; ")}")
    }
  }

  test("spanRemoval election-first = filter-first at a mixed full/partial " +
    "rank boundary (advisor r12): docs ending mid-window at a duplicated " +
    "l-gram, including an all-partial duplicated suffix group, produce the " +
    "exact kept-occurrence set of the filter-first formulation") {
    val l = 4
    // doc 2 ends mid-window at the duplicated "abcd" boundary (its pos-5
    // suffix "abc" is partial and shares the gram's prefix); doc 4 is an
    // entirely-partial duplicate of that suffix, so (2,5) and (4,1) form
    // an ALL-PARTIAL rank group whose elected "keeper" must be discarded
    // by the length filter, never letting a partial win over a full group
    val fixture = Seq(
      (1L, "abcdabcd"), // full windows at 1..5; pos5 "abcd" is a dropped twin
      (2L, "abcdabc"),  // truncated twin: full at 1..4, partial tail at 5..7
      (3L, "abcd"),     // exactly one full window, doc ends AT the boundary
      (4L, "abc"),      // shorter than l: entirely partial, duplicated prefix
      (5L, "zabcdab"),  // gram mid-doc, partial "ab" tail
      (6L, "dabcQRST")  // duplicates doc 1's interior "dabc" window
    )
    val docs = fixture.toDF("doc_id", "text")
    val texts = fixture.toMap

    // filter-first reference, computed from the SAME rank index: full
    // windows only enter the election; keeper = first (doc_id, pos)
    val ranks = graft.operators.SuffixRanks.suffixRanks(docs, maxPrefix = l)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val droppedRef = ranks
      .filter { case (id, pos, _) => pos + l - 1 <= texts(id).length.toLong }
      .groupBy(_._3).values
      .flatMap(_.sortBy(t => (t._1, t._2)).drop(1))
      .toSeq
    val expected = texts.map { case (id, t) =>
      val merged = droppedRef.filter(_._1 == id)
        .map(p => (p._2, p._2 + l - 1)).sortBy(identity)
        .foldLeft(List.empty[(Long, Long)]) { (acc, iv) =>
          acc match {
            case (ps, pe) :: rest if iv._1 <= pe + 1 =>
              (ps, math.max(pe, iv._2)) :: rest
            case _ => iv :: acc
          }
        }
      val removed = merged.map { case (s, e) => e - s + 1 }.sum
      val cleaned = (1 to t.length)
        .filterNot(p => merged.exists(m => p >= m._1 && p <= m._2))
        .map(p => t.charAt(p - 1)).mkString
      id -> ((t.length.toLong, removed, cleaned))
    }

    val out = graft.operators.SuffixRanks.spanRemoval(docs, l)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out == expected,
      s"election-first diverged from filter-first: got $out, want $expected")
    // the boundary cases specifically: the sub-l doc and the partial tails
    // must be untouched by their partial-group "election"
    assert(out(4L)._3 == "abc", "an all-partial group must remove nothing")
    assert(out(3L)._2 > 0L, "the full twin ending AT the boundary is removed")
  }
}
