package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFns, TextExprs, SimHash, VectorExprs, VectorFns}

/** Document deduplication operators for the training-data pipeline layer:
  * exact, MinHash+LSH (Broder 1997 resemblance sketches; banding per the
  * standard LSH construction), SimHash (Charikar 2002), n-gram Jaccard,
  * embedding-cosine near-dup — all public algorithms.
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison by
  * blocking (hash buckets / LSH bands / simhash prefixes), so the expensive
  * verify step only runs inside buckets. All shuffles are on bucket keys,
  * which are high-cardinality by construction (no skew hot-spots).
  */
object Dedup {

  /** Word shingle width of every shingle-set operator here. */
  private val ShingleK = 3
  /** LSH bands of both MinHash families. */
  private val NumBands = 4
  /** MinHash signature length: the JVM family, and the md5 affine family
    * (whose oracle twins splice the same 16 seeds). */
  private val JvmHashes = 32
  private val Md5Hashes = 16
  /** Verify threshold of the MinHash pair miners. */
  private val JaccardThreshold = 0.5
  /** SimHash pair bound: four 16-bit quarter blocks catch every pair
    * within it by pigeonhole. */
  private val MaxHamming = 3
  /** Token window of the duplicate-span remover. */
  private val WindowTokens = 20
  /** Random hyperplanes, and the verify threshold, of the embedding
    * near-duplicate miner. */
  private val HyperplaneBits = 6
  private val EmbeddingCosine = 0.3

  /** Exact dedup: hash-groupBy on content, keep the minimum id per group.
    * One shuffle on the md5 key. Returns one row per distinct content with
    * the keeper id and the duplicate count. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup, keeping one row per distinct content (min id wins). */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = exactGroups(df, idCol, textCol)
      .select(col("keeper_id").as(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** MinHash + LSH near-duplicate candidate pairs, verified with exact
    * shingle Jaccard.
    *
    * shingle(ShingleK) -> minhash(JvmHashes) -> band keys(NumBands) ->
    * explode bands -> self-join on band key -> distinct pairs -> verify.
    *
    * The band join shuffles (bandKey) with one row per (doc, band) — linear
    * in corpus size; only same-bucket pairs are verified. Pairs are emitted
    * once with idA < idB.
    *
    * SCALE BOUNDARY — the banding bounds CHANCE collisions, not true-dup
    * clusters: the pair contract itself is quadratic in near-dup cluster
    * size (a 1M-doc boilerplate cluster is 5e11 pairs no matter how
    * selective the bands are, because those pairs genuinely exceed the
    * threshold). At corpus scale, (1) run EXACT dedup first so identical
    * boilerplate collapses to one representative before banding — the
    * order [[CorpusPipeline.cleanCorpus]] hard-codes — and (2) consume
    * CLUSTERS ([[connectedComponents]], d23's contract: linear output,
    * pointer-jumping) rather than raw pairs when downstream only needs
    * keeper selection.
    */
  /** LSH tuning: the s-curve midpoint is (1/bands)^(1/rowsPerBand); 4
    * bands x 8 rows centers near j~=0.84, i.e. selective — few chance
    * candidates even on dense shared-vocab corpora, strong recall for true
    * near-dups (j >= 0.7). */
  def minHashNearDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (sh, banded) = jvmBands(df, idCol, textCol)
    verifyJaccard(pairCandidates(banded, Seq("band")), sh)
  }

  /** Shingle sets + (id, band-key) rows for the fast JVM hash family.
    * JVM-native expressions (TextExprs) do the per-row shingle/minhash
    * work in one tight loop — the interpreted transform/concat_ws column
    * form costs ~10x more (higher-order functions don't codegen). Bands
    * carry ONLY (band, id): the wide shingle arrays never enter a
    * band-join shuffle. */
  private def jvmBands(df: DataFrame, idCol: String,
                       textCol: String): (DataFrame, DataFrame) = {
    val rowsPerBand = JvmHashes / NumBands
    // both relations checkpointed (profiled on the sf10 d5): `sh` feeds
    // the signature build AND both shingle sides of the Jaccard verify,
    // `banded` feeds both sides of the band self-join — un-checkpointed,
    // the tokenize+shingle+minhash expressions re-ran once per consumer
    // and re-derivation was ~75% of d5's sf10 runtime (39 s → ~10 s)
    val sh = df.select(col(idCol).as("id"),
        TextFns.tokens(col(textCol)).as("toks"))
      .select(col("id"), col("toks"),
        TextExprs.distinctShingles(col("toks"), ShingleK).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint(false)
    val banded = sh
      .withColumn("sig", TextExprs.shingleMinHash(col("toks"), ShingleK, JvmHashes))
      .select(col("id"),
        explode(TextFns.lshBandKeys(col("sig"), NumBands, rowsPerBand)).as("band"))
      .localCheckpoint(false)
    (sh, banded)
  }

  /** All same-bucket pairs, emitted once with id_a < id_b and deduped
    * across buckets — the quadratic-in-bucket-size contract. `keys` is
    * the bucket identity (JVM family: band key; md5 family: band index +
    * signature string). */
  private[graft] def pairCandidates(banded: DataFrame, keys: Seq[String]): DataFrame =
    banded
      .join(banded.select((keys.map(col) :+ col("id").as("id_b")): _*), keys)
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"))
      .distinct()

  /** Hub edges only: each bucket elects its min id and members link to
    * it — B−1 edges per B-doc bucket, deduped across buckets. */
  private def starCandidates(banded: DataFrame, keys: Seq[String]): DataFrame = {
    val hubs = banded.groupBy(keys.map(col): _*).agg(min(col("id")).as("id_a"))
    banded.join(hubs, keys)
      .filter(col("id") =!= col("id_a"))
      .select(col("id_a"), col("id").as("id_b"))
      .distinct()
  }

  /** Exact-Jaccard verify over deduped candidate pairs: each pair joins
    * its two shingle sets once; candidates are deduped across bands
    * BEFORE this (expensive) step so each pair verifies once. */
  private def verifyJaccard(candidates: DataFrame, sh: DataFrame): DataFrame = {
    val shA = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val shB = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    candidates.join(shA, Seq("id_a")).join(shB, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        TextExprs.jaccardSim(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
  }

  /** [[minHashNearDuplicates]] with the md5-seeded AFFINE hash family (the
    * d21 construction): ONE base hash per distinct shingle, x = first 8
    * hex digits of md5(shingle) as a 32-bit value, rehashed per seed with
    * Carter-Wegman affine maps h_i = (a_i·x + b_i) mod p — the textbook
    * minhash family (MMDS §3.3; p = 4294967311, the smallest prime above
    * 2³²). Constants derive deterministically from md5("a|i")/md5("b|i")
    * with a_i < 2³¹ so a·x + b < 2⁶³ — no overflow on any engine's
    * BIGINT. Min-reduced per seed, banded by seed ranges with the band
    * signature as the join key, candidates verified with exact shingle
    * Jaccard. Slower than the JVM-native family (explode × Md5Hashes
    * rows), but every step is reproducible in plain SQL — this is the
    * variant an independent engine can replay end-to-end, which is what
    * lets the d11 corpus-cleaning composite and the d40 star miner carry
    * full DuckDB twins: one md5 + Md5Hashes multiply-mods per shingle.
    * Same (id_a, id_b, jaccard) contract as the production family. */
  def minHashNearDuplicatesMd5(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (sh, _, banded) = md5Bands(df, idCol, textCol)
    verifyJaccard(pairCandidates(banded, Seq("band", "bkey")), sh)
  }

  /** STAR-reduced LSH near-duplicates on the md5 hash family — the
    * linear form of [[minHashNearDuplicatesMd5]] for cluster consumption:
    * per (band, signature) bucket, edges only to the bucket's min-id hub,
    * so a B-doc true-dup bucket costs B−1 edges and B−1 verifies instead
    * of B(B−1)/2. Connectivity is preserved for every member whose
    * similarity TO THE HUB clears the threshold; the recall trade is a
    * member that is near-dup to another member but not to the hub
    * (mitigated by multiple bands: each of its bands offers a different
    * hub). Consume with [[connectedComponents]] like the pair form. Every
    * step is reproducible in plain SQL, which is what lets d40 be
    * oracle-gated. */
  def minHashNearDuplicatesMd5Star(df: DataFrame, idCol: String,
                                   textCol: String): DataFrame = {
    val (sh, _, banded) = md5Bands(df, idCol, textCol)
    verifyJaccard(starCandidates(banded, Seq("band", "bkey")), sh)
  }

  /** Modulus of the affine rehash family: the smallest prime above 2³²
    * (the classic datasketches choice). */
  val AffineP: Long = 4294967311L

  /** Deterministic Carter-Wegman constants for seeds 0..n-1: a_i from
    * md5("a|i") reduced into [1, 2³¹-1] (nonzero, and small enough that
    * a·x never overflows a signed 64-bit product for x < 2³²), b_i from
    * md5("b|i") as a raw 32-bit value. Pure arithmetic on md5 prefixes —
    * an independent engine derives the identical table, and the oracle
    * SQL inlines these very values via [[affineSeedsSqlValues]]. */
  def affineConsts(n: Int): Seq[(Long, Long)] = {
    def u32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.take(4).foldLeft(0L)((acc, byte) => (acc << 8) | (byte & 0xffL))
    }
    (0 until n).map(i => (1L + u32(s"a|$i") % ((1L << 31) - 1), u32(s"b|$i")))
  }

  /** The constants above as a SQL VALUES body — `(seed, a, b), …` —
    * generated from the same derivation so oracle and engine cannot
    * drift. */
  private def affineSeedsSqlValues(n: Int): String =
    affineConsts(n).zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")

  /** Per-seed affine rehash of the 32-bit base hash `x`:
    * (a_seed·x + b_seed) mod p, constants inlined as array literals so the
    * whole expression stays inside whole-stage codegen. */
  private def affineHash(seed: Column, x: Column, numHashes: Int): Column = {
    val cs = affineConsts(numHashes)
    val aArr = array(cs.map(c => lit(c._1)): _*)
    val bArr = array(cs.map(c => lit(c._2)): _*)
    val i = seed.cast("int") + 1
    (element_at(aArr, i) * x + element_at(bArr, i)) % AffineP
  }

  /** Affine MinHash signature of a shingle relation (keys…, shingle):
    * one [[TextFns.hash32]] base hash per row, rehashed by [[affineHash]]
    * for every seed in 0 until numHashes, min-reduced per (keys…, seed).
    * Returns (keys…, seed, mh); [[affineSignatureSql]] is the DuckDB twin. */
  private[graft] def affineSignature(shingles: DataFrame, keys: Seq[String],
                                     numHashes: Int): DataFrame = {
    val k = keys.map(col)
    shingles.select(k :+ TextFns.hash32(col("shingle")).as("x"): _*)
      .select(k :+ col("x") :+
        explode(sequence(lit(0L), lit(numHashes - 1L))).as("seed"): _*)
      .select(k :+ col("seed") :+
        affineHash(col("seed"), col("x"), numHashes).as("h"): _*)
      .groupBy(k :+ col("seed"): _*).agg(min(col("h")).as("mh"))
  }

  /** DuckDB twin of [[affineSignature]] over the word 3-shingles of
    * [[TextFns.tokensSql]]`(text)`, as CTEs to splice into a WITH list:
    * `tok` (keys, toks) from `from` (a relation, optionally with a WHERE),
    * `sh` (keys, shingle) the distinct shingles, `seeds` (seed, a, b),
    * `xv` (keys, x) the [[TextFns.hash32Sql]] base hashes, and `sig`
    * (keys, seed BIGINT, mh). `keys` is a SQL column list. */
  def affineSignatureSql(from: String, keys: String, text: String,
                         numHashes: Int): String =
    s"""tok AS (SELECT $keys, ${TextFns.tokensSql(text)} AS toks FROM $from),
      sh AS (SELECT DISTINCT $keys, array_to_string(toks[i:i+2], ' ') AS shingle
        FROM tok, UNNEST(generate_series(1, len(toks)-2)) AS t(i)
        WHERE len(toks) >= 3),
      seeds(seed, a, b) AS (VALUES ${affineSeedsSqlValues(numHashes)}),
      xv AS (SELECT $keys, ${TextFns.hash32Sql("shingle")} AS x FROM sh),
      sig AS (SELECT $keys, CAST(seed AS BIGINT) AS seed,
          MIN((CAST(a AS BIGINT) * x + b) % $AffineP) AS mh
        FROM xv CROSS JOIN seeds GROUP BY ALL)"""

  /** Shingle sets, the (id, seed, mh) signature of [[affineSignature]], and
    * (id, band, band-signature) rows for the md5-seeded affine family: one
    * md5 per distinct shingle, Md5Hashes affine rehashes per occurrence
    * (cheap multiply-mods), min-reduce per seed. Band key = ordered minhash
    * values of the band's seeds: sort_array on (seed, mh) structs makes the
    * key deterministic under shuffle order. */
  private[graft] def md5Bands(df: DataFrame, idCol: String,
                              textCol: String): (DataFrame, DataFrame, DataFrame) = {
    val rowsPerBand = Md5Hashes / NumBands
    // checkpointed like jvmBands: `sh` feeds the signature and the callers'
    // sizes and verify joins, `banded` both sides of the band self-join
    val sh = df.select(col(idCol).as("id"),
        TextFns.tokens(col(textCol)).as("toks"))
      .select(col("id"), TextExprs.distinctShingles(col("toks"), ShingleK).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint(false)
    val sig = affineSignature(
      sh.select(col("id"), explode(col("sh")).as("shingle")), Seq("id"), Md5Hashes)
    val banded = sig
      .withColumn("band", (col("seed") / rowsPerBand).cast("int"))
      .groupBy("id", "band")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("seed"), col("mh")))),
        x => x.getField("mh").cast("string")), ",").as("bkey"))
      .localCheckpoint(false)
    (sh, sig, banded)
  }

  /** SimHash near-duplicates: 64-bit sketch, block on 4 × 16-bit sub-keys
    * (any pair within hamming distance <= MaxHamming shares at least one
    * exact 16-bit quarter by pigeonhole), verify with bit_count(xor). */
  def simHashNearDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // checkpoint: the simhash sketch feeds the 4-way quarter union and
    // then BOTH sides of the bucket self-join — un-checkpointed, the
    // full-text sketch expression re-evaluates up to 8x (the quarter
    // projections above it are cheap and stay lazy)
    val sk = df.select(col(idCol).as("id"),
      SimHash.simhash64(TextFns.tokens(col(textCol))).as("sk"))
      .localCheckpoint(false)
    val quarters = (0 until 4).map { q =>
      sk.select(col("id"), col("sk"),
        concat(lit(q.toString), lit(":"),
          (shiftrightunsigned(col("sk"), q * 16).bitwiseAND(lit(0xffffL))).cast("string"))
          .as("bucket"))
    }.reduce(_.unionByName(_))
    val a = quarters
    val b = quarters.select(col("bucket"), col("id").as("id_b"), col("sk").as("sk_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"),
        SimHash.hamming(col("sk"), col("sk_b")).as("hamming"))
      .groupBy("id_a", "id_b").agg(min("hamming").as("hamming"))
      .filter(col("hamming") <= MaxHamming)
  }

  /** Exact n-gram Jaccard over all pairs within a blocking key — the
    * quadratic verify kept inside small blocks, with a length-ratio
    * prefilter (jaccard >= t requires |A|/|B| within [t, 1/t], checked
    * before the O(|A|+|B|) intersection). Block choice is the scale knob:
    * pass a composite (e.g. source x lang) to keep blocks small. */
  def blockedJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                          blockCols: Seq[String], threshold: Double): DataFrame = {
    // checkpoint: the shingle-set construction feeds both self-join sides
    // (same multi-consumer class as simHashNearDuplicates).
    // fanOut BEFORE the checkpoint: the probe side of the block
    // self-join inherits the checkpoint's partitioning, and a one-split
    // corpus would run the whole quadratic jaccard verify on ONE task.
    val sh = graft.core.Par.fanOut(df.select(
      concat_ws("|", blockCols.map(col): _*).as("block"),
      col(idCol).as("id"), TextFns.tokens(col(textCol)).as("toks")))
      .withColumn("sh", TextExprs.distinctShingles(col("toks"), ShingleK))
      .select(col("block"), col("id"), col("sh"), size(col("sh")).as("sz"))
      .filter(col("sz") > 0)
      .localCheckpoint(false)
    val b = sh.select(col("block"), col("id").as("id_b"),
      col("sh").as("sh_b"), col("sz").as("sz_b"))
    sh.join(b, Seq("block"))
      .filter(col("id") < col("id_b"))
      // length-ratio prefilter: cheap int compare before the set intersect
      .filter(col("sz") >= col("sz_b") * threshold &&
        col("sz_b") >= col("sz") * threshold)
      .withColumn("jaccard", TextExprs.jaccardSim(col("sh"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id").as("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact duplicate-cluster resolution: connected components over a
    * near-dup pair graph via min-label propagation (hash-to-min) — the
    * exact answer the greedy smaller-id-loses pass in CorpusPipeline
    * approximates. Every node ends with its component's minimum id.
    *
    * Scale: each round propagates the min label across edges (one join +
    * one aggregation) and then SHORTCUTS label chains (label ← label of
    * label, one more join) — the pointer-jumping step that turns
    * O(diameter) convergence into O(log diameter), the difference between
    * 30 shuffles and 5 on a chain-shaped 100 TB dup graph. Nothing ever
    * collects to the driver; the edge set is materialized once
    * (localCheckpoint) and each round's labels are checkpointed so lineage
    * doesn't stack. The loop FAILS LOUDLY if the round cap is hit before
    * convergence rather than returning half-propagated labels.
    *
    * NOT LAZY: construction runs an eager localCheckpoint() on the input
    * pair plan (the 77 s -> 11 s fix above), so merely CALLING this —
    * without ever consuming the result — executes the full upstream
    * pair-mining job and pins its blocks in executor storage. Callers
    * that might build-but-skip the query should defer the call instead.
    *
    * Returns (node, component) for every node that appears in `pairs`. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 50): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, IntegerType, LongType, ShortType}
    // the sum-based convergence check needs INTEGRAL labels: a string id
    // casts to null and fakes instant convergence, and a fractional id's
    // sub-integer label moves round away inside the DecimalType(38,0) sum
    def integral(t: DataType): Boolean =
      t == ByteType || t == ShortType || t == IntegerType || t == LongType
    require(integral(pairs.schema(aCol).dataType) &&
      integral(pairs.schema(bCol).dataType),
      s"connectedComponents needs integral node ids, got " +
        s"${pairs.schema(aCol).dataType}/${pairs.schema(bCol).dataType} — " +
        "hash other id types to int64 first (e.g. xxhash64)")
    // materialize the INPUT once before the symmetric union: the two
    // union branches are separate stages, so a lazy (expensive) pair plan
    // would run twice — and with AQE each branch re-plans it again. The
    // pair miner feeding this is usually the most expensive stage in the
    // whole query (measured 7x on the sf1 rehearsal: 77 s -> 11 s).
    val fwd = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .localCheckpoint()
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    // round 0 fused into the node extraction: component = min(node,
    // min neighbor) straight off the symmetric edge list — one groupBy
    // replaces a full propagate round (every node appears as src)
    var labels = edges.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("__nbr"))
      .select(col("node"), least(col("node"), col("__nbr")).as("component"))
      .localCheckpoint()
    // labels are monotone non-increasing per node, so the label sum is a
    // strict progress measure: equal consecutive sums == fixed point. One
    // tiny aggregate per round instead of a join + isEmpty re-execution.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("component").cast(DecimalType(38, 0)))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("node").as("dst"), col("component").as("__nl")),
          Seq("dst"))
        .groupBy("src").agg(min(col("__nl")).as("__nbr"))
      val propagated = labels
        .join(nbrMin.select(col("src").as("node"), col("__nbr")), Seq("node"), "left")
        .select(col("node"),
          least(col("component"), coalesce(col("__nbr"), col("component")))
            .as("component"))
      // pointer jumping: component <- component's own label (every label
      // value is itself a node, so the self-join resolves one chain hop)
      val next = propagated
        .join(propagated.select(col("node").as("component"),
          col("component").as("__cc")), Seq("component"), "left")
        .select(col("node"),
          coalesce(col("__cc"), col("component")).as("component"))
        .localCheckpoint()
      val nextSum = labelSum(next)
      converged = nextSum == prevSum
      prevSum = nextSum
      labels = next
      iter += 1
    }
    require(converged,
      s"connectedComponents did not converge within $maxIter rounds")
    labels
  }

  /** ExactSubstr-style duplicate-SPAN removal (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): find every length-`WindowTokens` token run that
    * occurs more than once in the corpus, elect its FIRST occurrence (the
    * minimal (doc_id, position)) as keeper, and cut every other occurrence
    * out of its document. The guarantee is WINDOW-granular, not
    * span-exact: for self-overlapping periodic repeats within one doc,
    * the rn>1 windows overlap the rn=1 keeper window, so tokens inside
    * the kept first occurrence can also be removed (e.g. a token repeated
    * 21 times with L=20 keeps only 1 copy, not 20). Deterministic and
    * oracle-matched — the span-level cousin of document dedup, catching the
    * boilerplate d1/d5 cannot (shared headers inside otherwise-distinct
    * docs). The paper builds a corpus suffix array over bytes; this is the
    * distributed-friendly formulation — fixed-L token windows hashed and
    * shuffled once — whose guarantee is: every duplicated run of ≥ L
    * tokens is detected (as ≥ 1 duplicated window) and removed at L-token
    * granularity. Overlapping removed spans merge for free (removal is a
    * distinct (doc, token-index) set, not interval arithmetic).
    *
    * Scale: window hashing is one explode (≈ token count rows) and ONE
    * shuffle on the hash; keeper election is a per-hash row_number over
    * groups whose size is the duplication multiplicity; the removal set is
    * L × duplicated occurrences; the rebuild is one groupBy(doc). No
    * stage is quadratic in anything.
    *
    * Returns (doc_id from `idCol`, n_tokens, n_removed, cleaned_text) for
    * EVERY input doc — cleaned_text re-joined on single spaces
    * (whitespace normalizes; token content is untouched). */
  def exactSubstringRemoval(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = WindowTokens
    // lazy checkpoint: the tokenize pass feeds window hashing, the
    // positional token explode, AND the final n_tokens join — one regex
    // scan instead of three (cached MEMORY_AND_DISK, spills at scale)
    val toks = df.select(col(idCol).as("id"),
      TextFns.tokens(col(textCol)).as("t"))
      .localCheckpoint(false)
    val win = toks.filter(size(col("t")) >= L)
      .select(col("id"),
        explode(sequence(lit(1), size(col("t")) - (L - 1))).as("i"), col("t"))
      .select(col("id"), col("i"),
        md5(concat_ws(" ", slice(col("t"), col("i"), lit(L)))).as("h"))
    val wk = Window.partitionBy("h").orderBy(col("id"), col("i"))
    val dropIdx = win.withColumn("rn", row_number().over(wk))
      .filter(col("rn") > 1)
      .select(col("id"), explode(sequence(col("i"), col("i") + (L - 1))).as("idx"))
      .distinct()
    val tokIdx = toks
      .select(col("id"), posexplode(col("t")).as(Seq("p", "tok")))
      .select(col("id"), (col("p") + 1).as("idx"), col("tok"))
    val keptAgg = tokIdx.join(dropIdx, Seq("id", "idx"), "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).as("__n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("tok")))),
          x => x.getField("tok")), " ").as("cleaned_text"))
    toks.select(col("id"), size(col("t")).cast("long").as("n_tokens"))
      .join(keptAgg, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }

  /** SemDeDup — semantic deduplication by embedding clustering (Abbas et
    * al. 2023, arXiv:2303.09540): cluster the embedding space, compute
    * pairwise cosine only WITHIN clusters, and drop every member of a
    * ≥`cosineThreshold` pair except the keeper. Clustering is the blocking
    * strategy — the same scale boundary as an LSH bucket: pair cost is
    * quadratic only inside a cluster, so the cluster count is the
    * parallelism/cost knob (the paper runs ~10⁵ clusters over LAION;
    * size k so corpus/k stays a few hundred). Production clusterings come
    * from [[Similarity.kmeansCentroids]]; judged runs inject deterministic
    * anchor rows instead (the d11/d21 injection pattern) so an independent
    * engine can replay assignment, pairing, and keeper choice end-to-end.
    *
    * Keeper policy is the paper's: within a duplicate pair the member with
    * the LOWER cosine-to-centroid survives (it carries more information
    * the centroid doesn't), made deterministic by (round(sim,9), id)
    * ordering — ties cannot occur since ids are distinct. A doc is dropped
    * when ANY ≥threshold partner in its cluster precedes it in that order
    * (greedy pair rule, one join; [[connectedComponents]] remains the
    * exact-cluster alternative when downstream needs whole groups).
    *
    * Returns one row per input doc:
    * (id, centroid_id, centroid_sim, dropped). One broadcast pass for
    * assignment, one shuffle on centroid_id for the pair join. */
  def semDeDup(df: DataFrame, idCol: String, vecCol: String,
               centroids: DataFrame, cosineThreshold: Double): DataFrame =
    semDeDupFromCells(
      Similarity.assignCellsSim(df, centroids, idCol, vecCol), cosineThreshold)

  /** [[semDeDup]] with the hierarchical APPROXIMATE assignment
    * ([[Similarity.assignCellsApprox]]) — the production composition at
    * growing centroid counts: same pairing and keeper policy, cells come
    * from the two-level search. Fully deterministic, so the d59 oracle
    * replays assignment AND dedup end-to-end. */
  def semDeDupApprox(df: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame, cosineThreshold: Double,
                     metaEvery: Int, nProbe: Int): DataFrame =
    semDeDupFromCells(
      Similarity.assignCellsApprox(df, centroids, idCol, vecCol, metaEvery, nProbe),
      cosineThreshold)

  private def semDeDupFromCells(cellsIn: DataFrame,
                                cosineThreshold: Double): DataFrame = {
    // lazy checkpoint: the assignment pass (the dominant stage at paper
    // scale) is consumed by BOTH sides of the pair self-join and by the
    // final verdict join; without truncation each consumer re-executes it
    val cells = cellsIn.localCheckpoint(false)
    def key(sim: Column, id: Column): Column = struct(round(sim, 9), id)
    val b = cells.select(col("centroid_id"), col("id").as("id_b"),
      col("v").as("v_b"), col("centroid_sim").as("sim_b"))
    // each unordered pair once (id < id_b); the GREATER (sim, id) key loses
    val drops = cells.join(b, Seq("centroid_id"))
      .filter(col("id") < col("id_b"))
      .filter(VectorExprs.cosine(col("v"), col("v_b")) >= cosineThreshold)
      .select(when(key(col("centroid_sim"), col("id")) < key(col("sim_b"), col("id_b")),
        col("id_b")).otherwise(col("id")).as("id"))
      .distinct()
    cells.join(drops.withColumn("__dropped", lit(true)), Seq("id"), "left")
      .select(col("id"), col("centroid_id"), col("centroid_sim"),
        coalesce(col("__dropped"), lit(false)).as("dropped"))
  }

  /** Embedding-cosine near-duplicates via random-hyperplane LSH blocking +
    * exact cosine verify inside buckets. */
  def embeddingNearDuplicates(df: DataFrame, idCol: String, vecCol: String,
                              dim: Int): DataFrame = {
    val sig = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bucket", VectorFns.hyperplaneSignature(col("v"), HyperplaneBits, dim))
    val b = sig.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"))
    sig.join(b, Seq("bucket"))
      .filter(col("id") < col("id_b"))
      .withColumn("cosine", VectorExprs.cosine(col("v"), col("v_b")))
      .filter(col("cosine") >= EmbeddingCosine)
      .select(col("id").as("id_a"), col("id_b"), col("cosine"))
  }
}
