package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Power-iteration centrality over a document-similarity graph — the
  * template-hub detector: a document connected to MANY near-dup
  * candidates (boilerplate families, templated pages, navigation shells)
  * accumulates score mass that a merely-pairwise duplicate check never
  * surfaces. PageRank-style link analysis as a corpus quality signal is
  * standard curation practice (link centrality drove Common Crawl seed
  * selection; Brin & Page 1998 for the iteration itself).
  *
  * INTEGER fixed-point variant, deliberately: the classic double-valued
  * iteration is not cross-engine reproducible (per-node neighbor sums
  * fold in shuffle order; doubles are order-sensitive), so scores live in
  * integer units of 1e-6 (`unit` = 1_000_000 = one initial share) and
  * every step is exact integer arithmetic — contribution = score DIV
  * degree, damping = (85·in) DIV 100 + 15% of unit — the repo's
  * DIV-never-`/` rule. Floor division leaks mass (so scores are a
  * deterministic LOWER fixed-point of the real iteration — fine for a
  * RANKING signal, and the price of bit-reproducibility; documented, not
  * hidden). Dangling nodes keep the base share and contribute nothing,
  * matching the plain non-redistributing formulation.
  *
  * Scale shape: degrees and the symmetrized edge list are computed once
  * and checkpointed; each of the CONSTANT-many iterations is one
  * edge-keyed shuffle join + one destination-keyed rollup + a left join
  * back to the node set (the textbook distributed PageRank round), with
  * the node-sized score relation checkpointed on a CADENCE (every 3rd
  * round + the last): a round's scores have exactly one consumer, so a
  * short lazy chain replays nothing (the multi-consumer O(k²) trap
  * needs a second consumer), while the cadence still bounds lineage
  * depth, live blocks and on-disk shuffle accumulation at a constant
  * round count — at 100 TB node sets the accumulated lazy blocks of
  * the never-checkpointing form are real memory. Round hygiene rides
  * [[graft.core.RoundCheckpointer]] (the d67 lesson: eager
  * materialize-then-free, superseded rounds unpersisted). */
object Centrality {

  /** Fixed-point unit of a score: the initial score of every node; its
    * 15% base must be exact, so it is a multiple of 100. */
  private val ScoreUnit = 1000000L

  /** `edges` = one row per UNDIRECTED edge (src, dst) — symmetrized
    * internally; `nodes` = one row per node id (isolated nodes included,
    * they keep the base score). Returns (id, degree, score) after
    * `iters` rounds. */
  def integerPageRank(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val n = nodes.toDF("id").localCheckpoint(false)
    val e = edges.toDF("src", "dst")
    val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(false)
    val deg = sym.groupBy(col("src").as("id"))
      .agg(count(lit(1)).cast(LongType).as("deg"))
      .localCheckpoint(false)
    val base = lit(ScoreUnit * 15L / 100L)
    val rounds = new graft.core.RoundCheckpointer(nodes.sparkSession.sparkContext)
    // Checkpoint CADENCE, not every round (r13): each round's score
    // relation has exactly ONE consumer (the next round — the 3-way join
    // references `scores` once), so the multi-consumer O(k²) replay trap
    // does not bite a lazy chain here. Rounds stay lazy and one eager
    // checkpoint every `ckptEvery` rounds (plus the last) bounds lineage
    // depth, live blocks and on-disk shuffle accumulation at a constant
    // number of rounds — the same hygiene at scale, a third of the
    // materialization jobs. (Same-box A/B at sf0.1: see OPTIMIZATION_r13.)
    val ckptEvery = 3
    var scores = n.withColumn("s", lit(ScoreUnit))
    var i = 0
    while (i < iters) {
      val contrib = scores
        .join(deg, Seq("id"))
        .join(sym, scores("id") === sym("src"))
        .select(col("dst").as("id"), expr("s div deg").as("c"))
        .groupBy("id").agg(sum("c").as("m"))
      val next = n
        .join(contrib, Seq("id"), "left")
        .select(col("id"),
          (base + expr("(85 * coalesce(m, 0L)) div 100")).as("s"))
      i += 1
      scores = if (i == iters || i % ckptEvery == 0) rounds.step(next) else next
    }
    scores
      .join(deg, Seq("id"), "left")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("degree"), col("s").as("score"))
  }

  /** The DuckDB replay: `iters` chained CTE rounds over `nodesCte` /
    * `edgesCte` (relations with column `id` resp. `src, dst` — one row
    * per undirected edge). Kept next to the Scala loop so the two cannot
    * drift. The final round's scores are in `s<iters>`; `deg` holds
    * degrees. */
  def oracleRankChain(nodesCte: String, edgesCte: String, iters: Int): String = {
    val base = ScoreUnit * 15L / 100L
    val init =
      s"""rk_n AS (SELECT id FROM ($nodesCte)),
         |rk_e AS (SELECT src, dst FROM ($edgesCte)
         |  UNION ALL SELECT dst, src FROM ($edgesCte)),
         |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
         |  FROM rk_e GROUP BY 1),
         |s0 AS (SELECT id, CAST(${ScoreUnit} AS BIGINT) AS s FROM rk_n)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst AS id, CAST(SUM(s.s // d.deg) AS BIGINT) AS m
         |  FROM s${i - 1} s JOIN rk_e e ON s.id = e.src
         |  JOIN deg d ON d.id = s.id GROUP BY 1),
         |s$i AS (SELECT n.id,
         |    CAST($base + (85 * COALESCE(c.m, 0)) // 100 AS BIGINT) AS s
         |  FROM rk_n n LEFT JOIN c$i c USING (id))""".stripMargin
    }
    (init +: steps).mkString(",\n")
  }
}
