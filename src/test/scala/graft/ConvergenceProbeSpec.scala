package graft

import graft.algos._
import graft.fixtures.Fixtures
import graft.graph.LinkGraph
import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StatsReset
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Convergence probes are aggregates observed by the job that checkpoints
  * the superstep's state (StatsReset.checkpointObserved), not actions of
  * their own. These specs pin the job saving and that every probe reads
  * exactly what the separate actions it replaced read.
  */
class ConvergenceProbeSpec extends SparkSpec {

  private val graphs: Seq[(String, Seq[(Long, Long)])] = Seq(
    "readme13" -> Fixtures.prReadme13Edges,
    "two_pairs" -> Fixtures.wccTwoPairsEdges,
    "sssp" -> Fixtures.ssspEdges,
    "chain63" -> (0L until 63L).map(i => (i, i + 1)),
    "random" -> Fixtures.randomEdges(120, 700, 42L),
    "sparse" -> Fixtures.randomEdges(300, 330, 7L))

  private def scores(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def relClose(got: Double, want: Double, rtol: Double): Boolean =
    math.abs(got - want) <= rtol * math.abs(want)

  test("checkpointObserved materializes the rows and their aggregates " +
      "in one job") {
    val s = spark
    import s.implicits._
    val df = spark.range(0, 100, 1, 4)
      .select($"id", ($"id" % 3 === 0).as("m"))
    val ((cp, row), jobs) = JobCounter(spark.sparkContext)(
      StatsReset.checkpointObserved(df,
        count(lit(1)), count(when($"m", lit(1))), sum($"id")))
    assert(jobs == 1)
    assert(row.getLong(0) == 100L && row.getLong(1) == 34L &&
      row.getLong(2) == 4950L)
    // the returned frame holds the rows and carries no observation: a
    // later action reads the checkpoint and re-fires nothing
    assert(cp.columns.toSeq == Seq("id", "m"))
    assert(cp.filter($"m").count() == 34L)
  }

  test("observed aggregates over no rows: count 0, sum null, and " +
      "PageRank's error reads 0") {
    val s = spark
    import s.implicits._
    val schema = StructType(Seq(StructField("score", DoubleType),
      StructField("prev", DoubleType)))
    // a frame with partitions but no rows, and one with no partitions
    val emptyParts = spark.range(0, 0, 1, 2)
      .select($"id".cast("double").as("score"),
        $"id".cast("double").as("prev"))
    val noParts = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    Seq(emptyParts, noParts).foreach { df =>
      val (cp, row) = StatsReset.checkpointObserved(df,
        count(lit(1)), sum($"score"), PageRank.l1Error)
      assert(row.getLong(0) == 0L)
      assert(row.isNullAt(1))
      assert(row.getDouble(2) == 0.0)
      assert(cp.count() == 0L)
    }
  }

  test("one more convergence-mode PageRank superstep adds at most 4 jobs " +
      "(broadcast mode)") {
    val g = LinkGraph(edgesDF(Fixtures.randomEdges(120, 700, 42L)))
    // a tolerance no error reaches: every run stops on the iteration cap
    def run(k: Int) = PageRank.run(g, PageRankConfig(k, 1e-300))
    run(1) // build the graph's lazy caches outside the counted runs
    val (r3, j3) = JobCounter(spark.sparkContext)(run(3))
    val (r4, j4) = JobCounter(spark.sparkContext)(run(4))
    assert(!r3.stats.converged && !r4.stats.converged)
    assert(r4.stats.iterations == 4)
    // broadcast senders, gather shuffle, state shuffle, checkpoint; the
    // separate error join it replaced cost about 4 more
    assert(j4 - j3 <= 4, s"superstep cost ${j4 - j3} jobs ($j3 -> $j4)")
  }

  test("PageRank's observed error equals the join-based L1 sum, and its " +
      "scores match fixed-iteration mode") {
    for ((name, es) <- graphs; k <- Seq(1, 2, 5)) {
      val g = LinkGraph(edgesDF(es))
      // small graphs can reach an exact fixed point (error 0) first
      val after = PageRank.run(g, PageRankConfig(k, 1e-300))
      val ran = after.stats.iterations
      assert(ran == k || after.stats.converged, name)
      val before = PageRank.run(g, PageRankConfig(ran - 1, 1e-300))
      // the probe the observation replaced: join consecutive states on id
      val joined = after.scores.as("n")
        .join(before.scores.as("p"), Seq("id"))
        .agg(sum(abs(col("n.score") - col("p.score")))).first().getDouble(0)
      assert(relClose(after.stats.error, joined, 1e-12),
        s"$name k=$k: observed ${after.stats.error} vs joined $joined")
      // fixed-iteration mode keeps the degree-table scatter
      val fixed = scores(PageRank.run(g, PageRankConfig(ran, 0.0)).scores)
      scores(after.scores).foreach { case (id, v) =>
        assert(relClose(v, fixed(id), 1e-12), s"$name k=$k node $id")
      }
    }
  }

  /** Convergence stats each algorithm reported when every probe was a
    * separate count action on the checkpointed state: per graph and vertex
    * state mode, WCC iterations, LP iterations and last changed count
    * (non-zero where synchronous LPA oscillates until the iteration cap),
    * SCC outer rounds and SSSP iterations. WCC, SCC and SSSP converged
    * every time with error 0.
    */
  private val pinned = Seq(
    ("readme13", "bcast", 3, 20, 12, 2, 4),
    ("readme13", "shuffle", 6, 20, 12, 2, 4),
    ("two_pairs", "bcast", 2, 20, 4, 1, 4),
    ("two_pairs", "shuffle", 6, 20, 4, 1, 4),
    ("sssp", "bcast", 3, 6, 0, 1, 4),
    ("sssp", "shuffle", 6, 6, 0, 1, 4),
    ("chain63", "bcast", 7, 20, 64, 1, 64),
    ("chain63", "shuffle", 10, 20, 64, 1, 64),
    ("random", "bcast", 4, 8, 0, 1, 8),
    ("random", "shuffle", 10, 8, 0, 1, 8),
    ("sparse", "bcast", 7, 20, 239, 4, 4),
    ("sparse", "shuffle", 10, 20, 239, 4, 4))

  test("WCC, LP, SCC and SSSP report the same convergence stats as the " +
      "separate probe actions did") {
    for ((name, mode, wcc, lp, lpChanged, scc, sssp) <- pinned) {
      val g = LinkGraph(edgesDF(graphs.toMap.apply(name)))
      val bv = if (mode == "shuffle") 0L else 5000000L
      def check(algo: String, s: ConvergenceStats,
          want: (Int, Double, Boolean)): Unit =
        assert((s.iterations, s.error, s.converged) == want,
          s"$name $mode $algo")
      check("wcc", Wcc.run(g, broadcastVertices = bv).stats,
        (wcc, 0.0, true))
      check("lp", LabelPropagation.run(g, broadcastVertices = bv).stats,
        (lp, lpChanged.toDouble, lpChanged == 0))
      check("scc", Scc.run(g, broadcastVertices = bv).stats,
        (scc, 0.0, true))
      check("sssp", Sssp.run(g, SsspConfig(0L), broadcastVertices = bv).stats,
        (sssp, 0.0, true))
    }
  }
}
