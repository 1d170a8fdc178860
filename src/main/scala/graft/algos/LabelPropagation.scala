package graft.algos

import graft.{ConvergenceStats, LabelPropagationConfig}
import graft.checkpoint.Checkpointer
import graft.graph.LinkGraph
import org.apache.spark.sql.graft.StatsReset
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Synchronous label propagation (community detection).
  *
  * Absent from the reference (SURVEY.md §2.9 — grep confirms no LP anywhere;
  * "relabel" there is degree reordering). Semantics are therefore defined
  * from the public standard (Raghavan et al. 2007, synchronous variant) with
  * a deterministic tie-break so that results are exact and
  * partitioning-independent:
  *
  *   label(v) init = v
  *   each superstep: label'(v) = the neighbor label with the highest
  *     multiplicity in the undirected neighbor multiset of v (duplicate
  *     edges count); ties broken by SMALLEST label. Vertices with no
  *     neighbors keep their label.
  *   stop when no label changed or maxIterations reached.
  *
  * One superstep = join(edges, labels) + groupBy(dst, label).count +
  * per-dst argmax via max(struct(cnt, -label)) — all partial-aggregatable,
  * no UDAF, no window (SURVEY.md §7.3). Synchronous LPA can oscillate on
  * bipartite-ish structures; maxIterations bounds that, and the fixed-point
  * check compares against the previous state.
  */
object LabelPropagation {

  case class Result(labels: DataFrame, stats: ConvergenceStats)

  def run(
      graph: LinkGraph,
      config: LabelPropagationConfig = LabelPropagationConfig(),
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 10,
      broadcastVertices: Long = 5000000L,
      // LP's own env knob, deliberately NOT the shared GRAFT_SALT:
      // that one is PageRank's documented override, and the BASELINE.md
      // measurement shows force-salting LP's voter gather is a strict
      // regression (the per-round voter exchange costs more than the hub
      // straggler it removes) — a PR-tuning env var must not silently
      // engage it here
      gatherSalt: Int = sys.env.getOrElse("GRAFT_LP_SALT", "-1").toInt)
      : Result = {
    val spark = graph.edges.sparkSession
    import spark.implicits._

    // Undirected multiset view as a compressed multigraph: duplicates count
    // toward the mode via the multiplicity column (identical votes, 8x
    // smaller scan on duplicate-heavy graphs). Built in ONE pass over the
    // raw edges (round-6): a row-local explode fans each edge into both
    // directions ahead of the count aggregation, replacing the old
    // two-cache build (materialize `multiplicities`, then union + re-
    // aggregate + re-partition it) — one edge-input scan and one exchange
    // instead of two of each. Self-loops are KEPT in the cache rows (as
    // (v, v) with doubled cnt) so max-id survives and the node count rides
    // this cache instead of a second evaluation of the uncached upstream
    // derivation; the per-round vote join filters them out (a vertex does
    // not vote for itself), exactly as before.
    // Broadcast mode reads row-balanced partitions (hub skew can't cap a
    // stage); shuffle mode reads hash(src) partitions so the per-round
    // state join needs no exchange on the big side (the PageRank cache
    // split).
    val undBase = graph.edges.select(explode(array(
        struct($"src", $"dst"),
        struct($"dst".as("src"), $"src".as("dst")))).as("e"))
      .select($"e.src".as("src"), $"e.dst".as("dst"))
      .groupBy($"src", $"dst").agg(count(lit(1)).cast("double").as("cnt"))
    // The cache materializes ONCE, mode-independent (round-robin balanced —
    // the broadcast-mode layout), and the node count reads off it; shuffle
    // mode then repartitions the IN-MEMORY compressed table by src (one
    // exchange of the small compressed rows, no re-aggregation and no
    // second scan of the raw edges). Replaces the old shape that needed n
    // before it could build anything and so paid a full extra evaluation
    // of the upstream derivation just for the count.
    val undAll = undBase.repartition(graph.numPartitions)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = graph.nodeCountFrom(undAll)
    // release the cache before throwing: a long-running caller (the
    // serving daemon) would otherwise pin one empty InMemoryRelation per
    // failed call (the pre-round-6 shape required n > 0 before
    // persisting anything)
    if (n <= 0) {
      undAll.unpersist()
      throw new IllegalArgumentException("LP on empty graph")
    }
    val doBroadcast = n <= broadcastVertices
    val undCache =
      if (doBroadcast) undAll
      else {
        val bySrc = undAll.repartition(graph.numPartitions, $"src")
          .persist(StorageLevel.MEMORY_AND_DISK)
        bySrc.count()
        undAll.unpersist()
        bySrc
      }
    // self-loop rows stay in the CACHE (they carry the max id); the vote
    // scan filters them per round, same votes as the old pre-filtered build
    val und = undCache.filter($"src" =!= $"dst")
    // Hub salting for the shuffle-mode gather (round-4 verdict #6): LP
    // scans ITS OWN undirected multigraph — a symmetric view where a Zipf
    // hub's row count is its full (in+out) neighborhood — through the same
    // virtual-id split PageRank uses (LinkGraph.saltBySrc). MEASURED
    // DECISION: AUTO DECLINES for LP. On the 29.5M-edge follower-hub graph
    // (1.5M-fan hub) at local[32] — the exact shape where PageRank's salt
    // wins 1.6x — salted LP measured 21.6-23.4 s / 443-478 s CPU vs
    // 19.4-20.6 s / 348-369 s CPU unsalted (interleaved best-of-3,
    // BASELINE.md round 5): unlike PageRank's one-column senders, LP's
    // voters ride a per-round (vid, label) exchange whose explode +
    // re-shuffle costs more than the hub straggler it removes, at every
    // salt factor the rule would pick. Explicit gatherSalt > 1 keeps the
    // lever available for wider hubs than we can synthesize here.
    val salt = if (doBroadcast || gatherSalt < 1) 1 else gatherSalt
    val (undG, hubs) =
      if (salt <= 1) (und, null)
      else LinkGraph.saltBySrc(und, graph.numPartitions, salt)
    if (salt > 1) {
      // every per-round gather reads only the salted copy — materialize
      // it (forcing `hubs` too) and release the unsalted multigraph, or
      // the job's largest table stays double-pinned for the whole run
      undG.count()
      undCache.unpersist(); ()
    }
    if (sys.env.contains("GRAFT_LP_DEBUG"))
      System.err.println(s"[lp] broadcast=$doBroadcast salt=$salt")
    // broadcast when the vertex state fits; otherwise hint shuffle-hash so
    // the planner builds the (small) state side and NEVER sort-merges the
    // cached edge side (an SMJ would re-sort the big table every round)
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (doBroadcast) broadcast(df) else df.hint("shuffle_hash")

    // state-determining facts only: labels at iteration k do not depend on
    // maxIterations or the earlyStop scheduling flag.
    val fingerprint = checkpointDir.map(_ =>
      s"label_propagation|n=$n|m=${graph.edgeCount}").getOrElse("")
    val resume = checkpointDir
      .flatMap(Checkpointer.latest(spark, _, fingerprint))
      .filter(_._1.algorithm == "label_propagation")
    var iteration = resume.map(_._1.iteration).getOrElse(0)
    var labels: DataFrame = resume.map(_._2)
      .getOrElse(graph.vertices.select($"id", $"id".as("label")))
      .transform(StatsReset.checkpointNoStats)

    var changed = Long.MaxValue
    while (changed > 0 && iteration < config.maxIterations) {
      // mode of neighbor labels; tie -> smallest label. argmax encoded as
      // max(struct(cnt, -label)): higher count wins, then smaller label.
      // salted gathers replicate hub label rows to their virtual src ids
      // (voters stays ~V rows: only hubs replicate) and join on the
      // single-long vsrc against the vsrc-partitioned salted table.
      val counts =
        if (salt <= 1)
          und
            .join(maybeBroadcast(labels), und("src") === labels("id"))
            .groupBy(und("dst").as("id"), $"label")
            .agg(sum(und("cnt")).cast("long").as("cnt"))
        else {
          val voters = LinkGraph
            .explodeToVirtual(labels, hubs, salt)
            .select($"vid", $"label")
          undG
            .join(voters.hint("shuffle_hash"), undG("vsrc") === voters("vid"))
            .groupBy(undG("dst").as("id"), $"label")
            .agg(sum(undG("cnt")).cast("long").as("cnt"))
        }
      val mode = counts
        .groupBy($"id")
        .agg(max(struct($"cnt", (-$"label").as("neg_label"))).as("m"))
        .select($"id", (-$"m.neg_label").as("new_label"))
      if (config.earlyStop) {
        // the changed count is observed by the checkpoint job itself:
        // no second vertex-vertex join and no count action per round.
        val (next, probe) = StatsReset.checkpointObserved(
          labels
            .join(maybeBroadcast(mode), Seq("id"), "left")
            .select($"id", coalesce($"new_label", $"label").as("label"),
              (coalesce($"new_label", $"label") =!= $"label").as("chg")),
          count(when($"chg", lit(1))))
        changed = probe.getLong(0)
        labels = next.select($"id", $"label")
      } else {
        // fixed-iteration mode (the PageRank pattern, round-1 verdict #6):
        // no changed count, so supersteps chain LAZILY into fused Catalyst
        // jobs; truncate lineage every few rounds to keep planning cheap.
        // A labeling that reaches its fixed point inside the budget is
        // unchanged by the extra rounds, so results match earlyStop runs.
        // State must appear ONCE per plan level (else the plan doubles per
        // round): `und` is symmetric, so every vertex with an edge gets a
        // vote each round, and isolated vertices keep their initial label
        // (= their own id) forever — next state rebuilds from the constant
        // vertex universe instead of the previous labels table.
        val next = graph.vertices
          .join(maybeBroadcast(mode), Seq("id"), "left")
          .select($"id", coalesce($"new_label", $"id").as("label"))
        // chaining is linear only in shuffle mode (one fused job, exchange
        // reuse); in broadcast mode nested broadcast builds re-execute
        // their subtree with no cross-build reuse — measured ~2^k per
        // action on the same round shape (Wcc.scala batch policy /
        // BASELINE.md), so broadcast mode materializes every round.
        labels =
          if (doBroadcast || (iteration + 1) % 5 == 0 ||
              iteration + 1 == config.maxIterations)
            next.transform(StatsReset.checkpointNoStats)
          else next
      }
      iteration += 1

      if (checkpointDir.isDefined && changed > 0
          && iteration < config.maxIterations
          && iteration % checkpointEvery == 0) {
        labels = Checkpointer.write(checkpointDir.get, "label_propagation",
          iteration, changed.toDouble, labels, fingerprint).transform(StatsReset.checkpointNoStats)
      }
    }

    if (salt > 1) { undG.unpersist(); hubs.unpersist(); () }
    else undCache.unpersist()
    Result(labels,
      ConvergenceStats(iteration,
        if (config.earlyStop) changed.toDouble else Double.NaN,
        config.earlyStop && changed == 0))
  }
}
