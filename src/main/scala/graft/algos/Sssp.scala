package graft.algos

import graft.{ConvergenceStats, SsspConfig}
import graft.graph.LinkGraph
import org.apache.spark.sql.graft.StatsReset
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Single-source shortest paths on directed weighted graphs.
  *
  * The reference implements delta-stepping with shared-memory buckets and
  * CAS-min relaxation (/root/reference/crates/algos/src/sssp.rs:21-204);
  * buckets are a scheduling device only — the min-plus fixed point it
  * converges to is schedule-independent (SURVEY.md §2.6). Our distributed
  * formulation is frontier-based Bellman-Ford: each round relaxes only edges
  * out of vertices whose distance improved last round (the frontier), the
  * natural Spark reading of the same fixed point:
  *
  *   dist(start)=0, dist(v)=+inf
  *   round: cand(w) = min over frontier edges (v,w) of dist(v)+weight(v,w)
  *          dist'(w) = min(dist(w), cand(w)); frontier' = improved vertices
  *   stop when the frontier is empty.
  *
  * Unreached vertices report Double.PositiveInfinity (the reference uses
  * f32::MAX, sssp.rs:12,50-52).
  */
object Sssp {

  case class Result(distances: DataFrame, stats: ConvergenceStats)

  def run(
      graph: LinkGraph,
      config: SsspConfig,
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 10,
      broadcastVertices: Long = 5000000L): Result = {
    val spark = graph.edges.sparkSession
    import spark.implicits._

    // min-plus never needs parallel edges: relax the min-weight compressed
    // view (one build-time groupBy; identical fixed point, round-2 verdict
    // #3 — duplicate (src,dst) rows relaxed redundantly every round).
    val edges = graph.minWeightBySrc
    // node count off the persisted relaxation cache: the min-weight
    // compression keeps every (src, dst) pair (it only collapses parallel
    // edges), so max-id is identical — and the uncached upstream edge
    // derivation is not evaluated a SECOND time just for the count
    // (round-6; the LP/WCC nodeCountFrom pattern)
    val n = graph.nodeCountFrom(edges)
    require(config.startNode >= 0 && config.startNode < n,
      s"start node ${config.startNode} out of range [0,$n)")

    val doBroadcast = n <= broadcastVertices
    // broadcast when the vertex state fits; otherwise hint shuffle-hash so
    // the planner builds the (small) state side and NEVER sort-merges the
    // cached edge side (an SMJ would re-sort the big table every round)
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (doBroadcast) broadcast(df) else df.hint("shuffle_hash")

    // State holds only REACHED vertices (sparse — tiny early on):
    // (id, dist, pending) where pending = improved but not yet relaxed.
    // With finite delta (reference DeltaSteppingConfig, sssp.rs:21-41) each
    // round's frontier is the pending vertices inside the current distance
    // band [0, (bucket+1)*delta); when a band drains, the bucket advances to
    // the band of the smallest pending distance. Infinite delta makes the
    // threshold +inf — the frontier is all pending vertices (plain frontier
    // Bellman-Ford). Both schedules reach the identical min-plus fixed point.
    // Durable checkpoint/resume (north rule §4.8, same shape as
    // PR/WCC/LP/SCC): the sparse (id, dist, pending) state is the complete
    // loop state — the delta band re-derives from the minimum pending
    // distance, so only the state table needs to persist. State at round k
    // is config-dependent through (start, delta), input-dependent through
    // the edge set.
    val fingerprint = checkpointDir.map(_ =>
      s"sssp|s=${config.startNode}|delta=${config.delta}" +
        s"|n=$n|m=${graph.edgeCount}").getOrElse("")
    val resume = checkpointDir
      .flatMap(graft.checkpoint.Checkpointer.latest(spark, _, fingerprint))
      .filter(_._1.algorithm == "sssp")
    var iteration = resume.map(_._1.iteration).getOrElse(0)
    var state = resume.map(_._2)
      .getOrElse(spark.range(1).select(
        lit(config.startNode).as("id"), lit(0.0).as("dist"),
        lit(true).as("pending")))
      .transform(StatsReset.checkpointNoStats)
    val deltaFinite = !config.delta.isInfinite
    var bucket =
      if (deltaFinite && resume.isDefined) {
        // resume into the band of the smallest pending distance
        val mp = state.filter($"pending").agg(min($"dist")).first()
        if (mp.isNullAt(0)) 0L
        else math.floor(mp.getDouble(0) / config.delta).toLong
      } else 0L
    var done = false

    // One relax round as a lazy transform over `cur`: cand(w) = min over
    // in-band frontier edges (v,w) of dist(v)+weight; pending' = newly
    // improved, plus pending vertices beyond the band that were not relaxed
    // this round.
    //
    // The state/candidate merge is a UNION + groupBy(id) min-fold, NOT a
    // full-outer join (round-6 optimization, guide §3.1/§2.4): Spark cannot
    // broadcast-hash a full outer join (the hint is logged and DROPPED —
    // "build right for full outer join" — by HintErrorLogger), so the old
    // form paid a SortMergeJoin per round: both sides exchanged AND sorted,
    // in every mode. The union form shuffles the same vertex-sized rows
    // once (partial aggregation, no sorts) and reaches the identical fixed
    // point: each id occurs at most once per side, so min(dist) is the
    // state's dist, min(cand) the candidate's relaxation, max(pending) the
    // state's flag (cand rows contribute false), exactly the fields the
    // full-outer select read.
    def relaxRound(cur: DataFrame, threshold: Double, i: Int): DataFrame = {
      val _ = i // kept for call-site stability; aliases no longer needed
      val frontier = cur.filter($"pending" && $"dist" < threshold)
        .select($"id", $"dist")
      val cand = edges
        .join(maybeBroadcast(frontier), edges("src") === frontier("id"))
        .groupBy(edges("dst").as("id"))
        .agg(min($"dist" + $"weight").as("cand"))
      cur.select($"id", $"dist", $"pending",
          lit(null).cast("double").as("cand"))
        .unionByName(cand.select($"id",
          lit(null).cast("double").as("dist"), lit(false).as("pending"),
          $"cand"))
        .groupBy($"id")
        .agg(min($"dist").as("d0"), max($"pending").as("p0"),
          min($"cand").as("c0"))
        .select($"id",
          least(coalesce($"d0", lit(Double.PositiveInfinity)),
            coalesce($"c0", lit(Double.PositiveInfinity))).as("dist"),
          (($"c0".isNotNull && ($"d0".isNull || $"c0" < $"d0")) ||
            (coalesce($"p0", lit(false)) && $"d0" >= threshold))
            .as("pending"))
    }

    // Round batching (round-4 verdict #4 — SSSP was the one iterative
    // algorithm still paying two driver-action floors per round): with
    // infinite delta, run `batch` relax rounds per convergence probe.
    // Min-plus relaxation past frontier exhaustion is a no-op, so the
    // batch reaches the identical fixed point; the probe only decides
    // WHEN to stop, never what is computed. Materialization is
    // mode-aware, exactly the WCC/LP/SCC/PR batch policy:
    //  - SHUFFLE mode chains the rounds LAZILY into one fused job
    //    (ReuseExchange dedupes the repeated subtrees);
    //  - BROADCAST mode materializes EVERY round (nested broadcast builds
    //    re-execute their lazy subtrees with no cross-build reuse — the
    //    measured ~2^batch pathology) but still probes once per batch.
    // A FINITE delta keeps per-round probes: the band-advance decision is
    // a driver-side branch that cannot be chained lazily.
    val batch =
      if (deltaFinite) 1 // banded schedule is inherently probe-per-round
      else sys.env.get("GRAFT_SSSP_BATCH").map(_.toInt)
        .orElse(Some(config.roundBatch).filter(_ > 0))
        .getOrElse(4)

    if (batch > 1) {
      while (!done && iteration < config.maxIterations) {
        // clamp each batch to the next checkpoint boundary so the durable
        // cadence stays EXACTLY checkpointEvery (a free-running batch
        // would only hit lcm(batch, every) multiples — stretching the
        // resume-loss window silently)
        val rounds = {
          val r = math.min(batch, config.maxIterations - iteration)
          if (checkpointDir.isDefined)
            math.min(r, checkpointEvery - (iteration % checkpointEvery))
          else r
        }
        // broadcast-mode materialization cadence inside a batch: 1 = every
        // round (the measured-safe default — nested broadcast builds
        // re-execute their lazy subtree ~2^k per action); prop/env knob for
        // within-session A/B of small k (graft.bench.SsspBatchAb)
        val bcastLazy = sys.props.get("graft.sssp.bcastlazy")
          .orElse(sys.env.get("GRAFT_SSSP_BCAST_LAZY"))
          .map(_.toInt).getOrElse(1)
        // a zero would throw ArithmeticException in the modulus below and
        // a negative value would silently disable the per-round
        // materialization that prevents the measured ~2^batch
        // nested-broadcast re-execution pathology
        require(bcastLazy >= 1,
          s"SSSP bcastLazy cadence must be >= 1, got $bcastLazy")
        var cur = state
        var pending = 0L
        for (i <- 0 until rounds) {
          cur = relaxRound(cur, Double.PositiveInfinity, i)
          // eager localCheckpoint truncates plan lineage (SURVEY.md
          // §7.4-5): per `bcastLazy` rounds in broadcast mode, once per
          // batch in shuffle mode. The batch's LAST checkpoint job also
          // counts the still-pending vertices — the one convergence probe
          // per batch, with no action of its own.
          if (i == rounds - 1) {
            val (mat, probe) = StatsReset.checkpointObserved(cur,
              count(when($"pending", lit(1))))
            cur = mat
            pending = probe.getLong(0)
          } else if (doBroadcast && (i + 1) % bcastLazy == 0)
            cur = cur.transform(StatsReset.checkpointNoStats)
        }
        state = cur
        iteration += rounds
        // any vertex still pending means another batch is needed
        done = pending == 0L
        if (checkpointDir.isDefined && !done
            && iteration % checkpointEvery == 0
            && iteration < config.maxIterations) {
          state = graft.checkpoint.Checkpointer.write(checkpointDir.get,
            "sssp", iteration, 0.0, state, fingerprint)
            .transform(StatsReset.checkpointNoStats)
        }
      }
    } else while (!done && iteration < config.maxIterations) {
      val threshold =
        if (deltaFinite) (bucket + 1) * config.delta
        else Double.PositiveInfinity
      // ONE probe action per round over the cached state: the in-band
      // frontier size AND the minimum pending distance (the band-advance
      // target) in a single aggregate — round-2 verdict #3 flagged the
      // separate count() + min() driver round-trips.
      val probe = state.agg(
        count(when($"pending" && $"dist" < threshold, 1)).as("in_band"),
        min(when($"pending", $"dist")).as("min_pending")).first()
      if (probe.getLong(0) == 0L) {
        // this band is drained; jump to the band of the nearest pending
        // vertex, or stop when nothing is pending anywhere.
        if (probe.isNullAt(1)) done = true
        else bucket =
          math.floor(probe.getDouble(1) / config.delta).toLong
      } else {
        // eager localCheckpoint truncates the per-round plan lineage
        // (SURVEY.md §7.4-5); frontier/dist are cheap views over the cached
        // RDD.
        state = relaxRound(state, threshold, 0)
          .transform(StatsReset.checkpointNoStats)
        iteration += 1
        // skip the write when the loop is about to terminate on the
        // iteration cap — same guard as PageRank/WCC/LP (a redundant final
        // checkpoint buys nothing; resume re-derives the band from state)
        if (checkpointDir.isDefined && iteration % checkpointEvery == 0
            && iteration < config.maxIterations) {
          state = graft.checkpoint.Checkpointer.write(checkpointDir.get,
            "sssp", iteration, 0.0, state, fingerprint)
            .transform(StatsReset.checkpointNoStats)
        }
      }
    }

    val full = graph.vertices
      .join(maybeBroadcast(state.select($"id", $"dist")), Seq("id"), "left")
      .select($"id",
        coalesce($"dist", lit(Double.PositiveInfinity)).as("dist"))
    Result(full, ConvergenceStats(iteration, 0.0, done))
  }
}
