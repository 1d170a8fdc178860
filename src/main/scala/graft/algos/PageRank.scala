package graft.algos

import graft.{ConvergenceStats, PageRankConfig}
import graft.checkpoint.Checkpointer
import graft.graph.LinkGraph
import org.apache.spark.sql.graft.StatsReset
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** PageRank re-expressed as synchronous (Jacobi) supersteps of
  * Catalyst-planned join + aggregate, matching the recurrence of the
  * reference's pull-based implementation
  * (/root/reference/crates/algos/src/page_rank.rs:58-167):
  *
  *   init_score = 1/n; base = (1-d)/n
  *   score'(u)  = base + d * sum over in-neighbors v of score(v)/out_deg(v)
  *   error      = sum_u |score'(u) - score(u)|   (accumulated in f64)
  *   stop when error < tolerance or iteration == max_iterations
  *
  * Exact semantic contract (SURVEY.md §2.2): duplicate edges contribute once
  * per occurrence (the reference gathers the raw in-neighbor multiset);
  * dangling mass is dropped, NOT redistributed (an out-degree-0 node sends
  * nothing); scores do not sum to 1; the vertex universe is 0..max_id even
  * for ids absent from the edge list. The reference's chunk-sequential
  * intra-iteration updates are schedule-dependent at the last f32 bits; our
  * strictly synchronous Double iteration is the deterministic reading of the
  * same recurrence and matches the golden vectors well within the 1e-6
  * allclose contract (see ReferencePageRank for the pinned-iteration parity
  * oracle).
  *
  * Physical plan per superstep (kept minimal):
  *  - senders: narrow filter/projection over the state
  *    (out_scores = score/out_deg hoisted once per superstep, reference P7)
  *  - gather: cached edges JOIN vertex state -> groupBy(dst).sum. In
  *    broadcast mode (state fits memory) the edge side is the row-count-
  *    BALANCED cache — src-hash partitioning is pathologically skewed under
  *    Zipf hubs and caps every stage at the hub partition's size — and the
  *    state is broadcast. Above `broadcastVertices` the join is a
  *    shuffle-hash build of the state against the src-partitioned cache.
  *    Partial map-side aggregation absorbs dst-hub skew before the gather
  *    shuffle; optional `gatherSalt` > 1 splits heavy srcs across
  *    partitions via virtual ids — the distributed counterpart of the
  *    reference's degree-balanced work ranges (graph_ops.rs:331-440).
  *  - scatter: cached dense degree table LEFT JOIN gathered -> next state
  *    (convergence mode: the previous state, which carries out_deg, LEFT
  *    JOIN gathered, so each row holds its new and previous score).
  *  - in fixed-iteration mode the whole vertex path is hash-aligned:
  *    degrees cached hash(id), the gather aggregate lands hash(id), the
  *    scatter join is co-partitioned, and the next senders meet the
  *    hash(src) edge cache in place — a shuffle-mode superstep executes as
  *    ONE stage whose only shuffle is the partial-aggregated gather output.
  *    (A checkpointed convergence-mode state has no known partitioning, so
  *    its scatter also exchanges the vertex-sized state.)
  *  - the convergence error is summed by the job that checkpoints the new
  *    state (StatsReset.checkpointObserved), the reference's one-pass
  *    score-and-error loop (page_rank.rs:152-153) — no job of its own; in
  *    fixed-iteration mode (tolerance <= 0) it is skipped entirely and
  *    supersteps chain lazily into one fused Catalyst job.
  * Eager localCheckpoint truncates plan lineage per superstep
  * (SURVEY.md §7.4-5); every `checkpointEvery` iterations the state is also
  * durably written + re-read via Checkpointer for crash-resume with
  * per-partition lineage.
  */
object PageRank {

  case class Result(scores: DataFrame, stats: ConvergenceStats)

  /** Core count below which AUTO hub salting declines (see autoSalt
    * scaladoc for the measured crossover) — shared by every shuffle-mode
    * gather that threads the lever (PageRank, LabelPropagation).
    */
  val SaltCrossoverCores = 32

  /** AUTO salting decision (gatherSalt < 0) for shuffle-mode gathers, from
    * the hub histogram (LinkGraph.srcHubStats). Two measured preconditions
    * (BASELINE.md) must BOTH hold before targeted hub splitting engages:
    *
    *  - `cores >= 32`: below ~32 concurrent cores the split costs more
    *    than the straggler it removes (the senders explode + per-superstep
    *    hub broadcast are pure overhead while the hub partition still fits
    *    in the wave) — measured on the Zipf bench graph, so the N->4N
    *    scaling protocol (2 and 8 cores) is deliberately untouched;
    *  - the heaviest src must exceed one average partition (below that,
    *    hash(src) placement already packs it into a normal-sized wave slot).
    *
    * The returned factor splits the hub across ~2x the partition-spans it
    * occupies (so each virtual id owns ~half an average partition), capped
    * at 16 — beyond that the per-superstep state replication dominates.
    * Pure so the rule is unit-testable.
    */
  def autoSalt(maxSrcRows: Long, totalRows: Long, numPartitions: Int,
      cores: Int): Int =
    if (cores < SaltCrossoverCores || totalRows <= 0L) 1
    else {
      val perPart = math.max(1L, totalRows / math.max(1, numPartitions))
      if (maxSrcRows <= perPart) 1
      else math.min(16, math.max(2,
        math.ceil(2.0 * maxSrcRows / perPart).toInt))
    }

  /** Convergence-mode probe: L1 distance between the `score` and `prev`
    * columns of a scatter output; 0.0 over no rows (SQL sum is null).
    */
  private[graft] val l1Error =
    coalesce(sum(abs(col("score") - col("prev"))), lit(0.0)).as("error")

  def run(
      graph: LinkGraph,
      config: PageRankConfig = PageRankConfig(),
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 5,
      broadcastVertices: Long = 5000000L,
      gatherSalt: Int = sys.env.getOrElse("GRAFT_SALT", "-1").toInt): Result = {
    val spark = graph.edges.sparkSession
    import spark.implicits._

    val n = graph.nodeCount
    require(n > 0, "PageRank on empty graph")
    val d = config.dampingFactor
    val initScore = 1.0 / n
    val baseScore = (1.0 - d) / n
    val trackError = config.tolerance > 0.0

    // The gather runs on the compressed multigraph (one row per distinct
    // (src,dst) with multiplicity): PageRank is linear in multiplicity, so
    // contribution = cnt * out_score gives identical sums over an 8x
    // smaller scan (measured on the Zipf bench graph).
    val doBroadcast = graph.nodeCount <= broadcastVertices
    // broadcast mode: row-balanced cache (hub-skew-proof, state broadcast).
    // shuffle mode: (src, salt)-hash-partitioned cache — the senders table
    // shuffles by (src, salt) and meets it with no exchange on the big
    // side, and Zipf hubs are split across `gatherSalt` partitions instead
    // of capping one (stage time = slowest partition).
    // gatherSalt: >= 1 explicit (1 = never split), < 0 = AUTO — engage
    // targeted hub splitting from the measured preconditions (autoSalt
    // scaladoc; the default, mirroring the reference's degree-balanced
    // partitioning being always-on rather than a flag). The histogram costs
    // one aggregation over the multigraph cache the gather scans anyway.
    val salt =
      if (doBroadcast) 1
      else if (gatherSalt >= 1) gatherSalt
      else {
        val cores = spark.sparkContext.defaultParallelism
        // below the crossover: skip the histogram job too
        if (cores < SaltCrossoverCores) 1
        else {
          val (maxRows, totalRows) = graph.srcHubStats
          autoSalt(maxRows, totalRows, graph.numPartitions, cores)
        }
      }
    if (sys.env.contains("GRAFT_PR_DEBUG"))
      System.err.println(s"[pr] broadcast=$doBroadcast salt=$salt " +
        s"cores=${spark.sparkContext.defaultParallelism}")
    // salt == 1 keeps the single-column join key: the composite (src, salt)
    // probe measured ~+35% CPU across the whole gather scan, so salting
    // only engages for graphs whose hub partitions actually dominate.
    val (edges, hubs) =
      if (doBroadcast) (graph.multiplicities, null)
      else if (salt <= 1) (graph.multiplicitiesBySrc, null)
      else graph.multiplicitiesSalted(salt)
    // Dense (id, out_deg) over the full vertex universe — built once,
    // cached EXPLICITLY hash(id)-partitioned: the scatter join then meets
    // the gather aggregate (also hash(id)) co-partitioned, its output stays
    // hash(id), and the next superstep's senders meet the hash(src) edge
    // cache with no exchange either — one stage per superstep instead of a
    // re-exchange of the vertex table every round (spark.range's default
    // split partitioning satisfies nothing).
    // out_deg counts raw edges = sum of multiplicities.
    val degrees = graph.vertices
      .join(edges.groupBy($"src".as("id"))
        .agg(sum($"cnt").as("out_deg")), Seq("id"), "left")
      .na.fill(0.0, Seq("out_deg"))
      .repartition(graph.numPartitions, $"id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    degrees.count()

    // Stale-checkpoint guard, computed only when checkpointing is on
    // (edgeCount is a job). The fingerprint carries only STATE-determining
    // facts (damping, graph): a checkpoint at iteration k is valid for any
    // maxIterations/tolerance (those only decide when to stop), but never
    // for a different graph or damping factor.
    val fingerprint = checkpointDir.map(_ =>
      s"page_rank|d=$d|n=$n|m=${graph.edgeCount}").getOrElse("")
    val resume = checkpointDir
      .flatMap(Checkpointer.latest(spark, _, fingerprint))
      .filter(_._1.algorithm == "page_rank")
    var iteration = resume.map(_._1.iteration).getOrElse(0)
    // state: (id, score, out_deg). localCheckpoint (eager) per superstep
    // truncates the logical plan — persist alone caches data but lineage
    // still nests per iteration (SURVEY.md §7.4-5).
    var state: DataFrame = resume
      .map(_._2.select($"id", $"score", $"out_deg"))
      .getOrElse(degrees.select($"id", lit(initScore).as("score"),
        $"out_deg"))
      .localCheckpoint()

    var error = Double.NaN
    var converged = false

    while (!converged && iteration < config.maxIterations) {
      val senders0 = state.filter($"out_deg" > 0)
        .select($"id", ($"score" / $"out_deg").as("out_score"))
      // broadcast mode: one serial driver-side broadcast build per
      // superstep (right when state << executor memory). shuffle mode:
      // senders explodes x salt and shuffles by (src, salt) in parallel,
      // meeting the pre-partitioned cached edges with no exchange on the
      // big side — the Amdahl-free path for large vertex sets.
      // hub state rows replicate to their virtual src ids (vid < 0);
      // everything else ships one row with vid = id. The join key stays a
      // single long either way.
      val senders =
        if (doBroadcast || salt <= 1) senders0
        else senders0
          .join(broadcast(hubs.withColumnRenamed("src", "id")), Seq("id"),
            "left")
          .withColumn("k", explode_outer(
            sequence(lit(0), coalesce($"nsalt", lit(1)) - 1)))
          .select(
            when($"nsalt".isNotNull, -($"id" * salt + $"k" + 1))
              .otherwise($"id").as("vid"),
            $"out_score")
      val joinKey =
        if (doBroadcast || salt <= 1) edges("src") === senders("id")
        else edges("vsrc") === senders("vid")
      val gathered = edges
        .join(
          if (doBroadcast) broadcast(senders)
          else senders.hint("shuffle_hash"),
          joinKey)
        .groupBy(edges("dst").as("id"))
        .agg(sum($"cnt" * $"out_score").as("in_sum"))
      val newScore =
        (lit(baseScore) + lit(d) * coalesce($"in_sum", lit(0.0))).as("score")

      if (trackError) {
        // convergence mode: the scatter reads the previous state (it
        // carries out_deg), so every row holds its new and previous score
        // and the L1 error is an aggregate observed by the checkpoint job
        // that materializes the next state — no error join of consecutive
        // states and no action of its own (about half of a superstep's
        // jobs before). Statistics are truncated: the state now meets
        // itself through the gather, so carried size estimates would
        // compound per superstep (StatsReset).
        val (mat, probe) = StatsReset.checkpointObserved(
          state.join(gathered.hint("shuffle_hash"), Seq("id"), "left")
            .select($"id", newScore, $"out_deg", $"score".as("prev")),
          l1Error)
        error = probe.getDouble(0)
        converged = error < config.tolerance
        state = mat.select($"id", $"score", $"out_deg")
      } else {
        // scatter: both sides arrive hash-partitioned by id (cached
        // degrees, aggregate output) — shuffle_hash joins them in place
        // instead of a per-superstep driver broadcast of `gathered`.
        val next = degrees
          .join(gathered.hint("shuffle_hash"), Seq("id"), "left")
          .select($"id", newScore, $"out_deg")
        // fixed-iteration mode: chain supersteps LAZILY (state appears once
        // per level -> linear plan growth) and let Catalyst fuse the whole
        // sequence into one job; truncate lineage every few rounds to keep
        // planning cheap. This removes all per-superstep job/materialization
        // overhead — the difference between anti-scaling and scaling on the
        // throughput bench. SHUFFLE MODE ONLY: in broadcast mode each
        // nested broadcast(senders) build re-executes its lazy subtree with
        // no cross-build reuse (~2^k per action — the Wcc/LP batch policy,
        // BASELINE.md), so broadcast-mode supersteps materialize one per
        // action like LP's fused mode does.
        state =
          if (doBroadcast || (iteration + 1) % 5 == 0)
            next.localCheckpoint()
          else next
      }
      iteration += 1

      if (checkpointDir.isDefined && !converged
          && iteration < config.maxIterations
          && iteration % checkpointEvery == 0) {
        state = Checkpointer.write(checkpointDir.get, "page_rank",
          iteration, if (error.isNaN) -1.0 else error, state, fingerprint)
          .localCheckpoint()
      }
    }

    Result(state.select($"id", $"score"),
      ConvergenceStats(iteration, error, converged))
  }
}
