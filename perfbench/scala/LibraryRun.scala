package graftbench

import graft._
import graft.algos._
import graft.graph.LinkGraph
import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Per-layer metrics from traced passes: each pass span's children named
  * after a layer, with the jobs `jobsOf` attributes to them.
  */
object Layers {
  import BenchMain.median

  def fill(out: Outcome, tracer: Tracer, passes: Seq[Span],
      jobsOf: Span => Seq[JobRec], edges: Long): Unit = {
    def child(name: String): Seq[Work] = passes.flatMap { p =>
      val kids = tracer.spans.filter(s => s.parent == p.id && s.name == name)
      if (kids.isEmpty) None
      else Some(tracer.sum(kids.toSeq.map(k => tracer.work(k, jobsOf(k)))))
    }
    def put(prefix: String, ws: Seq[Work], fields: (String, Work => Double)*)
        : Unit = if (ws.nonEmpty) fields.foreach { case (k, f) =>
      out.layers(s"$prefix.$k") = median(ws.map(f))
    }
    val wall = "wall_s" -> ((w: Work) => w.wallS)
    val jobs = "jobs" -> ((w: Work) => w.jobs.toDouble)
    val shuffle = "shuffle_mb" -> ((w: Work) => w.shuffleMb)
    val cpu = "task_cpu_s" -> ((w: Work) => w.taskCpuS)
    BenchMain.Algos.foreach { a =>
      put(s"algos.$a", child(s"algos.$a"), wall, jobs,
        "tasks" -> ((w: Work) => w.tasks.toDouble), shuffle, cpu,
        "driver_gap_s" -> ((w: Work) => w.driverGapS))
    }
    val ing = child("ingest")
    put("ingest", ing, wall, jobs, shuffle, cpu,
      "edges_per_s" -> ((w: Work) => edges / w.wallS))
    out.layers("pipeline.jobs") = median(passes.map(p => jobsOf(p).size.toDouble))
    out.layers("pipeline.self_s") = median(passes.map(tracer.selfS))
    // one pass's result fetches (one span in the library checks, one per
    // property on the daemon) are summed per parent span
    out.layers("results.fetch_ms") = median(
      tracer.spans.filter(_.name == "results.fetch").groupBy(_.parent).values
        .map(_.map(_.durS).sum * 1000.0))
    out.layers("results.release_ms") = median(
      tracer.spans.filter(_.name == "results.release").map(_.durS * 1000.0))
  }

  private def algo(a: String): Seq[String] =
    Seq("wall_s", "jobs", "tasks", "shuffle_mb", "task_cpu_s",
      "driver_gap_s") ++ (if (a.startsWith("tc")) Nil else Seq("iterations"))

  /** Per-layer metrics of the layers the library workloads call directly. */
  val Library: Seq[String] =
    BenchMain.Algos.flatMap(a => algo(a).map(m => s"algos.$a.$m")) ++
      Seq("ingest.wall_s", "ingest.jobs", "ingest.shuffle_mb",
        "ingest.task_cpu_s", "ingest.edges_per_s", "graph.build_s",
        "graph.jobs", "graph.cache_mb", "checkpoint.bytes_mb",
        "checkpoint.files")

  /** Per-layer metrics of the query suite's operator groups. */
  val Suite: Seq[String] = SuiteRun.Groups.flatMap(g =>
    Seq("wall_s", "jobs", "driver_gap_s").map(m => s"suite.$g.$m"))

  /** A layer the workload does not call does no work: its metrics are 0. */
  def absent(out: Outcome, names: Seq[String]): Unit =
    names.foreach(n => if (!out.layers.contains(n)) out.layers(n) = 0.0)
}

/** Tracing overhead: median traced pass minus median untraced pass. With a
  * handful of passes per run it is the difference of two small samples,
  * so the report also states the counts and the untraced range.
  */
object Overhead {
  def put(out: Outcome, traced: Seq[Double], untraced: Seq[Double]): Unit = {
    out.layers("trace.overhead_s") =
      BenchMain.median(traced) - BenchMain.median(untraced)
    out.notes += f"trace.overhead_s = median of ${traced.size} traced " +
      f"minus median of ${untraced.size} untraced passes; untraced passes " +
      f"ranged ${untraced.min}%.3f-${untraced.max}%.3f s, so a difference " +
      "inside that range is noise, not a measured cost"
  }
}

/** zipf_bcast: the algorithm pipeline on one LinkGraph built from freshly
  * ingested Zipf transcripts. Every call keeps its defaults (broadcast
  * vertex state below 5M vertices) except that the five iterative
  * algorithms get a `checkpointDir`, so durable checkpoints are written.
  * PageRank and LP run a fixed 10 supersteps.
  */
final class LibraryRun(spark: SparkSession, o: Opts, tracer: Tracer,
    out: Outcome) {
  import BenchMain._

  private val size = ZipfSize
  private val inputs = o.work.resolve("inputs").resolve(
    s"zipf_c${size.convs}_t${size.turns}_a${size.actors}_seed${o.seed}")
  private val edgesPath = o.work.resolve("edges")
  private val ckptRoot = o.work.resolve("checkpoints")
  private val sc = spark.sparkContext
  private val listener = new JobListener

  private val PrConfig = PageRankConfig(10, 0.0, 0.85)
  private val LpConfig = LabelPropagationConfig(10, earlyStop = false)
  private val SsspStart = 0L
  private val OpsPerPass = 9

  private final class Pass(val traced: Boolean,
      val times: mutable.LinkedHashMap[String, Double], val graph: LinkGraph,
      val results: LibraryRun.Results, val span: Option[Span],
      val ckptBytes: Long, val ckptFiles: Long, val cacheMb: Double)

  private def ck(algo: String): Option[String] =
    Some(ckptRoot.resolve(algo).toString)

  private def setTraced(on: Boolean): Unit = if (on != tracer.enabled) {
    if (on) sc.addSparkListener(listener)
    else { ListenerDrain(sc); sc.removeSparkListener(listener) }
    tracer.enabled = on
  }

  private def pass(): Pass = {
    deleteTree(ckptRoot)
    val times = mutable.LinkedHashMap.empty[String, Double]
    def step[A](metric: String, layer: String)(body: => A): A = {
      val t = System.nanoTime()
      val r = tracer.span(layer)(body)
      times(metric) = secs(t)
      r
    }
    var span: Option[Span] = None
    val t0 = System.nanoTime()
    val (g, res) = tracer.span("pass") {
      span = tracer.current
      step("ingest_s", "ingest")(
        ingest(spark, readTranscripts(spark, size, o.seed, inputs), edgesPath))
      val g = step("build_s", "graph") {
        val g = LinkGraph(spark.read.parquet(edgesPath.toString))
        g.nodeCount
        g
      }
      val pr = step("pagerank_s", "algos.pagerank") {
        val r = PageRank.run(g, PrConfig, checkpointDir = ck("pagerank"))
        materialize(r.scores); r
      }
      val wcc = step("wcc_s", "algos.wcc") {
        val r = Wcc.run(g, checkpointDir = ck("wcc"))
        materialize(r.components); r
      }
      val lp = step("lp_s", "algos.lp") {
        val r = LabelPropagation.run(g, LpConfig, checkpointDir = ck("lp"))
        materialize(r.labels); r
      }
      val tc = step("tc_s", "algos.tc")(TriangleCount.run(g))
      // the adjacency-intersection formulation the default picks above
      // wedgeMaxEdges simple edges, forced through its public argument
      val tcIsect = step("tc_isect_s", "algos.tc_isect")(
        TriangleCount.run(g, wedgeMax = 0L))
      val sssp = step("sssp_s", "algos.sssp") {
        val r = Sssp.run(g, SsspConfig(SsspStart), checkpointDir = ck("sssp"))
        materialize(r.distances); r
      }
      val scc = step("scc_s", "algos.scc") {
        val r = Scc.run(g, checkpointDir = ck("scc"))
        materialize(r.components); r
      }
      (g, LibraryRun.Results(pr, wcc, lp, tc, tcIsect, sssp, scc))
    }
    times("pipeline_s") = secs(t0)
    val (bytes, files) = treeSize(ckptRoot)
    new Pass(tracer.enabled, times, g, res, span, bytes, files,
      cachedMb(spark))
  }

  private def release(p: Pass): Unit = {
    tracer.span("results.release")(releaseCaches(spark, Some(p.graph)))
    deleteTree(ckptRoot)
  }

  def run(): Unit = {
    val gen = (1 to SetupReps).map { _ =>
      val t = System.nanoTime()
      materializeTranscripts(spark, size, o.seed, inputs)
      secs(t)
    }
    out.setup("input_s") = median(gen)
    val tw = System.nanoTime()
    release(pass())
    out.setup("warmup_s") = secs(tw)

    Jvm.resetPeak()
    val gc0 = Jvm.gcS
    val passes = ArrayBuffer.empty[Pass]
    val region = new TimedRegion(o)
    while (region.another()) {
      passes.lastOption.foreach(release)
      setTraced(region.traced)
      out.attempted += OpsPerPass
      passes += pass()
    }
    out.layers("jvm.gc_s") = Jvm.gcS - gc0
    out.layers("jvm.heap_peak_mb") = Jvm.heapPeakMb
    passes.foreach(_.times.foreach { case (k, v) => out.sample(k, v) })

    setTraced(o.trace)
    val last = passes.last
    check(last)
    release(last)

    if (o.trace) {
      setTraced(false)
      val jobs = listener.all
      val traced = passes.filter(_.traced)
      val edgeCount = spark.read.parquet(edgesPath.toString).count()
      Layers.fill(out, tracer, traced.flatMap(_.span).toSeq,
        s => tracer.jobsUnder(s, jobs), edgeCount)
      val build = traced.flatMap(_.span).flatMap(p =>
        tracer.spans.find(s => s.parent == p.id && s.name == "graph"))
      out.layers("graph.build_s") = median(build.map(_.durS))
      out.layers("graph.jobs") =
        median(build.map(s => tracer.jobsUnder(s, jobs).size.toDouble))
      out.layers("graph.cache_mb") = median(traced.map(_.cacheMb))
      val it = traced.last.results
      Seq("pagerank" -> it.pr.stats, "wcc" -> it.wcc.stats,
        "lp" -> it.lp.stats, "scc" -> it.scc.stats, "sssp" -> it.sssp.stats)
        .foreach { case (a, s) =>
          out.layers(s"algos.$a.iterations") = s.iterations.toDouble
        }
      Overhead.put(out, traced.map(_.times("pipeline_s")).toSeq,
        passes.filterNot(_.traced).map(_.times("pipeline_s")).toSeq)
      java.nio.file.Files.writeString(o.traceOut,
        tracer.toJson(jobs, _.spanId))
      Layers.absent(out, Layers.Suite)
    }
    out.layers("checkpoint.bytes_mb") = median(passes.map(_.ckptBytes / 1e6))
    out.layers("checkpoint.files") = median(passes.map(_.ckptFiles.toDouble))
  }

  /** Checks on the last timed pass's results (still cached) against
    * sequential references and per-edge invariants.
    */
  private def check(last: Pass): Unit = {
    import Checks._
    val n = last.graph.nodeCount.toInt
    val r = last.results
    val (pr, wcc, lp, sssp, scc) = tracer.span("results.fetch")((
      doubles(r.pr.scores, n), longs(r.wcc.components, n),
      longs(r.lp.labels, n), doubles(r.sssp.distances, n),
      longs(r.scc.components, n)))
    val e = loadEdges(spark.read.parquet(edgesPath.toString), n)
    val perVertex = TriangleCount.perVertex(last.graph)
      .agg(sum("triangles")).first().getLong(0)
    val cs = Seq(
      sameValues("wcc equals union-find min-id labels", wcc, wccReference(e)),
      minIdInvariant("wcc min-id label holds on every edge", wcc, e,
        perEdge = true),
      sameValues("scc equals Tarjan min-id labels", scc, sccReference(e)),
      minIdInvariant("scc labels are min member ids", scc, e,
        perEdge = false),
      ssspInvariant(sssp, e, SsspStart.toInt),
      Check("tc global count equals sum(perVertex) / 3",
        perVertex == 3 * r.tc, s"${r.tc} vs $perVertex / 3"),
      Check("tc intersection path equals the wedge-join count",
        r.tcIsect == r.tc, s"${r.tcIsect} vs ${r.tc}"),
      allClose("pagerank equals sequential power iteration (rtol 1e-6)", pr,
        pageRankReference(e, PrConfig.maxIterations, PrConfig.tolerance,
          PrConfig.dampingFactor)),
      sameValues("lp equals sequential synchronous LPA", lp,
        lpReference(e, LpConfig.maxIterations)))
    out.checks ++= cs
    out.failed += cs.count(!_.ok)
  }
}

object LibraryRun {
  final case class Results(pr: PageRank.Result, wcc: Wcc.Result,
      lp: LabelPropagation.Result, tc: Long, tcIsect: Long, sssp: Sssp.Result,
      scc: Scc.Result)
}
