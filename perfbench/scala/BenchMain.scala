package graftbench

import graft.fixtures.Fixtures
import graft.graph.LinkGraph
import graft.ingest.TranscriptEdges
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Zipf transcript generator parameters (FIXTURES.md section 5). */
final case class Size(convs: Int, turns: Int, actors: Int) {
  def spec(seed: Long): String =
    s"convs=$convs,turns=$turns,actors=$actors,s=1.1,seed=$seed"
}

final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: Path, out: Path, traceOut: Path, client: String,
    python: String, data: Path, suiteCheck: String)

/** What one run measured: per-sample end-to-end timings, the set-up parts,
  * per-layer values (traced runs), output checks and operation counts.
  */
final class Outcome {
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val setup = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val checks = ArrayBuffer.empty[Checks.Check]
  val notes = ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  def sample(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, ArrayBuffer.empty) += v
}

/** The timed region: passes (client cycles) run until `--seconds` have
  * elapsed and at least two are done, so every run reports a median of two
  * or more. Traced runs run at least four, ordered traced, untraced,
  * untraced, traced (repeating), so a steady drift in speed weighs on both
  * kinds alike.
  */
final class TimedRegion(o: Opts) {
  private val MinPasses = 2
  private val TracedMinPasses = 4
  private var deadline = -1L
  private var n = 0

  /** Whether another pass runs; the clock starts at the first call. */
  def another(): Boolean = {
    if (deadline < 0) deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    val more = n < MinPasses || System.nanoTime() < deadline ||
      (o.trace && n < TracedMinPasses)
    if (more) n += 1
    more
  }

  /** Whether the pass [[another]] just admitted is traced. */
  def traced: Boolean = o.trace && (n % 4 == 1 || n % 4 == 0)
}

/** Benchmark entry point; `perfbench/run.py` builds and launches it.
  *
  * One JVM, one local[nproc] session. Set-up (session start, input
  * generation repeated [[BenchMain.SetupReps]] times, one warm-up pass) is
  * timed apart from the measured passes, which repeat until `--seconds`
  * have elapsed. Output checks run after the timed region. With
  * `--trace 1`, passes switch between traced (spans + job listener) and
  * untraced in the order [[TimedRegion]] gives; per-layer metrics come
  * from the traced ones.
  */
object BenchMain {

  val SetupReps = 3
  val Algos = Seq("pagerank", "wcc", "lp", "scc", "sssp", "tc", "tc_isect")

  /** Input sizes: a pass or client cycle takes 8-13 s at local[4], so a
    * run (set-up, one or two timed passes, checks) stays under a minute.
    * At 70,000 edges every pass is bound by per-job overhead, and
    * TriangleCount's default picks the wedge join (below
    * wedgeMaxEdges), so LibraryRun also times the intersection path.
    */
  val ZipfSize = Size(convs = 10000, turns = 8, actors = 5000)
  val DaemonSize = Size(convs = 8000, turns = 8, actors = 4000)


  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.deleteIfExists(q))
      finally s.close()
    }

  /** (bytes, files) of regular files under `p`. */
  def treeSize(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.map(Files.size).sum, files.size.toLong)
      } finally s.close()
    }

  /** Generate the seeded Zipf transcripts and write them under `dir`,
    * marked with their spec so a stale directory is never read.
    */
  def materializeTranscripts(spark: SparkSession, size: Size, seed: Long,
      dir: Path): Unit = {
    Fixtures.zipfTranscripts(spark, size.convs, size.turns, size.actors,
      s = 1.1, seed = seed).write.mode("overwrite").parquet(dir.toString)
    Files.writeString(dir.resolve("_GRAFT_SPEC"), size.spec(seed))
  }

  def readTranscripts(spark: SparkSession, size: Size, seed: Long,
      dir: Path): DataFrame = {
    val marker = dir.resolve("_GRAFT_SPEC")
    require(Files.exists(marker) && Files.readString(marker) == size.spec(seed),
      s"input at $dir does not match ${size.spec(seed)}")
    spark.read.parquet(dir.toString)
  }

  def ingest(spark: SparkSession, transcripts: DataFrame, edges: Path): Unit =
    TranscriptEdges.edges(transcripts).write.mode("overwrite")
      .parquet(edges.toString)

  /** Run a DataFrame's full plan without collecting it. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Release every cache the way graft.Bench does between passes, plus the
    * graph's own registered caches; then wait for the removal and collect
    * garbage, so one pass's leftovers are not cleaned up inside the next.
    */
  def releaseCaches(spark: SparkSession, graph: Option[LinkGraph]): Unit = {
    graph.foreach(_.unpersistCaches())
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6

  object Jvm {
    private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
    /** Sum of the heap pools' peak usage since [[resetPeak]]. */
    def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val work = Paths.get(m("work")).toAbsolutePath
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", work, Paths.get(m("out")), Paths.get(m("trace-out")),
      m.getOrElse("client", ""), m.getOrElse("python", "python3"),
      Paths.get(m.getOrElse("data", ".")).toAbsolutePath,
      m.getOrElse("suite-check", ""))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val t0 = System.nanoTime()
    val spark = graft.bench.Scaling.session(
      Runtime.getRuntime.availableProcessors(),
      Map("spark.local.dir" -> o.work.resolve("spark-local").toString))
    val sessionS = secs(t0)
    val tracer = new Tracer(spark.sparkContext,
      s"${o.workload}-seed${o.seed}-${ProcessHandle.current().pid()}")
    val out = new Outcome
    out.setup("session_s") = sessionS
    try {
      o.workload match {
        case "zipf_bcast" => new LibraryRun(spark, o, tracer, out).run()
        case "daemon_loop" => new DaemonRun(spark, o, tracer, out).run()
        case "query_suite" => new SuiteRun(spark, o, tracer, out).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally spark.stop()
    Files.writeString(o.out, Report.json(o, out))
  }
}

/** JSON for run.py: raw samples; run.py derives medians and tails. */
object Report {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => " "; case c => c.toString
    } + "\""

  def json(o: Opts, out: Outcome): String = {
    def obj(m: Iterable[(String, Double)]) =
      m.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
    val samples = out.samples.map { case (k, v) =>
      s"${str(k)}:${v.map(num).mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    val checks = out.checks.map { c =>
      s"""{"name":${str(c.name)},"ok":${c.ok},"detail":${str(c.detail)}}"""
    }.mkString("[", ",", "]")
    s"""{"workload":${str(o.workload)},"seed":${o.seed},""" +
      s""""trace":${o.trace},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"samples":$samples,""" +
      s""""setup":${obj(out.setup)},"layers":${obj(out.layers)},""" +
      s""""checks":$checks,"notes":${out.notes.map(str).mkString("[", ",", "]")}}"""
  }
}
