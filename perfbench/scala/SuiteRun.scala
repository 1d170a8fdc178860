package graftbench

import graft.SparkEntry
import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.Files
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** query_suite: `graft.SparkEntry.queries` on seeded tables, timed the way
  * `graft.Bench` times them (`count()` per query, caches released between
  * passes). The inputs are the sf0.01 tables the queries read (bundled in
  * perfbench/data), minus the rows a seeded hash drops. Each query runs in
  * a span named after its operator group (query prefix). The warm-up pass
  * writes every query result as parquet, the way `graft.Verify` does;
  * after the timed region those results are compared with their
  * `oracleSql` in DuckDB (`perfbench/suite_check.py`), and their row counts
  * with the timed pass's `count()`.
  */
final class SuiteRun(spark: SparkSession, o: Opts, tracer: Tracer,
    out: Outcome) {
  import BenchMain._
  import SuiteRun._

  private val inputs = o.work.resolve("inputs").resolve(s"suite_seed${o.seed}")
  private val resultsDir = o.work.resolve("suite_results")
  private val sc = spark.sparkContext
  private val listener = new JobListener
  private val queries = SparkEntry.queries

  private final class Pass(val traced: Boolean, val pipelineS: Double,
      val groupS: Map[String, Double], val rows: Map[String, Long],
      val span: Option[Span])

  private def spec: String =
    s"tables=${Tables.map(_._1).mkString("+")},source=sf0.01,drop=1/$DropOneIn," +
      s"seed=${o.seed}"

  /** Keep each row unless a hash of (seed, its key) drops it. */
  private def materializeInputs(): Unit = {
    Tables.foreach { case (table, keys) =>
      val df = spark.read.parquet(o.data.resolve(s"$table.parquet").toString)
      df.filter(pmod(xxhash64((lit(o.seed) +: keys.map(col)): _*),
          lit(DropOneIn.toLong)) =!= 0)
        .coalesce(1).write.mode("overwrite")
        .parquet(inputs.resolve(s"$table.parquet").toString)
    }
    Files.writeString(inputs.resolve("_GRAFT_SPEC"), spec)
  }

  private def setTraced(on: Boolean): Unit = if (on != tracer.enabled) {
    if (on) sc.addSparkListener(listener)
    else { ListenerDrain(sc); sc.removeSparkListener(listener) }
    tracer.enabled = on
  }

  private def pass(): Pass = {
    val marker = inputs.resolve("_GRAFT_SPEC")
    require(Files.exists(marker) && Files.readString(marker) == spec,
      s"input at $inputs does not match $spec")
    val groupS = mutable.LinkedHashMap.empty[String, Double]
    val rows = mutable.LinkedHashMap.empty[String, Long]
    var span: Option[Span] = None
    val t0 = System.nanoTime()
    tracer.span("pass") {
      span = tracer.current
      Suite.foreach { q =>
        val g = group(q)
        val t = System.nanoTime()
        try rows(q) = tracer.span(s"suite.$g")(
          queries(q)(spark, inputs.toString).count())
        catch { case e: Exception =>
          out.failed += 1
          out.checks += Checks.Check(s"$q ran", ok = false, e.toString)
        }
        groupS(g) = groupS.getOrElse(g, 0.0) + secs(t)
      }
    }
    new Pass(tracer.enabled, secs(t0), groupS.toMap, rows.toMap, span)
  }

  private def release(): Unit =
    tracer.span("results.release")(releaseCaches(spark, None))

  def run(): Unit = {
    val gen = (1 to SetupReps).map { _ =>
      val t = System.nanoTime()
      materializeInputs()
      secs(t)
    }
    out.setup("input_s") = median(gen)
    val tw = System.nanoTime()
    writeResults()
    out.layers("results.fetch_ms") = secs(tw) * 1000.0
    release()
    out.setup("warmup_s") = secs(tw)

    Jvm.resetPeak()
    val gc0 = Jvm.gcS
    val passes = ArrayBuffer.empty[Pass]
    val region = new TimedRegion(o)
    while (region.another()) {
      if (passes.nonEmpty) release()
      setTraced(region.traced)
      out.attempted += Suite.size
      passes += pass()
    }
    out.layers("jvm.gc_s") = Jvm.gcS - gc0
    out.layers("jvm.heap_peak_mb") = Jvm.heapPeakMb
    passes.foreach { p =>
      out.sample("pipeline_s", p.pipelineS)
      p.groupS.foreach { case (g, v) => out.sample(s"suite_${g}_s", v) }
    }

    setTraced(o.trace)
    check(passes.last)
    release()
    setTraced(false)

    if (o.trace) {
      val jobs = listener.all
      val traced = passes.filter(_.traced).flatMap(_.span).toSeq
      Groups.foreach { g =>
        val ws = traced.map(p => tracer.sum(tracer.spans
          .filter(s => s.parent == p.id && s.name == s"suite.$g").toSeq
          .map(s => tracer.work(s, tracer.jobsUnder(s, jobs)))))
        out.layers(s"suite.$g.wall_s") = median(ws.map(_.wallS))
        out.layers(s"suite.$g.jobs") = median(ws.map(_.jobs.toDouble))
        out.layers(s"suite.$g.driver_gap_s") = median(ws.map(_.driverGapS))
      }
      out.layers("pipeline.jobs") =
        median(traced.map(p => tracer.jobsUnder(p, jobs).size.toDouble))
      out.layers("pipeline.self_s") = median(traced.map(tracer.selfS))
      out.layers("results.release_ms") = median(tracer.spans
        .filter(_.name == "results.release").map(_.durS * 1000.0))
      Overhead.put(out, passes.filter(_.traced).map(_.pipelineS).toSeq,
        passes.filterNot(_.traced).map(_.pipelineS).toSeq)
      Files.writeString(o.traceOut, tracer.toJson(jobs, _.spanId))
      // the library and graph layers run inside the suite's queries, not
      // as calls of their own
      Layers.absent(out, Layers.Library)
    }
  }

  /** The warm-up pass: write each query's result as `graft.Verify` does. */
  private def writeResults(): Unit = Suite.foreach { q =>
    try queries(q)(spark, inputs.toString).coalesce(1).write
      .mode("overwrite").parquet(resultsDir.resolve(q).toString)
    catch { case e: Exception =>
      out.failed += 1
      out.checks += Checks.Check(s"$q ran", ok = false, e.toString)
    }
  }

  /** Compare the written results with their oracles in DuckDB; each row
    * count must also equal the last timed pass's `count()`.
    */
  private def check(last: Pass): Unit = {
    val oracle = new com.fasterxml.jackson.databind.ObjectMapper()
    val json = oracle.createObjectNode()
    Suite.foreach(q => json.put(q, SparkEntry.oracleSql(q)))
    val oraclePath = resultsDir.resolve("oracle_sql.json")
    Files.writeString(oraclePath, oracle.writeValueAsString(json))
    val p = new ProcessBuilder(Seq(o.python, o.suiteCheck,
        inputs.toString, resultsDir.toString, oraclePath.toString).asJava)
      .redirectError(o.work.resolve("suite_check.log").toFile).start()
    val lines = scala.io.Source.fromInputStream(p.getInputStream).getLines()
      .toList
    p.waitFor()
    val verdicts = lines.map(oracle.readTree).map(n =>
      n.get("name").asText -> n).toMap
    val cs = Suite.map { q =>
      verdicts.get(q) match {
        case None => Checks.Check(s"$q equals its DuckDB oracle", ok = false,
          s"no verdict (checker exited ${p.exitValue()})")
        case Some(v) =>
          val rows = v.get("rows").asLong
          val timed = last.rows.get(q)
          val ok = v.get("ok").asBoolean && timed.contains(rows)
          Checks.Check(s"$q equals its DuckDB oracle", ok,
            s"${v.get("detail").asText}; timed count ${timed.getOrElse("-")}")
      }
    }
    out.checks ++= cs
    out.failed += cs.count(!_.ok)
  }
}

object SuiteRun {
  /** The tables the suite reads, each with the key the seeded drop hashes. */
  val Tables: Seq[(String, Seq[String])] = Seq(
    "events" -> Seq("event_id"), "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"))
  val DropOneIn = 10

  val Groups = Seq("sources", "graph", "dedup", "text", "sim", "multimodal")

  def group(q: String): String = q.takeWhile(_ != '_') match {
    case "src" => "sources"; case "g" => "graph"; case "d" => "dedup"
    case "t" => "text"; case "s" => "sim"; case "m" => "multimodal"
    case p => p
  }

  /** The queries timed, in this order: a few per operator group, so that a
    * pass takes about 6 s at local[4] (all 43 group queries take about
    * 23 s). The graph group's WCC and SCC are the job-bound iterative
    * algorithms; SSSP and the rest of the graph group are timed through the
    * library on zipf_bcast.
    */
  val Suite: Seq[String] = Seq(
    "src_el_roundtrip",
    "g_wcc", "g_scc",
    "d_exact_dup", "d_minhash_lsh",
    "t_stats", "t_curate", "t_mix",
    "s_ann_topk", "s_ann_lsh",
    "m_features", "m_resize")
}
