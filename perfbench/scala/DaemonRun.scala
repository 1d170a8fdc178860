package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft._
import graft.graph.LinkGraph
import graft.io.{GraphCatalog, ParquetTableIO}
import graft.server.CatalogServer
import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.nio.file.Files
import java.util.concurrent.TimeUnit
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** daemon_loop: a CatalogServer in this JVM, driven by one closed-loop
  * client process (`perfbench/daemon_client.py`) that repeats
  * CREATE -> COMPUTE (PageRank, WCC, LP, degrees, TC; default configs) ->
  * GETB (every stored property) -> REMOVE. The client times each request; jobs are
  * attributed to requests by start time (one request is in flight at a
  * time). Before each timed cycle the client asks this JVM, which decides
  * (by [[TimedRegion]]) whether the cycle runs and is traced, attaches or
  * detaches the job listener and collects garbage.
  * The client's first cycle is the warm-up.
  */
final class DaemonRun(spark: SparkSession, o: Opts, tracer: Tracer,
    out: Outcome) {
  import BenchMain._

  private val size = DaemonSize
  private val inputs = o.work.resolve("inputs").resolve(
    s"zipf_c${size.convs}_t${size.turns}_a${size.actors}_seed${o.seed}")
  private val edgesPath = o.work.resolve("edges")
  private val getbDir = o.work.resolve("getb")
  private val clientOut = o.work.resolve("client.json")
  private val sc = spark.sparkContext
  private val listener = new JobListener

  /** Client request -> (end-to-end metric, layer span name). */
  private def names(op: String, arg: String): (String, String) = op match {
    case "CREATE" => ("ingest_s", "ingest")
    case "GETB" => ("getb_s", "results.fetch")
    case "REMOVE" => ("remove_s", "results.release")
    case _ => arg match {
      case "page_rank" => ("pagerank_s", "algos.pagerank")
      case "wcc" => ("wcc_s", "algos.wcc")
      case "label_propagation" => ("lp_s", "algos.lp")
      case "triangle_count" => ("tc_s", "algos.tc")
      case a => (s"${a}_s", s"server.$a")
    }
  }

  private def setTraced(on: Boolean): Unit = if (on != tracer.enabled) {
    if (on) sc.addSparkListener(listener)
    else { ListenerDrain(sc); sc.removeSparkListener(listener) }
    tracer.enabled = on
  }

  /** Run the client to completion, serving its trace-phase requests. */
  private def runClient(port: Int): Unit = {
    val cmd = Seq(o.python, o.client, "--port", port.toString,
      "--edges", edgesPath.toString, "--out", clientOut.toString,
      "--getb-dir", getbDir.toString)
    val p = new ProcessBuilder(cmd.asJava)
      .redirectError(o.work.resolve("client.log").toFile).start()
    val watchdog = new Thread(() => {
      if (!p.waitFor(o.seconds.toLong + 600, TimeUnit.SECONDS))
        p.destroyForcibly()
    })
    watchdog.setDaemon(true)
    watchdog.start()
    val in = new BufferedReader(new InputStreamReader(p.getInputStream))
    val ack = new PrintWriter(p.getOutputStream, true)
    val region = new TimedRegion(o)
    try {
      Iterator.continually(in.readLine()).takeWhile(_ != null).foreach {
        case "next" =>
          if (region.another()) {
            setTraced(region.traced)
            System.gc()
            ack.println(if (region.traced) "traced" else "untraced")
          } else ack.println("stop")
        case _ =>
      }
    } finally {
      ack.close()
      p.waitFor()
    }
    require(p.exitValue() == 0, s"daemon client exited with ${p.exitValue()}")
  }

  def run(): Unit = {
    val gen = (1 to SetupReps).map { _ =>
      val t = System.nanoTime()
      materializeTranscripts(spark, size, o.seed, inputs)
      ingest(spark, readTranscripts(spark, size, o.seed, inputs), edgesPath)
      secs(t)
    }
    out.setup("input_s") = median(gen)

    val server = new CatalogServer(spark, new GraphCatalog(
      new ParquetTableIO(o.work.resolve("catalog").toString)), 0)
    Jvm.resetPeak()
    val gc0 = Jvm.gcS
    try runClient(server.boundPort)
    finally server.close()
    out.layers("jvm.gc_s") = Jvm.gcS - gc0
    out.layers("jvm.heap_peak_mb") = Jvm.heapPeakMb
    // storage the daemon still holds once the client is done
    out.layers("graph.cache_mb") = cachedMb(spark)
    setTraced(false)

    val report = new ObjectMapper().readTree(clientOut.toFile)
    out.setup("warmup_s") = report.get("warmup_s").asDouble
    out.attempted += report.get("attempted").asInt
    out.failed += report.get("failed").asInt
    val cycles = report.get("cycles").elements().asScala.toSeq
    val cycleSpans = ArrayBuffer.empty[Span]
    val iterations = scala.collection.mutable.Map.empty[String, Double]
    cycles.foreach { c =>
      val traced = c.get("traced").asBoolean
      val cs = if (traced) Some(tracer.add("pass", -1,
        c.get("start_us").asLong, c.get("end_us").asLong)) else None
      cs.foreach(cycleSpans += _)
      val perMetric = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      c.get("requests").elements().asScala.foreach { r =>
        val (metric, layer) = names(r.get("op").asText, r.get("arg").asText)
        val s = r.get("start_us").asLong
        val e = r.get("end_us").asLong
        perMetric(metric) = perMetric.getOrElse(metric, 0.0) + (e - s) / 1e6
        cs.foreach(p => tracer.add(layer, p.id, s, e))
        val reply = r.get("reply")
        if (traced && reply != null && reply.has("iterations"))
          iterations(layer) = reply.get("iterations").asDouble
      }
      perMetric.foreach { case (k, v) => out.sample(k, v) }
      out.sample("pipeline_s", cycleS(c))
    }

    setTraced(o.trace)
    check(report)
    setTraced(false)
    if (o.trace) {
      val jobs = listener.all
      val edgeCount = spark.read.parquet(edgesPath.toString).count()
      Layers.fill(out, tracer, cycleSpans.toSeq,
        s => tracer.jobsDuring(s, jobs), edgeCount)
      iterations.foreach { case (layer, v) => out.layers(s"$layer.iterations") = v }
      Overhead.put(out, cycles.filter(_.get("traced").asBoolean).map(cycleS),
        cycles.filterNot(_.get("traced").asBoolean).map(cycleS))
      // a job belongs to the client request it started in, else to the
      // span its thread carried (the library checks)
      def requestOf(j: JobRec): Int = tracer.spans
        .find(s => s.parent >= 0 && tracer.jobsDuring(s, Seq(j)).nonEmpty)
        .map(_.id).getOrElse(j.spanId)
      Files.writeString(o.traceOut, tracer.toJson(jobs, requestOf))
      // no checkpointDir, SCC, SSSP or forced TC formulation over the wire
      Layers.absent(out, Layers.Library ++ Layers.Suite)
    }
  }

  private def cycleS(c: JsonNode): Double =
    (c.get("end_us").asLong - c.get("start_us").asLong) / 1e6

  /** The last cycle's GETB rows and served triangle count against
    * sequential references computed from the served edge table with the
    * server's default configurations.
    */
  private def check(report: JsonNode): Unit = {
    import Checks._
    val t = System.nanoTime()
    val n = tracer.span("graph") {
      LinkGraph(spark.read.parquet(edgesPath.toString)).nodeCount.toInt
    }
    out.layers("graph.build_s") = secs(t)
    out.layers("graph.jobs") =
      if (!tracer.enabled) 0.0
      else {
        ListenerDrain(sc)
        tracer.spans.filter(_.name == "graph").lastOption
          .map(s => tracer.jobsUnder(s, listener.all).size.toDouble)
          .getOrElse(0.0)
      }
    val e = loadEdges(spark.read.parquet(edgesPath.toString), n)
    // (id, value) by position: the property tables keep the algorithms'
    // own column names
    def getb(prop: String, column: Int = 1): DataFrame = {
      val df = spark.read.parquet(getbDir.resolve(s"$prop.parquet").toString)
      df.select(df.columns(0), df.columns(column))
    }
    val pr = PageRankConfig()
    val (outDeg, inDeg) = degreeReference(e)
    val served = report.get("triangle_count").asLong
    val triangles = triangleReference(e)
    val cs = Seq(
      allClose("GETB page_rank ~= sequential PageRank (rtol 1e-6)",
        doubles(getb("page_rank"), n),
        pageRankReference(e, pr.maxIterations, pr.tolerance,
          pr.dampingFactor)),
      sameValues("GETB wcc == union-find min-id labels",
        longs(getb("wcc"), n), wccReference(e)),
      sameValues("GETB label_propagation == sequential LPA",
        longs(getb("label_propagation"), n),
        lpReference(e, LabelPropagationConfig().maxIterations)),
      sameValues("GETB degrees == edge counts",
        longs(getb("degrees", 1), n) ++ longs(getb("degrees", 2), n) ++
          longs(getb("degrees", 3), n),
        outDeg ++ inDeg ++ outDeg.indices.map(v => outDeg(v) + inDeg(v))),
      Check("COMPUTE triangle_count == sequential count",
        served == triangles, s"$served vs $triangles"))
    out.checks ++= cs
    out.failed += cs.count(!_.ok)
  }
}
