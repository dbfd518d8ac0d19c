package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{Executors, LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

import graft.operators.{Embed, Search}
import graft.serve._
import graft.perfbench.Common._

/** The traced serve run: the same seeded request stream, replayed in one
  * JVM at the same concurrency, with a span around each layer call.
  *
  * The session copies `ServeMain.main`'s settings and the corpus is served
  * through `ServeMain.start(spark, path, 0, 0)`. Per request the harness
  * first makes the handler's calls itself, each inside a span
  * (`Json.parse` + `SearchServer.decodeRequest`, the encoder, `Search.validate`
  * + `Search.plan`, Catalyst planning, `collect()`, `encodeResponse` +
  * `render`, and for MCP `markdownifyAllStrings`). Every [[HttpEvery]]th
  * request is then also sent over HTTP to the started server, which
  * measures the transport; doing it for every request would double the
  * offered load. Spark counters are attributed to the request through a
  * local property set before its actions.
  *
  * Args: corpus warmupJsonl requestsJsonl open|closed concurrency outDir
  * Writes outDir/{spans.jsonl, requests.jsonl, summary.json}.
  */
object ServeTrace {

  final case class Req(i: Int, via: String, session: Int, dueS: Double, text: String)

  val HttpEvery = 4

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def readRequests(path: String): Seq[Req] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty).map { line =>
      val n = mapper.readTree(line)
      Req(n.get("i").asInt(), n.get("via").asText(), n.path("session").asInt(-1),
        n.path("due_s").asDouble(0.0), mapper.writeValueAsString(n.get("body")))
    }.toSeq

  def main(args: Array[String]): Unit = {
    val Array(corpus, warmupPath, requestsPath, mode, concArg, outDir) = args
    val conc = concArg.toInt

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-serve")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val (httpServer, mcpServer) = ServeMain.start(spark, corpus, 0, 0)
    val corpusS = (System.nanoTime() - t1) / 1e9
    val cacheMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
    // the same plan ServeMain cached, so this reads the cached corpus
    val layers = graft.sources.LayersTable.fromGeoParquet(spark.read.parquet(corpus)).cache()
    val dim = layers.select("embeddings").head().getSeq[Float](0).length

    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val ports = Map("http" -> s"http://127.0.0.1:${httpServer.getAddress.getPort}/search",
      "mcp" -> s"http://127.0.0.1:${mcpServer.getAddress.getPort}/mcp")

    final class Record(val r: Req) {
      var startNs = 0L; var endNs = 0L; var dueNs = 0L
      var status = 0; var response = ""; var chainNs = 0L; var rtNs = 0L
      var phases: Map[String, Long] = Map.empty
      var rows = (-1L, -1L, -1L) // scanned, ranked, returned
      var error = ""
    }

    def wire(r: Req): String =
      if (r.via == "mcp")
        s"""{"jsonrpc":"2.0","id":${r.i},"method":"tools/call","params":{"name":"gis_layer_search","arguments":${r.text}}}"""
      else r.text

    /** The handler's calls, made here, one span per layer; returns the
      * rendered response body. */
    def chain(rec: Record, spans: Spans): String = {
      val r = rec.r
      val rid = r.i.toString
      withTag(spark, rid) {
        spans.time("request", rid, "") {
          val req = spans.time("serve.decode", rid, "request") {
            val msg = Json.parse(wire(r))
            val body =
              if (r.via == "mcp") msg.asInstanceOf[JObj].get("params").get.asInstanceOf[JObj]
                .get("arguments").get
              else msg
            SearchServer.decodeRequest(body,
              q => spans.time("embed.query", rid, "serve.decode")(Embed.embedQuery(q, dim)))
          }
          val df = spans.time("search.plan", rid, "request") {
            Search.validate(req)
            Search.plan(layers, req)
          }
          spans.time("catalyst", rid, "request")(df.queryExecution.executedPlan)
          val resp =
            try {
              val rows = spans.time("exec.collect", rid, "request")(df.collect())
              rec.rows = sqlRows(df, rows.length)
              Search.SearchResponse(Some(rows.toSeq.map(x => Search.LayerResult(x.getString(0),
                x.getString(1), x.getString(2), x.getString(3), x.getString(4), x.getString(5)))), None)
            } catch { case e: Exception => Search.SearchResponse(None, Some(e.getMessage)) }
          rec.phases = df.queryExecution.tracker.phases.map { case (k, p) => k -> p.durationMs }
          spans.time("serve.encode", rid, "request") {
            val envelope = SearchServer.encodeResponse(resp)
            if (r.via == "mcp") {
              val md = spans.time("serve.markdown", rid, "serve.encode")(
                SearchServer.markdownifyAllStrings(envelope))
              JObj.of("jsonrpc" -> JStr("2.0"), "id" -> JNum(r.i.toLong), "result" -> JObj.of(
                "content" -> JArr(Vector(JObj.of("type" -> JStr("text"), "text" -> JStr(md.render)))),
                "structuredContent" -> md, "isError" -> JBool(false))).render
            } else envelope.render
          }
        }
      }
    }

    def serve(rec: Record, spans: Spans): Unit = {
      rec.startNs = System.nanoTime()
      try {
        rec.response = chain(rec, spans)
        rec.status = 200
      } catch { case e: Exception => rec.error = s"chain: $e" }
      rec.chainNs = System.nanoTime() - rec.startNs
      rec.endNs = System.nanoTime()
      if (rec.r.i % HttpEvery == 0) try {
        val h0 = System.nanoTime()
        val resp = client.send(HttpRequest.newBuilder(URI.create(ports(rec.r.via)))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(wire(rec.r))).build(),
          HttpResponse.BodyHandlers.ofString())
        rec.status = resp.statusCode()
        rec.response = resp.body()
        rec.endNs = System.nanoTime()
        rec.rtNs = rec.endNs - h0
      } catch { case e: Exception => rec.error = s"http: $e" }
    }

    // warm-up, closed loop; its spans are dropped
    val warmSpans = new Spans
    runClosed(readRequests(warmupPath).map(r => Seq(new Record(r))), conc)(serve(_, warmSpans))

    val spans = new Spans
    val records = readRequests(requestsPath).map(new Record(_))
    counters.settle()
    val busy0 = counters.totalRunMs
    val w0 = System.nanoTime()
    val late = mutable.ArrayBuffer[Double]()
    val done: Seq[Record] =
      if (mode == "open") {
        val pool = Executors.newFixedThreadPool(conc)
        val start = System.nanoTime() + 50000000L
        records.foreach { rec =>
          rec.dueNs = start + (rec.r.dueS * 1e9).toLong
          val wait = rec.dueNs - System.nanoTime()
          if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
          late += ms(System.nanoTime() - rec.dueNs)
          pool.execute(() => serve(rec, spans))
        }
        pool.shutdown()
        pool.awaitTermination(10, TimeUnit.MINUTES)
        records
      } else {
        val bySession = records.groupBy(_.r.session).toSeq.sortBy(_._1).map(_._2.sortBy(_.r.i))
        runClosed(bySession, conc) { rec => rec.dueNs = System.nanoTime(); serve(rec, spans) }
        records
      }
    val wallS = (done.map(_.endNs).max - w0) / 1e9
    counters.settle()
    val busyMs = counters.totalRunMs - busy0

    spans.writeJsonl(s"$outDir/spans.jsonl")
    writeFile(s"$outDir/requests.jsonl", done.map { rec =>
      val a = counters.get(rec.r.i.toString)
      json(Map(
        "i" -> rec.r.i, "via" -> rec.r.via, "body" -> mapper.readTree(rec.r.text).toString,
        "status" -> rec.status, "response" -> rec.response, "error" -> rec.error,
        "latency_ms" -> ms(rec.endNs - rec.dueNs), "chain_ms" -> ms(rec.chainNs),
        "rt_ms" -> (if (rec.rtNs > 0) ms(rec.rtNs) else -1.0), "phases_ms" -> rec.phases,
        "rows_scanned" -> rec.rows._1, "rows_ranked" -> rec.rows._2, "rows_returned" -> rec.rows._3,
        "jobs" -> a.map(_.jobs).getOrElse(0L), "stages" -> a.map(_.stages).getOrElse(0L),
        "tasks" -> a.map(_.tasks).getOrElse(0L), "task_run_ms" -> a.map(_.runMs).getOrElse(0L),
        "task_cpu_ms" -> a.map(_.cpuNs / 1e6).getOrElse(0.0),
        "task_wait_ms" -> a.map(_.waitMs).getOrElse(0L), "gc_ms" -> a.map(_.gcMs).getOrElse(0L),
        "shuffle_write_bytes" -> a.map(_.shuffleWrite).getOrElse(0L)))
    }.mkString("", "\n", "\n"))
    writeFile(s"$outDir/summary.json", json(Map(
      "session_s" -> sessionS, "corpus_s" -> corpusS, "cache_mb" -> cacheMb,
      "wall_s" -> wallS, "busy_ms" -> busyMs,
      "cores" -> spark.sparkContext.defaultParallelism,
      "late_ms" -> late.toSeq, "peak_rss_mb" -> peakRssMb(),
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"))))
    httpServer.stop(0)
    mcpServer.stop(0)
    spark.stop()
    // ServeMain's handler pools are non-daemon threads
    System.exit(0)
  }

  /** Each job's requests in order, jobs spread over `conc` threads. */
  private def runClosed[R](jobs: Seq[Seq[R]], conc: Int)(f: R => Unit): Unit = {
    val q = new LinkedBlockingQueue[Seq[R]](jobs.asJava)
    val threads = (0 until conc).map { _ =>
      new Thread(() => Iterator.continually(q.poll()).takeWhile(_ != null).foreach(_.foreach(f)))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** Rows scanned, rows ranked (into the cosine ranking) and rows returned,
    * from the executed plan's SQL metrics; -1 where the plan has no such
    * node (the deep-skip path collects an already-ranked RDD). */
  private def sqlRows(df: DataFrame, returned: Int): (Long, Long, Long) = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val all = nodes(df.queryExecution.executedPlan)
    def rows(p: SparkPlan) = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    val scans = all.collect {
      case s: InMemoryTableScanExec => rows(s)
      case s: FileSourceScanExec => rows(s)
    }
    if (scans.isEmpty) (-1L, -1L, returned.toLong)
    else {
      val filters = all.collect { case f: FilterExec => rows(f) }
      (scans.sum, if (filters.isEmpty) scans.sum else filters.min, returned.toLong)
    }
  }
}
