package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `serve_mix`: an in-process `graft.Serve.start` over the seeded corpus,
  * driven over HTTP by a seeded request mix (`requests.tsv`: kind, path,
  * in blocks of 20 that hold the mix's exact shares).
  *
  * Phase B, the measured unit: pages. A page is one block of 20 requests
  * answered through `nproc` closed-loop clients, the way a dashboard
  * loads; its time runs until the last answer. Phase A: an open loop at
  * [[Rate]] requests per second, each request timed from the
  * moment it was due, so a stall also counts against the requests queued
  * behind it. All clients are threads of this process, at most `nproc`
  * of them, over at most `nproc` connections.
  */
object ServeWorkload {

  final case class Req(kind: String, path: String)
  final case class Done(req: Req, dueNs: Long, sentNs: Long, endNs: Long, ok: Boolean) {
    def latencyMs: Double = (endNs - dueNs) / 1e6
    def serviceMs: Double = (endNs - sentNs) / 1e6
  }

  val Kinds: Seq[String] = Seq("search", "suggest", "query", "sql", "ann")

  /** Requests per page: one block of the generated mix. */
  val Block = 20

  /** Phase A's open-loop rate, requests per second: about a third of the
    * saturation rate on a 4-core box, so the backlog stays bounded. */
  val Rate = 2.0

  def run(a: Main.Args, r: Result): Unit = {
    val reqs = scala.io.Source.fromFile(a.path("requests.tsv"), "UTF-8").getLines()
      .map(_.split("\t", 2)).collect { case Array(k, p) => Req(k, p) }.toIndexedSeq
    val clients = Runtime.getRuntime.availableProcessors
    r.put("open_loop_rate", Rate)
    r.put("guard_client_threads", clients)

    val (spark, server) = Main.setUp(r, Main.SetupReps) { () =>
      val s = graft.Tables.session("perfbench-serve")
      s.sparkContext.setLogLevel("ERROR")
      (s, graft.Serve.start(s, a.data, 0))
    }(_.stop(0))
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val pool = Executors.newFixedThreadPool(clients)
    val http = HttpClient.newBuilder().executor(Executors.newFixedThreadPool(2))
      .version(HttpClient.Version.HTTP_1_1).build()
    val mapper = new ObjectMapper()

    def get(path: String): HttpResponse[String] =
      http.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString(UTF_8))

    // Warm-up and correctness in one unmeasured pass, over the client
    // threads: every distinct request once over HTTP, its answer kept for
    // run.py's DuckDB check where the request has an oracle, else compared
    // here with a direct call of the same public function.
    val expected = new ConcurrentHashMap[String, String]()
    val oracleRows = new ConcurrentLinkedQueue[Map[String, Any]]()
    val distinct = reqs.distinctBy(_.path)
    val w0 = System.nanoTime()
    distinct.map { q =>
      pool.submit((() => {
        r.synchronized(r.attempted += 1)
        try {
          val resp = get(q.path)
          if (resp.statusCode / 100 != 2) r.fail(s"${q.path} -> HTTP ${resp.statusCode}: ${resp.body.take(200)}")
          else {
            val got = normalize(mapper, q.kind, resp.body)
            expected.put(q.path, got)
            direct(spark, a.data, q) match {
              case Left(sql) => oracleRows.add(Map("path" -> q.path, "sql" -> sql, "body" -> got))
              case Right((df, limit)) =>
                if (normalize(mapper, "direct", graft.Serve.render(df, limit)) != got)
                  r.fail(s"${q.path}: served answer differs from a direct call")
            }
          }
        } catch { case e: Exception => r.fail(s"${q.path}: $e") }
      }): Runnable)
    }.foreach(_.get())
    val coldMs = (System.nanoTime() - w0) / 1e6
    r.named("warmup_check_s", coldMs / 1000.0, "s", distinct.size)
    r.put("cold_ms", coldMs)
    Files.write(Paths.get(a.path("serve_oracle.json")),
      Json.render(oracleRows.asScala.toSeq).getBytes(UTF_8))

    var next = 0
    def take(): Req = synchronized { val q = reqs(next % reqs.size); next += 1; q }

    /** One request as a client sees it; every answer must equal the one
      * checked above. */
    def exec(q: Req, dueNs: Long): Done = {
      val sent = System.nanoTime()
      val ok = Trace.span("serve", q.path) {
        try {
          val resp = get(q.path)
          val good = resp.statusCode / 100 == 2
          if (!good) r.fail(s"${q.path} -> HTTP ${resp.statusCode}: ${resp.body.take(200)}")
          else if (!Option(expected.get(q.path)).contains(normalize(mapper, q.kind, resp.body)))
            r.fail(s"${q.path}: answer differs from the checked one")
          good
        } catch { case e: Exception => r.fail(s"${q.path}: $e"); false }
      }
      r.synchronized(r.attempted += 1)
      Done(q, dueNs, sent, System.nanoTime(), ok)
    }

    /** Phase B: one page through `clients` closed-loop clients. */
    def page(traced: Boolean): (Double, Seq[Done]) = {
      val todo = new ConcurrentLinkedQueue[Req]((1 to Block).map(_ => take()).asJava)
      val done = new ConcurrentLinkedQueue[Done]()
      Trace.on = traced
      val t0 = System.nanoTime()
      Trace.span("bench", "page") {
        (1 to clients).map { _ =>
          pool.submit((() => {
            var q = todo.poll()
            while (q != null) { done.add(exec(q, System.nanoTime())); q = todo.poll() }
          }): Runnable)
        }.foreach(_.get())
      }
      val ms = (System.nanoTime() - t0) / 1e6
      Trace.on = false
      (ms, done.asScala.toSeq)
    }

    // No warm page: the warm-up-and-check pass above already ran every
    // distinct request, and page times show no trend after it. In a
    // traced run every page is traced.
    val closeWindow = Guards.window(r, "measure")
    val cpu = new Guards.CpuClock
    val pages = mutable.ArrayBuffer.empty[(Double, Seq[Done])]
    val layerSpans = mutable.ArrayBuffer.empty[Trace.Span]
    val layerCounts = mutable.ArrayBuffer.empty[Trace.Count]
    val deadlineB = System.nanoTime() + (a.seconds * 0.6 * 1e9).toLong
    while (pages.size < Main.MinOps || System.nanoTime() < deadlineB) {
      pages += page(a.trace)
      if (a.trace) {
        Bus.drain(spark.sparkContext)
        val (ss, cs) = Trace.take()
        layerSpans ++= ss; layerCounts ++= cs
      }
    }
    val cpuB = cpu.ms

    // Phase A: open loop, untraced, for the rest of the measured seconds.
    val lateness = mutable.ArrayBuffer.empty[Double]
    val openDone = new ConcurrentLinkedQueue[Done]()
    val nA = math.max(1, math.round(a.seconds * 0.4 * Rate).toInt)
    val tA = System.nanoTime()
    (0 until nA).map { k =>
      val due = tA + (k * 1e9 / Rate).toLong
      val wait = due - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      lateness += (System.nanoTime() - due) / 1e6
      val q = take()
      pool.submit((() => { openDone.add(exec(q, due)); () }): Runnable)
    }.foreach(_.get())
    closeWindow()

    val late99 = Stats.quantile(lateness.toSeq, 0.99)
    r.put("guard_generator_lateness_p99_ms", late99)
    if (late99 > 50.0) r.invalid(f"open-loop generator ran $late99%.1f ms late (p99)")

    val pageMs = pages.map(_._1).toSeq
    val answered = pages.flatMap(_._2).toSeq
    val sat = answered.count(_.ok) / (pageMs.sum / 1000.0)
    val perKind = Kinds.map(k => k -> answered.filter(_.req.kind == k).map(_.serviceMs))
      .filter(_._2.nonEmpty)
    r.e2e("latency_p50_ms", Stats.median(pageMs), "ms")
    r.e2e("component_geomean_ms", Stats.geomean(perKind.map(kv => Stats.median(kv._2))), "ms")
    r.e2e("cpu_ms_per_op", cpuB / pages.size, "ms")
    val open = openDone.asScala.toSeq.map(_.latencyMs)
    r.named("page_p50_s", Stats.median(pageMs) / 1000.0, "s", pageMs.size)
    r.named("saturation_rps", sat, "req/s", answered.size)
    r.named("req_p50_ms", Stats.median(open), "ms", open.size)
    r.named("req_p95_ms", Stats.quantile(open, 0.95), "ms", open.size)
    r.put("kind_p50_ms", perKind.map { case (k, v) => k -> Stats.median(v) }.toMap)
    r.put("op_ms", pageMs)

    if (a.trace) {
      val k = pages.size.toDouble
      val sums = Trace.sum(layerCounts.toSeq)
      Layers.report(r, sums, k, "page")
      r.layer("scheduler.idle_core_ms", (pageMs.sum * spark.sparkContext.defaultParallelism -
        sums.getOrElse("scheduler.task_run_ms", 0.0)) / k, "ms")
      Layers.selfTimes(r, layerSpans.toSeq, k)
      val metrics = mapper.readTree(get("/metrics").body).get("endpoints")
      var wait = 0.0
      for (kind <- Kinds) {
        val handler = Option(metrics.get("/" + kind)).map(_.get("p50_ms").asDouble).getOrElse(0.0)
        r.layer(s"serve.${kind}_ms", handler, "ms")
        val mine = answered.filter(_.req.kind == kind).map(_.latencyMs)
        if (mine.nonEmpty) wait += (Stats.median(mine.toSeq) - handler) * mine.size
      }
      r.layer("serve.wait_ms", wait / answered.size, "ms")
    }
    server.stop(0)
    pool.shutdownNow()
  }

  /** A response body as a sorted multiset of its rows, so two answers
    * compare equal whatever order Spark returned unordered rows in. */
  def normalize(mapper: ObjectMapper, kind: String, body: String): String = {
    val node = mapper.readTree(body)
    val rendered = if (kind == "suggest") node.get("completions") else node
    rendered.get("rows").elements().asScala.map(_.toString).toSeq.sorted.mkString("\n")
  }

  private def params(path: String): Map[String, String] =
    Option(URI.create(path).getRawQuery).getOrElse("").split("&").toSeq
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, UTF_8)
      }.toMap

  /** How a request's answer is checked: `Left` the DuckDB SQL `run.py`
    * compares it with (`/sql` and the unsliced catalog panels), else
    * `Right` the direct call behind it, as the frame and the row limit the
    * endpoint applies. */
  private def direct(spark: SparkSession, dir: String, q: Req): Either[String, (DataFrame, Int)] = {
    val p = params(q.path)
    val limit = p.get("limit").orElse(p.get("size")).orElse(p.get("k")).map(_.toInt).getOrElse(100)
    q.kind match {
      case "search" =>
        Right((graft.queries.TextAnalysis.searchHits(spark, dir, p("q").trim.split("\\s+").toSeq, 1,
          limit), limit))
      case "suggest" =>
        Right((graft.queries.TextIndex.suggestFrom(graft.queries.TextIndex.vocabOf(
          graft.Tables.load(spark, dir, "documents"), "text", "doc_id"),
          p("q").trim.toLowerCase, limit), limit))
      case "query" =>
        val name = URI.create(q.path).getPath.stripPrefix("/query/")
        val (f, t) = (p.get("from").map(LocalDate.parse), p.get("to").map(LocalDate.parse))
        name match {
          case "rel_histogram_dense" if f.isDefined =>
            Right((graft.queries.EsAggs.histogramDense(spark, dir, f, t), limit))
          case "evt_active_users" if f.isDefined =>
            Right((graft.queries.EventOps.activeUsers7d(spark, dir, f, t), limit))
          case "evt_growth_accounting" if f.isDefined =>
            Right((graft.queries.Growth.growthAccounting(spark, dir, f, t), limit))
          case _ =>
            graft.SparkEntry.oracleSql.get(name).toLeft((graft.SparkEntry.queries(name)(spark, dir), limit))
        }
      case "sql" => Left(p("q"))
      case "ann" =>
        Right((graft.queries.VectorSearch.annSearch(spark, dir, Seq(p("id").toLong), limit), limit))
    }
  }
}
