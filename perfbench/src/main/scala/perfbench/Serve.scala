package perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{Executors, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.api.{GraftEngine, JsonRow, RestServer}

/** One open-loop request: due time, method, path, body, and what
  * happened to it. Latency counts from the due time. */
final class Req(val kind: String, val dueNs: Long, val method: String,
    val path: String, val body: String, val check: String => Option[String]) {
  @volatile var startNs = 0L
  @volatile var endNs = 0L
  @volatile var status = 0
  @volatile var response = ""
  @volatile var error = ""
  def latencyMs: Double = (endNs - dueNs) / 1e6
  def lagMs: Double = (startNs - dueNs) / 1e6
  def acknowledged: Boolean = status == 200 && check(response).isEmpty
}

/** `serve_mixed`: open-loop REST load against an in-process
  * `RestServer` over `lineitem`/`orders` registered with
  * `createDatasetFromParquet`. Mostly single-row scoring calls at four
  * fixed offered rates, plus `/v1/query` dialect queries at a low fixed
  * rate and a fixed number of `POST /v1/datasets/rec/rows` record calls
  * with a `count(*)` over `rec` after every eighth, each checked against
  * the writes acknowledged before it. */
final class Serve(spark: SparkSession, tracer: Tracer, o: Map[String, String],
    seed: Long, cpus: Int) {
  private val dir = o("data")
  private val rng = new scala.util.Random(seed)
  val rates: Seq[Int] = Seq(500, 1000, 2000, 3000)
  val refRate = 1000
  val p99LimitMs = 25.0
  val writes = 16
  val recQueryEvery = 8
  val queryPerS = 1.0
  private val orderKeys = spark.read.parquet(s"$dir/orders.parquet").count()

  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .executor(Executors.newFixedThreadPool(2, (r: Runnable) => {
      val t = new Thread(r, "bench-http"); t.setDaemon(true); t
    }))
    .build()

  private def send(port: Int, r: Req): Unit = {
    r.startNs = System.nanoTime()
    try {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${r.path}"))
      val req =
        if (r.method == "GET") b.GET().build()
        else b.POST(HttpRequest.BodyPublishers.ofString(r.body))
          .header("Content-Type", "application/json").build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      r.status = resp.statusCode()
      r.response = resp.body()
    } catch { case e: Throwable => r.error = e.toString }
    r.endNs = System.nanoTime()
  }

  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")

  def setup(): (GraftEngine, RestServer, Int) = {
    val e = new GraftEngine(spark)
    e.createDatasetFromParquet("lineitem", s"$dir/lineitem.parquet")
    e.createDatasetFromParquet("orders", s"$dir/orders.parquet")
    e.createSqlExpressionFunction("score", "a + b AS s, a * b AS p, sqrt(a) AS q")
    val srv = new RestServer(e)
    val port = srv.start()
    val ping = new Req("ping", System.nanoTime(), "GET", "/ping", "", _ => None)
    send(port, ping)
    require(ping.status == 200, s"ping failed: ${ping.status} ${ping.error}")
    (e, srv, port)
  }

  // ---- request builders -------------------------------------------------

  private def scoreReq(due: Long): Req = {
    val a = rng.nextInt(10000)
    val b = rng.nextInt(100) - 50
    val input = s"""{"a": $a, "b": $b}"""
    new Req("score", due, "GET",
      s"/v1/functions/score/application?input=${enc(input)}", "",
      body => Serve.checkScore(body, a, b))
  }

  private def queryReq(kind: String, text: String, due: Long): Req =
    new Req(kind, due, "GET", s"/v1/query?q=${enc(text)}&format=table", "", _ => None)

  val groupOrders = "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus"
  val groupLineitem = "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS q " +
    "FROM lineitem GROUP BY l_returnflag, l_linestatus"
  def pointLookup(k: Long) =
    s"SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey = $k"
  val recCount = "SELECT count(*) AS n FROM rec"

  /** A `count(*)` over `rec` that must equal `acked()`, evaluated when
    * the answers are checked. */
  private def recCountReq(kind: String, due: Long, acked: () => Int): Req =
    new Req(kind, due, "GET", s"/v1/query?q=${enc(recCount)}&format=table", "",
      body => Serve.checkRecCount(body, acked()))

  private def recordReq(i: Int, due: Long): Req = {
    val body = s"""[{"rowName": "r$i", "x": $i, "y": ${rng.nextInt(1000)}}]"""
    new Req("record", due, "POST", "/v1/datasets/rec/rows", body,
      b => if (b.contains("\"recorded\": 1")) None else Some(s"record answer $b"))
  }

  /** The whole open-loop schedule: four score phases of `phaseS`
    * seconds each; `/v1/query` calls spread evenly over the window; the
    * writes spread over its first 80%, each eighth followed by a
    * `count(*)` over `rec`. The record stream runs in order on one client
    * thread, so each count must equal the writes acknowledged before it. */
  def schedule(t0: Long, windowS: Double): (Seq[Req], Seq[Req], Seq[Req]) = {
    val phaseS = windowS / rates.size
    val scores = rates.zipWithIndex.flatMap { case (r, k) =>
      val start = t0 + (k * phaseS * 1e9).toLong
      (0 until (r * phaseS).toInt).map(i => scoreReq(start + (i * 1e9 / r).toLong))
    }
    val nQ = (windowS * queryPerS).toInt
    val queries = (0 until nQ).map { i =>
      val due = t0 + (i * 1e9 / queryPerS).toLong
      i % 3 match {
        case 0 => queryReq("query.point", pointLookup((rng.nextLong() & Long.MaxValue) % orderKeys), due)
        case 1 => queryReq("query.group_orders", groupOrders, due)
        case _ => queryReq("query.group_lineitem", groupLineitem, due)
      }
    }
    val step = 0.8 * windowS * 1e9 / writes
    val records = mutable.ArrayBuffer.empty[Req]
    (0 until writes).foreach { i =>
      val due = t0 + (i * step).toLong
      records += recordReq(i, due)
      if ((i + 1) % recQueryEvery == 0) {
        val before = records.filter(_.kind == "record").toList
        records += recCountReq("query.rec_count", due + 1,
          () => before.count(_.acknowledged))
      }
    }
    (scores, queries, records.toSeq)
  }

  /** Dispatches `reqs` at their due times onto `pool`. */
  private def dispatch(port: Int, reqs: Seq[Req], pool: ThreadPoolExecutor,
      outstanding: AtomicInteger, maxOut: AtomicInteger): Unit =
    reqs.foreach { r =>
      val wait = r.dueNs - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait)
      maxOut.accumulateAndGet(outstanding.incrementAndGet(), math.max)
      pool.execute(() => {
        tracer.span(r.kind, s"${r.kind}@${r.dueNs}")(send(port, r))
        outstanding.decrementAndGet()
      })
    }

  def run(seconds: Double, res: mutable.Map[String, Any]): Unit = {
    val (engine, server, port) = {
      val setups = (1 to 5).map { _ => Stats.timed(setup()) }
      setups.init.foreach(_._1._2.stop())
      res("setup_s") = setups.map(_._2)
      setups.last._1
    }
    val setupS = Stats.median(res("setup_s").asInstanceOf[Seq[Double]])
    // warm-up, outside the window: plan and codegen caches, JIT
    ((0 until 300).map(_ => scoreReq(System.nanoTime())) ++
      Seq(groupOrders, groupLineitem, pointLookup(1)).map(queryReq("warm", _, System.nanoTime())))
      .foreach(send(port, _))
    send(port, new Req("warm", System.nanoTime(), "POST", "/v1/datasets/warm/rows",
      """[{"rowName": "w", "x": 1}]""", _ => None))
    val (lagP99, maxOut) = load(port, seconds, setupS, res)
    // the request log is unreachable here, so the figure is the engine's
    res("retained_heap_mb") = Host.retainedHeapMb
    if (tracer.on) res("layer") = layers(engine, lagP99, maxOut)
    server.stop()
  }

  /** The open-loop window and its checks; fills `res` and returns the
    * generator's lag p99 (ms) and most requests outstanding. */
  private def load(port: Int, seconds: Double, setupS: Double,
      res: mutable.Map[String, Any]): (Double, Int) = {
    // nproc client threads in all: one each for the query and record
    // streams, the rest for scoring
    def pool(n: Int) = new ThreadPoolExecutor(n, n, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable]())
    val scorePool = pool(math.max(1, cpus - 2))
    val queryPool = pool(1)
    val recordPool = pool(1)
    val outstanding = new AtomicInteger()
    val maxOut = new AtomicInteger()
    val t0 = System.nanoTime() + 50000000L
    val (scores, queries, records) = schedule(t0, seconds)
    val side = (queries ++ records).sortBy(_.dueNs)
    val dispatchers = Seq(queries -> queryPool, records -> recordPool).map { case (rs, p) =>
      val t = new Thread(() => dispatch(port, rs, p, outstanding, maxOut))
      t.start()
      t
    }
    dispatch(port, scores, scorePool, outstanding, maxOut)
    dispatchers.foreach(_.join())
    Seq(scorePool, queryPool, recordPool).foreach { p =>
      p.shutdown(); p.awaitTermination(170, TimeUnit.SECONDS) }

    // checks, outside the window
    val all = scores ++ side
    val failures = mutable.ArrayBuffer.empty[collection.Map[String, Any]]
    all.foreach { r =>
      val err =
        if (r.error.nonEmpty) Some(r.error)
        else if (r.status != 200 && r.status != 201) Some(s"HTTP ${r.status}: ${r.response.take(200)}")
        else r.check(r.response)
      err.foreach(e => failures += Json.obj("op" -> r.kind, "reason" -> e.take(300)))
    }
    val acked = records.count(r => r.kind == "record" && r.acknowledged)
    val finalCount = recCountReq("query.rec_count_final", System.nanoTime(), () => acked)
    send(port, finalCount)
    finalCount.check(finalCount.response).foreach(e =>
      failures += Json.obj("op" -> finalCount.kind, "reason" -> e.take(300)))

    val phaseS = seconds / rates.size
    val perRate = rates.zipWithIndex.map { case (r, k) =>
      val lo = t0 + (k * phaseS * 1e9).toLong
      val hi = t0 + ((k + 1) * phaseS * 1e9).toLong
      val ps = scores.filter(x => x.dueNs >= lo && x.dueNs < hi)
      val lat = ps.map(_.latencyMs)
      val lag = ps.map(_.lagMs)
      val fifth = math.max(1, ps.size / 5)
      val growing = Stats.median(lag.takeRight(fifth)) >
        Stats.median(lag.take(fifth)) + 5.0
      Json.obj("rate_per_s" -> r, "requests" -> ps.size,
        "p50_ms" -> Stats.median(lat), "p99_ms" -> Stats.quantile(lat, 0.99),
        "lag_p99_ms" -> Stats.quantile(lag, 0.99), "backlog_growing" -> growing)
    }
    val ok = perRate.filter(p => p("p99_ms").asInstanceOf[Double] <= p99LimitMs &&
      !p("backlog_growing").asInstanceOf[Boolean])
    val ref = perRate.find(_("rate_per_s") == refRate).get
    def lat(kind: String) = side.filter(_.kind == kind).map(_.latencyMs)
    val queryLat = side.filter(r => r.kind.startsWith("query.") &&
      r.kind != "query.rec_count").map(_.latencyMs)
    val texts = Seq("query.point", "query.group_orders", "query.group_lineitem")
    // the scoring op's figure is the median service time (send to
    // answer) over every scoring call; its due-time percentiles per
    // rate are in `detail`
    val scoreService = Stats.median(scores.map(r => (r.endNs - r.startNs) / 1e6))
    val medians = Seq(scoreService, Stats.median(queryLat),
      Stats.median(lat("record"))).map(_ / 1000)

    res("e2e") = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "op_s_sum" -> medians.sum,
      "op_s_geomean" -> Stats.geomean(medians))
    res("detail") = mutable.LinkedHashMap[String, Any](
      "score_p50_ms" -> ref("p50_ms"),
      "score_p99_ms" -> ref("p99_ms"),
      "score_max_rate_per_s" -> (if (ok.isEmpty) 0 else ok.map(_("rate_per_s").asInstanceOf[Int]).max),
      "score_p99_limit_ms" -> p99LimitMs,
      "query_route_p50_ms" -> Stats.median(queryLat),
      "query_route_p90_ms" -> Stats.quantile(queryLat, 0.9),
      "record_p50_ms" -> Stats.median(lat("record")),
      "query_route_p50_ms_by_text" -> texts.map(t => t -> Stats.median(lat(t))).toMap,
      "rec_query_ms" -> lat("query.rec_count"),
      "writes" -> writes, "rows_acknowledged" -> acked,
      "rates" -> perRate)
    res("ops") = Seq("score.service", "query.route", "record").zip(medians).map { case (k, m) =>
      Json.obj("op" -> k, "median_s" -> m) }
    res("attempted") = all.size + 1
    res("failures") = failures.toSeq
    // every /v1/query answer, for the DuckDB check in run.py
    res("query_answers") = side.filter(r => r.kind.startsWith("query.") &&
        r.kind != "query.rec_count" && r.status == 200)
      .map(r => Json.obj("op" -> r.kind, "q" -> java.net.URLDecoder.decode(
        r.path.stripPrefix("/v1/query?q=").stripSuffix("&format=table"), "UTF-8"),
        "answer" -> r.response))
    (Stats.quantile(scores.map(_.lagMs), 0.99), maxOut.get)
  }

  /** In-process layer timings (traced runs), after the window. */
  private def layers(engine: GraftEngine, lagP99: Double,
      maxOut: Int): mutable.LinkedHashMap[String, Any] = {
    val l = Layers.empty
    val inputs = (0 until 2000).map(i => s"""{"a": ${i % 997}, "b": ${i % 31}}""")
    def medianUs(f: String => Any) = Stats.median(inputs.map { in =>
      val t = System.nanoTime(); f(in); (System.nanoTime() - t) / 1e3 })
    l("api.decode_us") = medianUs(JsonRow.parseFlat)
    l("api.score_inproc_us") = medianUs(engine.applyFunctionJsonRows("score", _))
    val texts = Seq(pointLookup(7), groupOrders, groupLineitem)
    def medMs(f: => Any) = Stats.median((1 to 5).map(_ => Stats.timed(f)._2 * 1000))
    val parse = texts.map(t => medMs(graft.sql.Parser.parse(t)))
    l("sql.parse_ms") = parse.sum
    l("sql.lower_ms") = texts.zip(parse).map { case (t, p) =>
      math.max(0.0, medMs(engine.query(t)) - p) }.sum
    val reps = 5
    val qMs = texts.map { t =>
      Stats.median((1 to reps).map(i => tracer.span("query_inproc", s"inproc:${t.hashCode}#$i") {
        Stats.timed(engine.query(t).collect())._2 * 1000 }))
    }
    l("api.query_inproc_ms") = qMs.sum
    tracer.waitForListeners()
    val qSpans = tracer.allSpans.filter(_.name == "query_inproc")
    val cat = tracer.catalystMs(t => qSpans.exists(s => s.startMs <= t && t <= s.endMs))
    Seq("analysis", "optimization", "planning").foreach(p =>
      l(s"catalyst.${p}_ms") = cat.getOrElse(p, 0.0) / reps)
    val recN = 10
    l("api.record_inproc_ms") = Stats.median((1 to recN).map(i =>
      tracer.span("record_inproc", s"record_inproc#$i") {
        Stats.timed(engine.recordRows("rec_inproc", s"""[{"rowName": "i$i", "x": $i}]"""))._2 * 1000
      }))
    tracer.waitForListeners()
    l("api.record_jobs") = tracer.countersFor(_.startsWith("record_inproc#")).v("spark.jobs") / recN
    tracer.countersFor(_ => true).v.foreach { case (k, x) => l(k) = x }
    l("loadgen.lag_p99_ms") = lagP99
    l("loadgen.max_outstanding") = maxOut.toDouble
    l
  }
}

object Serve {
  private val Num = "\"([spq])\"\\s*:\\s*(-?[0-9.eE+-]+|null)".r

  /** A scoring answer must hold s = a+b, p = a*b, q = sqrt(a). */
  def checkScore(body: String, a: Int, b: Int): Option[String] = {
    val got = Num.findAllMatchIn(body).map(m => m.group(1) -> m.group(2)).toMap
    val want = Map("s" -> (a + b).toDouble, "p" -> (a.toDouble * b), "q" -> math.sqrt(a))
    val bad = want.filter { case (k, w) =>
      got.get(k).flatMap(v => scala.util.Try(v.toDouble).toOption)
        .forall(g => math.abs(g - w) > 1e-9 * math.max(1.0, math.abs(w)))
    }
    if (bad.isEmpty) None else Some(s"score(a=$a, b=$b) answered $body")
  }

  /** A `count(*)` answer over `rec` must equal the acknowledged writes. */
  def checkRecCount(body: String, acked: Int): Option[String] =
    if (tableCell(body).contains(acked.toDouble)) None
    else Some(s"count(*) of rec answered ${body.take(200)}, acknowledged $acked")

  /** The last cell of a `format=table` answer, as a number. */
  def tableCell(body: String): Option[Double] =
    "(-?[0-9][0-9.eE+-]*)\\s*\\]\\s*\\]\\s*$".r.findFirstMatchIn(body)
      .flatMap(m => m.group(1).toDoubleOption)
}
