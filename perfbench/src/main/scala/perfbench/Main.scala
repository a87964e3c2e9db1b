package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark JVM. `perfbench/run.py` builds it, prepares the
  * data and calls
  *
  *   perfbench.Main --mode run --workload <w> --seed <n> --seconds <s>
  *     --trace <0|1> --data <dir> --tiny <dir> --work <dir> --out <json>
  *
  * which runs one workload and writes its result as JSON to `--out`.
  * Other modes: `split` (time every query, to freeze the workload
  * lists) and `scaleup` (the ×N data construction with count checks).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = Runtime.getRuntime.availableProcessors()
    val work = o("work")
    val spark = session(cpus, work)
    try o("mode") match {
      case "run" => Json.write(o("out"), run(spark, o, cpus))
      case "split" => Json.write(o("out"), split(spark, o))
      case "scaleup" =>
        ScaleUp.run(spark, o("data"), o("dest"), o("factor").toInt)
    } finally spark.stop()
  }

  /** The one SparkSession shape every mode uses: `local[nproc]`,
    * shuffle partitions = nproc, Bench's SQL settings, every scratch
    * directory under `work`. */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.core.Tables.tune(s)
  }

  def run(spark: SparkSession, o: Map[String, String], cpus: Int): collection.Map[String, Any] = {
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val tracer = new Tracer(o("trace") == "1", spark)
    val res = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> tracer.on,
      "cpus" -> cpus)
    val t0 = Tracer.nowMs
    val gc0 = Host.gcMs
    tracer.span("workload", workload) {
      workload match {
        case "sql_floor" | "pipeline" =>
          queries(spark, tracer, o, seed, seconds, res)
        case "serve_mixed" =>
          new Serve(spark, tracer, o, seed, cpus).run(seconds, res)
      }
    }
    tracer.stop()
    if (!res.contains("failures")) {
      val ops = res("ops").asInstanceOf[Seq[collection.Map[String, Any]]]
      res("attempted") = ops.map(_("samples_s").asInstanceOf[Seq[Double]].size).sum
      res("failures") = ops.filter(_("failures") != 0).map(op =>
        Json.obj("op" -> op("op"), "reason" -> op("error"), "count" -> op("failures")))
    }
    val m = res("e2e").asInstanceOf[mutable.Map[String, Any]]
    m("retained_heap_mb") = res.remove("retained_heap_mb").get
    res("detail").asInstanceOf[mutable.Map[String, Any]]("peak_rss_mb") = Host.peakRssMb
    if (tracer.on) {
      val l = res("layer").asInstanceOf[mutable.Map[String, Any]]
      l("jvm.gc_ms") = Host.gcMs - gc0
      l("jvm.heap_peak_mb") = Host.heapPeakMb
      tracer.writeTrace(o("out").stripSuffix(".json") + ".trace.json")
    }
    res("wall_s") = (Tracer.nowMs - t0) / 1000
    res("env") = Host.env
    res
  }

  private def queries(spark: SparkSession, tracer: Tracer, o: Map[String, String],
      seed: Long, seconds: Double, res: mutable.Map[String, Any]): Unit = {
    val workload = o("workload")
    val dir = o("data")
    val names = if (workload == "sql_floor") Lists.sqlFloor else Lists.pipeline
    val w = new QueryWorkload(spark, tracer, seed)
    val phase = mutable.LinkedHashMap.empty[String, Any]
    def timedPhase[T](name: String)(body: => T): T = {
      val (r, s) = Stats.timed(body)
      phase(name) = s
      r
    }
    val setup = timedPhase("setup")((1 to 3).map(_ => w.setup(dir)))
    val ingest = if (workload == "pipeline") timedPhase("stage") {
      val ing = new Ingest(spark, dir, o("work"), o("stream_events").toLong)
      ing.stage()
      Some(ing)
    } else None
    // one untimed pass warms codegen and JIT for the floor queries; the
    // pipeline's job-count-bound queries would pay as much again for
    // it, so they are timed cold
    if (ingest.isEmpty) timedPhase("warmup")(w.warmup(names, dir))
    val csvRates = mutable.ArrayBuffer.empty[Double]
    val streamRates = mutable.ArrayBuffer.empty[Double]
    val streamParts = mutable.ArrayBuffer.empty[Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]]
    val lineitemRows = graft.core.Tables.lineitem(spark, dir).count()
    val ingestOps = ingest.map { ing => (pass: Int) =>
      val c = w.op("import.text")
      try {
        val (n, sec) = tracer.span("import", s"import.text#$pass")(ing.importCsv())
        c.seconds += sec
        csvRates += n / sec
        if (n != lineitemRows) w.fail(c, s"imported $n rows, expected $lineitemRows")
        c.rows = n
      } catch { case e: Throwable => w.fail(c, e.toString) }
      val events = o("stream_events").toLong
      val store = ing.newStore(pass)
      val s = w.op("continuous.record")
      try {
        val (n, sec, rate, ps) =
          tracer.span("record", s"continuous.record#$pass")(ing.recordStream(store))
        s.seconds += sec
        streamRates += rate
        streamParts += ps
        if (n != events) w.fail(s, s"recorded $n events, expected $events")
        s.rows = n
      } catch { case e: Throwable => w.fail(s, e.toString) }
      val k = w.op("compact.store")
      try {
        val (parts, n, sec) =
          tracer.span("compact", s"compact.store#$pass")(ing.compactStore(store))
        k.seconds += sec
        if (parts <= 0 || n != events)
          w.fail(k, s"compacted $parts partitions, read back $n of $events events")
        k.rows = n
      } catch { case e: Throwable => w.fail(k, e.toString) }
    }.getOrElse((_: Int) => ())
    val nPasses = timedPhase("window")(w.passes(names, dir, seconds, 1, ingestOps))
    res("phase_s") = phase
    w.collectCounts()
    res("retained_heap_mb") = Host.retainedHeapMb
    // queries whose oracle DuckDB cannot run at full size are checked
    // on the tiny tables
    val tinyCheck = o.getOrElse("tiny_check", "").split(",")
      .filter(n => n.nonEmpty && names.contains(n))
    if (tinyCheck.nonEmpty) w.tinyCheckRuns(tinyCheck.toSeq, o("tiny"))
    val medians = w.ops.values.map(_.median).toSeq
    val queryMedians = names.map(n => w.ops(n).median)
    res("passes") = nPasses
    res("setup_s") = setup
    res("e2e") = mutable.LinkedHashMap[String, Any](
      "setup_s" -> Stats.median(setup),
      "op_s_sum" -> medians.sum,
      "op_s_geomean" -> Stats.geomean(medians))
    val detail = mutable.LinkedHashMap[String, Any](
      "query_s_sum" -> queryMedians.sum,
      "query_s_geomean" -> Stats.geomean(queryMedians),
      "queries_timed" -> names.size)
    if (ingest.isDefined) {
      detail("csv_ingest_rows_per_s") = Stats.median(csvRates.toSeq)
      detail("stream_ingest_events_per_s") = Stats.median(streamRates.toSeq)
    }
    res("detail") = detail
    res("ops") = w.ops.values.map(opJson).toSeq
    res("oracle_sql") = w.oracleSql.filter(kv => names.contains(kv._1))
    res("tiny_rows") = w.tinyRows
    res("tiny_oracle_sql") = w.tinyOracleSql
    if (tracer.on) {
      val layer = Layers.empty
      val passOps = w.ops.values.toSeq
      passOps.foreach(s => if (s.counts != null) s.counts.v.foreach { case (k, x) =>
        layer(k) = layer(k).asInstanceOf[Double] + x })
      val opSpans = tracer.allSpans.filter(s => s.name == "query" && s.op.endsWith("#1"))
      val cat = tracer.catalystMs(t => opSpans.exists(s => s.startMs <= t && t <= s.endMs))
      Seq("analysis", "optimization", "planning").foreach(p =>
        layer(s"catalyst.${p}_ms") = cat.getOrElse(p, 0.0))
      layer("construct.ms") = passOps.map(_.constructMs).sum
      layer("construct.jobs") = passOps.map(_.constructJobs).sum
      ingest.foreach { _ =>
        val imp = w.op("import.text")
        layer("sources.import_ms") = imp.seconds.head * 1000
        layer("sources.rows") = imp.rows.toDouble
        val ps = streamParts.headOption.getOrElse(Nil)
        def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
        layer("streaming.add_batch_ms") = dur("addBatch")
        layer("streaming.wal_commit_ms") = dur("walCommit")
        layer("streaming.latest_offset_ms") = dur("latestOffset")
        layer("streaming.query_planning_ms") = dur("queryPlanning")
        layer("streaming.batches") = ps.size.toDouble
      }
      res("layer") = layer
    }
  }

  def opJson(s: OpStats): collection.Map[String, Any] = Json.obj(
    "op" -> s.kind, "median_s" -> s.median, "samples_s" -> s.seconds.toSeq,
    "rows" -> s.rows, "failures" -> s.failures, "error" -> s.firstError,
    "construct_ms" -> s.constructMs, "construct_jobs" -> s.constructJobs,
    "counts" -> Option(s.counts).map(_.v))

  /** Times every timed query of `graft.Bench`, or `--queries`, for
    * `--passes` passes after a warm-up on `--tiny`. The frozen lists in
    * [[Lists]] and the sf1 table of NOTES.md come from it. */
  def split(spark: SparkSession, o: Map[String, String]): collection.Map[String, Any] = {
    val names = o.get("queries").filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(
      (graft.SparkEntry.queries.keys.filterNot(_ == "q83_simhash_md5") ++
        graft.SparkEntry.benchOnlyQueries.keys).toSeq.sorted)
    val w = new QueryWorkload(spark, new Tracer(false, spark), 1)
    w.warmup(names, o("tiny"))
    w.passes(names, o("data"), 0, o.getOrElse("passes", "3").toInt)
    Json.obj("ops" -> w.ops.values.map(opJson).toSeq)
  }
}

/** The per-layer metric names every traced run reports (0 where a
  * layer does not run in the workload). */
object Layers {
  val names: Seq[String] = Seq(
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "sql.parse_ms", "sql.lower_ms", "construct.ms", "construct.jobs") ++
    Tracer.SparkKeys ++ Seq(
    "sources.import_ms", "sources.rows",
    "streaming.add_batch_ms", "streaming.wal_commit_ms",
    "streaming.latest_offset_ms", "streaming.query_planning_ms",
    "streaming.batches",
    "api.decode_us", "api.score_inproc_us", "api.query_inproc_ms",
    "api.record_inproc_ms", "api.record_jobs",
    "loadgen.lag_p99_ms", "loadgen.max_outstanding",
    "jvm.gc_ms", "jvm.heap_peak_mb")

  def empty: mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap(names.map(_ -> (0.0: Any)): _*)
}
