package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** One timed operation kind and its samples. */
final class OpStats(val kind: String) {
  val seconds = mutable.ArrayBuffer.empty[Double]
  var rows: Long = -1L
  var failures: Int = 0
  var firstError: String = ""
  var counts: Counters = null // first pass, traced runs only
  var constructMs: Double = 0.0
  var constructJobs: Double = 0.0
  def median: Double = Stats.median(seconds.toSeq)
}

/** `sql_floor` and `pipeline`: timed passes over a frozen query
  * list, each query built by its `QueryDef` impl and run to a
  * `count()`, as `graft.Bench` does. `pipeline` starts every pass
  * with the two ingest steps. */
final class QueryWorkload(spark: SparkSession, tracer: Tracer, seed: Long) {
  private val all: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries ++ SparkEntry.benchOnlyQueries

  val ops = mutable.LinkedHashMap.empty[String, OpStats]
  def op(kind: String): OpStats = ops.getOrElseUpdate(kind, new OpStats(kind))

  /** Opens every table (session tuning, parquet footers and schema):
    * the work a user waits for before the first query. */
  def setup(dir: String): Double = Stats.timed {
    graft.core.Tables.names.foreach(t => graft.core.Tables.load(spark, dir, t).schema)
  }._2

  /** Runs each query once on `dir`, untimed: the warm-up pass that pays
    * codegen and JIT before the timed window. Returns the row counts. */
  def warmup(names: Seq[String], dir: String): Map[String, Long] =
    names.flatMap(n => try Some(n -> all(n)(spark, dir).count())
      catch { case _: Throwable => None }).toMap

  /** Row counts and oracle SQL of runs on the tiny tables: the fallback
    * check for queries whose oracle DuckDB cannot finish at full size. */
  val tinyRows = mutable.LinkedHashMap.empty[String, Long]
  var tinyOracleSql: Map[String, String] = Map.empty

  def tinyCheckRuns(names: Seq[String], tiny: String): Unit = {
    tinyRows ++= warmup(names, tiny)
    tinyOracleSql = oracleSql.filter(kv => names.contains(kv._1))
  }

  /** One timed query: construct (the impl call), plan, execute. */
  def runQuery(name: String, dir: String, pass: Int): Unit = {
    val s = op(name)
    val opId = s"$name#$pass"
    val t0 = System.nanoTime()
    try {
      val n = tracer.span("query", opId) {
        if (!tracer.on) all(name)(spark, dir).count()
        else {
          val c0 = Tracer.nowMs
          val df = tracer.span("construct")(all(name)(spark, dir))
          if (pass == 1) s.constructMs += Tracer.nowMs - c0
          val counted = tracer.span("plan") {
            val c = df.groupBy().count()
            c.queryExecution.executedPlan
            c
          }
          tracer.span("execute")(counted.collect().head.getLong(0))
        }
      }
      s.seconds += (System.nanoTime() - t0) / 1e9
      if (s.rows < 0) s.rows = n
      else if (s.rows != n) fail(s, s"row count changed: ${s.rows} then $n")
    } catch { case e: Throwable =>
      s.seconds += (System.nanoTime() - t0) / 1e9
      fail(s, e.toString)
    }
  }

  def fail(s: OpStats, msg: String): Unit = {
    s.failures += 1
    if (s.firstError.isEmpty) s.firstError = msg.take(300)
  }

  /** Full passes over `names` (seed-shuffled per pass, optional
    * `prefix` ops first) until `seconds` have passed; always at least
    * `minPasses`. */
  def passes(names: Seq[String], dir: String, seconds: Double, minPasses: Int,
      prefix: Int => Unit = _ => ()): Int = {
    val rng = new scala.util.Random(seed)
    val t0 = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (pass < minPasses || elapsed < seconds) {
      pass += 1
      prefix(pass)
      rng.shuffle(names).foreach(n => runQuery(n, dir, pass))
    }
    pass
  }

  /** Per-op Spark counters of the first pass (traced runs). */
  def collectCounts(): Unit = if (tracer.on) {
    tracer.waitForListeners()
    ops.values.foreach { s =>
      s.counts = tracer.countersOfOp(s"${s.kind}#1")
      s.constructJobs = tracer.countersFor(_ == s"${s.kind}#1/construct").v("spark.jobs")
    }
  }

  def oracleSql: Map[String, String] = SparkEntry.oracleSql
}

/** The ingest steps of `pipeline` (CSV import, stream record, store
  * compaction), over inputs staged once per data directory under
  * `work`. */
final class Ingest(spark: SparkSession, dir: String, work: String,
    streamEvents: Long) {
  import org.apache.spark.sql.functions._

  // the staged events arrive in StreamBatches micro-batches
  private val StreamFiles = 32
  private val StreamBatches = 4
  private val csvDir = s"$work/stage/${key(dir)}/lineitem_csv"
  private val streamDir = s"$work/stage/${key(dir)}/events_${streamEvents}_$StreamFiles"
  private def key(d: String) = d.replaceAll("[^A-Za-z0-9_.-]", "_")
  private def done(p: String) = new java.io.File(s"$p/_SUCCESS").exists

  lazy val lineitemSchema = graft.core.Tables.lineitem(spark, dir).schema

  def stage(): Unit = {
    if (!done(csvDir))
      graft.sources.Sources.exportCsv(graft.core.Tables.lineitem(spark, dir), csvDir)
    if (!done(streamDir)) {
      val ev = graft.core.Tables.events(spark, dir)
      val copies = math.max(1L, math.ceil(streamEvents.toDouble / ev.count()).toLong)
      ev.crossJoin(spark.range(copies).toDF("__copy")).drop("__copy")
        .repartition(StreamFiles).write.mode("overwrite").parquet(streamDir)
    }
  }

  /** `import.text` of the staged CSV: (rows, seconds). */
  def importCsv(): (Long, Double) = Stats.timed {
    graft.sources.Sources.importText(spark, csvDir,
      graft.sources.Sources.TextImportConfig(schema = Some(lineitemSchema))).count()
  }

  /** A fresh store directory for one pass's stream. */
  def newStore(pass: Int): String = s"$work/stream/${System.nanoTime()}_$pass"

  /** `Continuous.record` of the staged events into the store at `out`:
    * (events, seconds, events/s excluding the first batch, progress). */
  def recordStream(out: String): (Long, Double, Double, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val in = spark.readStream.schema(spark.read.parquet(streamDir).schema)
      .option("maxFilesPerTrigger", (StreamFiles / StreamBatches).toString).parquet(streamDir)
    val ((ps, rows), sec) = Stats.timed {
      val q = graft.streaming.Continuous.record(in, "ts", s"$out/store",
        s"$out/ckpt", availableNowForTest = true)
      q.awaitTermination(170000)
      val ps = q.recentProgress.filter(_.numInputRows > 0).toSeq
      (ps, ps.map(_.numInputRows).sum)
    }
    val tail = if (ps.length > 1) ps.drop(1) else ps
    val tailSec = tail.map(_.durationMs.get("triggerExecution").toLong).sum / 1000.0
    val rate = if (tailSec > 0) tail.map(_.numInputRows).sum / tailSec else Double.NaN
    (rows, sec, rate, ps)
  }

  /** Compacts the finished stream's store (the write `q127_compact_store`
    * times, on a store inside `work`): (partitions compacted, rows read
    * back, seconds). Deletes the store afterwards. */
  def compactStore(out: String): (Int, Long, Double) = {
    val ((parts, rows), sec) = Stats.timed {
      val rep = graft.procedures.Compact.compactStore(spark, s"$out/store",
        targetBytes = 1L << 30, retireStreamMetadata = true)
      (rep.partitionsCompacted, spark.read.parquet(s"$out/store").count())
    }
    deleteTree(new java.io.File(out))
    (parts, rows, sec)
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
