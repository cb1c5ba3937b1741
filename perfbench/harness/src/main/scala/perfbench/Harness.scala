package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

import graft.{BenchFormat, SparkEntry, Timeouts}
import graft.etl.{JsonSink, TradePipeline}

/** One benchmark run inside one JVM: set up a Spark session several times,
  * run a fixed number of passes over one workload (the first pass is the
  * cold one), dump every query result once more, untimed, for the output
  * check, and write the raw record (spans, jobs, counters) as JSON. All
  * reduction into metrics happens in `perfbench/run.py`.
  *
  * Arguments are `--key value` pairs: workload, queries (comma list, empty
  * for etl_trades), tables, trades, warmup (an input file), work, local,
  * record, dump, passes, setups, cpus, trace (0|1), fresh (1: a new
  * session per pass), passes_until and dump_until (epoch milliseconds by
  * which the timed passes and the dump must end: each operation's timeout is
  * what is left of its deadline, so a slow operation is reported as failed
  * instead of running past the run's limit).
  */
object Harness {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()

  /** Wall-clock milliseconds since the epoch, at nanosecond resolution. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final class Span(val id: Int, val kind: String, val name: String, val pass: Int,
      val parent: Int, val start: Double) {
    var end: Double = Double.NaN
    val attrs = mutable.LinkedHashMap.empty[String, Any]
    def toJson: Map[String, Any] = Map("id" -> id, "kind" -> kind, "name" -> name,
      "pass" -> pass, "parent" -> parent, "start" -> start, "end" -> end, "attrs" -> attrs)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val queries = opt("queries").split(",").filter(_.nonEmpty).toSeq
    val tables = opt("tables")
    val trades = opt("trades")
    val work = Paths.get(opt("work"))
    val passes = opt("passes").toInt
    val setups = opt("setups").toInt
    val cpus = opt("cpus")
    val trace = opt("trace") == "1"
    val fresh = opt("fresh") == "1"
    val passesUntil = opt("passes_until").toDouble
    val dumpUntil = opt("dump_until").toDouble
    def secondsUntil(t: Double): Long = math.max(1L, math.ceil((t - now()) / 1000).toLong)
    val etlOut = work.resolve("etl_out")
    Files.createDirectories(etlOut)

    val spans = mutable.ArrayBuffer.empty[Span]
    def open(kind: String, name: String, pass: Int, parent: Int): Span = spans.synchronized {
      val s = new Span(spans.size, kind, name, pass, parent, now())
      spans += s
      s
    }
    def close(s: Span): Unit = s.end = now()
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]

    def newSession(): SparkSession = {
      val s = SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions)
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", opt("local"))
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    // warm-up: read the first 10k rows of one input, as graft.Bench does
    val warmPath = opt("warmup")
    def warmUp(s: SparkSession): Unit =
      (if (warmPath.endsWith(".csv")) s.read.option("header", "true").csv(warmPath)
       else s.read.parquet(warmPath))
        .limit(10000).write.mode("overwrite").format("noop").save()

    // --- set-up, repeated: the first one is timed from JVM start
    val setupSecs = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (k <- 0 until setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (k == 0) ManagementFactory.getRuntimeMXBean.getStartTime.toDouble else now()
      spark = newSession()
      warmUp(spark)
      setupSecs += (now() - t0) / 1000.0
    }

    val probe = if (trace) Some(new Probe(spark.sparkContext)) else None
    val fns = SparkEntry.queries
    def counters(): Map[String, Any] = if (trace) Probe.counters() else Map.empty
    def annotate(sp: Span, c0: Map[String, Any], built: Option[QueryExecution] = None): Unit =
      if (trace) {
        val c1 = Probe.counters()
        c1.foreach { case (k, v) => sp.attrs(k) = v.asInstanceOf[Long] - c0(k).asInstanceOf[Long] }
        sp.attrs("executions") = probe.get.takeExecutions(built)
      }

    def runQuery(s: SparkSession, pass: Int, parent: Int, name: String): Unit = {
      if (trace) graft.ops.Dedup.lastRounds.clear()
      val c0 = counters()
      val q = open("query", name, pass, parent)
      var built: Option[QueryExecution] = None
      val res = Timeouts.run(s, name, secondsUntil(passesUntil)) {
        val b = open("build", name, pass, q.id)
        val df = try fns(name)(s, tables) finally close(b)
        built = Some(df.queryExecution)
        val e = open("execute", name, pass, q.id)
        try df.write.mode("overwrite").format("noop").save() finally close(e)
      }
      res.left.foreach(msg => failures += Map("pass" -> pass, "op" -> name, "error" -> msg))
      if (trace) {
        q.attrs("cached_bytes") = Probe.cachedBytes(s.sparkContext)
        q.attrs("cc_rounds") = graft.ops.Dedup.lastRounds.values.asScala.map(_.toLong).sum
      }
      val r = open("reset", name, pass, q.id)
      SparkEntry.resetSessionState(s)
      close(r)
      close(q)
      annotate(q, c0, built)
    }

    val etlMetrics = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runEtl(s: SparkSession, pass: Int, parent: Int): Unit = {
      def step(name: String)(body: => Unit): Boolean = {
        val c0 = counters()
        val sp = open("etl", name, pass, parent)
        val res = Timeouts.run(s, name, secondsUntil(passesUntil))(body)
        close(sp)
        annotate(sp, c0)
        res.left.foreach(msg => failures += Map("pass" -> pass, "op" -> name, "error" -> msg))
        res.isRight
      }
      var result: TradePipeline.Result = null
      var counts = Map.empty[String, Any]
      if (step("etl.pipeline") {
            result = TradePipeline.run(s, s"$trades/trades.csv",
              s"$trades/counterparty_fills.csv", s"$trades/symbols_reference.csv")
          }) {
        step("etl.sink.cleaned") {
          counts += "cleaned" -> JsonSink.writeSingleJsonArray(
            result.cleanedTrades.orderBy("trade_id"), etlOut.resolve("cleaned_trades.json").toString)
        }
        step("etl.sink.exceptions") {
          counts += "exceptions" -> JsonSink.writeSingleJsonArray(
            result.exceptions.orderBy("record_id"), etlOut.resolve("exceptions_report.json").toString)
        }
        result.unpersist()
        val m = result.metrics
        counts += "output_bytes" -> Seq("cleaned_trades.json", "exceptions_report.json")
          .map(f => Files.size(etlOut.resolve(f))).sum
        etlMetrics += counts ++ Map("pass" -> pass,
          "processedTrades" -> m.processedTrades, "duplicateTrades" -> m.duplicateTrades,
          "cancelledTrades" -> m.cancelledTrades, "successfulTrades" -> m.successfulTrades,
          "invalidTrades" -> m.invalidTrades, "discrepancyTrades" -> m.discrepancyTrades)
      }
      val c0 = counters()
      val r = open("reset", "etl.reset", pass, parent)
      SparkEntry.resetSessionState(s)
      close(r)
      annotate(r, c0)
    }

    // --- timed passes
    val run = open("run", workload, -1, -1)
    val disk = mutable.ArrayBuffer(diskUsage(work))
    var last = spark
    for (p <- 0 until passes) {
      // with fresh=1 each pass runs in a new session, which misses the
      // per-session table memo: every pass pays the table lifecycle
      // (create → write → DML) again
      val s = if (fresh) spark.newSession() else spark
      if (fresh || p == 0) probe.foreach(_.watch(s))
      last = s
      val ps = open("pass", workload, p, run.id)
      if (workload == "etl_trades") runEtl(s, p, ps.id)
      else queries.foreach(q => runQuery(s, p, ps.id, q))
      close(ps)
      disk += diskUsage(work)
    }
    close(run)

    // --- live heap after a full collection, once every session was reset
    SparkEntry.resetSessionState(last)
    val mem = ManagementFactory.getMemoryMXBean
    val heap = (1 to 3).map { _ => System.gc(); Thread.sleep(50); mem.getHeapMemoryUsage.getUsed }.min

    // --- untimed dump for the output check, in the last pass's session: a
    // table query there reads the tables its timed run just wrote
    val t0Dump = now()
    val dumpDir = opt("dump")
    val dumpFailures = mutable.ArrayBuffer.empty[Map[String, Any]]
    queries.foreach { q =>
      Timeouts.run(last, s"dump.$q", secondsUntil(dumpUntil)) {
        fns(q)(last, tables).coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$q")
      }.left.foreach(msg => dumpFailures += Map("op" -> q, "error" -> msg))
      SparkEntry.resetSessionState(last)
    }
    val t0Fixtures = now()
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    val fixtures = json.readTree(
      if (workload == "etl_trades") "{}" else BenchFormat.fixtureShapes(spark, tables))
    val oracleNames = if (workload == "etl_trades")
      Seq("q_etl_cleaned_trades", "q_etl_exceptions") else queries
    val oracle = oracleNames.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap

    val record = Map(
      "workload" -> workload,
      "queries" -> queries,
      "passes" -> passes,
      "trace" -> trace,
      "setup_s" -> setupSecs,
      "spans" -> spans.map(_.toJson),
      "jobs" -> probe.map(_.jobsJson).getOrElse(Nil),
      "failures" -> failures,
      "dump_failures" -> dumpFailures,
      "etl_metrics" -> etlMetrics,
      "disk" -> disk,
      "retained_heap_bytes" -> heap,
      "oracle_sql" -> oracle,
      "fixtures" -> fixtures,
      "dump_s" -> (t0Fixtures - t0Dump) / 1000.0,
      "fixtures_s" -> (now() - t0Fixtures) / 1000.0,
      "env" -> Map(
        "spark" -> spark.version, "cpus" -> cpus,
        "java" -> System.getProperty("java.version"),
        "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filter(_.startsWith("-X"))))
    Files.writeString(Paths.get(opt("record")), json.writeValueAsString(record))
    spark.stop()
  }

  /** Bytes and files under `root`, the disk a pass leaves behind. */
  def diskUsage(root: Path): Map[String, Any] = {
    var bytes = 0L
    var files = 0L
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
        bytes += Files.size(f)
        files += 1
      } finally walk.close()
    }
    Map("bytes" -> bytes, "files" -> files)
  }
}
