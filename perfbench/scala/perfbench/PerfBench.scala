package perfbench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{GraftSession, Tables}
import graft.enrich.Enrich
import graft.sources.http.{HttpFetcher, HttpOptions, SnapshotCache}
import graft.streaming.Streams
import org.apache.spark.PerfBenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

/** The JVM side of one benchmark run: sets the program up, runs one workload as a
  * closed loop for a fixed time, and writes raw per-op records as JSON.
  * `run.py` generates the inputs, serves the payload, checks the answers
  * and turns the records into metrics.
  *
  * The program is driven only through its public entry points
  * (`http-full-cache`, `Enrich.lookupJoin`, `Streams.enrich`,
  * `HttpFetcher`, `SnapshotCache`); Spark's own plan metrics, listener
  * events and streaming progress are read from outside. With `trace=1`
  * spans are recorded around each call into a layer and kept in memory. */
object PerfBench {

  final class Config(m: Map[String, String]) {
    private def s(k: String): String = m.getOrElse(k, sys.error(s"missing argument $k"))
    val workload: String = s("workload")
    val seed: Int = s("seed").toInt
    val seconds: Double = s("seconds").toDouble
    val traced: Boolean = s("trace") == "1"
    val setups: Int = s("setups").toInt
    /** seconds of untimed ops between set-up and the measured window */
    val warmup: Double = s("warmup").toDouble
    val url: String = s("url")
    val shadowUrl: String = s("shadow")
    val control: String = s("control")
    val ttl: String = s("ttl")
    /** the payload's declared schema and its score formula over (id, version) */
    val schema: String = s("schema")
    val scoreCentsSql: String = s("scoreCentsSql")
    val rows: Int = s("rows").toInt
    val out: String = s("out")
    val work: String = s("work")
    def events: String = s("events")
    def batchRows: Int = s("batchRows").toInt
    def publishMs: Long = s("publishMs").toLong
  }

  /** The window runs past `seconds` until it holds this many ops, so the
    * tail percentile (ten ops beyond it) always exists. */
  val MinOps = 11

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs: Long = osBean.getProcessCpuTime
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** One clock for everything: nanoTime since start, and Spark's epoch-ms
    * timestamps mapped onto it. */
  private val t0Nanos = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis()
  def nowS: Double = (System.nanoTime() - t0Nanos) / 1e9
  def epochToS(ms: Long): Double = (ms - t0EpochMs) / 1e3

  /** Used heap after full collections (the broadcast cleaner runs between
    * them). */
  def heapUsedMb(): Double = {
    def used = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    // Spark's cleaner drops unreachable broadcasts only after a collection
    // has found them: collect until two readings agree
    var prev = used
    var cur = prev
    var i = 0
    do { prev = cur; Thread.sleep(100); cur = used; i += 1 } while (i < 4 || (i < 10 && math.abs(cur - prev) > 0.25))
    cur
  }

  private val http = HttpClient.newHttpClient()
  def httpGet(url: String): String =
    http.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()

  // ---------------------------------------------------------------- tracing

  final class Span(val id: Int, var name: String, val op: Int, val parent: Int,
                   val start: Double, var end: Double)

  /** In-memory spans; `op` is the id shared by all spans of one op. */
  final class Tracer(val enabled: Boolean) {
    val spans = ArrayBuffer.empty[Span]
    var op: Int = -1
    private var stack = List.empty[Int]
    def open(name: String): Span = {
      val sp = new Span(spans.size, name, op, stack.headOption.getOrElse(-1), nowS, 0.0)
      spans += sp
      stack = sp.id :: stack
      sp
    }
    def close(sp: Span): Unit = { sp.end = nowS; stack = stack.tail }
    def apply[T](name: String)(body: => T): T =
      if (!enabled) body
      else { val sp = open(name); try body finally close(sp) }
    def add(name: String, op: Int, parent: Int, start: Double, end: Double): Unit =
      spans += new Span(spans.size, name, op, parent, start, end)
  }

  /** Spark-side numbers of one finished query execution. */
  final class PlanRec(val startS: Double, val phases: Map[String, (Double, Double)],
                      val metrics: Map[String, Double])

  final class JobRec(val startS: Double, val broadcast: Boolean, val stages: Seq[Int]) {
    @volatile var endS: Double = Double.NaN
  }

  final class StageAcc { var runMs = 0L; var cpuNs = 0L }

  /** Reads plan phases and plan metrics (QueryExecutionListener) and job
    * and task times (SparkListener); registered only in traced runs. */
  final class SparkSide extends SparkListener with QueryExecutionListener {
    val plans = ArrayBuffer.empty[PlanRec]
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stages = mutable.HashMap.empty[Int, StageAcc]

    private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }

    private def metric(p: SparkPlan, k: String): Double =
      p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)

    def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) =>
        k -> (epochToS(p.startTimeMs), epochToS(p.endTimeMs)) }
      val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      nodes(qe.executedPlan).foreach {
        case b: BroadcastExchangeExec =>
          m("broadcast_collect_ms") += metric(b, "collectTime")
          m("broadcast_build_ms") += metric(b, "buildTime")
          m("broadcast_send_ms") += metric(b, "broadcastTime")
          m("broadcast_bytes") += metric(b, "dataSize")
          m("broadcast_rows") += metric(b, "numOutputRows")
        case s: BatchScanExec if s.scan.getClass.getName.startsWith("graft.sources.http") =>
          m("scan_rows") += metric(s, "numOutputRows")
        case j: BroadcastHashJoinExec =>
          m("rows_out") += metric(j, "numOutputRows")
        case _ =>
      }
      val start = if (phases.isEmpty) nowS else phases.values.map(_._1).min
      synchronized { plans += new PlanRec(start, phases, m.toMap) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // the broadcast side's collect job is the one whose RDDs carry the
      // BroadcastExchange operator scope
      val broadcast = e.stageInfos.exists(_.rddInfos.exists(_.scope.exists(_.name == "BroadcastExchange")))
      synchronized { jobs(e.jobId) = new JobRec(epochToS(e.time), broadcast, e.stageIds) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized { jobs.get(e.jobId).foreach(_.endS = epochToS(e.time)) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val tm = e.taskMetrics
      if (tm != null) synchronized {
        val a = stages.getOrElseUpdate(e.stageId, new StageAcc)
        a.runMs += tm.executorRunTime; a.cpuNs += tm.executorCpuTime
      }
    }
  }

  // -------------------------------------------------------------- the program

  def lookup(spark: SparkSession, c: Config): DataFrame =
    spark.read.format("http-full-cache").schema(c.schema)
      .option("url", c.url).option("cache.refresh-interval", c.ttl).load()

  def httpOptions(c: Config, url: String): HttpOptions =
    HttpOptions.parse(Map("url" -> url, "cache.refresh-interval" -> c.ttl).asJava)

  /** The enrichment query of enrich_warm / enrich_refresh. */
  def enrichQuery(spark: SparkSession, c: Config): DataFrame = {
    val ev = spark.read.schema("event_id BIGINT, user_id BIGINT").parquet(c.events)
    val users = lookup(spark, c)
    Enrich.lookupJoin(ev, users, ev("user_id") === users("id"), "left")
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n"), Tables.dsum(col("score")).as("sum_score"),
        min(col("version")).as("min_version"), max(col("version")).as("max_version"))
  }

  /** Probe of stream_enrich: a seeded hash of `value` over the payload ids. */
  def keyed(df: DataFrame, c: Config): DataFrame =
    df.select(pmod(hash(col("value"), lit(c.seed)), lit(c.rows)).as("key"), col("value"))

  def streamJoin(probe: DataFrame, users: DataFrame): DataFrame =
    Streams.enrich(probe, users, probe("key") === users("id"))
      .select(col("key"), col("id"), col("score"), col("version"))

  /** Per-batch answer: count, matched count, version range, the decimal
    * score sum, and the same sum recomputed from (id, version) with the
    * payload generator's formula. */
  def batchAgg(df: DataFrame, c: Config): DataFrame = {
    val cents = expr(c.scoreCentsSql)
    df.agg(count(lit(1)).as("n"), count(col("id")).as("matched"),
      min(col("version")).as("min_version"), max(col("version")).as("max_version"),
      sum(col("score").cast("decimal(28,2)")).cast("string").as("sum_score"),
      sum((cents / 100).cast("decimal(28,2)")).cast("string").as("sum_expected"))
  }

  /** Read schema the optimizer pushes into the `http-full-cache` scan, so an
    * explicit SnapshotCache.get parses exactly what the query's scan reads. */
  def scanSchema(df: DataFrame): StructType =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan.readSchema()
    }.getOrElse(sys.error("no http-full-cache scan in the plan"))

  def newSession(): SparkSession = {
    val spark = GraftSession.local("4")
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    spark
  }

  // ------------------------------------------------------------------ records

  /** Row values for the record; doubles as their exact decimal expansion. */
  def rowJson(r: Row): Seq[Any] = (0 until r.length).map { i =>
    if (r.isNullAt(i)) null
    else r.get(i) match {
      case d: Double => new java.math.BigDecimal(d)
      case v => v
    }
  }

  def main(args: Array[String]): Unit = {
    val c = new Config(args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    val result = c.workload match {
      case "enrich_warm" | "enrich_refresh" => new QueryBench(c).run()
      case "stream_enrich" => new StreamBench(c).run()
      case w => sys.error(s"unknown workload $w")
    }
    Files.writeString(Paths.get(c.out), Json(result))
    sys.exit(0)
  }

  /** Shared setup, tracing and trace summaries of both workload shapes. */
  abstract class Bench(val c: Config) {
    val tracer = new Tracer(c.traced)
    val side = new SparkSide
    val out = mutable.LinkedHashMap.empty[String, Any]
    val setupS = ArrayBuffer.empty[Double]
    /** answers of the set-ups' cold loads, checked like ops */
    val setupResults = ArrayBuffer.empty[Map[String, Any]]
    val probes = ArrayBuffer.empty[Map[String, Double]]
    /** op id -> [start, end] in seconds on the run's clock */
    val opWindows = mutable.LinkedHashMap.empty[Int, (Double, Double)]
    var spark: SparkSession = _

    def attach(s: SparkSession): Unit = if (c.traced) {
      s.sparkContext.addSparkListener(side)
      s.listenerManager.register(side)
    }

    /** fetch and parse of the current payload version through the
      * fetcher's public calls, on the shadow path (counted apart, outside
      * any op), so fetch and parse are timed separately. */
    def fetchParseProbe(schema: StructType): Unit = if (c.traced) {
      val saved = tracer.op
      tracer.op = -2
      val body = tracer("sources.http.fetch")(HttpFetcher.fetchBody(httpOptions(c, c.shadowUrl)))
      val fetch = tracer.spans.last
      val rows = tracer("sources.http.parse")(HttpFetcher.parseRows(body, httpOptions(c, c.shadowUrl), schema))
      val parse = tracer.spans.last
      tracer.op = saved
      probes += Map("fetch_ms" -> (fetch.end - fetch.start) * 1e3,
        "fetch_bytes" -> body.getBytes(StandardCharsets.UTF_8).length.toDouble,
        "parse_ms" -> (parse.end - parse.start) * 1e3, "parse_rows" -> rows.length.toDouble)
    }

    /** Explicit cache read before the op's query, named by its outcome; a
      * miss is followed by a second read that times the hit path. */
    def tracedGet(opts: HttpOptions, schema: StructType): Unit = if (c.traced) {
      val loads0 = SnapshotCache.loadCount
      val sp = tracer.open("sources.http.cache_get")
      SnapshotCache.get(opts, schema)
      tracer.close(sp)
      val hit = SnapshotCache.loadCount == loads0
      sp.name = if (hit) "sources.http.cache_get_hit" else "sources.http.cache_get_miss"
      if (!hit) tracer("sources.http.cache_get_hit")(SnapshotCache.get(opts, schema))
    }

    /** Spark-side spans and numbers of each op, attributed by time window. */
    def traceSummary(): Unit = if (c.traced) {
      PerfBenchBus.drain(spark.sparkContext)
      val perOp = ArrayBuffer.empty[Map[String, Any]]
      side.synchronized {
        for ((op, (s, e)) <- opWindows) {
          val opSpan = tracer.spans.find(sp => sp.op == op && sp.name == "op")
          val query = tracer.spans.filter(sp => sp.op == op && sp.name == "query")
          val parentOf = (t: Double) =>
            query.find(q => q.start <= t && t <= q.end).orElse(opSpan).map(_.id).getOrElse(-1)
          val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
          for (p <- side.plans if p.startS >= s && p.startS <= e) {
            p.metrics.foreach { case (k, v) => m(k) += v }
            for ((ph, (a, b)) <- p.phases) {
              m(s"${ph}_ms") += (b - a) * 1e3
              tracer.add(s"plans.$ph", op, parentOf(a), a, b)
            }
          }
          for (j <- side.jobs.values if j.startS >= s && j.startS <= e && !j.endS.isNaN) {
            if (j.broadcast) {
              // build and send run on the broadcast thread right after the
              // collect job; their plan metrics give the durations
              val p = parentOf(j.startS)
              val built = j.endS + m("broadcast_build_ms") / 1e3
              tracer.add("plans.broadcast_collect", op, p, j.startS, j.endS)
              tracer.add("plans.broadcast_build", op, p, j.endS, built)
              tracer.add("plans.broadcast_send", op, p, built, built + m("broadcast_send_ms") / 1e3)
            } else {
              tracer.add("enrich.probe", op, parentOf(j.startS), j.startS, j.endS)
              j.stages.flatMap(side.stages.get).foreach { a =>
                m("probe_task_ms") += a.runMs; m("probe_cpu_ms") += a.cpuNs / 1e6
              }
            }
          }
          perOp += Map("op" -> op) ++ m
        }
      }
      out("trace_ops") = perOp.toSeq
      out("spans") = tracer.spans.map(sp =>
        Seq(sp.id, sp.name, sp.op, sp.parent, sp.start, sp.end)).toSeq
      out("probes") = probes.toSeq
    }

    /** Record fields common to both workload shapes, read before the
      * closing heap check (which reloads the snapshot). */
    def finish(): Unit = {
      out("setup_s") = setupS.toSeq
      out("setup_results") = setupResults.toSeq
      out("loads_total") = SnapshotCache.loadCount
      out("endpoint_stats") = httpGet(s"${c.control}/stats")
      traceSummary()
    }

    /** Used heap before and after `load` reloads the snapshot, and the
      * share the snapshot cache alone retains (dropped again at the end).
      * Taken after the measured window, in the same warm session, so no
      * earlier session's remains are freed between the readings; the load
      * runs no Spark job, so no task thread drops an earlier batch's data
      * between them either. */
    def heapCheck(load: => Unit): Unit = {
      // a cancelled job of a stopped stream can still read the cache: wait
      // for it, and repeat the readings if anything but `load` loaded
      val idle = nowS + 30
      while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty && nowS < idle)
        Thread.sleep(20)
      var base, loaded = 0.0
      var tries = 0
      var own = false
      while (!own && tries < 3) {
        SnapshotCache.invalidateAll()
        base = heapUsedMb()
        val loads0 = SnapshotCache.loadCount
        load
        own = SnapshotCache.loadCount == loads0 + 1
        loaded = heapUsedMb()
        tries += 1
      }
      SnapshotCache.invalidateAll()
      out("heap_base_mb") = base
      out("heap_loaded_mb") = loaded
      out("cache_retained_mb") = loaded - heapUsedMb()
    }
  }

  /** enrich_warm and enrich_refresh: one op is one enrichment query. */
  final class QueryBench(c0: Config) extends Bench(c0) {
    val refresh = c.workload == "enrich_refresh"
    val opts = httpOptions(c, c.url)
    var version = 0
    var schema: StructType = _

    def resultOf(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(rowJson)


    def setup(rep: Int, last: Boolean): Unit = {
      val t0 = nowS
      spark = newSession()
      attach(spark)
      schema = scanSchema(enrichQuery(spark, c))
      SnapshotCache.invalidateAll()
      tracer.op = -1 - rep - 10
      tracedGet(opts, schema)
      val res = resultOf(enrichQuery(spark, c))
      setupS += nowS - t0
      setupResults += Map("version" -> version, "result" -> res)
      fetchParseProbe(schema)
      if (!last) spark.stop()
    }

    def run(): Map[String, Any] = {
      for (r <- 0 until c.setups) setup(r, r == c.setups - 1)
      val ttlS = java.time.Duration.parse(c.ttl).toMillis / 1e3
      val ops = ArrayBuffer.empty[Map[String, Any]]
      var lastEnd = nowS
      var n = 0
      val warmStart = nowS
      var windowStart = 0.0
      var timed = false
      var done = false
      while (!done) {
        if (!timed && n >= 1 && nowS - warmStart >= c.warmup) {
          timed = true; windowStart = nowS
        }
        if (refresh) {
          version += 1
          httpGet(s"${c.control}/publish?version=$version")
          // the snapshot must have expired before the next op starts
          val wait = lastEnd + ttlS + 0.02 - nowS
          if (wait > 0) Thread.sleep((wait * 1e3).toLong)
        }
        tracer.op = n
        val cpu0 = cpuNs
        val gc0 = gcMs
        val jit0 = jitMs
        val loads0 = SnapshotCache.loadCount
        val s = nowS
        val opSpan = if (c.traced) tracer.open("op") else null
        tracedGet(opts, schema)
        val res = tracer("query")(resultOf(enrichQuery(spark, c)))
        if (opSpan != null) tracer.close(opSpan)
        val e = nowS
        lastEnd = e
        opWindows(n) = (s, e)
        ops += Map("id" -> n, "timed" -> timed, "start" -> s, "wall_s" -> (e - s),
          "cpu_s" -> (cpuNs - cpu0) / 1e9, "gc_ms" -> (gcMs - gc0), "jit_ms" -> (jitMs - jit0),
          "version" -> version,
          "loads" -> (SnapshotCache.loadCount - loads0), "result" -> res)
        if (refresh && c.traced) fetchParseProbe(schema)
        n += 1
        done = timed && nowS - windowStart >= c.seconds && ops.count(_("timed") == true) >= MinOps
      }
      out("ops") = ops.toSeq
      finish()
      heapCheck(SnapshotCache.get(opts, schema))
      spark.stop()
      out.toMap
    }
  }

  /** stream_enrich: one op is one micro-batch of a stream-static join. */
  final class StreamBench(c0: Config) extends Bench(c0) {
    val opts = httpOptions(c, c.url)
    @volatile var version = 0
    val publishes = ArrayBuffer[(Int, Double)]((0, -1e9))
    val batches = ArrayBuffer.empty[Map[String, Any]]
    @volatile var query: StreamingQuery = _
    var schema: StructType = _
    var lastRep = false
    var loadsSeen = 0L

    def start(rep: Int): StreamingQuery = {
      val probe = keyed(spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", c.batchRows.toLong).option("numPartitions", 4).load(), c)
      streamJoin(probe, lookup(spark, c)).writeStream.trigger(Trigger.ProcessingTime(0))
        .option("checkpointLocation", s"${c.work}/checkpoint-$rep")
        .foreachBatch { (df: DataFrame, id: Long) =>
          val s = nowS
          val loads = SnapshotCache.loadCount - loadsSeen
          loadsSeen += loads
          // batch ids restart with every set-up's stream; only the kept
          // stream's batches are ops
          tracer.op = if (lastRep) id.toInt else -1000 - id.toInt
          val r = tracer("query")(batchAgg(df, c).collect().head)
          // the batch's own execution (scan, broadcast, join) is not
          // reported to execution listeners; read its plan directly
          if (c.traced && query != null) side.record(lastExecution(query))
          val e = nowS
          batches.synchronized {
            batches += Map("batch" -> id, "start" -> s, "end" -> e, "loads" -> loads,
              "result" -> rowJson(r))
          }
          ()
        }.start()
    }

    /** The running micro-batch's IncrementalExecution (StreamExecution
      * internals, hence reflection). */
    def lastExecution(q: StreamingQuery): QueryExecution = {
      val exec = q.getClass.getMethod("streamingQuery").invoke(q)
      exec.getClass.getMethod("lastExecution").invoke(exec).asInstanceOf[QueryExecution]
    }

    def staticJoin(): DataFrame =
      streamJoin(keyed(spark.range(c.batchRows).withColumnRenamed("id", "value"), c), lookup(spark, c))

    def batchCount: Int = batches.synchronized(batches.size)

    def awaitBatches(n: Int): Unit = {
      val deadline = nowS + 120
      while (batchCount < n) {
        if (query.exception.isDefined) throw query.exception.get
        if (nowS > deadline) sys.error(s"stream made $batchCount of $n batches")
        Thread.sleep(5)
      }
    }

    def setup(rep: Int, last: Boolean): Unit = {
      val t0 = nowS
      spark = newSession()
      attach(spark)
      spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
      SnapshotCache.invalidateAll()
      batches.synchronized(batches.clear())
      tracer.op = -1 - rep - 10
      // cold load through a static probe of one batch's size; the stream's
      // static side reads the same columns as this join
      schema = scanSchema(staticJoin())
      tracedGet(opts, schema)
      val cold = batchAgg(staticJoin(), c).collect().head
      setupResults += Map("version" -> version, "result" -> rowJson(cold))
      lastRep = last
      loadsSeen = SnapshotCache.loadCount
      query = start(rep)
      awaitBatches(1)
      setupS += nowS - t0
      fetchParseProbe(schema)
      if (!last) { query.stop(); spark.stop() }
    }

    def run(): Map[String, Any] = {
      for (r <- 0 until c.setups) setup(r, r == c.setups - 1)
      // a publish is never interrupted half-way: every version the
      // endpoint served is in the log the staleness check reads
      @volatile var publishing = true
      val publisher = new Thread(() => {
        while (publishing) {
          try Thread.sleep(c.publishMs) catch { case _: InterruptedException => }
          publishes.synchronized {
            if (publishing) {
              val v = version + 1
              httpGet(s"${c.control}/publish?version=$v")
              version = v
              publishes += ((v, nowS))
            }
          }
        }
      })
      publisher.setDaemon(true)
      publisher.start()
      val warmStart = nowS
      awaitBatches(3)
      while (nowS - warmStart < c.warmup) Thread.sleep(10)
      val w0 = nowS
      val cpu0 = cpuNs
      def inWindow = batches.synchronized(batches.count(_("end").asInstanceOf[Double] > w0))
      while (nowS - w0 < c.seconds || inWindow < MinOps) {
        if (query.exception.isDefined) throw query.exception.get
        Thread.sleep(10)
      }
      val w1 = nowS
      val cpu1 = cpuNs
      publishes.synchronized { publishing = false }
      publisher.interrupt()
      publisher.join()
      query.stop()
      spark.streams.resetTerminated()
      val progress = query.recentProgress.map { p =>
        Map("batch" -> p.batchId, "input_rows" -> p.numInputRows) ++
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      }.toSeq
      val all = batches.synchronized(batches.toSeq)
      // op b spans the cycle between the ends of batch b-1 and batch b
      all.sliding(2).foreach { case Seq(a, b) =>
        opWindows(b("batch").asInstanceOf[Long].toInt) =
          (a("end").asInstanceOf[Double], b("end").asInstanceOf[Double])
      case _ => }
      out("window") = Seq(w0, w1)
      out("window_cpu_s") = (cpu1 - cpu0) / 1e9
      out("batches") = all
      out("progress") = progress
      out("publishes") = publishes.synchronized(publishes.toSeq.map { case (v, t) => Seq[Any](v, t) })
      // drop the stopped stream, so its last batch's broadcast is freed
      // before, not during, the heap check
      query = null
      finish()
      heapCheck(SnapshotCache.get(opts, schema))
      spark.stop()
      out.toMap
    }
  }
}

/** Minimal JSON writer for the run record (maps, sequences, numbers,
  * strings, booleans, null). */
object Json {
  def apply(v: Any): String = { val sb = new StringBuilder; write(sb, v); sb.toString }
  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null => sb ++= "null"
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      m.toSeq.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb += ','
        str(sb, k.toString); sb += ':'; write(sb, x)
      }
      sb += '}'
    case s: Iterable[_] =>
      sb += '['
      s.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; write(sb, x) }
      sb += ']'
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => write(sb, f.toDouble)
    case n: java.math.BigDecimal => sb ++= n.toPlainString
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: java.lang.Number) => sb ++= n.toString
    case b: Boolean => sb ++= b.toString
    case s => str(sb, s.toString)
  }
  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case ch if ch < ' ' => sb ++= f"\\u${ch.toInt}%04x"
      case ch => sb += ch
    }
    sb += '"'
  }
}
