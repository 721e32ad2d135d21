package perfbench

import graft.server.RestServer
import graft.tpch.TpchModel
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.chaining._

/** The served-cube benchmark. One run sets up a workload, measures it for
  * `--seconds`, checks every answer, and prints its metrics as the last line
  * of standard output (one JSON object). See `perfbench/README.md`.
  *
  * {{{
  *   Main --workload mixed_writes|dedup_batch --seed N
  *        --seconds S --trace 0|1 [--work DIR] [--sf 0.01] [--docs N]
  *        [--corrupt 0|1]
  * }}}
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, sf: Double, docs: Long, corrupt: Boolean)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "work", "sf", "docs", "corrupt")
    require(args.length % 2 == 0 && m.keySet.subsetOf(known) && m.contains("workload"),
      s"usage: --workload W --seed N --seconds S --trace 0|1 [${(known -- Seq("workload", "seed", "seconds", "trace")).mkString("|")}]")
    Opts(m("workload"), m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("work", "perfbench/.work"),
      m.getOrElse("sf", "0.01").toDouble, m.getOrElse("docs", "100000").toLong,
      m.getOrElse("corrupt", "0") == "1")
  }

  /** A measured metric: value and unit. */
  final case class M(value: Double, unit: String)

  final case class Outcome(attempted: Long, failed: Long, metrics: Seq[(String, M)],
      notes: Seq[String])

  val Clients = 4
  val WarmupS = 1.5
  val WritePool = 1000

  /** The request mix of the served workload: how often each kind comes up
    * in a client's deck of requests (see [[Stream]]). Cold leaf reads are the
    * bulk, so the median request sits in the middle of one dense mode and
    * not between the cheap cache hits and the heavy reports. The batch route
    * is left out: it sums a cell once per listing, so a batch that repeats an
    * address reads a multiple of its value (see perfbench/README.md). */
  val Mix: Seq[(String, Int)] = Seq(Kind.Base -> 24, Kind.Agg -> 2,
    Kind.View -> 1, Kind.Query -> 1, Kind.Write -> 1)
  val Workloads: Seq[String] = Seq("mixed_writes", "dedup_batch")

  /** Pool sizes per kind. The serial answer pass in set-up reads every
    * aggregated cell, view and query one at a time, which bounds those pools;
    * base cells are answered by one batched read, so the base pool can be
    * large enough that leaf reads rarely repeat. */
  val PoolSizes: Map[String, Int] = Map(
    Kind.Base -> 4000, Kind.Agg -> 8, Kind.View -> 4, Kind.Query -> 3)

  def main(args: Array[String]): Unit = {
    // a failed run exits non-zero without a result line, whatever threads
    // Spark leaves behind
    val out = try run(parse(args)) catch {
      case t: Throwable => t.printStackTrace(); System.exit(1); throw t
    }
    out.notes.foreach(n => println(s"perfbench: $n"))
    out.metrics.foreach { case (k, m) => println(f"perfbench: $k%-32s ${m.value}%.6g ${m.unit}") }
    val ms = out.metrics.map { case (k, m) =>
      s""""$k":{"value":${m.value},"unit":"${m.unit}"}""" }.mkString(",")
    println(s"""{"correct":${out.failed == 0},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":{$ms}}""")
    System.out.flush()
    System.exit(0)
  }

  private def run(o: Opts): Outcome = {
    require(Workloads.contains(o.workload),
      s"unknown workload '${o.workload}' (${Workloads.mkString(", ")})")
    val work = java.nio.file.Paths.get(o.work).toAbsolutePath
    java.nio.file.Files.createDirectories(work)
    val spark = graft.Bench.session()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val out =
      try {
        if (o.workload == "dedup_batch") Dedup.run(spark, o, sessionS)
        else Serving.run(spark, o, sessionS, work)
      } finally spark.stop()
    val bad = out.metrics.filterNot(_._2.value.isFinite)
    require(bad.isEmpty, s"metrics without a finite value: ${bad.map(_._1).mkString(", ")}")
    out
  }

  /** The per-layer metrics of a traced run, with units. Every traced run
    * prints all of them; a layer the workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "setup.session_s" -> "s", "setup.model_build_s" -> "s",
    "setup.fact_materialize_s" -> "s", "setup.server_start_s" -> "s",
    "server.overhead_ms" -> "ms",
    "core.bolt_us" -> "us", "core.get_base_ms" -> "ms", "core.get_agg_ms" -> "ms",
    "core.cache_hit_ratio" -> "ratio",
    "core.cell_requests" -> "count", "core.aggregations_per_op" -> "count",
    "core.rule_evals_per_op" -> "count", "core.set_ms" -> "ms", "core.facts_ms" -> "ms",
    "olap.query_resolve_ms" -> "ms", "olap.query_exec_ms" -> "ms",
    "olap.view_def_parse_ms" -> "ms", "olap.view_refresh_ms" -> "ms",
    "olap.view_render_ms" -> "ms", "olap.view_rule_positions" -> "count",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.plan_ms_per_op" -> "ms",
    "spark.exec_ms_per_op" -> "ms", "spark.scheduler_delay_ms_per_op" -> "ms",
    "spark.executor_cpu_ms_per_op" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.gc_ms" -> "ms", "spark.peak_exec_mem_mb" -> "MB",
    "pipeline.dedup_pairs" -> "count", "pipeline.lsh_hot_buckets" -> "count",
    "pipeline.docs_per_s" -> "docs/s",
    "trace.overhead_pct" -> "%", "trace.unaccounted_pct" -> "%")

  def layerMetrics(values: Map[String, Double]): Seq[(String, M)] = {
    val unknown = values.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"metrics missing from PerLayer: $unknown")
    PerLayer.map { case (k, u) => k -> M(values.getOrElse(k, 0.0), u) }
  }

  /** The `spark.*` metrics of traced spans, per operation: Spark work the
    * listeners attributed to the spans, divided by `ops`. */
  def sparkLayer(spans: Seq[Trace.Span], ops: Int): Map[String, Double] = {
    val costs = spans.flatMap(x => Trace.sparkCost(x.id).map(x -> _))
    def perOp(f: Trace.SparkCost => Double) = costs.map(c => f(c._2)).sum / math.max(1, ops)
    Map(
      "spark.jobs_per_op" -> perOp(_.jobs.toDouble),
      "spark.stages_per_op" -> perOp(_.stages.toDouble),
      "spark.tasks_per_op" -> perOp(_.tasks.toDouble),
      "spark.plan_ms_per_op" -> perOp(_.planMs.toDouble),
      "spark.exec_ms_per_op" -> costs.map { case (x, c) => Trace.jobWallMs(x, c) }.sum / math.max(1, ops),
      "spark.scheduler_delay_ms_per_op" -> perOp(_.schedDelayMs.toDouble),
      "spark.executor_cpu_ms_per_op" -> perOp(_.cpuNs / 1e6),
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> perOp(_.shuffleRead.toDouble),
      "spark.spill_bytes" -> perOp(_.spill.toDouble),
      "spark.gc_ms" -> perOp(_.gcMs.toDouble),
      "spark.peak_exec_mem_mb" -> costs.map(_._2.peakMem).maxOption.getOrElse(0L) / 1048576.0)
  }

  // ---- statistics ---------------------------------------------------------

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1))) }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; val n = s.size; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** Heap in use after a full collection. The pauses let Spark's cleaner
    * drop the broadcasts and shuffles of objects a collection freed. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  /** Progress line on stderr: seconds since the JVM started. */
  def mark(what: String): Unit =
    System.err.println(f"perfbench: t=${(System.currentTimeMillis() - jvmStart) / 1e3}%.2f s $what")

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

/** The three served-cube workloads: the `sales` cube behind a RestServer,
  * driven by closed-loop HTTP clients. */
object Serving {
  import Main._

  private final class Setup(val model: TpchModel, val server: RestServer, val data: TpchData,
      val metrics: Seq[(String, M)])

  private def setup(spark: SparkSession, o: Opts, sessionS: Double, work: java.nio.file.Path): Setup = {
    val dataDir = work.resolve("data")
    org.apache.commons.io.FileUtils.deleteQuietly(dataDir.toFile)
    val tGen = System.nanoTime()
    val data = TpchData.generate(spark, dataDir.toString, o.sf, o.seed)
    println(f"perfbench: generated ${data.baseCells.size} fact addresses in ${(System.nanoTime() - tGen) / 1e9}%.2f s")
    val tBuild = System.nanoTime()
    val model = TpchModel.get(spark, dataDir.toString)
    val buildS = (System.nanoTime() - tBuild) / 1e9
    val t0 = System.nanoTime()
    val server = new RestServer(Seq(model.db)).start()
    val probe = java.net.http.HttpClient.newHttpClient()
    val ok = probe.send(java.net.http.HttpRequest.newBuilder(
      java.net.URI.create(s"http://127.0.0.1:${server.boundPort}/databases")).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode == 200
    require(ok, "server did not accept its first request")
    val serverS = (System.nanoTime() - t0) / 1e9
    new Setup(model, server, data, Seq(
      "setup_s" -> M(sessionS + buildS + serverS, "s"),
      "setup.session_s" -> M(sessionS, "s"),
      "setup.model_build_s" -> M(buildS, "s"),
      "setup.fact_materialize_s" -> M(TpchModel.lastBuildPhases.getOrElse("fact_materialize", 0.0), "s"),
      "setup.server_start_s" -> M(serverS, "s")))
  }

  def run(spark: SparkSession, o: Opts, sessionS: Double, work: java.nio.file.Path): Outcome = {
    val s = setup(spark, o, sessionS, work)
    try measure(spark, o, s, work) finally s.server.stop()
  }

  private def measure(spark: SparkSession, o: Opts, s: Setup, work: java.nio.file.Path): Outcome = {
    val cube = s.model.cube
    val db = s.model.db
    val pools = Pools(s.data, o.seed, PoolSizes, WritePool, Clients)
    val engine = new Engine(db, cube)
    def streams(c: Int) = new Stream(Mix, pools, o.seed, c)
    // write values are a function of (seed, client, n-th write of the client)
    def writeValue(c: Int, n: Int): Double = ((o.seed * 7L + c * 100003L + n * 131L) % 99991L + 1).toDouble

    // ---- answer gate: the serial in-process answer of every pooled request.
    // Aggregated cells go through Cube.get with the result cache on, so the
    // hot aggregates start cached, as on a server that has been up a while.
    val tGate = System.nanoTime()
    val gateNotes = mutable.ArrayBuffer[String]()
    // base cells are answered by one batched read of the whole pool
    lazy val baseAnswers = engine.baseValues(pools.base)
    val expected: Map[String, IndexedSeq[String]] = Mix.map(_._1).filter(_ != Kind.Write).map { k =>
      val tk = System.nanoTime()
      k -> (0 until pools.size(k)).map(i => k match {
        case Kind.Base => baseAnswers(i)
        case Kind.Agg => engine.cell(pools.agg(i), agg = true)
        case Kind.View => engine.view(pools.viewJson(i))
        case Kind.Query => engine.query(pools.query(i))
      }).tap(_ => gateNotes += f"gate $k: ${pools.size(k)} items in ${(System.nanoTime() - tk) / 1e9}%.2f s")
    }.toMap
    val gateS = (System.nanoTime() - tGate) / 1e9
    // memory the served cube holds once set up, before traffic: measured
    // here because Spark keeps a history of every job it ran, so heap at
    // the end of a run would grow with the number of requests served
    val heapMb = heapAfterGcMb()
    mark("gate done")
    // the gate's own liveness check: a corrupted expected answer must fail
    val exp = if (!o.corrupt) expected
      else expected.map { case (k, v) => k -> v.updated(0, "corrupted expected answer") }

    def check(kind: String, item: Int, got: String): Either[String, Unit] =
      if (got == exp(kind)(item)) Right(())
      else {
        // show both answers from just before their first difference
        val want = exp(kind)(item)
        val diff = got.zip(want).indexWhere { case (a, b) => a != b }
        val at = math.max(0, (if (diff < 0) math.min(got.length, want.length) else diff) - 20)
        Left(s"$kind #$item: from char $at got ${got.slice(at, at + 100)} expected ${want.slice(at, at + 100)}")
      }

    // ---- HTTP phase --------------------------------------------------------
    val http = new Http(s.server.boundPort, pools)
    val acked = Array.fill(Clients)(mutable.Map[Int, Double]())
    // the clients stay referenced until the phase ends, so their selector
    // threads are still there when the phase subtracts their CPU time
    val clients = mutable.ArrayBuffer[java.net.http.HttpClient]()
    def counters = Array(cube.counterCellRequests, cube.counterCacheHits,
      cube.counterAggregations, cube.counterRuleRequests)
    val c0 = counters
    val httpRes = Loop.run(Clients, WarmupS, o.seconds, streams, c => {
      val hc = http.newClient(); clients.synchronized(clients += hc)
      var writes = 0
      req => {
        val v = if (req.kind == Kind.Write) { writes += 1; writeValue(c, writes) } else 0.0
        val (status, body) = http.send(hc, http.request(req, c, v))
        if (status != 200) Left(s"${req.kind} #${req.item}: HTTP $status ${body.take(200)}")
        else {
          val got = Canon.response(req.kind, body)
          if (req.kind == Kind.Write) {
            if (got == Canon.value(Some(v))) { acked(c)(req.item) = v; Right(()) }
            else Left(s"write #${req.item}: echoed $got for $v")
          } else check(req.kind, req.item, got)
        }
      }
    }, () => Loop.httpClientThreadsCpuNs())
    val c1 = counters
    mark("http phase done")
    val counterDelta = c1.zip(c0).map { case (a, b) => a - b }

    // every written cell must read back its last acknowledged value, and the
    // cells never written must still be empty
    val written = (0 until Clients).flatMap(c => acked(c).toSeq.map { case (i, v) =>
      (pools.writeSlices(c)(i), v) })
    val readbackFailures = written.flatMap { case (addr, v) =>
      val got = Canon.value(cube.get(addr))
      if (got == Canon.value(Some(v))) None else Some(s"readback ${addr.mkString(",")}: $got != $v")
    }
    val writtenSet = written.map(_._1).toSet
    val neverWritten = engine.baseValues(pools.writeAddresses.filterNot(writtenSet).toIndexedSeq)
      .count(_ != "null")
    val readbackFailed = readbackFailures.size + neverWritten
    mark("readback done")

    val samples = httpRes.samples
    val lat = samples.map(_.ms)
    val n = samples.size
    val notes = mutable.ArrayBuffer[String]()
    notes ++= gateNotes
    notes ++= s.metrics.tail.map { case (k, m) => f"$k ${m.value}%.3f ${m.unit}" }
    notes += f"workload ${o.workload} seed ${o.seed} clients $Clients closed loop, " +
      f"window ${httpRes.windowS}%.2f s, $n requests, gate ${gateS}%.1f s"
    notes += f"latency_p90_ms ${pct(lat, 90)}%.3f ms over $n samples, ${n - math.ceil(0.9 * n).toInt} beyond it"
    Seq("cell", Kind.View, Kind.Query, Kind.Write).foreach { r =>
      val xs = samples.filter(x => Kind.route(x.kind) == r).map(_.ms)
      if (xs.nonEmpty) notes += f"${r}_p50_ms ${median(xs)}%.3f ms over ${xs.size} requests " +
        s"(p10/25/75/90 ${Seq(10, 25, 75, 90).map(p => f"${pct(xs, p)}%.0f").mkString("/")})"
    }
    val failed = httpRes.failed + readbackFailed
    val attempted = httpRes.checked + pools.writeAddresses.size
    notes += f"error_ratio ${failed.toDouble / attempted}%.6f ($failed of $attempted)"
    (httpRes.failures ++ readbackFailures.take(5)).foreach(f => notes += s"FAILED $f")
    if (neverWritten > 0) notes += s"FAILED readback: $neverWritten never-written cells hold values"

    val e2e = Seq(
      s.metrics.head,
      "throughput_ops_s" -> M(httpRes.throughput, "1/s"),
      "latency_p50_ms" -> M(median(lat), "ms"),
      "cpu_ms_per_op" -> M(httpRes.cpuMs / httpRes.windowS / httpRes.throughput, "ms"),
      "retained_heap_mb" -> M(heapMb, "MB"))
    if (!o.trace) return Outcome(attempted, failed, e2e, notes.toSeq)

    // ---- traced run: replay the same streams in-process ----------------------
    def replay(traced: Boolean): PhaseResult = {
      if (traced) Trace.start(spark)
      try Loop.run(Clients, WarmupS, o.seconds / 2, streams, c => {
        var writes = 0
        req => Trace.op(req.kind) {
          req.kind match {
            case Kind.Base => check(req.kind, req.item, engine.cell(pools.base(req.item), agg = false))
            case Kind.Agg => check(req.kind, req.item, engine.cell(pools.agg(req.item), agg = true))
            case Kind.View => check(req.kind, req.item, engine.view(pools.viewJson(req.item)))
            case Kind.Query => check(req.kind, req.item, engine.query(pools.query(req.item)))
            case Kind.Write =>
              writes += 1
              val v = writeValue(c, writes)
              engine.write(pools.writeSlices(c)(req.item), v)
              Right(())
          }
        }
      })
      finally if (traced) Trace.stop(spark)
    }
    val plain = replay(traced = false)
    val traced = replay(traced = true)
    val spans = Trace.recorded
    val tracedOps = spans.filter(_.name == "op")
    val inWindow = tracedOps.filter(_.startNs >= traced.samples.map(_.startNs).minOption.getOrElse(Long.MaxValue))
    val windowOps = inWindow.map(_.id).toSet
    val layerSpans = spans.filter(x => x.name != "op" && windowOps.contains(x.op))
    val byName = layerSpans.groupBy(_.name)
    def med(name: String, scale: Double = 1.0, kinds: Set[String] = Set.empty): Double =
      median(byName.getOrElse(name, Nil).filter(x => kinds.isEmpty || kinds(x.kind)).map(_.ms * scale))
    val viewSplit = byName.getOrElse("olap.view_toJson", Nil).map { x =>
      val refresh = Trace.sparkCost(x.id).fold(0.0)(c => c.planMs + Trace.jobWallMs(x, c))
      (refresh, math.max(0.0, x.ms - refresh))
    }

    // server overhead: HTTP p50 minus in-process p50 per kind, weighted by HTTP count
    val overhead = {
      val ks = samples.groupBy(_.kind)
      val tot = ks.map { case (k, xs) =>
        xs.size * (median(xs.map(_.ms)) - median(plain.samples.filter(_.kind == k).map(_.ms)))
      }.sum
      tot / math.max(1, n)
    }
    // tracing overhead: traced vs untraced in-process replays of one stream;
    // coverage: per kind, the layer spans must account for the traced
    // operations' in-process latency within 10%
    val traceOverheadPct = 100 * (median(traced.samples.map(_.ms)) / median(plain.samples.map(_.ms)) - 1)
    val opMs = inWindow.map(x => x.id -> x).toMap
    val unaccounted = layerSpans.filter(x => windowOps(x.parent)).groupBy(x => opMs(x.op).kind)
      .map { case (k, xs) =>
        val ops = xs.map(_.op).distinct.map(opMs)
        k -> 100 * (1 - xs.map(_.ms).sum / ops.map(_.ms).sum)
      }
    unaccounted.toSeq.sortBy(_._1).foreach { case (k, u) =>
      notes += f"trace coverage $k: layer spans ${100 - u}%.1f%% of traced in-process latency" +
        (if (u > 10) " (outside 10%)" else "")
    }
    val factsMs = median((0 until 20).map { _ =>
      val t0 = System.nanoTime(); cube.facts; (System.nanoTime() - t0) / 1e6 })
    val tracePath = work.resolve(s"trace-${o.workload}-${o.seed}.jsonl")
    Trace.write(tracePath)
    notes += s"trace: ${spans.size} spans in $tracePath"
    // the count covers every traced view, warm-up included
    val viewOps = tracedOps.count(_.kind == Kind.View)
    val cellOps = samples.count(x => Kind.route(x.kind) == "cell")

    val layers = s.metrics.tail.map { case (k, m) => k -> m.value }.toMap ++ Map(
      "server.overhead_ms" -> overhead,
      "core.bolt_us" -> med("core.bolt", 1000, Set(Kind.Base, Kind.Agg, Kind.Write)),
      "core.get_base_ms" -> med("core.get_base"),
      "core.get_agg_ms" -> med("core.get_agg"),
      "core.cache_hit_ratio" -> (if (counterDelta(0) == 0) 0.0
        else counterDelta(1).toDouble / counterDelta(0)),
      "core.cell_requests" -> counterDelta(0).toDouble,
      "core.aggregations_per_op" -> counterDelta(2).toDouble / math.max(1, cellOps),
      "core.rule_evals_per_op" -> counterDelta(3).toDouble / math.max(1, cellOps),
      "core.set_ms" -> med("core.set"),
      "core.facts_ms" -> factsMs,
      "olap.query_resolve_ms" -> med("olap.query_resolve"),
      "olap.query_exec_ms" -> med("olap.query_exec"),
      "olap.view_def_parse_ms" -> med("olap.view_def_parse"),
      "olap.view_refresh_ms" -> median(viewSplit.map(_._1)),
      "olap.view_render_ms" -> median(viewSplit.map(_._2)),
      "olap.view_rule_positions" -> Trace.counted("olap.view_rule_positions").toDouble /
        math.max(1, viewOps),
      "trace.overhead_pct" -> traceOverheadPct,
      "trace.unaccounted_pct" -> unaccounted.values.maxOption.getOrElse(0.0)) ++
      sparkLayer(layerSpans, inWindow.size)
    Outcome(attempted + plain.checked + traced.checked, failed + plain.failed + traced.failed,
      layerMetrics(layers), notes.toSeq ++ (plain.failures ++ traced.failures).map(f => s"FAILED (replay) $f"))
  }
}

/** The batch workload: MinHash-LSH near-duplicate pairs over a seeded corpus
  * of 8-word documents with 1% planted exact duplicates. */
object Dedup {
  import Main._
  import org.apache.spark.sql.functions.{col, concat, concat_ws, lit, pmod, when, xxhash64}

  def corpus(spark: SparkSession, docs: Long, seed: Long) = {
    // every doc whose id ends in 99 repeats the text of id-1
    val base = when(pmod(col("id"), lit(100)) === 99, col("id") - 1).otherwise(col("id"))
    spark.range(0, docs, 1, math.max(4, spark.sparkContext.defaultParallelism))
      .select(col("id").as("doc"),
        concat_ws(" ", (0 until 8).map(j =>
          concat(lit("w"), pmod(xxhash64(base, lit(j), lit(seed)), lit(50000)))): _*).as("text"))
  }

  def run(spark: SparkSession, o: Opts, sessionS: Double): Outcome = {
    require(o.docs % 100 == 0, "--docs must be a multiple of 100")
    val expected = o.docs / 100
    val docs = corpus(spark, o.docs, o.seed)
    def job(): Long = {
      val pairs = graft.pipeline.TextDedup.minhashLshPairs(docs, "doc", "text",
        k = 32, bands = 4, threshold = 0.9)
      try pairs.count() finally pairs.unpersist(blocking = true)
    }
    var attempted = 0L; var failed = 0L
    val notes = mutable.ArrayBuffer[String]()
    def checked(n: Long): Unit = {
      attempted += 1
      val want = if (o.corrupt) expected + 1 else expected
      if (n != want) { failed += 1; notes += s"FAILED dedup: $n pairs, expected $want" }
    }
    // timed loop: warm-up jobs, then jobs until the window is used up
    def loop(seconds: Double): (Seq[Double], Double, Long) = {
      (1 to 2).foreach(_ => checked(job()))
      val tEnd = System.nanoTime() + (seconds * 1e9).toLong
      val cpu0 = processCpuNs()
      val times = mutable.ArrayBuffer[Double]()
      var lastN = 0L
      while (times.isEmpty || System.nanoTime() < tEnd) {
        val t0 = System.nanoTime()
        lastN = Trace.op("dedup")(Trace.span("pipeline.minhashLshPairs")(job()))
        times += (System.nanoTime() - t0) / 1e6
        checked(lastN)
      }
      (times.toSeq, (processCpuNs() - cpu0) / 1e6, lastN)
    }
    val (times, cpuMs, _) = loop(o.seconds)
    val heapMb = heapAfterGcMb()
    val wallS = times.sum / 1e3
    notes += f"workload dedup_batch seed ${o.seed} docs ${o.docs}: ${times.size} timed jobs, " +
      f"${times.map(x => f"$x%.0f").mkString(" ")} ms"
    notes += f"dedup_docs_per_s ${o.docs * times.size / wallS}%.1f docs/s"
    notes += f"error_ratio ${failed.toDouble / attempted}%.6f ($failed of $attempted)"
    val e2e = Seq(
      "setup_s" -> M(sessionS, "s"),
      "throughput_ops_s" -> M(times.size / wallS, "1/s"),
      "latency_p50_ms" -> M(median(times), "ms"),
      "cpu_ms_per_op" -> M(cpuMs / times.size, "ms"),
      "retained_heap_mb" -> M(heapMb, "MB"))
    if (!o.trace) return Outcome(attempted, failed, e2e, notes.toSeq)

    Trace.start(spark)
    val (ttimes, _, pairs) = try loop(o.seconds / 2) finally Trace.stop(spark)
    val spans = Trace.recorded.filter(_.name == "pipeline.minhashLshPairs")
    val layers = sparkLayer(spans, spans.size) ++ Map(
      "setup.session_s" -> sessionS,
      "pipeline.dedup_pairs" -> pairs.toDouble,
      "pipeline.lsh_hot_buckets" ->
        graft.pipeline.TextDedup.lastLshSkew.map(_.hotBuckets).getOrElse(0L).toDouble,
      "pipeline.docs_per_s" -> o.docs * ttimes.size / (ttimes.sum / 1e3),
      "trace.overhead_pct" -> 100 * (median(ttimes) / median(times) - 1),
      "trace.unaccounted_pct" -> 100 * (1 - spans.map(_.ms).sum / ttimes.sum))
    Outcome(attempted, failed, layerMetrics(layers), notes.toSeq)
  }
}
