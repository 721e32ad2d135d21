package perfbench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

/** One completed request of a measured window. */
final case class Sample(client: Int, kind: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Outcome of one closed-loop phase. `checked`/`failed` count every request
  * answered, warm-up included; `samples` holds only those started inside
  * the measured window. `cpuMs` is this process's CPU time over the window
  * minus what the client threads themselves used.
  */
final case class PhaseResult(samples: Seq[Sample], windowS: Double, checked: Long,
    failed: Long, cpuMs: Double, failures: Seq[String]) {
  /** Completed requests per second. A closed-loop client with no think time
    * completes one request per latency, so its rate is its request count over
    * the sum of its latencies; the loop's rate is the sum over clients. This
    * counts no partial request at either edge of the window. */
  def throughput: Double = samples.groupBy(_.client).values.map(xs => xs.size / (xs.map(_.ms).sum / 1e3)).sum
}

/** A closed loop: each client sends its next request only after the
  * previous reply. Every answer is checked against its expected answer.
  */
object Loop {
  private val threads = ManagementFactory.getThreadMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** `client(c)` returns the per-client executor: it runs one request and
    * says whether the answer was right (or why not). */
  def run(clients: Int, warmupS: Double, seconds: Double, streams: Int => Stream,
      client: Int => Req => Either[String, Unit],
      extraCpuNs: () => Long = () => 0L): PhaseResult = {
    val t0 = System.nanoTime()
    val windowStart = t0 + (warmupS * 1e9).toLong
    val windowEnd = windowStart + (seconds * 1e9).toLong
    val out = Array.fill(clients)(scala.collection.mutable.ArrayBuffer[Sample]())
    val checked = new java.util.concurrent.atomic.AtomicLong
    val failed = new java.util.concurrent.atomic.AtomicLong
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val clientCpu = new java.util.concurrent.atomic.AtomicLong
    val ts = (0 until clients).map { c =>
      new Thread(() => {
        val stream = streams(c)
        val exec = client(c)
        var cpuAtWindow = -1L
        var go = true
        while (go) {
          val now = System.nanoTime()
          if (cpuAtWindow < 0 && now >= windowStart) cpuAtWindow = threads.getCurrentThreadCpuTime
          if (now >= windowEnd) go = false
          else {
            val req = stream.next()
            val s = System.nanoTime()
            val r = try exec(req) catch { case t: Throwable => Left(s"${req.kind} ${req.item}: $t") }
            val e = System.nanoTime()
            checked.incrementAndGet()
            r.left.foreach { why => failed.incrementAndGet(); if (failures.size < 20) failures.add(why) }
            if (s >= windowStart) out(c) += Sample(c, req.kind, s, e)
          }
        }
        if (cpuAtWindow >= 0) clientCpu.addAndGet(threads.getCurrentThreadCpuTime - cpuAtWindow)
      }, s"perfbench-client-$c")
    }
    ts.foreach(_.start())
    val sleep = (windowStart - System.nanoTime()) / 1000000L
    if (sleep > 0) Thread.sleep(sleep)
    val cpu0 = os.getProcessCpuTime
    val extra0 = extraCpuNs()
    ts.foreach(_.join())
    val cpu1 = os.getProcessCpuTime
    val extra1 = extraCpuNs()
    val samples = out.toSeq.flatten
    val lastEnd = (samples.map(_.endNs) :+ windowEnd).max
    PhaseResult(samples, (lastEnd - windowStart) / 1e9, checked.get, failed.get,
      (cpu1 - cpu0 - clientCpu.get - (extra1 - extra0)) / 1e6,
      scala.jdk.CollectionConverters.IterableHasAsScala(failures).asScala.toSeq)
  }

  /** CPU time of the JDK HTTP client's own threads (its selector threads). */
  def httpClientThreadsCpuNs(): Long =
    Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(_.getName.startsWith("HttpClient"))
      .map(t => math.max(0L, threads.getThreadCpuTime(t.getId))).sum
}

/** HTTP requests for each kind, against a [[graft.server.RestServer]]. */
final class Http(port: Int, pools: Pools) {
  private val base = s"http://127.0.0.1:$port"
  private def enc(s: String) = java.net.URLEncoder.encode(s, UTF_8)
  private def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def jaddr(a: Seq[String]) = a.map(jstr).mkString("[", ",", "]")

  def newClient(): HttpClient = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  def request(req: Req, client: Int, writeValue: Double): HttpRequest = {
    val b = HttpRequest.newBuilder()
    req.kind match {
      case Kind.Base | Kind.Agg =>
        val a = if (req.kind == Kind.Base) pools.base(req.item) else pools.agg(req.item)
        b.uri(URI.create(s"$base/cells/tpch/sales?address=${enc(a.mkString(","))}")).GET()
      case Kind.View =>
        b.uri(URI.create(s"$base/views/tpch/sales"))
          .POST(HttpRequest.BodyPublishers.ofString(pools.viewJson(req.item)))
      case Kind.Query =>
        b.uri(URI.create(s"$base/query/tpch"))
          .POST(HttpRequest.BodyPublishers.ofString(pools.query(req.item)))
      case Kind.Write =>
        b.uri(URI.create(s"$base/cells/tpch/sales"))
          .PUT(HttpRequest.BodyPublishers.ofString(
            s"""{"address":${jaddr(pools.writeSlices(client)(req.item))},"value":$writeValue}"""))
    }
    b.build()
  }

  def send(http: HttpClient, r: HttpRequest): (Int, String) = {
    val resp = http.send(r, HttpResponse.BodyHandlers.ofString(UTF_8))
    (resp.statusCode, resp.body)
  }
}
