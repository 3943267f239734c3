package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable
import scala.util.Random

import graft.GraftSession
import graft.api.ApiServer

import Main._

/** The serve workload: one long-lived session behind `ApiServer` on an
  * ephemeral port, driven by a closed loop of [[Clients]] threads. Each
  * client sends its next request as soon as its reply arrives; no client
  * waits for another.
  *
  * Requests come off one shared seeded schedule, in blocks of [[MixBlock]]
  * that hold the route [[Mix]] exactly. Paths come from the committed
  * pool, every `serve./api/...` key of the expected digests (each the
  * digest of the in-process `TropologyApi` result for that path), drawn
  * per route without replacement, so a run repeats a path only once it has
  * used the route's whole pool. Set-up serves [[WarmupBlocks]] blocks. The
  * timed phase issues requests until `--seconds` have passed and at least
  * one whole block is issued; a block's time is how long the loop took to
  * complete [[MixBlock]] more replies. A traced run follows the timed
  * phase with a traced one, listeners attached, and then an untraced one
  * again, so the tracing overhead is not confused with the server still
  * warming up.
  */
object Serve {
  val Clients = 4
  val WarmupBlocks = 1
  /** Route shares of the request mix, served exactly in every block. */
  val Mix: Seq[(String, Double)] =
    Seq("node" -> 0.40, "links" -> 0.35, "common" -> 0.20, "network" -> 0.05)
  val MixBlock = 20

  final case class Request(seq: Int, client: Int, route: String, path: String,
      startMs: Double, endMs: Double, ok: Boolean) {
    def ms: Double = endMs - startMs
  }
  final case class Phase(name: String, startMs: Double, blockS: Seq[Double],
      requests: Seq[Request]) {
    def endMs: Double = requests.map(_.endMs).max
    def wallS: Double = (endMs - startMs) / 1e3
    def passS: Double = median(blockS)
    def p50Ms: Double = quantile(requests.map(_.ms), 0.5)
  }

  def routeOf(path: String): String = path.split("/").filter(_.nonEmpty)(1)

  def run(a: Args, jvmStartMs: Double, expected: Map[String, String]): Outcome = {
    val pool = expected.keys.filter(_.startsWith("serve.")).map(_.stripPrefix("serve."))
      .toSeq.sorted.groupBy(routeOf)
    require(Mix.forall { case (r, _) => pool.contains(r) },
      s"expected digests hold no serve paths for some of ${Mix.map(_._1).mkString(", ")}")
    val spark = GraftSession.local(a.cores, "perfbench-serve")
    val server = ApiServer.start(spark, a.data, 0)
    val threads = Executors.newFixedThreadPool(Clients)
    val tracer = new Tracer
    val failures = mutable.ArrayBuffer[String]()
    val phases = mutable.ArrayBuffer[Phase]()
    var decodeUs = Map.empty[String, Double]
    var setupS = 0.0
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      val clients = Seq.fill(Clients)(
        HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build())
      val rng = new Random(a.seed)
      val draws = pool.map { case (r, ps) => r -> Iterator.continually(rng.shuffle(ps)).flatten }
      var issued = 0

      def send(client: HttpClient, c: Int, seq: Int, path: String): Request = {
        val t0 = Tracer.nowMs
        val r = attempt(path)(client.send(HttpRequest.newBuilder(URI.create(url + path)).GET().build(),
          HttpResponse.BodyHandlers.ofString()))
        val t1 = Tracer.nowMs
        val want = expected(s"serve.$path")
        val ok = r.exists(x => x.statusCode() == 200 && Digest.ofString(x.body()) == want)
        if (!ok) failures.synchronized(failures += s"request $seq $path: " +
          r.fold(identity, x => s"status ${x.statusCode()}, body digest ${Digest.ofString(x.body())}, expected $want"))
        Request(seq, c, routeOf(path), path, t0, t1, ok)
      }

      /** Issue requests while `more(issued in this phase, seconds so far)`. */
      def phase(name: String, more: (Int, Double) => Boolean): Phase = {
        val first = issued
        val t0 = Tracer.nowMs
        var block = Seq.empty[String]
        // One schedule for all clients, taken under a lock, so a seed fixes
        // the sequence of paths however the clients interleave.
        def take(): Option[(Int, String)] = draws.synchronized {
          val i = issued - first
          if (!more(i, (Tracer.nowMs - t0) / 1e3)) None
          else {
            if (i % MixBlock == 0)
              block = rng.shuffle(Mix.flatMap { case (r, w) =>
                Seq.fill(math.round(w * MixBlock).toInt)(r) })
            issued += 1
            Some((issued - 1, draws(block(i % MixBlock)).next()))
          }
        }
        val span = tracer.open("phase", s"serve $name", s"serve/$name", 0)
        tracer.current = span
        val futures = clients.zipWithIndex.map { case (client, c) =>
          threads.submit(new Callable[Seq[Request]] {
            def call(): Seq[Request] = Iterator.continually(take()).takeWhile(_.isDefined)
              .map { case Some((seq, path)) => send(client, c, seq, path) }.toList
          })
        }
        val reqs = futures.flatMap(_.get()).sortBy(_.seq)
        tracer.close(span)
        // Blocks of MixBlock replies in the order they completed: the
        // server may leave one client's request waiting for many others, so
        // the schedule's own blocks would time that one straggler.
        val done = t0 +: reqs.map(_.endMs).sorted.grouped(MixBlock)
          .filter(_.size == MixBlock).map(_.last).toSeq
        val blockS = done.sliding(2).collect { case Seq(x, y) => (y - x) / 1e3 }.toSeq
        Phase(name, t0, blockS, reqs)
      }

      phases += phase("warmup", (i, _) => i < WarmupBlocks * MixBlock)
      if (a.trace) {
        val (us, bad) = Layers.timeDecoders(Layers.mediaRows(spark, a.data))
        decodeUs = us
        failures ++= bad
      }
      setupS = (Tracer.nowMs - jvmStartMs) / 1e3
      def timedMore(i: Int, s: Double) = i < MixBlock || s < a.seconds
      phases += phase("timed", timedMore)
      if (a.trace) {
        // Listeners are registered for the traced phase only, so the
        // untraced phases carry none of their cost.
        tracer.attach(spark)
        tracer.begin()
        phases += phase("traced", timedMore)
        tracer.end()
        tracer.detach(spark)
        phases += phase("untraced", timedMore)
      }
    } finally {
      threads.shutdownNow()
      server.stop(0)
      spark.stop()
    }

    val timed = phases.find(_.name == "timed").get
    val traced = phases.find(_.name == "traced")
    val untraced = phases.filter(p => p.name == "timed" || p.name == "untraced")
    val ms = timed.requests.map(_.ms)
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("pass_s", timed.passS, "s"),
      Metric("rps", timed.requests.size / timed.wallS, "1/s"),
      Metric("p50_ms", quantile(ms, 0.5), "ms"),
      Metric("p90_ms", quantile(ms, 0.9), "ms"))

    val perLayer = traced.toSeq.flatMap { t =>
      val all = phases.filter(_.name != "warmup").flatMap(_.requests)
      Layers.metrics(tracer, Layers.Harness(
        ops = t.requests.size, wallS = t.wallS,
        gapS = Tracer.gapMs(tracer.jobIntervals.toSeq, t.startMs, t.endMs) / 1e3,
        cores = a.cores, buildS = 0, actionS = 0, queryS = Map.empty,
        decodeUs = decodeUs,
        routeP50Ms = Layers.Routes.map(rt =>
          rt -> quantile(all.filter(_.route == rt).map(_.ms).toSeq, 0.5)).toMap,
        overheadPassS = t.passS - untraced.map(_.passS).sum / untraced.size,
        overheadP50Ms = t.p50Ms - untraced.map(_.p50Ms).sum / untraced.size))
    }

    Outcome(endToEnd, perLayer, phases.map(_.requests.size).sum, failures.toSeq,
      Map("phases" -> phases.toSeq, "p90_samples" -> ms.size), tracer.spans)
  }
}
