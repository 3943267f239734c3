package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Observation, SparkSession}

import graft.{GraftSession, SparkEntry}

import Main._

/** The batch workload. A pass runs [[Main.Batch]], in a seeded order, in
  * a fresh SparkSession, and
  * materializes each result through the `noop` sink; the output digest
  * rides on that action and is checked after the pass. Warm-up passes
  * count toward set-up; then passes run until the next one would end
  * past `--seconds`.
  */
object BatchRun {
  val WarmupPasses = 2
  val MinTimedPasses = 3

  final case class QueryRun(id: String, buildS: Double, actionS: Double, digest: String) {
    def s: Double = buildS + actionS
  }
  final case class PassRun(n: Int, traced: Boolean, wallS: Double,
      startMs: Double, endMs: Double, queries: Seq[QueryRun])

  def run(a: Args, jvmStartMs: Double, expected: Map[String, String]): Outcome = {
    val rng = new Random(a.seed)
    val tracer = new Tracer
    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0
    var decodeUs = Map.empty[String, Double]

    def check(n: Int, q: QueryRun): Unit =
      if (!expected.get(q.id).contains(q.digest))
        failures += s"pass $n ${q.id}: digest ${q.digest}, expected ${expected.getOrElse(q.id, "none")}"

    def pass(n: Int, traced: Boolean, inSession: SparkSession => Unit = _ => ()): PassRun = {
      val spark = GraftSession.local(a.cores, s"perfbench-${a.workload}")
      try {
        if (traced) { tracer.attach(spark); tracer.begin() }
        val root = tracer.open("pass", s"${a.workload} pass $n", s"${a.workload}/$n", 0)
        val observed = rng.shuffle(Batch).flatMap { id =>
          attempted += 1
          val group = s"${a.workload}/$n/$id"
          val q = tracer.open("query", id, group, root.id)
          val result = attempt(s"pass $n $id") {
            val b = tracer.open("build", id, s"$group/build", q.id)
            spark.sparkContext.setJobGroup(b.group, b.group)
            val t0 = System.nanoTime()
            val df = SparkEntry.queries(id)(spark, a.data)
            val buildS = secondsSince(t0)
            tracer.close(b)
            val act = tracer.open("action", id, s"$group/action", q.id)
            spark.sparkContext.setJobGroup(act.group, act.group)
            val obs = Observation(id)
            val observed = Digest.observe(df, obs)
            val t1 = System.nanoTime()
            observed.write.format("noop").mode("overwrite").save()
            val actionS = secondsSince(t1)
            tracer.close(act)
            (id, buildS, actionS, obs)
          }
          tracer.close(q)
          spark.sparkContext.clearJobGroup()
          result.left.foreach(failures += _)
          result.toOption
        }
        val done = tracer.close(root)
        if (traced) tracer.end()
        // Outside the timed region: read and check the digests.
        val runs = observed.map { case (id, b, act, obs) =>
          val q = QueryRun(id, b, act, Digest.get(obs).toString)
          check(n, q)
          q
        }
        inSession(spark)
        PassRun(n, traced, runs.map(_.s).sum, done.startMs, done.endMs, runs)
      } finally spark.stop()
    }

    val warm = (1 to WarmupPasses).map { n =>
      pass(n, traced = false,
        inSession = s => if (a.trace && n == WarmupPasses) {
          val (us, bad) = Layers.timeDecoders(Layers.mediaRows(s, a.data))
          decodeUs = us
          failures ++= bad
        })
    }
    val setupS = (Tracer.nowMs - jvmStartMs) / 1e3

    val timedStart = System.nanoTime()
    val timed = mutable.ArrayBuffer[PassRun]()
    val minPasses = if (a.trace) 2 * MinTimedPasses else MinTimedPasses
    def nextFits: Boolean = {
      val recent = (warm.last +: timed.toSeq).takeRight(3).map(_.wallS)
      secondsSince(timedStart) + median(recent) <= a.seconds
    }
    while (timed.size < minPasses || nextFits) {
      val n = WarmupPasses + timed.size + 1
      timed += pass(n, traced = a.trace && timed.size % 2 == 1)
    }

    val plain = timed.filterNot(_.traced).toSeq
    val traced = timed.filter(_.traced).toSeq
    def opMs(ps: Seq[PassRun]) = ps.flatMap(_.queries.map(_.s * 1e3))
    val windowS = plain.map(_.wallS).sum
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("pass_s", median(plain.map(_.wallS)), "s"),
      Metric("rps", plain.map(_.queries.size).sum / windowS, "1/s"),
      Metric("p50_ms", quantile(opMs(plain), 0.5), "ms"),
      Metric("p90_ms", quantile(opMs(plain), 0.9), "ms"))

    val perLayer = if (!a.trace) Nil else Layers.metrics(tracer, Layers.Harness(
      ops = traced.size,
      wallS = traced.map(p => (p.endMs - p.startMs) / 1e3).sum,
      gapS = traced.map(p => Tracer.gapMs(tracer.jobIntervals.toSeq, p.startMs, p.endMs)).sum / 1e3,
      cores = a.cores,
      buildS = traced.flatMap(_.queries.map(_.buildS)).sum,
      actionS = traced.flatMap(_.queries.map(_.actionS)).sum,
      queryS = Batch.map(id => id -> median(traced.flatMap(_.queries.filter(_.id == id).map(_.s)))).toMap,
      decodeUs = decodeUs, routeP50Ms = Map.empty,
      overheadPassS = median(traced.map(_.wallS)) - median(plain.map(_.wallS)),
      overheadP50Ms = quantile(opMs(traced), 0.5) - quantile(opMs(plain), 0.5)))

    Outcome(endToEnd, perLayer, attempted, failures.toSeq,
      Map("warmup_passes" -> warm, "timed_passes" -> timed.toSeq,
        "p90_samples" -> opMs(plain).size, "queries" -> Batch),
      tracer.spans)
  }
}
