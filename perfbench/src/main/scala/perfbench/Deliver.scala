package perfbench

import graft.streaming.{Runner, Sinks}
import graft.streaming.Model.Destination
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The delivery pipeline driven the way a publisher drives it:
  * `Runner.start` fed by a `MemoryStream` standing in for the publish
  * queue, MockSink destinations, alerts query on. */
final class Delivery(val ctx: Ctx, val logPath: String, chk: String, rep: Int) {
  import Delivery._
  private val spark = ctx.spark
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._

  val dests: Vector[Gen.Dest] = Gen.fleet(ctx.seed, ctx.fleet)
  val mem: MemoryStream[String] = MemoryStream[String]
  val running: Runner.Running = Runner.start(spark, mem.toDF(), destinationsDs(spark, dests),
    registry, logPath = logPath, alertSinkName = s"perfbench_alerts_$rep",
    checkpointRoot = chk)
  /** Every event published, for the accounting check. */
  val published: ArrayBuffer[Gen.Ev] = ArrayBuffer.empty

  def publish(evs: Seq[Gen.Ev]): Long = {
    published ++= evs
    mem.addData(evs.map(_.json)).json().toLong
  }

  /** Open-loop publish at `rate` events/s for `seconds`, in `tickMs`
    * ticks. Event i is due at t0 + i/rate; each tick publishes every event
    * due by then. Returns the per-tick schedule for the latency join. */
  def paced(prefix: String, rate: Int, seconds: Double, tickMs: Int): Paced = {
    val n = (rate * seconds).toInt
    val evs = (0 until n).map(i => Gen.event(ctx.seed, prefix, i, ctx.fleet))
    val tickNs = tickMs * 1000000L
    val t0 = System.nanoTime() + tickNs
    val wall0 = System.currentTimeMillis() + tickMs
    val ticks = ArrayBuffer.empty[Tick]
    var next = 0
    var k = 0L
    while (next < n) {
      val due = t0 + k * tickNs
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      val upto = math.min(n, ((due - t0) / 1e9 * rate).toInt + 1)
      if (upto > next) {
        val late = System.nanoTime() - due
        val off = publish(evs.slice(next, upto))
        ticks += Tick(off, next, upto, due, late)
        next = upto
      }
      k += 1
    }
    Paced(rate, t0, wall0, ticks.toSeq)
  }

  /** Commit times of the delivery query's micro-batches: (end offset,
    * commit wall ms, trigger ms, input rows). A batch has committed, with
    * its attempts logged, at trigger start + triggerExecution. */
  def commits(): Seq[Commit] =
    running.delivery.recentProgress.toSeq.filter(_.numInputRows > 0).flatMap { p =>
      val src = p.sources.headOption
      src.flatMap(s => Option(s.endOffset)).map { end =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val trig = p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)
        Commit(end.trim.toLong, start + trig, trig, p.numInputRows)
      }
    }

  /** Per-event latency from due time to commit, in ms. */
  def latencies(p: Paced, cs: Seq[Commit]): Seq[Double] = {
    val sorted = cs.sortBy(_.wallMs)
    p.ticks.flatMap { t =>
      sorted.find(_.endOffset >= t.offset).toSeq.flatMap { c =>
        val commitNs = p.t0 + (c.wallMs - p.wall0) * 1000000L
        (t.from until t.until).map(i => (commitNs - (p.t0 + (i * 1e9 / p.rate).toLong)) / 1e6)
      }
    }
  }

  /** Events published but not committed, sampled at every commit. */
  def backlogMax(p: Paced, cs: Seq[Commit]): Long =
    cs.filter(c => p.ticks.exists(_.offset <= c.endOffset)).map { c =>
      val commitNs = p.t0 + (c.wallMs - p.wall0) * 1000000L
      val pub = p.ticks.filter(t => t.due + t.lateNs <= commitNs).map(_.until).maxOption.getOrElse(0)
      val done = p.ticks.filter(_.offset <= c.endOffset).map(_.until).maxOption.getOrElse(0)
      (pub - done).toLong max 0L
    }.maxOption.getOrElse(0L)

  /** Publish `n` events at once and time the drain to their commit. */
  def burst(prefix: String, n: Int): (Double, Int) = {
    val evs = (0 until n).map(i => Gen.event(ctx.seed, prefix, i, ctx.fleet))
    running.processAllAvailable()
    val before = commits().size
    val wall0 = System.currentTimeMillis()
    val off = publish(evs)
    running.delivery.processAllAvailable()
    val cs = commits()
    val done = cs.filter(_.endOffset >= off).map(_.wallMs).min
    (n / ((done - wall0) / 1000.0), cs.size - before)
  }

  def log(): DataFrame = spark.read.parquet(logPath)

  /** Accounting against the generator's own expectation. */
  def checks(): Seq[(String, Boolean)] = {
    val mine = log().select("attempt_id", "event_id", "destination_id").cache()
    try {
      val got = mine.groupBy("destination_id").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = Gen.expectedPerDest(published, dests)
      val total = mine.count()
      val distinct = mine.select("attempt_id").distinct().count()
      val bursts = Seq("w", "b", "c")
      val burstWant = Gen.expectedPerDest(published.filter(e => bursts.exists(e.id.startsWith)),
        dests).values.sum
      val burstGot = mine.filter(bursts.map(col("event_id").startsWith(_)).reduce(_ || _)).count()
      Seq("attempts_per_destination_exact" -> (got == want),
        "attempt_ids_unique" -> (distinct == total),
        "burst_complete" -> (burstGot == burstWant))
    } finally mine.unpersist()
  }

  def expectedAttempts: Long = Gen.expectedPerDest(published, dests).values.sum

  def stop(): Unit = running.stopAll()
}

object Delivery {
  final case class Tick(offset: Long, from: Int, until: Int, due: Long, lateNs: Long)
  final case class Paced(rate: Int, t0: Long, wall0: Long, ticks: Seq[Tick]) {
    def events: Int = ticks.lastOption.map(_.until).getOrElse(0)
    def lateMs: Seq[Double] = ticks.map(_.lateNs / 1e6)
  }
  final case class Commit(endOffset: Long, wallMs: Long, triggerMs: Long, rows: Long)

  val registry: Sinks.Registry = new Sinks.Registry(Seq(Sinks.MockSink("mock")))

  def destinationsDs(spark: SparkSession, ds: Vector[Gen.Dest]) = {
    import spark.implicits._
    ds.map(d => Destination(d.id, d.tenant, "mock", d.topics, d.filter.map(_.json),
      d.disabled)).toDS()
  }
}

/** `deliver`: fixed-size bursts, then open-loop publishing at a fixed
  * rate. Streaming and functions do the work; the read path is idle. */
object Deliver {
  /** One measured window: fixed-size bursts, each drained before the
    * next, then a paced phase. */
  final case class Window(lat: Seq[Double], burstEps: Seq[Double], burstBatches: Int,
                          paced: Delivery.Paced, commits: Seq[Delivery.Commit],
                          noise: Map[String, Any]) {
    def batchMs: Seq[Double] = pacedCommits.map(_.triggerMs.toDouble)
    def pacedCommits: Seq[Delivery.Commit] = commits.filter(c =>
      c.endOffset >= paced.ticks.head.offset && c.endOffset <= paced.ticks.last.offset)
    def e2e: Map[String, (Double, String)] = Map(
      "p50_ms" -> (Stats.pct(lat, 0.5), "ms"),
      "ops_per_s" -> (Stats.median(burstEps), "1/s"))
  }

  /** The bursts go first: the paced batches' fixed cost, which sets the
    * latency, keeps falling while the JIT warms. */
  def measure(ctx: Ctx, d: Delivery, pacedPrefix: String, burstPrefix: String): Window = {
    val win = new Proc.Window
    val bs = (0 until ctx.w.int("bursts")).map(j => d.burst(s"$burstPrefix$j-", ctx.w.int("burst_events")))
    val p = d.paced(pacedPrefix, ctx.w.int("paced_rate_eps"), ctx.seconds, ctx.w.int("tick_ms"))
    d.running.processAllAvailable()
    val lat = d.latencies(p, d.commits())
    Window(lat, bs.map(_._1), bs.map(_._2).sum, p, d.commits(), win.close())
  }

  def run(ctx: Ctx): Main.Result = {
    val (d, setupS, setupAll) = ctx.repeatedSetup { rep =>
      val root = ctx.dir(s"deliver_$rep")
      new Delivery(ctx, s"$root/log", s"$root/chk", rep)
    }(_.stop())
    try {
      // untimed burst, so code generation and JIT settle before the window
      val warmupS = ctx.timed(d.burst("w", ctx.w.int("warmup_burst_events")))
      val m = measure(ctx, d, "p", "b")
      val traced = if (ctx.trace) Some(traceRun(ctx, d, m)) else None
      val checks = d.checks()
      d.stop()
      val replay = traced.map(_ => Replay.run(ctx, d, m))
      val detail = Map(
        "setup_s_each" -> setupAll.map(Stats.round3),
        "warmup_s" -> Stats.round3(warmupS),
        "deliver_e2e_ms" -> Stats.summary(m.lat),
        "deliver_burst_eps" -> Stats.summary(m.burstEps, Seq(0.5)),
        "burst" -> Map("events" -> ctx.w.int("burst_events"), "bursts" -> m.burstEps.size,
          "micro_batches" -> m.burstBatches),
        "paced" -> Map("rate_eps" -> ctx.w.int("paced_rate_eps"), "events" -> m.paced.events,
          "micro_batches" -> m.batchMs.size),
        "streaming.batch_ms" -> Stats.summary(m.batchMs, Seq(0.5, 0.9)),
        "streaming.rows_per_batch" -> Stats.summary(m.pacedCommits.map(_.rows.toDouble), Seq(0.5)),
        "streaming.backlog_max_events" -> d.backlogMax(m.paced, m.commits),
        "streaming.alerts_batch_ms" -> Stats.summary(d.running.alerts.recentProgress.toSeq
          .filter(_.numInputRows > 0).flatMap(_.durationMs.asScala.get("triggerExecution"))
          .map(_.doubleValue), Seq(0.5)),
        "bench.generator_late_ms" -> Stats.summary(m.paced.lateMs, Seq(0.5, 0.99)),
        "streaming.fanout_ratio" -> Stats.round3(d.expectedAttempts.toDouble / d.published.size),
        "noise" -> m.noise) ++
        traced.map(t => "traced" -> t.detail) ++ replay.map(r => "layers" -> r.detail)
      val layer = (traced, replay) match {
        case (Some(t), Some(r)) => Layers.metrics(r.perOp, m.noise, r.accountedMs / Stats.median(m.lat),
          t.untraced, t.e2e)
        case _ => Map.empty[String, (Double, String)]
      }
      Main.Result(d.published.size, 0, checks, m.e2e + ("setup_s" -> (setupS, "s")), layer, detail)
    } finally d.stop()
  }

  final case class Traced(e2e: Map[String, (Double, String)],
                          untraced: Map[String, (Double, String)], detail: Map[String, Any])

  /** The same window again with the tracing listener on: the traced value
    * minus the untraced window's is the tracing overhead. Jobs per
    * micro-batch come from the listener. */
  def traceRun(ctx: Ctx, d: Delivery, before: Window): Traced = {
    val tracer = new Tracer(ctx.spark)
    val m = try measure(ctx, d, "q", "c") finally tracer.close()
    val untraced = before.e2e
    val jobs = tracer.streamJobs(d.running.delivery.id.toString)
    val batches = (m.pacedCommits.size + m.burstBatches).max(1)
    Traced(m.e2e, untraced, Map(
      "end_to_end" -> m.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "untraced" -> untraced.map { case (k, (v, _)) => k -> Stats.round3(v) },
      "tracing_overhead" -> m.e2e.map { case (k, (v, _)) => k -> Stats.round3(v - untraced(k)._1) },
      "streaming.jobs_per_batch" -> Stats.round3(jobs.size.toDouble / batches),
      "streaming.batch_ms" -> Stats.summary(m.batchMs, Seq(0.5, 0.9))))
  }
}
