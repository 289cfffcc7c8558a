package perfbench

import graft.functions.{JsonMatch, TopicMatch}
import graft.streaming.Pipeline
import org.apache.spark.sql.DataFrame

/** The per-layer metrics every traced run reports, whatever the workload.
  * An "op" is a replayed micro-batch (deliver) or one HTTP call (query). */
object Layers {
  /** Spark work per op, averaged over the traced ops. */
  final case class PerOp(jobs: Double, tasks: Double, rowsRead: Double, shuffleKb: Double,
                         jobMs: Double)
  def perOp(works: Seq[Tracer.Work]): PerOp = {
    val n = works.size.max(1).toDouble
    PerOp(works.map(_.jobs).sum / n, works.map(_.tasks).sum / n,
      works.map(_.rowsRead).sum / n, works.map(_.shuffleBytes).sum / 1024.0 / n,
      works.map(_.jobMs).sum / n)
  }

  def metrics(op: PerOp, noise: Map[String, Any], accountedFrac: Double,
              untraced: Map[String, (Double, String)],
              traced: Map[String, (Double, String)]): Map[String, (Double, String)] = Map(
    "jobs_per_op" -> (op.jobs, "count"),
    "tasks_per_op" -> (op.tasks, "count"),
    "rows_read_per_op" -> (op.rowsRead, "count"),
    "shuffle_kb_per_op" -> (op.shuffleKb, "KB"),
    "job_ms_per_op" -> (op.jobMs, "ms"),
    "cpu_busy_frac" -> (noise("cpu_busy_frac").asInstanceOf[Double], "ratio"),
    "gc_ms_per_s" -> (noise("gc_ms_per_s").asInstanceOf[Double], "ms/s"),
    "self_accounted_frac" -> (accountedFrac, "ratio"),
    "trace_overhead_p50_ms" -> (traced("p50_ms")._1 - untraced("p50_ms")._1, "ms"),
    "trace_overhead_ops_per_s" -> (traced("ops_per_s")._1 - untraced("ops_per_s")._1, "1/s"))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def parquetFiles(dir: String): Int = {
    val root = new java.io.File(dir)
    if (!root.exists) 0
    else java.nio.file.Files.walk(root.toPath).filter(_.toString.endsWith(".parquet"))
      .count().toInt
  }
}

/** Deliver's layers, measured from outside: the traced run materialises,
  * on regenerated micro-batches of the paced phase's median size, the
  * prefixes validate; validate→fanout; validate→fanout→deliver;
  * validate→fanout→deliver→log. Each layer's self time is the difference
  * between consecutive prefixes. `functions` are timed directly on the
  * workload's (filter, envelope) and (patterns, topic) pairs. */
object Replay {
  final case class Out(perOp: Layers.PerOp, accountedMs: Double, detail: Map[String, Any])

  def run(ctx: Ctx, d: Delivery, m: Deliver.Window): Out = {
    val spark = ctx.spark
    import spark.implicits._
    val size = Stats.median(m.pacedCommits.map(_.rows.toDouble)).toInt.max(1)
    val evs = d.published.filter(_.id.startsWith("p")).toSeq
    val batches = evs.grouped(size).take(4).toSeq
    val destsDs = Delivery.destinationsDs(spark, d.dests).cache()
    destsDs.count()
    val scratch = ctx.dir("replay_log")
    val tracer = new Tracer(spark)
    var bid = 0L
    def raw(b: Seq[Gen.Ev]): DataFrame = b.map(_.json).toDF("value")
    def fanout(b: Seq[Gen.Ev]) = Pipeline.matchFanout(spark, Pipeline.validateAndDefault(raw(b)), destsDs)
    def full(b: Seq[Gen.Ev], req: String): (Tracer.Span, Int) = {
      val f0 = Layers.parquetFiles(scratch)
      val (_, s) = tracer.span("validate>fanout>deliver>log", "streaming", req) {
        Pipeline.logSinkBatch(Delivery.registry.deliverLazy(fanout(b)), scratch, bid)
      }
      bid += 1
      (s, Layers.parquetFiles(scratch) - f0)
    }
    final case class B(events: Int, attempts: Long, v: Double, f: Double, s: Double,
                       l: Double, files: Int, span: Tracer.Span)
    val rows = try batches.zipWithIndex.map { case (b, i) =>
      val req = s"batch-$i"
      val v = tracer.span("validate", "streaming", req)(Layers.noop(Pipeline.validateAndDefault(raw(b))))._2
      val f = tracer.span("validate>fanout", "streaming", req)(Layers.noop(fanout(b)))._2
      val s = tracer.span("validate>fanout>deliver", "streaming", req)(
        Layers.noop(Delivery.registry.deliverLazy(fanout(b))))._2
      val (l, files) = full(b, req)
      B(b.size, Gen.expectedPerDest(b, d.dests).values.sum, v.ms, f.ms, s.ms, l.ms, files, l)
    } finally tracer.close()
    val fixedMs = Stats.median((0 until 3).map(k => full(evs.slice(k, k + 1), s"one-$k")._1.ms))
    val works = rows.map(r => Tracer.work(tracer.jobsOf(r.span)))
    destsDs.unpersist()

    def perEvent(f: B => Double) = Stats.round3(Stats.median(rows.map(f)))
    val validate = perEvent(r => r.v * 1000 / r.events)
    val fan = perEvent(r => (r.f - r.v) * 1000 / r.events)
    val sink = perEvent(r => (r.s - r.f) * 1000 / r.attempts.max(1))
    val logsink = perEvent(r => (r.l - r.s) * 1000 / r.attempts.max(1))
    val accounted = Stats.median(rows.map(_.l))
    val e2eP50 = Stats.median(m.lat)
    val fn = Functions.measure(evs.take(2000), d.dests)
    Out(Layers.perOp(works), accounted, Map(
      "replayed_batches" -> rows.size, "batch_events" -> size,
      "streaming.batch_fixed_ms" -> Stats.round3(fixedMs),
      "streaming.validate_us_per_event" -> validate,
      "streaming.fanout_us_per_event" -> fan,
      "streaming.sink_us_per_attempt" -> sink,
      "streaming.logsink_us_per_attempt" -> logsink,
      "streaming.logsink_files_per_batch" -> Stats.median(rows.map(_.files.toDouble)),
      "spark_per_batch" -> Layers.perOp(works).productElementNames.zip(
        Layers.perOp(works).productIterator).toMap,
      "self_time_accounting" -> Map(
        "summed_layer_self_ms_per_batch" -> Stats.round3(accounted),
        "deliver_e2e_p50_ms" -> Stats.round3(e2eP50),
        "accounted_frac" -> Stats.round3(accounted / e2eP50),
        "unaccounted_ms" -> Stats.round3(e2eP50 - accounted),
        "unaccounted_is" -> "waiting: trigger interval, queueing behind earlier batches, commit, alerts query"),
      "functions" -> fn))
  }
}

/** `functions` timed directly on the workload's own inputs. */
object Functions {
  def envelope(e: Gen.Ev): String = {
    val data = e.json.substring(e.json.indexOf("\"data\":") + 7, e.json.length - 1)
    s"""{"id":"${e.id}","topic":"${e.topic}","time":"${Gen.EventBase}","metadata":{"source":"perfbench"},"data":$data}"""
  }

  def measure(evs: Seq[Gen.Ev], dests: Vector[Gen.Dest]): Map[String, Any] = {
    val byTenant = dests.filterNot(_.disabled).groupBy(_.tenant)
    val topicPairs = evs.flatMap(e => byTenant.getOrElse(e.tenant, Vector.empty).map(d => (d.topics, e.topic)))
    val filterPairs = evs.flatMap(e => byTenant.getOrElse(e.tenant, Vector.empty)
      .filter(d => d.filter.isDefined && d.topicPass(e.topic))
      .map(d => (d.filter.get.json, envelope(e))))
    def loop[A](pairs: Seq[A])(f: A => Boolean): (Double, Double) = {
      var evals = 0L; var hits = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 300000000L && pairs.nonEmpty) {
        pairs.foreach { p => if (f(p)) hits += 1; evals += 1 }
      }
      ((System.nanoTime() - t0).toDouble / evals.max(1), hits.toDouble / evals.max(1))
    }
    val (topicNs, topicPass) = loop(topicPairs) { case (ps, t) => TopicMatch.matches(ps, t) }
    val (jsonNs, jsonPass) = loop(filterPairs) { case (f, env) => JsonMatch.matches(f, env) }
    Map("functions.topicmatch_ns_per_eval" -> Stats.round3(topicNs),
      "functions.jsonmatch_ns_per_eval" -> Stats.round3(jsonNs),
      "functions.filter_pass_frac" -> Stats.round3(jsonPass),
      "topic_pass_frac" -> Stats.round3(topicPass),
      "pairs" -> Map("topic" -> topicPairs.size, "filter" -> filterPairs.size))
  }
}
