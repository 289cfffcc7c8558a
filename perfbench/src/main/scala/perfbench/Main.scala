package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --config <workloads.json> --work <scratch dir>`.
  *
  * Prints detail lines (`{"detail": …}`: every metric by name with its unit
  * and sample counts, environment, noise, check results), then ONE result
  * line: `{"correct", "attempted", "failed", "metrics"}`. The metrics are
  * the end-to-end set with `--trace 0` and the per-layer set with
  * `--trace 1`. Exits non-zero when any correctness check fails. */
object Main {

  /** What a workload run returns. `e2e` and `layer` carry (value, unit). */
  final case class Result(attempted: Long, failed: Long, checks: Seq[(String, Boolean)],
                          e2e: Map[String, (Double, String)],
                          layer: Map[String, (Double, String)],
                          detail: Map[String, Any])

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        config: String, work: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("config"), need("work"))
  }

  def session(work: String): SparkSession = {
    val n = Proc.nproc
    val spark = graft.core.FastFs.install(SparkSession.builder())
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--selftest")) {
      val ok = SelfTest.run(Config.load(argv(1)))
      System.exit(if (ok) 0 else 1)
    }
    val a = parse(argv)
    val cfg = Config.load(a.config)
    val w = cfg.workload(a.workload)
    val load0 = Proc.loadavg()
    val spark = session(a.work)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val ctx = Ctx(spark, cfg, w, a.seed, a.seconds, a.trace, a.work)
    val r = try a.workload match {
      case "deliver" => Deliver.run(ctx)
      case "query" => Query.run(ctx)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        Result(1, 1, Seq("run_completed" -> false), Map.empty, Map.empty,
          Map("error" -> String.valueOf(e)))
    }
    val checksOk = r.checks.nonEmpty && r.checks.forall(_._2)
    val failed = r.failed + r.checks.count(!_._2)
    val attempted = math.max(1L, r.attempted + r.checks.size)
    val rss = Proc.peakRssMb()
    val e2e = r.e2e + ("peak_rss_mb" -> (rss, "MB"))
    val env = Map(
      "nproc" -> Proc.nproc,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "loadavg_at_start" -> load0,
      "session_s" -> Stats.round3(sessionS),
      "jvm_uptime_s" -> Stats.round3(ManagementFactory.getRuntimeMXBean.getUptime / 1000.0),
      "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
        Seq("spark.master", "spark.sql.shuffle.partitions", "spark.scheduler.mode",
          "spark.sql.adaptive.enabled", "spark.driver.memory").contains(k) })
    emit(Map("detail" -> (Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "env" -> env,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "checks" -> r.checks.map { case (k, ok) => k -> ok }.toMap,
      "failed_op_frac" -> failed.toDouble / attempted) ++ r.detail)))
    val metrics = if (a.trace) r.layer else e2e
    emit(Map("correct" -> checksOk, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }))
    System.out.flush()
    try spark.stop() catch { case _: Throwable => () }
    System.exit(if (checksOk && failed == 0) 0 else 1)
  }

  def emit(m: Map[String, Any]): Unit = println(Json.render(m))
}

/** What every workload gets. */
final case class Ctx(spark: SparkSession, cfg: Config, w: Config.W, seed: Long,
                     seconds: Int, trace: Boolean, work: String) {
  def fleet: Config.Fleet = cfg.fleet
  def dir(name: String): String = {
    val d = new java.io.File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs `once` `setup_repeats` times; every repetition but the last is
    * torn down. Returns the kept state and the median set-up seconds. */
  def repeatedSetup[S](once: Int => S)(teardown: S => Unit): (S, Double, Seq[Double]) = {
    val n = if (trace) 1 else w.int("setup_repeats")
    var kept: Option[S] = None
    val times = (0 until n).map { rep =>
      kept.foreach(teardown)
      val t0 = System.nanoTime()
      kept = Some(once(rep))
      (System.nanoTime() - t0) / 1e9
    }
    (kept.get, Stats.median(times), times)
  }
}

/** Minimal JSON rendering for the result and detail lines. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case (a, b) => render(Seq(a, b))
    case other => quote(other.toString)
  }
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
}
