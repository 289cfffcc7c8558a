package perfbench

import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.api.HttpApi
import graft.operators.{CommitLog, Keyset, ListQuery, Metrics}
import graft.streaming.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The read path: an attempt log built through `Pipeline.logSinkBatch`, a
  * bloom-indexed `CommitLog` events table, and `HttpApi` serving both over
  * loopback HTTP. */
final class Serving(ctx: Ctx, root: String, nAttempts: Long, nEvents: Long, eventFiles: Int) {
  private val spark = ctx.spark
  import spark.implicits._
  val logPath = s"$root/log"
  val storePath = s"$root/events"

  Serving.writeLog(spark, ctx.seed, nAttempts, logPath, ctx.fleet)
  // one commit split into `eventFiles` files, each with its own key bloom
  // (the narrow scope keeps AQE from coalescing them back into one)
  graft.core.Caching.narrowBatchScope(spark) {
    val seed = ctx.seed
    val df = spark.range(0, nEvents).as[Long].map(i => Gen.storeEvent(seed, i)).toDF()
    CommitLog.append(df, storePath, idCol = "event_id", tsCol = "ts",
      filesPerMonth = eventFiles, keyBlooms = true)
  }

  /** The attempts frame, re-listed per request as a live deployment does
    * (with the log's declared schema, as the Runner's own readers do). */
  def attempts(): DataFrame = spark.read.schema(Serving.logSchema).parquet(logPath)

  val server: HttpApi.Server = HttpApi.start(spark, HttpApi.Config(
    events = CommitLog.scan(spark, storePath), destTable = s"$root/destinations",
    storeSecret = "perfbench", eventsTable = Some(storePath),
    attempts = Some(() => attempts())))
  val base = s"http://127.0.0.1:${server.port}/api/v1"

  def stop(): Unit = server.stop()
}

object Serving {
  val logSchema: org.apache.spark.sql.types.StructType = graft.streaming.Runner.logSchema
    .add("logged_at", org.apache.spark.sql.types.TimestampType)
    .add("month", org.apache.spark.sql.types.StringType)

  /** Writes the seeded attempt log in one sink call. */
  def writeLog(spark: SparkSession, seed: Long, n: Long, path: String,
               fleet: Config.Fleet): Unit = {
    import spark.implicits._
    val df = spark.range(0, n).as[Long].map(i => Gen.logRow(seed, i, n, fleet)).toDF()
    Pipeline.logSinkBatch(df, path, rows = n)
  }
}

/** A closed-loop HTTP client mix over a [[Serving]] instance. */
final class Clients(ctx: Ctx, s: Serving, nAttempts: Long, nEvents: Long) {
  import Clients._
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val mapper = new ObjectMapper()
  private val missFrac = ctx.w.dbl("miss_frac")

  def get(url: String): (Int, String) = {
    val r = http.send(HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }
  private def enc(x: String) = URLEncoder.encode(x, "UTF-8")

  def listUrl(r: Gen.ListReq, next: Option[String]): String =
    s"${s.base}/${r.tenant}/attempts?limit=100" +
      r.status.map(x => s"&status=${enc(x)}").getOrElse("") +
      r.dest.map(x => s"&destination_id=${enc(x)}").getOrElse("") +
      next.map(x => s"&next=${enc(x)}").getOrElse("")

  def metricsUrl(m: Gen.MetricsReq): String =
    s"${s.base}/${m.tenant}/metrics/attempts?measures[]=count&measures[]=failed_count" +
      s"&granularity=${m.granularity}&start=${m.start}&end=${m.end}&limit=100000" +
      (if (m.byDest) "&dimensions[]=destination_id" else "")

  /** One logical request (a list request is its pages); every HTTP call
    * is one sample. A sample fails on a non-2xx answer other than an
    * expected miss, or on a malformed body. */
  def exec(req: Gen.Req, out: ArrayBuffer[Sample]): Unit = {
    def timed(route: String, url: String)(ok: (Int, JsonNode) => Boolean): JsonNode = {
      val t0 = System.nanoTime()
      val (code, body) = try get(url) catch { case _: Exception => (-1, "") }
      val ms = (System.nanoTime() - t0) / 1e6
      val js = try mapper.readTree(body) catch { case _: Exception => null }
      out += Sample(route, ms, js != null && ok(code, js), body.length)
      js
    }
    req match {
      case r: Gen.ListReq =>
        var next: Option[String] = None
        var page = 0
        while (page <= r.follow && (page == 0 || next.isDefined)) {
          val js = timed("list", listUrl(r, next)) { (c, j) => c == 200 && j.has("models") }
          next = Option(js).flatMap(j => Option(j.get("next"))).map(_.asText)
          page += 1
        }
      case g: Gen.GetAttempt =>
        timed("get", s"${s.base}/${g.tenant}/attempts/${g.id}") { (c, j) =>
          if (g.exists) c == 200 && j.path("attempt_id").asText == g.id else c == 404
        }
      case g: Gen.GetEvent =>
        timed("get", s"${s.base}/t00/events/${g.id}") { (c, j) =>
          if (g.exists) c == 200 && j.path("event_id").asLong(-1) == g.id else c == 404
        }
      case m: Gen.MetricsReq =>
        timed("metrics", metricsUrl(m)) { (c, j) => c == 200 && j.has("buckets") }
    }
  }

  def request(client: Int, k: Long): Gen.Req =
    Gen.request(ctx.seed, client, k, nAttempts, nEvents, ctx.fleet, missFrac)

  /** `clients` threads, each sending its next request when the last one
    * answered, until `seconds` have passed. */
  def closedLoop(clients: Int, seconds: Double): (Seq[Sample], Double) = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val t0 = System.nanoTime()
    val per = (0 until clients).map(_ => ArrayBuffer.empty[Sample])
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var k = 0L
        while (System.nanoTime() < deadline) { exec(request(c, k), per(c)); k += 1 }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    (per.flatten, (System.nanoTime() - t0) / 1e9)
  }

  // ------------------------------------------------------------ checks --

  private def ids(js: JsonNode): Seq[String] =
    js.get("models").elements.asScala.map(_.get("attempt_id").asText).toSeq

  def direct(r: Gen.ListReq, next: Option[String]): Keyset.Page = {
    val in: Map[String, Seq[Any]] = Map("tenant_id" -> Seq[Any](r.tenant)) ++
      r.status.map(x => "status" -> Seq[Any](x)) ++ r.dest.map(x => "destination_id" -> Seq[Any](x))
    ListQuery.list(s.attempts(), ListQuery.Request(inFilters = in, limit = 100, next = next),
      "attempts", "attempt_time", "attempt_id")
  }

  /** Sampled HTTP pages (first and cursor pages) equal the direct answer. */
  def pagesMatchDirect(reqs: Seq[Gen.ListReq]): Boolean = reqs.forall { r =>
    val js1 = mapper.readTree(get(listUrl(r, None))._2)
    val d1 = direct(r, None)
    val n1 = Option(js1.get("next")).map(_.asText)
    val firstOk = ids(js1) == d1.rows.map(_.getAs[String]("attempt_id")) && n1 == d1.next
    firstOk && n1.forall { c =>
      ids(mapper.readTree(get(listUrl(r, Some(c)))._2)) ==
        direct(r, Some(c)).rows.map(_.getAs[String]("attempt_id"))
    }
  }

  /** Following `next` to exhaustion yields every row once, in keyset
    * order (attempt_time desc, attempt_id desc), over several pages. */
  def exhaustiveWalk(r: Gen.ListReq): Boolean = {
    val got = ArrayBuffer.empty[String]
    var next: Option[String] = None
    var pages = 0
    do {
      val js = mapper.readTree(get(listUrl(r, next))._2)
      got ++= ids(js)
      next = Option(js.get("next")).map(_.asText)
      pages += 1
    } while (next.isDefined && pages < 1000)
    val want = s.attempts().filter(col("tenant_id") === r.tenant &&
        r.dest.map(col("destination_id") === _).getOrElse(lit(true)))
      .orderBy(col("attempt_time").desc, col("attempt_id").desc)
      .select("attempt_id").as[String](org.apache.spark.sql.Encoders.STRING).collect().toSeq
    pages > 2 && got.toSeq == want
  }

  /** Metrics bucket totals equal a plain count over the same rows. */
  def metricsTotals(m: Gen.MetricsReq): Boolean = {
    val js = mapper.readTree(get(metricsUrl(m))._2)
    val total = js.get("buckets").elements.asScala.map(_.path("count").asLong(0)).sum
    val want = s.attempts().filter(col("tenant_id") === m.tenant &&
      col("attempt_time") >= lit(java.sql.Timestamp.from(m.start)) &&
      col("attempt_time") < lit(java.sql.Timestamp.from(m.end))).count()
    total == want && want > 0
  }

  def checks(): Seq[(String, Boolean)] = {
    val lists = (0L until 40L).map(request(0, _)).collect { case r: Gen.ListReq => r }.take(3)
    val t = ctx.fleet.tenants - 1
    val small = Gen.ListReq(Gen.tenantName(t), None, None, follow = 0)
    val metric = (0L until 40L).map(request(1, _))
      .collect { case m: Gen.MetricsReq if m.byDest => m }.head
    Seq("http_pages_equal_direct" -> pagesMatchDirect(lists),
      "next_walk_exact" -> exhaustiveWalk(small),
      "metrics_totals_equal_count" -> metricsTotals(metric))
  }
}

object Clients {
  final case class Sample(route: String, ms: Double, ok: Boolean, bytes: Int)

  def routeSummary(samples: Seq[Sample]): Map[String, Any] =
    samples.groupBy(_.route).map { case (r, ss) =>
      r -> (Stats.summary(ss.map(_.ms), Seq(0.5, 0.9)) +
        ("response_kb_p50" -> Stats.round3(Stats.median(ss.map(_.bytes / 1024.0)))))
    }
}

/** `query`: closed-loop HTTP clients over a static log. `api`,
  * `operators`, `functions.Buckets` and `core.Cursor` do the work. */
object Query {
  final case class Window(samples: Seq[Clients.Sample], wall: Double, noise: Map[String, Any]) {
    def lat: Seq[Double] = samples.map(_.ms)
    def e2e: Map[String, (Double, String)] = Map(
      "p50_ms" -> (Stats.pct(lat, 0.5), "ms"),
      "ops_per_s" -> (samples.size / wall, "1/s"))
  }

  def measure(ctx: Ctx, c: Clients, clients: Int): Window = {
    val win = new Proc.Window
    val (samples, wall) = c.closedLoop(clients, ctx.seconds)
    Window(samples, wall, win.close())
  }

  def run(ctx: Ctx): Main.Result = {
    val nA = ctx.w.long("log_attempts")
    val nE = ctx.w.long("store_events")
    val clients = ctx.w.int("clients")
    require(clients <= Proc.nproc, "client threads must not exceed nproc")
    val (s, setupS, setupAll) = ctx.repeatedSetup { rep =>
      new Serving(ctx, ctx.dir(s"query_$rep"), nA, nE, ctx.w.int("store_files"))
    }(_.stop())
    try {
      val c = new Clients(ctx, s, nA, nE)
      // warm-up: every route once, from a request stream the clients never send
      val warmupS = ctx.timed((0L until ctx.w.long("warmup_requests")).foreach(k =>
        c.exec(c.request(clients, k), ArrayBuffer.empty)))
      val m = measure(ctx, c, clients)
      val traced = if (ctx.trace) Some(QueryTrace.run(ctx, s, c, clients, m)) else None
      val checks = c.checks()
      val detail = Map(
        "setup_s_each" -> setupAll.map(Stats.round3),
        "warmup_s" -> Stats.round3(warmupS),
        "requests" -> Stats.summary(m.lat, Seq(0.5, 0.9)),
        "routes" -> Clients.routeSummary(m.samples),
        "query_ops_per_s" -> Stats.round3(m.samples.size / m.wall),
        "sizes" -> Map("log_attempts" -> nA, "store_events" -> nE, "clients" -> clients),
        "noise" -> m.noise) ++
        traced.map(t => "layers" -> t.detail)
      val layer = traced.map(t => Layers.metrics(t.perOp, m.noise,
        t.accountedMs / Stats.median(m.lat), t.untraced, t.e2e)).getOrElse(Map.empty)
      Main.Result(m.samples.size, m.samples.count(!_.ok), checks,
        m.e2e + ("setup_s" -> (setupS, "s")), layer, detail)
    } finally s.stop()
  }
}

/** Query's layers, measured from outside: the traced closed loop gives
  * the tracing overhead; then client 0's request stream is replayed one
  * call at a time, each HTTP call followed by the same request made
  * directly against the operator (`ListQuery.list`, `ListQuery.retrieve`,
  * `CommitLog.scanForKey`, `Metrics.query`). HTTP minus direct is the
  * `api` layer's own time. */
object QueryTrace {
  final case class Out(e2e: Map[String, (Double, String)],
                       untraced: Map[String, (Double, String)], perOp: Layers.PerOp,
                       accountedMs: Double, detail: Map[String, Any])
  final case class Call(route: String, http: Tracer.Span, direct: Tracer.Span,
                        rowsReturned: Int, bytes: Int, files: Int)

  def run(ctx: Ctx, s: Serving, c: Clients, clients: Int, before: Query.Window): Out = {
    val spark = ctx.spark
    val tracer = new Tracer(spark)
    val mapper = new ObjectMapper()
    val m = Query.measure(ctx, c, clients)
    tracer.close()
    val untraced = before.e2e
    val replayTracer = new Tracer(spark)
    val calls = ArrayBuffer.empty[Call]
    val cursors = ArrayBuffer.empty[String]
    def call(route: String, req: String, url: String, files: Int = 0)(direct: => Int): JsonNode = {
      val ((_, body), h) = replayTracer.span(s"http:$route", "api", req)(c.get(url))
      val (rows, d) = replayTracer.span(s"direct:$route", "operators", req)(direct)
      calls += Call(route, h, d, rows, body.length, files)
      try mapper.readTree(body) catch { case _: Exception => null }
    }
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var k = 0L
    try while (System.nanoTime() < deadline) {
      val req = s"req-$k"
      c.request(0, k) match {
        case r: Gen.ListReq =>
          var next: Option[String] = None
          var page = 0
          while (page <= r.follow && (page == 0 || next.isDefined)) {
            val cur = next
            val js = call("list", req, c.listUrl(r, cur))(c.direct(r, cur).rows.size)
            next = Option(js).flatMap(j => Option(j.get("next"))).map(_.asText)
            next.foreach(cursors += _)
            page += 1
          }
        case g: Gen.GetAttempt =>
          call("get_attempt", req, s"${s.base}/${g.tenant}/attempts/${g.id}")(
            ListQuery.retrieve(s.attempts().filter(col("tenant_id") === g.tenant),
              "attempt_id", g.id).size)
        case g: Gen.GetEvent =>
          call("get_event", req, s"${s.base}/t00/events/${g.id}",
            files = CommitLog.filesForKey(s.storePath, g.id)._1.size)(
            CommitLog.scanForKey(spark, s.storePath, "event_id", g.id).limit(1).collect().length)
        case mr: Gen.MetricsReq =>
          call("metrics", req, c.metricsUrl(mr)) {
            val df = s.attempts().filter(col("tenant_id") === mr.tenant)
              .withColumn("ts", col("attempt_time"))
            val res = Metrics.query(spark, df, Metrics.Request(mr.start, mr.end,
              graft.functions.Buckets.Granularity.parse(mr.granularity),
              Seq("count", "failed_count"), if (mr.byDest) Seq("destination_id") else Nil,
              rowLimit = 100000), Metrics.attemptMeasures)
            try res.df.collect().length finally res.cleanup()
          }
      }
      k += 1
    } finally replayTracer.close()

    val cursorUs = if (cursors.isEmpty) 0.0 else {
      val t0 = System.nanoTime(); var n = 0
      while (System.nanoTime() - t0 < 100000000L) {
        cursors.foreach(x => graft.core.Cursor.decode("attempts", x)); n += cursors.size
      }
      (System.nanoTime() - t0) / 1e3 / n
    }
    val works = calls.map(x => x -> Tracer.work(replayTracer.jobsOf(x.http))).toMap
    val byRoute = calls.groupBy(_.route).map { case (route, cs) =>
      val w = cs.map(works)
      route -> Map(
        "n" -> cs.size,
        "http_ms_p50" -> Stats.round3(Stats.median(cs.map(_.http.ms))),
        "operators_ms_p50" -> Stats.round3(Stats.median(cs.map(_.direct.ms))),
        "api_overhead_ms_p50" -> Stats.round3(Stats.median(cs.map(x => x.http.ms - x.direct.ms))),
        "api_response_kb_p50" -> Stats.round3(Stats.median(cs.map(_.bytes / 1024.0))),
        "jobs_per_request" -> Stats.round3(w.map(_.jobs).sum.toDouble / cs.size),
        "rows_read_per_row_returned" -> Stats.round3(
          w.map(_.rowsRead).sum.toDouble / cs.map(_.rowsReturned).sum.max(1)),
        "files_per_lookup" -> Stats.round3(cs.map(_.files).sum.toDouble / cs.size))
    }
    val seqHttp = Stats.median(calls.map(_.http.ms).toSeq)
    val e2eP50 = Stats.median(before.lat)
    Out(m.e2e, untraced, Layers.perOp(calls.map(works).toSeq), seqHttp, Map(
      "end_to_end" -> m.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "untraced" -> untraced.map { case (k, (v, _)) => k -> Stats.round3(v) },
      "tracing_overhead" -> m.e2e.map { case (k, (v, _)) => k -> Stats.round3(v - untraced(k)._1) },
      "replayed_calls" -> calls.size,
      "routes" -> byRoute,
      "core.cursor_decode_us" -> Stats.round3(cursorUs),
      "operators.log_files" -> Layers.parquetFiles(s.logPath),
      "self_time_accounting" -> Map(
        "summed_layer_self_ms_p50" -> Stats.round3(seqHttp),
        "summed_is" -> "api (HTTP minus direct) plus operators (direct), one call at a time",
        "closed_loop_p50_ms" -> Stats.round3(e2eP50),
        "accounted_frac" -> Stats.round3(seqHttp / e2eP50),
        "unaccounted_ms" -> Stats.round3(e2eP50 - seqHttp),
        "unaccounted_is" -> "waiting: concurrent clients sharing the scheduler and cores")))
  }
}
