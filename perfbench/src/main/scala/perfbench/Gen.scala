package perfbench

import java.time.Instant

/** Seeded input generator. Every value is a pure function of
  * (seed, stream, index) through a counter-based SplitMix64, so any input
  * can be regenerated on its own and the same seed always gives
  * byte-identical inputs. The program under test only ever sees the
  * generated JSON strings, DataFrames and HTTP requests. */
object Rng {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def at(seed: Long, stream: Long, i: Long): Long =
    mix(mix(seed * 0x100000001B3L ^ (stream * 0x9E3779B97F4A7C15L)) + i)
  def unit(seed: Long, stream: Long, i: Long): Double =
    (at(seed, stream, i) >>> 11) * (1.0 / (1L << 53))
  def below(seed: Long, stream: Long, i: Long, n: Int): Int =
    ((at(seed, stream, i) >>> 1) % n).toInt
}

object Gen {
  // streams: one per kind of draw, so adding a draw never shifts another
  private val SDest = 1L; private val SEvent = 2L; private val SAttempt = 3L
  private val SReq = 4L; private val SStore = 6L

  val Topics: Vector[String] = Vector(
    "order.created", "order.updated", "order.paid", "order.refunded",
    "order.shipped", "order.cancelled", "user.created", "user.updated",
    "user.deleted", "invoice.created", "invoice.paid", "payment.failed",
    "cart.abandoned", "review.posted", "shipment.delayed", "ticket.opened")
  val Regions: Vector[String] = Vector("us-east", "us-west", "eu", "apac", "latam")
  val Tiers: Vector[String] = Vector("gold", "silver", "bronze")
  /** Log time range of the query workload: 70 days, so over two months. */
  val LogStart: Instant = Instant.parse("2026-01-05T00:00:00Z")
  val LogDays: Int = 70
  val EventBase: Instant = Instant.parse("2026-03-01T00:00:00Z")

  def tenantName(t: Int): String = f"t$t%02d"

  /** Tenant of draw `i`: `hotTenants` tenants share `hotShare` of the
    * traffic, the rest share the remainder evenly (the reference load
    * test's skew). */
  def tenantOf(seed: Long, stream: Long, i: Long, c: Config.Fleet): Int = {
    val u = Rng.unit(seed, stream * 31 + 7, i)
    if (u < c.hotShare) (u / c.hotShare * c.hotTenants).toInt.min(c.hotTenants - 1)
    else c.hotTenants + ((u - c.hotShare) / (1 - c.hotShare) *
      (c.tenants - c.hotTenants)).toInt.min(c.tenants - c.hotTenants - 1)
  }

  // ------------------------------------------------------------ fleet --

  sealed trait Filter { def json: String; def pass(e: Ev): Boolean }
  final case class Gte(n: Int) extends Filter {
    def json = s"""{"data":{"amount":{"$$gte":$n}}}"""
    def pass(e: Ev): Boolean = e.amount >= n
  }
  final case class In(regions: Seq[String]) extends Filter {
    def json = regions.map(r => "\"" + r + "\"")
      .mkString("""{"data":{"region":{"$in":[""", ",", "]}}}")
    def pass(e: Ev): Boolean = regions.contains(e.region)
  }
  final case class Tier(tier: String) extends Filter {
    def json = s"""{"data":{"customer":{"tier":"$tier"}}}"""
    def pass(e: Ev): Boolean = e.tier == tier
  }

  final case class Dest(id: String, tenant: String, topics: Seq[String],
                        filter: Option[Filter], disabled: Boolean) {
    def topicPass(topic: String): Boolean = topics.exists { p =>
      p == "*" || (p.endsWith(".*") && topic.startsWith(p.dropRight(1))) || p == topic
    }
    /** The generator's own match rule, written independently of the
      * program's TopicMatch/JsonMatch, for the expected attempt counts. */
    def matches(e: Ev): Boolean =
      !disabled && e.tenant == tenant && topicPass(e.topic) && filter.forall(_.pass(e))
  }

  /** Destinations spread evenly over tenants. The mix is stratified, so
    * the fan-out ratio does not depend on the seed: in every tenant the
    * first destination subscribes to `*`, the next three to `order.*`, the
    * rest to one exact topic; every third carries a JSON filter (`$gte`,
    * `$in` or a nested field), and the last one of every other tenant is
    * disabled. The seed draws topics and filter parameters. */
  def fleet(seed: Long, c: Config.Fleet): Vector[Dest] =
    (0 until c.destinations).toVector.map { d =>
      val t = d % c.tenants
      val j = d / c.tenants
      val perTenant = c.destinations / c.tenants
      def pick(k: Int, n: Int) = Rng.below(seed, SDest, d * 16L + k, n)
      val topics =
        if (j == 0) Seq("*")
        else if (j <= 3) Seq("order.*")
        else Seq(Topics(pick(2, Topics.size)))
      val filter =
        if (j % 3 != 1) None
        else (j / 3) % 3 match {
          case 0 => Some(Gte(pick(6, 1000)))
          case 1 => Some(In(Regions.indices.filter(r => (pick(7, 32) >> r & 1) == 1)
            .map(Regions).padTo(1, Regions(pick(8, Regions.size)))))
          case _ => Some(Tier(Tiers(pick(9, Tiers.size))))
        }
      Dest(f"d${t}%02d_$d%03d", tenantName(t), topics, filter,
        disabled = j == perTenant - 1 && t % 2 == 0)
    }

  // ----------------------------------------------------------- events --

  final case class Ev(id: String, tenant: String, topic: String, amount: Int,
                      region: String, tier: String, json: String)

  /** Event `i` of a phase. `prefix` names the phase so ids never collide
    * (the content depends on `i` only, so phases replay the same inputs);
    * the payload is 0.1–2 KB of JSON and the event time is a fixed
    * function of `i`, so the JSON text is identical on every run. */
  def event(seed: Long, prefix: String, i: Long, c: Config.Fleet): Ev = {
    val s = SEvent
    def u(k: Int) = Rng.unit(seed, s, i * 8 + k)
    def pick(k: Int, n: Int) = Rng.below(seed, s, i * 8 + k, n)
    val tenant = tenantName(tenantOf(seed, s, i, c))
    val topic = Topics(pick(1, Topics.size))
    val amount = pick(2, 1000)
    val region = Regions(pick(3, Regions.size))
    val tier = Tiers(pick(4, Tiers.size))
    val size = c.payloadMin + pick(5, c.payloadMax - c.payloadMin + 1)
    val id = s"$prefix$i"
    val sb = new java.lang.StringBuilder(size + 200)
    sb.append("{\"event_id\":\"").append(id).append("\",\"tenant_id\":\"").append(tenant)
      .append("\",\"topic\":\"").append(topic).append("\",\"event_time\":\"")
      .append(EventBase.plusMillis(i)).append("\",\"metadata\":{\"source\":\"perfbench\"}")
      .append(",\"data\":{\"amount\":").append(amount).append(",\"region\":\"").append(region)
      .append("\",\"customer\":{\"tier\":\"").append(tier).append("\",\"id\":")
      .append(pick(6, 100000)).append("},\"note\":\"")
    val body0 = sb.length
    var k = 0
    while (sb.length - body0 < size) {
      var r = Rng.at(seed, s + 1, i * 4096 + k)
      var j = 0
      while (j < 12 && sb.length - body0 < size) {
        sb.append(('a' + ((r & 31) % 26).toInt).toChar); r >>>= 5; j += 1
      }
      k += 1
    }
    sb.append("\"}}")
    Ev(id, tenant, topic, amount, region, tier, sb.toString)
  }

  /** Expected attempts per destination for a set of events. */
  def expectedPerDest(events: Iterable[Ev], dests: Vector[Dest]): Map[String, Long] = {
    val byTenant = dests.groupBy(_.tenant)
    val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    events.foreach { e =>
      byTenant.getOrElse(e.tenant, Vector.empty).foreach { d =>
        if (d.matches(e)) counts(d.id) += 1
      }
    }
    counts.toMap
  }

  // ------------------------------------------------- static attempt log --

  /** One row of the query workload's attempt log (Runner.logSchema order,
    * minus the event columns the sink fills). Attempt `i` belongs to
    * event `i / 3`; ids are `att_<i>` so the request generator can aim at
    * existing and missing ids without reading the log. */
  final case class LogRow(attempt_id: String, event_id: String, tenant_id: String,
                          destination_id: String, destination_type: String,
                          attempt_number: Int, manual: Boolean, status: String,
                          attempt_time: java.sql.Timestamp, code: String,
                          event_time: java.sql.Timestamp, topic: String,
                          data: String, metadata: Map[String, String],
                          eligible_for_retry: Boolean)

  def logTenant(seed: Long, i: Long, c: Config.Fleet): Int =
    tenantOf(seed, SAttempt, i / 3, c)
  /** Attempt times increase with `i` (the log is written in time order),
    * with jitter inside each attempt's slot. */
  def logMicros(seed: Long, i: Long, n: Long): Long = {
    val span = LogDays * 86400L * 1000000L
    val slot = span / n
    LogStart.getEpochSecond * 1000000L + i * slot + (Rng.unit(seed, SAttempt, i * 4 + 1) * slot).toLong
  }

  def logRow(seed: Long, i: Long, n: Long, c: Config.Fleet): LogRow = {
    val t = logTenant(seed, i, c)
    val u = Rng.unit(seed, SAttempt, i * 4 + 2)
    val failed = u < 0.05
    val micros = logMicros(seed, i, n)
    val ts = new java.sql.Timestamp(micros / 1000)
    ts.setNanos(((micros % 1000000) * 1000).toInt)
    val dest = Rng.below(seed, SAttempt, i * 4 + 3, c.destinations / c.tenants)
    val topic = Topics(Rng.below(seed, SAttempt, (i / 3) * 4, Topics.size))
    LogRow(s"att_$i", s"ev_${i / 3}", tenantName(t), f"d$t%02d_${dest * c.tenants + t}%03d",
      "mock", if (u > 0.97) 2 else 1, manual = false,
      if (failed) "failed" else "success", ts, if (failed) "503" else "200",
      ts, topic, s"""{"amount":${Rng.below(seed, SAttempt, i * 4, 1000)},"n":$i}""",
      Map("source" -> "perfbench"), eligible_for_retry = true)
  }

  /** Row of the bloom-indexed events table served by GET /events/{id}. */
  final case class StoreEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                              event_type: String, value: Double)
  def storeEvent(seed: Long, i: Long): StoreEvent =
    StoreEvent(i, new java.sql.Timestamp(EventBase.toEpochMilli + i * 1000L),
      Rng.below(seed, SStore, i * 2, 50000).toLong,
      Topics(Rng.below(seed, SStore, i * 2 + 1, Topics.size)),
      Rng.below(seed, SStore, i * 2 + 2, 100000) / 100.0)

  // ---------------------------------------------------------- requests --

  sealed trait Req { def route: String }
  /** First page of a list, then `follow` next-cursor pages. */
  final case class ListReq(tenant: String, status: Option[String], dest: Option[String],
                           follow: Int) extends Req { def route = "list" }
  final case class GetAttempt(tenant: String, id: String, exists: Boolean) extends Req {
    def route = "get" }
  final case class GetEvent(id: Long, exists: Boolean) extends Req { def route = "get" }
  final case class MetricsReq(tenant: String, granularity: String, start: Instant,
                              end: Instant, byDest: Boolean) extends Req {
    def route = "metrics" }

  /** Fixed route cycle per client: the mix, the list filters and the
    * number of cursor pages followed are the same for every seed, so the
    * request mix does not move the percentiles; the seed draws tenants,
    * ids, filter values and time windows. */
  private val Cycle = Vector("list", "get_attempt", "metrics_hourly", "get_event", "list_status",
    "get_attempt", "metrics_daily", "get_event", "list_dest", "get_attempt")

  /** Request `k` of client `client`. Ids are recent-biased (cubic toward
    * the newest) with a uniform tail and `missFrac` misses. */
  def request(seed: Long, client: Int, k: Long, nAttempts: Long, nEvents: Long,
              c: Config.Fleet, missFrac: Double): Req = {
    val s = SReq * 1000 + client
    def u(j: Int) = Rng.unit(seed, s, k * 8 + j)
    def idx(n: Long): Long =
      if (u(1) < 0.8) n - 1 - (math.pow(u(2), 3) * n).toLong.min(n - 1)
      else (u(2) * n).toLong.min(n - 1)
    val t = tenantOf(seed, s, k, c)
    val tenant = tenantName(t)
    val follow = 1 + ((k / Cycle.size) % 3).toInt
    Cycle((k % Cycle.size).toInt) match {
      case "list" => ListReq(tenant, None, None, follow)
      case "list_status" =>
        ListReq(tenant, Some(if (u(4) < 0.5) "failed" else "success"), None, follow)
      case "list_dest" =>
        val d = Rng.below(seed, s, k * 8 + 5, c.destinations / c.tenants) * c.tenants + t
        ListReq(tenant, None, Some(f"d$t%02d_$d%03d"), follow)
      case "get_attempt" =>
        if (u(0) < missFrac) GetAttempt(tenant, s"att_missing_$k", exists = false)
        else { val i = idx(nAttempts); GetAttempt(tenantName(logTenant(seed, i, c)), s"att_$i", exists = true) }
      case "get_event" =>
        if (u(0) < missFrac) GetEvent(nEvents + 1000000L + k, exists = false)
        else GetEvent(idx(nEvents), exists = true)
      case "metrics_hourly" =>
        val day = Rng.below(seed, s, k * 8 + 3, LogDays)
        val st = LogStart.plusSeconds(day * 86400L)
        MetricsReq(tenant, "1h", st, st.plusSeconds(86400L), byDest = false)
      case _ =>
        val day = Rng.below(seed, s, k * 8 + 3, LogDays - 30)
        val st = LogStart.plusSeconds(day * 86400L)
        MetricsReq(tenant, "1d", st, st.plusSeconds(30 * 86400L), byDest = true)
    }
  }
}
