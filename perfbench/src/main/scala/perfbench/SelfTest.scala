package perfbench

import java.security.MessageDigest

/** Generator self-test: the same seed gives byte-identical inputs, and a
  * different seed gives different ones. */
object SelfTest {
  def digest(cfg: Config, seed: Long): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update((s + "\n").getBytes("UTF-8"))
    val f = cfg.fleet
    Gen.fleet(seed, f).foreach(d => add(d.toString + d.filter.map(_.json)))
    Seq("w", "p", "b").foreach(p => (0 until 2000).foreach(i => add(Gen.event(seed, p, i, f).json)))
    (0L until 5000L).foreach(i => add(Gen.logRow(seed, i, 1000000L, f).toString))
    (0L until 2000L).foreach(i => add(Gen.storeEvent(seed, i).toString))
    for (c <- 0 until 2; k <- 0L until 500L) add(Gen.request(seed, c, k, 1000000L, 200000L, f, 0.05).toString)
    md.digest().map("%02x".format(_)).mkString
  }

  def run(cfg: Config): Boolean = {
    val a = digest(cfg, 1); val b = digest(cfg, 1); val c = digest(cfg, 2)
    val ok = a == b && a != c
    println(Json.render(Map("selftest" -> Map("seed1" -> a, "seed1_again" -> b, "seed2" -> c,
      "identical_for_same_seed" -> (a == b), "differs_across_seeds" -> (a != c)))))
    ok
  }
}
