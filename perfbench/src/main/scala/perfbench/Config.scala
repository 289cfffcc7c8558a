package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The benchmark's fixed constants, read from `workloads.json` beside the
  * build. Rates, client counts and data sizes are absolute numbers: they
  * are never derived from a capacity probe at run time. */
final case class Config(root: JsonNode) {
  def fleet: Config.Fleet = {
    val f = root.get("fleet")
    Config.Fleet(f.get("tenants").asInt, f.get("hot_tenants").asInt,
      f.get("hot_share").asDouble, f.get("destinations").asInt,
      f.get("payload_bytes_min").asInt, f.get("payload_bytes_max").asInt)
  }
  def workload(name: String): Config.W = {
    val w = root.get("workloads").get(name)
    require(w != null, s"unknown workload: $name")
    Config.W(w)
  }
}

object Config {
  final case class Fleet(tenants: Int, hotTenants: Int, hotShare: Double,
                         destinations: Int,
                         payloadMin: Int, payloadMax: Int)

  final case class W(node: JsonNode) {
    def int(k: String): Int = req(k).asInt
    def long(k: String): Long = req(k).asLong
    def dbl(k: String): Double = req(k).asDouble
    private def req(k: String): JsonNode = {
      val v = node.get(k)
      require(v != null, s"workloads.json: missing $k")
      v
    }
  }

  def load(path: String): Config =
    Config(new ObjectMapper().readTree(new java.io.File(path)))
}
