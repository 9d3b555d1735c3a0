package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** The query registry's oracle SQL is pinned byte for byte, and Verify
  * reports a failing query without losing its oracle. */
class RegistrySpec extends SparkSpec {

  /** SHA-256 over the name-sorted (name, oracle) pairs, each field
    * followed by a NUL byte. Any edit to an oracle string must update
    * this constant in the same commit. */
  private val OracleDigest =
    "3655be5d4aa9efee596df9b381bea7a503880d77f597d633f8170016227cc322"

  test("the registry holds 272 queries and their oracle SQL is unchanged") {
    assert(SparkEntry.registry.size === 272)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    for ((name, query) <- SparkEntry.registry.toSeq.sortBy(_._1)) {
      md.update(name.getBytes(UTF_8)); md.update(0.toByte)
      md.update(query.oracle.getBytes(UTF_8)); md.update(0.toByte)
    }
    assert(md.digest().map("%02x".format(_)).mkString === OracleDigest)
  }

  test("Verify.run returns failed and unknown query names and still writes the oracle") {
    val out = SparkSpec.tempDir("graft_verify").toString
    val name = "q01_agg_pricing"
    val failed = Verify.run(spark, s"$out/no_such_sf", out, Set(name, "q999_unknown"))
    assert(failed.toSet === Set(name, "q999_unknown"))
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Files.readString(Paths.get(s"$out/oracle_sql.json")), classOf[java.util.Map[String, String]])
    assert(json.size === 1)
    assert(json.get(name) === SparkEntry.oracleSql(name))
  }
}
