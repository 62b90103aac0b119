package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for specs. One JVM-wide session (getOrCreate)
  * keeps suite startup O(1) across specs; tests must not mutate session
  * state they don't own.
  */
trait SparkSpec extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkSpec.session

  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"

  /** The engine's 60-bit seeded integer: first 15 hex chars of md5(s),
    * base 16 — the ONE in-memory replay of every `conv(substring(md5(
    * ...), 1, 15), 16, 10)` draw/bucket/hash in the operators. Specs
    * must derive salts/moduli from this helper, not re-roll the prefix
    * convention (a drifted copy would silently pin wrong arithmetic).
    */
  def md5Prefix60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  /** The SECOND 60-bit slice (hex digits 17-31) of md5(s) — the in-memory
    * replay of `graft.functions.Md5Slices60`'s element 1 (d50's dorder). */
  def md5Second60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.slice(8, 16).map(b => f"$b%02x").mkString.take(15), 16)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the production session at 4 cores, plus the config-driven stats
    // registration — the reflective ConsumerStats.scala:33-42 analog
    // (StreamingSpec). streamingQueryListeners is a STATIC conf:
    // builder-time only.
    val s = GraftSession.builder(4)
      .config("spark.sql.streaming.streamingQueryListeners",
        "graft.streaming.GraftStats")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
