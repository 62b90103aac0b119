package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class SkewJoinSpec extends AnyFunSuite with SparkSpec with Matchers {

  test("salted join result set is identical to the plain equi-join") {
    val events = graft.Tables.events(spark, sf001)
      .select(col("event_id"), col("user_id"), col("event_type"))
    // synthetic dimension: one attribute row per user
    val dim = events.select(col("user_id")).distinct()
      .withColumn("tier", pmod(col("user_id"), lit(3)))
    val plain = events.join(dim, Seq("user_id"))
    val salted = SkewJoin.saltedEquiJoin(events, dim, "user_id", n = 5)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("hotKeys surfaces heavy hitters") {
    val hot = SkewJoin.hotKeys(
      graft.Tables.events(spark, sf001), threshold = 1, col("user_id"))
    assert(hot.count() == graft.Tables.events(spark, sf001).select("user_id").distinct().count())
  }
}
