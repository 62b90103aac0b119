package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys.
  *
  * At 100 TB a shuffle join on a key with heavy hitters (one user, one
  * null-ish default, one hot product) puts an entire hot key in a single
  * reducer. AQE's skew-join split handles many cases at runtime; salting
  * is the declarative fallback that works on any Spark and composes with
  * bucketing: the large (skewed) side gets a deterministic per-row salt
  * in [0, n); the small side is replicated n ways with an exploded salt
  * column; the join key becomes (key, salt), spreading each hot key over
  * n reducers. Result set is identical to the unsalted join (spec-pinned).
  */
object SkewJoin {

  /** Inner equi-join of `large` and `small` on `key`, salted `n` ways.
    * Columns of both inputs are preserved (one `key` column survives).
    */
  def saltedEquiJoin(large: DataFrame, small: DataFrame, key: String, n: Int): DataFrame = {
    require(n > 0)
    // deterministic salt: spread rows of the large side uniformly without
    // any RNG state (xxhash64 of the whole row's key + a row fingerprint)
    val salted = large.withColumn("__salt",
      pmod(xxhash64(struct(large.columns.map(col).toIndexedSeq: _*)), lit(n)).cast("int"))
    val replicated = small.withColumn("__salt", explode(sequence(lit(0), lit(n - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** The hot keys of `df.groupBy(keys)` with their `count`, at or above a
    * count threshold — the observation step that decides whether salting
    * is worth a replicate. Lazy: the caller decides what, if anything, to
    * materialize.
    */
  def hotKeys(df: DataFrame, threshold: Long, keys: Column*): DataFrame =
    df.groupBy(keys: _*).count().filter(col("count") >= threshold)

  /** Correctness-gate query: salted join of orders (skew side) with
    * customer (replicated side) — result identical to the plain join,
    * which is exactly what the oracle checks.
    */
  def qSaltedJoin(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    val orders = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val cust = graft.Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("o_custkey"), col("c_name"))
    saltedEquiJoin(orders, cust, "o_custkey", n = 8)
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"), col("o_totalprice"))
  }
}
