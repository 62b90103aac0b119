package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.StateStoreBridge

/** The one place a graft Spark session is configured — the analog of the
  * reference's single `ConsumerConfig` entry point
  * (KinesisSource.scala:46-95). Bench, Verify, the `Probe` CLI and the
  * test session all start from [[builder]], so a timing, a plan dump and
  * a spec all run under the session the bench measures.
  * GraftSessionSpec pins the confs and that no other builder exists.
  */
object GraftSession {

  /** `local[cores]` with `cores` shuffle partitions (default
    * `SPARK_GRAFT_CPUS`, else the deployment's canonical 32), UTC session
    * time, no UI, the graft SQL extensions, and
    * `legacy.parquet.nanosAsLong`: events.ts was TIMESTAMP(NANOS) in older
    * testdata generations (harmless for the current micros schema);
    * graft.Tables.events normalizes either. Callers add only what is
    * theirs (the test session's static listener) and call `getOrCreate()`.
    */
  def builder(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.trim.toInt)): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")

  /** Drop cross-query residue between measured runs: cached relations,
    * every state-store provider the streaming queries loaded and the
    * `graft_mem_*` memory-sink views, whose rows `clearCache()` does not
    * release. Left in place, they accumulate enough heap that later runs
    * in the JVM measure GC pressure (see Bench's scaladoc).
    *
    * The providers are unloaded here although
    * [[graft.streaming.StateStoreRelease]] frees each stream run's at its
    * termination: that release is asynchronous (it follows the run's
    * terminated event on the listener bus), and Bench needs one that has
    * finished before the next measured run starts.
    */
  def scrub(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    StateStoreBridge.unloadAll()
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_mem_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }
}
