import graft.perfbench.StreamBench
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Runs the latest-drain pipeline over a copied stream directory until its
  * first micro-batch and prints that batch's executed plan.
  * args: streamDir checkpointDir
  */
object PlanPair {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val qref = new AtomicReference[StreamingQuery]()
    val plan = new AtomicReference[String]()
    val done = new CountDownLatch(1)
    val q = StreamBench.startPipeline(spark, args(0), "latest", None, Some(100L), args(1),
      (df, id) => {
        while (qref.get == null) Thread.sleep(10)
        if (id == 0L) {
          plan.set(org.apache.spark.sql.graftbridge.StreamPlanBridge.lastExecutedPlan(qref.get))
          done.countDown()
        }
        df.count(); ()
      })
    qref.set(q)
    done.await(300, TimeUnit.SECONDS)
    q.stop()
    println(plan.get)
    spark.stop()
  }
}
