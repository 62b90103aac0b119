package graft
import org.apache.spark.sql.functions._

/** Recall audit for the LSH near-dup operators (d2, d14, d16) against
  * brute-force all-pairs truth at sf0.1. Test scope: the O(N^2) truth
  * joins must never ship. Usage: `Test/runMain graft.RecallCheck`.
  */
object RecallCheck {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.1"
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), split(lower(trim(col("text"))), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"),
        expr("array_distinct(transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))").as("sh"))
    // repartition the streamed side of the brute-force cross join: the
    // corpus parquet is a single file = one partition, which would run
    // the whole O(N^2) truth computation on one core
    val a = docs.select(col("doc_id").as("a_id"), col("sh").as("sa")).repartition(32)
    val b = docs.select(col("doc_id").as("b_id"), col("sh").as("sb"))
    val truth = a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("j", size(array_intersect(col("sa"), col("sb"))).cast("double") / size(array_union(col("sa"), col("sb"))))
      .filter(col("j") >= 0.6)
      .select("a_id", "b_id")
    val found = ops.CorpusOps.d2MinhashLsh(spark, sf).select("a_id", "b_id")
    val nTruth = truth.count(); val nFound = found.count()
    val missed = truth.exceptAll(found).count()
    println(s"RECALL d2 truth=$nTruth found=$nFound missed=$missed")

    // d14: same audit for the char-8-gram LSH (brute force via the exact
    // NgramJaccard kernel — NgramJaccardSpec pins it to the composed form)
    val t = Tables.documents(spark, sf)
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
      .filter(length(col("t")) >= 8)
    val ta = t.select(col("doc_id").as("a_id"), col("t").as("ta")).repartition(32)
    val tb = t.select(col("doc_id").as("b_id"), col("t").as("tb"))
    val truth14 = ta.crossJoin(tb).filter(col("a_id") < col("b_id"))
      .withColumn("j", functions.NgramJaccard.ngramJaccard(col("ta"), col("tb"), 8))
      .filter(col("j") >= 0.7)
      .select("a_id", "b_id")
    val found14 = ops.CorpusOps.d14NgramJaccard(spark, sf).select("a_id", "b_id")
    val nTruth14 = truth14.count(); val nFound14 = found14.count()
    val missed14 = truth14.exceptAll(found14).count()
    println(s"RECALL d14 truth=$nTruth14 found=$nFound14 missed=$missed14")

    // d16: SRP-LSH over the planted embedding corpus (truth = exact
    // blocked-free brute force with the fused cosine kernel at the 0.9
    // output threshold — the same pairs the DuckDB gate pins)
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val corpus = e.union(e.filter(col("vec_id") < 50)
      .select((col("vec_id") + 10000L).as("vec_id"),
        transform(col("v"), x => x * lit(0.99) + lit(0.001)).as("v")))
    val ea = corpus.select(col("vec_id").as("a_id"), col("v").as("va")).repartition(32)
    val eb = corpus.select(col("vec_id").as("b_id"), col("v").as("vb"))
    val truth16 = ea.crossJoin(eb).filter(col("a_id") < col("b_id"))
      .withColumn("s", functions.CosineSimilarity.cosineSim(col("va"), col("vb")))
      .filter(col("s") >= 0.9)
      .select("a_id", "b_id")
    val found16 = ops.VectorOps.d16SrpNeardup(spark, sf).select("a_id", "b_id")
    val nTruth16 = truth16.count(); val nFound16 = found16.count()
    val missed16 = truth16.exceptAll(found16).count()
    println(s"RECALL d16 truth=$nTruth16 found=$nFound16 missed=$missed16")
    spark.stop()
  }
}
