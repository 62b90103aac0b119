package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SparkConfBridge
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.streaming.{GraftStats, StateStoreRelease}

/** The session hook: the SQL function surface, the artifact-isolation
  * default and the state-store release listener. The shared spec session
  * is built with `spark.sql.extensions=graft.GraftExtensions`
  * (SparkSpec), so these tests exercise the REAL deployment path:
  * class-name loading + injectFunction at session build, then resolution
  * of SQL calls through the injected builders.
  */
class GraftExtensionsSpec extends AnyFunSuite with SparkSpec with Matchers {

  private val isolation = SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key

  /** The isolation conf of a new session built on the shared SparkContext
    * through `GraftSession.builder` (the confs `perfbench`'s `StreamBench`
    * also sets, none of them about artifacts) plus `confs`. The key is
    * first removed from the context's live conf, so only
    * `GraftExtensions.apply` can put it back; the live conf and the
    * default and active session are restored afterwards.
    */
  private def isolationOfNewSession(confs: (String, String)*): String = {
    val live = SparkConfBridge.live(spark.sparkContext)
    val prior = live.getOption(isolation)
    live.remove(isolation)
    try {
      val builder = confs.foldLeft(GraftSession.builder(4)) { case (b, (k, v)) => b.config(k, v) }
      builder.create().conf.get(isolation)
    } finally {
      prior.fold(live.remove(isolation))(live.set(isolation, _))
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("a session built through the graft extensions is not artifact-isolated") {
    spark.conf.get(isolation) shouldBe "false"
    isolationOfNewSession() shouldBe "false"
  }

  test("an explicit artifact-isolation setting on the builder wins over the extension") {
    isolationOfNewSession(isolation -> "true") shouldBe "true"
  }

  private val listeners = StaticSQLConf.STREAMING_QUERY_LISTENERS.key

  /** The listener classes of a new session built through
    * `GraftSession.builder`, which names no listener, on the shared
    * SparkContext whose live conf names `prior` listeners; the live conf
    * and the default and active session are restored afterwards.
    */
  private def listenersOfNewSession(prior: String*): Seq[Class[_]] = {
    val live = SparkConfBridge.live(spark.sparkContext)
    val saved = live.getOption(listeners)
    if (prior.isEmpty) live.remove(listeners) else live.set(listeners, prior.mkString(","))
    try GraftSession.builder(4).create().streams.listListeners().toSeq.map(_.getClass)
    finally {
      saved.fold(live.remove(listeners))(live.set(listeners, _))
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("a session built through the graft extensions lists the state-store release listener") {
    listenersOfNewSession() shouldBe Seq(classOf[StateStoreRelease])
  }

  test("the release listener is appended after a listener already named on the context, once") {
    val both = Seq(classOf[GraftStats], classOf[StateStoreRelease])
    // SparkSpec names GraftStats on the builder of the shared session
    spark.streams.listListeners().toSeq.map(_.getClass) shouldBe both
    listenersOfNewSession(classOf[GraftStats].getName) shouldBe both
    listenersOfNewSession(both.map(_.getName): _*) shouldBe both
  }

  private def withViews[T](body: => T): T = {
    graft.Tables.embeddings(spark, sf001)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .createOrReplaceTempView("emb")
    graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).createOrReplaceTempView("docs")
    body
  }

  test("cosine_sim is SQL-callable and matches the Column API bit for bit") {
    withViews {
      val viaSql = spark.sql(
        """SELECT a.vec_id a_id, b.vec_id b_id, cosine_sim(a.v, b.v) sim
          |FROM emb a JOIN emb b ON a.vec_id < b.vec_id""".stripMargin)
      val e = spark.table("emb")
      val viaCol = e.select(col("vec_id").as("a_id"), col("v").as("va"))
        .crossJoin(e.select(col("vec_id").as("b_id"), col("v").as("vb")))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          graft.functions.CosineSimilarity.cosineSim(col("va"), col("vb")).as("sim"))
      viaSql.exceptAll(viaCol).count() shouldBe 0L
      viaCol.exceptAll(viaSql).count() shouldBe 0L
    }
  }

  test("parameterized kernels take SQL literals: srp_signature, simhash_bits, rolling_hash, minhash_signature") {
    withViews {
      val viaSql = spark.sql(
        """SELECT vec_id, srp_signature(v, 8, 16, 64, 1856106509) keys FROM emb""")
      val viaCol = spark.table("emb").select(col("vec_id"),
        graft.functions.SrpSignature.srpSignature(col("v"), 8, 16, 64, 0x6ea1f00dL).as("keys"))
      viaSql.exceptAll(viaCol).count() shouldBe 0L

      val rh = spark.sql(
        """SELECT doc_id, rolling_hash(text) h1, rolling_hash(text, 31, 1000000007) h3 FROM docs""")
        .collect()
      rh.foreach(r => r.getLong(1) shouldBe r.getLong(2))

      // array(...) of constants folds to an array literal for the seeds
      val mh = spark.sql(
        """SELECT minhash_signature(array(CAST(xxhash64(text) % 1000000007 AS BIGINT)),
          |array(3L, 5L), array(7L, 11L), 1000000007L) mh FROM docs LIMIT 5""".stripMargin)
        .collect()
      mh.foreach(r => r.getSeq[Long](0).length shouldBe 2)

      val sh = spark.sql(
        """SELECT doc_id, simhash_bits(array(xxhash64(text)), 16) fp FROM docs LIMIT 5""")
        .collect()
      sh.foreach(r => assert(r.getLong(1) >= 0L && r.getLong(1) < (1L << 16)))

      val ww = spark.sql(
        """SELECT doc_id, word_window_md5(lower(trim(text)), 8) ws FROM docs
          |WHERE size(split(lower(trim(text)), ' ')) >= 8""".stripMargin)
      val wwCol = spark.table("docs")
        .select(col("doc_id"), lower(trim(col("text"))).as("t"))
        .filter(expr("size(split(t, ' ')) >= 8"))
        .select(col("doc_id"),
          graft.functions.WordWindowMd5.wordWindowMd5(col("t"), 8).as("ws"))
      // symmetric: either direction alone would pass on a strict subset
      ww.exceptAll(wwCol).count() shouldBe 0L
      wwCol.exceptAll(ww).count() shouldBe 0L
    }
  }

  test("winnow_md5 and bitmap_or_agg are SQL-callable and match the Column API") {
    withViews {
      val viaSql = spark.sql(
        """SELECT doc_id, s.pos, s.gh
          |FROM docs LATERAL VIEW explode(winnow_md5(lower(trim(text)), 8, 4)) AS s""".stripMargin)
      val viaCol = graft.ops.CorpusOps.d52Winnow(spark, sf001)
      viaSql.exceptAll(viaCol).count() shouldBe 0L
      viaCol.exceptAll(viaSql).count() shouldBe 0L

      val bm = spark.sql(
        "SELECT bitmap_or_agg(p, 128) FROM (VALUES (0L), (64L), (64L), (127L)) AS t(p)")
        .head().getSeq[Long](0)
      bm shouldBe Seq(1L, (1L << 0) | (1L << 63))
    }
  }

  test("ngram_jaccard of a string with itself is 1.0 via SQL") {
    withViews {
      spark.sql("SELECT ngram_jaccard(text, text, 8) j FROM docs WHERE length(text) >= 8 LIMIT 5")
        .collect().foreach(r => r.getDouble(0) shouldBe 1.0)
    }
  }

  test("non-literal static parameters are rejected with a clear error") {
    withViews {
      val e = intercept[Exception] {
        spark.sql("SELECT srp_signature(v, CAST(vec_id AS INT), 16, 64, 1) FROM emb").collect()
      }
      e.getMessage should include("bands must be an integer literal")
    }
  }
}
