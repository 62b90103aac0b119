package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import scala.jdk.CollectionConverters._

/** Pins the one session factory: the confs every graft session carries,
  * and that no other session builder exists in the code base — a second,
  * hand-copied builder is how timings and plan dumps drifted from the
  * session the bench measures.
  */
class GraftSessionSpec extends AnyFunSuite with SparkSpec with Matchers {

  test("the factory session: UTC, graft extensions, nanosAsLong, no UI, shuffle partitions = cores") {
    val conf = spark.sparkContext.getConf
    spark.sparkContext.master shouldBe "local[4]"
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
    spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") shouldBe "true"
    conf.get("spark.sql.extensions") shouldBe "graft.GraftExtensions"
    conf.get("spark.ui.enabled") shouldBe "false"
    spark.sparkContext.uiWebUrl shouldBe None
  }

  test("probe args: mode, comma-or-space names, key=value options") {
    val a = Probe.parse(Seq("time", "c1_project,c2_filter", "d2_minhash_lsh", "runs=3", "spark.x=a=b"))
    a.mode shouldBe "time"
    a.names shouldBe Seq("c1_project", "c2_filter", "d2_minhash_lsh")
    a.int("runs", 1) shouldBe 3
    a.int("min", 2) shouldBe 2
    a.opts("spark.x") shouldBe "a=b"
    an[IllegalArgumentException] should be thrownBy Probe.parse(Seq("nosuchmode"))
    an[IllegalArgumentException] should be thrownBy Probe.parse(Nil)
  }

  test("probe plan: writes <out>/<query>_<tag>.txt from the shared session") {
    val out = Files.createTempDirectory("graft-probe-")
    Probe.run(spark, Probe.parse(Seq("plan", "q_pricing_summary", s"out=$out", "tag=t")))
    val plan = Files.readString(out.resolve("q_pricing_summary_t.txt"))
    plan should include("== Physical Plan ==")
  }

  test("exactly one SparkSession builder under src/, in GraftSession") {
    val call = "SparkSession" + ".builder("
    def scalaFiles(root: Path): Seq[Path] =
      Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val sites = Seq("src/main", "src/test").flatMap(d => scalaFiles(Paths.get(d)))
      .flatMap { f =>
        Files.readAllLines(f).asScala.count(_.contains(call)) match {
          case 0 => Nil
          case n => Seq(f.getFileName.toString -> n)
        }
      }
    sites shouldBe Seq("GraftSession.scala" -> 1)
  }

  test("no scaladoc under src/main is stacked directly on another") {
    // a `/** ... */` block followed, after blank lines only, by another
    // block documents nothing: the second one is the definition's doc
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val stacked = files.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.map(_.trim).toIndexedSeq
      lines.indices.filter { i =>
        val next = lines.indexWhere(_.nonEmpty, i + 1)
        lines(i).endsWith("*/") && next >= 0 && lines(next).startsWith("/**")
      }.map(i => s"$f:${i + 1}")
    }
    stacked shouldBe empty
  }
}
