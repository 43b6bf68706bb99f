package graft

import graft.engine.GraftConf
import graft.job.JobCorpus
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The one-engine-configuration contract: every harness resolves the
  * same base policy, the JOB child carries exactly its four trims, and
  * no session builder or environment read exists outside `GraftConf`.
  */
class GraftConfSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val policyKeys = Seq(
    "spark.sql.join.preferSortMergeJoin",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
    "spark.sql.session.timeZone")

  /** What a session built from `b` resolves: the policy keys plus
    * shuffle partitions per local core. The session is created beside
    * the shared one (same SparkContext) and the shared one is restored
    * as default and active afterwards.
    */
  private def resolvedBy(b: SparkSession.Builder): Map[String, String] = {
    val s = b.create()
    try {
      val cores = "local\\[(\\d+)\\]".r
        .findFirstMatchIn(s.conf.get("spark.master")).map(_.group(1).toInt)
        .getOrElse(fail(s"not a local[N] master: ${s.conf.get("spark.master")}"))
      policyKeys.map(k => k -> s.conf.get(k)).toMap +
        ("partitions_per_core" ->
          (s.conf.get("spark.sql.shuffle.partitions").toDouble / cores).toString)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("Bench, Verify and the test session resolve one base policy") {
    spark
    val bench = resolvedBy(Bench.sessionBuilder)
    assert(resolvedBy(Verify.sessionBuilder) == bench)
    assert(resolvedBy(SparkTestSession.builder) == bench)
    // The base sets no join policy: Spark's defaults are what ships.
    assert(bench("spark.sql.join.preferSortMergeJoin") == "true")
    assert(org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      bench("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold")) == 0L,
      s"AQE shuffled-hash threshold must stay at Spark's 0: $bench")
    assert(bench("spark.sql.session.timeZone") == "UTC")
    assert(bench("partitions_per_core") == "1.0")
  }

  test("setup is idempotent") {
    val once = resolvedBy(GraftConf.builder(cpus = 3))
    val twice = resolvedBy(GraftConf.setup(GraftConf.builder(cpus = 3), 3))
    assert(once == twice)
  }

  test("the JOB child profile sets exactly the four trims, on both JOB children") {
    val expected = Map(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.constraintPropagation.enabled" -> "false",
      "spark.sql.join.preferSortMergeJoin" -> "true") ++
      (if (GraftConf.JobCodegen.value == "1") Map.empty
       else Map("spark.sql.codegen.wholeStage" -> "false"))
    val plain = spark.newSession().conf.getAll.toSet
    def added(s: SparkSession): Map[String, String] = (s.conf.getAll.toSet -- plain).toMap
    assert(added(GraftConf.jobChildProfile(spark)) == expected)
    JobCorpus.ensureData(spark)
    assert(added(JobCorpus.interactiveSession(spark, 1)) == expected)
    // The COMPASS child also carries CompassSession's own reorder pins.
    val compassChild = added(JobEntries.compassFor(spark).spark)
    assert(expected.toSet.subsetOf(compassChild.toSet), s"$compassChild")
  }

  test("no session builder or environment read outside GraftConf") {
    val builderCall = "SparkSession" + ".builder()"
    val envReads = Seq("sys" + ".env", "System" + ".getenv")
    val own = Paths.get("src/main/scala/graft/engine/GraftConf.scala")
    val offenders = Seq("src/main", "src/test").flatMap { root =>
      scala.util.Using.resource(Files.walk(Paths.get(root))) { paths =>
        paths.iterator().asScala
          .filter(p => p.toString.endsWith(".scala") && p != own)
          .toList
      }
    }.flatMap { p =>
      val text = Files.readString(p)
      (builderCall +: envReads).filter(text.contains).map(pat => s"$p: $pat")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("README knob table is generated from the inventory") {
    val readme = Files.readString(Paths.get("README.md"))
    assert(readme.contains(GraftConf.knobTable),
      "README knob table drifted; regenerate with `runMain graft.engine.GraftConf`")
    assert(GraftConf.resolved.map(_._1) == GraftConf.inventory.map(_.name))
  }
}
