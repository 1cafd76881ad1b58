package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** `Graft.session` is the one place a session is built and sized: no
  * other source calls the builder, no main hard-codes a thread count, and
  * the shared test session carries the factory's settings. Reads sources
  * and the existing session's conf and registry only — no Spark job. */
class SessionFactorySpec extends AnyFunSuite {

  private def repoRoot: Path = {
    def up(p: Path): Path =
      if (p == null) Paths.get(sys.props("user.dir"))
      else if (Files.exists(p.resolve("build.sbt"))) p
      else up(p.getParent)
    up(Paths.get(sys.props("user.dir")).toAbsolutePath)
  }

  private def sources(dir: String): Seq[(Path, String)] = {
    val root = repoRoot.resolve(dir)
    val ps = Files.walk(root)
    try ps.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => root.relativize(p) -> new String(Files.readAllBytes(p), "UTF-8"))
    finally ps.close()
  }

  test("Graft.session is the only session builder, no main hard-codes " +
      "local[N], and the test session carries the factory's settings") {
    val builder = "SparkSession" + ".builder" // split: this file is scanned
    val callers = sources("src").filter(_._2.contains(builder)).map(_._1)
    assert(callers == Seq(Paths.get("main/scala/graft/Graft.scala")))
    val literalMaster = "\"local\\[[^$\\]]+\\]\"".r
    val hardCoded = sources("src/main")
      .filter(s => literalMaster.findFirstIn(s._2).isDefined).map(_._1)
    assert(hardCoded.isEmpty, s"literal local[N] masters in $hardCoded")

    val conf = TestSpark.spark.conf
    assert(TestSpark.spark.sparkContext.master == "local[4]")
    Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.cleaner.periodicGC.interval" -> "1min",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" ->
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    ).foreach { case (k, v) => assert(conf.get(k) == v, k) }
    assert(conf.get("spark.sql.warehouse.dir")
      .endsWith("/tmp/graft_test_warehouse"))
  }

  test("Graft.init registers each function once: a second call leaves " +
      "the function registry and the optimizer rules unchanged") {
    val spark = TestSpark.spark
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    val names = Seq("cosine_sim", "simhash60", "fingerprint64")
    def snapshot = (names.map(n =>
        registry.lookupFunctionBuilder(FunctionIdentifier(n))),
      registry.listFunction().toSet, spark.experimental.extraOptimizations)
    Graft.init(spark)
    val (builders, listed, rules) = snapshot
    assert(builders.forall(_.isDefined))
    Graft.init(spark)
    val (builders2, listed2, rules2) = snapshot
    builders.zip(builders2).foreach { case (a, b) => assert(a.get eq b.get) }
    assert(listed2 == listed && rules2 == rules)
  }
}
