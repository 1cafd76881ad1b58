package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM). Fixed at 4
  * threads, not the host's count, so results do not vary with the host. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Graft.session(threads = 4,
      warehouseDir = Some("/tmp/graft_test_warehouse"))
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}
