package graft

/** Quick diagnostic main: exercises the session bootstrap, the SQL-function
  * registration path, edge cases, and the flagship entry. Dev tool — the
  * driver gates are Verify (correctness) and Bench (perf). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.registerAll(spark, sfDir)

    println("[smoke] cosine_sim from SQL:")
    spark.sql(
      "SELECT vec_id, round(cosine_sim(embedding, embedding), 4) AS self " +
      "FROM embeddings ORDER BY vec_id LIMIT 3").show()

    print("[smoke] wrong types -> ")
    try {
      spark.sql("SELECT cosine_sim(l_orderkey, l_quantity) FROM lineitem").collect()
      println("NO ERROR (unexpected)")
    } catch {
      case e: Exception => println("clean analysis error: " +
        e.getMessage.linesIterator.find(_.nonEmpty).getOrElse(""))
    }

    println("[smoke] zero-norm vector:")
    spark.sql("SELECT cosine_sim(array(cast(0.0 as float), cast(0.0 as float)), " +
      "array(cast(1.0 as float), cast(2.0 as float))) AS z").show()

    println(s"[smoke] entry rows = ${SparkEntry.entry(spark).count()}")
    spark.stop()
  }
}
