package graft

import graft.engine.Session

/** Plan auditor: prints `explain("formatted")` for the named queries
  * (or all) so scan pushdown (PushedFilters/ReadSchema), join
  * strategies and codegen spans can be reviewed per round. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session()
    val wanted = if (args.nonEmpty) args.toSet else SparkEntry.queries.keySet
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted(n) }
      .foreach { case (name, fn) =>
        println(s"\n================ $name ================")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
