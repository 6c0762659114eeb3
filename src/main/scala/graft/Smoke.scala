package graft

import graft.engine.Session

/** Local twin of the driver's t1 smoke: run `SparkEntry.entry` and
  * print its row count (must be > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session()
    val df = SparkEntry.entry(spark)
    df.show(5, truncate = false)
    println(s"ENTRY_ROWS=${df.count()}")
    spark.stop()
  }
}
