package graft.tools

/** Dev smoke runner mirroring the driver's t1 check: SparkEntry.entry
  * must return rows > 0 on sf0.001. Also prints the formatted plan so
  * plan-shape regressions (lost broadcast, lost pushdown) are visible.
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.newSession("local[8]", "graft-smoke")
    spark.sparkContext.setLogLevel("WARN")
    val df = graft.SparkEntry.entry(spark)
    df.explain("formatted")
    val n = df.count()
    println(s"[smoke] entry rows=$n")
    assert(n > 0, "entry returned 0 rows")
    df.show(20, truncate = false)
    spark.stop()
  }
}
