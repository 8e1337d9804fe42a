package graft

/** Mirror of the driver's t1 smoke: run SparkEntry.entry and print its rows.
  * Usage: sbt "runMain graft.Smoke"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.foreach(r => println(s"[smoke] $r"))
    spark.stop()
  }
}
