package graft

/** Dev smoke main mirroring the driver's t1 check: `SparkEntry.entry` on
  * sf0.001 must return >0 rows. Usage: `sbt "runMain graft.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session("graft-smoke")
    val df = SparkEntry.entry(spark)
    df.show(10, truncate = false)
    println(s"ENTRY_ROWS=${df.count()}")
    spark.stop()
  }
}
