package graft

/** Dev smoke runner mirroring the driver's `entry` check: runs the flagship
  * pipeline on sf0.001 and prints the result. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[entry] rows=${rows.length}")
    rows.take(30).foreach(r => println(s"[entry] $r"))
    spark.stop()
  }
}
