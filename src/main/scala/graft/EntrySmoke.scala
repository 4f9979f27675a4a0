package graft

/** Driver-contract smoke: run the flagship SparkEntry.entry and print
  * the row count (the driver checks rows > 0). `runMain graft.EntrySmoke`.
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Session()
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY_SMOKE rows=$n nonEmpty=${n > 0}")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
