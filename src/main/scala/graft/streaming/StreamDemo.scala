package graft.streaming

/** Runnable demo of the streaming ops: drives the file source end-to-end
  * with a memory sink. Usage: runMain graft.streaming.StreamDemo [sfDir]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session()

    val w = StreamOps.windowedCounts(spark, dir)
      .writeStream.outputMode("append").format("memory").queryName("win").start()
    w.processAllAvailable(); w.stop()
    println(s"STREAM_WINDOWS=${spark.table("win").count()}")

    val se = StreamOps.sessionize(spark, dir)
      .writeStream.outputMode("append").format("memory").queryName("sess").start()
    se.processAllAvailable(); se.stop()
    println(s"STREAM_SESSIONS=${spark.table("sess").count()}")

    val dd = StreamOps.dedupStream(spark, dir)
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    dd.processAllAvailable(); dd.stop()
    println(s"STREAM_DEDUP_ROWS=${spark.table("dedup").count()}")

    val sj = StreamOps.purchaseViewJoin(spark, dir)
      .writeStream.outputMode("append").format("memory").queryName("ssjoin").start()
    sj.processAllAvailable(); sj.stop()
    println(s"STREAM_JOIN_ROWS=${spark.table("ssjoin").count()}")
    spark.stop()
  }
}
