package graft

import org.apache.spark.sql.functions._

/** Streaming scale-stress harness: drives the Structured Streaming
  * surfaces at 1x (sf0.1, 600k events) and 10x (the ScaleStress events
  * replica, 6M events) and prints rows/s plus state-store growth — the
  * two numbers that decide whether a streaming pipeline survives a
  * volume step. Development tool, not driver contract (SURVEY §6 rows).
  *
  * Paths measured:
  *  - windowedCounts: watermarked tumbling-window aggregate (state =
  *    open windows; must scale with WINDOWS, not rows)
  *  - dedupStream: dropDuplicatesWithinWatermark (state = keys inside
  *    the watermark horizon — the bounded-state contract)
  *  - sessionize: flatMapGroupsWithState (state = open sessions ≤
  *    distinct users)
  *  - cdcUpsertStream: foreachBatch MERGE into SnapshotTable (no state
  *    store; throughput + exactly-once commit cost)
  */
object StreamStress {
  def main(args: Array[String]): Unit = {
    val spark = Session()
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16m")
    ScaleStress.ensureBuilt(spark)

    val dirs = Seq("1x" -> "/root/testdata/sf0.1", "10x" -> "target/stress")

    def runToNoop(label: String, scale: String,
                  df: org.apache.spark.sql.DataFrame, ckpt: String): Unit = {
      val t0 = System.nanoTime()
      val q = df.writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(if (label == "windowed_counts") "update" else "append")
        .format("noop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      val prog = q.recentProgress
      val rows = prog.map(_.numInputRows).sum
      val state = prog.flatMap(_.stateOperators.map(_.numRowsTotal))
        .foldLeft(0L)(math.max)
      println(f"$label%-16s $scale%4s ${secs}%7.2fs ${rows}%9d rows " +
        f"${(rows / secs).toLong}%9d rows/s state=$state%d")
    }

    def tmp(n: String) =
      java.nio.file.Files.createTempDirectory(s"graft_sstress_$n").toString

    dirs.foreach { case (scale, dir) =>
      runToNoop("windowed_counts", scale,
        streaming.StreamOps.windowedCounts(spark, dir), tmp("wc"))
      runToNoop("dedup", scale,
        streaming.StreamOps.dedupStream(spark, dir), tmp("dd"))
      runToNoop("sessionize", scale,
        streaming.StreamOps.sessionize(spark, dir).toDF(), tmp("se"))
    }

    // streaming near-dup (round 6): band-keyed state-store candidates +
    // exact verification; 1x = sf0.1 docs, 4x = the stress replica
    // (state rows = bucket memberships = 16 bands x docs)
    dirs.foreach { case (scale, dir) =>
      runToNoop("neardup_pairs", scale,
        streaming.StreamOps.nearDupPairsStream(spark, dir).toDF(), tmp("nd"))
    }

    // cdcUpsertStream: MERGE throughput incl. the atomic manifest commit
    dirs.foreach { case (scale, dir) =>
      val base = tmp("cdc")
      val table = s"$base/table"
      val seed = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "user_id BIGINT, last_type STRING, last_ts TIMESTAMP, last_value DOUBLE"))
      sources.SnapshotTable.create(seed, table)
      val t0 = System.nanoTime()
      val q = streaming.StreamOps.cdcUpsertStream(spark, dir, table,
        s"$base/ckpt", s"stress-$scale")
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      val rows = q.recentProgress.map(_.numInputRows).sum
      val keys = sources.SnapshotTable.read(spark, table).count()
      println(f"cdc_upsert      $scale%4s ${secs}%7.2fs ${rows}%9d rows " +
        f"${(rows / secs).toLong}%9d rows/s keys=$keys%d")
    }
    spark.stop()
  }
}
