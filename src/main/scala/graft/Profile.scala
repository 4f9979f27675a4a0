package graft

import org.apache.spark.graftbridge.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import scala.collection.mutable.ArrayBuffer

/** Dev profiler (the Spark UI is disabled): one stage listener, three
  * modes.
  *
  *   sbt "runMain graft.Profile stages q03_join_agg_topn,m09_asset_neardup_lsh"
  *   sbt "runMain graft.Profile plan t05_tfidf /root/testdata/sf0.01"
  *   sbt "runMain graft.Profile artifacts"
  *
  *  - `stages <q1,q2,...> [sfDir]`: warm each query at sf0.001, then run
  *    it once and print its total seconds and rows, its slowest stages
  *    (wall ms, tasks, input / shuffle-read / shuffle-write bytes and
  *    shuffle-write records), and its total shuffle write.
  *  - `plan <q1,q2,...> [sfDir]`: the formatted physical plan of each
  *    query — the shape half of an A/B, next to the cost half above.
  *  - `artifacts [sfDir]`: two reps of the artifact builds Bench times as
  *    artifact_build_sec — dedup trio + BPE, then the graph store — each
  *    with its slowest stages and the component fixpoint's round count.
  *
  * sfDir defaults to sf0.1, as in Bench. A name `<query>_lsh` is Bench's
  * variant row: `<query>` under graft.neardup.strategy=lsh.
  */
object Profile {
  private final case class Stage(id: Int, name: String, ms: Long, tasks: Int,
      inB: Long, srB: Long, swB: Long, swR: Long)

  private val usage =
    "usage: Profile <stages|plan> <q1,q2,...> [sfDir] | Profile artifacts [sfDir]"

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    val mode = args(0)
    val (names, sfArg) = mode match {
      case "stages" | "plan" =>
        require(args.length >= 2, usage)
        (args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq, args.lift(2))
      case "artifacts" => (Nil, args.lift(1))
      case _ => throw new IllegalArgumentException(usage)
    }
    val sfDir = sfArg.getOrElse("/root/testdata/sf0.1")
    val spark = Session()
    val sc = spark.sparkContext
    val stages = ArrayBuffer.empty[Stage]
    sc.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo; val m = si.taskMetrics
        val ms = (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(-1L)
        stages.synchronized { stages += Stage(si.stageId,
          si.name.split("\n").head.take(60), ms, si.numTasks,
          m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleWriteMetrics.recordsWritten) }
      }
    })
    // every stage event so far delivered, then dropped: the next
    // measurement sees only its own stages
    def resetStages(): Unit = {
      ListenerBusDrain(sc); stages.synchronized(stages.clear())
    }
    def completed(): Seq[Stage] = {
      ListenerBusDrain(sc); stages.synchronized(stages.toList)
    }
    def printTop(ss: Seq[Stage]): Unit =
      ss.sortBy(-_.ms).take(20).foreach { s =>
        println(f"  stage ${s.id}%5d ${s.ms}%7d ms ${s.tasks}%4d tasks " +
          f"in=${s.inB / 1024}%8d KiB sr=${s.srB / 1024}%8d KiB " +
          f"sw=${s.swB / 1024}%8d KiB swrec=${s.swR}%9d  ${s.name}")
      }
    def release(): Unit = {
      api.GraftOps.releaseCaches(); spark.catalog.clearCache()
    }

    mode match {
      case "stages" => names.foreach { n =>
        try query(spark, n, "/root/testdata/sf0.001").count()
        catch { case e: Throwable => println(s"WARMFAIL $n: ${e.getMessage}") }
        release(); resetStages()
        val t0 = System.nanoTime()
        val rows = query(spark, n, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        val ss = completed()
        println(f"== $n rows=$rows total=$dt%.3f s ==")
        printTop(ss)
        val bytes = ss.map(_.swB).sum; val recs = ss.map(_.swR).sum
        println(f"  shuffle total $bytes%12d bytes $recs%10d records " +
          f"${bytes.toDouble / math.max(1L, recs)}%8.1f B/rec")
        release()
      }
      case "plan" => names.foreach { n =>
        println(s"===== $n @ $sfDir =====")
        println(query(spark, n, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted")))
      }
      case "artifacts" =>
        Seq("customer", "orders", "lineitem", "documents")
          .foreach(t => Tables.read(spark, sfDir, t).count())
        (1 to 2).foreach { rep =>
          val dir = java.nio.file.Files
            .createTempDirectory(s"graft_profile_$rep").toString
          spark.conf.set("graft.dedup.artifacts", dir)
          spark.conf.set("graft.graph.artifacts", s"$dir/graph")
          def timed(label: String)(f: => Unit): Unit = {
            resetStages()
            val t0 = System.nanoTime()
            f
            val dt = (System.nanoTime() - t0) / 1e9
            println(f"== rep$rep $label: $dt%.2f s " +
              f"(ccRounds=${api.GraftOps.lastCcRounds}) ==")
            printTop(completed())
          }
          timed("dedup trio+bpe")(api.DedupArtifactStore.buildFor(spark, sfDir))
          timed("graph store")(api.GraphArtifactStore.buildFor(spark, sfDir))
          release()
          System.gc()
        }
    }
    spark.stop()
  }

  private def query(spark: SparkSession, name: String, sfDir: String): DataFrame =
    SparkEntry.queries.get(name) match {
      case Some(fn) => fn(spark, sfDir)
      case None if name.endsWith("_lsh") =>
        val fn = SparkEntry.queries.getOrElse(name.stripSuffix("_lsh"),
          throw new IllegalArgumentException(s"unknown query $name"))
        spark.conf.set("graft.neardup.strategy", "lsh")
        try fn(spark, sfDir) finally spark.conf.unset("graft.neardup.strategy")
      case None => throw new IllegalArgumentException(s"unknown query $name")
    }
}
