package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the scan-parallelism gate of GraftOps.spreadNarrowScan (the r14
  * fix for the r13 one-row-group spreads): the leading round-robin
  * exchange must FIRE on a narrow scan (one tiny parquet file — the
  * whole local-mode corpus class) and must NOT fire when the input scan
  * already carries at least the session's parallelism — the production
  * many-file case where an unconditional repartition would be a
  * full-corpus shuffle in front of the map stage.
  */
class SpreadGateSpec extends AnyFunSuite {
  import SparkTestSession._

  private def leadingExchanges(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange RoundRobinPartitioning"))

  test("spreadNarrowScan fires on a one-file scan") {
    val docs = Tables.documents(spark, sf) // one tiny parquet file
    assert(graft.api.GraftOps.estimatedInputPartitions(docs) <
      spark.sessionState.conf.numShufflePartitions)
    val out = graft.api.GraftOps.spreadNarrowScan(docs)
    assert(leadingExchanges(out.select("doc_id")) == 1,
      "expected the spread's round-robin exchange on a narrow scan")
  }

  test("spreadNarrowScan is a no-op when the scan is already parallel") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_spread_gate").toString
    // 8 files >= the 4 shuffle partitions of the test session
    spark.range(0, 800).select(col("id").as("doc_id"),
        concat(lit("w w w w w w w w w w doc "), col("id")).as("text"))
      .repartition(8).write.mode("overwrite").parquet(dir)
    val wide = spark.read.parquet(dir)
    assert(graft.api.GraftOps.estimatedInputPartitions(wide) >=
      spark.sessionState.conf.numShufflePartitions)
    val out = graft.api.GraftOps.spreadNarrowScan(wide)
    assert(leadingExchanges(out.select("doc_id")) == 0,
      "no round-robin exchange may be added on an already-parallel scan")
    // and a verb head over it stays free of the leading spread while
    // still computing the same pairs as the narrow-scan route
    val pairsWide = graft.api.GraftOps
      .jaccardJoin(wide, col("doc_id"), col("text"), 0.5)
    assert(pairsWide.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange RoundRobinPartitioning")) == 0)
    graft.api.GraftOps.releaseCaches()
  }

  test("lineage already behind a shuffle is never spread") {
    val agged = Tables.lineitem(spark, sf)
      .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
    assert(graft.api.GraftOps.estimatedInputPartitions(agged) ==
      spark.sessionState.conf.numShufflePartitions)
    val out = graft.api.GraftOps.spreadNarrowScan(agged)
    assert(leadingExchanges(out) == 0)
  }

  test("a coalesce(1) input is spread; a repartition(numShufflePartitions) input is not") {
    val want = spark.sessionState.conf.numShufflePartitions
    val dir = java.nio.file.Files
      .createTempDirectory("graft_spread_coalesce").toString
    spark.range(0, 800).select(col("id").as("doc_id"))
      .repartition(8).write.mode("overwrite").parquet(dir)
    // a parallel scan narrowed to one task: the gate must see the 1
    val narrowed = spark.read.parquet(dir).coalesce(1)
    assert(graft.api.GraftOps.estimatedInputPartitions(narrowed) == 1)
    assert(leadingExchanges(graft.api.GraftOps.spreadNarrowScan(narrowed)) == 1,
      "expected the spread's round-robin exchange after coalesce(1)")
    // coalesce never raises the count above its input's
    assert(graft.api.GraftOps.estimatedInputPartitions(
      Tables.documents(spark, sf).coalesce(want)) == 1)
    // a narrow scan already repartitioned to the session parallelism
    val spread = Tables.documents(spark, sf).repartition(want)
    assert(graft.api.GraftOps.estimatedInputPartitions(spread) == want)
    assert(leadingExchanges(graft.api.GraftOps.spreadNarrowScan(spread)) == 1,
      "only the caller's own exchange, no second spread")
  }

  test("shingle verbs no longer crash on docs shorter than the window") {
    import spark.implicits._
    val docs = Seq((1L, "only two"), (2L, "a b c d e f"),
      (3L, "a b c d e f")).toDF("doc_id", "text")
    // slice-guarded positions: the 2-word doc contributes zero shingles
    // (DuckDB semantics) instead of throwing on slice(arr, 0, 3)
    val pairs = graft.api.GraftOps
      .jaccardJoin(docs, col("doc_id"), col("text"), 0.5)
      .collect()
    assert(pairs.length == 1 && pairs(0).getLong(0) == 2L
      && pairs(0).getLong(1) == 3L)
    val cont = graft.api.GraftOps
      .containmentJoin(docs, col("doc_id"), col("text"), 0.5)
      .collect()
    assert(cont.length == 1)
    graft.api.GraftOps.releaseCaches()
  }
}
