package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftspec.QueryListeners

class PipelineSpec extends AnyFunSuite {
  import SparkTestSession._

  test("pipeline stays lazy and composes into one plan") {
    val p = api.Pipeline(
      "filter" -> (df => df.filter(col("l_quantity") > 10.0)),
      "project" -> (df => df.select("l_orderkey", "l_quantity")),
      "agg" -> (df => df.groupBy("l_orderkey").agg(sum("l_quantity").as("q"))),
    )
    val out = p.run(Tables.lineitem(spark, sf))
    // filter + projection must fuse into the scan of the single plan
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,10.0)]"),
      s"filter not pushed:\n${plan.take(800)}")
    assert(out.count() > 0)
  }

  test("profile reports monotone row counts for narrowing stages") {
    val p = api.Pipeline(
      "all" -> identity,
      "filter" -> (df => df.filter(col("o_totalprice") > 100000.0)),
      "tight" -> (df => df.filter(col("o_totalprice") > 300000.0)),
    )
    val counts = p.profile(Tables.orders(spark, sf)).map(_._2)
    assert(counts(0) >= counts(1) && counts(1) >= counts(2))
  }

  test("runObserved reports per-stage rows from ONE action (observe metrics)") {
    val p = api.Pipeline(
      "all" -> identity,
      "filter" -> (df => df.filter(col("o_totalprice") > 100000.0)),
      "tight" -> (df => df.filter(col("o_totalprice") > 300000.0)),
    )
    val input = Tables.orders(spark, sf)
    val expected = p.profile(input).toMap
    // repeated calls leave the session's query-execution listeners as
    // the first call left them: no listener is added per call
    val listeners = (1 to 3).map { _ =>
      val (out, metrics) = p.runObserved(input)
      out.count() // the single action that also materializes the metrics
      val m = metrics()
      expected.foreach { case (stage, rows) =>
        assert(m(s"stage:$stage") == rows, s"stage $stage: ${m.get(s"stage:$stage")} vs $rows")
      }
      QueryListeners.count(spark)
    }
    assert(listeners.distinct.size == 1, s"listener count per call: $listeners")
  }

  test("round-13 operators: novelty curve, ego density, dedup shrinkage hold their invariants") {
    // t46: buckets are 0-9, novelty in [0,1], and the FIRST arrival
    // bucket is the most novel (first docs can only introduce grams)
    val t46 = operators.TextAnalysis12.t46_prefix_novelty(spark, sf)
      .collect()
    assert(t46.nonEmpty && t46.forall { r =>
      val b = r.getLong(0); val nov = r.getDouble(4)
      b >= 0 && b <= 9 && nov >= 0.0 && nov <= 1.0 &&
        r.getLong(2) <= r.getLong(3) // new <= total
    })
    val byBucket = t46.map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(byBucket(0L) >= byBucket.values.min &&
      byBucket(0L) == byBucket.values.max,
      s"bucket 0 must be the most novel: $byBucket")
    // g19: 25 hubs, density in [0,1], ego edges bounded by deg choose 2
    val g19 = operators.Graph2.g19_ego_density(spark, sf).collect()
    assert(g19.length == 25)
    assert(g19.forall { r =>
      val deg = r.getLong(1); val ego = r.getLong(2)
      val den = r.getDouble(3)
      ego <= deg * (deg - 1) / 2 && den >= 0.0 && den <= 1.0
    })
    // p20: shares each sum to 1 (6dp), unique <= raw
    val p20 = operators.CorpusPipeline.p20_dedup_shrinkage(spark, sf)
      .collect()
    assert(p20.nonEmpty && p20.forall(r => r.getLong(2) <= r.getLong(1)))
    def sums(i: Int) = math.round(p20.map(_.getDouble(i)).sum * 1e6)
    assert(sums(4) == 1000000L && sums(5) == 1000000L,
      s"shares must sum to 1: before=${sums(4)} after=${sums(5)}")
    api.GraftOps.releaseCaches(); spark.catalog.clearCache()
  }

  test("p01 corpus pipeline output is a subset of input docs") {
    val out = operators.CorpusPipeline.p01_corpus_clean(spark, sf)
    val n = out.count()
    val total = Tables.documents(spark, sf).count()
    assert(n > 0 && n < total, s"$n of $total")
    // no duplicate doc_ids
    assert(out.select("doc_id").distinct().count() == n)
  }
}
