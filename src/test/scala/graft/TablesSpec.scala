package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.apache.spark.graftbridge.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** The loader contract: declared schemas that match the data, plan-build
  * without Spark jobs, and one decision point for the events vintage.
  */
class TablesSpec extends AnyFunSuite {
  import SparkTestSession._

  private def withTempDir(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    try body(dir) finally FileUtils.deleteDirectory(new java.io.File(dir))
  }

  // A declared column the file lacks reads as all-null instead of failing
  // analysis, so drift between the DDL and the data only shows here.
  Seq("sf0.001", "sf0.01", "sf0.1").foreach { scale =>
    test(s"declared schemas equal the inferred parquet schemas at $scale") {
      val dir = s"/root/testdata/$scale"
      Tables.schemas.keys.toSeq.sorted.foreach { t =>
        val declared = Tables.read(spark, dir, t).schema
        val inferred = spark.read.parquet(s"$dir/$t.parquet").schema
        assert(declared == inferred,
          s"$scale/$t: declared ${declared.toDDL} vs inferred ${inferred.toDDL}")
      }
    }
  }

  test("declared-schema reads return the same rows as inferred reads") {
    Tables.schemas.keys.toSeq.sorted.foreach { t =>
      val declared = Tables.read(spark, sf, t)
      val inferred = spark.read.parquet(s"$sf/$t.parquet")
      assert(declared.exceptAll(inferred).isEmpty && inferred.exceptAll(declared).isEmpty, t)
    }
  }

  test("a declared column missing from the file reads as all-null") {
    withTempDir { dir =>
      Tables.region(spark, sf).drop("r_name").write.parquet(s"$dir/region.parquet")
      val got = Tables.region(spark, dir)
      assert(got.schema == Tables.schemas("region"))
      assert(got.count() == Tables.region(spark, sf).count())
      assert(got.filter(col("r_name").isNotNull).isEmpty)
    }
  }

  test("a name outside the contract is refused by name") {
    val e = intercept[IllegalArgumentException](Tables.read(spark, sf, "lineitems"))
    assert(e.getMessage.contains("'lineitems'"))
  }

  test("building the plans of table-reading operators starts no Spark job") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val started = try {
      Seq("q03_join_agg_topn", "q04_semi_join", "q05_multi_join",
        "q45_not_in_count", "d06_lsh_verified", "s01_knn_brute").map { op =>
        val before = jobs.get
        SparkEntry.queries(op)(spark, sf)
        ListenerBusDrain(sc)
        op -> (jobs.get - before)
      }
    } finally {
      sc.removeSparkListener(listener)
      api.GraftOps.releaseCaches(); spark.catalog.clearCache()
    }
    assert(started.forall(_._2 == 0), s"jobs started at plan-build: $started")
  }

  test("both stored events.ts vintages load to the same TIMESTAMP column, batch and streaming") {
    withTempDir { dir =>
      // ScaleStress's rewrite: ts stored as a nanos BIGINT
      Tables.events(spark, sf).withColumn("ts", expr("unix_micros(ts) * 1000"))
        .write.parquet(s"$dir/events.parquet")
      assert(Tables.eventsStored(spark, dir).schema("ts").dataType == LongType)
      val micros = Tables.events(spark, sf)
      val nanos = Tables.events(spark, dir)
      assert(micros.schema("ts").dataType == TimestampType)
      assert(micros.schema == nanos.schema)
      assert(micros.exceptAll(nanos).isEmpty && nanos.exceptAll(micros).isEmpty)
      assert(streaming.StreamOps.readEvents(spark, dir).schema == nanos.schema)
      assert(streaming.StreamOps.readEvents(spark, sf).schema == micros.schema)
    }
  }
}
