package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession every graft main runs under: `local[cpus]`, with
  * `cpus` from SPARK_GRAFT_CPUS (default: every available processor), one
  * shuffle partition per core, AQE with skew-join splitting, UTC, no UI.
  * SPARK_GRAFT_CONF="k=v,k2=v2" then sets session confs (e.g.
  * graft.neardup.strategy=lsh), so alternate operating points run
  * through the same rig.
  */
private[graft] object Session {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // explicit (it's the Spark default) because it's load-bearing for
      // the 100 TB story: fact-fact joins rely on AQE's runtime skew
      // split; PlanAuditSpec pins both flags as a regression test
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // r13 (guide §5): Spark frees shuffle files, broadcast blocks and
      // map-output state via ContextCleaner WEAK references — nothing is
      // reclaimed until a JVM GC runs, and the default periodic-GC
      // backstop (spark.cleaner.periodicGC.interval) is 30 MIN, longer
      // than a whole bench. 369 queries × 3 runs accumulate thousands
      // of dead shuffles/broadcasts; measured effect: driver-bound
      // fixpoint queries mid-suite read 5–18× their exclusive-run time
      // (g18 13.4 s in-suite vs 0.75 s isolated) and the suite total
      // carried ~30–60 s of pure accumulation tax. A 90 s backstop plus
      // Bench's deterministic between-queries GC (outside every timed
      // region) removes it; at production scale the same conf is the
      // standing recommendation for long-lived multi-query drivers.
      .config("spark.cleaner.periodicGC.interval", "90s")
      .getOrCreate()
    // ERROR, not WARN: Bench's caller parses ONE JSON line from stdout,
    // and log4j noise (src/main/resources/log4j2.properties routes it to
    // stderr as a second line of defense) must never reach it.
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",")
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      })
    spark
  }
}
