package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.graftbench.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.{SparkEntry, Tables}
import graft.api.{DedupArtifactStore, GraftOps}

/** One operation of a workload: the public operator `query`, run with
  * the session confs in `conf` set for its duration.
  */
final case class Op(name: String, query: String, conf: Map[String, String] = Map.empty)

object Workloads {
  private def plain(names: String*): Seq[Op] = names.map(n => Op(n, n))

  /** Each workload's ops, in the fixed order a pass runs them. */
  val all: Map[String, Seq[Op]] = Map(
    // relational joins whose operator call (table loading, schema
    // inference) is the largest share of their op time
    "etl_star" -> plain("q03_join_agg_topn", "q04_semi_join", "q05_multi_join", "q45_not_in_count"),
    // training-data verbs bound by executor CPU: hashing and joins
    "corpus_dedup" -> Seq(
      Op("d06_lsh_verified", "d06_lsh_verified"),
      // m09 at its documented 100 TB operating point
      Op("m09_asset_neardup_lsh", "m09_asset_neardup", Map("graft.neardup.strategy" -> "lsh")),
      Op("s01_knn_brute", "s01_knn_brute")))
}

/** What one op did in one pass. Times in ms; `error` is set if it threw. */
final case class OpRun(op: String, wallMs: Double, callMs: Double, actionMs: Double,
                       releaseMs: Double, cachedBytes: Long, untrackedRdds: Int,
                       error: Option[String])

final case class PassRun(no: Int, traced: Boolean, wallMs: Double, ops: Seq[OpRun])

/** The closed-loop client: one thread that runs a workload's ops in
  * order, each op only after the previous one has finished.
  */
final class Client(spark: SparkSession, in: String, work: String, ops: Seq[Op]) {
  private val sc = spark.sparkContext
  val tracer = new Tracer
  val listener = new WorkListener
  private var passNo = 0

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def release(): Unit = {
    GraftOps.releaseCaches()
    spark.catalog.clearCache()
  }

  private def withConf[T](op: Op)(body: => T): T = {
    op.conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally op.conf.keys.foreach(spark.conf.unset)
  }

  private def runOp(op: Op, traced: Boolean): OpRun = withConf(op) {
    val tag = s"p$passNo/${op.name}"
    var callMs, actionMs, releaseMs = 0.0
    var cached = 0L
    var untracked = 0
    var error: Option[String] = None
    val t0 = System.nanoTime()
    tracer("op", op.name) {
      try {
        sc.setJobGroup(s"$tag/call", op.name)
        val tc = System.nanoTime()
        val df = tracer("call", op.name)(SparkEntry.queries(op.query)(spark, in))
        callMs = ms(tc)
        if (traced) {
          sc.setJobGroup(s"$tag/plan", op.name)
          tracer("plan", op.name)(df.queryExecution.executedPlan)
        }
        sc.setJobGroup(s"$tag/action", op.name)
        val ta = System.nanoTime()
        // the noop sink computes every output column; count() would let
        // Catalyst prune columns the op produces
        tracer("action", op.name)(df.write.format("noop").mode("overwrite").save())
        actionMs = ms(ta)
      } catch {
        case e: Throwable => error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally {
        cached = sc.getRDDStorageInfo.map(_.memSize).sum
        sc.setJobGroup(s"$tag/release", op.name)
        val tr = System.nanoTime()
        tracer("release", op.name) {
          GraftOps.releaseCaches()
          // what is still persisted now was not cached through graft's
          // tracked-persist queue (catalog caches or raw persists)
          untracked = sc.getPersistentRDDs.size
          spark.catalog.clearCache()
        }
        releaseMs = ms(tr)
        sc.clearJobGroup()
      }
    }
    OpRun(op.name, ms(t0), callMs, actionMs, releaseMs, cached, untracked, error)
  }

  def pass(traced: Boolean): PassRun = {
    passNo += 1
    // collect what earlier passes left to the ContextCleaner, outside
    // the timed region, so every pass starts from the same heap state
    System.gc()
    if (traced) sc.addSparkListener(listener)
    tracer.enabled = traced
    val t0 = System.nanoTime()
    val runs = tracer("pass", "")(ops.map(runOp(_, traced)))
    val wall = ms(t0)
    tracer.enabled = false
    if (traced) {
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    PassRun(passNo, traced, wall, runs)
  }

  /** Runs every op once, writing its full output as parquet for the
    * oracle check, plus the auxiliary tables the oracles read. Returns
    * op name -> error for ops that threw.
    */
  def writeCheckOutputs(outDir: String, auxDir: String): Map[String, String] = {
    val oracles = SparkEntry.oracleSql
    val wanted = ops.flatMap(o => oracles.get(o.query)).mkString(" ")
    // the recipe graft.Verify uses for oracle-side inputs DuckDB cannot
    // compute (the MinHash hash family)
    if (wanted.contains("/tmp/graft_aux/minhash_sigs"))
      Tables.documents(spark, in)
        .select(col("doc_id"), graft.functions.minhash_signature(col("text"), 64, 3).as("sig"))
        .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/minhash_sigs")
    val errors = ops.flatMap { op =>
      try {
        withConf(op)(SparkEntry.queries(op.query)(spark, in)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/${op.name}"))
        None
      } catch {
        case e: Throwable => Some(op.name -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally release()
    }.toMap
    val json = ops.flatMap(o => oracles.get(o.query).map { sql =>
      Util.jsonString(o.name) + ":" + Util.jsonString(sql.replace("/tmp/graft_aux", auxDir))
    }).mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    errors
  }

  /** Median over `reps` repetitions of the time of `body`, in ms. */
  private def medianMs(reps: Int)(body: => Unit): Double =
    Util.median((1 to reps).map { _ => val t = System.nanoTime(); body; ms(t) })

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Layer probes that run outside the passes, listener attached: table
    * loading, the hashing functions, and the near-dup artifact store.
    */
  def probes(): Map[String, Double] = {
    sc.addSparkListener(listener)
    val tables = Option(new File(in).list()).getOrElse(Array.empty[String])
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted.toSeq
    sc.setJobGroup("probe/tables", "tables")
    val readMs = medianMs(3)(tables.foreach(Tables.read(spark, in, _)))
    sc.setJobGroup("probe/functions", "functions")
    val has = tables.toSet
    def fn(table: String)(select: DataFrame => DataFrame): Double =
      if (!has(table)) 0.0 else medianMs(3)(noop(select(Tables.read(spark, in, table))))
    val minhash = fn("documents")(_.select(graft.functions.minhash_signature(col("text"), 64, 3)))
    val simhash = fn("documents")(_.select(graft.functions.simhash64(col("text"), 2)))
    val cosine = fn("embeddings")(_.select(graft.functions.cosine_lsh_keys(col("embedding"))))
    val sources =
      if (has("documents")) artifactProbe() else artifactMetrics.map(_ -> 0.0).toMap
    sc.clearJobGroup()
    ListenerBusDrain(sc)
    sc.removeSparkListener(listener)
    Map(
      "tables.read_ms" -> readMs,
      "tables.infer_jobs" -> listener.total(_ == "probe/tables").jobs / 3.0,
      "functions.minhash_ms" -> minhash, "functions.simhash_ms" -> simhash,
      "functions.cosine_lsh_ms" -> cosine) ++ sources
  }

  private val artifactMetrics = Seq("sources.dedup_build_ms", "sources.files_written",
    "sources.stored_mb", "sources.snapshot_read_ms")

  /** Builds the near-dup artifacts (pairs, labels, manifest, BPE merges)
    * twice into fresh directories and reports the second build, then
    * reads every snapshot table it wrote.
    */
  private def artifactProbe(): Map[String, Double] = {
    val base = s"$work/artifacts"
    def build(i: Int): (String, Double) = {
      val dir = s"$base/$i"
      spark.conf.set("graft.dedup.artifacts", dir)
      sc.setJobGroup("probe/sources", "sources")
      val t = System.nanoTime()
      DedupArtifactStore.buildFor(spark, in)
      val buildMs = ms(t)
      release()
      spark.conf.unset("graft.dedup.artifacts")
      (dir, buildMs)
    }
    build(0)
    val (dir, buildMs) = build(1)
    val (bytes, files) = Util.treeSize(new File(dir))
    val snaps = Util.dirs(new File(dir))
      .filter(d => graft.sources.SnapshotTable.exists(spark, d.getPath))
    val readMs = medianMs(3)(snaps.foreach(d =>
      noop(graft.sources.SnapshotTable.read(spark, d.getPath))))
    Util.deleteTree(new File(base))
    artifactMetrics.zip(Seq(buildMs, files.toDouble, bytes / 1e6, readMs)).toMap
  }
}

/** A fixed CPU task that does not touch graft or Spark: one integer
  * loop on each of `threads` threads at once. The run times it before
  * the first pass, before each measured pass and at the end, so that a
  * run made while the machine was slow shows as one.
  */
object Calibration {
  @volatile private var sink = 0L

  private def spin(n: Int): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  /** Wall time in ms of `threads` threads each running the loop once. */
  def ms(threads: Int): Double = {
    val t = System.nanoTime()
    val workers = (1 to threads).map(_ => new Thread(() => sink ^= spin(100000000)))
    workers.foreach(_.start())
    workers.foreach(_.join())
    (System.nanoTime() - t) / 1e6
  }
}

object Main {
  /** Noop passes of set-up, before the measured passes. A fixed count,
    * so that every run measures from the same point of the JVM's warm-up.
    */
  private val WarmupPasses = 3

  private def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      // the settings graft.Bench runs under
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "90s")
      // keep every file the run writes inside its work directory
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ops = Workloads.all(opt("workload"))
    val (in, work) = (opt("input"), opt("work"))
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt

    val spark = session(cpus, work)
    val sessionMs = System.currentTimeMillis()
    val client = new Client(spark, in, work, ops)

    // Set-up: the calibration loop's own JIT warm-up, then WarmupPasses
    // noop passes, the first of which runs every plan cold (JIT,
    // whole-stage codegen and file caches settle).
    val calib = mutable.ArrayBuffer.fill(3)(Calibration.ms(cpus)).takeRight(1)
    val warm = (1 to WarmupPasses).map(_ => client.pass(traced = false).wallMs)
    val leveled = warm.last >= 0.97 * warm(warm.size - 2)
    val setupEndMs = System.currentTimeMillis()

    val passes = mutable.ArrayBuffer.empty[PassRun]
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    while (passes.size < (if (traced) 4 else 3) || elapsed < seconds) {
      calib += Calibration.ms(cpus)
      // traced runs alternate untraced and traced passes, so both sides
      // of the tracing-overhead difference see the same conditions
      passes += client.pass(traced = traced && passes.size % 2 == 1)
    }
    calib += Calibration.ms(cpus)

    // the correctness pass, outside set-up and the timed passes: every op
    // once more, writing its full output for the oracle check
    val tCheck = System.nanoTime()
    val checkErrors = client.writeCheckOutputs(s"$work/check", s"$work/aux")
    val checkMs = (System.nanoTime() - tCheck) / 1e6

    val layers =
      if (traced) Metrics.layers(client, passes.toSeq, client.probes())
      else Map.empty[String, Double]
    if (traced) {
      client.tracer.writeJsonLines(Paths.get(s"$work/spans.jsonl"))
      client.listener.writeJsonLines(Paths.get(s"$work/work_by_group.jsonl"))
    }
    spark.stop()

    val untraced = passes.filterNot(_.traced).toSeq
    val runErrors = passes.flatMap(_.ops).flatMap(o => o.error.map(o.op -> _)).toMap
    def errs(m: Map[String, String]) = Util.jsonObject(m.map { case (k, v) => k -> Util.jsonString(v) })
    val result = Map(
      "session_ms" -> sessionMs.toString,
      "check_pass_s" -> Util.num(checkMs / 1e3),
      "setup_end_ms" -> setupEndMs.toString,
      "warmup_pass_s" -> Util.jsonArray(warm.map(_ / 1e3)),
      "warmup_leveled" -> leveled.toString,
      "calib_ms" -> Util.jsonArray(calib),
      "pass_s" -> Util.jsonArray(untraced.map(_.wallMs / 1e3)),
      "peak_cached_mb" -> Util.jsonArray(untraced.map(p => p.ops.map(_.cachedBytes).max / 1e6)),
      "op_ms" -> Util.jsonObject(ops.map(o => o.name ->
        Util.num(Util.median(untraced.flatMap(_.ops.filter(_.op == o.name).map(_.wallMs)))))),
      "ops" -> ops.map(o => Util.jsonString(o.name)).mkString("[", ",", "]"),
      "attempted" -> passes.map(_.ops.size).sum.toString,
      "failed" -> passes.map(_.ops.count(_.error.isDefined)).sum.toString,
      "run_errors" -> errs(runErrors),
      "check_errors" -> errs(checkErrors),
      "layers" -> Util.jsonObject(layers.map { case (k, v) => k -> Util.num(v) }))
    Files.writeString(Paths.get(s"$work/result.json"), Util.jsonObject(result))
  }
}

object Metrics {
  private def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Util.median(xs)

  /** Per-layer metrics of a traced run: sums over each traced pass,
    * reported as the median across those passes. Per-op times come from
    * the run's untraced passes.
    */
  def layers(client: Client, passes: Seq[PassRun], probes: Map[String, Double]): Map[String, Double] = {
    val traced = passes.filter(_.traced)
    val untraced = passes.filterNot(_.traced)
    val nproc = Runtime.getRuntime.availableProcessors()
    def perPass(f: PassRun => Double): Double = median(traced.map(f))
    def work(p: PassRun, phase: String) =
      client.listener.total(g => g.startsWith(s"p${p.no}/") && g.endsWith(s"/$phase"))
    val spans = client.tracer.spans.toSeq
    val self = client.tracer.selfMs(spans)
    val passSpans = spans.filter(_.name == "pass")
    def inPass(name: String)(f: Span => Double): Double = median(passSpans.map(p =>
      spans.filter(s => s.name == name && s.start >= p.start && s.end <= p.end).map(f).sum))
    val selfTimes = Seq("pass", "op", "call", "plan", "action", "release")
      .map(n => s"self.${n}_ms" -> inPass(n)(s => self(s.id)))
    val opMs = Workloads.all.values.flatten.map(_.name).toSeq.sorted.map { n =>
      s"op.${n}_ms" -> median(untraced.flatMap(_.ops.filter(_.op == n).map(_.wallMs)))
    }
    val exec = (p: PassRun) => work(p, "action")
    val execMs = (p: PassRun) => p.ops.map(_.actionMs).sum
    val mb = 1e6
    Map(
      "operators.call_ms" -> perPass(_.ops.map(_.callMs).sum),
      "operators.call_jobs" -> perPass(p => work(p, "call").jobs.toDouble),
      "operators.call_share" -> perPass(p => p.ops.map(_.callMs).sum / p.ops.map(_.wallMs).sum),
      "plan.ms" -> inPass("plan")(_.ms),
      "exec.ms" -> perPass(execMs),
      "exec.jobs" -> perPass(exec(_).jobs.toDouble),
      "exec.stages" -> perPass(exec(_).stages.toDouble),
      "exec.tasks" -> perPass(exec(_).tasks.toDouble),
      "exec.task_run_ms" -> perPass(exec(_).runMs.toDouble),
      "exec.task_cpu_ms" -> perPass(exec(_).cpuNs / 1e6),
      "exec.gc_ms" -> perPass(exec(_).gcMs.toDouble),
      "exec.sched_wait_ms" -> perPass(exec(_).waitMs.toDouble),
      "exec.core_busy" -> perPass(p => exec(p).runMs / (execMs(p) * nproc)),
      "exec.shuffle_write_mb" -> perPass(exec(_).shuffleWrite / mb),
      "exec.shuffle_read_mb" -> perPass(exec(_).shuffleRead / mb),
      "exec.spill_mb" -> perPass(exec(_).spill / mb),
      "exec.input_mb" -> perPass(exec(_).input / mb),
      "exec.task_failures" -> perPass(exec(_).taskFailures.toDouble),
      "api.release_ms" -> perPass(_.ops.map(_.releaseMs).sum),
      "api.cached_mb" -> perPass(_.ops.map(_.cachedBytes).max / mb),
      "api.untracked_rdds" -> perPass(_.ops.map(_.untrackedRdds).sum.toDouble),
      "trace.untraced_pass_s" -> median(untraced.map(_.wallMs / 1e3)),
      "trace.traced_pass_s" -> median(traced.map(_.wallMs / 1e3)),
      "trace.overhead_s" -> (median(traced.map(_.wallMs)) - median(untraced.map(_.wallMs))) / 1e3,
    ) ++ selfTimes ++ opMs ++ probes
  }
}

object Util {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def jsonArray(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")

  def jsonObject(kv: Iterable[(String, String)]): String =
    kv.toSeq.sortBy(_._1).map { case (k, v) => jsonString(k) + ":" + v }.mkString("{", ",", "}")

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** (bytes, file count) of the regular files under `f`. */
  def treeSize(f: File): (Long, Int) =
    if (f.isFile) (f.length(), 1)
    else Option(f.listFiles()).toSeq.flatten.map(treeSize)
      .foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  /** Every directory under `f`, `f` included. */
  def dirs(f: File): Seq[File] =
    if (!f.isDirectory) Nil
    else f +: Option(f.listFiles()).toSeq.flatten.flatMap(dirs)
}
