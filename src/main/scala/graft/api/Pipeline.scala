package graft.api

import org.apache.spark.sql.DataFrame

/** Minimal composition API mirroring the reference framework's ergonomics
  * (named transformation stages chained over a frame), Spark-first: each
  * stage is DataFrame => DataFrame, the whole pipeline stays one lazy
  * Catalyst plan (no materialization between stages), and `describe`
  * exposes the composed plan for audit.
  */
final case class Pipeline(stages: Vector[(String, DataFrame => DataFrame)]) {

  def andThen(name: String)(f: DataFrame => DataFrame): Pipeline =
    Pipeline(stages :+ (name -> f))

  /** Apply all stages; still lazy — one optimized plan end to end. */
  def run(input: DataFrame): DataFrame =
    stages.foldLeft(input) { case (df, (_, f)) => f(df) }

  /** Stage names + the final optimized plan (for logging/audit). */
  def describe(input: DataFrame): String = {
    val out = run(input)
    stages.map(_._1).mkString("stages: ", " -> ", "\n") +
      out.queryExecution.optimizedPlan.toString
  }

  /** Row count after each stage — forces one action per stage, so use on
    * samples / in tests, not in production plans.
    */
  def profile(input: DataFrame): Seq[(String, Long)] = {
    var df = input
    stages.map { case (name, f) => df = f(df); name -> df.count() }
  }

  /** Production-grade observability: tags each stage boundary with an
    * `observe` metric (rows out), collected DURING the normal action —
    * zero extra passes over the data, works at any scale (unlike
    * `profile`, which re-runs the plan per stage).
    *
    * One `Observation` per stage: the session's own observation manager
    * completes it for ANY action on the returned frame — count, write,
    * collect — including actions that wrap the plan in a fresh
    * QueryExecution, and no listener is added per call. Delivery is
    * async; `metrics()` waits up to 5 s in all, then returns the stages
    * that have arrived.
    */
  def runObserved(input: DataFrame): (DataFrame, () => Map[String, Long]) = {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{count, lit}
    import scala.concurrent.{Await, TimeoutException}
    import scala.concurrent.duration._
    val observed = stages.map { case (name, f) => (s"stage:$name", f, Observation()) }
    val out = observed.foldLeft(input) { case (df, (_, f, obs)) =>
      f(df).observe(obs, count(lit(1)).as("rows"))
    }
    val metrics = () => {
      val deadline = 5.seconds.fromNow
      observed.flatMap { case (key, _, obs) =>
        try Some(key -> Await.result(obs.future, deadline.timeLeft.max(Duration.Zero))
          .getLong(0))
        catch { case _: TimeoutException => None }
      }.toMap
    }
    (out, metrics)
  }
}

object Stage {
  /** A materialization barrier: persist the frame at this point so stages
    * that fan out over it (self-joins, multi-branch reuse) read the cached
    * result instead of recomputing the whole upstream plan per branch.
    * This is the Spark-idiomatic checkpoint you'd place before a self-join
    * at the 100 TB scale — upstream regex/normalization work runs once.
    */
  def materialize(name: String): (String, DataFrame => DataFrame) =
    name -> ((df: DataFrame) =>
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
}

object Pipeline {
  def apply(stages: (String, DataFrame => DataFrame)*): Pipeline =
    Pipeline(stages.toVector)
}
