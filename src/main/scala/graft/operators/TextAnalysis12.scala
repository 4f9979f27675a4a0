package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.api.GraftOps.{GramKey, wordGrams}

/** Round 13: corpus novelty accounting — the curve a crawl/ingest
  * pipeline watches to decide when a source is EXHAUSTED (novelty per
  * arrival decile falling toward zero means new batches re-deliver old
  * n-grams and the marginal training token is a duplicate).
  */
object TextAnalysis12 {
  type Q = (SparkSession, String) => DataFrame

  // ---- t46: prefix-novelty curve ----
  // Docs ordered by arrival (doc_id); a doc's novelty is the share of
  // its DISTINCT 3-gram shingles whose corpus-wide FIRST occurrence is
  // this doc. Rolled to 10 arrival buckets (doc_id range arithmetic —
  // integer div, NO unpartitioned window). Engine shape: one shingle
  // explode (linear, persisted — both aggregates read one cache), a
  // min-aggregate per shingle (the only shuffle at gram cardinality),
  // and — the r13 restructure — n_new per doc derived from THAT
  // aggregate alone: n_new(doc) = |{g : first(g) = doc}|, i.e. a
  // doc-keyed rollup of the gram table, so the gram-keyed
  // postings⋈first join the first formulation paid (re-shuffling every
  // posting a second time) is gone outright; the per-doc frames meet
  // in one doc-keyed join of two doc-count-sized aggregates. Measured
  // 3.7 s -> 0.8–0.9 s at sf0.1 (the postings⋈first SortMergeJoin is
  // gone; n_new arrives by BroadcastHashJoin of a doc-sized rollup —
  // plans/r13/t46_prefix_novelty_{before,after}.txt). At 100 TB
  // the gram table is the d38 df-histogram working set, and
  // novelty-by-arrival is exactly the incremental-dedup ledger d09
  // maintains, read as a curve.
  val t46_prefix_novelty: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val sh = docs
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"),
        explode(expr(s"array_distinct(${wordGrams("words", 3, GramKey.Text)})"))
          .as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val first = sh.groupBy("sh").agg(min("doc_id").as("first_doc"))
    val nNew = first.groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_new"))
    val perDoc = sh.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"))
      .join(nNew, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_new"))
    val mm = docs.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
    perDoc.crossJoin(broadcast(mm))
      .withColumn("bucket",
        expr("least(CAST(9 AS BIGINT), " +
          "(doc_id - lo) * 10 div (hi - lo + 1))"))
      .groupBy("bucket").agg(
        count(lit(1)).as("n_docs"),
        sum("n_new").as("new_shingles"),
        sum("n_shingles").as("total_shingles"))
      .withColumn("novelty",
        round(col("new_shingles").cast("double") /
          col("total_shingles").cast("double"), 9))
      .orderBy("bucket")
  }
  val t46Sql: String =
    """WITH w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
                       unnest(string_split(text,' ')) w FROM documents),
      g AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
            FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.i=a.i+1
                     JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2),
      dd AS (SELECT DISTINCT doc_id, sh FROM g),
      f AS (SELECT sh, min(doc_id) AS first_doc FROM dd GROUP BY 1),
      pd AS (SELECT dd.doc_id, count(*) AS n_shingles,
                    count(*) FILTER (WHERE f.first_doc = dd.doc_id) AS n_new
             FROM dd JOIN f ON dd.sh = f.sh GROUP BY 1),
      mm AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
      b AS (SELECT LEAST(9, (doc_id - lo) * 10 // (hi - lo + 1)) AS bucket,
                   n_shingles, n_new
            FROM pd, mm)
      SELECT bucket, count(*) AS n_docs,
             CAST(sum(n_new) AS BIGINT) AS new_shingles,
             CAST(sum(n_shingles) AS BIGINT) AS total_shingles,
             round(CAST(sum(n_new) AS DOUBLE)
                   / CAST(sum(n_shingles) AS DOUBLE), 9) AS novelty
      FROM b GROUP BY 1 ORDER BY 1"""

  val queries: Map[String, Q] = Map(
    "t46_prefix_novelty" -> t46_prefix_novelty,
  )
  val oracles: Map[String, String] = Map(
    "t46_prefix_novelty" -> t46Sql,
  )
}
