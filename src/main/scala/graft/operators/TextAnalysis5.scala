package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Stable, Tables}
import graft.api.GraftOps.{GramKey, wordGrams}

/** Text analysis, part 5: corpus-level statistical modeling. */
object TextAnalysis5 {
  type Q = (SparkSession, String) => DataFrame

  // ---- t16: Zipf-law fit over the vocabulary ----
  // OLS of ln(freq) on ln(rank) — the standard corpus sanity check (a
  // natural corpus fits slope ~ -1; this synthetic one is near-uniform,
  // which the fit exposes). Unlike q59/t20 the fit needs EVERY word's
  // rank (ln r is a regressor), so top-k pruning can't apply; ranking
  // goes through GraftOps.globalRank — range-partitioned rank +
  // per-partition offsets — which keeps the 10⁸–10⁹-term web-scale
  // vocabulary off a single task. Moments are decimal-stable sums, and
  // the closed form solves in double, rounded 1e-6 to absorb
  // cross-engine FMA.
  val t16_zipf_fit: Q = (s, d) => {
    val words = Tables.documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
    val vocab = words.groupBy("word").agg(count(lit(1)).as("c"))
    val ranked = graft.api.GraftOps.globalRank(vocab, desc("c"), asc("word"))
    val pts = ranked.select(
      log(col("rank").cast("double")).as("x"), log(col("c").cast("double")).as("y"))
    pts.agg(
        count(lit(1)).as("n"),
        Stable.dsum(col("x")).as("sx"), Stable.dsum(col("y")).as("sy"),
        Stable.dsum(col("x") * col("x")).as("sxx"),
        Stable.dsum(col("x") * col("y")).as("sxy"))
      .select(col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
          / (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") * col("sxx") - col("sx") * col("sxy"))
          / (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("intercept"))
  }
  val t16Sql: String =
    s"""WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS word
                 FROM documents),
      v AS (SELECT word, COUNT(*) AS c FROM w WHERE word <> '' GROUP BY 1),
      rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, word) AS r FROM v),
      p AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y FROM rk),
      m AS (SELECT COUNT(*) AS n,
              ${Stable.sqlSum("x")} AS sx, ${Stable.sqlSum("y")} AS sy,
              ${Stable.sqlSum("x * x")} AS sxx, ${Stable.sqlSum("x * y")} AS sxy
            FROM p)
      SELECT n, round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
             round((sy * sxx - sx * sxy) / (n * sxx - sx * sx), 6) AS intercept
      FROM m"""

  // ---- t17: per-document n-gram novelty (arrival order) ----
  // For each doc, the fraction of its distinct 4-grams whose FIRST
  // corpus occurrence (by doc_id arrival order) is this doc — the
  // "novel text" signal used to value later-arriving data and to spot
  // scraped re-posts (complement of d12's contamination view). Plan:
  // one explode to distinct (doc, gram) postings, min(doc_id) per gram
  // (map-side combinable), one gram-keyed join back — linear in corpus
  // size, no doc x doc work, same scan discipline as d12.
  val t17_novelty: Q = (s, d) => {
    // gram keys are 128-bit md5 (binary(16), the d12 discipline): the
    // cached postings, the min-doc shuffle, and the join-back move
    // 16-byte keys, not strings, and first-occurrence counts stay
    // collision-exact at 1e12-gram scale
    // r13 (the t46 restructure): n_novel(doc) = |{g : first(g) = doc}|
    // is a doc-keyed rollup of the first-occurrence aggregate ITSELF —
    // the gram-keyed join-back of the full posting table (its second
    // postings-scale exchange) is gone outright; per-doc frames meet in
    // one doc-keyed left join. The leading repartition spreads the
    // md5 explode across cores on a one-row-group corpus.
    val grams = graft.api.GraftOps.spreadNarrowScan(Tables.documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        s"array_distinct(${wordGrams("w", 4, GramKey.Md5)})")).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nNovel = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
      .groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      .join(nNovel, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_grams"), 9))
      .select("doc_id", "n_grams", "n_novel", "novelty")
      .orderBy("doc_id")
  }
  val t17Sql: String =
    """WITH w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
                       unnest(string_split(text,' ')) w FROM documents),
      g4 AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w || ' ' || d.w AS g
             FROM w a JOIN w b ON b.doc_id=a.doc_id AND b.i=a.i+1
                      JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2
                      JOIN w d ON d.doc_id=a.doc_id AND d.i=a.i+3),
      dd AS (SELECT DISTINCT doc_id, g FROM g4),
      fs AS (SELECT g, min(doc_id) AS first_doc FROM dd GROUP BY g)
      SELECT doc_id, COUNT(*) AS n_grams,
             CAST(COUNT(*) FILTER (WHERE first_doc = doc_id) AS BIGINT) AS n_novel,
             round(CAST(COUNT(*) FILTER (WHERE first_doc = doc_id) AS DOUBLE)
               / COUNT(*), 9) AS novelty
      FROM dd JOIN fs USING (g)
      GROUP BY doc_id ORDER BY doc_id"""

  val queries: Map[String, Q] = Map(
    "t16_zipf_fit" -> t16_zipf_fit,
    "t17_novelty"  -> t17_novelty)
  val oracles: Map[String, String] = Map(
    "t16_zipf_fit" -> t16Sql,
    "t17_novelty"  -> t17Sql)
}
