package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.api.GraftOps.{GramKey, gramPositions, wordGrams}

/** Text analysis, part 3: statistical language-model scoring.
  */
object TextAnalysis3 {
  type Q = (SparkSession, String) => DataFrame

  // ---- t11: corpus bigram-LM fluency score per document ----
  // The classic LM-based quality filter (as in CCNet/Gopher pipelines,
  // here with an in-corpus bigram model instead of an external one):
  // score(doc) = mean log P(w_i | w_{i-1}), P = c(w1,w2) / c(w1·).
  // Bigram formation is a narrow array transform (no position
  // self-join); the two count tables are vocabulary-sized, so AQE turns
  // both probability-attach joins into broadcasts — per-doc scoring
  // stays one narrow pass over the exploded bigrams. Per-row log is
  // rounded at 1e-9 (transcendental ulp), then summed exactly in
  // decimal, so the score is partitioning-independent.
  val t11_bigram_lm: Q = (s, d) => {
    // spread the bigram explode on a one-row-group corpus (the
    // m10/jaccardJoin pattern), gated on scan parallelism
    // (GraftOps.spreadNarrowScan)
    val bigrams = graft.api.GraftOps.spreadNarrowScan(Tables.documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        s"transform(${gramPositions("w", 2)}, i -> struct(w[i-1] AS w1, w[i] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
      // persisted: the two count aggregations and the probe side are
      // three consumers of the exploded bigram table — the barrier
      // makes the explode run once instead of three times
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c2 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
    // r13 (the t29 restructure): lp is a function of (w1, w2) alone, so
    // the unigram counts join into the vocab²-bounded c2 table and the
    // postings pay ONE join instead of two — 2 postings-scale
    // exchanges → 1, per-row lp values bit-identical.
    val lpTbl = c2.join(c1, Seq("w1"))
      .withColumn("lp", round(log(col("c12").cast("double") / col("c1")), 9))
      .select("w1", "w2", "lp")
    // explicit hint — vocab²-bounded but estimate-opaque behind the
    // join; see t29's note (Spark otherwise broadcasts the postings)
    bigrams
      .join(broadcast(lpTbl), Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round((sum(col("lp").cast("decimal(30,10)")).cast("double") / count(lit(1))), 6)
          .as("lm_score"))
      .orderBy("doc_id")
  }
  val t11Sql: String =
    """WITH w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
                       unnest(string_split(text,' ')) w FROM documents),
      b AS (SELECT a.doc_id, a.w AS w1, c.w AS w2
            FROM w a JOIN w c ON a.doc_id = c.doc_id AND c.i = a.i + 1),
      c2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM b GROUP BY 1, 2),
      c1 AS (SELECT w1, COUNT(*) AS c1 FROM b GROUP BY 1),
      sc AS (SELECT doc_id, round(ln(CAST(c12 AS DOUBLE) / c1), 9) AS lp
             FROM b JOIN c2 USING (w1, w2) JOIN c1 USING (w1))
      SELECT doc_id, COUNT(*) AS n_bigrams,
             round(CAST(SUM(CAST(lp AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*), 6)
               AS lm_score
      FROM sc GROUP BY doc_id ORDER BY doc_id"""

  // ---- t12: per-document keyword extraction (top-3 TF-IDF terms) ----
  // t05's scoring + a per-doc top-k: ranking happens inside the
  // (doc_id)-partitioned window on the tf table — corpus-sized but
  // narrow — never on raw tokens. Ranking key is the ROUNDED score
  // (word as tie-break): transcendental ulp can't flip ranks between
  // engines, so the extracted keywords are engine-exact.
  val t12_keyword_extract: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
    // df falls out of tf for free: tf's rows ARE the distinct
    // (doc, word) pairs, so counting them per word needs no second
    // explode and no distinct; identical tf subplans on both join
    // sides share one shuffle via ReuseExchange (persist would only
    // add cache-write overhead — measured).
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfTbl = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(s, d).select(countDistinct("doc_id").as("n_docs"))
    val scored = tf.join(dfTbl, "word").join(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 9))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("tfidf"), col("word"))).cast("long"))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "word", "tf", "tfidf")
      .orderBy("doc_id", "rank")
  }
  val t12Sql: String =
    """WITH words AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents),
      w AS (SELECT * FROM words WHERE word <> ''),
      tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
      df AS (SELECT word, COUNT(*) AS df
             FROM (SELECT DISTINCT doc_id, word FROM w) GROUP BY 1),
      nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
      sc AS (SELECT doc_id, word, tf,
               round(tf * ln(CAST(n_docs AS DOUBLE) / df), 9) AS tfidf
             FROM tf JOIN df USING (word) CROSS JOIN nd),
      r AS (SELECT doc_id, word, tf, tfidf,
              row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rank
            FROM sc)
      SELECT doc_id, rank, word, tf, tfidf FROM r
      WHERE rank <= 3 ORDER BY doc_id, rank"""

  // ---- t13: train-eval contamination detector ----
  // The benchmark-leakage check every training corpus needs: for each
  // training doc, the fraction of its distinct 8-grams that appear
  // anywhere in the eval set (simulated: doc_id % 10 = 0 is "eval").
  // The eval side collapses to a DISTINCT 8-gram index (its size is the
  // eval corpus, tiny next to training), so the membership test is one
  // hash left-semi-style join keyed on the gram — never doc x doc. Docs
  // above threshold get flagged for removal.
  val t13_contamination: Q = (s, d) => {
    // gram keys are 128-bit md5 (binary(16), the d12 discipline): the
    // broadcast index and probe side carry 16-byte keys, not ~60-byte
    // strings, and the hit counts stay collision-exact at 1e12-gram
    // scale (64-bit keys made them probabilistic there)
    def grams(df: DataFrame) = df
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        s"array_distinct(${wordGrams("w", 8, GramKey.Md5)})")).as("g"))
    val docs = Tables.documents(s, d)
    val evalIdx = grams(docs.filter(col("doc_id") % 10 === 0))
      .select("g").distinct()
    val train = grams(docs.filter(col("doc_id") % 10 =!= 0))
    // eval benchmarks are MBs even when the training corpus is 100 TB:
    // broadcasting the distinct-gram index keeps the train gram table's
    // only shuffle the per-doc aggregation (vs also shuffling on gram).
    train
      .join(broadcast(evalIdx.withColumn("hit", lit(1L))), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("contamination",
        round(col("n_hits").cast("double") / col("n_grams"), 9))
      .filter(col("contamination") > 0.0)
      .orderBy("doc_id")
  }
  val t13Sql: String =
    """WITH w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
                       unnest(string_split(text,' ')) w FROM documents),
      g8 AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w || ' ' || d.w || ' ' ||
                    e.w || ' ' || f.w || ' ' || g.w || ' ' || h.w AS g
             FROM w a JOIN w b ON b.doc_id=a.doc_id AND b.i=a.i+1
                      JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2
                      JOIN w d ON d.doc_id=a.doc_id AND d.i=a.i+3
                      JOIN w e ON e.doc_id=a.doc_id AND e.i=a.i+4
                      JOIN w f ON f.doc_id=a.doc_id AND f.i=a.i+5
                      JOIN w g ON g.doc_id=a.doc_id AND g.i=a.i+6
                      JOIN w h ON h.doc_id=a.doc_id AND h.i=a.i+7),
      dd AS (SELECT DISTINCT doc_id, g FROM g8),
      ev AS (SELECT DISTINCT g FROM dd WHERE doc_id % 10 = 0),
      tr AS (SELECT doc_id, g FROM dd WHERE doc_id % 10 <> 0),
      sc AS (SELECT tr.doc_id, COUNT(*) AS n_grams,
               CAST(SUM(CASE WHEN ev.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
             FROM tr LEFT JOIN ev ON tr.g = ev.g GROUP BY tr.doc_id)
      SELECT doc_id, n_grams, n_hits,
             round(CAST(n_hits AS DOUBLE) / n_grams, 9) AS contamination
      FROM sc WHERE CAST(n_hits AS DOUBLE) / n_grams > 0.0
      ORDER BY doc_id"""

  val queries: Map[String, Q] = Map(
    "t11_bigram_lm"       -> t11_bigram_lm,
    "t12_keyword_extract" -> t12_keyword_extract,
    "t13_contamination"   -> t13_contamination,
  )
  val oracles: Map[String, String] = Map(
    "t11_bigram_lm"       -> t11Sql,
    "t12_keyword_extract" -> t12Sql,
    "t13_contamination"   -> t13Sql,
  )
}
