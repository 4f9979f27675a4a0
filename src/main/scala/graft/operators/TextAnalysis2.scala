package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.api.GraftOps.{GramKey, wordGrams}

/** Text analysis, part 2: PII redaction and repetition filtering — both
  * per-row narrow maps (no shuffle; scale linearly with input bytes).
  */
object TextAnalysis2 {
  type Q = (SparkSession, String) => DataFrame

  // ---- t06: PII redaction (emails / phone numbers) ----
  // The corpus tables carry no PII, so the query synthesizes a
  // deterministic contact string per customer and runs the real redaction
  // operator over it: regexp_replace chains + match counting. At scale
  // this is a zero-shuffle map over the text column.
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phoneRe = "\\+1-555-[0-9]{4}"

  /** The reusable operator: redact emails+phones in `text` col. */
  def redactPii(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(text, emailRe, "<EMAIL>"), phoneRe, "<PHONE>")

  val t06_pii_redact: Q = (s, d) => {
    val synth = Tables.customer(s, d).select(
      col("c_custkey"),
      concat(lit("Contact "), col("c_name"), lit(" at user"), col("c_custkey"),
        lit("@example.com or +1-555-"),
        lpad((col("c_custkey") * 7919 % 10000).cast("string"), 4, "0"),
        lit(" segment "), col("c_mktsegment")).as("contact"))
    synth.select(
        col("c_custkey"),
        redactPii(col("contact")).as("redacted"),
        size(regexp_extract_all(col("contact"), lit(emailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("contact"), lit(phoneRe), lit(0))).cast("long").as("n_phones"))
      .orderBy("c_custkey")
  }
  val t06Sql: String =
    """WITH synth AS (SELECT c_custkey,
             'Contact ' || c_name || ' at user' || c_custkey || '@example.com or +1-555-'
             || lpad(CAST(c_custkey * 7919 % 10000 AS VARCHAR), 4, '0')
             || ' segment ' || c_mktsegment AS contact
           FROM customer)
      SELECT c_custkey,
             regexp_replace(regexp_replace(contact,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS redacted,
             CAST(len(regexp_extract_all(contact,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(contact, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones
      FROM synth ORDER BY c_custkey"""

  // ---- t07: repetition metrics (Gopher-style quality filters) ----
  // Per document: duplicate word-2-gram fraction, duplicate 3-gram
  // fraction, and top-single-word frequency share. All computed inside
  // array expressions on the already-split word list — one pass per row,
  // no explode, no shuffle; the standard pre-training repetition filters
  // (Rae et al. 2021 "Gopher" §A1.2) at 100 TB cost = one scan.
  val t07_repetition: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .withColumn("g2", expr(wordGrams("words", 2, GramKey.Text)))
      .withColumn("g3", expr(wordGrams("words", 3, GramKey.Text)))
      .select(
        col("doc_id"),
        size(col("words")).cast("long").as("n_words"),
        round(expr("IF(size(g2) > 0, 1.0 - CAST(size(array_distinct(g2)) AS DOUBLE) / size(g2), 0.0)"), 9)
          .as("dup_2gram_frac"),
        round(expr("IF(size(g3) > 0, 1.0 - CAST(size(array_distinct(g3)) AS DOUBLE) / size(g3), 0.0)"), 9)
          .as("dup_3gram_frac"),
        round(expr(
          """CAST(array_max(transform(array_distinct(words),
               w -> size(filter(words, x -> x = w)))) AS DOUBLE) / size(words)"""), 9)
          .as("top_word_frac"))
      .orderBy("doc_id")
  }
  val t07Sql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      g AS (SELECT doc_id, words,
              CASE WHEN len(words) >= 2 THEN
                list_transform(generate_series(1, len(words) - 1),
                               i -> words[i] || ' ' || words[i + 1])
              ELSE [] END AS g2,
              CASE WHEN len(words) >= 3 THEN
                list_transform(generate_series(1, len(words) - 2),
                               i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])
              ELSE [] END AS g3
            FROM w)
      SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
             round(CASE WHEN len(g2) > 0
               THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) ELSE 0.0 END, 9)
               AS dup_2gram_frac,
             round(CASE WHEN len(g3) > 0
               THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) ELSE 0.0 END, 9)
               AS dup_3gram_frac,
             round(CAST(list_max(list_transform(list_distinct(words),
                     w -> len(list_filter(words, x -> x = w)))) AS DOUBLE)
                   / len(words), 9) AS top_word_frac
      FROM g ORDER BY doc_id"""

  // ---- t08: lexical-diversity metrics (entropy + type-token ratio) ----
  // Word-distribution Shannon entropy and TTR per document, computed
  // entirely inside array expressions — one narrow pass. Entropy uses ln;
  // cross-engine libm can drift in the last ulp, so values are rounded to
  // 7 decimals on both sides (drift is ~1e-15, eight orders below).
  val t08_entropy: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(
        col("doc_id"),
        size(col("words")).cast("long").as("n_words"),
        size(array_distinct(col("words"))).cast("long").as("n_types"),
        round(expr("CAST(size(array_distinct(words)) AS DOUBLE) / size(words)"), 9)
          .as("type_token_ratio"),
        round(expr(
          """-aggregate(
               transform(array_distinct(words),
                 w -> CAST(size(filter(words, x -> x = w)) AS DOUBLE) / size(words)),
               0D, (acc, p) -> acc + p * ln(p))"""), 7).as("word_entropy"))
      .orderBy("doc_id")
  }
  val t08Sql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
      SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(len(list_distinct(words)) AS BIGINT) AS n_types,
             round(CAST(len(list_distinct(words)) AS DOUBLE) / len(words), 9)
               AS type_token_ratio,
             round(-list_sum(list_transform(list_distinct(words),
               w -> (CAST(len(list_filter(words, x -> x = w)) AS DOUBLE) / len(words))
                    * ln(CAST(len(list_filter(words, x -> x = w)) AS DOUBLE) / len(words)))), 7)
               AS word_entropy
      FROM w ORDER BY doc_id"""

  // ---- t09: edit-distance verification of near-dup candidates ----
  // Levenshtein is O(len^2) per pair — never run it all-pairs. Here it
  // verifies only the already-verified near-dup pairs (a bounded
  // candidate set from the shingle/LSH stages), the same
  // cheap-filter-then-expensive-verify layering the whole dedup family
  // uses. Both engines implement the classic DP, so distances are
  // integer-exact.
  val t09_edit_distance: Q = (s, d) => {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    Dedup.verifiedPairs(s, d)
      .select("da", "db", "jaccard")
      .join(docs.select(col("doc_id").as("da"), col("text").as("ta")), "da")
      .join(docs.select(col("doc_id").as("db"), col("text").as("tb")), "db")
      .withColumn("lev", levenshtein(col("ta"), col("tb")).cast("long"))
      .withColumn("lev_sim",
        round(lit(1.0) - col("lev") / greatest(length(col("ta")), length(col("tb"))), 9))
      .select(col("da"), col("db"), round(col("jaccard"), 9).as("jaccard"),
        col("lev"), col("lev_sim"))
      .orderBy("da", "db")
  }
  val t09Sql: String =
    """WITH w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
                       unnest(string_split(text,' ')) w FROM documents),
      g AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
            FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.i=a.i+1
                     JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2),
      dd AS (SELECT DISTINCT doc_id, sh FROM g),
      sizes AS (SELECT doc_id, count(*) n FROM dd GROUP BY doc_id),
      pairs AS (SELECT x.doc_id da, y.doc_id db, count(*) shared
                FROM dd x JOIN dd y ON x.sh=y.sh AND x.doc_id<y.doc_id GROUP BY 1,2),
      v AS (SELECT da, db, CAST(shared AS DOUBLE)/(sa.n+sb.n-shared) AS jaccard
            FROM pairs JOIN sizes sa ON da=sa.doc_id JOIN sizes sb ON db=sb.doc_id
            WHERE CAST(shared AS DOUBLE)/(sa.n+sb.n-shared) >= 0.5)
      SELECT da, db, round(jaccard, 9) AS jaccard,
             CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS lev,
             round(1.0 - CAST(levenshtein(ta.text, tb.text) AS DOUBLE)
                   / greatest(len(ta.text), len(tb.text)), 9) AS lev_sim
      FROM v JOIN documents ta ON v.da = ta.doc_id
             JOIN documents tb ON v.db = tb.doc_id
      ORDER BY da, db"""

  // ---- t10: inverted-index posting statistics ----
  // The corpus-indexing primitive: per term, document frequency, total
  // term frequency, and the hottest posting. One explode + two hash
  // aggregations, both map-side combinable; the final stats table is
  // vocabulary-sized (≪ corpus), so the HAVING filter and sort are free.
  // At 100 TB this is the shape of a vocabulary/posting-list build: no
  // window over raw postings, no driver-side vocab.
  val t10_posting_stats: Q = (s, d) => {
    val tfs = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    tfs.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("total_tf"), max("tf").as("max_tf"))
      .filter(col("df") >= 50)
      .orderBy(desc("df"), desc("total_tf"), col("term"))
  }
  val t10Sql: String =
    """WITH p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tfs AS (SELECT term, doc_id, COUNT(*) AS tf FROM p GROUP BY 1, 2)
      SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf,
             max(tf) AS max_tf
      FROM tfs GROUP BY term HAVING COUNT(*) >= 50
      ORDER BY df DESC, total_tf DESC, term"""

  val queries: Map[String, Q] = Map(
    "t06_pii_redact"    -> t06_pii_redact,
    "t07_repetition"    -> t07_repetition,
    "t08_entropy"       -> t08_entropy,
    "t09_edit_distance" -> t09_edit_distance,
    "t10_posting_stats" -> t10_posting_stats,
  )
  val oracles: Map[String, String] = Map(
    "t06_pii_redact"    -> t06Sql,
    "t07_repetition"    -> t07Sql,
    "t08_entropy"       -> t08Sql,
    "t09_edit_distance" -> t09Sql,
    "t10_posting_stats" -> t10Sql,
  )
}
