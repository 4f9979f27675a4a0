package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.api.GraftOps.{GramKey, gramPositions, wordGrams}

/** Text analysis, part 9: corpus-level collocation mining. */
object TextAnalysis9 {
  type Q = (SparkSession, String) => DataFrame

  // ---- t23: PMI collocations (multi-word expression mining) ----
  // Pointwise mutual information over word bigrams — the standard
  // collocation signal (Church & Hanks 1990) behind phrase vocabulary
  // induction and tokenizer-merge candidates. Emitted as the PMI RATIO
  // p(xy)/(p(x)p(y)) rather than its log: every factor is an exact
  // integer count, so the score is a fixed parenthesization of IEEE
  // divisions/multiplies — bit-identical cross-engine with NO
  // transcendental (log) in the pipeline (ranking by ratio = ranking
  // by PMI; the log is monotone). Plan: one token explode feeds the
  // unigram count and (shifted against itself) the bigram count; both
  // aggregates are map-side combinable; corpus totals ride broadcast
  // scalar joins; the bigram->unigram attach is two joins on the word
  // key (vocab-sized, never corpus-sized); the global top-25 is
  // TakeOrderedAndProject on the rounded score with lexicographic
  // tiebreak (cross-engine ranking discipline). The n12 >= 5 floor is
  // the standard guard against PMI's rare-pair degeneracy.
  val t23_pmi_collocations: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val uni = toks
      .select(explode(col("w")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("nw"))
    val bi = toks
      .select(explode(expr(
        s"transform(${gramPositions("w", 2)}, i -> struct(w[i-1] AS w1, w[i] AS w2))"))
        .as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("n12"))
    val totU = uni.agg(sum("nw").cast("double").as("u"))
    val totB = bi.agg(sum("n12").cast("double").as("bt"))
    bi.filter(col("n12") >= 5)
      .join(uni.withColumnRenamed("word", "w1").withColumnRenamed("nw", "n1"), "w1")
      .join(uni.withColumnRenamed("word", "w2").withColumnRenamed("nw", "n2"), "w2")
      .crossJoin(broadcast(totU)).crossJoin(broadcast(totB))
      .withColumn("pmi_ratio", round(
        (col("n12").cast("double") / col("bt"))
          / ((col("n1").cast("double") / col("u"))
             * (col("n2").cast("double") / col("u"))), 6))
      .select("w1", "w2", "n12", "n1", "n2", "pmi_ratio")
      .orderBy(desc("pmi_ratio"), col("w1"), col("w2"))
      .limit(25)
  }
  val t23Sql: String =
    """WITH w AS (SELECT doc_id,
                       generate_subscripts(string_split(text, ' '), 1) AS i,
                       unnest(string_split(text, ' ')) AS word
               FROM documents),
      uni AS (SELECT word, COUNT(*) AS nw FROM w GROUP BY 1),
      b AS (SELECT a.word AS w1, c.word AS w2
            FROM w a JOIN w c ON a.doc_id = c.doc_id AND c.i = a.i + 1),
      bi AS (SELECT w1, w2, COUNT(*) AS n12 FROM b GROUP BY 1, 2),
      tu AS (SELECT CAST(SUM(nw) AS DOUBLE) AS u FROM uni),
      tb AS (SELECT CAST(SUM(n12) AS DOUBLE) AS bt FROM bi)
      SELECT w1, w2, n12, u1.nw AS n1, u2.nw AS n2,
             round((CAST(n12 AS DOUBLE) / bt)
                   / ((CAST(u1.nw AS DOUBLE) / u)
                      * (CAST(u2.nw AS DOUBLE) / u)), 6) AS pmi_ratio
      FROM bi
        JOIN uni u1 ON bi.w1 = u1.word
        JOIN uni u2 ON bi.w2 = u2.word, tu, tb
      WHERE n12 >= 5
      ORDER BY pmi_ratio DESC, w1, w2
      LIMIT 25"""

  // ---- t24: language-ID confusion audit ----
  // The classifier-vs-labels health check every corpus with both a
  // predicted and a declared language needs: the full confusion matrix
  // of t01's n-gram language ID against the catalog `lang` column,
  // with each cell's share of its true-label row. t01's per-doc
  // prediction is reused verbatim (same operator, same oracle SQL
  // spliced as a CTE — one definition, two consumers); the label
  // attach is a doc_id equi-join (at 100 TB the production form
  // carries `lang` through the scoring pass instead — the audit keeps
  // the join so it can run over any independently produced prediction
  // table, which is the actual use case: auditing someone else's
  // labels). Matrix is |langs|² — metadata-sized; shares are one IEEE
  // division of exact counts.
  val t24_lang_confusion: Q = (s, d) => {
    val pred = TextAnalysis.t01_lang_id(s, d).select("doc_id", "pred_lang")
    val cells = Tables.documents(s, d).select("doc_id", "lang")
      .join(pred, "doc_id")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy("lang").agg(sum("n").as("tot"))
    cells.join(broadcast(totals), "lang")
      .select(col("lang"), col("pred_lang"), col("n"),
        round(col("n").cast("double") / col("tot").cast("double"), 9)
          .as("share_of_lang"))
      .orderBy("lang", "pred_lang")
  }
  private val t01Core =
    TextAnalysis.t01Sql.substring(0, TextAnalysis.t01Sql.lastIndexOf("ORDER BY"))
  val t24Sql: String =
    s"""WITH t01 AS ($t01Core),
      cells AS (SELECT d.lang, t01.pred_lang, COUNT(*) AS n
                FROM documents d JOIN t01 ON d.doc_id = t01.doc_id
                GROUP BY 1, 2),
      tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS tot FROM cells GROUP BY 1)
      SELECT cells.lang, pred_lang, n,
             round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 9) AS share_of_lang
      FROM cells JOIN tot ON cells.lang = tot.lang
      ORDER BY cells.lang, pred_lang"""

  // ---- t25: boilerplate phrase density (cross-doc repeated 8-grams) ----
  // The curation signal CCNet/RefinedWeb strip on: word 8-grams that
  // recur across DISTINCT documents of the same source are boilerplate
  // (headers, footers, templates) — 8 random words repeating across
  // docs essentially never happens organically, so df>=2 at gram length
  // 8 is already a precise detector (the near/exact-dup clusters light
  // it up on this corpus). Per-doc output: distinct 8-grams, how many
  // are shared, and the boilerplate fraction a cleaning pass would
  // strip. Plan: grams dedup'd IN-ROW (array_distinct before explode),
  // one (source, gram-md5)-keyed doc-frequency aggregate (uniform
  // 128-bit keys), gram-keyed join back, per-doc rollup — never
  // doc x doc, linear in corpus grams at any scale.
  val t25_boilerplate: Q = (s, d) => {
    // r13 (the t46/d12 restructure, complement form): a doc's boiler
    // count is n_grams − n_unique, and a within-source df=1 gram's sole
    // owner is min(doc_id) of its posting — carried on the df aggregate
    // for free, so the per-doc counts come from a doc-keyed rollup of
    // the vocab-sized aggregate and the gram-keyed join-back of the
    // full posting table is gone. Gram keys ride as 16-byte
    // unhex(md5) (the d12 width discipline); the leading repartition
    // spreads the md5 8-gram explode on a one-row-group corpus. The
    // persisted postings feed the two aggregates from one explode.
    val grams = graft.api.GraftOps.spreadNarrowScan(Tables.documents(s, d))
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 8)
      .select(col("doc_id"), col("source"), explode(expr(
        s"array_distinct(${wordGrams("w", 8, GramKey.Md5)})")).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nUnique = grams.groupBy("source", "g")
      .agg(count(lit(1)).as("df"), min("doc_id").as("owner"))
      .filter(col("df") === 1)
      .groupBy(col("owner").as("doc_id"))
      .agg(count(lit(1)).as("n_unique"))
    grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      .join(nUnique, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_unique"))
      .withColumn("n_boiler", col("n_grams") - col("n_unique"))
      .withColumn("boiler_frac",
        round(col("n_boiler").cast("double") / col("n_grams"), 9))
      .select("doc_id", "n_grams", "n_boiler", "boiler_frac")
      .orderBy("doc_id")
  }
  val t25Sql: String =
    """WITH d0 AS (SELECT doc_id, source, string_split(text, ' ') AS w
               FROM documents WHERE len(string_split(text, ' ')) >= 8),
      g0 AS (SELECT doc_id, source,
               unnest(list_distinct(list_transform(
                 generate_series(1, len(w) - 7),
                 i -> md5(array_to_string(list_slice(w, i, i + 7), ' ')))))
                 AS g
             FROM d0),
      df AS (SELECT source, g, COUNT(*) AS df FROM g0 GROUP BY 1, 2)
      SELECT doc_id, COUNT(*) AS n_grams,
             CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boiler,
             round(CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*), 9) AS boiler_frac
      FROM g0 JOIN df USING (source, g)
      GROUP BY doc_id ORDER BY doc_id"""

  // ---- t26: encoding-health audit (mojibake / control-char census) ----
  // The ingest gate nobody writes until a bad crawl poisons a training
  // run: per source, how many docs carry U+FFFD replacement characters
  // (the scar of a charset misdetection), C0 control characters
  // (binary bleed-through), or any non-ASCII at all, plus the mean
  // non-ASCII fraction. ONE narrow scan; every signal is a regexp
  // count over explicit codepoint classes (plain character ranges —
  // identical semantics in Java regex and RE2, no shorthand classes
  // whose Unicode tables could differ); fractions are exact-int
  // ratios, the mean rides the dsum decimal discipline. Combinable
  // source rollup — linear at any corpus size.
  val t26_encoding_audit: Q = (s, d) => {
    import graft.Stable.dsum
    val nonAscii = "[^\\x00-\\x7F]"
    val scored = Tables.documents(s, d)
      .withColumn("n_chars_m", length(col("text")).cast("long"))
      .withColumn("n_nonascii",
        (col("n_chars_m") -
          length(regexp_replace(col("text"), nonAscii, ""))).cast("long"))
      .withColumn("has_replacement", col("text").contains("�"))
      .withColumn("has_control",
        col("text").rlike("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"))
    scored.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("has_replacement"), 1)).as("n_replacement_docs"),
        count(when(col("has_control"), 1)).as("n_control_docs"),
        count(when(col("n_nonascii") > 0, 1)).as("n_nonascii_docs"),
        round(dsum(col("n_nonascii").cast("double")
          / col("n_chars_m").cast("double"))
          / count(lit(1)), 9).as("mean_nonascii_frac"))
      .orderBy("source")
  }
  val t26Sql: String =
    s"""WITH sc AS (
        SELECT source,
               CAST(length(text) AS BIGINT) AS n_chars_m,
               CAST(length(text)
                    - length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g'))
                 AS BIGINT) AS n_nonascii,
               contains(text, chr(65533)) AS has_replacement,
               regexp_matches(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]')
                 AS has_control
        FROM documents)
      SELECT source, COUNT(*) AS n_docs,
             COUNT(*) FILTER (WHERE has_replacement) AS n_replacement_docs,
             COUNT(*) FILTER (WHERE has_control) AS n_control_docs,
             COUNT(*) FILTER (WHERE n_nonascii > 0) AS n_nonascii_docs,
             round(${graft.Stable.sqlSum(
               "CAST(n_nonascii AS DOUBLE) / CAST(n_chars_m AS DOUBLE)")}
                   / COUNT(*), 9) AS mean_nonascii_frac
      FROM sc GROUP BY 1 ORDER BY source"""

  // ---- t27: Heaps'-law vocabulary-growth fit ----
  // How fast does vocabulary grow with corpus size — the V = K·nᵝ law
  // that sizes tokenizer vocabularies and predicts dedup yield on the
  // next crawl. Scale-right construction: per-word FIRST-arrival doc
  // (one combinable min aggregate — never a cumulative distinct over a
  // sorted corpus) + per-doc token counts; ten checkpoints at doc-id
  // deciles (a broadcast percentile row); each checkpoint's vocab and
  // token totals are conditional sums over those two metadata-shaped
  // frames. The ln-ln least-squares fit follows the t16 discipline:
  // dsum moment sums, fixed parenthesization, one final rounding.
  val t27_heaps_fit: Q = (s, d) => {
    import graft.Stable.{dsum, sqlSum}
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(trim(col("text")), " ")).cast("long").as("n_words"))
    val firstSeen = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(min("doc_id").as("first_doc"))
    val cuts = docs.agg(expr(
      """percentile(doc_id, array(0.1D,0.2D,0.3D,0.4D,0.5D,
                                  0.6D,0.7D,0.8D,0.9D,1.0D))""").as("cs"))
    val perCut = cuts.select(posexplode(col("cs")).as(Seq("i", "cut")))
    val vocab = firstSeen.crossJoin(broadcast(perCut))
      .filter(col("first_doc") <= col("cut"))
      .groupBy("i", "cut").agg(count(lit(1)).as("vocab"))
    val toks = docs.crossJoin(broadcast(perCut))
      .filter(col("doc_id") <= col("cut"))
      .groupBy("i").agg(sum("n_words").as("tokens"))
    val pts = vocab.join(toks, "i")
      .select(log(col("tokens").cast("double")).as("x"),
        log(col("vocab").cast("double")).as("y"))
    pts.agg(count(lit(1)).as("n_points"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("x")).as("sxx"),
        dsum(col("x") * col("y")).as("sxy"))
      .select(col("n_points"),
        round((col("n_points") * col("sxy") - col("sx") * col("sy"))
          / (col("n_points") * col("sxx") - col("sx") * col("sx")), 6)
          .as("beta"),
        round((col("sy") * col("sxx") - col("sx") * col("sxy"))
          / (col("n_points") * col("sxx") - col("sx") * col("sx")), 6)
          .as("ln_k"))
  }
  val t27Sql: String = {
    import graft.Stable.sqlSum
    s"""WITH docs AS (SELECT doc_id,
                   CAST(len(string_split(trim(text), ' ')) AS BIGINT)
                     AS n_words
                FROM documents),
      fs AS (SELECT w, MIN(doc_id) AS first_doc
             FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                   FROM documents)
             WHERE w <> '' GROUP BY 1),
      cs AS (SELECT generate_subscripts(q, 1) - 1 AS i, unnest(q) AS cut
             FROM (SELECT quantile_cont(doc_id,
                     [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9,1.0]) AS q
                   FROM docs)),
      vc AS (SELECT i, COUNT(*) AS vocab
             FROM fs CROSS JOIN cs WHERE first_doc <= cut GROUP BY 1),
      tk AS (SELECT i, CAST(SUM(n_words) AS BIGINT) AS tokens
             FROM docs CROSS JOIN cs WHERE doc_id <= cut GROUP BY 1),
      p AS (SELECT ln(CAST(tokens AS DOUBLE)) AS x,
                   ln(CAST(vocab AS DOUBLE)) AS y
            FROM vc JOIN tk USING (i)),
      m AS (SELECT COUNT(*) AS n_points,
              ${sqlSum("x")} AS sx, ${sqlSum("y")} AS sy,
              ${sqlSum("x * x")} AS sxx, ${sqlSum("x * y")} AS sxy
            FROM p)
      SELECT n_points,
             round((n_points * sxy - sx * sy)
                   / (n_points * sxx - sx * sx), 6) AS beta,
             round((sy * sxx - sx * sxy)
                   / (n_points * sxx - sx * sx), 6) AS ln_k
      FROM m"""
  }

  // ---- t28: doc-start template census ----
  // Scraped corpora are full of documents that OPEN identically but
  // diverge after the boilerplate header — invisible to exact dedup
  // (bodies differ) and complementary to t25 (which looks at 8-grams
  // anywhere). Key = the first 10 words; families with ≥ 2 docs split
  // into exact duplicates (one distinct body) vs templates (several
  // bodies behind one opening). One narrow prefix-hash pass, one
  // 16-byte-key aggregate, constant rollup — payloads never shuffle.
  val t28_template_census: Q = (s, d) => {
    val keyed = Tables.documents(s, d)
      .withColumn("title_h",
        unhex(md5(expr("concat_ws(' ', slice(split(trim(text), ' '), 1, 10))"))))
      .withColumn("body_h", unhex(md5(col("text"))))
    val fams = keyed.groupBy("title_h")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("body_h")).as("n_bodies"))
      .filter(col("n_docs") >= 2)
      .withColumn("family_type",
        when(col("n_bodies") === 1, lit("exact_dup")).otherwise(lit("template")))
    fams.groupBy("family_type")
      .agg(count(lit(1)).as("n_families"),
        sum("n_docs").as("n_docs"),
        sum("n_bodies").as("n_distinct_bodies"))
      .orderBy("family_type")
  }
  val t28Sql: String =
    """WITH k AS (
        SELECT md5(array_to_string(string_split(trim(text), ' ')[1:10], ' '))
                 AS title_h,
               md5(text) AS body_h
        FROM documents),
      f AS (SELECT title_h, COUNT(*) AS n_docs,
              CAST(COUNT(DISTINCT body_h) AS BIGINT) AS n_bodies
            FROM k GROUP BY 1 HAVING COUNT(*) >= 2),
      t AS (SELECT CASE WHEN n_bodies = 1 THEN 'exact_dup'
                        ELSE 'template' END AS family_type,
                   n_docs, n_bodies FROM f)
      SELECT family_type, COUNT(*) AS n_families,
             CAST(SUM(n_docs) AS BIGINT) AS n_docs,
             CAST(SUM(n_bodies) AS BIGINT) AS n_distinct_bodies
      FROM t GROUP BY 1 ORDER BY family_type"""

  // ---- t29: leave-one-source-out smoothed LM scoring ----
  // t11 scores each doc under a bigram LM trained on the WHOLE corpus —
  // which lets a big source certify its own text as fluent (the
  // self-preference trap every LM-quality-filter paper warns about).
  // t29 removes it: each doc is scored under the model trained on all
  // the OTHER sources, computed without building per-holdout models —
  // leave-one-out counts are just global-minus-own (c12_loo =
  // c12_global − c12_own_source), so ONE global count table and ONE
  // per-source count table serve every holdout simultaneously.
  // Add-one smoothing over the global vocabulary V handles bigrams the
  // held-out model never saw (P = (c12_loo+1)/(c1_loo+V)); all counts
  // are exact int64, the probability is a single IEEE division, the
  // per-row log is rounded at 1e-9, and the doc sum runs in decimal —
  // partitioning-independent. Scale: the count tables are
  // vocab(²)-bounded (broadcast-able), the explode is persisted once,
  // and every aggregation is map-side combinable; nothing pairs docs.
  val t29_loo_perplexity: Q = (s, d) => {
    import org.apache.spark.storage.StorageLevel
    // r13 restructure: the first formulation chained FOUR joins onto the
    // full posting table (keys (w1,w2), (source,w1,w2), (w1),
    // (source,w1)) — four postings-scale exchanges. The log-prob is a
    // function of (source, w1, w2) alone, so the count tables now join
    // into ONE vocab²-bounded lp table (c2s is its spine — every
    // posting's (source,w1,w2) appears in c2s by construction) and the
    // postings pay a single join. 4 postings-scale exchanges → 1; the
    // per-row lp values, their decimal doc-sum, and the output are
    // bit-identical. The leading repartition spreads the bigram explode
    // on a one-row-group corpus.
    val bigrams = graft.api.GraftOps.spreadNarrowScan(Tables.documents(s, d))
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("source"), explode(expr(
        s"transform(${gramPositions("w", 2)}, i -> struct(w[i-1] AS w1, w[i] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("source"), col("b.w1"), col("b.w2"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val c2g = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12g"))
    val c2s = bigrams.groupBy("source", "w1", "w2").agg(count(lit(1)).as("c12s"))
    val c1g = bigrams.groupBy("w1").agg(count(lit(1)).as("c1g"))
    val c1s = bigrams.groupBy("source", "w1").agg(count(lit(1)).as("c1s"))
    val v   = bigrams.agg(count_distinct(col("w1")).as("v"))
    val lpTbl = c2s
      .join(c2g, Seq("w1", "w2"))
      .join(c1s, Seq("source", "w1"))
      .join(c1g, Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("lp", round(log(
        (col("c12g") - col("c12s") + lit(1)).cast("double") /
          (col("c1g") - col("c1s") + col("v")).cast("double")), 9))
      .select("source", "w1", "w2", "lp")
    // explicit hint: lpTbl is vocab²-bounded (the scaladoc's standing
    // claim) but sits behind a 4-way join whose size estimate is
    // garbage — without the hint Spark broadcast the 1.5M-row POSTINGS
    // cache instead (accurate cached stats beat an inflated estimate)
    // and streamed the tiny lp table
    val out = bigrams
      .join(broadcast(lpTbl), Seq("source", "w1", "w2"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_bigrams"),
        round(-(sum(col("lp").cast("decimal(30,10)")).cast("double") / count(lit(1))), 6)
          .as("loo_nll"))
      .orderBy("doc_id")
    out
  }
  val t29Sql: String =
    """WITH w AS (SELECT doc_id, source,
                    generate_subscripts(string_split(text,' '),1) i,
                    unnest(string_split(text,' ')) w FROM documents),
      b AS (SELECT a.doc_id, a.source, a.w AS w1, c.w AS w2
            FROM w a JOIN w c ON a.doc_id = c.doc_id AND c.i = a.i + 1),
      c2g AS (SELECT w1, w2, COUNT(*) AS c12g FROM b GROUP BY 1, 2),
      c2s AS (SELECT source, w1, w2, COUNT(*) AS c12s FROM b GROUP BY 1, 2, 3),
      c1g AS (SELECT w1, COUNT(*) AS c1g FROM b GROUP BY 1),
      c1s AS (SELECT source, w1, COUNT(*) AS c1s FROM b GROUP BY 1, 2),
      v AS (SELECT COUNT(DISTINCT w1) AS v FROM b),
      sc AS (SELECT doc_id, source,
               round(ln(CAST(c12g - c12s + 1 AS DOUBLE)
                        / CAST(c1g - c1s + v AS DOUBLE)), 9) AS lp
             FROM b JOIN c2g USING (w1, w2)
                    JOIN c2s USING (source, w1, w2)
                    JOIN c1g USING (w1)
                    JOIN c1s USING (source, w1)
                    CROSS JOIN v)
      SELECT doc_id, source, COUNT(*) AS n_bigrams,
             round(-(CAST(SUM(CAST(lp AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*)), 6)
               AS loo_nll
      FROM sc GROUP BY 1, 2 ORDER BY doc_id"""

  // ---- t30: CCNet-style head/middle/tail bucket mix ----
  // The artifact the CCNet pipeline ships: every doc bucketed into
  // head / middle / tail by LM score WITHIN ITS LANGUAGE (per-language
  // terciles, so low-resource languages aren't all condemned to tail by
  // a high-resource model's fluency scale), then the (lang, bucket) mix
  // table that downstream sampling reads. Scoring reuses t11's bigram
  // LM verbatim; the tercile cut is ntile(3) over a lang-PARTITIONED
  // window ranking on the ROUNDED score with doc_id tie-break —
  // deterministic, engine-exact, and never an unpartitioned global
  // sort. Counts exact int64, mean score via decimal sums.
  val t30_ccnet_buckets: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val scored = TextAnalysis3.t11_bigram_lm(s, d)
      .select(col("doc_id"), col("lm_score"))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val w = Window.partitionBy("lang")
      .orderBy(col("lm_score").desc, col("doc_id"))
    scored.join(docs, "doc_id")
      .withColumn("nt", ntile(3).over(w))
      .withColumn("bucket",
        when(col("nt") === 1, "head")
          .when(col("nt") === 2, "middle").otherwise("tail"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        round(sum(col("lm_score").cast("decimal(30,10)")).cast("double")
          / count(lit(1)), 9).as("mean_lm_score"))
      .orderBy("lang", "bucket")
  }
  val t30Sql: String =
    s"""WITH t11 AS (${graft.operators.TextAnalysis3.t11Sql}),
      j AS (SELECT t11.doc_id, lang, n_chars, lm_score,
              ntile(3) OVER (PARTITION BY lang
                             ORDER BY lm_score DESC, t11.doc_id) AS nt
            FROM t11 JOIN documents ON t11.doc_id = documents.doc_id)
      SELECT lang,
             CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS bucket,
             COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             round(CAST(SUM(CAST(lm_score AS DECIMAL(30,10))) AS DOUBLE)
                   / COUNT(*), 9) AS mean_lm_score
      FROM j GROUP BY 1, 2 ORDER BY lang, bucket"""

  // ---- t31: source stylometry (function-word cosine between sources) ----
  // Same author / same template behind two "different" sources? The
  // classic stylometric fingerprint: each source's usage profile over
  // the corpus's 20 most frequent words (the corpus-derived analogue of
  // a function-word list — topic-light, style-heavy), compared pairwise
  // by cosine. Cosine is scale-invariant, so the vectors stay RAW
  // INTEGER COUNTS — dot products and norms are exact decimal sums of
  // int products, one sqrt/division at the end, engine-bit-exact. The
  // basis is top-20 by (count, word) via TakeOrderedAndProject on the
  // vocab aggregate (no global sort materializes, no unpartitioned
  // window); the pair matrix is sources² — metadata-sized at any corpus
  // scale — and the only fact-scale work is the one token-count pass.
  val t31_source_stylometry: Q = (s, d) => {
    val tokens = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
    val basis = tokens.groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("w")).limit(20).select("w")
    val sc = tokens.join(broadcast(basis), "w")
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val norms = sc.groupBy("source")
      .agg(sum((col("c") * col("c")).cast("decimal(38,0)")).cast("long").as("nrm"))
    val dots = sc.select(col("source").as("src_a"), col("w"), col("c").as("ca"))
      .join(sc.select(col("source").as("src_b"), col("w"), col("c").as("cb")), "w")
      .where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(sum((col("ca") * col("cb")).cast("decimal(38,0)")).cast("long").as("dot"))
    dots
      .join(norms.select(col("source").as("src_a"), col("nrm").as("na")), "src_a")
      .join(norms.select(col("source").as("src_b"), col("nrm").as("nb")), "src_b")
      .select(col("src_a"), col("src_b"),
        round(col("dot").cast("double")
          / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 9)
          .as("style_cosine"))
      .orderBy("src_a", "src_b")
  }
  val t31Sql: String =
    """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
               FROM documents),
      basis AS (SELECT w FROM (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY 1)
                ORDER BY cnt DESC, w LIMIT 20),
      sc AS (SELECT source, tok.w, COUNT(*) AS c
             FROM tok JOIN basis ON tok.w = basis.w GROUP BY 1, 2),
      norms AS (SELECT source, CAST(SUM(c * c) AS BIGINT) AS nrm
                FROM sc GROUP BY 1),
      dots AS (SELECT x.source AS src_a, y.source AS src_b,
                 CAST(SUM(x.c * y.c) AS BIGINT) AS dot
               FROM sc x JOIN sc y ON x.w = y.w AND x.source < y.source
               GROUP BY 1, 2)
      SELECT src_a, src_b,
             round(CAST(dot AS DOUBLE)
                   / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))), 9)
               AS style_cosine
      FROM dots JOIN norms na ON na.source = src_a
                JOIN norms nb ON nb.source = src_b
      ORDER BY src_a, src_b"""

  // ---- t32: per-source bigram entropy rate ----
  // How predictable is each source's text? The conditional entropy
  // H(w2|w1) = −Σ c12·ln(c12/c1) / N per source — the
  // information-theoretic complement to t08's character entropy (t08
  // sees alphabet mix; this sees SEQUENCE predictability, which is
  // what separates templated boilerplate from organic prose even when
  // the vocabularies match). Per-row logs rounded at 1e-9; the
  // integer-weighted sum (c12 × rounded log — per-row IEEE identical)
  // runs in decimal, one division at the end. Count tables are
  // per-source-vocab-bounded; the explode is the one fact-scale pass.
  val t32_entropy_rate: Q = (s, d) => {
    val bigrams = Tables.documents(s, d)
      .select(col("source"), split(col("text"), " ").as("w"))
      .select(col("source"), explode(expr(
        s"transform(${gramPositions("w", 2)}, i -> struct(w[i-1] AS w1, w[i] AS w2))"))
        .as("b"))
      .select(col("source"), col("b.w1"), col("b.w2"))
    val c2 = bigrams.groupBy("source", "w1", "w2")
      .agg(count(lit(1)).as("c12"))
    val c1 = c2.groupBy("source", "w1").agg(sum("c12").as("c1"))
    c2.join(c1, Seq("source", "w1"))
      .withColumn("term",
        col("c12") * round(log(col("c12").cast("double") / col("c1")), 9))
      .groupBy("source")
      .agg(sum("c12").as("n_bigrams"),
        count(lit(1)).as("vocab_bigrams"),
        round(-(sum(col("term").cast("decimal(30,8)")).cast("double"))
          / sum("c12").cast("double"), 6).as("entropy_rate_nats"))
      .orderBy("source")
  }
  val t32Sql: String =
    """WITH w AS (SELECT doc_id, source,
                    generate_subscripts(string_split(text,' '),1) i,
                    unnest(string_split(text,' ')) w FROM documents),
      b AS (SELECT a.source, a.w AS w1, c.w AS w2
            FROM w a JOIN w c ON a.doc_id = c.doc_id AND c.i = a.i + 1),
      c2 AS (SELECT source, w1, w2, COUNT(*) AS c12 FROM b GROUP BY 1, 2, 3),
      c1 AS (SELECT source, w1, CAST(SUM(c12) AS BIGINT) AS c1
             FROM c2 GROUP BY 1, 2),
      t AS (SELECT c2.source, c12,
              c12 * round(ln(CAST(c12 AS DOUBLE) / c1), 9) AS term
            FROM c2 JOIN c1 ON c2.source = c1.source AND c2.w1 = c1.w1)
      SELECT source, CAST(SUM(c12) AS BIGINT) AS n_bigrams,
             COUNT(*) AS vocab_bigrams,
             round(-(CAST(SUM(CAST(term AS DECIMAL(30,8))) AS DOUBLE))
                   / CAST(SUM(c12) AS DOUBLE), 6) AS entropy_rate_nats
      FROM t GROUP BY 1 ORDER BY source"""

  // ---- t33: template slot profile (how much of a family is boilerplate?) ----
  // t28 finds template families; this measures their SHAPE: for each
  // family, the word-level longest common prefix of its two
  // smallest-id members (deterministic representatives), as a fraction
  // of the shorter member — boilerplate_ratio ≈ 1 means a fixed header
  // with a tiny varying tail; ≈ 0 means the shared opening is all they
  // share. The rollup per family type is what decides whether span
  // dedup (d18) or whole-doc dedup is the right treatment. LCP is an
  // in-row array computation (zip_with equality + first-false
  // position — no UDF, fully codegen-friendly); representatives come
  // from two conditional-min aggregates on the family key; everything
  // else is a constant-size rollup.
  val t33_template_slots: Q = (s, d) => {
    val keyed = Tables.documents(s, d)
      .withColumn("title_h",
        md5(expr("concat_ws(' ', slice(split(trim(text), ' '), 1, 10))")))
      .withColumn("body_h", md5(col("text")))
    val fams = keyed
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("title_h").orderBy("doc_id")))
      .filter(col("rn") <= 2)
      .groupBy("title_h")
      .agg(count(lit(1)).as("n_reps"),
        count_distinct(col("body_h")).as("n_bodies_sample"),
        min(when(col("rn") === 1, col("text"))).as("ta"),
        min(when(col("rn") === 2, col("text"))).as("tb"),
        max("rn").as("max_rn"))
      .filter(col("max_rn") === 2)
    val sized = keyed.groupBy("title_h")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("body_h")).as("n_bodies"))
      .filter(col("n_docs") >= 2)
    fams.join(sized, "title_h")
      .withColumn("wa", split(col("ta"), " "))
      .withColumn("wb", split(col("tb"), " "))
      .withColumn("minlen", least(size(col("wa")), size(col("wb"))).cast("long"))
      .withColumn("mism",
        expr("array_position(zip_with(slice(wa, 1, int(minlen)), slice(wb, 1, int(minlen)), (x, y) -> x = y), false)"))
      .withColumn("lcp_words",
        when(col("mism") === 0, col("minlen")).otherwise(col("mism") - 1))
      .withColumn("family_type",
        when(col("n_bodies") === 1, lit("exact_dup")).otherwise(lit("template")))
      .withColumn("ratio", round(
        col("lcp_words").cast("double") / col("minlen").cast("double"), 9))
      .groupBy("family_type")
      .agg(count(lit(1)).as("n_families"),
        round(sum(col("ratio").cast("decimal(30,10)")).cast("double")
          / count(lit(1)), 9).as("mean_boilerplate_ratio"),
        round(min("ratio"), 9).as("min_ratio"),
        round(max("ratio"), 9).as("max_ratio"))
      .orderBy("family_type")
  }
  val t33Sql: String =
    """WITH k AS (SELECT doc_id, text,
             md5(array_to_string(string_split(trim(text), ' ')[1:10], ' '))
               AS title_h,
             md5(text) AS body_h
           FROM documents),
      reps AS (SELECT title_h, ta, tb FROM (
                 SELECT title_h,
                   MIN(CASE WHEN rn = 1 THEN text END) AS ta,
                   MIN(CASE WHEN rn = 2 THEN text END) AS tb,
                   MAX(rn) AS max_rn
                 FROM (SELECT title_h, text,
                         row_number() OVER (PARTITION BY title_h
                                            ORDER BY doc_id) AS rn
                       FROM k) r WHERE rn <= 2 GROUP BY 1)
               WHERE max_rn = 2),
      fams AS (SELECT title_h, COUNT(*) AS n_docs,
                 CAST(COUNT(DISTINCT body_h) AS BIGINT) AS n_bodies
               FROM k GROUP BY 1 HAVING COUNT(*) >= 2),
      lc AS (SELECT f.title_h, n_bodies,
               least(len(string_split(ta, ' ')), len(string_split(tb, ' ')))
                 AS minlen,
               list_position(list_transform(
                 range(1, least(len(string_split(ta, ' ')),
                                len(string_split(tb, ' '))) + 1),
                 i -> string_split(ta, ' ')[i] = string_split(tb, ' ')[i]),
                 false) AS mism
             FROM fams f JOIN reps USING (title_h)),
      pr AS (SELECT title_h,
               CASE WHEN n_bodies = 1 THEN 'exact_dup' ELSE 'template' END
                 AS family_type,
               round(CAST(CASE WHEN mism IS NULL OR mism = 0 THEN minlen
                               ELSE mism - 1 END AS DOUBLE)
                     / CAST(minlen AS DOUBLE), 9) AS ratio
             FROM lc)
      SELECT family_type, COUNT(*) AS n_families,
             round(CAST(SUM(CAST(ratio AS DECIMAL(30,10))) AS DOUBLE)
                   / COUNT(*), 9) AS mean_boilerplate_ratio,
             round(MIN(ratio), 9) AS min_ratio,
             round(MAX(ratio), 9) AS max_ratio
      FROM pr GROUP BY 1 ORDER BY family_type"""

  // ---- t34: cross-language template census ----
  // The same doc OPENING (first-10-words template key, t28's family
  // hash) carrying DIFFERENT language tags: either a lang-ID/routing
  // failure, or shared boilerplate shipped into every language shard —
  // both things a multilingual pipeline must know, because the same
  // template then leaks into every language's token budget and its
  // dedup family is split across language shards. One 16-byte prefix
  // hash (payloads never shuffle), per-key distinct-lang set, and the
  // (lang_a, lang_b) confusion census (in-row pair expansion of the
  // sorted lang set — bounded by language count, never key×key).
  val t34_lang_inconsistency: Q = (s, d) => {
    val hashed = Tables.documents(s, d)
      .select(md5(expr(
        "concat_ws(' ', slice(split(trim(text), ' '), 1, 10))")).as("h"),
        col("lang"))
    val perBody = hashed.distinct()
      .groupBy("h")
      .agg(sort_array(collect_set(col("lang"))).as("langs"))
      .filter(size(col("langs")) >= 2)
    perBody
      .select(explode(expr(
        """flatten(transform(langs, (x, i) ->
             transform(slice(langs, i + 2, size(langs)),
               y -> struct(x AS lang_a, y AS lang_b))))""")).as("p"))
      .groupBy(col("p.lang_a").as("lang_a"), col("p.lang_b").as("lang_b"))
      .agg(count(lit(1)).as("n_bodies"))
      .orderBy("lang_a", "lang_b")
  }
  val t34Sql: String =
    """WITH h AS (SELECT DISTINCT
             md5(array_to_string(string_split(trim(text), ' ')[1:10], ' '))
               AS h, lang
           FROM documents),
      pb AS (SELECT h FROM h GROUP BY h HAVING COUNT(DISTINCT lang) >= 2),
      pairs AS (SELECT x.lang AS lang_a, y.lang AS lang_b
                FROM h x JOIN h y ON x.h = y.h AND x.lang < y.lang
                WHERE x.h IN (SELECT h FROM pb))
      SELECT lang_a, lang_b, COUNT(*) AS n_bodies
      FROM pairs GROUP BY 1, 2 ORDER BY lang_a, lang_b"""

  val queries: Map[String, Q] = Map(
    "t34_lang_inconsistency" -> t34_lang_inconsistency,
    "t33_template_slots"    -> t33_template_slots,
    "t32_entropy_rate"      -> t32_entropy_rate,
    "t31_source_stylometry" -> t31_source_stylometry,
    "t23_pmi_collocations" -> t23_pmi_collocations,
    "t28_template_census"  -> t28_template_census,
    "t29_loo_perplexity"   -> t29_loo_perplexity,
    "t30_ccnet_buckets"    -> t30_ccnet_buckets,
    "t25_boilerplate"      -> t25_boilerplate,
    "t24_lang_confusion"   -> t24_lang_confusion,
    "t26_encoding_audit"   -> t26_encoding_audit,
    "t27_heaps_fit"        -> t27_heaps_fit,
  )
  val oracles: Map[String, String] = Map(
    "t23_pmi_collocations" -> t23Sql,
    "t28_template_census"  -> t28Sql,
    "t29_loo_perplexity"   -> t29Sql,
    "t30_ccnet_buckets"    -> t30Sql,
    "t31_source_stylometry" -> t31Sql,
    "t32_entropy_rate"      -> t32Sql,
    "t33_template_slots"    -> t33Sql,
    "t34_lang_inconsistency" -> t34Sql,
    "t24_lang_confusion"   -> t24Sql,
    "t25_boilerplate"      -> t25Sql,
    "t26_encoding_audit"   -> t26Sql,
    "t27_heaps_fit"        -> t27Sql,
  )
}
