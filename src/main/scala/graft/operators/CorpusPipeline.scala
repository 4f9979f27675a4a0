package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.api.{Pipeline, Stage}
import graft.api.GraftOps.{GramKey, wordGrams}

/** p01: the end-to-end training-corpus cleaning pipeline — the flagship
  * composition of the LLM-data operators (SURVEY.md §2), built with
  * [[graft.api.Pipeline]]:
  *
  *   quality filter -> exact dedup (md5 keeper) -> near-dup removal
  *   (word-3-gram Jaccard >= 0.5 against a smaller-id survivor) -> stats
  *
  * Every stage is a narrow map or a uniform hash-key shuffle; nothing is
  * all-pairs. The whole pipeline is one lazy Catalyst plan and is verified
  * end-to-end against a DuckDB CTE oracle replicating each stage.
  */
object CorpusPipeline {
  type Q = (SparkSession, String) => DataFrame

  private val normExpr = "trim(regexp_replace(lower(text), '\\\\s+', ' '))"

  val p01_corpus_clean: Q = (s, d) => {
    val qualityFilter: DataFrame => DataFrame = df => {
      val withQ = df
        .withColumn("n_chars_m", length(col("text")).cast("long"))
        .withColumn("n_words", size(split(trim(col("text")), " ")).cast("long"))
        .withColumn("n_alnum", length(regexp_replace(col("text"), "[^A-Za-z0-9]", "")).cast("long"))
        .withColumn("quality",
          lit(0.5) * least(lit(1.0), col("n_words").cast("double") / 100.0)
            + lit(0.5) * (col("n_alnum").cast("double") / col("n_chars_m")))
      withQ.filter(col("quality") >= 0.6)
    }

    // keeper = min(doc_id) per hash via groupBy, then semi-join back: the
    // wide shuffle moves only (hash, doc_id) pairs, not document payloads
    // — the pattern that matters when each row carries megabytes.
    val exactDedup: DataFrame => DataFrame = df => {
      val keepers = df
        .select(md5(expr(normExpr)).as("h"), col("doc_id"))
        .groupBy("h").agg(min("doc_id").as("keeper"))
        .select(col("keeper"))
      df.join(keepers, col("doc_id") === col("keeper"), "left_semi")
    }

    // Pair join routed by spark conf `graft.neardup.strategy` ("session"
    // dispatch): "shingle" (default) is the exact carried-count shared-
    // shingle plan (see Dedup.verifiedPairs — shingled once, persisted,
    // both self-join sides read the cache); "lsh" is d06's banded path,
    // whose candidate volume is bounded by band-collision probability
    // instead of shared-shingle df² — the setting a duplicated 100 TB
    // corpus runs with (SURVEY §6 stress table).
    val nearDedup: DataFrame => DataFrame = df => {
      // materialized-artifact route: pointwise Jaccard means the all-docs
      // pair table restricted to THIS stage's survivors equals the pair
      // join recomputed over them (DedupArtifactStore.doomedWithin)
      val doomed = graft.api.DedupArtifactStore
        .doomedWithin(s, d, df.select("doc_id"), "doc_id")
        .getOrElse(graft.api.GraftOps
          .nearDupPairs(df, col("doc_id"), col("text"), 0.5, strategy = "session")
          .select(col("id_b")))
        .select(col("id_b").as("doomed_id")).distinct()
      df.join(doomed, col("doc_id") === col("doomed_id"), "left_anti")
    }

    val stats: DataFrame => DataFrame = df => df
      .select(col("doc_id"), col("lang"), col("n_words"), round(col("quality"), 9).as("quality"))
      .orderBy("doc_id")

    // The materialize barrier sits where the plan fans out: near_dedup
    // reads the cleaned frame three ways (shingle self-join x/y + the
    // final anti-join base), so without it the regex-heavy quality stage
    // recomputes per branch — the dominant cost at any scale.
    Pipeline(
      "quality_filter" -> qualityFilter,
      "exact_dedup" -> exactDedup,
      Stage.materialize("cleaned"),
      "near_dedup" -> nearDedup,
      "stats" -> stats,
    ).run(Tables.documents(s, d))
  }

  val p01Sql: String =
    """WITH q AS (
        SELECT doc_id, text, lang, n_words,
               0.5 * least(1.0, CAST(n_words AS DOUBLE) / 100.0)
                 + 0.5 * (CAST(n_alnum AS DOUBLE) / n_chars_m) AS quality
        FROM (SELECT doc_id, text, lang,
                CAST(length(text) AS BIGINT) AS n_chars_m,
                len(string_split(trim(text), ' ')) AS n_words,
                CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS BIGINT) AS n_alnum
              FROM documents) a),
      qf AS (SELECT * FROM q WHERE quality >= 0.6),
      ed AS (SELECT * FROM (
               SELECT *, row_number() OVER (
                 PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                 ORDER BY doc_id) AS rn
               FROM qf) t WHERE rn = 1),
      w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
                   unnest(string_split(text,' ')) w FROM ed),
      g AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
            FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.i=a.i+1
                     JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2),
      dd AS (SELECT DISTINCT doc_id, sh FROM g),
      sizes AS (SELECT doc_id, count(*) n FROM dd GROUP BY doc_id),
      doomed AS (SELECT DISTINCT y.doc_id AS doomed_id
                 FROM dd x JOIN dd y ON x.sh=y.sh AND x.doc_id<y.doc_id
                 JOIN sizes sa ON x.doc_id=sa.doc_id
                 JOIN sizes sb ON y.doc_id=sb.doc_id
                 GROUP BY x.doc_id, y.doc_id, sa.n, sb.n
                 HAVING CAST(count(*) AS DOUBLE)/(sa.n+sb.n-count(*)) >= 0.5)
      SELECT doc_id, lang, n_words, round(quality, 9) AS quality
      FROM ed WHERE doc_id NOT IN (SELECT doomed_id FROM doomed)
      ORDER BY doc_id"""

  // ---- p02: quality-weighted resampling ----
  // Importance sampling toward high-quality documents (the DCLM-style
  // corpus reweighting step): accept doc with probability
  // quality / max(quality), using a deterministic md5-derived uniform —
  // reproducible on any cluster/partitioning, no rand(). The quality
  // model is t02's composite; the global max rides a broadcast. One
  // narrow scoring pass + one 1-row broadcast: linear at any corpus
  // size, shuffle-free except the scalar max.
  val p02_quality_resample: Q = (s, d) => {
    // persisted: the scalar-max branch and the scoring branch otherwise
    // each re-run the whole t02 quality pass over the corpus — a barrier
    // on the (doc_id, quality) projection halves the scan count.
    val q = TextAnalysis.t02_quality_score(s, d).select("doc_id", "quality")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qmax = q.agg(max("quality").as("qmax"))
    q.join(broadcast(qmax))
      .withColumn("u",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long").cast("double") / lit(4294967296.0))
      .filter(col("u") < col("quality") / col("qmax"))
      .select(col("doc_id"), round(col("quality"), 9).as("quality"),
        round(col("u"), 9).as("u"))
      .orderBy("doc_id")
  }
  private val t02Core =
    TextAnalysis.t02Sql.substring(0, TextAnalysis.t02Sql.lastIndexOf("ORDER BY"))
  val p02Sql: String =
    s"""WITH t02 AS ($t02Core),
      q AS (SELECT doc_id, quality FROM t02),
      mx AS (SELECT max(quality) AS qmax FROM q),
      s AS (SELECT doc_id, quality,
              ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                / CAST(4294967296 AS DOUBLE) AS u
            FROM q CROSS JOIN mx
            WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                / CAST(4294967296 AS DOUBLE) < quality / qmax)
      SELECT doc_id, round(quality, 9) AS quality, round(u, 9) AS u
      FROM s ORDER BY doc_id"""

  // ---- p03: config-driven declarative job ----
  // The whole query is a JSON job spec compiled by graft.api.TransformSpec
  // — the migration path for config-first ETL frameworks: dedup, derive,
  // filter, aggregate, order, near-dedup, split, expectation gates, all declared as data. Catalyst still sees
  // ONE plan (the runner is a fold over steps), so cross-step
  // optimization (pushdown, pruning) is identical to hand-written code.
  val p03JobJson: String =
    """{"source": "documents", "steps": [
      {"op": "dedup", "key": "lower(text)", "id": "doc_id"},
      {"op": "withColumn", "name": "n_words",
       "expr": "CAST(size(split(text, ' ')) AS BIGINT)"},
      {"op": "filter", "expr": "n_words >= 20"},
      {"op": "agg", "groupBy": ["lang", "source"],
       "aggs": [["n", "count(1)"], ["avg_words", "round(avg(n_words), 6)"]]},
      {"op": "orderBy", "cols": ["lang", "source"]}]}"""
  val p03_declarative_job: Q = (s, d) =>
    graft.api.TransformSpec.run(p03JobJson,
      Map("documents" -> Tables.documents(s, d)))
  val p03Sql: String =
    """WITH dd AS (SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY md5(lower(text))
            ORDER BY doc_id) AS rn FROM documents) t WHERE rn = 1),
      w AS (SELECT lang, source, len(string_split(text, ' ')) AS n_words
            FROM dd)
      SELECT lang, source, COUNT(*) AS n, round(avg(n_words), 6) AS avg_words
      FROM w WHERE n_words >= 20
      GROUP BY 1, 2 ORDER BY lang, source"""

  // ---- p04: dataset card ----
  // The datasheet a corpus release ships with (Gebru et al. 2021
  // "Datasheets for Datasets"): one tall (metric, value) frame with
  // volume, provenance, language mix, and duplication-rate facts.
  // Three bounded passes over documents, each partial-agg friendly:
  // the wide scalar agg (count/sum/distincts), the per-lang rollup
  // (language cardinality is tiny), and the normalized-hash distinct
  // for the exact-dup count — nothing quadratic, nothing driver-side;
  // output size is metrics + languages, independent of corpus size.
  val p04_dataset_card: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val scalars = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("total_chars"),
        countDistinct("source").as("n_sources"),
        countDistinct("lang").as("n_langs"),
        min(col("n_chars").cast("long")).as("min_chars"),
        max(col("n_chars").cast("long")).as("max_chars"))
      .select(expr(
        """stack(6, 'n_docs', n_docs, 'total_chars', total_chars,
                    'n_sources', n_sources, 'n_langs', n_langs,
                    'min_chars', min_chars, 'max_chars', max_chars)
           AS (metric, value)"""))
    val perLang = docs.groupBy("lang")
      .agg(count(lit(1)).as("value"))
      .select(concat(lit("lang:"), col("lang")).as("metric"), col("value"))
    val dupes = docs
      .select(md5(expr(normExpr)).as("h"))
      .agg(count(lit(1)).as("n"), countDistinct("h").as("u"))
      .select(lit("exact_dups").as("metric"), (col("n") - col("u")).as("value"))
    scalars.unionByName(perLang).unionByName(dupes).orderBy("metric")
  }
  val p04Sql: String =
    s"""WITH s AS (SELECT COUNT(*) AS n_docs,
            CAST(sum(n_chars) AS BIGINT) AS total_chars,
            CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
            CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
            min(n_chars) AS min_chars, max(n_chars) AS max_chars
          FROM documents),
      card AS (
        SELECT 'n_docs' AS metric, n_docs AS value FROM s
        UNION ALL SELECT 'total_chars', total_chars FROM s
        UNION ALL SELECT 'n_sources', n_sources FROM s
        UNION ALL SELECT 'n_langs', n_langs FROM s
        UNION ALL SELECT 'min_chars', min_chars FROM s
        UNION ALL SELECT 'max_chars', max_chars FROM s
        UNION ALL SELECT 'lang:' || lang, COUNT(*) FROM documents GROUP BY lang
        UNION ALL SELECT 'exact_dups',
          COUNT(*) - COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
        FROM documents)
      SELECT metric, value FROM card ORDER BY metric"""

  // ---- p05: domain-mixture sampling (training-mix curriculum) ----
  // The pretraining-mix step: given TARGET shares per domain (here the
  // lang column: en 0.30, others 0.175 each) and the tokens actually
  // available, find the largest total budget the corpus supports —
  // B = min over domains of avail_l / share_l, the classic waterfill:
  // the binding domain is kept whole, every other domain downsamples
  // to rate_l = share_l·B / avail_l so the OUTPUT mixture hits the
  // target exactly. Docs are then kept by the p02 deterministic
  // md5-uniform (reproducible across runs, partitions, clusters — and
  // replayable by the oracle). Plan: one narrow token-count pass
  // (persisted — the availability aggregate and the sampling pass
  // otherwise each rescan the corpus), a DOMAIN-sized rate table
  // broadcast back, one filter, one combinable rollup. At 100 TB the
  // rate table is still a handful of rows; nothing here scales with
  // anything but the one corpus scan. Rates are fixed IEEE ops over
  // exact integer token counts — bit-identical cross-engine.
  val p05_mixture_sample: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("ntok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val avail = toks.groupBy("lang")
      .agg(count(lit(1)).as("docs_avail"), sum("ntok").as("toks_avail"))
      .withColumn("w", when(col("lang") === "en", lit(0.30)).otherwise(lit(0.175)))
    val budget = avail.agg(
      min(col("toks_avail").cast("double") / col("w")).as("budget"))
    val rates = avail.crossJoin(broadcast(budget))
      .withColumn("rate", least(lit(1.0),
        col("w") * col("budget") / col("toks_avail").cast("double")))
    val kept = toks
      .join(broadcast(rates.select("lang", "rate")), "lang")
      .filter(
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long").cast("double") / lit(4294967296.0) < col("rate"))
      .groupBy("lang")
      .agg(count(lit(1)).as("docs_kept"), sum("ntok").as("toks_kept"))
    rates.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("toks_avail"), round(col("rate"), 9).as("rate"),
        coalesce(col("docs_kept"), lit(0L)).as("docs_kept"),
        coalesce(col("toks_kept"), lit(0L)).as("toks_kept"))
      .orderBy("lang")
  }
  val p05Sql: String =
    """WITH t AS (SELECT doc_id, lang,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
               FROM documents),
      a AS (SELECT lang, COUNT(*) AS docs_avail,
                   CAST(SUM(ntok) AS BIGINT) AS toks_avail,
                   CASE WHEN lang = 'en' THEN CAST(0.30 AS DOUBLE)
                        ELSE CAST(0.175 AS DOUBLE) END AS w
            FROM t GROUP BY lang),
      b AS (SELECT MIN(CAST(toks_avail AS DOUBLE) / w) AS budget FROM a),
      r AS (SELECT lang, toks_avail,
                   LEAST(CAST(1.0 AS DOUBLE),
                         w * budget / CAST(toks_avail AS DOUBLE)) AS rate
            FROM a, b),
      k AS (SELECT t.lang, COUNT(*) AS docs_kept,
                   CAST(SUM(ntok) AS BIGINT) AS toks_kept
            FROM t JOIN r ON t.lang = r.lang
            WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    / CAST(4294967296 AS DOUBLE) < rate
            GROUP BY 1)
      SELECT r.lang, toks_avail, round(rate, 9) AS rate,
             CAST(COALESCE(docs_kept, 0) AS BIGINT) AS docs_kept,
             CAST(COALESCE(toks_kept, 0) AS BIGINT) AS toks_kept
      FROM r LEFT JOIN k ON r.lang = k.lang
      ORDER BY r.lang"""

  // ---- p06: quality-threshold yield curve ----
  // The question every filter-tuning session asks: "how many tokens
  // survive at quality ≥ t?" — answered for the whole threshold grid
  // in ONE job instead of ten re-runs. Each scored doc joins the
  // broadcast 10-row grid (replication bounded by GRID SIZE, filtered
  // map-side before any exchange) and the per-threshold rollup is one
  // combinable aggregate; the grid spine left-joins back so empty
  // thresholds stay visible as zero rows. The cumulative-sum window
  // alternative is banned here (unpartitioned) — and unnecessary,
  // because bounded replication IS the distributed cumulative. Yield
  // ratios are one IEEE division of exact token counts against the
  // broadcast corpus total.
  val p06_threshold_yield: Q = (s, d) => {
    val scored = TextAnalysis.t02_quality_score(s, d)
      .select(col("doc_id"), col("n_words"), col("quality"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = scored.agg(sum("n_words").cast("double").as("tt"))
    val grid = s.range(10).select(col("id").as("i"),
      (col("id").cast("double") / lit(10.0)).as("threshold"))
    val kept = scored.crossJoin(broadcast(grid))
      .filter(col("quality") >= col("threshold"))
      .groupBy("i")
      .agg(count(lit(1)).as("docs_kept"), sum("n_words").as("tokens_kept"))
    grid.join(kept, Seq("i"), "left").crossJoin(broadcast(tot))
      .select(col("threshold"),
        coalesce(col("docs_kept"), lit(0L)).as("docs_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"),
        round(coalesce(col("tokens_kept"), lit(0L)).cast("double") / col("tt"), 9)
          .as("token_yield"))
      .orderBy("threshold")
  }
  val p06Sql: String =
    s"""WITH t02 AS ($t02Core),
      s AS (SELECT doc_id, n_words, quality FROM t02),
      tot AS (SELECT CAST(SUM(n_words) AS DOUBLE) AS tt FROM s),
      g AS (SELECT i, CAST(i AS DOUBLE) / 10.0 AS threshold
            FROM generate_series(0, 9) t(i)),
      k AS (SELECT i, COUNT(*) AS docs_kept,
                   CAST(SUM(n_words) AS BIGINT) AS tokens_kept
            FROM s, g WHERE quality >= threshold GROUP BY 1)
      SELECT threshold,
             CAST(COALESCE(docs_kept, 0) AS BIGINT) AS docs_kept,
             CAST(COALESCE(tokens_kept, 0) AS BIGINT) AS tokens_kept,
             round(CAST(COALESCE(tokens_kept, 0) AS DOUBLE) / tt, 9)
               AS token_yield
      FROM g LEFT JOIN k USING (i), tot ORDER BY threshold"""

  // ---- p07: curriculum phase manifest (quality-ordered schedule) ----
  // Curriculum training feeds the corpus easiest/cleanest-last (or
  // first — the schedule is the caller's; the ENGINE op is the exact
  // global quality ordering split into equal phases). Phase = quartile
  // of the corpus-wide (quality, doc_id) order, computed WITHOUT an
  // unpartitioned window: globalRank range-partitions on the sort key
  // and adds broadcast prefix-sum offsets (the q75 discipline), then
  // phase assignment is pure integer arithmetic on the rank, so the
  // manifest is engine-exact — no percentile interpolation, no
  // floating-point bucket edges. Output is the 4-row schedule a
  // training loop consumes: docs, token budget, quality range per
  // phase. One scan + one range exchange at any corpus size.
  val p07_curriculum: Q = (s, d) => {
    import graft.Stable
    val scored = TextAnalysis.t02_quality_score(s, d)
      .select(col("doc_id"), col("n_words"), col("quality"))
    val n = scored.agg(count(lit(1)).as("nn"))
    graft.api.GraftOps.globalRank(scored, col("quality"), col("doc_id"))
      .crossJoin(broadcast(n))
      .withColumn("phase", expr("((rank - 1) * 4) div nn + 1"))
      .groupBy("phase")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("tokens"),
        round(min("quality"), 9).as("min_q"),
        round(max("quality"), 9).as("max_q"),
        // pre-round at 1e-9, THEN sum in decimal(30,10): casting the
        // RAW double into a coarser decimal(30,6) let a near-boundary
        // row round differently across engines at sf0.1 (SURVEY §4's
        // cast-quantum rule; the t11 discipline applied here)
        round(sum(round(col("quality"), 9).cast("decimal(30,10)"))
          .cast("double") / count(col("quality")), 9).as("mean_q"))
      .orderBy("phase")
  }
  val p07Sql: String =
    s"""WITH t02 AS ($t02Core),
      sc AS (SELECT doc_id, n_words, quality FROM t02),
      n AS (SELECT COUNT(*) AS nn FROM sc),
      r AS (SELECT doc_id, n_words, quality,
              row_number() OVER (ORDER BY quality, doc_id) AS rank FROM sc)
      SELECT ((rank - 1) * 4) // nn + 1 AS phase,
             COUNT(*) AS n_docs,
             CAST(SUM(n_words) AS BIGINT) AS tokens,
             round(MIN(quality), 9) AS min_q,
             round(MAX(quality), 9) AS max_q,
             round(CAST(SUM(CAST(round(quality, 9) AS DECIMAL(30,10)))
                     AS DOUBLE) / COUNT(quality), 9) AS mean_q
      FROM r, n GROUP BY 1 ORDER BY phase"""

  // ---- p08: pipeline canary comparison (A/B a filter change) ----
  // Before a curation-formula change ships, the canary report: score
  // every doc under the PRODUCTION quality formula (p01's 0.5/0.5
  // word-count/alnum blend, keep >= 0.6) and the CANDIDATE one (0.7
  // word-weight — rewarding length over cleanliness), then diff the
  // kept sets per language: kept counts both sides, docs LOST by the
  // change, docs GAINED, and the kept-set Jaccard overlap. ONE scan,
  // both scores as row expressions, every metric a conditional count
  // in a single combinable aggregate — the diff of two full pipeline
  // runs collapses to one pass because the filters are row-local.
  // Exact integer counts; overlap is one IEEE division.
  val p08_canary_compare: Q = (s, d) => {
    val scored = Tables.documents(s, d)
      .withColumn("n_chars_m", length(col("text")).cast("long"))
      .withColumn("n_words", size(split(trim(col("text")), " ")).cast("long"))
      .withColumn("n_alnum",
        length(regexp_replace(col("text"), "[^A-Za-z0-9]", "")).cast("long"))
      .withColumn("wordpart", least(lit(1.0),
        col("n_words").cast("double") / 100.0))
      .withColumn("alnumpart",
        col("n_alnum").cast("double") / col("n_chars_m"))
      .withColumn("keep_prod",
        lit(0.5) * col("wordpart") + lit(0.5) * col("alnumpart") >= 0.6)
      .withColumn("keep_cand",
        lit(0.7) * col("wordpart") + lit(0.3) * col("alnumpart") >= 0.6)
    scored.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("keep_prod"), 1)).as("kept_prod"),
        count(when(col("keep_cand"), 1)).as("kept_cand"),
        count(when(col("keep_prod") && !col("keep_cand"), 1)).as("lost"),
        count(when(!col("keep_prod") && col("keep_cand"), 1)).as("gained"),
        count(when(col("keep_prod") && col("keep_cand"), 1)).as("kept_both"))
      .withColumn("overlap_jaccard", round(
        col("kept_both").cast("double")
          / (col("kept_prod") + col("kept_cand") - col("kept_both"))
            .cast("double"), 9))
      .orderBy("lang")
  }
  val p08Sql: String =
    """WITH sc AS (
        SELECT lang,
               0.5 * wp + 0.5 * ap >= 0.6 AS keep_prod,
               0.7 * wp + 0.3 * ap >= 0.6 AS keep_cand
        FROM (SELECT lang,
                least(1.0, CAST(len(string_split(trim(text), ' ')) AS DOUBLE)
                           / 100.0) AS wp,
                CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
                     AS DOUBLE) / CAST(length(text) AS BIGINT) AS ap
              FROM documents) t),
      g AS (SELECT lang, COUNT(*) AS n_docs,
              COUNT(*) FILTER (WHERE keep_prod) AS kept_prod,
              COUNT(*) FILTER (WHERE keep_cand) AS kept_cand,
              COUNT(*) FILTER (WHERE keep_prod AND NOT keep_cand) AS lost,
              COUNT(*) FILTER (WHERE NOT keep_prod AND keep_cand) AS gained,
              COUNT(*) FILTER (WHERE keep_prod AND keep_cand) AS kept_both
            FROM sc GROUP BY 1)
      SELECT lang, n_docs, kept_prod, kept_cand, lost, gained, kept_both,
             round(CAST(kept_both AS DOUBLE)
                   / CAST(kept_prod + kept_cand - kept_both AS DOUBLE), 9)
               AS overlap_jaccard
      FROM g ORDER BY lang"""

  // ---- p09: temperature-scaled mixture weights ----
  // The data-mixing math multilingual/multi-source training actually
  // runs (mT5/XLM-R recipe): raw source shares are flattened with a
  // temperature α — w_i = t_i^α / Σ t_j^α, α = 0.7 — so small sources
  // are upsampled without letting any giant source dominate. Tokens
  // per source is ONE combinable aggregate; the power uses libm pow
  // (α is fractional) but every share divides by the SAME dsum-decimal
  // denominator and rounds at 1e-9 — far beyond pow's 1-ulp platform
  // variance — so the report is engine-stable. Boost = temp/raw share
  // ratio; expected docs at a 10k-doc budget shows the resample plan.
  val p09_temperature_mix: Q = (s, d) => {
    import graft.Stable.{dsum, sqlSum}
    val src = Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("tokens"))
      .withColumn("w", pow(col("tokens").cast("double"), lit(0.7)))
    val tot = src.agg(sum("tokens").as("all_tokens"),
      dsum(col("w")).as("all_w"))
    src.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("tokens"),
        round(col("tokens").cast("double") / col("all_tokens").cast("double"), 9)
          .as("raw_share"),
        round(col("w") / col("all_w"), 9).as("temp_share"),
        round((col("w") / col("all_w"))
          / (col("tokens").cast("double") / col("all_tokens").cast("double")), 6)
          .as("boost"),
        round(col("w") / col("all_w") * 10000.0, 3).as("expected_docs_10k"))
      .orderBy("source")
  }
  val p09Sql: String =
    s"""WITH src AS (SELECT source, COUNT(*) AS n_docs,
                  CAST(SUM(n_chars) AS BIGINT) AS tokens
               FROM documents GROUP BY 1),
      w AS (SELECT *, pow(CAST(tokens AS DOUBLE), CAST(0.7 AS DOUBLE)) AS w
            FROM src),
      t AS (SELECT CAST(SUM(tokens) AS BIGINT) AS all_tokens,
                   ${graft.Stable.sqlSum("w")} AS all_w FROM w)
      SELECT source, n_docs, tokens,
             round(CAST(tokens AS DOUBLE) / CAST(all_tokens AS DOUBLE), 9)
               AS raw_share,
             round(w / all_w, 9) AS temp_share,
             round((w / all_w)
                   / (CAST(tokens AS DOUBLE) / CAST(all_tokens AS DOUBLE)), 6)
               AS boost,
             round(w / all_w * CAST(10000.0 AS DOUBLE), 3)
               AS expected_docs_10k
      FROM w CROSS JOIN t ORDER BY source"""

  // ---- p12: eval-set decontamination gate ----
  // The release step between t13's contamination REPORT and a shipped
  // corpus: drop training docs whose 8-gram overlap with the held-out
  // eval slice (doc_id % 10 = 0, t13's convention) exceeds 1%, and
  // report the per-language yield — docs and chars kept/dropped — the
  // numbers a release manager signs. Same engine shape as t13 (128-bit
  // gram keys, broadcast eval index, per-doc combinable hit rollup),
  // then ONE anti-join-by-threshold and a language rollup. The 1%
  // threshold is exact-integer (100·hits > n_grams — no double
  // boundary).
  val p12_decontaminate: Q = (s, d) => {
    def grams(df: DataFrame) = df
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        s"array_distinct(${wordGrams("w", 8, GramKey.Md5)})")).as("g"))
    val docs = Tables.documents(s, d)
    val evalIdx = grams(docs.filter(col("doc_id") % 10 === 0))
      .select("g").distinct()
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val scored = grams(train)
      .join(broadcast(evalIdx.withColumn("hit", lit(1L))), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
    train.join(scored, Seq("doc_id"), "left")
      .withColumn("dropped",
        col("n_hits").isNotNull && col("n_hits") * 100 > col("n_grams"))
      .groupBy("lang")
      .agg(count(lit(1)).as("docs_in"),
        count(when(!col("dropped"), 1)).as("docs_kept"),
        count(when(col("dropped"), 1)).as("docs_dropped"),
        sum(when(!col("dropped"), col("n_chars")).otherwise(0L))
          .as("chars_kept"),
        sum(when(col("dropped"), col("n_chars")).otherwise(0L))
          .as("chars_dropped"))
      .withColumn("keep_rate", round(
        col("docs_kept").cast("double") / col("docs_in").cast("double"), 9))
      .orderBy("lang")
  }
  val p12Sql: String =
    """WITH w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
                       unnest(string_split(text,' ')) w FROM documents),
      g8 AS (SELECT a.doc_id,
               a.w || ' ' || b.w || ' ' || c.w || ' ' || d.w || ' ' ||
               e.w || ' ' || f.w || ' ' || g.w || ' ' || h.w AS gr
             FROM w a JOIN w b ON b.doc_id=a.doc_id AND b.i=a.i+1
                      JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2
                      JOIN w d ON d.doc_id=a.doc_id AND d.i=a.i+3
                      JOIN w e ON e.doc_id=a.doc_id AND e.i=a.i+4
                      JOIN w f ON f.doc_id=a.doc_id AND f.i=a.i+5
                      JOIN w g ON g.doc_id=a.doc_id AND g.i=a.i+6
                      JOIN w h ON h.doc_id=a.doc_id AND h.i=a.i+7),
      dd AS (SELECT DISTINCT doc_id, gr FROM g8),
      ev AS (SELECT DISTINCT gr FROM dd WHERE doc_id % 10 = 0),
      sc AS (SELECT dd.doc_id, COUNT(*) AS n_grams,
               CAST(SUM(CASE WHEN ev.gr IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_hits
             FROM dd LEFT JOIN ev ON dd.gr = ev.gr
             WHERE dd.doc_id % 10 <> 0 GROUP BY 1),
      tr AS (SELECT d.doc_id, d.lang, d.n_chars,
               COALESCE(sc.n_hits, 0) * 100 > COALESCE(sc.n_grams, 1)
                 AS dropped
             FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
             WHERE d.doc_id % 10 <> 0)
      SELECT lang, COUNT(*) AS docs_in,
             COUNT(*) FILTER (WHERE NOT dropped) AS docs_kept,
             COUNT(*) FILTER (WHERE dropped) AS docs_dropped,
             CAST(SUM(CASE WHEN NOT dropped THEN n_chars ELSE 0 END)
               AS BIGINT) AS chars_kept,
             CAST(SUM(CASE WHEN dropped THEN n_chars ELSE 0 END)
               AS BIGINT) AS chars_dropped,
             round(CAST(COUNT(*) FILTER (WHERE NOT dropped) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE), 9) AS keep_rate
      FROM tr GROUP BY 1 ORDER BY lang"""

  // ---- p13: source-interleaved shard assignment audit ----
  // A 100 TB training corpus is written as N shards, and every shard
  // must carry a representative SOURCE MIX — a shard that is all-src0
  // poisons whatever training step consumes it. The deterministic
  // assignment: rank docs WITHIN each source by (md5, doc_id) — a
  // source-partitioned window, never a global sort — then shard =
  // (rank − 1) mod 8, i.e. round-robin per source, which by
  // construction gives every shard ⌈n_src/8⌉ or ⌊n_src/8⌋ docs of each
  // source. The output is the audit table the writer checks before
  // shipping: per shard, doc count, sources present, and the largest
  // single-source share. Exact ints, one division; fact-scale work is
  // one source-keyed window + one combinable rollup.
  val p13_shard_interleave: Q = (s, d) => {
    // assignment comes from the library verb (GraftOps.shardInterleave)
    // — the oracle gate certifies the facade itself
    val assigned = graft.api.GraftOps.shardInterleave(
      Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars")),
      col("doc_id"), col("source"), 8)
    val bySrc = assigned.groupBy("shard", "source")
      .agg(count(lit(1)).as("n_src"), sum("n_chars").as("chars_src"))
    bySrc.groupBy("shard")
      .agg(sum("n_src").as("n_docs"),
        count(lit(1)).as("n_sources"),
        sum("chars_src").as("total_chars"),
        max("n_src").as("max_src_docs"))
      .withColumn("top_source_share",
        round(col("max_src_docs").cast("double") / col("n_docs").cast("double"), 9))
      .select(col("shard").cast("long").as("shard"), col("n_docs"),
        col("n_sources"), col("total_chars"), col("top_source_share"))
      .orderBy("shard")
  }
  val p13Sql: String =
    """WITH a AS (SELECT doc_id, source, n_chars,
               (row_number() OVER (PARTITION BY source
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1) % 8
                 AS shard
             FROM documents),
      bs AS (SELECT shard, source, COUNT(*) AS n_src,
               CAST(SUM(n_chars) AS BIGINT) AS chars_src
             FROM a GROUP BY 1, 2),
      sh AS (SELECT shard, CAST(SUM(n_src) AS BIGINT) AS n_docs,
               COUNT(*) AS n_sources,
               CAST(SUM(chars_src) AS BIGINT) AS total_chars,
               CAST(MAX(n_src) AS BIGINT) AS max_src_docs
             FROM bs GROUP BY 1)
      SELECT CAST(shard AS BIGINT) AS shard, n_docs, n_sources, total_chars,
             round(CAST(max_src_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), 9)
               AS top_source_share
      FROM sh ORDER BY shard"""

  // ---- p14: leakage-free train/test split ----
  // The eval-integrity rule every LLM data paper states and most
  // pipelines break: near-duplicate documents must land on the SAME
  // side of a train/test split, or the test set leaks into training.
  // The fix is structural — hash the near-dup FAMILY ROOT (d08's
  // component label, singletons rooting at themselves), not the doc,
  // so no verified pair can ever straddle the split. The output is the
  // side-by-side audit: the naive doc-hash split vs the family-root
  // split, each with sizes and its count of CROSS-SPLIT verified
  // near-dup pairs — 0 for the family split BY CONSTRUCTION, measured
  // (not assumed) here. Fact-scale work: d03's pair join + d08's
  // fixpoint labels, both reused; the split itself is a narrow md5.
  val p14_leakage_split: Q = (s, d) => {
    val labels = Dedup2.clusterLabels(s, d) // (doc_id, cluster_id), singletons incl.
    def bucket(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c.cast("string")), 1, 2), 16, 10).cast("int") % 10
    val assign = labels
      .withColumn("doc_split",
        when(bucket(col("doc_id")) === 9, "test").otherwise("train"))
      .withColumn("fam_split",
        when(bucket(col("cluster_id")) === 9, "test").otherwise("train"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = Dedup.verifiedPairs(s, d).select(col("da"), col("db"))
    def crossPairs(splitCol: String): DataFrame = pairs
      .join(assign.select(col("doc_id").as("da"),
        col(splitCol).as("sa")), "da")
      .join(assign.select(col("doc_id").as("db"),
        col(splitCol).as("sb")), "db")
      .agg(count(when(col("sa") =!= col("sb"), 1)).as("cross_pairs"))
    def sizes(splitCol: String, name: String): DataFrame = assign
      .agg(count(when(col(splitCol) === "train", 1)).as("n_train"),
        count(when(col(splitCol) === "test", 1)).as("n_test"))
      .crossJoin(broadcast(crossPairs(splitCol)))
      .select(lit(name).as("method"), col("n_train"), col("n_test"),
        col("cross_pairs"))
    sizes("doc_split", "1_doc_hash")
      .unionAll(sizes("fam_split", "2_family_hash"))
      .orderBy("method")
  }
  val p14Sql: String =
    """WITH RECURSIVE
      w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
                   unnest(string_split(text,' ')) w FROM documents),
      g AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
            FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.i=a.i+1
                     JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2),
      dd AS (SELECT DISTINCT doc_id, sh FROM g),
      sizes AS (SELECT doc_id, count(*) n FROM dd GROUP BY doc_id),
      pairs AS (SELECT x.doc_id da, y.doc_id db, count(*) shared
                FROM dd x JOIN dd y ON x.sh=y.sh AND x.doc_id<y.doc_id GROUP BY 1,2),
      vp AS (SELECT da, db
             FROM pairs JOIN sizes sa ON da=sa.doc_id JOIN sizes sb ON db=sb.doc_id
             WHERE CAST(shared AS DOUBLE)/(sa.n+sb.n-shared) >= 0.5),
      ed AS (SELECT da v, db w FROM vp UNION SELECT db, da FROM vp),
      reach(v, w) AS (
        SELECT v, v FROM (SELECT DISTINCT v FROM ed) t
        UNION
        SELECT r.v, ed.w FROM reach r JOIN ed ON r.w = ed.v),
      lbl0 AS (SELECT v AS doc_id, min(w) AS cluster_id FROM reach GROUP BY v),
      lbl AS (SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
              FROM documents d LEFT JOIN lbl0 l ON d.doc_id = l.doc_id),
      asg AS (SELECT doc_id, cluster_id,
                CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT % 10 = 9
                     THEN 'test' ELSE 'train' END AS doc_split,
                CASE WHEN ('0x' || substring(md5(CAST(cluster_id AS VARCHAR)), 1, 2))::INT % 10 = 9
                     THEN 'test' ELSE 'train' END AS fam_split
              FROM lbl),
      cp AS (SELECT
               (SELECT COUNT(*) FROM vp
                JOIN asg a ON a.doc_id = vp.da
                JOIN asg b ON b.doc_id = vp.db
                WHERE a.doc_split <> b.doc_split) AS cross_doc,
               (SELECT COUNT(*) FROM vp
                JOIN asg a ON a.doc_id = vp.da
                JOIN asg b ON b.doc_id = vp.db
                WHERE a.fam_split <> b.fam_split) AS cross_fam),
      sz AS (SELECT
               COUNT(*) FILTER (WHERE doc_split = 'train') AS doc_train,
               COUNT(*) FILTER (WHERE doc_split = 'test') AS doc_test,
               COUNT(*) FILTER (WHERE fam_split = 'train') AS fam_train,
               COUNT(*) FILTER (WHERE fam_split = 'test') AS fam_test
             FROM asg)
      SELECT method, n_train, n_test, cross_pairs FROM (
        SELECT '1_doc_hash' AS method, doc_train AS n_train,
               doc_test AS n_test, cross_doc AS cross_pairs
        FROM sz CROSS JOIN cp
        UNION ALL
        SELECT '2_family_hash', fam_train, fam_test, cross_fam
        FROM sz CROSS JOIN cp)
      ORDER BY method"""

  // ---- p15: cleaning-pipeline stage ledger ----
  // The funnel table every corpus release ships: docs and bytes
  // surviving each cleaning stage (raw → quality filter → exact dedup
  // → near-dedup), with per-stage drop counts, drop rates, and
  // cumulative yield — p01 emits the cleaned ROWS, this emits the
  // LEDGER that explains where the other 34% went. Stage logic is
  // p01's verbatim (same predicates, same keeper rule, same
  // strategy-routed pair join); per-stage stats are one combinable
  // aggregate each over frames the pipeline already materializes, and
  // the 4-row ledger math runs in a boundedSingleGroup window.
  val p15_stage_ledger: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val raw = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val qf = raw
      .withColumn("n_chars_m", length(col("text")).cast("long"))
      .withColumn("n_words", size(split(trim(col("text")), " ")).cast("long"))
      .withColumn("n_alnum",
        length(regexp_replace(col("text"), "[^A-Za-z0-9]", "")).cast("long"))
      .withColumn("quality",
        lit(0.5) * least(lit(1.0), col("n_words").cast("double") / 100.0)
          + lit(0.5) * (col("n_alnum").cast("double") / col("n_chars_m")))
      .filter(col("quality") >= 0.6)
      .select(col("doc_id"), col("text"))
      .persist(MEMORY_AND_DISK)
    val keepers = qf.select(md5(expr(normExpr)).as("h"), col("doc_id"))
      .groupBy("h").agg(min("doc_id").as("keeper")).select(col("keeper"))
    val ed = qf.join(keepers, col("doc_id") === col("keeper"), "left_semi")
      .persist(MEMORY_AND_DISK)
    // artifact route as in p01: restriction == recomputation (pointwise)
    val doomed = graft.api.DedupArtifactStore
      .doomedWithin(s, d, ed.select("doc_id"), "doc_id")
      .getOrElse(graft.api.GraftOps
        .nearDupPairs(ed, col("doc_id"), col("text"), 0.5, strategy = "session")
        .select(col("id_b")))
      .select(col("id_b").as("doomed_id")).distinct()
    val nd = ed.join(doomed, col("doc_id") === col("doomed_id"), "left_anti")
    def stat(df: DataFrame, name: String): DataFrame = df
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("total_chars"))
      .select(lit(name).as("stage"), col("n_docs"), col("total_chars"))
    val ledger = stat(raw, "0_raw")
      .unionAll(stat(qf, "1_quality"))
      .unionAll(stat(ed, "2_exact_dedup"))
      .unionAll(stat(nd, "3_near_dedup"))
    val g = graft.api.GraftOps.boundedSingleGroup(ledger)
    val w = Window.partitionBy("__g").orderBy("stage")
    g.withColumn("prev_docs", lag("n_docs", 1).over(w))
      .withColumn("raw_docs", first("n_docs").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("dropped_from_prev", col("prev_docs") - col("n_docs"))
      .withColumn("drop_rate",
        when(col("prev_docs").isNotNull, round(
          (col("prev_docs") - col("n_docs")).cast("double")
            / col("prev_docs").cast("double"), 9)))
      .withColumn("cum_yield", round(
        col("n_docs").cast("double") / col("raw_docs").cast("double"), 9))
      .select(col("stage"), col("n_docs"), col("total_chars"),
        col("dropped_from_prev"), col("drop_rate"), col("cum_yield"))
      .orderBy("stage")
  }
  val p15Sql: String =
    """WITH q AS (
        SELECT doc_id, text,
               0.5 * least(1.0, CAST(n_words AS DOUBLE) / 100.0)
                 + 0.5 * (CAST(n_alnum AS DOUBLE) / n_chars_m) AS quality
        FROM (SELECT doc_id, text,
                CAST(length(text) AS BIGINT) AS n_chars_m,
                len(string_split(trim(text), ' ')) AS n_words,
                CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS BIGINT) AS n_alnum
              FROM documents) a),
      qf AS (SELECT doc_id, text FROM q WHERE quality >= 0.6),
      ed AS (SELECT doc_id, text FROM (
               SELECT *, row_number() OVER (
                 PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                 ORDER BY doc_id) AS rn
               FROM qf) t WHERE rn = 1),
      w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
                   unnest(string_split(text,' ')) w FROM ed),
      g AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
            FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.i=a.i+1
                     JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2),
      dd AS (SELECT DISTINCT doc_id, sh FROM g),
      sizes AS (SELECT doc_id, count(*) n FROM dd GROUP BY doc_id),
      doomed AS (SELECT DISTINCT y.doc_id AS doomed_id
                 FROM dd x JOIN dd y ON x.sh=y.sh AND x.doc_id<y.doc_id
                 JOIN sizes sa ON x.doc_id=sa.doc_id
                 JOIN sizes sb ON y.doc_id=sb.doc_id
                 GROUP BY x.doc_id, y.doc_id, sa.n, sb.n
                 HAVING CAST(count(*) AS DOUBLE)/(sa.n+sb.n-count(*)) >= 0.5),
      nd AS (SELECT doc_id, text FROM ed
             WHERE doc_id NOT IN (SELECT doomed_id FROM doomed)),
      led AS (
        SELECT '0_raw' AS stage, COUNT(*) AS n_docs,
               CAST(SUM(length(text)) AS BIGINT) AS total_chars FROM documents
        UNION ALL SELECT '1_quality', COUNT(*),
               CAST(SUM(length(text)) AS BIGINT) FROM qf
        UNION ALL SELECT '2_exact_dedup', COUNT(*),
               CAST(SUM(length(text)) AS BIGINT) FROM ed
        UNION ALL SELECT '3_near_dedup', COUNT(*),
               CAST(SUM(length(text)) AS BIGINT) FROM nd),
      lg AS (SELECT stage, n_docs, total_chars,
               lag(n_docs) OVER (ORDER BY stage) AS prev_docs,
               first_value(n_docs) OVER (ORDER BY stage
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS raw_docs
             FROM led)
      SELECT stage, n_docs, total_chars,
             prev_docs - n_docs AS dropped_from_prev,
             CASE WHEN prev_docs IS NOT NULL THEN
               round(CAST(prev_docs - n_docs AS DOUBLE)
                     / CAST(prev_docs AS DOUBLE), 9) END AS drop_rate,
             round(CAST(n_docs AS DOUBLE) / CAST(raw_docs AS DOUBLE), 9)
               AS cum_yield
      FROM lg ORDER BY stage"""

  // ---- p16: source-quota sampling (the "no source dominates" guard) ----
  // The cap the mixture ops don't provide: p05/p09 pull a corpus TOWARD
  // target source weights; this enforces a HARD CEILING — no source may
  // exceed a fixed share of the total corpus (the anti-capture rule
  // corpus builders apply before any mixture tuning, so one crawled
  // domain can't swamp the run). Cap = 15% of the total document count;
  // a source over quota keeps its quota's worth of docs chosen by the
  // deterministic md5 rank (q26's engine-shared uniform family — the
  // SAME docs on any cluster/partitioning/engine); under-quota sources
  // keep everything, and freed budget is deliberately NOT redistributed
  // (a quota is a ceiling, not a target — stated, not fudged).
  //
  // Engine shape: one count pass (combinable), the total as one
  // broadcast scalar, one source-partitioned rank window at fact scale,
  // and a source-sized report rollup. Exact integers everywhere; the
  // only doubles are the human-facing share columns (one IEEE division
  // each, rounded 1e-9).
  val p16_quota_sample: Q = (s, d) => {
    // delegates to the library verb (GraftOps.quotaSample — also the
    // TransformSpec `quota` step and the graft_quota_sample TVF), so the
    // oracle gate certifies the facade, not a parallel reimplementation
    val ranked = graft.api.GraftOps.quotaSample(
      Tables.documents(s, d).select(col("doc_id"), col("source")),
      col("doc_id"), col("source"), 15)
    ranked.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      count(when(col("kept"), 1)).as("n_kept"),
      count(when(!col("kept"), 1)).as("n_dropped"),
      max("__quota").as("quota"),
      max("__n_total").as("n_total"))
      .select(col("source"), col("n_docs"), col("n_kept"), col("n_dropped"),
        col("quota"),
        round(col("n_docs").cast("double") / col("n_total").cast("double"), 9)
          .as("share_before"),
        (col("n_docs") > col("quota")).as("capped"))
      .orderBy("source")
  }
  val p16Sql: String =
    """WITH t AS (SELECT COUNT(*) AS n_total FROM documents),
      r AS (SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS u,
              CAST(row_number() OVER (PARTITION BY source
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
                AS rk,
              n_total, n_total * 15 // 100 AS cap
            FROM documents, t)
      SELECT source, COUNT(*) AS n_docs,
        COUNT(CASE WHEN rk <= cap THEN 1 END) AS n_kept,
        COUNT(CASE WHEN rk > cap THEN 1 END) AS n_dropped,
        MAX(cap) AS quota,
        round(CAST(COUNT(*) AS DOUBLE) / CAST(MAX(n_total) AS DOUBLE), 9)
          AS share_before,
        COUNT(*) > MAX(cap) AS capped
      FROM r GROUP BY source ORDER BY source"""

  // ---- p17: greedy budget allocation across sources (water-filling) ----
  // The corpus-buying decision p05/p09 parameterize but never SOLVE:
  // given a token budget (20% of the corpus here) and per-source
  // availability, which sources get funded? Quality-greedy allocation —
  // rank sources by an exact integer quality score (stopword hits per
  // million tokens: the t02 signal made order-stable by integer
  // division; source name breaks ties), then fund top-down until the
  // budget runs out, the marginal source funded partially. Every number
  // is an exact integer (availability, floor-div budget, cumulative,
  // clamp), so the whole allocation table is hash-exact with zero
  // rounding discipline. One fact-scale token pass; the allocation
  // itself runs on the |sources|-row frame under boundedSingleGroup.
  val p17_budget_allocation: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val en = Seq("the", "a", "and", "of", "to", "in", "is", "for", "on", "with")
    val arr = en.map(w => s"'$w'").mkString(", ")
    val src = Tables.documents(s, d)
      .select(col("source"),
        expr("CAST(size(split(trim(text), ' ')) AS BIGINT)").as("nw"),
        expr(s"CAST(size(filter(split(lower(text), ' '), " +
          s"w -> array_contains(array($arr), w))) AS BIGINT)").as("sh"))
      .groupBy("source")
      .agg(sum("nw").as("tokens_available"), sum("sh").as("stop_hits"))
      .withColumn("quality_score",
        expr("CAST(stop_hits * 1000000 div tokens_available AS BIGINT)"))
    val budget = src.agg(
      expr("CAST(SUM(tokens_available) * 20 div 100 AS BIGINT)").as("budget"))
    val b = graft.api.GraftOps.boundedSingleGroup(
      src.crossJoin(broadcast(budget)))
    val w = Window.partitionBy("__g")
      .orderBy(desc("quality_score"), col("source"))
    val cumBefore = coalesce(sum("tokens_available")
      .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    b.withColumn("cum_before", cumBefore)
      .withColumn("tokens_allocated",
        greatest(lit(0L), least(col("tokens_available"),
          col("budget") - col("cum_before"))))
      .withColumn("funded",
        when(col("tokens_allocated") === col("tokens_available"), "full")
          .when(col("tokens_allocated") > 0, "partial")
          .otherwise("none"))
      .select(col("source"), col("quality_score"), col("tokens_available"),
        col("tokens_allocated"),
        (col("cum_before") + col("tokens_allocated")).as("cum_allocated"),
        col("funded"))
      .orderBy(desc("quality_score"), col("source"))
  }
  val p17Sql: String =
    """WITH src AS (
        SELECT source,
          CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT)
            AS tokens_available,
          CAST(SUM(len(list_filter(string_split(lower(text), ' '),
            w -> list_contains(['the','a','and','of','to','in','is',
                                'for','on','with'], w)))) AS BIGINT)
            AS stop_hits
        FROM documents GROUP BY 1),
      q AS (SELECT *, CAST(stop_hits * 1000000 // tokens_available
              AS BIGINT) AS quality_score FROM src),
      bd AS (SELECT CAST(SUM(tokens_available) * 20 // 100 AS BIGINT)
               AS budget FROM q),
      r AS (SELECT *, COALESCE(SUM(tokens_available) OVER (
               ORDER BY quality_score DESC, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
            FROM q CROSS JOIN bd),
      al AS (SELECT *, CAST(greatest(0, least(tokens_available,
               budget - cum_before)) AS BIGINT) AS tokens_allocated FROM r)
      SELECT source, quality_score, tokens_available, tokens_allocated,
        CAST(cum_before + tokens_allocated AS BIGINT) AS cum_allocated,
        CASE WHEN tokens_allocated = tokens_available THEN 'full'
             WHEN tokens_allocated > 0 THEN 'partial'
             ELSE 'none' END AS funded
      FROM al ORDER BY quality_score DESC, source"""

  // ---- p18: multi-epoch allocation under a data-constrained budget ----
  // p17 answers "which sources get funded ONCE when the budget is
  // smaller than the corpus"; this is the OTHER regime every frontier
  // run lives in (Muennighoff et al. 2023, "Scaling Data-Constrained
  // Language Models"): the token budget EXCEEDS the unique corpus, so
  // sources must REPEAT — but repeated epochs are worth less than
  // fresh data. Greedy water-filling over (source, epoch) units:
  // each source offers up to 4 epochs whose marginal utility is
  // quality_score × an integer decay schedule (100/70/49/34 basis
  // points ≈ 0.7^k — exact integers, no pow()), units are funded
  // top-down by marginal utility until the 250%-of-corpus budget
  // runs out (the marginal unit partially), and effective tokens are
  // the decay-weighted floor sum. Every number is an exact integer —
  // the p17 discipline extended to the repeat regime, hash-exact with
  // zero rounding discipline. One fact-scale token pass; the
  // allocation runs on the |sources|×4-row frame under
  // boundedSingleGroup.
  val p18_epoch_allocation: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val en = Seq("the", "a", "and", "of", "to", "in", "is", "for", "on", "with")
    val arr = en.map(w => s"'$w'").mkString(", ")
    val src = Tables.documents(s, d)
      .select(col("source"),
        expr("CAST(size(split(trim(text), ' ')) AS BIGINT)").as("nw"),
        expr(s"CAST(size(filter(split(lower(text), ' '), " +
          s"w -> array_contains(array($arr), w))) AS BIGINT)").as("sh"))
      .groupBy("source")
      .agg(sum("nw").as("tokens_available"), sum("sh").as("stop_hits"))
      .withColumn("quality_score",
        expr("CAST(stop_hits * 1000000 div tokens_available AS BIGINT)"))
    val budget = src.agg(
      expr("CAST(SUM(tokens_available) * 250 div 100 AS BIGINT)")
        .as("budget"))
    val units = src
      .withColumn("epoch", explode(expr("array(1, 2, 3, 4)")))
      .withColumn("decay", expr(
        "CAST(CASE epoch WHEN 1 THEN 100 WHEN 2 THEN 70 " +
          "WHEN 3 THEN 49 ELSE 34 END AS BIGINT)"))
      .withColumn("marginal", col("quality_score") * col("decay"))
    val b = graft.api.GraftOps.boundedSingleGroup(
      units.crossJoin(broadcast(budget)))
    val w = Window.partitionBy("__g")
      .orderBy(desc("marginal"), col("source"), col("epoch"))
    val cumBefore = coalesce(sum("tokens_available")
      .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    b.withColumn("cum_before", cumBefore)
      .withColumn("alloc_e",
        greatest(lit(0L), least(col("tokens_available"),
          col("budget") - col("cum_before"))))
      .groupBy("source")
      .agg(max("tokens_available").as("tokens_available"),
        max("quality_score").as("quality_score"),
        sum(when(col("alloc_e") === col("tokens_available"), 1L)
          .otherwise(0L)).as("full_epochs"),
        sum("alloc_e").as("tokens_allocated"),
        expr("CAST(SUM(alloc_e * decay) div 100 AS BIGINT)")
          .as("effective_tokens"))
      .orderBy("source")
  }
  val p18Sql: String =
    """WITH src AS (
        SELECT source,
          CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT)
            AS tokens_available,
          CAST(SUM(len(list_filter(string_split(lower(text), ' '),
            w -> list_contains(['the','a','and','of','to','in','is',
                                'for','on','with'], w)))) AS BIGINT)
            AS stop_hits
        FROM documents GROUP BY 1),
      q AS (SELECT *, CAST(stop_hits * 1000000 // tokens_available
              AS BIGINT) AS quality_score FROM src),
      bd AS (SELECT CAST(SUM(tokens_available) * 250 // 100 AS BIGINT)
               AS budget FROM q),
      u AS (SELECT q.*, epoch,
              CAST(CASE epoch WHEN 1 THEN 100 WHEN 2 THEN 70
                   WHEN 3 THEN 49 ELSE 34 END AS BIGINT) AS decay
            FROM q CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS epoch)),
      m AS (SELECT *, quality_score * decay AS marginal FROM u),
      r AS (SELECT *, COALESCE(SUM(tokens_available) OVER (
              ORDER BY marginal DESC, source, epoch
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS cum_before
            FROM m CROSS JOIN bd),
      a AS (SELECT *, GREATEST(0, LEAST(tokens_available,
              budget - cum_before)) AS alloc_e FROM r)
      SELECT source,
        CAST(MAX(tokens_available) AS BIGINT) AS tokens_available,
        CAST(MAX(quality_score) AS BIGINT) AS quality_score,
        CAST(SUM(CASE WHEN alloc_e = tokens_available THEN 1 ELSE 0 END)
          AS BIGINT) AS full_epochs,
        CAST(SUM(alloc_e) AS BIGINT) AS tokens_allocated,
        CAST(SUM(alloc_e * decay) // 100 AS BIGINT) AS effective_tokens
      FROM a GROUP BY source ORDER BY source"""

  // ---- p19: raking (iterative proportional fitting) ----
  // Mixture calibration: a cheap hash-sample drifts from the corpus's
  // (lang, source) composition, and any training-mix decision made on
  // the sample inherits the drift. Raking fixes the sample's WEIGHTS
  // instead of resampling — the survey-statistics IPF estimator: scale
  // each cell by the lang margin ratio, then by the source margin
  // ratio computed over the round-1 masses; after the two rounds the
  // weighted sample reproduces the corpus source margins exactly and
  // the lang margins to one further round's residual.
  //
  // Engine shape: ONE corpus scan feeds the cell grid and both margin
  // tables (all langs×sources-sized — broadcast at any corpus scale);
  // the two IPF rounds are joins against those broadcast tables, never
  // a second pass over the documents. Exactness: margins are exact
  // int64 counts, each ratio is one IEEE division, per-cell masses
  // round to 6 decimals before the cross-cell DECIMAL sum
  // (Stable.dsum) that feeds round 2 — bit-identical across engines
  // and partitionings.
  val p19_raking: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("lang"), col("source"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long").cast("double") / lit(4294967296.0) < lit(0.2))
          .as("in_sample"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cells = docs.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_corpus"),
        sum(when(col("in_sample"), 1L).otherwise(0L)).as("n_sample"))
    val langM = docs.groupBy("lang")
      .agg(count(lit(1)).as("lf"),
        sum(when(col("in_sample"), 1L).otherwise(0L)).as("ls"))
      .filter(col("ls") > 0)
    val srcM = docs.groupBy("source").agg(count(lit(1)).as("sf"))
    val r1 = cells.join(broadcast(langM), "lang")
      .withColumn("m1", round(col("n_sample").cast("double") *
        (col("lf").cast("double") / col("ls").cast("double")), 6))
    val s1 = r1.groupBy("source")
      .agg(graft.Stable.dsum(col("m1")).as("s1"))
      .filter(col("s1") > 0.0)
    r1.join(broadcast(srcM), "source")
      .join(broadcast(s1), "source")
      .select(col("lang"), col("source"), col("n_corpus"),
        col("n_sample"), col("m1"),
        round(col("m1") *
          (col("sf").cast("double") / col("s1")), 6).as("m2"))
      .orderBy("lang", "source")
  }
  val p19Sql: String =
    """WITH docs AS (
        SELECT lang, source,
          (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             / CAST(4294967296 AS DOUBLE) < 0.2) AS in_sample
        FROM documents),
      cells AS (SELECT lang, source, COUNT(*) AS n_corpus,
          CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
            AS n_sample
        FROM docs GROUP BY 1, 2),
      lm AS (SELECT lang, COUNT(*) AS lf,
          CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT) AS ls
        FROM docs GROUP BY 1 HAVING ls > 0),
      sm AS (SELECT source, COUNT(*) AS sf FROM docs GROUP BY 1),
      r1 AS (SELECT c.lang, c.source, c.n_corpus, c.n_sample,
          round(CAST(c.n_sample AS DOUBLE) *
            (CAST(lf AS DOUBLE) / CAST(ls AS DOUBLE)), 6) AS m1
        FROM cells c JOIN lm ON c.lang = lm.lang),
      s1 AS (SELECT source,
          CAST(SUM(CAST(m1 AS DECIMAL(30,6))) AS DOUBLE) AS s1
        FROM r1 GROUP BY 1 HAVING s1 > 0)
      SELECT r1.lang, r1.source, n_corpus, n_sample, m1,
        round(m1 * (CAST(sf AS DOUBLE) / s1.s1), 6) AS m2
      FROM r1 JOIN sm ON r1.source = sm.source
            JOIN s1 ON r1.source = s1.source
      ORDER BY r1.lang, r1.source"""

  // ---- p20: dedup shrinkage per source ----
  // The number a mixture planner needs BEFORE trusting any source
  // weight: how much of each source survives exact dedup, and how the
  // corpus shares SHIFT once duplicates collapse (a source that is 40%
  // self-copies claims a pre-dedup share it never delivers in unique
  // tokens). One pass: per-source raw and distinct-payload counts
  // (md5 of normalized text — the d01 key), totals via a broadcast
  // one-row frame, exact integer counts, rounded IEEE divisions only
  // at the end. At 100 TB the distinct count is the same hash-groupBy
  // d01 pays; nothing here adds a fact-scale stage.
  val p20_dedup_shrinkage: Q = (s, d) => {
    val per = Tables.documents(s, d)
      .select(col("source"), md5(lower(col("text"))).as("h"))
      .groupBy("source").agg(
        count(lit(1)).as("n_raw"),
        countDistinct(col("h")).as("n_unique"))
    val tot = per.agg(sum("n_raw").as("tot_raw"),
      sum("n_unique").as("tot_unique"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_raw"), col("n_unique"),
        round(lit(1.0) - col("n_unique").cast("double")
          / col("n_raw").cast("double"), 9).as("shrinkage"),
        round(col("n_raw").cast("double")
          / col("tot_raw").cast("double"), 9).as("share_before"),
        round(col("n_unique").cast("double")
          / col("tot_unique").cast("double"), 9).as("share_after"))
      .orderBy("source")
  }
  val p20Sql: String =
    """WITH per AS (SELECT source, count(*) AS n_raw,
                 count(DISTINCT md5(lower(text))) AS n_unique
          FROM documents GROUP BY 1),
      tot AS (SELECT CAST(sum(n_raw) AS BIGINT) AS tot_raw,
                     CAST(sum(n_unique) AS BIGINT) AS tot_unique FROM per)
      SELECT source, n_raw, n_unique,
             round(1.0 - CAST(n_unique AS DOUBLE)
                   / CAST(n_raw AS DOUBLE), 9) AS shrinkage,
             round(CAST(n_raw AS DOUBLE)
                   / CAST(tot_raw AS DOUBLE), 9) AS share_before,
             round(CAST(n_unique AS DOUBLE)
                   / CAST(tot_unique AS DOUBLE), 9) AS share_after
      FROM per, tot ORDER BY source"""

  val queries: Map[String, Q] = Map(
    "p20_dedup_shrinkage"  -> p20_dedup_shrinkage,
    "p19_raking"           -> p19_raking,
    "p18_epoch_allocation" -> p18_epoch_allocation,
    "p17_budget_allocation" -> p17_budget_allocation,
    "p16_quota_sample"     -> p16_quota_sample,
    "p15_stage_ledger"     -> p15_stage_ledger,
    "p14_leakage_split"    -> p14_leakage_split,
    "p13_shard_interleave" -> p13_shard_interleave,
    "p01_corpus_clean"     -> p01_corpus_clean,
    "p12_decontaminate"    -> p12_decontaminate,
    "p02_quality_resample" -> p02_quality_resample,
    "p03_declarative_job"  -> p03_declarative_job,
    "p04_dataset_card"     -> p04_dataset_card,
    "p05_mixture_sample"   -> p05_mixture_sample,
    "p06_threshold_yield"  -> p06_threshold_yield,
    "p07_curriculum"       -> p07_curriculum,
    "p08_canary_compare"   -> p08_canary_compare,
    "p09_temperature_mix"  -> p09_temperature_mix)
  val oracles: Map[String, String] = Map(
    "p20_dedup_shrinkage"  -> p20Sql,
    "p19_raking"           -> p19Sql,
    "p18_epoch_allocation" -> p18Sql,
    "p17_budget_allocation" -> p17Sql,
    "p01_corpus_clean"     -> p01Sql,
    "p02_quality_resample" -> p02Sql,
    "p03_declarative_job"  -> p03Sql,
    "p04_dataset_card"     -> p04Sql,
    "p05_mixture_sample"   -> p05Sql,
    "p06_threshold_yield"  -> p06Sql,
    "p07_curriculum"       -> p07Sql,
    "p08_canary_compare"   -> p08Sql,
    "p09_temperature_mix"  -> p09Sql,
    "p12_decontaminate"    -> p12Sql,
    "p16_quota_sample"     -> p16Sql,
    "p13_shard_interleave" -> p13Sql,
    "p14_leakage_split"    -> p14Sql,
    "p15_stage_ledger"     -> p15Sql)
}
