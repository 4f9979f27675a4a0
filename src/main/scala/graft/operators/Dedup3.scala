package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.api.GraftOps.{GramKey, jaccard, wordGrams}

/** Dedup family, part 3: prefix-filtered exact similarity join — the
  * AllPairs/PPJoin candidate-pruning technique (Bayardo et al. 2007,
  * Xiao et al. 2008) applied to the word-3-gram Jaccard join.
  *
  * Principle: sort every document's shingle set by one global order and
  * index only its PREFIX of length `n - ceil(t*n) + 1`. Any pair with
  * Jaccard >= t must share >= ceil(t*max(na,nb)) shingles, so both
  * prefixes provably contain at least one common shingle — the equi-join
  * on prefix shingles loses no true pair. At threshold 0.5 each side of
  * the candidate join shrinks ~2x, the joined candidate volume ~4x, and
  * (unlike d03's full inverted-index join) the per-candidate work after
  * the join is a single array_intersect over two already-sorted arrays
  * instead of a count aggregation over every co-occurrence row.
  *
  * Scale: the prefix index is the ONLY wide stage; verification joins
  * back to the (doc_id -> sorted shingle array) table, which is corpus-
  * sized but narrow. Identical output to d03 — it shares d03's DuckDB
  * oracle verbatim — so d08/t09 reuse this path for their pair source.
  */
object Dedup3 {
  type Q = (SparkSession, String) => DataFrame

  /** (doc_id, sh: sorted distinct 3-gram hashes, n = |sh|). r14: the
    * r13 "spread A/B'd flat" note is superseded — StageProfile showed
    * the un-spread cache's concurrent consumers racing materialization,
    * each recomputing the single-task shingle pass (see
    * GraftOps.containmentJoin); the gated spread parallelizes the cache
    * build and every racer, and is a no-op on a parallel production scan.
    */
  private def shingleSets(docs: DataFrame): DataFrame =
    graft.api.GraftOps.spreadNarrowScan(docs)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), expr(
        s"array_sort(array_distinct(${wordGrams("words", 3, GramKey.XxHash64)}))").as("sh"))
      .withColumn("n", size(col("sh")))

  /** Exact Jaccard-verified pairs at `t`, PPJoin-pruned: columns
    * (da, db, shared, jaccard), unordered. Bit-identical to d03's pairs.
    */
  def prefixJaccardPairs(s: SparkSession, d: String, t: Double): DataFrame =
    prefixJaccardPairsOf(Tables.documents(s, d), t)

  /** Same, over any (doc_id, text) frame — lets pipeline stages reuse it.
    *
    * The global token order is ASCENDING DOCUMENT FREQUENCY (rarest
    * first), the canonical PPJoin ordering: each doc's indexed prefix is
    * then its rarest shingles, whose inverted lists are the shortest, so
    * the candidate join touches the smallest possible buckets. (Ordering
    * by raw hash instead correlates every doc's prefix on the same
    * globally-small hashes: 568k vs 409k candidate pairs on the sf0.1
    * corpus.) The df table is vocabulary-sized; AQE turns the
    * rank-attach join into a broadcast at runtime when it fits.
    *
    * Honest scale note, measured on sf0.1: this synthetic corpus draws
    * from a 30-word vocabulary, so ALL 27k distinct 3-grams are frequent
    * (mean df ≈ 9.6) and prefix filtering can only cut the 1.27M-row
    * co-occurrence join to 409k candidates while adding a df-rank stage —
    * d03's plain inverted-index join stays faster here, which is why
    * d08/t09/p01 keep the d03 plan. On a realistic Zipf-distributed
    * corpus the prefix is dominated by near-unique shingles (df 1-2) and
    * the candidate set collapses to near the true-pair count — that is
    * the regime this operator exists for. The same goes for the length
    * filter inside the candidate join: uniform doc sizes here make it a
    * no-op, but on real corpora (size spread >> 1/t) it removes most
    * size-incompatible bucket pairs before they reach the distinct.
    */
  def prefixJaccardPairsOf(docs: DataFrame, t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sets = shingleSets(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = sets.select(col("doc_id"), explode(col("sh")).as("tok"))
    val dfTbl = rows.groupBy("tok").agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy("doc_id")
    // explicit repartition on the window key (r13 second pass, see
    // GraftOps.containmentJoin): same exchange the window requires, but
    // never AQE-coalesced — the 1–4 MiB shuffle otherwise collapses this
    // CPU-dense stage to 1–3 tasks on a small corpus
    val pref = rows.join(dfTbl, "tok")
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_id"))
      .withColumn("rn", row_number().over(byDoc.orderBy("df", "tok")))
      .withColumn("n", count(lit(1)).over(byDoc))
      .filter(col("rn") <= col("n") - ceil(lit(t) * col("n")).cast("int") + 1)
      .select("doc_id", "tok", "n")
    // length filter (lossless): J(a,b) >= t forces t*max(na,nb) <=
    // min(na,nb), so size-incompatible bucket pairs are dropped BEFORE
    // the distinct and the verification join-backs ever see them.
    val cands = pref.as("x").join(pref.as("y"), "tok")
      .where(col("x.doc_id") < col("y.doc_id") &&
        greatest(col("x.n"), col("y.n")) * t <= least(col("x.n"), col("y.n")))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
      // spread the per-pair array_intersect verification (same
      // AQE-coalescing exposure; see GraftOps.containmentJoin)
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
    cands
      .join(sets.select(col("doc_id").as("da"), col("sh").as("sha"), col("n").as("na")), "da")
      .join(sets.select(col("doc_id").as("db"), col("sh").as("shb"), col("n").as("nb")), "db")
      .withColumn("shared", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("jaccard", jaccard(col("shared"), col("na"), col("nb")))
      .filter(col("jaccard") >= t)
      .select("da", "db", "shared", "jaccard")
  }

  // ---- d11: prefix-filtered exact near-dup join (d03 output, PPJoin plan) ----
  val d11_prefix_join: Q = (s, d) =>
    prefixJaccardPairs(s, d, 0.5).orderBy("da", "db")

  // ---- d12: cross-document n-gram contamination ----
  // The substring-level dedup signal of Lee et al. 2022 ("Deduplicating
  // Training Data Makes Language Models Better") at 5-gram granularity:
  // for every document, the fraction of its distinct word-5-grams that
  // also appear in at least one OTHER document. Unlike t07 (within-doc
  // repetition) this measures cross-doc contamination. Plan: one explode
  // to distinct (doc, gram) postings, one df aggregation (map-side
  // combinable), one join back — no pair join at all, so cost is linear
  // in corpus size regardless of how duplicated the corpus is (the
  // failure mode that makes pair-based d03 superlinear).
  // The postings table is persisted: without the barrier both the df
  // aggregation and the join-back side re-run the 5-gram explode (plus
  // Catalyst's inferred size>0 filter re-derives it once more per side).
  val d12_crossdoc_ngrams: Q = (s, d) => {
    // gram keys are 128-bit md5 (binary(16)): the cached postings, the
    // df shuffle, and the join-back move 16-byte keys, not ~40-byte
    // strings — and unlike the previous 64-bit xxhash64 keys the counts
    // stay EXACT at the 100 TB regime: at ~1e12 distinct grams the
    // 64-bit birthday estimate was ~3e4 collisions (a ~1e-8 relative
    // perturbation of df/overlap counts), while 128 bits puts the
    // expected collision count at ~1e-14 — exact for every physically
    // reachable corpus. Same discipline on all count-bearing gram ops
    // (d12/d16/t13/t17/novelty); the Jaccard-verify family keeps 64-bit
    // keys (a collision there perturbs one similarity score, not an
    // exact count).
    // spread the md5-heavy 5-gram explode (and the cache) across cores
    // on a one-row-group corpus — gated on scan parallelism
    // (GraftOps.spreadNarrowScan): a many-file production scan is
    // already parallel and pays no exchange
    val grams = graft.api.GraftOps.spreadNarrowScan(Tables.documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        s"array_distinct(${wordGrams("w", 5, GramKey.Md5)})")).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // r13 (the t46 restructure, complement form): a doc's SHARED gram
    // count is n_grams − n_unique, and a df=1 gram's sole owner is
    // min(doc_id) of its posting — carried on the df aggregate for
    // free (map-side combinable), so the unique counts come from a
    // doc-keyed rollup of the VOCAB-sized aggregate and the gram-keyed
    // join-back of the full posting table is gone outright.
    val nUnique = grams.groupBy("g")
      .agg(count(lit(1)).as("df"), min("doc_id").as("owner"))
      .filter(col("df") === 1)
      .groupBy(col("owner").as("doc_id"))
      .agg(count(lit(1)).as("n_unique"))
    grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      .join(nUnique, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_unique"))
      .withColumn("n_shared", col("n_grams") - col("n_unique"))
      .withColumn("dup_frac",
        round(col("n_shared").cast("double") / col("n_grams"), 9))
      .select("doc_id", "n_grams", "n_shared", "dup_frac")
      .orderBy("doc_id")
  }
  val d12Sql: String =
    """WITH w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
                       unnest(string_split(text,' ')) w FROM documents),
      g5 AS (SELECT a.doc_id,
                    a.w || ' ' || b.w || ' ' || c.w || ' ' || d.w || ' ' || e.w AS g
             FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.i=a.i+1
                      JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2
                      JOIN w d ON d.doc_id=a.doc_id AND d.i=a.i+3
                      JOIN w e ON e.doc_id=a.doc_id AND e.i=a.i+4),
      dd AS (SELECT DISTINCT doc_id, g FROM g5),
      df AS (SELECT g, COUNT(*) AS df FROM dd GROUP BY g)
      SELECT doc_id, COUNT(*) AS n_grams,
             COUNT(*) FILTER (WHERE df.df >= 2) AS n_shared,
             round(CAST(COUNT(*) FILTER (WHERE df.df >= 2) AS DOUBLE) / COUNT(*), 9)
               AS dup_frac
      FROM dd JOIN df USING (g)
      GROUP BY doc_id ORDER BY doc_id"""

  // ---- d14: semantic dedup (SemDeDup-style within-cluster pruning) ----
  // Abbas et al. 2023: cluster the embedding space coarsely, then prune
  // near-identical vectors WITHIN each cluster only — the pair join is
  // bounded by cluster size, never corpus². Here the stored label plays
  // the coarse cluster (s03/s06 build exactly such an assignment);
  // "doomed" = any vector with a lower-id neighbour above the cosine
  // threshold in its cluster, so the keep set is deterministic with no
  // greedy order dependence. Per-row cosines are sequential double folds
  // — engine-exact (the d05/s07 recipe).
  val d14_semantic_dedup: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val a = e.select(col("label"), col("vec_id").as("va"), col("embedding").as("ea"))
    val b = e.select(col("label"), col("vec_id").as("vb"), col("embedding").as("eb"))
    val doomed = a.join(b, "label")
      .where(col("va") < col("vb"))
      .withColumn("cos",
        graft.functions.cosine_sim(col("ea"), col("eb")))
      .filter(col("cos") >= 0.3)
      .select(col("vb").as("vec_id")).distinct()
    e.join(doomed, Seq("vec_id"), "left_anti")
      .groupBy("label").agg(count(lit(1)).as("n_kept"))
      .join(e.groupBy("label").agg(count(lit(1)).as("n_total")), "label")
      .withColumn("n_removed", col("n_total") - col("n_kept"))
      .select("label", "n_total", "n_kept", "n_removed")
      .orderBy("label")
  }
  val d14Sql: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
                FROM embeddings),
      doomed AS (SELECT DISTINCT b.vec_id
                 FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
                 WHERE list_dot_product(a.emb, b.emb)
                   / (sqrt(list_dot_product(a.emb, a.emb))
                      * sqrt(list_dot_product(b.emb, b.emb))) >= 0.3),
      kept AS (SELECT label, COUNT(*) AS n_kept FROM e
               WHERE vec_id NOT IN (SELECT vec_id FROM doomed)
               GROUP BY label),
      tot AS (SELECT label, COUNT(*) AS n_total FROM e GROUP BY label)
      SELECT label, n_total, n_kept, n_total - n_kept AS n_removed
      FROM kept JOIN tot USING (label) ORDER BY label"""

  // ---- d15: dedup manifest (per-document disposition + lineage) ----
  // The auditability artifact a production cleaning pipeline must emit:
  // one row per document saying what happened to it and WHY —
  // 'exact_dup' (with the normalized-text keeper it duplicates),
  // 'near_dup' (with its smallest-id jaccard>=0.5 predecessor among
  // exact-dedup survivors), or 'kept'. Stage order matches p01: exact
  // dedup first (cheap, halves the near-dup input), near-dup pairs
  // computed over survivors only. ref_doc for near-dups is the
  // immediate predecessor, not the cluster root — d08/d13 resolve full
  // clusters when that's needed. Cost: d01 + d03 on survivors, plus a
  // vocabulary of unions; nothing new is quadratic.
  val d15_dedup_manifest: Q = (s, d) =>
    // materialized-artifact route (see DedupArtifactStore): the cleaning
    // run already emitted the disposition manifest; read it
    graft.api.DedupArtifactStore.readIfPresent(s, d, "manifest").map { t =>
      t.select(col("id").as("doc_id"), col("status"),
        col("ref_id").as("ref_doc")).orderBy("doc_id")
    }.getOrElse(d15Inline(s, d))

  private def d15Inline(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val normExpr = "trim(regexp_replace(lower(text), '\\\\s+', ' '))"
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // Fan-out barriers carry IDS AND HASHES ONLY — the text column stays
    // out of every persisted table (at 100 TB a cached payload column is
    // a second copy of the corpus). withRef: one pruned scan + one md5
    // pass + one keeper groupBy, reused by all three branches; doomedRef:
    // the expensive shingle pair join runs ONCE, reused by the near_dup
    // and kept branches (previously each union branch recomputed it).
    val hashed = docs.select(col("doc_id"), md5(expr(normExpr)).as("h"))
    val keepers = hashed.groupBy("h").agg(min("doc_id").as("ref"))
    val withRef = hashed.join(keepers, "h").select("doc_id", "ref")
      .persist(MEMORY_AND_DISK)
    val exactDups = withRef.filter(col("doc_id") =!= col("ref"))
      .select(col("doc_id"), lit("exact_dup").as("status"), col("ref").as("ref_doc"))
    val survivorIds = withRef.filter(col("doc_id") === col("ref")).select("doc_id")
    val survivors = docs.join(survivorIds, Seq("doc_id"), "left_semi")
    // strategy "session": spark conf `graft.neardup.strategy` routes the
    // pair join — "shingle" (default, exact) or "lsh" (d06's banded
    // path, candidate volume bounded by collision probability — the
    // setting a 100 TB run uses; see SURVEY §6 stress table)
    val doomedRef = graft.api.GraftOps
      .nearDupPairs(survivors, col("doc_id"), col("text"), 0.5,
        strategy = "session")
      .groupBy(col("id_b").as("doc_id")).agg(min("id_a").as("ref_doc"))
      .persist(MEMORY_AND_DISK)
    val nearDups = doomedRef
      .select(col("doc_id"), lit("near_dup").as("status"), col("ref_doc"))
    val kept = survivorIds.join(doomedRef, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("kept").as("status"),
        lit(null).cast("long").as("ref_doc"))
    exactDups.unionByName(nearDups).unionByName(kept).orderBy("doc_id")
  }
  val d15Sql: String =
    """WITH h AS (SELECT doc_id, text,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h
           FROM documents),
      k AS (SELECT h, min(doc_id) AS ref FROM h GROUP BY h),
      wr AS (SELECT h.doc_id, h.text, k.ref FROM h JOIN k USING (h)),
      sv AS (SELECT doc_id, text FROM wr WHERE doc_id = ref),
      w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
                 unnest(string_split(text,' ')) w FROM sv),
      g AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
            FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.i=a.i+1
                     JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2),
      dd AS (SELECT DISTINCT doc_id, sh FROM g),
      sizes AS (SELECT doc_id, count(*) n FROM dd GROUP BY doc_id),
      pairs AS (SELECT x.doc_id da, y.doc_id db, count(*) shared
                FROM dd x JOIN dd y ON x.sh=y.sh AND x.doc_id<y.doc_id
                GROUP BY 1, 2),
      vp AS (SELECT da, db FROM pairs JOIN sizes sa ON da=sa.doc_id
                                      JOIN sizes sb ON db=sb.doc_id
             WHERE CAST(shared AS DOUBLE)/(sa.n+sb.n-shared) >= 0.5),
      doomed AS (SELECT db AS doc_id, min(da) AS ref_doc FROM vp GROUP BY db)
      SELECT doc_id, status, ref_doc FROM (
        SELECT doc_id, 'exact_dup' AS status, ref AS ref_doc FROM wr
        WHERE doc_id <> ref
        UNION ALL
        SELECT doc_id, 'near_dup', ref_doc FROM doomed
        UNION ALL
        SELECT sv.doc_id, 'kept', NULL FROM sv
        WHERE sv.doc_id NOT IN (SELECT doc_id FROM doomed)) t
      ORDER BY doc_id"""

  // ---- d16: cross-source duplication overlap matrix ----
  // Provenance analytics over d12's inverted 5-gram index: for every
  // source pair, the number of distinct 5-grams they share — which
  // feeds scrape-overlap triage ("source B is 90% a re-crawl of A")
  // before any doc-level dedup runs. Plan: distinct (gram, source)
  // postings (one explode + one distinct shuffle, computed ONCE —
  // the self-join's two sides are the identical subplan, so
  // ReuseExchange shares the exchange), then a gram-keyed join whose
  // per-gram expansion is bounded by the SOURCE count (metadata-sized,
  // ~20), never by docs — linear in index size at any corpus scale.
  val d16_source_overlap: Q = (s, d) => {
    // grams ride every shuffle as 128-bit md5 keys (binary(16), the
    // d12 discipline): 2.5x narrower than the ~40-byte strings AND
    // collision-exact at 1e12-gram scale, where the previous 64-bit
    // keys made shared-gram counts probabilistic
    // leading spread (m10's pattern, r13 second pass): the md5 5-gram
    // transform is the CPU-bound stage and ran as ONE task on the
    // one-row-group corpus (it sits inside the Generate, scan-side);
    // gated on scan parallelism (GraftOps.spreadNarrowScan) so a
    // parallel production scan pays no exchange
    val idx = graft.api.GraftOps.spreadNarrowScan(Tables.documents(s, d))
      .select(col("source"), split(col("text"), " ").as("w"))
      .select(col("source"), explode(expr(
        s"array_distinct(${wordGrams("w", 5, GramKey.Md5)})")).as("g"))
      .distinct()
    idx.as("x")
      .join(idx.as("y"), col("x.g") === col("y.g") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("shared_grams"))
      .orderBy("src_a", "src_b")
  }
  val d16Sql: String =
    """WITH w AS (SELECT doc_id, source,
                       generate_subscripts(string_split(text,' '),1) i,
                       unnest(string_split(text,' ')) w FROM documents),
      g5 AS (SELECT a.source,
                    a.w || ' ' || b.w || ' ' || c.w || ' ' || d.w || ' ' || e.w AS g
             FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.i=a.i+1
                      JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2
                      JOIN w d ON d.doc_id=a.doc_id AND d.i=a.i+3
                      JOIN w e ON e.doc_id=a.doc_id AND e.i=a.i+4),
      dd AS (SELECT DISTINCT source, g FROM g5)
      SELECT x.source AS src_a, y.source AS src_b, COUNT(*) AS shared_grams
      FROM dd x JOIN dd y ON x.g = y.g AND x.source < y.source
      GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---- d17: containment near-dup pairs (one-sided Jaccard) ----
  // Symmetric Jaccard misses SUBSET duplication — a tweet quoted inside
  // an article, a doc embedded in a crawl concatenation — where
  // |A∩B|/|A∪B| is small but containment |A∩B|/|A| ≈ 1 (Broder 1997
  // defines both; substring-dedup work targets exactly this case).
  // Candidates come from GraftOps.containmentJoin's prefix-probe filter
  // (PPJoin adapted to containment: a qualifying pair shares
  // >= ceil(t * n_small) shingles, so the SMALLER side's df-ascending
  // prefix of length n - ceil(t*n) + 1 must hit the larger side's full
  // posting list) — lossless, so the output is identical to the old
  // full×full co-occurrence join, but per-shingle candidate expansion
  // is prefix_df × df instead of df², and hot "stop shingles" sort out
  // of every prefix. Verification is one array_intersect per DISTINCT
  // candidate. Ratios are single IEEE divisions of exact ints —
  // engine-exact vs the string-keyed DuckDB oracle.
  val d17_containment: Q = (s, d) =>
    graft.api.GraftOps
      .containmentJoin(Tables.documents(s, d), col("doc_id"), col("text"), 0.8)
      .select(col("id_a").as("da"), col("id_b").as("db"), col("shared"),
        col("n_a").as("na"), col("n_b").as("nb"),
        col("cont_ab"), col("cont_ba"))
      .orderBy("da", "db")
  val d17Sql: String =
    """WITH w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
                       unnest(string_split(text,' ')) w FROM documents),
      g AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
            FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.i=a.i+1
                     JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2),
      dd AS (SELECT DISTINCT doc_id, sh FROM g),
      sizes AS (SELECT doc_id, count(*) n FROM dd GROUP BY doc_id),
      pairs AS (SELECT x.doc_id da, y.doc_id db, count(*) shared
                FROM dd x JOIN dd y ON x.sh=y.sh AND x.doc_id<y.doc_id GROUP BY 1,2)
      SELECT da, db, shared, sa.n AS na, sb.n AS nb,
             CAST(shared AS DOUBLE)/sa.n AS cont_ab,
             CAST(shared AS DOUBLE)/sb.n AS cont_ba
      FROM pairs JOIN sizes sa ON da=sa.doc_id JOIN sizes sb ON db=sb.doc_id
      WHERE CAST(shared AS DOUBLE)/sa.n >= 0.8 OR CAST(shared AS DOUBLE)/sb.n >= 0.8
      ORDER BY da, db"""

  val queries: Map[String, Q] = Map(
    "d17_containment"     -> d17_containment,
    "d16_source_overlap"  -> d16_source_overlap,
    "d11_prefix_join"     -> d11_prefix_join,
    "d12_crossdoc_ngrams" -> d12_crossdoc_ngrams,
    "d14_semantic_dedup"  -> d14_semantic_dedup,
    "d15_dedup_manifest"  -> d15_dedup_manifest,
  )
  val oracles: Map[String, String] = Map(
    "d17_containment"     -> d17Sql,
    "d16_source_overlap"  -> d16Sql,
    // Same result set as d03 by construction — shares its oracle.
    "d11_prefix_join"     -> Dedup.d03Sql,
    "d12_crossdoc_ngrams" -> d12Sql,
    "d14_semantic_dedup"  -> d14Sql,
    "d15_dedup_manifest"  -> d15Sql,
  )
}
