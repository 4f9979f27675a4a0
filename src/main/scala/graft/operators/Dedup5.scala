package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.api.GraftOps.{GramKey, jaccard, persistTracked, wordGrams}
import scala.util.chaining._

/** Dedup family, part 5: weighted similarity. */
object Dedup5 {
  type Q = (SparkSession, String) => DataFrame

  // ---- d23: rarity-weighted Jaccard near-dup pairs ----
  // Plain Jaccard (d03) counts every shared shingle equally, so two
  // documents agreeing only on boilerplate ("all rights reserved...")
  // score as high as two sharing distinctive content. Production
  // near-dup filters weight shingles by rarity (idf-weighted / SOTA
  // "soft dedup"): weighted Jaccard = Σ_{shared} w(g) / Σ_{union} w(g).
  // Here w(g) = n_docs − df(g) — the LINEAR rarity weight — because it
  // keeps every weight an integer: the pair scores are ratios of exact
  // BIGINT sums, replayable to the last bit by the oracle (log-idf
  // weights are one substitution away and change nothing structural).
  //
  // Plan shape (the 100 TB discipline of the family): shingle once,
  // persist; df = one gram-keyed aggregate (vocab-sized result); the
  // weight table joins back gram-keyed (AQE broadcasts it while it
  // fits, falls back to a hash join when a 10¹¹-gram vocabulary
  // doesn't); candidates come ONLY from rare grams (df <= 5 — the
  // blocking rule, replicated verbatim in the oracle), so the pair
  // space is bounded by Σ_rare df², never docs²; the full weighted
  // intersection is then computed for candidate pairs only, via two
  // keyed joins (pair × grams-of-a, matched against grams-of-b on the
  // (id, gram) key — expansion is |pairs| × |grams per doc|, metadata-
  // sized). Grams ride shuffles as 128-bit md5 keys: this op SUMS
  // per-gram weights, so it follows the count-bearing-family policy
  // (a 64-bit collision would corrupt a weight sum; 128-bit keeps
  // sums exact at 10¹²-gram scale).
  val d23_weighted_jaccard: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // r14 re-try of the r13 "leading spread flat" rejection: the shape
    // has changed since (explode_outer landed after that A/B), and the
    // profile now shows the 1-partition sh cache serializing its
    // consumers (~0.56 s single-task scans); gated spread as elsewhere.
    val sh = graft.api.GraftOps.spreadNarrowScan(docs)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), expr(
        s"array_distinct(${wordGrams("words", 3, GramKey.Text)})").as("shs"))
      // explode_outer, NOT explode (the m09 lesson): explode makes
      // InferFiltersFromGenerate re-run the 3-gram concat transform as a
      // scan-side Filter, serial on a one-row-group corpus. Docs of >= 3
      // words (all of them here) give a non-empty array, so output is
      // row-identical; a shorter doc gives one null-gram row, which no
      // null-rejecting equi-join downstream ever matches.
      .select(col("doc_id"), explode_outer(col("shs")).as("sh"))
      .select(col("doc_id"), unhex(md5(col("sh"))).as("k"))
      .pipe(persistTracked)
    val weights = sh.groupBy("k").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("k"), col("df"), (col("n_docs") - col("df")).as("wt"))
    val tok = sh.join(weights, "k")
      .pipe(persistTracked)
    val totals = tok.groupBy("doc_id").agg(sum("wt").as("totw"))
    val rare = tok.filter(col("df") <= 5).select(col("doc_id"), col("k"))
    val cand = rare.select(col("doc_id").as("id_a"), col("k"))
      .join(rare.select(col("doc_id").as("id_b"), col("k")), "k")
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      // spread the verification probe (r13 second pass): the distinct
      // candidate set is byte-light, so AQE coalesced the CPU-dense
      // two-join verify to ~5 tasks (see GraftOps.containmentJoin)
      .repartition(s.sessionState.conf.numShufflePartitions)
    // r13 audit note: an array-intersect verification (one doc-keyed
    // (k, wt)-array aggregate + in-row intersection, replacing the two
    // postings joins below) was built and same-session A/B'd: 5.63 s
    // vs 5.14 s min-of-3 — the struct arrays shuffle FATTER than the
    // bare postings, so the rewrite lost and this shape stays.
    val shared = cand
      .join(tok.select(col("doc_id").as("id_a"), col("k"), col("wt")), "id_a")
      .join(tok.select(col("doc_id").as("id_b"), col("k")), Seq("id_b", "k"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"), sum("wt").as("w_shared"))
    shared
      .join(totals.select(col("doc_id").as("id_a"), col("totw").as("__ta")), "id_a")
      .join(totals.select(col("doc_id").as("id_b"), col("totw").as("__tb")), "id_b")
      .withColumn("wjaccard",
        col("w_shared").cast("double") /
          (col("__ta") + col("__tb") - col("w_shared")))
      .filter(col("wjaccard") >= 0.5)
      .select("id_a", "id_b", "n_shared", "w_shared", "wjaccard")
      .orderBy("id_a", "id_b")
  }
  val d23Sql: String =
    """WITH w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
                       unnest(string_split(text,' ')) w FROM documents),
      g AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
            FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.i=a.i+1
                     JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2),
      dd AS (SELECT DISTINCT doc_id, sh FROM g),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      dfreq AS (SELECT sh, COUNT(*) AS df FROM dd GROUP BY sh),
      tok AS (SELECT doc_id, dd.sh, dfreq.df, (n.n_docs - dfreq.df) AS wt
              FROM dd JOIN dfreq USING (sh) CROSS JOIN n),
      tot AS (SELECT doc_id, SUM(wt) AS totw FROM tok GROUP BY doc_id),
      cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
               FROM tok x JOIN tok y ON x.sh = y.sh AND x.doc_id < y.doc_id
               WHERE x.df <= 5),
      shared AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_shared,
                        CAST(SUM(a.wt) AS BIGINT) AS w_shared
                 FROM cand c
                 JOIN tok a ON a.doc_id = c.id_a
                 JOIN tok b ON b.doc_id = c.id_b AND b.sh = a.sh
                 GROUP BY 1, 2)
      SELECT id_a, id_b, n_shared, w_shared,
             CAST(w_shared AS DOUBLE) / (ta.totw + tb.totw - w_shared) AS wjaccard
      FROM shared JOIN tot ta ON id_a = ta.doc_id
                  JOIN tot tb ON id_b = tb.doc_id
      WHERE CAST(w_shared AS DOUBLE) / (ta.totw + tb.totw - w_shared) >= 0.5
      ORDER BY id_a, id_b"""

  // ---- d24: MinHash-LSH recall/precision harness (oracle-exact) ----
  // s08 measures ANN recall; this is the same evaluation surface for the
  // DEDUP side: how much of the exact-Jaccard truth (d03's >=0.5 pairs)
  // does a 16-perm / 4-band / 4-row MinHash banding recover, and how much
  // candidate noise does it admit? d02/d06's production signatures use a
  // native hash family DuckDB can't replay, so THIS harness builds its
  // minhashes from md5(seed || shingle) — slower per byte, but every
  // step (min over hex strings, band keys, candidate join, exact truth)
  // is expressible in BOTH engines, making precision/recall themselves
  // hash-exact oracle numbers instead of spec assertions. Theory check
  // the spec pins: a J=1 pair agrees on every minhash, so exact dups are
  // ALWAYS candidates; band-match prob at J=0.5 is 1-(1-J^4)^4 ~ 0.23,
  // so recall lands between the exact-dup share and 1. Plan: shingles
  // once, one (doc,seed)-keyed min-aggregate (16 rows/doc), band keys by
  // sorted concat, candidates from a band-key equijoin (bucket-bounded,
  // never all-pairs), truth from the shared-shingle join — all counts,
  // one constant-size rollup.
  val d24_lsh_recall: Q = (s, d) => {
    // Shingle once, persist (the family rule d23/:47 and d37 follow):
    // this frame feeds the minhash aggregate, the sizes aggregate, AND
    // both sides of the exact-truth self-join — four corpus-scale
    // explode scans without the persist, one with it. Bench's
    // clearCache between queries reclaims it.
    // one-row-group corpus → the shingle pass, the persisted cache, and
    // all four downstream md5-heavy partial aggregates would run
    // single-task without the spread (measured 4×~2.9 s serial stages);
    // gated on scan parallelism (GraftOps.spreadNarrowScan)
    val sh = graft.api.GraftOps.spreadNarrowScan(Tables.documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), explode(expr(
        s"array_distinct(${wordGrams("words", 3, GramKey.Text)})")).as("sh"))
      .pipe(persistTracked)
    // 16 seeded minhashes, SQL-expressible: min over md5(seed || shingle).
    // Computed as ONE wide aggregate (16 min columns) instead of a 16x
    // row explode + (doc, seed) shuffle: the md5 count is identical but
    // partial aggregation collapses each partition to docs x 16 values
    // in a single codegen'd pass, and the exchange carries one row per
    // doc — measured ~1.4x on the whole harness (4.6 -> 3.3 s at
    // sf0.1; the remaining cost is the exact all-pairs truth side,
    // inherent to a recall harness).
    val mh = sh.groupBy("doc_id").agg(
      min(md5(concat(lit("0|"), col("sh")))).as("mh0"),
      (1 to 15).map(i =>
        min(md5(concat(lit(s"$i|"), col("sh")))).as(s"mh$i")): _*)
    val bandKeys = (0 to 3).map { b =>
      struct(lit(b).as("band"), concat_ws("|",
        (0 to 3).map(j => col(s"mh${4 * b + j}")): _*).as("bkey"))
    }
    val keys = mh.select(col("doc_id"),
        explode(array(bandKeys: _*)).as("bk"))
      .select(col("doc_id"),
        concat_ws("#", col("bk.band"), col("bk.bkey")).as("k"))
    val cands = keys.as("a").join(keys.as("b"), "k")
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    // The exact ground-truth side IS the cleaning run's verified-pair
    // artifact (word-3-gram Jaccard >= 0.5 — the family operating point
    // dedupArtifacts builds at): when a session routes artifacts under
    // the SHINGLE strategy (exact, recall-complete — an lsh-built pair
    // table is banded-recall and would corrupt a recall harness's
    // denominator, so it is never used here), read it instead of
    // re-paying the all-pairs truth join. Inline otherwise; the spec
    // pins the routes equal.
    val artifactTruth =
      if (s.conf.get("graft.neardup.strategy", "shingle") == "shingle")
        graft.api.DedupArtifactStore.readIfPresent(s, d, "pairs")
          .map(_.select(col("id_a").as("da"), col("id_b").as("db")))
      else None
    val truth = artifactTruth.getOrElse {
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      sh.select(col("doc_id").as("da"), col("sh"))
        .join(sh.select(col("doc_id").as("db"), col("sh")), "sh")
        .where(col("da") < col("db"))
        .groupBy("da", "db").agg(count(lit(1)).as("shared"))
        .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
        .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
        .where(jaccard(col("shared"), col("na"), col("nb")) >= 0.5)
        .select("da", "db")
    }
    val hits = cands.join(truth, Seq("da", "db"))
    cands.agg(count(lit(1)).as("n_cand"))
      .join(truth.agg(count(lit(1)).as("n_truth")))
      .join(hits.agg(count(lit(1)).as("n_hit")))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        when(col("n_cand") > 0,
          round(col("n_hit").cast("double") / col("n_cand"), 9)).as("precision"),
        when(col("n_truth") > 0,
          round(col("n_hit").cast("double") / col("n_truth"), 9)).as("recall"))
  }
  val d24Sql: String =
    """WITH w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
                       unnest(string_split(text,' ')) w FROM documents),
      g AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
            FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.i=a.i+1
                     JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2),
      dd AS (SELECT DISTINCT doc_id, sh FROM g),
      mh AS (SELECT doc_id, i, MIN(md5(CAST(i AS VARCHAR) || '|' || sh)) AS mh
             FROM dd CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) s
             GROUP BY 1, 2),
      ky AS (SELECT doc_id,
               CAST(i // 4 AS VARCHAR) || '#'
                 || string_agg(mh, '|' ORDER BY i) AS k
             FROM mh GROUP BY doc_id, i // 4),
      cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
               FROM ky a JOIN ky b ON a.k = b.k AND a.doc_id < b.doc_id),
      sizes AS (SELECT doc_id, COUNT(*) n FROM dd GROUP BY 1),
      tr AS (SELECT x.doc_id da, y.doc_id db, COUNT(*) shared
             FROM dd x JOIN dd y ON x.sh = y.sh AND x.doc_id < y.doc_id
             GROUP BY 1, 2),
      truth AS (SELECT da, db FROM tr
                JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
                WHERE CAST(shared AS DOUBLE)/(sa.n + sb.n - shared) >= 0.5),
      hit AS (SELECT COUNT(*) AS n_hit
              FROM cand JOIN truth USING (da, db)),
      nc AS (SELECT COUNT(*) AS n_cand FROM cand),
      nt AS (SELECT COUNT(*) AS n_truth FROM truth)
      SELECT n_truth, n_cand, n_hit,
             CASE WHEN n_cand > 0
                  THEN round(CAST(n_hit AS DOUBLE) / n_cand, 9) END AS precision,
             CASE WHEN n_truth > 0
                  THEN round(CAST(n_hit AS DOUBLE) / n_truth, 9) END AS recall
      FROM nt CROSS JOIN nc CROSS JOIN hit"""

  // ---- d25: banded-LSH operating-point table (S-curve tuning) ----
  // The table an engineer reads before picking d02/d06's (bands, rows)
  // config: for every (b, r) split of a 64-hash signature and a grid
  // of true Jaccard similarities j, the detection probability
  // 1 − (1 − j^r)^b — the S-curve whose knee is the effective dedup
  // threshold. Pure closed-form scalar math, but computed so both
  // engines take the SAME IEEE path: all powers have INTEGER exponents
  // and are evaluated as left-to-right multiplication chains
  // (aggregate over sequence — identical operation order, bit-exact
  // cross-engine), never libm pow() whose last ulp is
  // platform-defined. The lone fractional power (the analytic
  // threshold (1/b)^(1/r)) is rounded to 6 dp, far beyond pow's 1-ulp
  // platform variance. Constant-size output; the generator is two
  // in-row sequence explodes — no data read at all.
  val d25_lsh_tuning: Q = (s, d) => {
    val rs = Seq(1, 2, 4, 8, 16, 32, 64)
    val rows = rs.map(r => s"($r, ${64 / r})").mkString(", ")
    s.sql(
      s"""SELECT r, b,
            round(power(1.0D / b, 1.0D / r), 6) AS threshold, j,
            round(1.0D - aggregate(sequence(1, b), 1.0D,
                    (acc, x) -> acc * (1.0D - aggregate(sequence(1, r), 1.0D,
                                         (a2, y) -> a2 * j))), 9) AS p_detect
          FROM (SELECT col1 AS r, col2 AS b FROM VALUES $rows)
          LATERAL VIEW explode(array(0.1D, 0.3D, 0.5D, 0.7D, 0.9D)) jt AS j
          ORDER BY r, j""")
  }
  val d25Sql: String = {
    val rows = Seq(1, 2, 4, 8, 16, 32, 64)
      .map(r => s"($r, ${64 / r})").mkString(", ")
    // every literal forced to DOUBLE: DuckDB's bare 0.1 / 1.0 are
    // DECIMALs, and a DECIMAL product chain truncates 0.9^64 to 0
    s"""SELECT r, b,
          round(pow(CAST(1.0 AS DOUBLE) / b, CAST(1.0 AS DOUBLE) / r), 6)
            AS threshold, j,
          round(CAST(1.0 AS DOUBLE) - list_reduce(
                  list_transform(generate_series(1, b), x ->
                    CAST(1.0 AS DOUBLE) - list_reduce(
                      list_transform(generate_series(1, r), y -> j),
                      (a2, v2) -> a2 * v2)),
                  (acc, v) -> acc * v), 9) AS p_detect
        FROM (SELECT * FROM (VALUES $rows) t(r, b))
        CROSS JOIN (SELECT unnest(CAST([0.1, 0.3, 0.5, 0.7, 0.9]
                                       AS DOUBLE[])) AS j)
        ORDER BY r, j"""
  }

  // ---- d27: near-dup transitivity audit ----
  // "Is Jaccard ≥ 0.5 an equivalence-ish relation on THIS corpus?" —
  // the question behind every cluster-then-delete dedup policy (d08/
  // d13 assume connected components are duplicate families; if the
  // similarity graph's wedges rarely close, components chain unlike
  // docs together). This measures it: over d03's verified pair set,
  // count wedges (two pairs sharing a doc), closed wedges (the third
  // pair also verified), and the transitivity ratio. All work runs on
  // the PAIR table (candidate-bounded, metadata-sized relative to the
  // corpus — wedges are pair-degree-bounded, never doc³); the ratio
  // is one IEEE division of exact counts.
  val d27_transitivity: Q = (s, d) => {
    val e = Dedup.verifiedPairs(s, d).select("da", "db")
    val ed = e.select(col("da").as("u"), col("db").as("v"))
      .unionAll(e.select(col("db").as("u"), col("da").as("v")))
    val wedges = ed.as("x").join(ed.as("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.v").as("a"), col("y.v").as("c"))
    val closed = wedges
      .join(e.select(col("da").as("a"), col("db").as("c")), Seq("a", "c"),
        "left_semi")
    e.agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(wedges.agg(count(lit(1)).as("n_wedges"))))
      .crossJoin(broadcast(closed.agg(count(lit(1)).as("n_closed"))))
      .select(col("n_pairs"), col("n_wedges"), col("n_closed"),
        when(col("n_wedges") > 0,
          round(col("n_closed").cast("double")
            / col("n_wedges").cast("double"), 9)).as("transitivity"))
  }
  val d27Sql: String =
    """WITH w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
                       unnest(string_split(text,' ')) w FROM documents),
      g AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
            FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.i=a.i+1
                     JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2),
      dd AS (SELECT DISTINCT doc_id, sh FROM g),
      sizes AS (SELECT doc_id, count(*) n FROM dd GROUP BY doc_id),
      pr AS (SELECT x.doc_id da, y.doc_id db, count(*) shared
             FROM dd x JOIN dd y ON x.sh=y.sh AND x.doc_id<y.doc_id
             GROUP BY 1,2),
      e AS (SELECT da, db FROM pr
            JOIN sizes sa ON da=sa.doc_id JOIN sizes sb ON db=sb.doc_id
            WHERE CAST(shared AS DOUBLE)/(sa.n+sb.n-shared) >= 0.5),
      ed AS (SELECT da AS u, db AS v FROM e
             UNION ALL SELECT db, da FROM e),
      wg AS (SELECT x.v AS a, y.v AS c
             FROM ed x JOIN ed y ON x.u = y.u AND x.v < y.v),
      cl AS (SELECT COUNT(*) AS n_closed
             FROM wg WHERE EXISTS (SELECT 1 FROM e
                                   WHERE e.da = wg.a AND e.db = wg.c)),
      np AS (SELECT COUNT(*) AS n_pairs FROM e),
      nw AS (SELECT COUNT(*) AS n_wedges FROM wg)
      SELECT n_pairs, n_wedges, n_closed,
             CASE WHEN n_wedges > 0 THEN
               round(CAST(n_closed AS DOUBLE) / CAST(n_wedges AS DOUBLE), 9)
             END AS transitivity
      FROM np CROSS JOIN nw CROSS JOIN cl"""

  // ---- d28: hard-negative mining (contrastive training pairs) ----
  // The training-data op behind every embedding model's curriculum:
  // pairs that LOOK alike (high cosine) but AREN'T (different labels)
  // — the hard negatives contrastive losses need. Same d05 sample and
  // pair regime (1-in-4 sample, pair volume bounded by it; the
  // full-corpus version routes through s02/s04 buckets), cosine ≥ 0.3
  // (the top of this corpus's cross-label cosine distribution — its
  // max is ≈ 0.43, so 0.5 would be vacuous; the threshold is a corpus
  // fact, the q89 honesty rule) with a label-mismatch filter, deterministic top-25 by (cosine
  // desc, pair id) — a TakeOrderedAndProject, no global sort. Cosines
  // are the codegen'd index-order folds both engines share bit-exact.
  val d28_hard_negatives: Q = (s, d) => {
    val e = Tables.embeddings(s, d).filter(col("vec_id") % 4 === 0)
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"),
      col("label").as("la"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"),
      col("label").as("lb"))
    a.join(b, col("va") < col("vb"))
      .filter(col("la") =!= col("lb"))
      .withColumn("cosine",
        graft.functions.cosine_sim(col("ea"), col("eb")))
      .filter(col("cosine") >= 0.3)
      .select(col("va"), col("la"), col("vb"), col("lb"),
        round(col("cosine"), 9).as("cosine"))
      .orderBy(desc("cosine"), col("va"), col("vb"))
      .limit(25)
  }
  val d28Sql: String = {
    val cos = """list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                      CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[]))))"""
    s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings
                  WHERE vec_id % 4 = 0)
      SELECT a.vec_id AS va, a.label AS la, b.vec_id AS vb, b.label AS lb,
             round($cos, 9) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id AND a.label <> b.label
      WHERE $cos >= 0.3
      ORDER BY cosine DESC, va, vb LIMIT 25"""
  }

  // ---- d29: dedup composition impact (who loses what) ----
  // Dedup is not composition-neutral: duplicate-heavy feeds shrink
  // disproportionately, shifting the post-dedup source mixture — the
  // thing a curation owner must see BEFORE the mixture weights (p05/
  // p09) are re-tuned on deduped data. Per source: docs and chars
  // before vs after exact dedup (min-doc-id keeper, d01/d09's norm),
  // share before vs after, and the removal rate. One hash-keyed
  // keeper aggregate (16-byte keys, payload never shuffles) + two
  // combinable source rollups + broadcast totals; every number is an
  // exact int or one IEEE division.
  val d29_dedup_impact: Q = (s, d) => {
    val norm = "md5(trim(regexp_replace(lower(text), '\\\\s+', ' ')))"
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"), expr(norm).as("h"))
    val keepers = docs.groupBy("h").agg(min("doc_id").as("keeper"))
    val kept = docs.join(keepers,
      col("doc_id") === col("keeper"), "left_semi")
    val before = docs.groupBy("source")
      .agg(count(lit(1)).as("docs_before"), sum("n_chars").as("chars_before"))
    val after = kept.groupBy("source")
      .agg(count(lit(1)).as("docs_after"), sum("n_chars").as("chars_after"))
    val tot = before.agg(sum("docs_before").as("tot_before"))
      .crossJoin(after.agg(sum("docs_after").as("tot_after")))
    before.join(after, Seq("source"), "left")
      .na.fill(0L, Seq("docs_after", "chars_after"))
      .crossJoin(broadcast(tot))
      .select(col("source"), col("docs_before"), col("docs_after"),
        col("chars_before"), col("chars_after"),
        round((col("docs_before") - col("docs_after")).cast("double")
          / col("docs_before").cast("double"), 9).as("removal_rate"),
        round(col("docs_before").cast("double")
          / col("tot_before").cast("double"), 9).as("share_before"),
        round(col("docs_after").cast("double")
          / col("tot_after").cast("double"), 9).as("share_after"))
      .orderBy("source")
  }
  val d29Sql: String =
    """WITH docs AS (SELECT doc_id, source, n_chars,
                  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h
               FROM documents),
      keep AS (SELECT h, MIN(doc_id) AS keeper FROM docs GROUP BY 1),
      kept AS (SELECT docs.* FROM docs JOIN keep
               ON docs.doc_id = keep.keeper),
      b AS (SELECT source, COUNT(*) AS docs_before,
                   CAST(SUM(n_chars) AS BIGINT) AS chars_before
            FROM docs GROUP BY 1),
      a AS (SELECT source, COUNT(*) AS docs_after,
                   CAST(SUM(n_chars) AS BIGINT) AS chars_after
            FROM kept GROUP BY 1),
      t AS (SELECT (SELECT CAST(SUM(docs_before) AS BIGINT) FROM b)
                     AS tot_before,
                   (SELECT CAST(SUM(docs_after) AS BIGINT) FROM a)
                     AS tot_after)
      SELECT b.source, docs_before,
             COALESCE(docs_after, 0) AS docs_after,
             chars_before, COALESCE(chars_after, 0) AS chars_after,
             round(CAST(docs_before - COALESCE(docs_after, 0) AS DOUBLE)
                   / CAST(docs_before AS DOUBLE), 9) AS removal_rate,
             round(CAST(docs_before AS DOUBLE) / CAST(tot_before AS DOUBLE), 9)
               AS share_before,
             round(CAST(COALESCE(docs_after, 0) AS DOUBLE)
                   / CAST(tot_after AS DOUBLE), 9) AS share_after
      FROM b LEFT JOIN a ON b.source = a.source CROSS JOIN t
      ORDER BY b.source"""

  // ---- d30: shingle-size sensitivity (dedup parameter audit) ----
  // The n in "n-gram Jaccard" is a policy choice: small n over-matches
  // (more pairs, more false kinship), large n under-matches. This
  // audit runs the SAME verified-pair computation at n = 3, 4, 5 and
  // reports pairs found and docs affected per setting — the table a
  // dedup owner reads before pinning the production n (d03 pins 3).
  // n = 2 is deliberately OUT of the sweep: 2-gram document
  // frequencies are so high that the shared-gram candidate join
  // expands df²-per-gram (measured 37 s at sf0.1 vs ~2 s for the 3/4/5
  // sweep) — the audit's own demonstration of why no production
  // near-dup filter shingles below 3.
  // Each setting is the standard shared-shingle bounded join (shingled
  // once per n, never doc×doc); the three runs share one scan shape
  // and union into a 3-row report. Exact counts only.
  val d30_shingle_sensitivity: Q = (s, d) => {
    // the n=3 leg at threshold 0.5 IS the cleaning run's verified-pair
    // artifact (shingle strategy only — see d24's routing note); the
    // n=4/5 sweep legs are this query's own contribution and stay inline
    val artifactPairs3 =
      if (s.conf.get("graft.neardup.strategy", "shingle") == "shingle")
        graft.api.DedupArtifactStore.readIfPresent(s, d, "pairs")
          .map(_.select(col("id_a").as("da"), col("id_b").as("db")))
      else None
    def pairsAt(n: Int): DataFrame =
      if (n == 3 && artifactPairs3.isDefined) artifactPairs3.get
      else pairsAtInline(n)
    // r13 audit note: a persist+narrow-count restructure of these legs
    // (the verifiedPairs shape) was built and same-session A/B'd: old
    // min-of-3 4.07 s vs new 4.94 s — the persisted string cache costs
    // more to build than the re-shingles it saves on two-consumer legs,
    // so the original shape stays.
    def pairsAtInline(n: Int): DataFrame = {
      // leading repartition (r13 second pass): sh has THREE unpersisted
      // consumers (sizes, x, y), each re-running the scan+explode as a
      // single task on a one-row-group corpus (StageProfile: a 2.0 s and
      // several 0.5 s one-task stages); the spread parallelizes each
      // re-run. (This is distinct from the REJECTED persist+narrow
      // restructure in the audit note above — the explode still runs
      // per consumer, just not serially.)
      val sh = graft.api.GraftOps.spreadNarrowScan(Tables.documents(s, d))
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .select(col("doc_id"), explode(expr(
          s"array_distinct(${wordGrams("words", n, GramKey.Text)})")).as("sh"))
      val sized = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
      val x = sh.join(sized, "doc_id")
        .select(col("doc_id").as("da"), col("nsh").as("na"), col("sh"))
      val y = sh.join(sized, "doc_id")
        .select(col("doc_id").as("db"), col("nsh").as("nb"), col("sh"))
      x.join(y, "sh").where(col("da") < col("db"))
        .groupBy("da", "db", "na", "nb")
        .agg(count(lit(1)).as("shared"))
        .filter(jaccard(col("shared"), col("na"), col("nb")) >= 0.5)
        .select("da", "db")
    }
    def report(n: Int): DataFrame = {
      val p = pairsAt(n)
      p.agg(count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(
          p.select(col("da").as("x")).unionAll(p.select(col("db").as("x")))
            .distinct().agg(count(lit(1)).as("docs_affected"))))
        .select(lit(n).as("shingle_n"), col("n_pairs"), col("docs_affected"))
    }
    report(3).unionAll(report(4)).unionAll(report(5)).orderBy("shingle_n")
  }
  private def d30PairSql(n: Int): String = {
    val joins = (1 until n).map(i =>
      s"JOIN w w$i ON w$i.doc_id = w0.doc_id AND w$i.i = w0.i + $i").mkString(" ")
    val cat = (0 until n).map(i => s"w$i.w").mkString(" || ' ' || ")
    s"""SELECT $n AS shingle_n, n_pairs, docs_affected FROM
       (SELECT COUNT(*) AS n_pairs FROM (
          WITH dd AS (SELECT DISTINCT w0.doc_id, $cat AS sh
                      FROM w w0 $joins),
          sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM dd GROUP BY 1)
          SELECT x.doc_id
          FROM dd x JOIN dd y ON x.sh = y.sh AND x.doc_id < y.doc_id
          JOIN sizes sa ON x.doc_id = sa.doc_id
          JOIN sizes sb ON y.doc_id = sb.doc_id
          GROUP BY x.doc_id, y.doc_id, sa.nsh, sb.nsh
          HAVING CAST(COUNT(*) AS DOUBLE)
                 / (sa.nsh + sb.nsh - COUNT(*)) >= 0.5)) a
       CROSS JOIN
       (SELECT COUNT(*) AS docs_affected FROM (
          WITH dd AS (SELECT DISTINCT w0.doc_id, $cat AS sh
                      FROM w w0 $joins),
          sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM dd GROUP BY 1),
          pr AS (SELECT x.doc_id AS da, y.doc_id AS db
                 FROM dd x JOIN dd y ON x.sh = y.sh AND x.doc_id < y.doc_id
                 JOIN sizes sa ON x.doc_id = sa.doc_id
                 JOIN sizes sb ON y.doc_id = sb.doc_id
                 GROUP BY x.doc_id, y.doc_id, sa.nsh, sb.nsh
                 HAVING CAST(COUNT(*) AS DOUBLE)
                        / (sa.nsh + sb.nsh - COUNT(*)) >= 0.5)
          SELECT DISTINCT da AS x FROM pr
          UNION SELECT DISTINCT db FROM pr)) b"""
  }
  val d30Sql: String =
    s"""WITH w AS (SELECT doc_id,
                generate_subscripts(string_split(text,' '),1) AS i,
                unnest(string_split(text,' ')) AS w FROM documents)
      SELECT * FROM (
        ${d30PairSql(3)}
        UNION ALL
        ${d30PairSql(4)}
        UNION ALL
        ${d30PairSql(5)}
      ) ORDER BY shingle_n"""

  // ---- d31: MinHash estimator calibration (bias by similarity band) ----
  // d19 asserts the estimator's error bound; this MEASURES it: for
  // every shared-shingle pair with exact Jaccard ≥ 0.01 (the floor
  // keeps the 8k zero-ish boilerplate-only pairs out while retaining
  // the low-similarity regime where quantization error dominates),
  // compare the
  // 16-perm MinHash agreement estimate against the exact value, banded
  // by exact similarity — the calibration table that justifies reading
  // d02's candidate scores as similarities. Same md5-seeded SQL-
  // expressible hash family as d24 (wide 16-column aggregate, one row
  // per doc); the per-pair match count is an in-row comparison of 16
  // column pairs (exact ints); band means ride dsum, bias and MAE are
  // single divisions.
  val d31_estimator_calibration: Q = (s, d) => {
    import graft.Stable.{dsum, sqlSum}
    // r13 restructure to the d03/verifiedPairs family shape: the per-doc
    // shingle count is computed NARROWLY (size of the distinct array,
    // before the explode) and carried through the join instead of a
    // separate sizes aggregate joined back doc-keyed onto BOTH self-join
    // sides (which re-shuffled every posting row twice more); and the
    // exploded table is persisted — x, y, and the minhash aggregate all
    // read one cache instead of re-shingling the corpus per consumer.
    // The leading repartition is m10's pattern: the suite corpus is ONE
    // parquet row group, so without it the shingle scan AND every
    // partial aggregate over the persisted cache run as ONE task
    // (measured: 4×~2.5 s single-task stages while 31 cores idle).
    val sh = graft.api.GraftOps.spreadNarrowScan(Tables.documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), expr(
        s"array_distinct(${wordGrams("words", 3, GramKey.Text)})").as("shs"))
      // explode_outer, NOT explode (the m09 lesson): explode makes
      // InferFiltersFromGenerate re-run the whole shingle transform as a
      // scan-side Filter below the repartition, serial on a one-row-group
      // corpus. Docs of >= 3 words (all of them here) give a non-empty
      // array, so output is row-identical; a shorter doc gives one
      // null-gram row, dropped by the null-rejecting self-join on sh.
      .select(col("doc_id"), size(col("shs")).cast("long").as("nsh"),
        explode_outer(col("shs")).as("sh"))
      .pipe(persistTracked)
    val x = sh.select(col("doc_id").as("da"), col("nsh").as("na"), col("sh"))
    val y = sh.select(col("doc_id").as("db"), col("nsh").as("nb"), col("sh"))
    val pairs = x.join(y, "sh").where(col("da") < col("db"))
      .groupBy("da", "db", "na", "nb")
      .agg(count(lit(1)).as("shared"))
      .withColumn("j", jaccard(col("shared"), col("na"), col("nb")))
      .filter(col("j") >= 0.01)
    val mh = sh.groupBy("doc_id").agg(
      min(md5(concat(lit("0|"), col("sh")))).as("mh0"),
      (1 to 15).map(i =>
        min(md5(concat(lit(s"$i|"), col("sh")))).as(s"mh$i")): _*)
    val a = mh.select(col("doc_id").as("da") +:
      (0 to 15).map(i => col(s"mh$i").as(s"a$i")): _*)
    val b = mh.select(col("doc_id").as("db") +:
      (0 to 15).map(i => col(s"mh$i").as(s"b$i")): _*)
    val matches = (0 to 15).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)
    pairs.join(a, "da").join(b, "db")
      .withColumn("est", matches.cast("double") / lit(16.0))
      .withColumn("band", least(floor(col("j") / lit(0.2)).cast("long"), lit(4L)))
      .groupBy("band")
      .agg(count(lit(1)).as("n_pairs"),
        round(dsum(col("j")) / count(lit(1)), 6).as("mean_exact"),
        round(dsum(col("est")) / count(lit(1)), 6).as("mean_est"),
        round(dsum(col("est") - col("j")) / count(lit(1)), 6).as("bias"),
        round(dsum(abs(col("est") - col("j"))) / count(lit(1)), 6).as("mae"))
      .orderBy("band")
  }
  val d31Sql: String = {
    import graft.Stable.sqlSum
    val mhCols = (0 to 15).map(i =>
      s"MIN(md5('$i|' || sh)) AS mh$i").mkString(", ")
    val matches = (0 to 15).map(i =>
      s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
                       unnest(string_split(text,' ')) w FROM documents),
      g AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
            FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.i=a.i+1
                     JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2),
      dd AS (SELECT DISTINCT doc_id, sh FROM g),
      sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM dd GROUP BY 1),
      pr AS (SELECT x.doc_id da, y.doc_id db, sa.nsh na, sb.nsh nb,
                    COUNT(*) AS shared
             FROM dd x JOIN dd y ON x.sh = y.sh AND x.doc_id < y.doc_id
             JOIN sizes sa ON x.doc_id = sa.doc_id
             JOIN sizes sb ON y.doc_id = sb.doc_id
             GROUP BY 1, 2, 3, 4),
      pj AS (SELECT da, db,
                    CAST(shared AS DOUBLE) / (na + nb - shared) AS j
             FROM pr
             WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.01),
      mh AS (SELECT doc_id, $mhCols FROM dd GROUP BY doc_id),
      est AS (SELECT pj.j,
                CAST($matches AS DOUBLE) / CAST(16.0 AS DOUBLE) AS est
              FROM pj JOIN mh a ON pj.da = a.doc_id
                      JOIN mh b ON pj.db = b.doc_id),
      bd AS (SELECT least(CAST(floor(j / CAST(0.2 AS DOUBLE)) AS BIGINT), 4)
                      AS band, j, est FROM est)
      SELECT band, COUNT(*) AS n_pairs,
             round(${sqlSum("j")} / COUNT(*), 6) AS mean_exact,
             round(${sqlSum("est")} / COUNT(*), 6) AS mean_est,
             round(${sqlSum("est - j")} / COUNT(*), 6) AS bias,
             round(${sqlSum("abs(est - j)")} / COUNT(*), 6) AS mae
      FROM bd GROUP BY 1 ORDER BY band"""
  }

  // ---- d32: duplicate-family size distribution ----
  // The corpus's duplication PROFILE: how many families of exact/near
  // duplicates exist at each size (d08's connected components,
  // histogrammed, singletons included) — the one chart that says
  // whether dedup will reclaim 3% or 60%, and the denominator behind
  // every d15 manifest number. Reuses d08's fixpoint labels (min-label
  // over verified pairs); the histogram is two combinable aggregates
  // on the labels frame. Exact integers plus one share division.
  val d32_dup_family_sizes: Q = (s, d) => {
    val sizes = Dedup2.clusterLabels(s, d)
      .groupBy("cluster_id").agg(count(lit(1)).as("family_size"))
    val hist = sizes.groupBy("family_size")
      .agg(count(lit(1)).as("n_families"))
    val tot = hist.agg(sum(col("family_size") * col("n_families"))
      .as("n_docs_total"))
    hist.crossJoin(broadcast(tot))
      .select(col("family_size"), col("n_families"),
        (col("family_size") * col("n_families")).as("n_docs"),
        round((col("family_size") * col("n_families")).cast("double")
          / col("n_docs_total").cast("double"), 9).as("doc_share"))
      .orderBy("family_size")
  }
  val d32Sql: String =
    Dedup2.d08Sql.substring(0, Dedup2.d08Sql.lastIndexOf("SELECT cluster_id")) +
    """, fam AS (
        SELECT cluster_id, COUNT(*) AS family_size FROM (
          SELECT doc_id, cluster_id FROM lbl
          UNION ALL
          SELECT doc_id, doc_id AS cluster_id FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM lbl)) t
        GROUP BY cluster_id),
      h AS (SELECT family_size, COUNT(*) AS n_families FROM fam GROUP BY 1),
      t2 AS (SELECT CAST(SUM(family_size * n_families) AS BIGINT)
               AS n_docs_total FROM h)
      SELECT family_size, n_families,
             CAST(family_size * n_families AS BIGINT) AS n_docs,
             round(CAST(family_size * n_families AS DOUBLE)
                   / CAST(n_docs_total AS DOUBLE), 9) AS doc_share
      FROM h CROSS JOIN t2 ORDER BY family_size"""

  // ---- d33: cross-shard dedup leakage plan ----
  // THE question before sharding a 100 TB dedup job: if the corpus is
  // hash-partitioned into S independent shards and dedup runs per
  // shard, how many true near-dup pairs LEAK (land in different shards
  // and are never compared)? Measured directly on d03's verified pair
  // table for S ∈ {4, 16, 64}: shard = md5-bucket of doc_id (the
  // engine-portable q65 hashing family — exactly how a real shard
  // router would assign), leakage = cross-shard pairs / all pairs.
  // Under uniform hashing leakage ≈ 1 − 1/S, which is the measured
  // argument for GLOBAL candidate keying (LSH bands / shared shingles)
  // instead of shard-local dedup — this table states it with data.
  // Plan: the pair table is the only fact-scale work (d03's bounded
  // candidate join); the S-sweep is a 3× literal expand over pairs —
  // narrow — and one combinable rollup.
  val d33_shard_leakage: Q = (s, d) => {
    val pairs = Dedup.verifiedPairs(s, d).select(col("da"), col("db"))
    pairs
      .select(col("da"), col("db"),
        explode(array(lit(4), lit(16), lit(64))).as("n_shards"))
      .withColumn("sa",
        conv(substring(md5(col("da").cast("string")), 1, 4), 16, 10)
          .cast("long") % col("n_shards"))
      .withColumn("sb",
        conv(substring(md5(col("db").cast("string")), 1, 4), 16, 10)
          .cast("long") % col("n_shards"))
      .groupBy("n_shards")
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("sa") =!= col("sb"), 1)).as("n_cross"))
      .withColumn("leakage", round(
        col("n_cross").cast("double") / col("n_pairs").cast("double"), 9))
      .select(col("n_shards").cast("long").as("n_shards"),
        col("n_pairs"), col("n_cross"), col("leakage"))
      .orderBy("n_shards")
  }
  val d33Sql: String =
    """WITH w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
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
      sw AS (SELECT da, db, ns,
               ('0x' || substring(md5(CAST(da AS VARCHAR)), 1, 4))::BIGINT % ns AS sa,
               ('0x' || substring(md5(CAST(db AS VARCHAR)), 1, 4))::BIGINT % ns AS sb
             FROM vp CROSS JOIN (VALUES (4), (16), (64)) AS v(ns))
      SELECT CAST(ns AS BIGINT) AS n_shards, COUNT(*) AS n_pairs,
             COUNT(*) FILTER (WHERE sa <> sb) AS n_cross,
             round(CAST(COUNT(*) FILTER (WHERE sa <> sb) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE), 9) AS leakage
      FROM sw GROUP BY 1 ORDER BY n_shards"""

  // ---- d34: dedup survivor bias ----
  // Does near-dedup silently skew the corpus? Duplicates are not
  // uniform — boilerplate is LOW-quality and over-duplicated, so
  // dropping dups should RAISE mean quality; if instead the dropped
  // docs score HIGHER than the kept ones, the dedup stage is eating
  // good data and the thresholds need review. Measured directly:
  // d15's per-doc disposition joined to t02's quality scores, one
  // combinable rollup per status (kept / exact_dup / near_dup) with
  // share, decimal-exact mean quality, range, and mean length. The
  // joins are doc-keyed (one shuffle each over id-narrow frames);
  // d15's pair join is the only fact-scale stage and is reused as-is.
  val d34_survivor_bias: Q = (s, d) => {
    val man = Dedup3.d15_dedup_manifest(s, d).select(col("doc_id"), col("status"))
    val q = TextAnalysis.t02_quality_score(s, d)
      .select(col("doc_id"), round(col("quality"), 9).as("qv"))
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    val tot = man.agg(count(lit(1)).as("n_total"))
    man.join(q, "doc_id").join(docs, "doc_id")
      .crossJoin(broadcast(tot))
      .groupBy("status", "n_total")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("qv").cast("decimal(30,10)")).cast("double")
          / count(lit(1)), 9).as("mean_quality"),
        round(min(col("qv")), 9).as("min_quality"),
        round(max(col("qv")), 9).as("max_quality"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 9)
          .as("mean_chars"))
      .withColumn("share", round(
        col("n_docs").cast("double") / col("n_total").cast("double"), 9))
      .select(col("status"), col("n_docs"), col("share"), col("mean_quality"),
        col("min_quality"), col("max_quality"), col("mean_chars"))
      .orderBy("status")
  }
  val d34Sql: String =
    s"""WITH man AS (${Dedup3.d15Sql}),
      q AS (${graft.operators.TextAnalysis.t02Sql}),
      tot AS (SELECT COUNT(*) AS n_total FROM man),
      j AS (SELECT status, round(q.quality, 9) AS qv, d.n_chars
            FROM man JOIN q ON man.doc_id = q.doc_id
                     JOIN documents d ON d.doc_id = man.doc_id)
      SELECT status, COUNT(*) AS n_docs,
             round(CAST(COUNT(*) AS DOUBLE) / CAST(n_total AS DOUBLE), 9)
               AS share,
             round(CAST(SUM(CAST(qv AS DECIMAL(30,10))) AS DOUBLE)
                   / COUNT(*), 9) AS mean_quality,
             round(MIN(qv), 9) AS min_quality,
             round(MAX(qv), 9) AS max_quality,
             round(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 9) AS mean_chars
      FROM j CROSS JOIN tot
      GROUP BY status, n_total ORDER BY status"""

  // ---- d35: dedup threshold frontier (yield-vs-aggressiveness) ----
  // The tuning table behind "what Jaccard threshold do we ship?": for
  // θ ∈ {0.5 … 0.9}, how many docs would a predecessor-rule dedup drop
  // (doc dropped iff it pairs at ≥ θ with ANY smaller id — d15's
  // monotone rule) and what corpus yield survives. Pairs come from
  // d03's verified table ONCE (the only fact-scale work; already
  // thresholded at the loosest point 0.5, so every stricter θ is a
  // filter over it); the sweep is a 5× literal expand + distinct +
  // rollup over the metadata-sized pair set. Thresholds compare the
  // exact IEEE jaccard both engines derive identically — row-stable.
  val d35_threshold_frontier: Q = (s, d) => {
    val pairs = Dedup.verifiedPairs(s, d).select(col("db"), col("jaccard"))
    val total = Tables.documents(s, d).agg(count(lit(1)).as("n_total"))
    val dropped = pairs
      .select(col("db"), col("jaccard"),
        explode(array(Seq(0.5, 0.6, 0.7, 0.8, 0.9).map(lit): _*)).as("theta"))
      .filter(col("jaccard") >= col("theta"))
      .select("theta", "db").distinct()
      .groupBy("theta").agg(count(lit(1)).as("n_dropped"))
    total.crossJoin(dropped)
      .withColumn("n_kept", col("n_total") - col("n_dropped"))
      .withColumn("yield", round(
        col("n_kept").cast("double") / col("n_total").cast("double"), 9))
      .select(col("theta"), col("n_dropped"), col("n_kept"), col("yield"))
      .orderBy("theta")
  }
  val d35Sql: String =
    """WITH w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
                       unnest(string_split(text,' ')) w FROM documents),
      g AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
            FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.i=a.i+1
                     JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2),
      dd AS (SELECT DISTINCT doc_id, sh FROM g),
      sizes AS (SELECT doc_id, count(*) n FROM dd GROUP BY doc_id),
      pairs AS (SELECT x.doc_id da, y.doc_id db, count(*) shared
                FROM dd x JOIN dd y ON x.sh=y.sh AND x.doc_id<y.doc_id GROUP BY 1,2),
      vp AS (SELECT db, CAST(shared AS DOUBLE)/(sa.n+sb.n-shared) AS jaccard
             FROM pairs JOIN sizes sa ON da=sa.doc_id JOIN sizes sb ON db=sb.doc_id
             WHERE CAST(shared AS DOUBLE)/(sa.n+sb.n-shared) >= 0.5),
      tot AS (SELECT COUNT(*) AS n_total FROM documents),
      dr AS (SELECT theta, COUNT(*) AS n_dropped FROM (
               SELECT DISTINCT CAST(t.th AS DOUBLE) AS theta, db
               FROM vp CROSS JOIN (VALUES (0.5), (0.6), (0.7), (0.8), (0.9))
                 AS t(th)
               WHERE jaccard >= CAST(t.th AS DOUBLE)) GROUP BY 1)
      SELECT theta, n_dropped,
             n_total - n_dropped AS n_kept,
             round(CAST(n_total - n_dropped AS DOUBLE)
                   / CAST(n_total AS DOUBLE), 9) AS "yield"
      FROM dr CROSS JOIN tot ORDER BY theta"""

  // ---- d36: exact substring containment dedup ----
  // The deduplicate-text-datasets kernel shingle methods approximate:
  // is doc B literally a substring of doc A (truncated tail, quoted
  // whole, re-wrapped)? d17 tests SET containment; this is EXACT
  // SEQUENCE containment. Candidate discipline: if B occurs inside A,
  // then B's FIRST word-3-gram occurs somewhere in A — so the probe
  // side carries ONE gram per doc (linear) against the positional gram
  // index, candidates per doc bounded by that gram's df, and the
  // expensive contains() check runs only on candidates (texts joined
  // back by id — payloads never ride the gram shuffle). Grams travel
  // as xxhash64 (false positives die in verification — the
  // Jaccard-verify family policy).
  // the library verb (GraftOps.substringContainment) IS the
  // implementation — the oracle gate certifies the facade itself
  val d36_substring_dedup: Q = (s, d) =>
    graft.api.GraftOps.substringContainment(
        Tables.documents(s, d), col("doc_id"), col("text"))
      .select(col("container_id").as("container_doc"),
        col("contained_id").as("contained_doc"), col("pos"))
      .orderBy("container_doc", "contained_doc")
  val d36Sql: String =
    """WITH docs AS (SELECT doc_id, text FROM documents),
      pr AS (SELECT doc_id AS b,
               array_to_string(string_split(text, ' ')[1:3], ' ') AS g,
               length(text) AS lb
             FROM docs WHERE len(string_split(text, ' ')) >= 3),
      w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
              unnest(string_split(text,' ')) w FROM docs),
      ix AS (SELECT DISTINCT a.doc_id AS a,
               a.w || ' ' || x.w || ' ' || y.w AS g
             FROM w a JOIN w x ON a.doc_id = x.doc_id AND x.i = a.i + 1
                      JOIN w y ON y.doc_id = a.doc_id AND y.i = a.i + 2),
      la AS (SELECT doc_id AS a, length(text) AS la FROM docs),
      cand AS (SELECT DISTINCT ix.a, pr.b
               FROM pr JOIN ix ON pr.g = ix.g
                       JOIN la ON la.a = ix.a
               WHERE ix.a <> pr.b AND la.la >= pr.lb)
      SELECT cand.a AS container_doc, cand.b AS contained_doc,
             CAST(strpos(da.text, db.text) AS BIGINT) AS pos
      FROM cand JOIN docs da ON da.doc_id = cand.a
                JOIN docs db ON db.doc_id = cand.b
      WHERE strpos(da.text, db.text) > 0
      ORDER BY container_doc, contained_doc"""

  // ---- d37: shingle-join cost model (q102's discipline for dedup) ----
  // The pre-flight estimate before ANY shared-shingle pair join runs at
  // 100 TB: candidate volume = Σ_g df(g)·(df(g)−1)/2 over the gram
  // document frequencies — computable from ONE gram-count pass, no
  // pair join needed. Next to it, calibration numbers this corpus
  // yields: the distinct candidate pairs the join actually forms and
  // the verified near-dup pairs that survive, with expansion (est /
  // distinct — how much the multiplicity overcounts) and yield
  // (verified/distinct — how selective verification is). The estimate
  // column is what a shard planner reads; the calibration columns are
  // the q102-style proof the estimator tracks reality.
  val d37_pairjoin_cost_model: Q = (s, d) => {
    val shingled = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), explode(expr(
        s"array_distinct(${wordGrams("words", 3, GramKey.XxHash64)})")).as("sh"))
      .pipe(persistTracked)
    val est = shingled.groupBy("sh").agg(count(lit(1)).as("df"))
      .agg(count(lit(1)).as("n_grams"),
        sum("df").as("n_postings"),
        sum(expr("CAST(df * (df - 1) div 2 AS DECIMAL(38,0))"))
          .cast("long").as("est_candidates"))
    val x = shingled.select(col("doc_id").as("da"), col("sh"))
    val y = shingled.select(col("doc_id").as("db"), col("sh"))
    val distinctPairs = x.join(y, "sh").where(col("da") < col("db"))
      .select("da", "db").distinct()
      .agg(count(lit(1)).as("n_distinct_pairs"))
    val verified = Dedup.verifiedPairs(s, d)
      .agg(count(lit(1)).as("n_verified_pairs"))
    est.crossJoin(broadcast(distinctPairs)).crossJoin(broadcast(verified))
      .withColumn("expansion", round(
        col("est_candidates").cast("double")
          / col("n_distinct_pairs").cast("double"), 9))
      .withColumn("yield_rate", round(
        col("n_verified_pairs").cast("double")
          / col("n_distinct_pairs").cast("double"), 9))
  }
  val d37Sql: String =
    """WITH w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
                       unnest(string_split(text,' ')) w FROM documents),
      g AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
            FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.i=a.i+1
                     JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2),
      dd AS (SELECT DISTINCT doc_id, sh FROM g),
      dfs AS (SELECT sh, COUNT(*) AS df FROM dd GROUP BY 1),
      est AS (SELECT COUNT(*) AS n_grams,
                CAST(SUM(df) AS BIGINT) AS n_postings,
                CAST(SUM(CAST(df * (df - 1) // 2 AS DECIMAL(38,0))) AS BIGINT)
                  AS est_candidates
              FROM dfs),
      dp AS (SELECT COUNT(*) AS n_distinct_pairs FROM (
               SELECT DISTINCT x.doc_id da, y.doc_id db
               FROM dd x JOIN dd y ON x.sh = y.sh AND x.doc_id < y.doc_id)),
      sizes AS (SELECT doc_id, count(*) n FROM dd GROUP BY doc_id),
      pairs AS (SELECT x.doc_id da, y.doc_id db, count(*) shared
                FROM dd x JOIN dd y ON x.sh=y.sh AND x.doc_id<y.doc_id GROUP BY 1,2),
      vp AS (SELECT COUNT(*) AS n_verified_pairs
             FROM pairs JOIN sizes sa ON da=sa.doc_id JOIN sizes sb ON db=sb.doc_id
             WHERE CAST(shared AS DOUBLE)/(sa.n+sb.n-shared) >= 0.5)
      SELECT n_grams, n_postings, est_candidates, n_distinct_pairs,
             n_verified_pairs,
             round(CAST(est_candidates AS DOUBLE)
                   / CAST(n_distinct_pairs AS DOUBLE), 9) AS expansion,
             round(CAST(n_verified_pairs AS DOUBLE)
                   / CAST(n_distinct_pairs AS DOUBLE), 9) AS yield_rate
      FROM est CROSS JOIN dp CROSS JOIN vp"""

  // ---- d38: gram document-frequency histogram ----
  // d37 gives the total candidate volume; this shows WHERE it lives:
  // grams bucketed by log₂ document frequency, with each bucket's gram
  // count, posting mass, and — the decision column — its share of the
  // Σdf(df−1)/2 candidate volume. A healthy corpus concentrates grams
  // at df=1 (no pairs); a boilerplate-heavy one puts most candidate
  // volume in the hottest bucket, which is exactly the signal to route
  // the family through `graft.neardup.strategy=lsh` (banding is
  // immune to hot grams — collisions are random, not df-driven). ONE
  // gram-count pass + a log-bucket rollup; no pair join runs.
  val d38_gram_df_histogram: Q = (s, d) => {
    val dfs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), explode(expr(
        s"array_distinct(${wordGrams("words", 3, GramKey.XxHash64)})")).as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("df"))
    val buckets = dfs
      .withColumn("bucket", floor(log2(col("df"))).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_grams"),
        sum("df").as("postings"),
        sum(expr("CAST(df * (df - 1) div 2 AS DECIMAL(38,0))"))
          .cast("long").as("est_pairs"))
    val tot = buckets.agg(
      sum(col("est_pairs").cast("decimal(38,0)")).cast("long").as("tot_pairs"))
    buckets.crossJoin(broadcast(tot))
      .withColumn("pair_share",
        when(col("tot_pairs") > 0, round(
          col("est_pairs").cast("double") / col("tot_pairs").cast("double"), 9)))
      .select((pow(lit(2.0), col("bucket").cast("double")).cast("long"))
        .as("df_at_least"), col("n_grams"), col("postings"),
        col("est_pairs"), col("pair_share"))
      .orderBy("df_at_least")
  }
  val d38Sql: String =
    """WITH w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
                       unnest(string_split(text,' ')) w FROM documents),
      g AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
            FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.i=a.i+1
                     JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2),
      dd AS (SELECT DISTINCT doc_id, sh FROM g),
      dfs AS (SELECT sh, COUNT(*) AS df FROM dd GROUP BY 1),
      bk AS (SELECT CAST(floor(log2(df)) AS BIGINT) AS bucket,
               COUNT(*) AS n_grams, CAST(SUM(df) AS BIGINT) AS postings,
               CAST(SUM(CAST(df * (df - 1) // 2 AS DECIMAL(38,0))) AS BIGINT)
                 AS est_pairs
             FROM dfs GROUP BY 1),
      tot AS (SELECT CAST(SUM(CAST(est_pairs AS DECIMAL(38,0))) AS BIGINT)
                AS tot_pairs FROM bk)
      SELECT CAST(pow(2.0, CAST(bucket AS DOUBLE)) AS BIGINT) AS df_at_least,
             n_grams, postings, est_pairs,
             CASE WHEN tot_pairs > 0 THEN
               round(CAST(est_pairs AS DOUBLE) / CAST(tot_pairs AS DOUBLE), 9)
             END AS pair_share
      FROM bk CROSS JOIN tot ORDER BY df_at_least"""

  val queries: Map[String, Q] = Map(
    "d38_gram_df_histogram"   -> d38_gram_df_histogram,
    "d37_pairjoin_cost_model" -> d37_pairjoin_cost_model,
    "d36_substring_dedup"  -> d36_substring_dedup,
    "d35_threshold_frontier" -> d35_threshold_frontier,
    "d34_survivor_bias"    -> d34_survivor_bias,
    "d33_shard_leakage"    -> d33_shard_leakage,
    "d23_weighted_jaccard" -> d23_weighted_jaccard,
    "d32_dup_family_sizes" -> d32_dup_family_sizes,
    "d31_estimator_calibration" -> d31_estimator_calibration,
    "d30_shingle_sensitivity" -> d30_shingle_sensitivity,
    "d24_lsh_recall"       -> d24_lsh_recall,
    "d25_lsh_tuning"       -> d25_lsh_tuning,
    "d27_transitivity"     -> d27_transitivity,
    "d28_hard_negatives"   -> d28_hard_negatives,
    "d29_dedup_impact"     -> d29_dedup_impact,
  )
  val oracles: Map[String, String] = Map(
    "d38_gram_df_histogram"   -> d38Sql,
    "d37_pairjoin_cost_model" -> d37Sql,
    "d36_substring_dedup"  -> d36Sql,
    "d35_threshold_frontier" -> d35Sql,
    "d34_survivor_bias"    -> d34Sql,
    "d33_shard_leakage"    -> d33Sql,
    "d23_weighted_jaccard" -> d23Sql,
    "d32_dup_family_sizes" -> d32Sql,
    "d31_estimator_calibration" -> d31Sql,
    "d30_shingle_sensitivity" -> d30Sql,
    "d24_lsh_recall"       -> d24Sql,
    "d25_lsh_tuning"       -> d25Sql,
    "d27_transitivity"     -> d27Sql,
    "d28_hard_negatives"   -> d28Sql,
    "d29_dedup_impact"     -> d29Sql,
  )
}
