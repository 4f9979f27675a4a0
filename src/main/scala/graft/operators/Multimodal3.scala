package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.api.GraftOps.{persistTracked, postings, postingsPairs, spreadNarrowScan}
import scala.util.chaining._

/** Multimodal plumbing, part 3: content-addressed asset storage. */
object Multimodal3 {
  type Q = (SparkSession, String) => DataFrame

  // ---- m07: content-addressed asset dedup (CAS savings report) ----
  // Multimodal corpora store payloads content-addressed: one physical
  // copy per distinct payload hash, refcounted. This op computes the
  // per-source storage ledger — assets, bytes referenced, bytes
  // physically stored (first occurrence corpus-wide owns the bytes),
  // bytes saved. One narrow hash pass over the payload column (the
  // payload here is the m01 stub: the text's UTF-8 bytes; a real corpus
  // hashes image/audio blobs the same way), one groupBy on the 128-bit
  // hash (uniform, skew-free), one metadata-sized source rollup. The
  // payload bytes ride no shuffle at all — only (hash, source, length)
  // triples move.
  val m07_asset_dedup: Q = (s, d) => {
    val assets = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        md5(encode(col("text"), "UTF-8")).as("h"),
        length(encode(col("text"), "UTF-8")).cast("long").as("bytes"))
    val owners = assets.groupBy("h")
      .agg(min("doc_id").as("owner_doc"))
    assets.join(owners, "h")
      .groupBy("source")
      .agg(count(lit(1)).as("n_assets"),
        sum("bytes").as("bytes_referenced"),
        sum(when(col("doc_id") === col("owner_doc"), col("bytes"))
          .otherwise(lit(0L))).as("bytes_stored"),
        sum(when(col("doc_id") =!= col("owner_doc"), col("bytes"))
          .otherwise(lit(0L))).as("bytes_saved"))
      .orderBy("source")
  }
  val m07Sql: String =
    """WITH a AS (SELECT doc_id, source, md5(text) AS h,
             CAST(octet_length(encode(text)) AS BIGINT) AS bytes
           FROM documents),
      o AS (SELECT h, min(doc_id) AS owner_doc FROM a GROUP BY h)
      SELECT source, COUNT(*) AS n_assets,
             CAST(sum(bytes) AS BIGINT) AS bytes_referenced,
             CAST(sum(CASE WHEN doc_id = owner_doc THEN bytes ELSE 0 END) AS BIGINT)
               AS bytes_stored,
             CAST(sum(CASE WHEN doc_id <> owner_doc THEN bytes ELSE 0 END) AS BIGINT)
               AS bytes_saved
      FROM a JOIN o USING (h)
      GROUP BY source ORDER BY source"""

  // ---- m08: asset snapshot diff (incremental crawl reconciliation) ----
  // Between two crawls of the same asset space you need the delta
  // BEFORE paying decode/embed costs: which payloads are new, which
  // vanished, which changed content under the same id, which are
  // byte-identical (skip them). q54 classifies row-level CDC; this is
  // the ASSET form — classification by content hash, so a re-downloaded
  // byte-identical payload is "unchanged" no matter its metadata, and
  // the decode queue is exactly the added+changed set. Snapshots here
  // are deterministic slices of documents (old = doc_id % 3 <> 0,
  // new = doc_id % 5 <> 0, with every doc_id % 7 = 0 payload revised) —
  // in production, two SnapshotTable versions or crawl manifests. Plan:
  // narrow hash pass per side (payload bytes never shuffle — 128-bit
  // hashes + lengths do), ONE full-outer join on asset id, constant-size
  // status rollup with byte totals.
  val m08_asset_diff: Q = (s, d) => {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val old = base.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id").as("id_o"),
        md5(encode(col("text"), "UTF-8")).as("h_o"),
        length(encode(col("text"), "UTF-8")).cast("long").as("b_o"))
    val neu = base.filter(col("doc_id") % 5 =!= 0)
      .withColumn("payload",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .select(col("doc_id").as("id_n"),
        md5(encode(col("payload"), "UTF-8")).as("h_n"),
        length(encode(col("payload"), "UTF-8")).cast("long").as("b_n"))
    old.join(neu, col("id_o") === col("id_n"), "full_outer")
      .withColumn("status",
        when(col("id_o").isNull, "added")
          .when(col("id_n").isNull, "removed")
          .when(col("h_o") =!= col("h_n"), "changed")
          .otherwise("unchanged"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_assets"),
        sum(coalesce(col("b_n"), lit(0L))).as("bytes_new"),
        sum(coalesce(col("b_o"), lit(0L))).as("bytes_old"))
      .orderBy("status")
  }
  val m08Sql: String =
    """WITH o AS (SELECT doc_id AS id_o, md5(text) AS h_o,
             CAST(octet_length(encode(text)) AS BIGINT) AS b_o
           FROM documents WHERE doc_id % 3 <> 0),
      n AS (SELECT doc_id AS id_n,
             md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS h_n,
             CAST(octet_length(encode(
               CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END))
               AS BIGINT) AS b_n
           FROM documents WHERE doc_id % 5 <> 0),
      j AS (SELECT *,
             CASE WHEN id_o IS NULL THEN 'added'
                  WHEN id_n IS NULL THEN 'removed'
                  WHEN h_o <> h_n THEN 'changed'
                  ELSE 'unchanged' END AS status
            FROM o FULL OUTER JOIN n ON id_o = id_n)
      SELECT status, COUNT(*) AS n_assets,
             CAST(SUM(COALESCE(b_n, 0)) AS BIGINT) AS bytes_new,
             CAST(SUM(COALESCE(b_o, 0)) AS BIGINT) AS bytes_old
      FROM j GROUP BY status ORDER BY status"""

  // ---- m09: byte-shingle asset near-dup (codec-agnostic) ----
  // CAS dedup (m07) only catches byte-IDENTICAL payloads; assets that
  // differ by a few bytes (retouched header, appended metadata,
  // truncated tail) need near-dup detection on the RAW BYTES — no codec
  // involved, so it works on any modality the container can't decode.
  // Byte 16-grams (32 hex chars over the hex encoding) play the
  // shingles — the gram must be long enough that its document frequency
  // is near 1 on the corpus (df is what drives the candidate join's
  // expansion: byte 4-grams on this 30-word vocabulary were so hot the
  // join cost 16s at sf0.1; 16-byte grams ≈ 3 words match d03's shingle
  // rarity and the same query runs ~1s); candidates from the
  // shared-shingle join, exact Jaccard verification on candidates only
  // — d03's candidate discipline applied to binary, over the FULL
  // corpus (rare grams keep candidate volume near the true-pair count;
  // at threshold 0.3 the output is exactly the corpus's seeded
  // near-dup pairs). A heavily duplicated corpus routes the same plan
  // through MinHash bands over the byte shingles, as d03 does via
  // graft.neardup.strategy. Shingles ride the shuffle as 64-bit xxhash64
  // (Jaccard-verify family policy: a collision perturbs one score, not
  // a count). The Spark side slices the RAW BINARY (substring on
  // BinaryType is byte-addressed copyOfRange — O(gram) per slice);
  // slicing the hex STRING instead is O(position) per slice because
  // UTF8String.substring counts codepoints from the start, making the
  // shingle stage QUADRATIC in asset size — measured 13.5 s vs 1.9 s
  // on this corpus, and unbounded on real multi-MB assets. The oracle
  // keeps the hex-substring formulation: hex is injective, so the
  // byte-gram equality classes — all the join/count semantics depend
  // on — are identical. Both routes take their grams from the codegen'd
  // byte_gram_hashes expression (each window hashed in place over the
  // raw bytes); the lsh route's signatures come from the codegen'd
  // minhash_set_signature inside jaccardJoinBandedSets. Spark's
  // `transform` lambdas compute the same values but run interpreted per
  // element, about 4x slower on the lsh route (2,000-doc corpus, 4
  // vCPUs).
  val m09_asset_neardup: Q = (s, d) => {
    val assets = Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("bs"))
    val gramExpr = graft.functions.byte_gram_hashes(col("bs"), 16)
    // the duplicated-corpus escape hatch the text family has: conf
    // graft.neardup.strategy=lsh reroutes candidates through MinHash
    // bands over the byte grams (≤ bands bucket rows per asset, no df²
    // exposure on a hot gram — long zero-runs / shared headers in real
    // binary assets), verified exactly on candidates only
    if (s.conf.get("graft.neardup.strategy", "shingle") == "lsh")
      graft.api.GraftOps
        .jaccardJoinBandedSets(assets, col("doc_id"), gramExpr, 0.3)
        .orderBy("id_a", "id_b")
    else m09ExactRoute(assets, gramExpr)
  }

  private def m09ExactRoute(assets: DataFrame,
                            gramExpr: org.apache.spark.sql.Column)
      : DataFrame = {
    // leading spread (m10's pattern): the byte-gram hash stage is the
    // CPU-bound pass and a one-row-group corpus serializes it on a
    // single core otherwise; gated on scan parallelism — a parallel real
    // scan pays no exchange. The postings explode_outer (r13, guide §7.2
    // plan audit) keeps InferFiltersFromGenerate from re-running the
    // whole per-gram hash pass as a scan-side Filter on ONE task; the
    // gram array is never empty (a payload shorter than the gram is one
    // gram), so outer-explode output is row-identical. r13 second pass:
    // n rides THROUGH the join instead of a sizes table joined back
    // after the pair aggregate — 3 postings-cache scans → 1.
    val shingled = postings(spreadNarrowScan(assets)
        .select(col("doc_id").as("__id"), gramExpr.as("__shs")))
      .pipe(persistTracked)
    postingsPairs(shingled, shingled, 0.3).orderBy("id_a", "id_b")
  }
  // byte-aligned stride 2 over the hex string = byte 16-grams
  val m09Sql: String =
    """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx
                FROM documents),
      g AS (SELECT DISTINCT doc_id, substr(hx, i, 32) AS sh
            FROM h, LATERAL (SELECT unnest(generate_series(1,
              greatest(length(hx) - 31, 1), 2)) AS i) t),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
      pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS shared
                FROM g x JOIN g y ON x.sh = y.sh AND x.doc_id < y.doc_id
                GROUP BY 1, 2)
      SELECT id_a, id_b, shared,
             CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
      FROM pairs JOIN sizes sa ON id_a = sa.doc_id
                 JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.3
      ORDER BY id_a, id_b"""

  // ---- m10: content-defined chunking (sub-asset storage dedup) ----
  // m07 dedups whole payloads; real asset stores (restic/borg/casync,
  // and every large-blob training cache) dedup at CHUNK level so an
  // append or in-place edit re-uploads one chunk, not the file. Chunk
  // boundaries must be CONTENT-defined (fixed-size chunking breaks on
  // the first insertion — every later chunk shifts): here a boundary
  // falls wherever the hash of the trailing 8-char window lands in
  // 1/16 of hash space (mean chunk ≈ 16 chars at this corpus's ~300-
  // char payloads; the window-hash test is the same judgment gear/
  // Rabin CDC makes, stated as an md5 both engines share — a
  // production build swaps in a rolling-hash Expression for O(1)/byte
  // instead of O(w)/byte, same boundaries contract). The whole
  // boundary scan + chunk slicing runs IN-ROW over each payload
  // (higher-order functions — no explode of positions, no per-position
  // shuffle rows); the only exchange is the chunk-HASH aggregate
  // (uniform 128-bit key, skew-free), and the ledger is one
  // constant-size rollup: chunks, distinct chunks, referenced vs
  // stored chars, dedup ratio. Payload bytes never shuffle — only
  // (hash, count, length) triples move, m07's discipline at sub-asset
  // granularity.
  /** Content-defined chunk slicing, in-row: boundary wherever the md5 of
    * the trailing 8-char window starts with '0' (1/16 of hash space).
    * Input needs a `text` column; adds `n`, `bnds`, `chunks`.
    *
    * PERF CONTRACT: `bnds` (the full per-position md5 scan) must be
    * referenced a CONSTANT number of times per row, always OUTSIDE any
    * lambda. CollapseProject inlines withColumn aliases into every use
    * site, so an `element_at(bnds, j)` inside the slicing lambda would
    * re-run the whole boundary scan per array ELEMENT — observed as a
    * 14-minute single task on the 5k-doc corpus before the zip_with
    * rewrite (chunk starts = [0]++bnds, ends = bnds++[n], both built
    * once per row; the lambda touches only its own (s, e) pair).
    *
    * The leading spread parallelizes payload rows across cores: the
    * boundary scan is the CPU-bound stage (O(n_chars) hash judgments
    * per row), and a small corpus arrives as ONE parquet row group =
    * one task without it. The exchange moves the payload column once,
    * before any expansion, and is GATED on scan parallelism
    * (GraftOps.spreadNarrowScan): a production many-file corpus scans
    * parallel already and pays no exchange.
    */
  private def withCdcChunks(df: DataFrame,
      bnd: String = "substring(md5(substring(text, i - 7, 8)), 1, 1) = '0'")
      : DataFrame =
    graft.api.GraftOps.spreadNarrowScan(df)
      .withColumn("n", length(col("text")))
      .withColumn("bnds", expr(
        s"""filter(sequence(8, greatest(length(text), 8)),
             i -> i <= length(text) AND $bnd)"""))
      .withColumn("chunks", expr(
        """filter(zip_with(concat(array(0), bnds), concat(bnds, array(n)),
             (s, e) -> substring(text, s + 1, e - s)),
             c -> c <> '')"""))

  val m10_cdc_chunking: Q = (s, d) => {
    val chunked = withCdcChunks(
      Tables.documents(s, d).select(col("doc_id"), col("text")))
    chunked
      // explode_OUTER, deliberately: plain explode triggers
      // InferFiltersFromGenerate, which synthesizes size(chunks) > 0
      // with the WHOLE chunking expression inlined and pushes it below
      // the repartition — i.e. the full boundary scan re-runs inside
      // the single-task scan stage (measured 11 s of the op's 15 s).
      // Outer explode infers no filter; the null guard above the
      // Generate (cannot push below a generated column) keeps the
      // row semantics identical for non-empty payloads.
      .select(explode_outer(col("chunks")).as("chunk"))
      .filter(col("chunk").isNotNull)
      .groupBy(md5(encode(col("chunk"), "UTF-8")).as("h"))
      .agg(count(lit(1)).as("cnt"), min(length(col("chunk"))).as("clen"))
      .agg(sum("cnt").as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        sum(col("cnt") * col("clen")).as("chars_total"),
        sum(col("clen").cast("long")).as("chars_stored"))
      .select(col("n_chunks"), col("n_distinct"), col("chars_total"),
        col("chars_stored"),
        round(col("chars_stored").cast("double")
          / col("chars_total").cast("double"), 9).as("dedup_ratio"),
        round(col("chars_total").cast("double")
          / col("n_chunks").cast("double"), 9).as("mean_chunk_chars"))
  }
  val m10Sql: String =
    """WITH b AS (
        SELECT doc_id, text, length(text) AS n,
               list_filter(generate_series(8, greatest(length(text), 8)),
                 i -> i <= length(text)
                      AND substring(md5(substring(text, i - 7, 8)), 1, 1) = '0')
                 AS bnds
        FROM documents),
      c AS (
        SELECT doc_id,
               list_filter(
                 list_transform(generate_series(1, len(bnds) + 1),
                   j -> substring(text,
                          CASE WHEN j = 1 THEN 1 ELSE bnds[j - 1] + 1 END,
                          (CASE WHEN j = len(bnds) + 1 THEN n
                                ELSE bnds[j] END)
                            - (CASE WHEN j = 1 THEN 1
                                    ELSE bnds[j - 1] + 1 END) + 1)),
                 s -> s <> '') AS chunks
        FROM b),
      e AS (SELECT unnest(chunks) AS chunk FROM c),
      h AS (SELECT md5(chunk) AS h, COUNT(*) AS cnt,
                   MIN(length(chunk)) AS clen
            FROM e GROUP BY 1)
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_chunks,
             COUNT(*) AS n_distinct,
             CAST(SUM(cnt * clen) AS BIGINT) AS chars_total,
             CAST(SUM(clen) AS BIGINT) AS chars_stored,
             round(CAST(SUM(clen) AS DOUBLE)
                   / CAST(SUM(cnt * clen) AS DOUBLE), 9) AS dedup_ratio,
             round(CAST(SUM(cnt * clen) AS DOUBLE)
                   / CAST(SUM(cnt) AS DOUBLE), 9) AS mean_chunk_chars
      FROM h"""

  // ---- m11: incremental chunk upload (the CDC payoff, quantified) ----
  // The follow-on crawl: 1-in-5 assets arrive edited (deterministic
  // append — the metadata-tail case CDC is built for). A whole-file
  // store re-uploads every changed asset in full; the chunk store
  // uploads only chunks whose hash is absent from the v1 ledger — and
  // because boundaries are content-defined, an appended tail disturbs
  // only the final chunk, so the upload is a sliver of the naive bytes.
  // Plan shape: two in-row chunkings (no extra scan — v2 derives from
  // the same frame), two uniform hash aggregates, one hash anti-join,
  // constant-size rollup. Payload text never shuffles; only
  // (hash, len) pairs move — the m08/m10 discipline for the delta path.
  val m11_incremental_chunks: Q = (s, d) => {
    def chunkStore(df: DataFrame): DataFrame =
      withCdcChunks(df)
        // outer + null guard: see m10 — avoids the inferred
        // size(chunks) > 0 scan-stage filter that re-runs the scan
        .select(explode_outer(col("chunks")).as("chunk"))
        .filter(col("chunk").isNotNull)
        .groupBy(md5(encode(col("chunk"), "UTF-8")).as("h"))
        .agg(min(length(col("chunk"))).as("clen"))
    val docs = Tables.documents(s, d)
    val v1 = docs.select(col("doc_id"), col("text"))
    // r14 (§6): chunk only the EDITED v2 docs, not the whole v2 corpus.
    // Unedited docs are byte-identical to their v1 rows, so every chunk
    // hash they contribute is in the v1 ledger by construction and can
    // never survive the anti-join; conversely a hash that survives has
    // ALL its v2 occurrences in edited docs (one unedited occurrence
    // would put it in v1), so min(clen) over edited-only occurrences
    // equals min over full v2 for every surviving hash. The delta pass
    // thus pays a 1-in-5 boundary scan instead of a full one —
    // new_chunks / cdc_upload_chars are bit-identical.
    val v2edited = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"),
        concat(col("text"), lit(" rev "), col("lang")).as("text"))
    val fresh = chunkStore(v2edited)
      .join(chunkStore(v1).select("h"), Seq("h"), "left_anti")
      .agg(count(lit(1)).as("new_chunks"),
        coalesce(sum(col("clen").cast("long")), lit(0L)).as("cdc_upload_chars"))
    val naive = v2edited
      .agg(count(lit(1)).as("edited_docs"),
        sum(length(col("text")).cast("long")).as("naive_upload_chars"))
    naive.join(fresh)
      .select(col("edited_docs"), col("naive_upload_chars"),
        col("new_chunks"), col("cdc_upload_chars"),
        round(col("cdc_upload_chars").cast("double")
          / col("naive_upload_chars").cast("double"), 9).as("cdc_ratio"))
  }
  val m11Sql: String =
    """WITH v2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN text || ' rev ' || lang
                    ELSE text END AS text
        FROM documents),
      b1 AS (
        SELECT text, length(text) AS n,
               list_filter(generate_series(8, greatest(length(text), 8)),
                 i -> i <= length(text)
                      AND substring(md5(substring(text, i - 7, 8)), 1, 1) = '0')
                 AS bnds
        FROM documents),
      c1 AS (
        SELECT list_filter(
                 list_transform(generate_series(1, len(bnds) + 1),
                   j -> substring(text,
                          CASE WHEN j = 1 THEN 1 ELSE bnds[j - 1] + 1 END,
                          (CASE WHEN j = len(bnds) + 1 THEN n
                                ELSE bnds[j] END)
                            - (CASE WHEN j = 1 THEN 1
                                    ELSE bnds[j - 1] + 1 END) + 1)),
                 s -> s <> '') AS chunks
        FROM b1),
      h1 AS (SELECT DISTINCT md5(chunk) AS h
             FROM (SELECT unnest(chunks) AS chunk FROM c1)),
      b2 AS (
        SELECT text, length(text) AS n,
               list_filter(generate_series(8, greatest(length(text), 8)),
                 i -> i <= length(text)
                      AND substring(md5(substring(text, i - 7, 8)), 1, 1) = '0')
                 AS bnds
        FROM v2),
      c2 AS (
        SELECT list_filter(
                 list_transform(generate_series(1, len(bnds) + 1),
                   j -> substring(text,
                          CASE WHEN j = 1 THEN 1 ELSE bnds[j - 1] + 1 END,
                          (CASE WHEN j = len(bnds) + 1 THEN n
                                ELSE bnds[j] END)
                            - (CASE WHEN j = 1 THEN 1
                                    ELSE bnds[j - 1] + 1 END) + 1)),
                 s -> s <> '') AS chunks
        FROM b2),
      h2 AS (SELECT md5(chunk) AS h, MIN(length(chunk)) AS clen
             FROM (SELECT unnest(chunks) AS chunk FROM c2) GROUP BY 1),
      nw AS (SELECT CAST(COUNT(*) AS BIGINT) AS new_chunks,
                    CAST(COALESCE(SUM(clen), 0) AS BIGINT) AS cdc_upload_chars
             FROM h2 WHERE h NOT IN (SELECT h FROM h1)),
      nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS edited_docs,
                    CAST(SUM(length(text)) AS BIGINT) AS naive_upload_chars
             FROM v2 WHERE doc_id % 5 = 0)
      SELECT edited_docs, naive_upload_chars, new_chunks, cdc_upload_chars,
             round(CAST(cdc_upload_chars AS DOUBLE)
                   / CAST(naive_upload_chars AS DOUBLE), 9) AS cdc_ratio
      FROM nv CROSS JOIN nw"""

  // ---- m12: chunk-store garbage collection plan (mark and sweep) ----
  // The lifecycle closer for the m10/m11 chunk store: when a retention
  // policy purges documents (simulated: doc_id % 7 = 0), chunks whose
  // EVERY referencing doc is purged become orphans; chunks shared with
  // a surviving doc must stay. This is content-addressed-store GC
  // (Delta VACUUM / restic prune shape) as a pure relational plan:
  // MARK = per-hash live-reference count (one combinable aggregate —
  // same shuffle key as the m10 ledger build, uniform 128-bit, skew-
  // free), SWEEP = the orphan census + reclaimable bytes, a constant-
  // size rollup. Exactly the m10 exchange discipline: payload text
  // never shuffles, only (hash, live_refs, len) triples; the orphan
  // test live_refs = 0 is exact integer logic on both engines.
  val m12_chunk_gc: Q = (s, d) => {
    val chunks = withCdcChunks(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
      // outer + null guard: see m10 — avoids the inferred
      // size(chunks) > 0 scan-stage filter that re-runs the scan
      .select(col("doc_id"), explode_outer(col("chunks")).as("chunk"))
      .filter(col("chunk").isNotNull)
    chunks
      .groupBy(md5(encode(col("chunk"), "UTF-8")).as("h"))
      .agg(count(lit(1)).as("n_refs"),
        sum(when(col("doc_id") % 7 === 0, 0L).otherwise(1L)).as("live_refs"),
        min(length(col("chunk"))).cast("long").as("clen"))
      .agg(count(lit(1)).as("n_chunks"),
        sum("n_refs").as("n_refs_total"),
        count(when(col("live_refs") === 0, 1)).as("n_orphans"),
        sum(when(col("live_refs") === 0, col("clen")).otherwise(0L))
          .as("chars_reclaimable"),
        sum(when(col("live_refs") > 0, col("clen")).otherwise(0L))
          .as("chars_live"))
      .withColumn("reclaim_frac", round(
        col("chars_reclaimable").cast("double")
          / (col("chars_reclaimable") + col("chars_live")).cast("double"), 9))
  }
  val m12Sql: String =
    """WITH b AS (
        SELECT doc_id, text, length(text) AS n,
               list_filter(generate_series(8, greatest(length(text), 8)),
                 i -> i <= length(text)
                      AND substring(md5(substring(text, i - 7, 8)), 1, 1) = '0')
                 AS bnds
        FROM documents),
      c AS (
        SELECT doc_id,
               list_filter(
                 list_transform(generate_series(1, len(bnds) + 1),
                   j -> substring(text,
                          CASE WHEN j = 1 THEN 1 ELSE bnds[j - 1] + 1 END,
                          (CASE WHEN j = len(bnds) + 1 THEN n
                                ELSE bnds[j] END)
                            - (CASE WHEN j = 1 THEN 1
                                    ELSE bnds[j - 1] + 1 END) + 1)),
                 s -> s <> '') AS chunks
        FROM b),
      e AS (SELECT doc_id, unnest(chunks) AS chunk FROM c),
      h AS (SELECT md5(chunk) AS h, COUNT(*) AS n_refs,
                   CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END)
                     AS BIGINT) AS live_refs,
                   CAST(MIN(length(chunk)) AS BIGINT) AS clen
            FROM e GROUP BY 1)
      SELECT COUNT(*) AS n_chunks,
             CAST(SUM(n_refs) AS BIGINT) AS n_refs_total,
             COUNT(*) FILTER (WHERE live_refs = 0) AS n_orphans,
             CAST(SUM(CASE WHEN live_refs = 0 THEN clen ELSE 0 END)
               AS BIGINT) AS chars_reclaimable,
             CAST(SUM(CASE WHEN live_refs > 0 THEN clen ELSE 0 END)
               AS BIGINT) AS chars_live,
             round(CAST(SUM(CASE WHEN live_refs = 0 THEN clen ELSE 0 END)
                     AS DOUBLE)
                   / CAST(SUM(clen) AS DOUBLE), 9) AS reclaim_frac
      FROM h"""

  // ---- m13: shard placement plan (hash-shard balance audit) ----
  // Where do the chunks physically go: assign every distinct chunk to
  // one of 16 shards by a hash-prefix modulus (content-addressed
  // placement — no directory, any node can compute it) and audit the
  // balance a placement service signs off on: per shard chunk count,
  // bytes, byte share, and the deviation from the uniform 1/16. The
  // shard key derives from the md5 hex prefix via integer arithmetic
  // (identical cross-engine); everything downstream of the m10 ledger
  // is a 16-row rollup. Uniform 128-bit hashing is the load-balance
  // argument at any scale — the audit verifies it instead of assuming.
  val m13_shard_plan: Q = (s, d) => {
    val chunks = withCdcChunks(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
      // outer + null guard: see m10
      .select(explode_outer(col("chunks")).as("chunk"))
      .filter(col("chunk").isNotNull)
    val perShard = chunks
      .groupBy(md5(encode(col("chunk"), "UTF-8")).as("h"))
      .agg(min(length(col("chunk"))).cast("long").as("clen"))
      .groupBy((conv(substring(col("h"), 1, 8), 16, 10).cast("long") % 16)
        .as("shard"))
      .agg(count(lit(1)).as("n_chunks"), sum("clen").as("bytes"))
    val total = perShard.agg(sum("bytes").as("total_bytes"))
    perShard.crossJoin(broadcast(total))
      .select(col("shard"), col("n_chunks"), col("bytes"),
        round(col("bytes").cast("double") / col("total_bytes").cast("double"), 9)
          .as("byte_share"),
        round(col("bytes").cast("double") / col("total_bytes").cast("double")
          - lit(1.0 / 16.0), 9).as("dev_from_uniform"))
      .orderBy("shard")
  }
  val m13Sql: String =
    """WITH b AS (
        SELECT doc_id, text, length(text) AS n,
               list_filter(generate_series(8, greatest(length(text), 8)),
                 i -> i <= length(text)
                      AND substring(md5(substring(text, i - 7, 8)), 1, 1) = '0')
                 AS bnds
        FROM documents),
      c AS (
        SELECT doc_id,
               list_filter(
                 list_transform(generate_series(1, len(bnds) + 1),
                   j -> substring(text,
                          CASE WHEN j = 1 THEN 1 ELSE bnds[j - 1] + 1 END,
                          (CASE WHEN j = len(bnds) + 1 THEN n
                                ELSE bnds[j] END)
                            - (CASE WHEN j = 1 THEN 1
                                    ELSE bnds[j - 1] + 1 END) + 1)),
                 s -> s <> '') AS chunks
        FROM b),
      h AS (SELECT md5(chunk) AS h, CAST(MIN(length(chunk)) AS BIGINT) AS clen
            FROM (SELECT unnest(chunks) AS chunk FROM c) GROUP BY 1),
      sh AS (SELECT ('0x' || substring(h, 1, 8))::BIGINT % 16 AS shard,
                    COUNT(*) AS n_chunks, CAST(SUM(clen) AS BIGINT) AS bytes
             FROM h GROUP BY 1),
      t AS (SELECT CAST(SUM(bytes) AS BIGINT) AS total_bytes FROM sh)
      SELECT shard, n_chunks, bytes,
             round(CAST(bytes AS DOUBLE) / CAST(total_bytes AS DOUBLE), 9)
               AS byte_share,
             round(CAST(bytes AS DOUBLE) / CAST(total_bytes AS DOUBLE)
                   - CAST(1.0 AS DOUBLE) / CAST(16.0 AS DOUBLE), 9)
               AS dev_from_uniform
      FROM sh CROSS JOIN t ORDER BY shard"""

  // ---- m15: asset integrity verification (bit-rot census) ----
  // The periodic scrub every content-addressed store schedules: re-hash
  // what is on disk and compare against the stored manifest. Simulated
  // fault model: assets with doc_id % 101 = 0 read back altered (a
  // deterministic corruption suffix). Per source: ok / corrupted
  // counts, bytes at risk — ONE narrow dual-hash pass (manifest hash
  // of the pristine payload vs re-hash of the read-back payload, both
  // in-row md5s, no payload shuffle), one combinable rollup. The scrub
  // at 100 TB is exactly this plan: linear scan, hash compare, tiny
  // report.
  val m15_integrity_check: Q = (s, d) => {
    val scanned = Tables.documents(s, d)
      .withColumn("manifest_h", md5(encode(col("text"), "UTF-8")))
      .withColumn("readback",
        when(col("doc_id") % 101 === 0, concat(col("text"), lit("~bitrot")))
          .otherwise(col("text")))
      .withColumn("disk_h", md5(encode(col("readback"), "UTF-8")))
    scanned.groupBy("source")
      .agg(count(lit(1)).as("n_assets"),
        count(when(col("manifest_h") === col("disk_h"), 1)).as("n_ok"),
        count(when(col("manifest_h") =!= col("disk_h"), 1)).as("n_corrupt"),
        sum(when(col("manifest_h") =!= col("disk_h"), col("n_chars"))
          .otherwise(0L)).as("chars_at_risk"))
      .withColumn("corrupt_rate", round(
        col("n_corrupt").cast("double") / col("n_assets").cast("double"), 9))
      .orderBy("source")
  }
  val m15Sql: String =
    """WITH sc AS (
        SELECT source, n_chars,
               md5(text) AS manifest_h,
               md5(CASE WHEN doc_id % 101 = 0
                        THEN text || '~bitrot'
                        ELSE text END) AS disk_h
        FROM documents)
      SELECT source, COUNT(*) AS n_assets,
             COUNT(*) FILTER (WHERE manifest_h = disk_h) AS n_ok,
             COUNT(*) FILTER (WHERE manifest_h <> disk_h) AS n_corrupt,
             CAST(SUM(CASE WHEN manifest_h <> disk_h THEN n_chars ELSE 0 END)
               AS BIGINT) AS chars_at_risk,
             round(CAST(COUNT(*) FILTER (WHERE manifest_h <> disk_h) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE), 9) AS corrupt_rate
      FROM sc GROUP BY 1 ORDER BY source"""

  // ---- m17: hot-tier admission plan (storage tiering over the CAS) ----
  // A 100 TB CAS keeps a small hot tier (NVMe/page cache) in front of
  // cold object storage; admission is a knapsack the greedy
  // value-density heuristic solves within 1 item of optimal: rank each
  // DISTINCT asset by references-per-byte (the expected hit payoff per
  // hot byte), admit down the ranking while the tier's byte budget
  // (25% of the source's stored bytes here) lasts. Membership uses
  // q103's minimal-prefix rule — "cumulative bytes BEFORE this asset
  // fit the budget" — on an exact-integer cumulative over a
  // source-PARTITIONED window (no global single-task sort; per-source
  // plans ship independently, the m13 discipline). Ref counts, byte
  // sums and the admitted set are all exact integers; the one IEEE
  // division per source is the reported hit rate.
  val m17_hot_tier_plan: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val refs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        md5(encode(col("text"), "UTF-8")).as("h"),
        length(encode(col("text"), "UTF-8")).cast("long").as("bytes"))
    // one physical copy per (source, hash): the source's stored ledger
    val assets = refs.groupBy("source", "h")
      .agg(count(lit(1)).as("n_refs"), min("bytes").as("bytes"))
      .withColumn("density",
        col("n_refs").cast("double") / col("bytes").cast("double"))
    val w = Window.partitionBy("source")
      .orderBy(desc("density"), col("h"))
    val budget = assets.groupBy("source")
      .agg(sum("bytes").as("stored_bytes"))
    val planned = assets
      .withColumn("cum_before", coalesce(
        sum("bytes").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .join(budget, "source")
      .withColumn("hot",
        (col("cum_before") + col("bytes")) * 4 <= col("stored_bytes"))
    planned.groupBy("source")
      .agg(count(lit(1)).as("n_assets"),
        count(when(col("hot"), 1)).as("n_hot"),
        max("stored_bytes").as("bytes_stored"),
        sum(when(col("hot"), col("bytes")).otherwise(0L)).as("bytes_hot"),
        sum("n_refs").as("refs_total"),
        sum(when(col("hot"), col("n_refs")).otherwise(0L)).as("refs_hot"))
      .withColumn("hit_rate", round(
        col("refs_hot").cast("double") / col("refs_total").cast("double"), 9))
      .orderBy("source")
  }
  val m17Sql: String =
    """WITH r AS (SELECT doc_id, source, md5(text) AS h,
               CAST(octet_length(encode(text)) AS BIGINT) AS bytes
             FROM documents),
      a AS (SELECT source, h, COUNT(*) AS n_refs, MIN(bytes) AS bytes,
              CAST(COUNT(*) AS DOUBLE) / CAST(MIN(bytes) AS DOUBLE)
                AS density
            FROM r GROUP BY 1, 2),
      bud AS (SELECT source, CAST(SUM(bytes) AS BIGINT) AS stored_bytes
              FROM a GROUP BY 1),
      pl AS (SELECT a.*, bud.stored_bytes,
               COALESCE(SUM(bytes) OVER (PARTITION BY a.source
                 ORDER BY density DESC, h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cum_before
             FROM a JOIN bud ON a.source = bud.source),
      f AS (SELECT *, (cum_before + bytes) * 4 <= stored_bytes AS hot
            FROM pl)
      SELECT source, COUNT(*) AS n_assets,
        COUNT(CASE WHEN hot THEN 1 END) AS n_hot,
        MAX(stored_bytes) AS bytes_stored,
        CAST(SUM(CASE WHEN hot THEN bytes ELSE 0 END) AS BIGINT)
          AS bytes_hot,
        CAST(SUM(n_refs) AS BIGINT) AS refs_total,
        CAST(SUM(CASE WHEN hot THEN n_refs ELSE 0 END) AS BIGINT)
          AS refs_hot,
        round(CAST(SUM(CASE WHEN hot THEN n_refs ELSE 0 END) AS DOUBLE)
              / CAST(SUM(n_refs) AS DOUBLE), 9) AS hit_rate
      FROM f GROUP BY source ORDER BY source"""
  // ---- m18: CDC chunk-size tuning table ----
  // The parameter decision m10 takes as given: the boundary
  // probability sets the mean chunk size, and smaller chunks buy a
  // better dedup ratio at the price of more chunk records (index +
  // manifest pressure). This runs the IDENTICAL content-defined
  // boundary scheme at three selectivities — P=1/8 (fine), 1/16
  // (m10's default), 1/256 (coarse) — and reports the
  // ratio-vs-chunk-count frontier the CAS operator picks from. Three
  // fact-scale chunking passes by construction (the tuning run costs
  // 3×; the production pipeline then runs ONE config — same honesty
  // as d30/d31's calibration family). P values are powers of two
  // (exact doubles); everything else integer counts + 1e-9 ratios.
  val m18_chunk_tuning: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // r14 (§6 one-pass I/O): the three configs classify the SAME
    // per-position md5 — the hash is ~all the query's CPU, and the old
    // shape re-ran the whole boundary scan per config (3 corpus passes).
    // Compute the hash ONCE per position as a small int (the first two
    // hex chars as 0..255 — conv is exact on md5's lowercase hex) and
    // persist; each config then derives its boundary list from the
    // cached array with an integer predicate (fine: v < 32 ⇔ first char
    // in ('0','1'); default: v < 16 ⇔ '0'; coarse: v = 0 ⇔ '00') —
    // boundary sets, chunks and ledgers are bit-identical to the
    // three-pass form. The persist (tracked, so GraftOps.releaseCaches
    // frees it) trades one corpus-scale int-array cache (~1 int per
    // payload char, spilling to disk beyond memory) for two full md5
    // scans — the right trade wherever the tuning table is worth
    // running at all. positions: null past end-of-text
    // keeps the transform index-free of filter (same trick as
    // withCdcChunks' i <= length guard).
    val pref = graft.api.GraftOps.spreadNarrowScan(docs)
      .withColumn("n", length(col("text")))
      .withColumn("pp", expr(
        """transform(sequence(8, greatest(length(text), 8)),
             i -> IF(i <= length(text),
               CAST(conv(substring(md5(substring(text, i - 7, 8)), 1, 2),
                         16, 10) AS INT),
               CAST(NULL AS INT)))"""))
      .pipe(graft.api.GraftOps.persistTracked)
    def pass(cfg: String, p: Double, pred: String): DataFrame =
      pref
        .withColumn("bnds", expr(
          s"""filter(transform(pp, (v, j) ->
               IF(v IS NOT NULL AND $pred, j + 8, CAST(NULL AS INT))),
               x -> x IS NOT NULL)"""))
        .withColumn("chunks", expr(
          """filter(zip_with(concat(array(0), bnds), concat(bnds, array(n)),
               (s, e) -> substring(text, s + 1, e - s)),
               c -> c <> '')"""))
        .select(explode_outer(col("chunks")).as("chunk"))
        .filter(col("chunk").isNotNull)
        .groupBy(md5(encode(col("chunk"), "UTF-8")).as("h"))
        .agg(count(lit(1)).as("cnt"), min(length(col("chunk"))).as("clen"))
        .agg(sum("cnt").as("n_chunks"), count(lit(1)).as("n_distinct"),
          sum(col("cnt") * col("clen")).as("chars_total"),
          sum(col("clen").cast("long")).as("chars_stored"))
        .select(lit(cfg).as("cfg"), lit(p).as("p_boundary"),
          col("n_chunks"), col("n_distinct"),
          round(col("chars_stored").cast("double")
            / col("chars_total").cast("double"), 9).as("dedup_ratio"),
          round(col("chars_total").cast("double")
            / col("n_chunks").cast("double"), 9).as("mean_chunk_chars"))
    pass("fine_p8", 0.125, "v < 32")
      .unionAll(pass("default_p16", 0.0625, "v < 16"))
      .unionAll(pass("coarse_p256", 0.00390625, "v = 0"))
      .orderBy(desc("p_boundary"))
  }
  val m18Sql: String = {
    def one(cfg: String, p: String, bnd: String) =
      s"""SELECT '$cfg' AS cfg, CAST($p AS DOUBLE) AS p_boundary,
           CAST(SUM(cnt) AS BIGINT) AS n_chunks,
           COUNT(*) AS n_distinct,
           round(CAST(SUM(clen) AS DOUBLE)
                 / CAST(SUM(cnt * clen) AS DOUBLE), 9) AS dedup_ratio,
           round(CAST(SUM(cnt * clen) AS DOUBLE)
                 / CAST(SUM(cnt) AS DOUBLE), 9) AS mean_chunk_chars
         FROM (
           SELECT md5(chunk) AS h, COUNT(*) AS cnt,
                  MIN(length(chunk)) AS clen
           FROM (
             SELECT unnest(chunks) AS chunk FROM (
               SELECT list_filter(
                        list_transform(generate_series(1, len(bnds) + 1),
                          j -> substring(text,
                                 CASE WHEN j = 1 THEN 1
                                      ELSE bnds[j - 1] + 1 END,
                                 (CASE WHEN j = len(bnds) + 1 THEN n
                                       ELSE bnds[j] END)
                                   - (CASE WHEN j = 1 THEN 1
                                           ELSE bnds[j - 1] + 1 END) + 1)),
                        s -> s <> '') AS chunks
               FROM (
                 SELECT doc_id, text, length(text) AS n,
                        list_filter(
                          generate_series(8, greatest(length(text), 8)),
                          i -> i <= length(text) AND $bnd) AS bnds
                 FROM documents) b) c) e
           GROUP BY 1) h"""
    one("fine_p8", "0.125",
        "substring(md5(substring(text, i - 7, 8)), 1, 1) IN ('0', '1')") +
      "\nUNION ALL\n" +
      one("default_p16", "0.0625",
        "substring(md5(substring(text, i - 7, 8)), 1, 1) = '0'") +
      "\nUNION ALL\n" +
      one("coarse_p256", "0.00390625",
        "substring(md5(substring(text, i - 7, 8)), 1, 2) = '00'") +
      "\nORDER BY p_boundary DESC"
  }

  val queries: Map[String, Q] = Map(
    "m07_asset_dedup"   -> m07_asset_dedup,
    "m15_integrity_check" -> m15_integrity_check,
    "m17_hot_tier_plan" -> m17_hot_tier_plan,
    "m18_chunk_tuning" -> m18_chunk_tuning,
    "m08_asset_diff"    -> m08_asset_diff,
    "m09_asset_neardup" -> m09_asset_neardup,
    "m10_cdc_chunking"  -> m10_cdc_chunking,
    "m11_incremental_chunks" -> m11_incremental_chunks,
    "m12_chunk_gc"      -> m12_chunk_gc,
    "m13_shard_plan"    -> m13_shard_plan,
  )
  val oracles: Map[String, String] = Map(
    "m07_asset_dedup"   -> m07Sql,
    "m08_asset_diff"    -> m08Sql,
    "m09_asset_neardup" -> m09Sql,
    "m10_cdc_chunking"  -> m10Sql,
    "m11_incremental_chunks" -> m11Sql,
    "m12_chunk_gc"      -> m12Sql,
    "m13_shard_plan"    -> m13Sql,
    "m15_integrity_check" -> m15Sql,
    "m17_hot_tier_plan" -> m17Sql,
    "m18_chunk_tuning" -> m18Sql,
  )


}
