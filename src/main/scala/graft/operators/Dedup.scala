package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{minhash_signature, simhash64}
import graft.api.GraftOps.persistTracked
import scala.util.chaining._

/** Training-data dedup family — SURVEY.md §2.
  *
  * Scale design: signature computation (md5 / MinHash / SimHash) is always
  * a narrow per-row map — the custom expressions in [[graft.functions]]
  * compute a full signature in one pass over the text, no explode, no
  * shuffle. The only wide stages are groupBy/join on *hash-valued* keys,
  * which are uniform by construction (no skew, no hot partitions). Pair
  * enumeration is never all-pairs: candidates come from band buckets
  * (d02), shared shingles (d03), or Hamming chunks (d04) — the standard
  * MinHash-LSH (Broder 1997) / SimHash (Charikar 2002) constructions.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  /** Normalized text for dedup: lowercase, collapse whitespace, trim. */
  private val normSpark = "trim(regexp_replace(lower(text), '\\\\s+', ' '))"
  private val normDuck  = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  // ---- d01: exact dedup via normalized 128-bit hash ----
  // One shuffle on md5(norm-text); keeper = min doc_id per group. At 100 TB
  // this is a single hash-partitioned aggregation — the canonical exact
  // dedup. md5 collisions (~2^-64 at petabyte counts) are acceptable; swap
  // to sha2-256 for stronger guarantees with the same plan shape.
  val d01_exact_dedup: Q = (s, d) => {
    Tables.documents(s, d)
      .withColumn("text_hash", md5(expr(normSpark)))
      .groupBy("text_hash")
      .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("text_hash")
  }
  val d01Sql: String =
    s"""SELECT md5($normDuck) AS text_hash,
       min(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
       FROM documents GROUP BY 1 ORDER BY text_hash"""

  // ---- d02: MinHash-LSH candidate pairs (rows-only; spec checks recall) ----
  // k=64 signature, 16 bands x 4 rows: catches Jaccard >~ 0.5 w.h.p.
  // Signature is one narrow pass (custom Expression); band explode is 16
  // rows/doc; the bucket self-join touches only docs sharing a band hash.
  val d02_minhash_lsh: Q = (s, d) => {
    val sig = Tables.documents(s, d)
      .select(col("doc_id"), minhash_signature(col("text"), 64, 3).as("sig"))
    val bands = sig.select(
      col("doc_id"),
      explode(expr("transform(sequence(0, 15), b -> hash(slice(sig, b*4+1, 4), b))")).as("bkey"))
    val pairs = bands.as("x").join(bands.as("y"), "bkey")
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
    val sa = sig.select(col("doc_id").as("da"), col("sig").as("sa"))
    val sb = sig.select(col("doc_id").as("db"), col("sig").as("sb"))
    pairs.join(sa, "da").join(sb, "db")
      .withColumn("est_jaccard",
        expr("size(filter(zip_with(sa, sb, (u, v) -> u = v), x -> x)) / CAST(64 AS DOUBLE)"))
      .select("da", "db", "est_jaccard")
      .orderBy("da", "db")
  }

  // d02 oracle (round 4, rows-only -> exact): Verify dumps the Spark-
  // computed signature table to /tmp/graft_aux/minhash_sigs (the hash
  // family is not SQL-expressible, but everything AFTER it is), and
  // DuckDB replays banding + candidate join + agreement estimation ON
  // those signatures. One semantic note: Spark buckets on
  // hash(slice, b) — murmur3 of the band values — while the SQL joins
  // on the band values themselves; equal values ⟹ equal hash, so the
  // two differ only under a murmur3 collision between different slices
  // of the same band (none at any tested SF, and a collision could only
  // ADD a low-estimate candidate row). Signature generation itself
  // stays property-spec covered (HashingPropertiesSpec).
  val d02Sql: String =
    """WITH sigs AS (SELECT doc_id, sig
                   FROM read_parquet('/tmp/graft_aux/minhash_sigs/*.parquet')),
      b AS (SELECT unnest(generate_series(0, 15)) AS b),
      bands AS (SELECT doc_id, b, sig[b*4+1 : b*4+4] AS bv FROM sigs, b),
      cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
               FROM bands x JOIN bands y
                 ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id),
      j AS (SELECT da, db, sa.sig AS s_a, sb.sig AS s_b
            FROM cand JOIN sigs sa ON sa.doc_id = da
                      JOIN sigs sb ON sb.doc_id = db),
      i AS (SELECT unnest(generate_series(1, 64)) AS i)
      SELECT da, db,
             CAST(SUM(CASE WHEN s_a[i.i] = s_b[i.i] THEN 1 ELSE 0 END)
               AS DOUBLE) / 64 AS est_jaccard
      FROM j, i GROUP BY da, db ORDER BY da, db"""

  // ---- d03: word-3-gram Jaccard verified near-dup pairs ----
  // Candidates from the shared-shingle join (never all-pairs); exact
  // Jaccard on candidates only. Oracle replicates shingling relationally.
  // The join key is xxhash64(shingle), not the shingle string: an 8-byte
  // shuffle key instead of ~20-byte strings (collision odds ~n^2/2^64 are
  // irrelevant at any feasible shingle count).
  // The plan is GraftOps.jaccardJoin: the per-doc shingle count rides
  // the postings through the join (no sizes table), and the postings
  // table is persisted before the self-join, so shingling runs ONCE and
  // both join sides scan the cache (without the barrier Catalyst
  // re-derives the shingle expression on each side). Persisting the
  // postings before the candidate join is also the 100 TB shape: it's
  // the smallest thing worth materializing and every downstream stage
  // reuses it.
  /** Verified near-dup pairs (word-3-gram Jaccard >= 0.5), persisted.
    * This is THE reusable unit of the dedup family: clustering (d08),
    * keep-best (d13), and edit-distance verification (t09) all consume
    * the same pair set — the persist means the candidate join runs once
    * per session, every consumer reads the (tiny) verified set from
    * cache. Spark's CacheManager matches by canonicalized plan, so
    * independent invocations share the entry. Every persist here is
    * tracked, so `GraftOps.releaseCaches` frees it.
    *
    * Spark conf `graft.neardup.strategy` routes the candidate join for
    * the WHOLE family at once: "shingle" (default — the exact shared-
    * shingle join, `GraftOps.jaccardJoin`) or "lsh" (d06's banded path,
    * `GraftOps.jaccardJoinBanded`, candidate volume bounded by collision
    * probability — what a duplicated 100 TB corpus sets, and then
    * d03/d08/d13/t09/d15/p01 all inherit it).
    */
  def verifiedPairs(s: SparkSession, d: String): DataFrame = {
    // materialized-artifact route: a cleaning run wrote the pair table
    // once (GraftOps.dedupArtifacts); audits read it instead of
    // re-paying the candidate join — see DedupArtifactStore
    graft.api.DedupArtifactStore.readIfPresent(s, d, "pairs").foreach { t =>
      return t.select(col("id_a").as("da"), col("id_b").as("db"),
        col("shared"), col("jaccard"))
    }
    graft.api.GraftOps
      .nearDupPairs(Tables.documents(s, d), col("doc_id"), col("text"), 0.5,
        strategy = "session")
      .select(col("id_a").as("da"), col("id_b").as("db"),
        col("shared"), col("jaccard"))
      .pipe(persistTracked)
  }

  val d03_ngram_jaccard: Q = (s, d) => verifiedPairs(s, d).orderBy("da", "db")
  val d03Sql: String =
    """WITH w AS (SELECT doc_id, generate_subscripts(string_split(text,' '),1) i,
                       unnest(string_split(text,' ')) w FROM documents),
      g AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
            FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.i=a.i+1
                     JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2),
      dd AS (SELECT DISTINCT doc_id, sh FROM g),
      sizes AS (SELECT doc_id, count(*) n FROM dd GROUP BY doc_id),
      pairs AS (SELECT x.doc_id da, y.doc_id db, count(*) shared
                FROM dd x JOIN dd y ON x.sh=y.sh AND x.doc_id<y.doc_id GROUP BY 1,2)
      SELECT da, db, shared,
             CAST(shared AS DOUBLE)/(sa.n+sb.n-shared) AS jaccard
      FROM pairs JOIN sizes sa ON da=sa.doc_id JOIN sizes sb ON db=sb.doc_id
      WHERE CAST(shared AS DOUBLE)/(sa.n+sb.n-shared) >= 0.5
      ORDER BY da, db"""

  // ---- d04: SimHash near-dup candidates (rows-only; spec-verified) ----
  // 64-bit signature per row (one pass); candidates share one of eight
  // 8-bit chunks (pigeonhole: any pair within Hamming distance 7 must
  // share one; empirically catches the 8-10 range too); verify with exact
  // popcount on candidates only.
  val d04_simhash: Q = (s, d) => {
    val sigs = Tables.documents(s, d)
      .select(col("doc_id"), simhash64(col("text"), 2).as("sh"))
    val chunks = sigs.select(
      col("doc_id"), col("sh"),
      explode(expr(
        "transform(sequence(0, 7), c -> c * 256 + int(shiftright(sh, c * 8) & 255))")).as("ckey"))
    chunks.as("x").join(chunks.as("y"), "ckey")
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("da"), col("y.doc_id").as("db"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 10)
      .orderBy("da", "db")
  }
  // d04 oracle (round 4, rows-only -> exact): the SimHash bit-mixing is
  // in-expression only, but the signatures Verify dumps to
  // /tmp/graft_aux/simhash_sigs replay bitwise-exactly in DuckDB — both
  // engines use arithmetic >> on signed 64-bit, & 255 masks the sign
  // extension identically, and bit_count(xor(...)) is the same popcount.
  val d04Sql: String =
    """WITH sigs AS (SELECT doc_id, sh
                   FROM read_parquet('/tmp/graft_aux/simhash_sigs/*.parquet')),
      c AS (SELECT unnest(generate_series(0, 7)) AS c),
      chunks AS (SELECT doc_id, sh, c.c * 256 + CAST((sh >> (c.c * 8)) & 255 AS INT)
                   AS ckey FROM sigs, c),
      cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
                      x.sh AS s_a, y.sh AS s_b
               FROM chunks x JOIN chunks y
                 ON x.ckey = y.ckey AND x.doc_id < y.doc_id)
      SELECT da, db, CAST(bit_count(xor(s_a, s_b)) AS BIGINT) AS hamming
      FROM cand WHERE bit_count(xor(s_a, s_b)) <= 10 ORDER BY da, db"""

  // ---- d06: production-scale verified near-dup (LSH candidates + exact
  // Jaccard on candidates only) ----
  // This is the pipeline you run at 100 TB: MinHash-LSH prunes the pair
  // space to banding candidates (bounded by collision probability, NOT by
  // shared-shingle frequency), then exact shingle-set Jaccard verifies
  // just those pairs. Unlike d03, cost does not grow with stop-shingle
  // document frequency.
  // The operator is a `GraftOps.jaccardJoinBanded` call: its
  // minhash_signature candidates band on `bandKeys` (d02 keeps its own
  // murmur3 band key, which its oracle replays), and the join-back
  // verifier checks the word-3-gram sets of the candidates only.
  // Oracle: shares d03's SQL. At 16 bands x 4 rows a true pair at
  // jaccard t is missed with probability (1 - t^4)^16 — ~1e-18 at the
  // seeded t≈0.98 — so the verified output EQUALS the exact join's
  // (checked empirically at sf0.001/0.01/0.1: identical at all three);
  // the spec still asserts recall and no-false-accepts independently,
  // so a corpus where banding actually lost a pair would fail the spec
  // before it failed the oracle.
  val d06_lsh_verified: Q = (s, d) =>
    graft.api.GraftOps
      .jaccardJoinBanded(Tables.documents(s, d), col("doc_id"), col("text"), 0.5)
      .select(col("id_a").as("da"), col("id_b").as("db"),
        col("shared"), col("jaccard"))
      .orderBy("da", "db")

  // ---- d07: KMV distinct sketch vs exact (native TypedImperativeAggregate) ----
  // The sketch hash is md5-prefix based, so DuckDB replicates the EXACT
  // kth-min and estimate — a custom mergeable aggregate with a bit-exact
  // oracle.
  val d07_kmv_sketch: Q = (s, d) => {
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        graft.functions.kmv_distinct(col("l_orderkey"), 64).as("kmv"),
        countDistinct("l_orderkey").as("exact_distinct"))
      .select(
        col("l_returnflag"),
        col("kmv.kth_min").as("kth_min"),
        col("kmv.n_heap").as("n_heap"),
        round(col("kmv.est_distinct"), 6).as("est_distinct"),
        col("exact_distinct"))
      .orderBy("l_returnflag")
  }
  val d07Sql: String =
    """WITH h AS (SELECT DISTINCT l_returnflag,
                ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 12))::BIGINT AS hv
              FROM lineitem),
      r AS (SELECT l_returnflag, hv,
              row_number() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn,
              COUNT(*) OVER (PARTITION BY l_returnflag) AS n_distinct
            FROM h)
      SELECT l_returnflag,
             max(hv) AS kth_min,
             COUNT(*) AS n_heap,
             round(CASE WHEN min(n_distinct) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                        ELSE CAST(63 AS DOUBLE) * CAST(281474976710656 AS DOUBLE) / max(hv) END, 6) AS est_distinct,
             CAST(min(n_distinct) AS BIGINT) AS exact_distinct
      FROM r WHERE rn <= 64
      GROUP BY l_returnflag ORDER BY l_returnflag"""

  val queries: Map[String, Q] = Map(
    "d07_kmv_sketch"    -> d07_kmv_sketch,
    "d06_lsh_verified"  -> d06_lsh_verified,
    "d01_exact_dedup"   -> d01_exact_dedup,
    "d02_minhash_lsh"   -> d02_minhash_lsh,
    "d03_ngram_jaccard" -> d03_ngram_jaccard,
    "d04_simhash"       -> d04_simhash,
  )
  val oracles: Map[String, String] = Map(
    "d07_kmv_sketch"    -> d07Sql,
    "d01_exact_dedup"   -> d01Sql,
    "d03_ngram_jaccard" -> d03Sql,
    // banding at 16x4 cannot miss the seeded t≈0.98 pairs (see scaladoc),
    // so the verified output equals d03's and shares its oracle
    "d06_lsh_verified"  -> d03Sql,
    // d02/d04: exact oracles over the Verify-dumped signature tables
    // (DuckDB replays banding / Hamming-chunking / estimation on the
    // signatures; generation itself stays spec-covered, and the recall
    // specs vs d03 are retained).
    "d02_minhash_lsh"   -> d02Sql,
    "d04_simhash"       -> d04Sql,
  )
}
