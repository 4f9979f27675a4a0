package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.chaining._
import graft.functions.{bloom_agg, bloom_might_contain, cosine_lsh_keys, cosine_sim, minhash_set_signature, minhash_signature, simhash64}

/** The user-facing verb set: DataFrame-in / DataFrame-out operations over
  * ANY frame (nothing here reads the test tables), so an existing
  * pipeline can adopt the library one call at a time — either directly
  * (`GraftOps.exactDedup(df, ...)`) or through the implicit syntax
  * (`import graft.api.syntax._; df.exactDedup(...)`).
  *
  * Every verb builds a lazy Catalyst plan with the same scale properties
  * the corresponding SparkEntry query demonstrates (one uniform-key
  * shuffle for dedup; bucket joins, never all-pairs, for candidates;
  * narrow per-row signature passes).
  */
object GraftOps {

  // ---- intermediate-cache accounting -------------------------------
  // Several verbs persist fan-out intermediates (signature tables,
  // range-partitioned inputs, centroid rounds). The verbs return LAZY
  // frames, so the verb itself can never know when the caller's final
  // action has run — unpersisting inside would recompute the branch.
  // Instead every internal persist is TRACKED here, and long-lived
  // sessions (notebooks, SqlSurface TVF servers, loops over
  // dedupManifest) call [[releaseCaches]] between jobs. One-shot jobs
  // can ignore this: caches die with the session, and
  // `spark.catalog.clearCache()` (which Bench issues between queries)
  // also drops them.
  private val trackedCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  private[graft] def persistTracked(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    trackedCaches.add(p)
    p
  }

  /** Unpersist every intermediate a graft verb has cached so far in
    * this JVM (blocking=false: Spark reclaims the blocks
    * asynchronously). Call between jobs in long-lived sessions; frames
    * already fully consumed lose nothing, frames still lazily pending
    * will recompute their branch if re-used after release.
    */
  def releaseCaches(): Unit = {
    var df = trackedCaches.poll()
    while (df != null) { df.unpersist(false); df = trackedCaches.poll() }
  }

  // ---- scan-parallelism-gated spread -------------------------------
  /** Round-robin spread of a scan-shaped input across the session's
    * parallelism, applied ONLY when the scan cannot parallelize by
    * itself. A tiny corpus arrives as ONE parquet row group — the
    * minimum input split — so a CPU-dense map stage over it (shingle
    * hashing, MinHash folds, CDC boundary scans) runs as a single task
    * while every other core idles; the exchange fixes that by moving
    * the scan bytes once, before any expansion. On a many-file
    * production corpus the scan is already parallel, and an
    * unconditional repartition here would be a full-corpus shuffle
    * added in front of the map stage — the one thing the 100 TB story
    * cannot afford. So the spread is decided at PLAN-BUILD time from
    * the input's estimated scan task count: file-source leaves use
    * Spark's own split math (maxPartitionBytes / openCostInBytes /
    * minPartitionNum over the FileIndex's size and file count), cached
    * inputs report their cached partitioning, and lineage that already
    * crosses a shuffle (join / aggregate / window / sort) inherits
    * numShufflePartitions and is returned unchanged. A topmost
    * `repartition(n)` / `coalesce(n)` reports the n it delivers
    * (coalesce never more than its input), so a frame narrowed by
    * `coalesce(1)` is spread again. No job
    * runs to make the decision, and the decision is deterministic for
    * a given corpus + session conf.
    */
  def spreadNarrowScan(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sessionState.conf.numShufflePartitions
    if (estimatedInputPartitions(df) >= want) df
    else df.repartition(want)
  }

  /** Plan-build-time estimate of the task count of the stage that will
    * scan `df` (no jobs run; see [[spreadNarrowScan]]).
    */
  private[graft] def estimatedInputPartitions(df: DataFrame): Int =
    math.min(estimatedPartitions(df.sparkSession, df.queryExecution.optimizedPlan),
      Int.MaxValue.toLong).toInt

  private def estimatedPartitions(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Long = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
      Join => LJoin, Repartition, RepartitionByExpression,
      RepartitionOperation, Sort => LSort, Window => LWindow}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val conf = spark.sessionState.conf
    val topShuffle = plan.find {
      case _: LJoin | _: Aggregate | _: LWindow | _: LSort |
           _: RepartitionOperation => true
      case _ => false
    }
    topShuffle match {
      case Some(r: Repartition) if r.shuffle => r.numPartitions
      case Some(r: Repartition) => // coalesce: never more than its input
        math.min(r.numPartitions.toLong, estimatedPartitions(spark, r.child))
      case Some(r: RepartitionByExpression) if r.optNumPartitions.isDefined =>
        r.optNumPartitions.get
      case Some(_) => conf.numShufflePartitions
      case None => plan.collectLeaves().map {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation =>
            // Spark's FilePartition.maxSplitBytes math over the already-
            // listed FileIndex totals: never a fresh listing, never a job
            val openCost = conf.filesOpenCostInBytes
            val maxBytes = conf.filesMaxPartitionBytes
            val minParts = conf.filesMinPartitionNum
              .getOrElse(spark.sparkContext.defaultParallelism).max(1)
            val nFiles = fs.location.inputFiles.length.toLong
            val totalBytes = fs.location.sizeInBytes + nFiles * openCost
            val bytesPerCore = totalBytes / minParts
            val maxSplit = math.min(maxBytes, math.max(openCost, bytesPerCore)).max(1L)
            math.max(nFiles, totalBytes / maxSplit)
          case _ => 1L
        }
        case m: InMemoryRelation =>
          m.cachedPlan.outputPartitioning.numPartitions.toLong
        case _ => 1L // LocalRelation / in-memory test frames: tiny, spread
      }.sum
    }
  }

  // ---- word k-grams: the one shingle definition ---------------------
  /** Gram key kinds for [[wordGrams]]. The DuckDB oracles reproduce the
    * keys, binding Spark's `xxhash64` (seed 42) and `md5` of the UTF-8
    * joined string; callers keep their own key kind and
    * `array_distinct`/`array_sort` wrapper, as oracle hashes depend on both.
    */
  private[graft] sealed abstract class GramKey(key: String => String) {
    def apply(gram: String): String = key(gram)
  }
  private[graft] object GramKey {
    case object Text extends GramKey(g => g)
    case object XxHash64 extends GramKey(g => s"xxhash64($g)")
    case object Md5 extends GramKey(g => s"unhex(md5($g))") // binary(16)
  }

  /** SQL: the word `k`-grams of the array expression `words`, in order
    * with repeats; gram i is `key(concat_ws(' ', slice(words, i, k)))`.
    * A doc shorter than `k` words yields the EMPTY array, matching
    * DuckDB (see [[gramPositions]]).
    *
    * `minhash_signature`'s Scala shingler (`TextExpressions.shingleHashes`:
    * lowercased, `\s+` split, a short doc is one gram of all its words)
    * is a separate contract, left alone on purpose.
    */
  private[graft] def wordGrams(words: String, k: Int, key: GramKey): String =
    s"transform(${gramPositions(words, k)}, i -> ${key(s"concat_ws(' ', slice($words, i, $k))")})"

  /** SQL: the 1-based starts of the `k`-word windows over `words`:
    * `sequence(1, size-k+1)`, or EMPTY when the doc is shorter than `k`
    * (DuckDB's generate_series(1, n) is [] at n <= 0). Unguarded, Spark's
    * sequence runs backwards to [1, 0] there and the window lambda
    * indexes outside the array, which throws under ANSI. The slice guard
    * needs no CASE branch in the hot expression. The bigram sites (t11,
    * t23, t29, t32) use it directly.
    */
  private[graft] def gramPositions(words: String, k: Int): String = {
    val m = s"size($words) - ${k - 1}"
    s"slice(sequence(1, greatest($m, 1)), 1, greatest($m, 0))"
  }

  /** SQL: one struct(band, bh) per MinHash-LSH band of the signature
    * array `sig`, bh = xxhash64 of the band's comma-joined slots. Batch
    * (`minhashCandidates`) and streaming (`StreamOps`) bucket on this one
    * key, which is what makes their candidate sets equal.
    */
  private[graft] def bandKeys(sig: String, bands: Int, rowsPerBand: Int): String =
    s"transform(sequence(0, ${bands - 1}), b -> struct(b AS band, " +
      s"xxhash64(concat_ws(',', slice($sig, b * $rowsPerBand + 1, $rowsPerBand))) AS bh))"

  /** Exact dedup: keep one row (min orderBy key) per normalized key.
    * One shuffle on the hash; payloads move only in the final semi-join.
    */
  def exactDedup(df: DataFrame, key: Column, idCol: Column): DataFrame = {
    val keepers = df.select(md5(key.cast("string")).as("__h"), idCol.as("__id"))
      .groupBy("__h").agg(min("__id").as("__keep"))
      .select(col("__keep"))
    df.join(keepers, idCol === col("__keep"), "left_semi")
  }

  /** MinHash-LSH near-dup candidate pairs over a text column: per-row
    * signatures (narrow), band keys, bucket equi-join — never all-pairs.
    * Returns (id_a, id_b) with id_a < id_b.
    */
  def minhashCandidates(df: DataFrame, id: Column, text: Column,
                        numHashes: Int = 64, bands: Int = 16,
                        shingleWords: Int = 3): DataFrame =
    // single-row-group input → single-task signature stage without the
    // spread (see jaccardJoinBandedSets); GATED on scan parallelism so a
    // production many-file corpus pays no exchange (spreadNarrowScan)
    bandCandidates(spreadNarrowScan(df).select(id.as("__id"),
        minhash_signature(text, numHashes, shingleWords).as("__sig")),
      bands, numHashes / bands)

  /** Jaccard of two sets from their sizes and overlap:
    * shared / (na + nb - shared). Two empty sets give NULL, not a
    * division by zero under ANSI, and NULL fails every `>=` threshold;
    * twin docs too short for one word gram get there through LSH, whose
    * signature counts a short doc as one gram. The denominator is
    * NULLIF(union, 0) spelled as CASE: Spark's `nullif` rewrites into a
    * `With` that adds a Project node to every plan it appears in.
    */
  private[graft] def jaccard(shared: Column, na: Column, nb: Column): Column = {
    val union = na + nb - shared
    shared.cast("double") / when(union =!= 0, union)
  }

  // ---- the near-dup pair pipeline ----------------------------------
  // Every verified-pair verb is one shape: a shingle set per row, a
  // candidate generator, and exact Jaccard on the candidates only. The
  // parts below are that shape's only copies; the generators are
  // interchangeable in front of the two verifiers (postings count for
  // the shared-shingle join, sorted-set intersection for the rest).

  /** The one text shingle set: the distinct xxhash64 word `n`-grams of
    * the array column `words` ([[wordGrams]]). Unsorted.
    */
  private[graft] def wordGramSet(words: String, n: Int): Column =
    expr(s"array_distinct(${wordGrams(words, n, GramKey.XxHash64)})")

  /** (__id, __shs): the gated spread of `df`, then each row's
    * [[wordGramSet]] over `text` split on ' '. The split is its own
    * column, so the per-gram lambda slices it instead of re-splitting.
    */
  private def textGramSets(df: DataFrame, id: Column, text: Column,
                           n: Int): DataFrame =
    spreadNarrowScan(df).select(id.as("__id"), split(text, " ").as("__w"))
      .select(col("__id"), wordGramSet("__w", n).as("__shs"))

  /** (__id, __shs, __n): each row's set, distinct and sorted, and its
    * size, over the gated spread of `df`. Not persisted: a caller that
    * reads it more than once pipes it through [[persistTracked]].
    * `sort_array`, not `array_sort`: array_sort compares through an
    * interpreted lambda; on non-null longs both give the same order.
    */
  private[graft] def shingleSets(df: DataFrame, id: Column, set: Column): DataFrame =
    withSize(spreadNarrowScan(df).select(id.as("__id"),
      sort_array(array_distinct(set)).as("__shs")))

  /** [[shingleSets]] of the word `n`-gram text set ([[textGramSets]]:
    * already distinct, so only sorted here).
    */
  private[graft] def textShingleSets(df: DataFrame, id: Column, text: Column,
                                     n: Int): DataFrame =
    withSize(textGramSets(df, id, text, n)
      .select(col("__id"), sort_array(col("__shs")).as("__shs")))

  private def withSize(sets: DataFrame): DataFrame =
    sets.withColumn("__n", size(col("__shs")).cast("long"))

  /** (__id, __n, __sh) postings of a (__id, __shs) set table: one row per
    * element, the set size computed narrowly before the explode and
    * carried through the pair join (no sizes aggregation afterwards).
    * explode_outer, NOT explode (the m09 lesson, guide §7.2): explode
    * lets InferFiltersFromGenerate add `size(__shs) > 0`, and pushdown
    * re-runs the WHOLE per-gram hash pass as a scan-side Filter below
    * the spread — serial on a one-row-group corpus, then computed AGAIN
    * above the exchange. An empty set yields one null-gram row, which
    * the null-rejecting equi-join in [[postingsPairs]] drops.
    */
  private[graft] def postings(sets: DataFrame): DataFrame =
    sets.select(col("__id"), size(col("__shs")).cast("long").as("__n"),
      explode_outer(col("__shs")).as("__sh"))

  /** The shared-shingle generator and its verifier in one: self-join of
    * two (__id, __n, __sh) posting tables on the shingle, count per
    * pair, [[jaccard]] >= `threshold`. Exact at any threshold; a hot
    * shingle of document frequency df costs O(df²) join rows.
    * Returns (id_a, id_b, shared, jaccard), id_a < id_b.
    */
  private[graft] def postingsPairs(x: DataFrame, y: DataFrame,
                                   threshold: Double): DataFrame =
    jaccardAtLeast(x.select(col("__id").as("id_a"), col("__n").as("__na"), col("__sh"))
      .join(y.select(col("__id").as("id_b"), col("__n").as("__nb"), col("__sh")), "__sh")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "__na", "__nb")
      .agg(count(lit(1)).as("shared")), threshold)

  /** The banded generator: (id_a, id_b), id_a < id_b, for every pair of
    * (__id, __sig) rows whose MinHash signatures agree on one band
    * ([[bandKeys]]) — at most `bands` bucket rows per row, whatever the
    * shingle document frequency.
    */
  private[graft] def bandCandidates(sigs: DataFrame, bands: Int,
                                    rowsPerBand: Int): DataFrame = {
    val banded = sigs.select(col("__id"), explode(expr(
      bandKeys("__sig", bands, rowsPerBand))).as("__b"))
      .select(col("__id"), col("__b.band"), col("__b.bh"))
    banded.as("x").join(banded.as("y"), Seq("band", "bh"))
      .where(col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
      .distinct()
  }

  /** [[bandCandidates]] of a [[shingleSets]] table, signed by the
    * codegen'd `minhash_set_signature`. Empty sets are dropped first:
    * their signature is all nulls, which every empty set shares, so k of
    * them would make k² candidates that can never verify.
    */
  private[graft] def setBandCandidates(sets: DataFrame, numHashes: Int,
                                       bands: Int): DataFrame =
    bandCandidates(sets.filter(col("__n") > 0).select(col("__id"),
      minhash_set_signature(col("__shs"), numHashes).as("__sig")),
      bands, numHashes / bands)

  /** Join both sides' sorted sets onto (id_a, id_b) candidates and count
    * the overlap: adds __sa, __na, __sb, __nb and shared (one
    * array_intersect per DISTINCT candidate pair).
    */
  private[graft] def sharedCounts(cands: DataFrame, sets: DataFrame): DataFrame =
    cands
      .join(sets.select(col("__id").as("id_a"), col("__shs").as("__sa"),
        col("__n").as("__na")), "id_a")
      .join(sets.select(col("__id").as("id_b"), col("__shs").as("__sb"),
        col("__n").as("__nb")), "id_b")
      .withColumn("shared", size(array_intersect(col("__sa"), col("__sb"))).cast("long"))

  /** The join-back verifier: (id_a, id_b, shared, jaccard) for the
    * candidates whose sets reach [[jaccard]] >= `threshold`.
    */
  private[graft] def verifyPairs(cands: DataFrame, sets: DataFrame,
                                 threshold: Double): DataFrame =
    jaccardAtLeast(sharedCounts(cands, sets), threshold)

  private def jaccardAtLeast(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.withColumn("jaccard", jaccard(col("shared"), col("__na"), col("__nb")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "shared", "jaccard")

  /** Exact word-n-gram Jaccard similarity join: candidates from shared
    * shingles, verified with exact set overlap. Returns
    * (id_a, id_b, shared, jaccard) for pairs with jaccard >= threshold.
    */
  def jaccardJoin(df: DataFrame, id: Column, text: Column,
                  threshold: Double, n: Int = 3): DataFrame = {
    // the postings table is persisted so both self-join sides read one
    // cache; the gated spread parallelizes the shingle+hash stage (and
    // the cache it builds) when the corpus arrives as one row group. This
    // is also the artifact build's pair-generation path.
    val shingled = postings(textGramSets(df, id, text, n)).pipe(persistTracked)
    postingsPairs(shingled, shingled, threshold)
  }

  /** Exact-verified Jaccard pairs with MinHash-LSH banding candidates —
    * the d06 path as a reusable verb. Candidate volume is bounded by
    * band-collision probability, NOT by shared-shingle document
    * frequency: on a heavily duplicated corpus the shared-shingle
    * self-join in [[jaccardJoin]] expands O(df²) per hot shingle, while
    * banding emits <= `bands` bucket rows per doc regardless.
    *
    * Candidates and verification use different shingles. The candidates
    * come from `minhash_signature`'s shingles (lowercased, split on
    * `\s+`, a doc shorter than `n` words counted as one gram); the
    * verified set is [[wordGramSet]] over the text split on ' '. The
    * miss bound (1 - t^r)^b (r = numHashes/bands) is about a pair's
    * Jaccard t over the FORMER shingles — at the 16×4 default ~1e-18
    * for t≈0.98 copies; tune bands up for recall closer to the
    * threshold. Where the two shingle sets agree (lowercase text of
    * single-space-separated words, every doc at least `n` words),
    * output pairs match [[jaccardJoin]] exactly up to banding recall.
    */
  def jaccardJoinBanded(df: DataFrame, id: Column, text: Column,
                        threshold: Double, n: Int = 3,
                        numHashes: Int = 64, bands: Int = 16): DataFrame =
    // sets are read by the two join-backs only: unpersisted, the set
    // build shares the spread exchange with minhashCandidates
    verifyPairs(minhashCandidates(df, id, text, numHashes, bands, n),
      textShingleSets(df, id, text, n), threshold)

  /** [[jaccardJoinBanded]] for a PRECOMPUTED 64-bit shingle-hash set
    * column — the banding escape hatch for non-text shingles (byte
    * grams on binary assets: m09). Signatures are MinHash over the
    * hash set: slot h is the minimum of h-seeded xxhash64 over the
    * elements, computed by the codegen'd `minhash_set_signature`
    * expression (one compiled loop per row; the equivalent `transform`
    * lambdas run interpreted per element). Candidates come from
    * band-bucket equijoins (≤ `bands` bucket rows per asset regardless
    * of gram document frequency — the property that caps a hot-gram
    * df² blowup), and verification is exact set intersection on
    * candidates only.
    */
  def jaccardJoinBandedSets(df: DataFrame, id: Column, shingles: Column,
                            threshold: Double, numHashes: Int = 64,
                            bands: Int = 16): DataFrame = {
    // The set table's leading spread (m10's pattern, guide §2.5 input
    // skew): the signature stage is the CPU-bound heart of the verb —
    // numHashes minhash folds over every shingle set — and a small
    // corpus arrives as ONE parquet row group = one task, serializing
    // it (and the cache it builds) on a single core. Measured on m09's
    // lsh route at sf0.1: two ~8.5 s single-task stages → sub-second
    // across 32 cores. Persisted: signatures and both join-backs read it.
    val sets = shingleSets(df, id, shingles).pipe(persistTracked)
    verifyPairs(setBandCandidates(sets, numHashes, bands), sets, threshold)
  }

  /** Near-dup pair strategy dispatch: "shingle" = exact shared-shingle
    * candidates ([[jaccardJoin]] — exact at any threshold, but per-hot-
    * shingle candidate cost O(df²)); "lsh" = MinHash-banded candidates
    * ([[jaccardJoinBanded]] — candidate volume bounded by collision
    * probability, recall (1-(1-t^4)^16 at defaults), the 100 TB path).
    * The session default comes from spark conf `graft.neardup.strategy`
    * when callers pass "session".
    */
  def nearDupPairs(df: DataFrame, id: Column, text: Column,
                   threshold: Double, n: Int = 3,
                   strategy: String = "shingle"): DataFrame = {
    val s = strategy match {
      case "session" =>
        df.sparkSession.conf.get("graft.neardup.strategy", "shingle")
      case other => other
    }
    s match {
      case "lsh" => jaccardJoinBanded(df, id, text, threshold, n)
      case "shingle" => jaccardJoin(df, id, text, threshold, n)
      case bad => throw new IllegalArgumentException(
        s"unknown near-dup strategy '$bad' (expected shingle|lsh)")
    }
  }

  /** SimHash near-dup candidates: 64-bit signature per row, pairs sharing
    * one of `chunks` signature chunks (pigeonhole over Hamming distance).
    */
  def simhashCandidates(df: DataFrame, id: Column, text: Column,
                        chunks: Int = 8): DataFrame = {
    val bits = 64 / chunks
    val sigs = df.select(id.as("__id"), simhash64(text, 2).as("__s"))
    val chunked = sigs.select(col("__id"), explode(expr(
      s"transform(sequence(0, ${chunks - 1}), c -> " +
        s"struct(c AS c, shiftright(__s, c * $bits) & ${(1L << bits) - 1} AS v))")).as("__c"))
      .select(col("__id"), col("__c.c"), col("__c.v"))
    chunked.as("x").join(chunked.as("y"), Seq("c", "v"))
      .where(col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
      .distinct()
  }

  /** Deterministic distributed k-means over an embedding column — the
    * coarse quantizer SemDeDup/IVF-style pipelines need (Abbas et al.
    * 2023 use ~100k clusters so the within-cluster pair join stays
    * bounded). Seeds are the `k` vectors with the smallest
    * md5(id) — a distributed top-k (TakeOrderedAndProject), NOT an
    * unpartitioned corpus rank; the seed-numbering window then runs
    * over k rows only. Each round is s06's Lloyd step: assignment
    * broadcasts the k centroid arrays and scores cosines in-row
    * (corpus×k narrow work, no shuffle of vectors), recompute is one
    * per-(cluster, dim) decimal-exact mean. `iters` assignment rounds
    * run with `iters - 1` recomputes between them, so iters=1 is
    * seed-quantization and iters=2 is one full Lloyd refinement. Every
    * step (hash seeding, cosine argmax with cluster-id tiebreak,
    * decimal means) is engine-exact and replicable in ANSI SQL — d22's
    * DuckDB oracle replays the whole loop. Centroids stay a DataFrame
    * end-to-end (no driver collect).
    *
    * Scale: a single broadcast holds to k×dims ≈ 10⁷ cells (the
    * `graft.kmeans.broadcastCells` conf, ~80 MB of doubles). Past it —
    * SemDeDup's own recipe at 100 TB is k ≈ corpus/1000 with 768-dim
    * embeddings, 10⁸–10⁹ cells — assignment switches to BLOCKED
    * broadcasts: the round's centroid table is persisted (k rows, tiny)
    * and broadcast in cluster-id range chunks, each chunk scoring the
    * corpus with a payload-free partial argmax; because
    * max(struct(cos, -cluster)) is associative, the per-chunk partials
    * merge in the same ONE aggregate (map-side max-of-maxes — each task
    * collapses its chunk candidates before the exchange, so the shuffle
    * moves chunk-count narrow (cos, cluster) rows per doc, never the
    * embedding). Vectors rejoin once per round for the recompute. The
    * chunked path is value-identical to the single broadcast — the spec
    * pins equality with the ceiling forced below k×dims.
    *
    * Returns (id, cluster) with cluster in 1..k.
    */
  def kmeans(df: DataFrame, id: Column, vec: Column,
             k: Int, iters: Int = 2): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = df.select(id.as("__id"),
        transform(vec, x => x.cast("double")).as("__v"))
      .pipe(persistTracked)
    val seeds = e.withColumn("__h", md5(col("__id").cast("string")))
      .orderBy("__h", "__id").limit(k)
    // numbering window runs over the k pruned seeds only
    val cents0 = boundedSingleGroup(seeds)
      .withColumn("cluster",
        row_number().over(Window.partitionBy("__g").orderBy("__h", "__id"))
          .cast("long"))
      .select(col("cluster"), col("__v").as("__cent"))
    val spark = df.sparkSession
    val maxCells = spark.conf.getOption("graft.kmeans.broadcastCells")
      .map(_.toLong).getOrElse(10000000L)
    // dims probed from one row (one tiny job — the chunk count must be
    // known at plan time): nChunks = ceil(k*dims / maxCells) blocks of
    // contiguous cluster ids, each under the broadcast budget.
    val dims = e.select(size(col("__v"))).head.getInt(0).toLong.max(1L)
    val nChunks = math.min(k.toLong,
      math.max(1L, (k.toLong * dims + maxCells - 1) / maxCells)).toInt
    // argmax as a map-side-combinable MAX over (cos, -cluster): same
    // semantics as rank-1 of (cos desc, cluster asc) — the tiebreak pair
    // is unique per row so the comparator never reaches the carried
    // payload fields — but each partition collapses its k candidate rows
    // per vector BEFORE the exchange, so the shuffle moves one row per
    // doc instead of k copies of every embedding (the window formulation
    // shuffled corpus × k vectors)
    def assign(cents: DataFrame): DataFrame =
      if (nChunks <= 1) {
        e.crossJoin(broadcast(cents))
          .withColumn("__cos", cosine_sim(col("__v"), col("__cent")))
          .groupBy("__id")
          .agg(max(struct(col("__cos"), (-col("cluster")).as("__nc"),
            col("cluster"), col("__v"))).as("__best"))
          .select(col("__id"), col("__best.cluster").as("cluster"),
            col("__best.__v").as("__v"))
      } else {
        // blocked path: persist the round's centroids (k rows) so each
        // chunk filter reads the tiny cached table instead of re-running
        // the corpus-sized recompute, then union the per-chunk scored
        // candidates under ONE aggregate. The struct drops the vector
        // payload — nChunks narrow rows per doc ride the shuffle — and
        // the recompute's vectors come back from the persisted corpus
        // via one id-keyed join.
        val c = cents.pipe(persistTracked)
        val per = math.max(1, math.ceil(k.toDouble / nChunks).toInt)
        val scored = (0 until nChunks).map { i =>
          val lo = i.toLong * per + 1
          val hi = math.min(k.toLong, (i + 1).toLong * per)
          e.crossJoin(broadcast(c.filter(col("cluster").between(lo, hi))))
            .select(col("__id"),
              cosine_sim(col("__v"), col("__cent")).as("__cos"),
              col("cluster"))
        }.reduce(_ union _)
        scored
          .groupBy("__id")
          .agg(max(struct(col("__cos"), (-col("cluster")).as("__nc"),
            col("cluster"))).as("__best"))
          .select(col("__id"), col("__best.cluster").as("cluster"))
      }
    // chunked assignments are payload-free — rejoin the persisted corpus
    // for the vectors only when a recompute actually follows (the final
    // round's assignment never pays the join)
    def recompute(asg0: DataFrame): DataFrame = {
      val asg = if (asg0.columns.contains("__v")) asg0 else asg0.join(e, "__id")
      asg
      .select(col("cluster"), posexplode(col("__v")).as(Seq("__dim", "__x")))
      .groupBy("cluster", "__dim")
      .agg((sum(col("__x").cast(DecimalType(30, 10))).cast("double")
        / count(lit(1))).as("__mv"))
      .groupBy("cluster")
      .agg(array_sort(collect_list(struct(col("__dim"), col("__mv")))).as("__ps"))
      .select(col("cluster"), expr("transform(__ps, p -> p.__mv)").as("__cent"))
    }
    val lastAsg = (2 to iters).foldLeft(assign(cents0)) { (asg, _) =>
      assign(recompute(asg))
    }
    lastAsg.select(col("__id").as("id"), col("cluster"))
  }

  /** SemDeDup within-cluster semantic pruning over ANY cluster
    * assignment (Abbas et al. 2023): a row is doomed iff a lower-id
    * row in its cluster has cosine >= threshold — deterministic, no
    * greedy order dependence. The pair join is bounded by the largest
    * cluster, so the quantizer choice IS the scale knob: stored labels
    * give corpus/|labels| (fine when labels are fine-grained), a
    * [[kmeans]] assignment with k ≈ corpus/1000 bounds clusters near
    * 1000 regardless of label skew. Returns (id, cluster, keep).
    */
  def semanticDedup(df: DataFrame, id: Column, vec: Column, cluster: Column,
                    threshold: Double): DataFrame = {
    val e = df.select(id.as("id"), vec.as("__v"), cluster.as("cluster"))
    val a = e.select(col("cluster"), col("id").as("__ia"), col("__v").as("__va"))
    val b = e.select(col("cluster"), col("id").as("__ib"), col("__v").as("__vb"))
    val doomed = a.join(b, "cluster")
      .where(col("__ia") < col("__ib"))
      .withColumn("__cos", cosine_sim(col("__va"), col("__vb")))
      .filter(col("__cos") >= threshold)
      .select(col("__ib").as("id")).distinct()
    e.join(doomed.withColumn("__doomed", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cluster"),
        coalesce(!col("__doomed"), lit(true)).as("keep"))
  }

  /** Exact top-k nearest neighbours by cosine for each query row; the
    * query side must be small (it is broadcast to every candidate
    * partition). Returns (qid, rank, id, cosine).
    */
  def knn(candidates: DataFrame, queries: DataFrame, k: Int,
          candId: Column, candVec: Column,
          qId: Column, qVec: Column): DataFrame = {
    val c = candidates.select(candId.as("__cid"), candVec.as("__cv"))
    val q = queries.select(qId.as("__qid"), qVec.as("__qv"))
    val w = Window.partitionBy("__qid").orderBy(desc("__cos"), col("__cid"))
    c.join(broadcast(q), col("__cid") =!= col("__qid"))
      .withColumn("__cos", cosine_sim(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("__qid").as("qid"), col("rank"),
        col("__cid").as("id"), col("__cos").as("cosine"))
  }

  /** LSH-bucketed approximate nearest neighbours: random-hyperplane
    * bucket join instead of the all-pairs scan. Same output shape as
    * [[knn]]; recall grows with `tables`.
    */
  def annLsh(candidates: DataFrame, queries: DataFrame, k: Int,
             candId: Column, candVec: Column, qId: Column, qVec: Column,
             tables: Int = 16, planes: Int = 4): DataFrame = {
    val c = candidates
      .select(candId.as("__cid"), candVec.as("__cv"),
        explode(cosine_lsh_keys(candVec, tables, planes)).as("__bk"))
    val q = queries
      .select(qId.as("__qid"), qVec.as("__qv"),
        explode(cosine_lsh_keys(qVec, tables, planes)).as("__bk"))
    val cand = c.join(broadcast(q), "__bk")
      .where(col("__cid") =!= col("__qid"))
      .groupBy("__qid", "__cid")
      .agg(first("__qv").as("__qv"), first("__cv").as("__cv"))
    val w = Window.partitionBy("__qid").orderBy(desc("__cos"), col("__cid"))
    cand.withColumn("__cos", cosine_sim(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("__qid").as("qid"), col("rank"),
        col("__cid").as("id"), col("__cos").as("cosine"))
  }

  /** Incremental dedup of a batch against a (possibly huge) corpus key
    * index, Bloom-accelerated: the filter is built distributed (no
    * driver collect), definite-new rows skip the anti-join entirely, and
    * the result stays exact.
    */
  def incrementalDedup(batch: DataFrame, corpusKeys: DataFrame,
                       key: Column, corpusKey: Column,
                       numBits: Int = 1 << 20): DataFrame = {
    val corpus = corpusKeys.select(corpusKey.as("__h")).distinct()
    val bloom = corpus.agg(bloom_agg(col("__h"), numBits, 5).as("__bloom"))
    val probed = batch.withColumn("__h", key)
      .join(broadcast(bloom))
      .withColumn("__maybe", bloom_might_contain(col("__bloom"), col("__h"), 5))
    val fresh = probed.filter(!col("__maybe"))
    val verified = probed.filter(col("__maybe"))
      .join(corpus, Seq("__h"), "left_anti")
    fresh.unionByName(verified).drop("__bloom", "__maybe", "__h")
  }

  /** Latest-record-per-key compaction (the CDC/upsert-log staple): one
    * window shuffle on the key; `order` columns break ties (evaluated
    * descending — most-recent-first).
    */
  def latestPerKey(df: DataFrame, key: Column, order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key).orderBy(order.map(_.desc): _*)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
  }

  /** Gap-based sessionization: appends a per-key `session_id` (1-based,
    * in time order). One window shuffle on the key; the lag + running
    * sum share it.
    */
  def sessionize(df: DataFrame, key: Column, ts: Column,
                 gap: String = "30 minutes",
                 tiebreak: Seq[Column] = Nil): DataFrame = {
    // rows with EQUAL timestamps get partition-dependent lag order
    // unless `tiebreak` extends (ts, ...) to a total order — pass a
    // unique id (q27 orders by (ts, event_id)) whenever ts can repeat
    val byKey = Window.partitionBy(key).orderBy(ts +: tiebreak: _*)
    df.withColumn("__prev", lag(ts, 1).over(byKey))
      .withColumn("__new", when(
        col("__prev").isNull || ts > col("__prev") + expr(s"INTERVAL $gap"),
        1L).otherwise(0L))
      .withColumn("session_id",
        sum("__new").over(byKey.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("__prev", "__new")
  }

  /** Fixed-size overlapping chunking of a whitespace-tokenized text
    * column (LLM context-window prep): one output row per chunk with
    * `chunk_id`, `chunk_tokens`, `chunk` appended. The last start is the
    * smallest stride multiple whose window reaches the end (every token
    * covered, no fully-subsumed tail chunk). Narrow sequence+explode+
    * slice — zero shuffle at any corpus size.
    */
  def chunk(df: DataFrame, text: Column,
            chunkSize: Int = 512, stride: Int = 384): DataFrame = {
    require(stride > 0 && chunkSize >= stride, "need 0 < stride <= chunkSize")
    val lastStart = expr(s"CASE WHEN __n <= $chunkSize THEN 0 " +
      s"ELSE ((__n - $chunkSize + ${stride - 1}) div $stride) * $stride END")
    df.withColumn("__w", split(text, "\\s+"))
      .withColumn("__n", size(col("__w")))
      .filter(col("__n") > 0)
      .withColumn("__start", explode(sequence(lit(0), lastStart, lit(stride))))
      .withColumn("chunk_id", (col("__start") / stride).cast("long"))
      .withColumn("chunk_tokens",
        least(lit(chunkSize), col("__n") - col("__start")).cast("long"))
      .withColumn("chunk", array_join(
        slice(col("__w"), col("__start") + 1,
          least(lit(chunkSize), col("__n") - col("__start"))), " "))
      .drop("__w", "__n", "__start")
  }

  /** Okapi BM25 score of every row for a fixed query-term set; returns
    * (id, n_terms, bm25). Exact integer tf/df/dl; corpus stats ride
    * broadcasts — two narrow aggregations plus vocabulary-keyed joins.
    */
  def bm25(df: DataFrame, id: Column, text: Column, terms: Seq[String],
           k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    val words = df.select(id.as("__id"), explode(split(lower(text), "\\s+")).as("__word"))
      .filter(col("__word") =!= "")
    val dl = words.groupBy("__id").agg(count(lit(1)).as("__dl"))
    val stats = dl.agg(count(lit(1)).as("__nd"), sum("__dl").as("__sdl"))
    val tf = words.filter(col("__word").isin(terms: _*))
      .groupBy("__id", "__word").agg(count(lit(1)).as("__tf"))
    val dfT = tf.groupBy("__word").agg(count(lit(1)).as("__df"))
    val idf = log(lit(1.0) +
      ((col("__nd") - col("__df")).cast("double") + lit(0.5)) /
        (col("__df").cast("double") + lit(0.5)))
    val denom = col("__tf").cast("double") +
      lit(k1) * (lit(1 - b) + lit(b) * col("__dl").cast("double") /
        (col("__sdl").cast("double") / col("__nd")))
    tf.join(broadcast(dfT), "__word")
      .join(dl, "__id")
      .join(broadcast(stats))
      .withColumn("__score", idf * (col("__tf").cast("double") * lit(k1 + 1)) / denom)
      .groupBy(col("__id").as("id"))
      .agg(count(lit(1)).as("n_terms"), sum("__score").as("bm25"))
  }

  /** Appends per-`group` z-score (`z`) and min-max (`minmax`) scaled
    * versions of `value`. Statistics come from one exact decimal-moment
    * aggregation (order-independent at any partitioning) and ride a
    * broadcast join back — no window over the fact table.
    */
  def featureScale(df: DataFrame, group: Column, value: Column): DataFrame = {
    val stats = df.groupBy(group.as("__g")).agg(
      count(lit(1)).as("__n"),
      graft.Stable.dsum(value).as("__sv"),
      graft.Stable.dsum(value * value).as("__sv2"),
      min(value).as("__min"), max(value).as("__max"))
    val mean = col("__sv") / col("__n")
    df.join(broadcast(stats), group === col("__g"))
      .withColumn("z", (value - mean) / sqrt(col("__sv2") / col("__n") - mean * mean))
      .withColumn("minmax",
        (value - col("__min")) / (col("__max") - col("__min")))
      .drop("__g", "__n", "__sv", "__sv2", "__min", "__max")
  }

  /** Coalesces overlapping `[start, end]` intervals per key: one merged
    * row per maximal island (`key`, `start`, `end`, `n_merged`).
    * Running-max-of-end over one key window — no interval self-join.
    */
  def mergeIntervals(df: DataFrame, key: Column,
                     start: Column, end: Column): DataFrame = {
    val w = Window.partitionBy("__k").orderBy("__s", "__e")
    df.select(key.as("__k"), start.as("__s"), end.as("__e"))
      .withColumn("__pmax",
        max("__e").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new", when(
        col("__pmax").isNull || col("__s") > col("__pmax"), 1L).otherwise(0L))
      .withColumn("__grp",
        sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("__k").as("key"), col("__grp"))
      .agg(min("__s").as("start"), max("__e").as("end"),
        count(lit(1)).as("n_merged"))
      .drop("__grp")
  }

  /** Missing ranges in an expected-contiguous key sequence: one row per
    * gap (`gap_lo`, `gap_hi`, `gap_len`). The q75 plan: anti-joins find
    * gap boundaries with the key stream fully partitioned; only the
    * audit-sized gap set pays a global window.
    */
  def idGaps(df: DataFrame, key: Column): DataFrame = {
    val keys = df.select(key.cast("long").as("k")).distinct()
    val bounds = keys.agg(min("k").as("mn"), max("k").as("mx"))
    val starts = keys.as("a")
      .join(keys.as("b"), col("a.k") + 1 === col("b.k"), "left_anti")
      .join(broadcast(bounds)).filter(col("k") < col("mx"))
      .select((col("k") + 1).as("gap_lo"))
    val ends = keys.as("a")
      .join(keys.as("b"), col("a.k") - 1 === col("b.k"), "left_anti")
      .join(broadcast(bounds)).filter(col("k") > col("mn"))
      .select((col("k") - 1).as("gap_hi"))
    // boundary numbering via globalRank: the gap set is audit-sized on
    // healthy data but can approach key-count on pathological input —
    // range-partitioned rank keeps even that case off a single task
    globalRank(starts, col("gap_lo")).withColumnRenamed("rank", "__i")
      .join(globalRank(ends, col("gap_hi")).withColumnRenamed("rank", "__i"), "__i")
      .select(col("gap_lo"), col("gap_hi"),
        (col("gap_hi") - col("gap_lo") + 1).as("gap_len"))
  }

  /** Per-document first-occurrence n-gram novelty in `order` (defaults
    * to the id itself — arrival order): appends nothing, returns
    * (`id`, `n_grams`, `n_novel`, `novelty`). The t17 plan: min-order
    * per gram, gram-keyed join back, linear in corpus size.
    */
  def novelty(df: DataFrame, id: Column, text: Column, n: Int = 4): DataFrame = {
    require(n >= 1, "n-gram size must be >= 1")
    // 128-bit md5 gram keys (the d12 discipline): first-occurrence
    // counts stay collision-exact at 1e12-gram scale, 16-byte shuffle
    // keys instead of gram strings
    val grams = df
      .select(id.as("__id"), split(text, "\\s+").as("__w"))
      .select(col("__id"), explode(expr(
        s"array_distinct(${wordGrams("__w", n, GramKey.Md5)})")).as("__g"))
      .pipe(persistTracked)
    val firstSeen = grams.groupBy("__g").agg(min("__id").as("__first"))
    grams.join(firstSeen, "__g")
      .groupBy(col("__id").as("id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("__first") === col("__id"), 1)).as("n_novel"))
      .withColumn("novelty", col("n_novel").cast("double") / col("n_grams"))
  }

  /** Map-side pruning stage of [[topKPerKey]]: per input partition, a
    * bounded heap per key keeps only that partition's k best rows
    * (score desc, tie asc). No shuffle; output ≤ keysInPartition x k
    * rows per partition. Any row in the global per-key top-k is by
    * definition in its own partition's per-key top-k, so the pruning
    * is lossless for the final ranking. mapPartitions is deliberate
    * here: this is the map-side-combine pattern for an operation
    * (bounded rank) that partial aggregation cannot express.
    */
  def partialTopK(df: DataFrame, key: String, score: String, tie: String,
                  k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val schema = df.schema
    val ki = schema.fieldIndex(key)
    val si = schema.fieldIndex(score)
    val ti = schema.fieldIndex(tie)
    def num(v: Any): Double = v.asInstanceOf[Number].doubleValue
    // rank tuple: smaller = better; the queue pops its max (= worst kept)
    val worstFirst = Ordering.by[org.apache.spark.sql.Row, (Double, Double)](
      r => (-num(r.get(si)), num(r.get(ti))))
    df.mapPartitions { rows =>
      val heaps = scala.collection.mutable.HashMap
        .empty[Any, scala.collection.mutable.PriorityQueue[org.apache.spark.sql.Row]]
      rows.foreach { r =>
        val h = heaps.getOrElseUpdate(r.get(ki),
          scala.collection.mutable.PriorityQueue.empty(worstFirst))
        if (h.size < k) h.enqueue(r)
        else if (worstFirst.lt(r, h.head)) { h.dequeue(); h.enqueue(r) }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Exact top-k rows per key (score desc, ties by `tie` asc, like
    * `row_number`): [[partialTopK]] shrinks each partition to at most
    * k rows per key BEFORE the shuffle, then one window ranks the
    * survivors. Identical output to the plain window formulation, but
    * the exchange moves ~partitions x keys x k rows instead of the
    * whole table — the difference between shuffling 100 TB and
    * shuffling megabytes when k is small. Appends `rn` (1-based).
    */
  def topKPerKey(df: DataFrame, key: String, score: String, tie: String,
                 k: Int): DataFrame = {
    val w = Window.partitionBy(key).orderBy(desc(score), col(tie))
    partialTopK(df, key, score, tie, k)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** One EXPLICIT bounded partition for a window over a provably small
    * frame: coalesce to a single partition, then materialize
    * spark_partition_id() as group key `__g`. The pid, NOT lit(1):
    * FoldablePropagation strips a constant partition key and the plan
    * regresses to the unpartitioned WindowExec (single unbounded task)
    * this idiom exists to avoid. Callers window over
    * `Window.partitionBy("__g")` and drop the column; the whole-suite
    * PlanAuditSpec window audit backstops every use.
    */
  def boundedSingleGroup(df: DataFrame): DataFrame =
    df.coalesce(1).withColumn("__g", spark_partition_id())

  /** Exact global row_number over arbitrarily large input WITHOUT the
    * single-task unpartitioned window: range-repartition on the sort
    * key (each partition holds a contiguous key range), rank within
    * each partition in parallel, then add per-partition row-count
    * offsets. The offset collect is partition-count rows — metadata-
    * sized — never data; they ride a broadcast hash join back onto the
    * ranked partitions, so the whole verb stays lazy (no driver
    * collect). At web scale this is the difference between ranking a
    * 10⁹-term vocabulary on one task and on every core in the cluster.
    * Appends `rank` (1-based; 1 = first row in `order`, which must be
    * a total order for a deterministic result).
    */
  def globalRank(df: DataFrame, order: Column*): DataFrame = {
    // input persisted: RangePartitioner SAMPLES the input in a separate
    // pass before the exchange reads it again — without the barrier any
    // expensive upstream (q75's anti-joins: 11x at 20x keys) executes
    // twice. parted persisted separately: the offsets aggregation and
    // the ranked output are two reads, and the nondeterministic pid
    // column defeats ReuseExchange's canonical matching.
    val in = df.pipe(persistTracked)
    val parted = in.repartitionByRange(order: _*)
      .withColumn("__pid", spark_partition_id())
      .pipe(persistTracked)
    // exclusive prefix sum of per-partition row counts = rank offsets;
    // partition-count rows, windowed inside one explicit bounded group
    val offsets =
      boundedSingleGroup(parted.groupBy("__pid").agg(count(lit(1)).as("__c")))
        .withColumn("__off",
          sum("__c").over(Window.partitionBy("__g").orderBy("__pid")) - col("__c"))
        .select("__pid", "__off")
    parted.join(broadcast(offsets), "__pid")
      .withColumn("rank",
        row_number().over(Window.partitionBy("__pid").orderBy(order: _*))
          .cast("long") + col("__off"))
      .drop("__pid", "__off")
  }

  /** Exact global top-k with rank: TakeOrderedAndProject prune (per-
    * partition bounded heaps; only k×partitions rows reach the merge)
    * then a rank window over the k survivors, partitioned on a
    * constant — the single task is explicitly bounded by k, and
    * WindowExec's unpartitioned-window path never engages. The q59
    * vocabulary discipline: the heavy word rollup stays map-side
    * combinable and distributed; ranking touches k rows.
    */
  def globalTopK(df: DataFrame, score: String, tie: String, k: Int): DataFrame =
    boundedSingleGroup(df.orderBy(desc(score), col(tie)).limit(k))
      .withColumn("rank", row_number().over(
        Window.partitionBy("__g").orderBy(desc(score), col(tie))).cast("long"))
      .drop("__g")

  /** Exact 2-D Pareto frontier (skyline): the distinct (maxCol, minCol)
    * cells no other cell dominates — dominance = maxCol >= AND
    * minCol <= with at least one strict. Returns the frontier cells
    * with their row counts (`n_rows`), ordered by maxCol.
    *
    * The naive formulation is a NOT-EXISTS self-join — cells², dead at
    * scale. This is the distributed sweep-line instead: after
    * collapsing to distinct cells (one hash aggregate; cells, not rows,
    * is the working set from here on), order by (minCol asc, maxCol
    * desc). A cell is on the frontier iff NO earlier cell in that order
    * has maxCol >= its own — i.e. iff its maxCol strictly exceeds the
    * running prefix-max. The prefix-max decomposes exactly like
    * globalRank's prefix-count: range-repartition on the sweep order,
    * per-partition prefix max in parallel windows, then per-partition
    * max offsets (partition-count rows, metadata-sized) broadcast back
    * as each partition's carry-in. One range exchange + one bounded
    * window per partition, cells² never materializes; at 10⁹ cells the
    * sweep is a linear scan per partition.
    *
    * Correctness of the sweep on DISTINCT cells: an earlier cell has
    * (minCol <, ) or (minCol ==, maxCol >) — either way, prefix-max >=
    * mine implies a dominating cell exists (equal maxCol at lower
    * minCol, or greater maxCol at equal-or-lower minCol; exact
    * duplicates are impossible post-distinct), and conversely.
    */
  def skyline2d(df: DataFrame, maxCol: String, minCol: String): DataFrame = {
    val cells = df.groupBy(maxCol, minCol).agg(count(lit(1)).as("n_rows"))
    val parted = cells.repartitionByRange(col(minCol).asc, col(maxCol).desc)
      .withColumn("__pid", spark_partition_id())
      .pipe(persistTracked)
    val sweep = Window.partitionBy("__pid")
      .orderBy(col(minCol).asc, col(maxCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = boundedSingleGroup(
        parted.groupBy("__pid").agg(max(maxCol).as("__pmax")))
      .withColumn("__carry", max("__pmax").over(
        Window.partitionBy("__g").orderBy("__pid")
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select("__pid", "__carry")
    // greatest() skips nulls: null iff no preceding cell exists at all
    // (first cell of the whole sweep), which is always on the frontier
    val prev = greatest(col("__lmax"), col("__carry"))
    parted
      .withColumn("__lmax", max(maxCol).over(sweep))
      .join(broadcast(carry), "__pid")
      .filter(prev.isNull || col(maxCol) > prev)
      .select(maxCol, minCol, "n_rows")
  }

  /** Conform a frame to a target schema (DDL string): target columns in
    * target order, existing columns cast to the target type, missing
    * columns added as typed nulls, extra columns dropped. The ingestion
    * staple that lets heterogeneous feeds union into one long-lived
    * table; pure narrow projection, zero shuffle, idempotent.
    */
  def conform(df: DataFrame, targetDdl: String): DataFrame = {
    val target = org.apache.spark.sql.types.StructType.fromDDL(targetDdl)
    val have = df.columns.toSet
    df.select(target.fields.toIndexedSeq.map { f =>
      val c = if (have(f.name)) col(f.name).cast(f.dataType)
        else lit(null).cast(f.dataType)
      c.as(f.name)
    }: _*)
  }

  /** Per-column profile (describe() done right): count / nulls / min /
    * max / mean for every listed numeric column as ONE wide aggregate
    * over ONE scan, unpivoted to a row per column. Means use the
    * decimal-stable sum, so the report is identical on any cluster.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"__cnt_$c"),
        min(col(c)).cast("double").as(s"__min_$c"),
        max(col(c)).cast("double").as(s"__max_$c"),
        graft.Stable.davg(col(c)).as(s"__mean_$c"))
    }
    val stack = cols.map(c =>
      s"'$c', __cnt_$c, __min_$c, __max_$c, __mean_$c").mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("__n"), expr(
        s"stack(${cols.size}, $stack) AS (column_name, n_filled, min_v, max_v, mean_v)"))
      .select(col("column_name"), col("__n").as("n_rows"),
        (col("__n") - col("n_filled")).as("n_null"),
        col("min_v"), col("max_v"), col("mean_v"))
  }

  /** Pairwise Pearson correlation over the listed numeric columns in
    * ONE scan (`(col_a, col_b, corr)` per pair): exact decimal
    * cross-moments, closed form in double. `df.stat.corr` costs a scan
    * per pair; this costs n(n-1)/2 extra AGGREGATES.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    val D = org.apache.spark.sql.types.DecimalType(18, 6)
    def dc(c: String) = col(c).cast(D)
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
      yield (cols(i), cols(j))
    val aggs = count(lit(1)).as("__n") +:
      (cols.flatMap(c => Seq(
        sum(dc(c)).cast("double").as(s"__s_$c"),
        sum(dc(c) * dc(c)).cast("double").as(s"__ss_$c"))) ++
        pairs.map { case (a, b) =>
          sum(dc(a) * dc(b)).cast("double").as(s"__sp_${a}_$b") })
    val stack = pairs.map { case (a, b) =>
      s"'$a', '$b', __sp_${a}_$b, __s_$a, __ss_$a, __s_$b, __ss_$b"
    }.mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("__n"), expr(
        s"stack(${pairs.size}, $stack) AS (col_a, col_b, __sxy, __sx, __sxx, __sy, __syy)"))
      .select(col("col_a"), col("col_b"),
        round((col("__sxy") - col("__sx") * col("__sy") / col("__n"))
          / (sqrt(col("__sxx") - col("__sx") * col("__sx") / col("__n"))
            * sqrt(col("__syy") - col("__sy") * col("__sy") / col("__n"))), 9)
          .as("corr"))
  }

  /** One-hot indicator columns for a STATIC vocabulary (stable schema —
    * what a feature store needs). Pure narrow map, zero shuffle.
    * Output columns are `prefix_<value>` with non-alnum chars mapped to _.
    */
  def oneHot(df: DataFrame, category: Column, vocab: Seq[String],
             prefix: String = "is"): DataFrame =
    vocab.foldLeft(df) { (d, v) =>
      val safe = v.map(c => if (c.isLetterOrDigit) c else '_')
      d.withColumn(s"${prefix}_$safe",
        when(category === v, 1L).otherwise(0L))
    }

  /** Smoothed mean-target encoding: appends `<name>` with
    * (pos + k * globalRate) / (n + k) per category. One counting pass;
    * the category-sized encoder table rides a broadcast back on.
    */
  def targetEncode(df: DataFrame, category: Column, target: Column,
                   k: Double = 10.0, name: String = "target_enc"): DataFrame = {
    val global = df.agg(
      count(lit(1)).as("__n_all"),
      count(when(target, 1)).as("__pos_all"))
    val enc = df.groupBy(category.as("__cat"))
      .agg(count(lit(1)).as("__n"), count(when(target, 1)).as("__pos"))
      .join(broadcast(global))
      .withColumn(name,
        (col("__pos").cast("double")
          + lit(k) * (col("__pos_all").cast("double") / col("__n_all")))
          / (col("__n").cast("double") + lit(k)))
      .select(col("__cat"), col(name))
    df.join(broadcast(enc), category === col("__cat"), "left")
      .drop("__cat")
  }

  /** Equi-depth bucket id (1-based) for `value` from exact global
    * percentiles at `probs` — broadcast boundaries + comparison, never a
    * global-sort ntile. Appends `bucket`.
    */
  def quantileBucket(df: DataFrame, value: Column,
                     probs: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    val arr = probs.map(p => s"${p}D").mkString("array(", ", ", ")")
    val valued = df.withColumn("__qb_v", value.cast("double"))
    val bounds = valued.agg(expr(s"percentile(__qb_v, $arr)").as("__qb"))
    valued.join(broadcast(bounds))
      .withColumn("bucket",
        expr("CAST(size(filter(__qb, b -> __qb_v > b)) + 1 AS BIGINT)"))
      .drop("__qb", "__qb_v")
  }

  /** Deterministic train/val/test split on a stable key: pure function of
    * the key (no rand()), reproducible on any cluster/partitioning.
    */
  def deterministicSplit(df: DataFrame, key: Column,
                         weights: Seq[Double]): DataFrame = {
    require(math.abs(weights.sum - 1.0) < 1e-9, "weights must sum to 1")
    val bounds = weights.scanLeft(0.0)(_ + _).tail
    val u = (conv(substring(md5(key.cast("string")), 1, 15), 16, 10)
      .cast("double") / math.pow(16, 15))
    val splitCol = bounds.zipWithIndex.foldRight(lit(weights.size - 1)) {
      case ((b, i), acc) => when(u < b, i).otherwise(acc)
    }
    df.withColumn("split", splitCol)
  }

  /** Containment (one-sided Jaccard) near-dup pairs: emitted when either
    * |A∩B|/|A| or |A∩B|/|B| >= threshold — catches subset duplication
    * (quoted/embedded docs) that symmetric jaccardJoin misses.
    *
    * Candidate discipline is the PPJoin prefix filter ADAPTED TO
    * CONTAINMENT (lossless): `max(cont) = shared / min(na, nb)`, so a
    * qualifying pair shares >= ceil(t * n_small) shingles. Order every
    * doc's shingles by ascending document frequency (rarest first) and
    * index only the SMALLER side's prefix of length
    * `n - ceil(t*n) + 1`; the suffix holds ceil(t*n) - 1 slots, fewer
    * than the required overlap, so at least one shared shingle sits in
    * the small side's prefix — and trivially in the big side's FULL
    * posting list. The prefix×full equi-join therefore loses no true
    * pair, while per-token expansion drops from df² (the old full×full
    * co-occurrence join) to prefix_df × df — and under df-ascending
    * ordering hot "stop shingles" almost never enter a prefix, so their
    * posting lists are probed, never self-joined. Verification touches
    * DISTINCT candidates only: one array_intersect over two sorted
    * arrays per pair, not a count aggregation over every co-occurrence
    * row. (4× duplicated sf0.1 stress corpus: 25s → ~4s.)
    *
    * `maxDf > 0` additionally drops shingles with document frequency
    * above the cap from the PROBE side — a documented-recall escape
    * hatch for corpora whose prefix sets still contain globally hot
    * shingles (e.g. every doc shorter than 1/t words of boilerplate).
    * The default 0 keeps the join exact.
    *
    * Returns (id_a, id_b, shared, n_a, n_b, cont_ab, cont_ba),
    * id_a < id_b.
    */
  def containmentJoin(df: DataFrame, id: Column, text: Column,
                      threshold: Double, n: Int = 3, maxDf: Long = 0L): DataFrame = {
    // r14 revisit of the r13 "spread A/B'd flat" note: StageProfile now
    // shows the UN-spread sets cache racing its materialization — the
    // five concurrent consumers (rows ×2, join-backs ×2, df table) each
    // recompute the single-task shingle transform (~0.9 s apiece at
    // sf0.1) before any cache block lands. The gated spread makes the
    // cache (and each racer) 32-task; production scans skip it.
    val sets = textShingleSets(df, id, text, n).pipe(persistTracked)
    val rows = sets.select(col("__id"), col("__n"), explode(col("__shs")).as("__tok"))
    val dfTbl = rows.groupBy("__tok").agg(count(lit(1)).as("__df"))
    // prefix of the (potentially) smaller side, rarest shingles first;
    // the window is doc-partitioned — parallel across the corpus
    // r13 second pass: the window's implicit exchange carries ~1–4 MiB
    // here, so AQE's bytes-based coalescing (1 MB floor) collapsed this
    // CPU-dense stage to 1–3 tasks (StageProfile: 1.7 s on one core).
    // An EXPLICIT repartition on the window key satisfies the window's
    // required partitioning (same exchange count) but is never
    // AQE-coalesced; numShufflePartitions is the session's scale knob,
    // so the shape is unchanged at production byte sizes.
    val pref = rows
      .join(dfTbl, "__tok")
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("__id"))
      .withColumn("__rn", row_number()
        .over(Window.partitionBy("__id").orderBy("__df", "__tok")))
      .filter(col("__rn") <=
        col("__n") - ceil(lit(threshold) * col("__n")).cast("long") + 1)
      .select(col("__id").as("__xa"), col("__n").as("__pna"), col("__tok"))
    val probe0 = rows.select(col("__id").as("__xb"), col("__n").as("__pnb"), col("__tok"))
    val probe = if (maxDf > 0)
      probe0.join(dfTbl.filter(col("__df") <= maxDf).select("__tok"), "__tok")
    else probe0
    // x must be the size-lex-min side (ties broken by id) so each true
    // pair is generated exactly once, from its contained side's prefix
    val cand = pref.join(probe, "__tok")
      .where(col("__pna") < col("__pnb") ||
        (col("__pna") === col("__pnb") && col("__xa") < col("__xb")))
      .select(least(col("__xa"), col("__xb")).as("id_a"),
        greatest(col("__xa"), col("__xb")).as("id_b"))
      .distinct()
      // spread the per-pair array_intersect verification: the distinct
      // pair set is byte-light but CPU-dense, the same AQE-coalescing
      // exposure as the window above
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
    sharedCounts(cand, sets)
      .withColumn("cont_ab", col("shared").cast("double") / col("__na"))
      .withColumn("cont_ba", col("shared").cast("double") / col("__nb"))
      .filter(col("cont_ab") >= threshold || col("cont_ba") >= threshold)
      .select(col("id_a"), col("id_b"), col("shared"), col("__na").as("n_a"),
        col("__nb").as("n_b"), col("cont_ab"), col("cont_ba"))
  }

  /** Gopher-style rule-suite filter decision over any (id, text) frame:
    * appends exact rule metrics, a per-rule failure bitmask (1 word
    * count, 2 mean word length, 4 alphabetic fraction, 8 stopword
    * floor), and a keep flag — one narrow pass, every drop attributable.
    */
  def gopherFilter(df: DataFrame, text: Column,
                   minWords: Int = 40, maxWords: Int = 100000,
                   stopwords: Seq[String] =
                     Seq("the", "a", "and", "of", "to", "in", "is", "for", "on", "with"))
      : DataFrame = {
    val sw = stopwords.map(w => s"'$w'").mkString(", ")
    df.withColumn("__t", text)
      .withColumn("n_words", size(split(trim(col("__t")), " ")).cast("long"))
      .withColumn("mean_wlen",
        length(regexp_replace(col("__t"), " ", "")).cast("double") / col("n_words"))
      .withColumn("frac_alpha",
        expr("CAST(size(filter(split(lower(__t), ' '), w -> w RLIKE '^[a-z]+$')) AS BIGINT)")
          .cast("double") / col("n_words"))
      .withColumn("n_stop",
        expr(s"CAST(size(filter(array($sw), sw -> array_contains(split(lower(__t), ' '), sw))) AS BIGINT)"))
      .withColumn("reasons",
        (when(col("n_words") < minWords || col("n_words") > maxWords, 1).otherwise(0)
          + when(col("mean_wlen") < 3.0 || col("mean_wlen") > 10.0, 2).otherwise(0)
          + when(col("frac_alpha") < 0.9, 4).otherwise(0)
          + when(col("n_stop") < 2, 8).otherwise(0)).cast("int"))
      .withColumn("keep", col("reasons") === 0)
      .drop("__t")
  }

  /** Per-row dedup disposition manifest over any (id, text) frame:
    * 'exact_dup' (with its normalized-text keeper), 'near_dup' (with its
    * smallest-id Jaccard>=threshold predecessor among exact survivors),
    * or 'kept' — the lineage artifact a production cleaning run emits.
    * Exact stage first (cheap, shrinks the near-dup input), near-dup
    * pairs over survivors only. `strategy` routes the pair join
    * ([[nearDupPairs]]): "shingle" (exact), "lsh" (banded, the 100 TB
    * path), or "session" (spark conf `graft.neardup.strategy`).
    */
  def dedupManifest(df: DataFrame, id: Column, text: Column,
                    threshold: Double = 0.5,
                    strategy: String = "session"): DataFrame = {
    // Same barrier discipline as the d15 operator: persisted fan-out
    // points carry ids and hashes ONLY (never the text payload), and the
    // expensive pair join runs once across the three union branches.
    val base = df.select(id.as("id"), text.as("__t"))
    val hashed = base.select(col("id"), md5(expr(
      "trim(regexp_replace(lower(__t), '\\\\s+', ' '))")).as("__h"))
    val keepers = hashed.groupBy("__h").agg(min("id").as("__ref"))
    val withRef = hashed.join(keepers, "__h").select("id", "__ref")
      .pipe(persistTracked)
    val exactDups = withRef.filter(col("id") =!= col("__ref"))
      .select(col("id"), lit("exact_dup").as("status"), col("__ref").as("ref_id"))
    val survivorIds = withRef.filter(col("id") === col("__ref")).select("id")
    val survivors = base.join(survivorIds, Seq("id"), "left_semi")
    val doomedRef = nearDupPairs(survivors, col("id"), col("__t"), threshold,
        strategy = strategy)
      .groupBy(col("id_b").as("id")).agg(min("id_a").as("ref_id"))
      .pipe(persistTracked)
    val nearDups = doomedRef.select(col("id"), lit("near_dup").as("status"), col("ref_id"))
    val kept = survivorIds.join(doomedRef, Seq("id"), "left_anti")
      .select(col("id"), lit("kept").as("status"),
        lit(null).cast(doomedRef.schema("ref_id").dataType).as("ref_id"))
    exactDups.unionByName(nearDups).unionByName(kept)
  }

  /** Density-adaptive geospatial nearest-neighbor join (q112's engine,
    * as a verb): coordinates are integer MICRO-degrees; each side is
    * bucketed into a G×G integer lat/lon grid where G is the smallest
    * power of two in [8, 4096] with 4·G² >= |right| — expected right
    * rows per cell stay ~<=4 as the data grows, so the 3×3-neighborhood
    * candidate equi-join stays bounded by local density, never
    * |L|×|R|. The pre-pass is one metadata count on a broadcast; the
    * ladder is pure integer compares (no float divergence). Returns
    * (left_id, right_id, dist_m, n_candidates, grid_cells): each left
    * row's nearest candidate by (haversine meters, right_id) total
    * order; left rows with an empty neighborhood are absent (this is a
    * candidate-blocked nearest, the standard scale shape). Residual hot
    * cells ride AQE skew handling.
    */
  def geoNearest(left: DataFrame, lId: Column, lLat: Column, lLon: Column,
                 right: DataFrame, rId: Column, rLat: Column, rLon: Column)
      : DataFrame = {
    val grid = right.agg(count(lit(1)).as("__n"))
      .select(gridCellsLadder(col("__n")).as("g"))
    val l = left.select(lId.as("lid"), lLat.cast("long").as("clat"),
        lLon.cast("long").as("clon"))
      .crossJoin(broadcast(grid))
      .withColumn("latq", expr("(clat + 90000000) * g div 180000001"))
      .withColumn("lonq", expr("(clon + 180000000) * g div 360000001"))
    val r = right.select(rId.as("rid"), rLat.cast("long").as("slat"),
        rLon.cast("long").as("slon"))
      .crossJoin(broadcast(grid))
      .withColumn("latq0", expr("(slat + 90000000) * g div 180000001"))
      .withColumn("lonq0", expr("(slon + 180000000) * g div 360000001"))
      .select(col("rid"), col("slat"), col("slon"),
        explode(expr("sequence(-1, 1)")).as("dlat"), col("latq0"),
        col("lonq0"))
      .select(col("rid"), col("slat"), col("slon"),
        (col("latq0") + col("dlat")).as("latq"),
        explode(expr("sequence(-1, 1)")).as("dlon"), col("lonq0"))
      .select(col("rid"), col("slat"), col("slon"), col("latq"),
        (col("lonq0") + col("dlon")).as("lonq"))
    val cand = l.join(r, Seq("latq", "lonq"))
      .withColumn("dist_m", expr(
        """CAST(round(6371008.8 * 2 * asin(sqrt(
             sin(radians((slat - clat) / 2e6)) * sin(radians((slat - clat) / 2e6))
             + cos(radians(clat / 1e6)) * cos(radians(slat / 1e6))
               * sin(radians((slon - clon) / 2e6))
               * sin(radians((slon - clon) / 2e6)))), 0) AS BIGINT)"""))
    val nearest = cand
      .withColumn("rn", row_number().over(
        Window.partitionBy("lid").orderBy("dist_m", "rid")))
      .filter(col("rn") === 1)
      .select(col("lid"), col("rid"), col("dist_m"))
    val nc = cand.groupBy("lid").agg(count(lit(1)).as("n_candidates"))
    nearest.join(nc, "lid")
      .crossJoin(broadcast(grid.withColumnRenamed("g", "grid_cells")))
      .select(col("lid").as("left_id"), col("rid").as("right_id"),
        col("dist_m"), col("n_candidates"), col("grid_cells"))
  }

  /** Smallest power-of-two G in [8, 4096] with 4·G² >= n — the
    * density-adaptive grid ladder, integer-exact (oracle-replayable).
    */
  private[graft] def gridCellsLadder(n: Column): Column =
    Seq(8L, 16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L)
      .foldRight(lit(4096L): Column) { (g, rest) =>
        when(n <= lit(4L * g * g), lit(g)).otherwise(rest)
      }

  // ---- BPE subword tokenizer ---------------------------------------
  // State representation shared by training and encoding (and replayed
  // verbatim by the DuckDB oracle): a word's symbol sequence is ONE
  // string with every symbol wrapped in its own spaces —
  // ' s1  s2  ...  sn ' (two spaces BETWEEN symbols = each symbol owns a
  // leading and trailing space). Applying merge (l, r) is then a plain
  // literal string replace of ' l  r ' with ' lr ': the consumed
  // delimiters belong exclusively to the matched pair, so standard
  // leftmost non-overlapping replace-all gives exactly one exhaustive
  // left-to-right merge pass — the subword-nmt apply semantics — in ANY
  // engine's replace(), with no regex or UDF.

  private def bpeInitState(word: Column): Column =
    concat(lit(" "), array_join(split(word, ""), "  "), lit("  </w> "))

  /** Train a BPE merges table from a text corpus (Sennrich et al. 2016).
    * The training object is the WORD-FREQUENCY table — vocab-bounded,
    * never corpus-bounded: at 100 TB the distinct-word frame is the only
    * thing the merge loop touches, and each round is one combinable
    * pair-count aggregate over it plus a 1-row argmax fetch (the same
    * metadata-scalar pattern as the CC convergence sum). `vocabCap`
    * bounds the training vocabulary to the most frequent words (count
    * DESC, word ASC — deterministic); rounds stop early when no pair
    * occurs twice. Ties break (count DESC, l ASC, r ASC) so the merges
    * table is reproducible on any cluster/partitioning. Returns
    * (rank, l, r) with rank 1..numMerges.
    */
  def bpeTrain(df: DataFrame, text: Column, numMerges: Int = 48,
               vocabCap: Int = 20000): DataFrame = {
    require(numMerges >= 1 && vocabCap >= 1)
    val s = df.sparkSession
    // gated spread (see spreadNarrowScan): the split+explode+partial
    // count over a one-row-group corpus is otherwise a single task
    val words = spreadNarrowScan(df).select(explode(split(text, " ")).as("w"))
      .filter(col("w") =!= "")
    // the one corpus-scale pass: distinct-word counts (distributed,
    // unchanged). The merge loop below then runs DRIVER-LOCAL over the
    // collected state: the loop's object is vocabCap-bounded BY
    // CONSTRUCTION (<= 20k rows, same class of metadata-sized collect as
    // the per-round limit(1) argmax it replaces), and the r13 profile
    // showed the previous one-task-per-round Spark loop spending ~4.5 s
    // of artifact-build time on 2×48 job round-trips over a frame the
    // driver can hold outright. Every step replicates the engine
    // semantics the oracle replays: pair counts sum exact int64 over
    // adjacent symbols of the ' s1  s2 ' state string, the argmax
    // tie-break is (count DESC, l ASC, r ASC) in UTF-8 BINARY order
    // (Spark's string ordering), and the merge is the same literal
    // leftmost non-overlapping replace-all — output merges are
    // bit-identical to the former in-engine loop (BpeSpec + the t41/t42
    // oracle replay pin the semantics).
    val state: Array[(Long, String)] = words
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("w")).limit(vocabCap)
      .select(col("cnt"), bpeInitState(col("w")).as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // UTF-8 unsigned-byte comparison = Spark's UTF8String binary order
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      x.length < y.length
    }
    val vocab = state.map { case (c, st) => (c, new StringBuilder(st)) }
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String)]()
    var rank = 1
    var done = false
    while (!done && rank <= numMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (cnt, sb) =>
        // same tokenization as the engine formulation. The state string
        // carries EXACTLY one leading and one trailing space by
        // construction (bpeInitState and every merge replace preserve
        // them), so strip exactly those — Java's String.trim would also
        // strip control chars <= U+0020, silently dropping the first
        // symbol of a word that starts with e.g. a tab (words are split
        // on single spaces only, so such words occur in raw corpora)
        // and diverging from the Spark trim() the engine loop used.
        val syms = sb.toString.stripPrefix(" ").stripSuffix(" ").split("  ")
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + cnt)
          i += 1
        }
      }
      // argmax with the engine tie-break: n DESC, then (l, r) ASC in
      // UTF-8 binary order
      var best: ((String, String), Long) = null
      counts.foreach { kv =>
        if (best == null || kv._2 > best._2 ||
          (kv._2 == best._2 && (utf8Lt(kv._1._1, best._1._1) ||
            (kv._1._1 == best._1._1 && utf8Lt(kv._1._2, best._1._2)))))
          best = kv
      }
      if (best == null || best._2 < 2) done = true
      else {
        val (l, r) = best._1
        merges += ((rank, l, r))
        val from = s" $l  $r "; val to = s" $l$r "
        var i = 0
        while (i < vocab.length) {
          val sb = vocab(i)._2
          val replaced = sb.toString.replace(from, to) // literal, leftmost, non-overlapping — same as the engine's replace()
          sb.clear(); sb.append(replaced)
          i += 1
        }
        rank += 1
      }
    }
    import s.implicits._
    merges.toSeq.toDF("rank", "l", "r")
  }

  /** Encode a text corpus with a trained merges table and return
    * per-row token accounting: (id, n_words, n_tokens). Engine shape:
    * encode the DISTINCT-word table once (vocab-bounded — the merges
    * ride ONE broadcast row as a rank-sorted struct array, and the
    * in-row aggregate() folds them over the symbol string; no UDF, no
    * per-occurrence re-encode), then join token counts back to the word
    * occurrences and sum per row. This is the real-token number the
    * token-budget operators want at training time, vs t03's regex
    * approximation.
    */
  def bpeTokenCounts(df: DataFrame, id: Column, text: Column,
                     merges: DataFrame): DataFrame = {
    val marr = merges
      .agg(array_sort(collect_list(struct(col("rank"), col("l"), col("r"))))
        .as("__m"))
    val words = df.select(id.as("id"), explode(split(text, " ")).as("w"))
      .filter(col("w") =!= "")
    val encoded = words.select("w").distinct()
      .crossJoin(broadcast(marr))
      .withColumn("__s", bpeInitState(col("w")))
      .withColumn("__enc", expr(
        """aggregate(__m, __s, (acc, m) ->
             replace(acc, concat(' ', m.l, '  ', m.r, ' '),
                          concat(' ', m.l, m.r, ' ')))"""))
      .select(col("w"),
        size(split(trim(col("__enc")), "  ")).cast("long").as("__nt"))
    words.join(encoded, "w")
      .groupBy("id")
      .agg(count(lit(1)).as("n_words"), sum("__nt").as("n_tokens"))
  }

  /** Full encode: (word, tokens array) for every distinct word of the
    * corpus — the inspection surface for specs and vocab analytics.
    */
  def bpeEncodeWords(df: DataFrame, text: Column,
                     merges: DataFrame): DataFrame = {
    val marr = merges
      .agg(array_sort(collect_list(struct(col("rank"), col("l"), col("r"))))
        .as("__m"))
    df.select(explode(split(text, " ")).as("w"))
      .filter(col("w") =!= "").distinct()
      .crossJoin(broadcast(marr))
      .withColumn("__s", bpeInitState(col("w")))
      .withColumn("tokens", split(trim(expr(
        """aggregate(__m, __s, (acc, m) ->
             replace(acc, concat(' ', m.l, '  ', m.r, ' '),
                          concat(' ', m.l, m.r, ' ')))""")), "  "))
      .select(col("w").as("word"), col("tokens"))
  }

  /** Materialize the dedup-artifact trio for an (id, text) corpus — the
    * production shape of a 100 TB cleaning run: the expensive near-dup
    * pair join executes ONCE here, and every downstream audit
    * (clustering, keep-best, leakage splits, transitivity/threshold
    * censuses, stage ledgers) READS the written tables instead of
    * re-paying pair generation. Writes three [[graft.sources.SnapshotTable]]s
    * under `path`:
    *
    *   - `pairs`    (id_a, id_b, shared, jaccard) — verified near-dup
    *     pairs at `threshold` ([[nearDupPairs]], strategy-routed);
    *   - `labels`   (id, cluster_id) — connected components of the pair
    *     graph with min-id labels, singletons included (own id);
    *   - `manifest` (id, status, ref_id) — per-row disposition:
    *     'exact_dup' (normalized-text keeper), 'near_dup' (smallest-id
    *     verified predecessor among exact survivors), or 'kept'.
    *
    * The near-dup stage of the manifest is DERIVED from the full pair
    * table (restricted to exact-survivor endpoints) rather than a second
    * pair join — Jaccard between two documents is pointwise, so the
    * restriction equals recomputation over survivors, for both the
    * shingle and lsh strategies. Artifact tables are immutable snapshots
    * of one cleaning run: re-running against the same path throws —
    * write each run to a fresh path (and point consumers at it), the
    * same append-only discipline every lakehouse manifest uses.
    *
    * Returns a summary frame (artifact, n_rows). Session routing: set
    * spark conf `graft.dedup.artifacts` to a base directory and the
    * corpus-reading operators resolve `base/<corpus-key>/<strategy>/` —
    * see [[DedupArtifactStore]].
    */
  def dedupArtifacts(df: DataFrame, id: Column, text: Column, path: String,
                     threshold: Double = 0.5,
                     strategy: String = "session"): DataFrame = {
    import graft.sources.SnapshotTable
    val s = df.sparkSession
    require(!SnapshotTable.exists(s, s"$path/pairs"),
      s"dedup artifacts already exist at $path — write to a fresh path " +
        "(artifact tables are immutable snapshots of one cleaning run)")
    // spread the one-row-group corpus BEFORE the persist (gated — see
    // spreadNarrowScan): the cache and everything reading it (the
    // signature explode + its parquet write, the md5 normalize pass,
    // the pair build) otherwise run single-task; the r14 ArtifactProfile
    // showed the signatures write alone serializing ~1.9 s. Downstream
    // verbs see the 32-partition cache and skip their own spread.
    val base = spreadNarrowScan(df.select(id.as("id"), text.as("__t")))
      .pipe(persistTracked)
    val pairs = nearDupPairs(base, col("id"), col("__t"), threshold,
        strategy = strategy)
      .pipe(persistTracked) // consumed by the write, labels, and manifest
    SnapshotTable.create(pairs, s"$path/pairs")
    val cc = connectedComponents(pairs, col("id_a"), col("id_b"))
      .withColumnRenamed("node", "id")
    val labels = base.select("id")
      .join(cc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("id")).as("cluster_id"))
    SnapshotTable.create(labels, s"$path/labels")
    val hashed = base.select(col("id"), md5(expr(
      "trim(regexp_replace(lower(__t), '\\\\s+', ' '))")).as("__h"))
    val keepers = hashed.groupBy("__h").agg(min("id").as("__ref"))
    val withRef = hashed.join(keepers, "__h").select("id", "__ref")
      .pipe(persistTracked)
    val exactDups = withRef.filter(col("id") =!= col("__ref"))
      .select(col("id"), lit("exact_dup").as("status"),
        col("__ref").as("ref_id"))
    val survivorIds = withRef.filter(col("id") === col("__ref")).select("id")
    val survPairs = pairs
      .join(survivorIds.withColumnRenamed("id", "id_a"), Seq("id_a"), "left_semi")
      .join(survivorIds.withColumnRenamed("id", "id_b"), Seq("id_b"), "left_semi")
    val doomedRef = survPairs
      .groupBy(col("id_b").as("id")).agg(min("id_a").as("ref_id"))
      .pipe(persistTracked)
    val nearDups = doomedRef
      .select(col("id"), lit("near_dup").as("status"), col("ref_id"))
    val kept = survivorIds.join(doomedRef, Seq("id"), "left_anti")
      .select(col("id"), lit("kept").as("status"),
        lit(null).cast(doomedRef.schema("ref_id").dataType).as("ref_id"))
    val manifest = exactDups.unionByName(nearDups).unionByName(kept)
    SnapshotTable.create(manifest, s"$path/manifest")
    // incremental-update inputs (see [[updateDedupArtifacts]]): the
    // shingle-signature INDEX (what a new batch's candidates join
    // against — the production alternative to re-shingling the whole
    // corpus per ingest) and the normalized-hash docmeta (what the
    // exact stage of a new batch joins against). Shingle-strategy only:
    // lsh sessions get their incremental path from the banded streaming
    // operator instead (nearDupPairsStream).
    if (effectiveStrategy(s, strategy) == "shingle") {
      SnapshotTable.create(shingleSignatures(base), s"$path/signatures")
      SnapshotTable.create(hashed.select(col("id"), col("__h").as("h")),
        s"$path/docmeta")
    }
    // metadata-only counts (manifest footer stats): the summary was
    // three count() scans of tables this build just wrote — §5 driver
    // discipline says read the commit metadata instead
    val rows = (n: String) => SnapshotTable.countRows(s, s"$path/$n")
    import s.implicits._
    Seq(("pairs", rows("pairs")), ("labels", rows("labels")),
        ("manifest", rows("manifest")))
      .toDF("artifact", "n_rows")
  }

  private def effectiveStrategy(s: org.apache.spark.sql.SparkSession,
                                strategy: String): String =
    if (strategy == "session")
      s.conf.get("graft.neardup.strategy", "shingle")
    else strategy

  /** (id, n, sh) exploded word-3-gram signature index — [[jaccardJoin]]'s
    * postings as a stored table. `explode`, not [[postings]]'
    * explode_outer: a doc shorter than 3 words stores no null-gram row.
    */
  private def shingleSignatures(base: DataFrame): DataFrame =
    base.select(col("id"), split(col("__t"), " ").as("__w"))
      .select(col("id"), wordGramSet("__w", 3).as("__shs"))
      .select(col("id"), size(col("__shs")).cast("long").as("n"),
        explode(col("__shs")).as("sh"))

  /** A stored (id, n, sh) signature table as [[postingsPairs]] input. */
  private def storedPostings(sigs: DataFrame): DataFrame =
    sigs.select(col("id").as("__id"), col("n").as("__n"), col("sh").as("__sh"))

  /** Incremental artifact update — the production INGEST loop closed:
    * a cleaning run built the artifacts once ([[dedupArtifacts]]);
    * every subsequent batch of NEW documents updates them without
    * re-shingling the existing corpus. Requires every new id to be
    * GREATER than every existing id (the append-only ingest contract —
    * it is what keeps history immutable: old exact keepers stay keepers
    * and old manifest rows stay true, because a keeper/predecessor is
    * always the SMALLER id).
    *
    * Work per batch (shingle strategy only; lsh sessions use the banded
    * streaming path):
    *   - shingle the NEW docs only; candidates = new×new plus new×OLD
    *     through the stored signature index (one equijoin on the
    *     shingle key — never re-deriving old signatures);
    *   - verified new pairs APPEND to `pairs`; new signatures and
    *     docmeta append too;
    *   - `labels` are REPLACED (upsert over all ids): a new document
    *     can bridge two previously-separate clusters, lowering labels
    *     of OLD docs — the CC rerun is over the pair table (tiny), not
    *     the corpus;
    *   - `manifest` appends the new docs' dispositions (old rows cannot
    *     change under the id-ordering contract: exact stage joins the
    *     stored docmeta hashes, near stage the appended pair set).
    *
    * Spec-pinned: build(A) + update(B) == build(A ∪ B) table-for-table.
    */
  def updateDedupArtifacts(newDocs: DataFrame, id: Column, text: Column,
                           path: String,
                           threshold: Double = 0.5): DataFrame = {
    import graft.sources.SnapshotTable
    val s = newDocs.sparkSession
    require(SnapshotTable.exists(s, s"$path/signatures"),
      s"no signature index at $path — build with dedupArtifacts first " +
        "(shingle strategy)")
    val base = newDocs.select(id.as("id"), text.as("__t")).pipe(persistTracked)
    val oldSigs = SnapshotTable.read(s, s"$path/signatures")
    val oldMeta = SnapshotTable.read(s, s"$path/docmeta")
    // append-only ingest contract
    val maxOld = oldMeta.agg(max("id")).head().getLong(0)
    val minNew = base.agg(min(col("id").cast("long"))).head().getLong(0)
    require(minNew > maxOld,
      s"updateDedupArtifacts: new ids must exceed existing ids " +
        s"(min new $minNew <= max old $maxOld) — the append-only contract")
    val newSigs = shingleSignatures(base).pipe(persistTracked)
    // candidates: new×(old + new-so-far), one shingle-key equijoin; the
    // id_a < id_b orientation falls out of the ingest contract for the
    // old side and the inequality for the new×new side
    val newPairs = postingsPairs(storedPostings(oldSigs.unionByName(newSigs)),
        storedPostings(newSigs), threshold)
      .pipe(persistTracked)
    SnapshotTable.append(newPairs, s"$path/pairs")
    SnapshotTable.append(newSigs, s"$path/signatures")
    // exact stage for the new docs against stored hashes + each other
    val newHashed = base.select(col("id"), md5(expr(
      "trim(regexp_replace(lower(__t), '\\\\s+', ' '))")).as("h"))
      .pipe(persistTracked)
    SnapshotTable.append(newHashed, s"$path/docmeta")
    val allMeta = oldMeta.unionByName(newHashed)
    val keepers = allMeta.groupBy("h").agg(min("id").as("__ref"))
    val newRef = newHashed.join(keepers, "h").select("id", "__ref")
      .pipe(persistTracked)
    val exactDups = newRef.filter(col("id") =!= col("__ref"))
      .select(col("id"), lit("exact_dup").as("status"),
        col("__ref").as("ref_id"))
    // near stage: a new survivor is doomed by its smallest verified
    // predecessor among exact survivors (old OR new)
    val allPairs = SnapshotTable.read(s, s"$path/pairs")
    val allRef = allMeta.join(keepers, "h").select("id", "__ref")
    val survivors = allRef.filter(col("id") === col("__ref")).select("id")
    val newSurvivors = newRef.filter(col("id") === col("__ref")).select("id")
    val doomedRef = allPairs
      .join(survivors.withColumnRenamed("id", "id_a"), Seq("id_a"), "left_semi")
      .join(newSurvivors.withColumnRenamed("id", "id_b"), Seq("id_b"), "left_semi")
      .groupBy(col("id_b").as("id")).agg(min("id_a").as("ref_id"))
      .pipe(persistTracked)
    val nearDups = doomedRef
      .select(col("id"), lit("near_dup").as("status"), col("ref_id"))
    val kept = newSurvivors.join(doomedRef, Seq("id"), "left_anti")
      .select(col("id"), lit("kept").as("status"),
        lit(null).cast(doomedRef.schema("ref_id").dataType).as("ref_id"))
    SnapshotTable.append(
      exactDups.unionByName(nearDups).unionByName(kept), s"$path/manifest")
    // labels: full CC over the (tiny) pair table, replaced via upsert —
    // new docs can merge old clusters, so old labels may legally drop
    val cc = connectedComponents(allPairs, col("id_a"), col("id_b"))
      .withColumnRenamed("node", "id")
    val labels = allMeta.select("id")
      .join(cc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("id")).as("cluster_id"))
    SnapshotTable.upsert(s, s"$path/labels", labels, Seq("id"))
    // metadata-only counts — see dedupArtifacts' summary note
    val rows = (n: String) => SnapshotTable.countRows(s, s"$path/$n")
    import s.implicits._
    Seq(("pairs", rows("pairs")), ("labels", rows("labels")),
        ("manifest", rows("manifest")))
      .toDF("artifact", "n_rows")
  }

  // ---- persisted ANN index (the similarity-family artifact) --------

  /** Build a persisted IVF index over an (id, embedding) frame — the
    * ANN analog of [[dedupArtifacts]]: quantize ONCE, every search
    * reads. Two SnapshotTables under `path`:
    *
    *   - `centroids` (cluster, centroid: array<double>) — the coarse
    *     quantizer from the deterministic [[kmeans]] (k rows, rides a
    *     broadcast at search time);
    *   - `rows` (id, cluster, vec) — every vector tagged with its cell,
    *     CLUSTERED on the cell id (SnapshotTable.cluster), so a probe
    *     of nprobe cells is a ZONE-MAP-PRUNED read: searching 3 of 64
    *     cells opens ~3/64 of the files, the same skipping machinery
    *     point queries use.
    *
    * Centroid recompute uses the per-(cluster, dim) DECIMAL-exact mean
    * (the kmeans discipline) so the index is reproducible bit-for-bit.
    */
  def annIndexBuild(df: DataFrame, id: Column, vec: Column, path: String,
                    k: Int, iters: Int = 2): DataFrame = {
    import graft.sources.SnapshotTable
    import org.apache.spark.sql.types.DecimalType
    val s = df.sparkSession
    require(!SnapshotTable.exists(s, s"$path/rows"),
      s"ANN index already exists at $path — build to a fresh path")
    val e = df.select(id.as("id"),
        transform(vec, x => x.cast("double")).as("vec"))
      .pipe(persistTracked)
    val asg = kmeans(e, col("id"), col("vec"), k, iters)
      .withColumnRenamed("id", "__aid")
    val rows = e.join(asg, col("id") === col("__aid"))
      .select(col("id"), col("cluster"), col("vec"))
    SnapshotTable.create(rows, s"$path/rows")
    SnapshotTable.cluster(s, s"$path/rows", Seq("cluster"),
      numFiles = math.max(4, math.min(k, 64)))
    val cents = SnapshotTable.read(s, s"$path/rows")
      .select(col("cluster"), posexplode(col("vec")).as(Seq("dim", "x")))
      .groupBy("cluster", "dim")
      .agg((sum(col("x").cast(DecimalType(30, 9)))
        / count(lit(1))).cast("double").as("m"))
      .groupBy("cluster")
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("p"))
      .select(col("cluster"),
        expr("transform(p, q -> q.m)").as("centroid"))
    SnapshotTable.create(cents, s"$path/centroids")
    import s.implicits._
    Seq(("rows", SnapshotTable.read(s, s"$path/rows").count()),
        ("centroids", SnapshotTable.read(s, s"$path/centroids").count()))
      .toDF("artifact", "n_rows")
  }

  /** Search a persisted IVF index: assign each query to its `nprobe`
    * nearest cells against the broadcast centroid table, read ONLY the
    * probed cells from the clustered rows table (one zone-map-pruned
    * IN-predicate read over the union of probed cells — bounded by
    * nprobe × distinct query cells, never the corpus), exact cosine on
    * the candidates, top-k per query on a (cosine DESC, id) total
    * order. `nprobe = k` is exact search. Returns
    * (query_id, id, cos, rank).
    */
  def annSearch(spark: org.apache.spark.sql.SparkSession, path: String,
                queries: DataFrame, qId: Column, qVec: Column,
                nprobe: Int, topK: Int = 10): DataFrame = {
    import graft.sources.SnapshotTable
    import graft.functions.cosine_sim
    val cents = SnapshotTable.read(spark, s"$path/centroids")
    val qv = queries
      .select(qId.as("query_id"),
        transform(qVec, x => x.cast("double")).as("qv"))
    // nprobe nearest cells per query: queries × k (k bounded) against
    // the broadcast centroid table, ranked on a (cos DESC, cluster)
    // total order — the query frame, not the corpus, pays the fanout
    val wc = Window.partitionBy("query_id")
      .orderBy(desc("__ccos"), col("cluster"))
    val q = qv.crossJoin(broadcast(cents))
      .withColumn("__ccos", cosine_sim(col("qv"), col("centroid")))
      .withColumn("__rk", row_number().over(wc))
      .filter(col("__rk") <= nprobe)
      .select(col("query_id"), col("qv"), col("cluster"))
      .pipe(persistTracked)
    val probed = q.select("cluster").distinct()
      .collect().map(_.getLong(0)).sorted
    if (probed.isEmpty)
      return q.select(col("query_id"), col("cluster").as("id"),
        lit(0.0).as("cos"), lit(0L).as("rank")).limit(0)
    val rows = SnapshotTable.readWhere(spark, s"$path/rows",
      s"cluster IN (${probed.mkString(", ")})")
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("id"))
    q.join(rows, "cluster")
      .withColumn("cos", round(cosine_sim(col("qv"), col("vec")), 9))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("id"), col("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** Span-level dedup with reconstruction over any (id, text) frame:
    * fixed `spanWords`-word spans, first occurrence (min id, then span
    * position) survives corpus-wide, each row re-assembled from its
    * surviving spans in order. Narrow span explode + ONE content-keyed
    * window; nothing quadratic. Returns (id, n_spans, n_kept, text_kept).
    */
  def spanDedup(df: DataFrame, id: Column, text: Column,
                spanWords: Int = 10): DataFrame = {
    val spans = df.select(id.as("id"), split(trim(text), "\\s+").as("__w"))
      .filter(size(col("__w")) > 0)
      .select(col("id"), posexplode(expr(
        s"transform(sequence(0, CAST(ceil(size(__w) / ${spanWords}.0) AS INT) - 1)," +
          s" i -> array_join(slice(__w, i * $spanWords + 1, $spanWords), ' '))")))
      .withColumnRenamed("col", "__span")
    val w = Window.partitionBy("__span").orderBy("id", "pos")
    spans
      .withColumn("__keep", row_number().over(w) === 1)
      .groupBy("id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        nullif(array_join(transform(array_sort(
          collect_list(when(col("__keep"), struct(col("pos"), col("__span")))),
        ), x => x.getField("__span")), " "), lit("")).as("text_kept"))
  }

  /** Blocked fuzzy record matching (entity resolution): candidates form
    * only within a blocking key (block size is bounded by key design ⇒
    * pair work linear in data), Levenshtein-verified at `maxDistance`.
    * Returns matched pairs (id_a, id_b, distance) with id_a < id_b. The
    * lev <= k condition is the shape FuzzyMatchGuardRule rewrites into a
    * length guard + banded thresholded distance.
    */
  def blockedMatch(df: DataFrame, id: Column, name: Column, block: Column,
                   maxDistance: Int = 1): DataFrame = {
    val recs = df.select(id.as("__id"), name.as("__n"), block.as("__b"))
    recs.as("a").join(recs.as("b"),
        col("a.__b") === col("b.__b") && col("a.__id") < col("b.__id") &&
          levenshtein(col("a.__n"), col("b.__n")) <= maxDistance)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        levenshtein(col("a.__n"), col("b.__n")).as("distance"))
  }

  /** Best-match record linkage: each record's single highest-scoring
    * in-block candidate by Jaro-Winkler (the d21 plan — rank on the
    * ROUNDED score with unique id tie-break, so ranking is reproducible
    * across engines and partitionings). Returns (id, match_id, jw).
    */
  def bestMatch(df: DataFrame, id: Column, name: Column,
                block: Column): DataFrame = {
    import graft.functions.jaro_winkler
    val recs = df.select(id.as("__id"), name.as("__n"), block.as("__b"))
    val w = Window.partitionBy("id").orderBy(desc("jw"), col("match_id"))
    recs.as("a").join(recs.as("b"),
        col("a.__b") === col("b.__b") && col("a.__id") =!= col("b.__id"))
      .select(col("a.__id").as("id"), col("b.__id").as("match_id"),
        round(jaro_winkler(col("a.__n"), col("b.__n")), 9).as("jw"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk")
  }

  /** Join-key skew audit: per-key counts -> population stats (max/avg
    * skew ratio, top-1 share, exact-integer hot-key census at 2x the
    * mean). The strategy decision BEFORE a large join: AQE skew-split
    * vs salting vs broadcast. One combinable aggregate; never shuffles
    * more than the key-sized count frame. (q91's engine, as a verb.)
    */
  def skewAudit(df: DataFrame, key: Column, label: String): DataFrame = {
    val counts = df.groupBy(key.as("k")).agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(count(lit(1)).as("n_keys"),
      sum("cnt").as("n_rows"), max("cnt").as("max_count"))
    val hot = counts.crossJoin(broadcast(stats))
      .filter(col("cnt") * col("n_keys") > lit(2L) * col("n_rows"))
      .agg(count(lit(1)).as("n_hot_keys"))
    stats.crossJoin(broadcast(hot))
      .select(lit(label).as("key_name"), col("n_rows"), col("n_keys"),
        col("max_count"),
        round((col("max_count") * col("n_keys")).cast("double")
          / col("n_rows").cast("double"), 9).as("skew_ratio"),
        round(col("max_count").cast("double")
          / col("n_rows").cast("double"), 9).as("top1_share"),
        col("n_hot_keys"))
  }

  /** Exact two-sample Kolmogorov-Smirnov D between the `value`
    * distributions of two groups (group column equal to `a` vs `b`).
    * Distinct-value cells + range-partitioned prefix sums — never a
    * global sort; the argmax runs on exact integers. (v11's engine.)
    */
  def ksTest(df: DataFrame, group: Column, value: Column,
             a: Any, b: Any): DataFrame = {
    val ev = df.select(group.as("__g0"), value.as("value"))
      .filter(col("__g0").isin(a, b))
    val cells = ev.groupBy("value").agg(
      count(when(col("__g0") === lit(a), 1)).as("c1"),
      count(when(col("__g0") === lit(b), 1)).as("c2"))
    val parted = cells.repartitionByRange(col("value"))
      .withColumn("__pid", spark_partition_id())
      .pipe(persistTracked)
    val offsets = boundedSingleGroup(
        parted.groupBy("__pid").agg(sum("c1").as("t1"), sum("c2").as("t2")))
      .withColumn("o1", coalesce(sum("t1").over(
        Window.partitionBy("__g").orderBy("__pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("o2", coalesce(sum("t2").over(
        Window.partitionBy("__g").orderBy("__pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__pid", "o1", "o2")
    val wp = Window.partitionBy("__pid").orderBy("value")
    val totals = cells.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    parted.join(broadcast(offsets), "__pid")
      .withColumn("s1", sum("c1").over(wp) + col("o1"))
      .withColumn("s2", sum("c2").over(wp) + col("o2"))
      .crossJoin(broadcast(totals))
      .withColumn("d_numerator",
        abs(col("s1") * col("n2") - col("s2") * col("n1")))
      .orderBy(desc("d_numerator"), col("value"))
      .limit(1)
      .select(col("n1"), col("n2"), col("value").as("at_value"),
        col("d_numerator"),
        round(col("d_numerator").cast("double")
          / (col("n1") * col("n2")).cast("double"), 9).as("ks_d"))
  }

  /** Weekly growth accounting: per week the actives split into new /
    * retained / resurrected, plus churned-in (censored at the final
    * observed week). One (user, week) distinct pass + one user-keyed
    * lag+lead window. (e33's engine, over any entity/timestamp.)
    */
  def growthAccounting(df: DataFrame, entity: Column, ts: Column): DataFrame = {
    val uw = df.select(entity.as("user_id"), trunc(to_date(ts), "week").as("wk"))
      .distinct()
      .withColumn("wi",
        expr("CAST(datediff(wk, DATE '1970-01-05') div 7 AS BIGINT)"))
    val w = Window.partitionBy("user_id").orderBy("wi")
    val st = uw
      .withColumn("prev", lag(col("wi"), 1).over(w))
      .withColumn("nxt", lead(col("wi"), 1).over(w))
    val mx = uw.agg(max("wi").as("maxwi"))
    val active = st.groupBy("wi").agg(
      count(lit(1)).as("n_active"),
      count(when(col("prev").isNull, 1)).as("n_new"),
      count(when(col("prev") === col("wi") - 1, 1)).as("n_retained"),
      count(when(col("prev").isNotNull && col("prev") < col("wi") - 1, 1))
        .as("n_resurrected"))
    val churn = st.crossJoin(broadcast(mx))
      .filter((col("nxt").isNull && col("wi") < col("maxwi"))
        || col("nxt") > col("wi") + 1)
      .groupBy((col("wi") + 1).as("wi"))
      .agg(count(lit(1)).as("n_churned_in"))
    active.join(churn, Seq("wi"), "left")
      .na.fill(0L, Seq("n_churned_in"))
      .withColumn("week",
        date_add(lit("1970-01-05").cast("date"), (col("wi") * 7).cast("int")))
      .select("week", "n_active", "n_new", "n_retained", "n_resurrected",
        "n_churned_in")
      .orderBy("week")
  }

  /** Functional-dependency audit: does `det` determine `dep` in this
    * frame? One det-keyed shuffle (grouped count-distinct, map-side
    * combinable) + a one-row rollup — the minimum any exact FD check
    * pays. Returns (candidate, n_det, n_violating, max_fanout, holds).
    * (v19's engine, as a verb.)
    */
  def fdAudit(df: DataFrame, det: Column, dep: Column, label: String): DataFrame =
    df.select(det.cast("string").as("det"), dep.cast("string").as("dep"))
      .groupBy("det").agg(count_distinct(col("dep")).as("n_dep"))
      .agg(count(lit(1)).as("n_det"),
        count(when(col("n_dep") > 1, 1)).as("n_violating"),
        max(col("n_dep")).as("max_fanout"))
      .select(lit(label).as("candidate"), col("n_det"), col("n_violating"),
        col("max_fanout"), (col("n_violating") === 0).as("holds"))

  /** Censored discrete time-to-conversion hazard curve (Kaplan-Meier
    * style): P(conversion at day offset d | unconverted and observable
    * at d), for d in 0..maxDays-1. `isConversion` marks converting
    * rows. Right-censoring via the frame's max date: a user enters
    * day-d's risk set only if the horizon covers their day d. The only
    * wide stage is the per-entity collapse. (e48's engine, as a verb.)
    */
  def conversionHazard(df: DataFrame, entity: Column, ts: Column,
                       isConversion: Column, maxDays: Int = 14): DataFrame = {
    val u = df
      .select(entity.as("__e"), to_date(ts).as("day"),
        isConversion.as("__conv"))
      .groupBy("__e")
      .agg(min(col("day")).as("f_day"),
        min(when(col("__conv"), col("day"))).as("c_day"))
      .withColumn("off", datediff(col("c_day"), col("f_day")))
    val mx = df.agg(max(to_date(ts)).as("max_day"))
    u.crossJoin(broadcast(mx))
      .select(col("off"), col("f_day"), col("max_day"),
        explode(sequence(lit(0), lit(maxDays - 1))).as("d"))
      .filter(date_add(col("f_day"), col("d")) <= col("max_day"))
      .filter(col("off").isNull || col("off") >= col("d"))
      .groupBy("d")
      .agg(count(lit(1)).as("at_risk"),
        count(when(col("off") === col("d"), 1)).as("n_conv"))
      .withColumn("hazard",
        when(col("at_risk") > 0,
          round(col("n_conv").cast("double") / col("at_risk").cast("double"), 9)))
      .select(col("d").cast("long").as("d"), col("at_risk"),
        col("n_conv"), col("hazard"))
      .orderBy("d")
  }

  /** Kaplan–Meier survival curve with right-censoring (e60's engine):
    * per entity, duration runs from first observation to first
    * `isEvent` row (event) or to the LAST observation (censored) —
    * non-converters count as still-at-risk instead of being dropped.
    * S(t) = Π_{u≤t} (1 − d_u/n_u) over event times; d/n are exact
    * integers from one entity collapse + one duration rollup. Numeric
    * discipline: 1e-9-rounded ln(1−d/n) terms before the ordered
    * cumulative sum, −1e9 sentinel where d == n_risk so exp underflows
    * to exactly 0.0 (never ln(0)); survival rounded at 1e-7. The
    * duration frame is bounded by the observation date span, so the
    * cumulative windows ride [[boundedSingleGroup]] — never a
    * corpus-wide unpartitioned window.
    */
  def kaplanMeier(df: DataFrame, entity: Column, ts: Column,
                  isEvent: Column): DataFrame = {
    val u = df
      .select(entity.as("__e"), to_date(ts).as("day"), isEvent.as("__ev"))
      .groupBy("__e")
      .agg(min(col("day")).as("f_day"),
        min(when(col("__ev"), col("day"))).as("c_day"),
        max(col("day")).as("last_day"))
      .select(
        when(col("c_day").isNotNull, datediff(col("c_day"), col("f_day")))
          .otherwise(datediff(col("last_day"), col("f_day")))
          .cast("long").as("t"),
        col("c_day").isNotNull.as("ev"))
    val byT = u.groupBy("t").agg(
      sum(when(col("ev"), 1L).otherwise(0L)).as("n_events"),
      sum(when(col("ev"), 0L).otherwise(1L)).as("n_censored"))
    val b = boundedSingleGroup(byT)
    val w = Window.partitionBy("__g").orderBy("t")
    val removed = coalesce(sum(col("n_events") + col("n_censored"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    val total = sum(col("n_events") + col("n_censored"))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    b.withColumn("n_risk", total - removed)
      .withColumn("term",
        when(col("n_events") > 0 && col("n_events") < col("n_risk"),
          round(log(lit(1.0) - col("n_events").cast("double")
            / col("n_risk").cast("double")), 9))
          .when(col("n_events") === col("n_risk"), lit(-1e9))
          .otherwise(lit(0.0)))
      .withColumn("km_survival",
        round(exp(sum("term")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))), 7))
      .select("t", "n_risk", "n_events", "n_censored", "km_survival")
      .orderBy("t")
  }

  /** Rolling OLS trend per group (q110's engine): daily rollup of
    * `cents` (pass an EXACT integer-cents column — integer window sums
    * are immune to the sliding-frame double summation-order divergence
    * between engines), then the trailing `windowDays`-day RANGE-frame
    * least-squares slope of daily total vs calendar day. The slope is
    * published as an exact integer of micro-units/day via shifted floor
    * division (DECIMAL(38,0) intermediates; the +10^14·den offset makes
    * truncating `div` floor-exact for negative slopes too) because the
    * closed-form slope is a rational that can land exactly on rounding
    * half-boundaries; the display double derives from that integer.
    * Output: (grp, day, n_days, cents, slope_micro, slope_per_day)
    * where slope_per_day is in whole units (cents/100) per day.
    */
  def rollingTrend(df: DataFrame, group: Column, day: Column,
                   cents: Column, windowDays: Int = 28): DataFrame = {
    require(windowDays >= 2, s"windowDays must be >= 2, got $windowDays")
    val daily = df.select(group.as("grp"), day.as("day"), cents.as("__c"))
      .groupBy("grp", "day").agg(sum(col("__c")).as("cents"))
      // slope is translation-invariant in x (exact algebraic identity
      // over the integer sums), so the epoch choice cannot change it
      .withColumn("x", datediff(col("day"), to_date(lit("1970-01-01")))
        .cast("long"))
    val w = Window.partitionBy("grp").orderBy("x")
      .rangeBetween(-(windowDays - 1), 0)
    daily
      .withColumn("n",   count(lit(1)).over(w))
      // num/den products overflow Long once x ≈ 2e4 epoch-days meets
      // daily totals near 1e13 cents (n*sxy ≈ 28·2e4·1e13 > 2^63), so
      // every factor is widened to DECIMAL(38,0) BEFORE multiplying; the
      // window sums themselves (sxy ≤ 28·2e4·cents) stay in Long range
      // for any realistic cents column and keep the cheap Long window agg
      .withColumn("sx",  sum("x").over(w).cast("decimal(38,0)"))
      .withColumn("sy",  sum("cents").over(w).cast("decimal(38,0)"))
      .withColumn("sxy", sum(col("x") * col("cents")).over(w).cast("decimal(38,0)"))
      .withColumn("sxx", sum(col("x") * col("x")).over(w).cast("decimal(38,0)"))
      .withColumn("num", (col("n").cast("decimal(38,0)") * col("sxy")
        - col("sx") * col("sy")).cast("decimal(38,0)"))
      .withColumn("den", (col("n").cast("decimal(38,0)") * col("sxx")
        - col("sx") * col("sx")).cast("decimal(38,0)"))
      .withColumn("slope_micro", when(col("den") > 0,
        expr("""CAST((CAST(num AS DECIMAL(38,0)) * 10000
                 + CAST(100000000000000 AS DECIMAL(38,0))
                   * CAST(den AS DECIMAL(38,0)))
                div CAST(den AS DECIMAL(38,0)) AS BIGINT)
               - 100000000000000""")))
      .withColumn("slope_per_day",
        col("slope_micro").cast("double") / lit(1000000.0))
      .select(col("grp"), col("day"), col("n").as("n_days"),
        col("cents"), col("slope_micro"), col("slope_per_day"))
      .orderBy("grp", "day")
  }

  /** Deterministic source-interleaved shard assignment: rank rows
    * WITHIN each group by (md5(id), id) — a group-partitioned window,
    * never a global sort — and round-robin the rank over `nShards`.
    * Every shard gets each group's rows within ±1 by construction.
    * Returns the input plus a `shard` column. (p13's engine.)
    */
  def shardInterleave(df: DataFrame, id: Column, group: Column,
                      nShards: Int = 8): DataFrame = {
    val w = Window.partitionBy(group).orderBy(md5(id.cast("string")), id)
    df.withColumn("shard", ((row_number().over(w) - 1) % nShards).cast("long"))
  }

  /** Exact substring containment pairs: rows of `df` whose text occurs
    * LITERALLY inside another row's text (truncated tails, quoted-whole,
    * re-wrapped — what shingle methods only approximate). Candidate
    * discipline: if B occurs inside A, B's first word-3-gram occurs in
    * A, so the probe side carries ONE xxhash64 gram per row against the
    * positional gram index; contains() verifies candidates only, texts
    * joined back by id — payloads never ride the gram shuffle. Returns
    * (container_id, contained_id, pos). (d36's engine, as a verb.)
    */
  def substringContainment(df: DataFrame, id: Column, text: Column): DataFrame = {
    // spread a one-row-group scan: the positional-gram index explode
    // below is the CPU-bound stage; gated on scan parallelism
    // (spreadNarrowScan) so a production many-file scan adds no exchange
    val docs = spreadNarrowScan(df)
      .select(id.as("__id"), text.as("__t"))
    val probe = docs
      .filter(size(split(col("__t"), " ")) >= 3)
      .select(col("__id").as("b"),
        xxhash64(expr("concat_ws(' ', slice(split(__t, ' '), 1, 3))")).as("g"),
        length(col("__t")).as("lb"))
    val index = docs
      .select(col("__id").as("a"), length(col("__t")).as("la"),
        explode(expr(
          s"array_distinct(${wordGrams("split(__t, ' ')", 3, GramKey.XxHash64)})"))
          .as("g"))
    val cands = probe.join(index, "g")
      .where(col("a") =!= col("b") && col("la") >= col("lb"))
      .select("a", "b").distinct()
    cands
      .join(docs.select(col("__id").as("a"), col("__t").as("ta")), "a")
      .join(docs.select(col("__id").as("b"), col("__t").as("tb")), "b")
      .withColumn("pos", instr(col("ta"), col("tb")).cast("long"))
      .filter(col("pos") > 0)
      .select(col("a").as("container_id"), col("b").as("contained_id"),
        col("pos"))
  }

  /** Common-neighbor / Jaccard link prediction over an undirected
    * a<b edge frame: forward wedge join on the symmetric adjacency
    * (per-center expansion deg²-bounded), existing edges anti-joined
    * away, Jaccard on exact int64 counts ranked by the ROUNDED score
    * with full tie-breaks. (g06's engine, as a verb.)
    *
    * `maxDegree` caps each vertex's adjacency at its maxDegree
    * smallest neighbors (deterministic) before the wedge join — the
    * standard dense-graph mitigation: wedge work drops from Σdeg² to
    * Σmin(deg,cap)², losing only candidates discovered exclusively
    * through hub vertices (whose common-neighbor signal is weakest —
    * a hub is a neighbor of everyone). Degrees for the Jaccard score
    * stay UNCAPPED, so surviving pairs score exactly. Default = no
    * cap = exact (the oracle's operating point); a densified 100 TB
    * graph sets ~32-64 (measured in SURVEY §6).
    */
  def linkPredict(edges: DataFrame, a: Column, b: Column,
                  topK: Int = 15, maxDegree: Int = Int.MaxValue): DataFrame = {
    val e = persistTracked(edges.select(a.as("a"), b.as("b")))
    val adjFull = e.select(col("a").as("n"), col("b").as("nbr"))
      .unionAll(e.select(col("b").as("n"), col("a").as("nbr")))
    val deg = adjFull.groupBy("n").agg(count(lit(1)).as("deg"))
    val adj = if (maxDegree == Int.MaxValue) adjFull else
      adjFull.withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("n").orderBy("nbr")))
        .filter(col("__r") <= maxDegree).drop("__r")
    val wedges = adj.select(col("nbr").as("z"), col("n").as("x"))
      .join(adj.select(col("n").as("z"), col("nbr").as("y")), "z")
      .where(col("x") < col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("cn"))
    val cands = wedges.join(e,
      wedges("x") === e("a") && wedges("y") === e("b"), "left_anti")
    cands
      .join(deg.select(col("n").as("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("n").as("y"), col("deg").as("dy")), "y")
      .withColumn("jaccard", round(col("cn").cast("double")
        / (col("dx") + col("dy") - col("cn")).cast("double"), 9))
      .select(col("x").as("part_a"), col("y").as("part_b"),
        col("cn"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("cn").desc, col("part_a"), col("part_b"))
      .limit(topK)
  }

  // ---- graph verbs over arbitrary edge frames ----------------------
  // The g01/g03/g04 engines, verb-ified: any (src, dst[, weight]) frame
  // — clickstream referrers, citation pairs, dedup candidate pairs —
  // not just the co-purchase build the oracled queries use. The query
  // bodies delegate here, so the DuckDB hash compare pins the verbs.

  /** Triangle census over an undirected edge frame (any orientation,
    * duplicates tolerated — normalized to distinct lo<hi internally):
    * one row (n_nodes, n_edges, n_wedges, n_triangles, gcc).
    *
    * The triangle join is conf-routable via `graft.graph.orientation`:
    *  - "degree" (default): orient each edge at the higher-(degree,id)
    *    endpoint and wedge-join on the apex — per-vertex forward lists
    *    are O(sqrt|E|) (classic forward/compact-forward bound), so a
    *    hub with degree d contributes ~d wedge candidates instead of
    *    d², which is what survives a densified 100 TB co-occurrence
    *    graph. Joins are plain hash joins — AQE broadcasts while the
    *    edge table fits and shuffles when it doesn't.
    *  - "id": the a<b orientation wedge join (the small-graph shape:
    *    fewest stages when everything broadcasts).
    * Both count each triangle exactly once — same census either way.
    */
  def triangleCensus(edges: DataFrame, a: Column, b: Column): DataFrame = {
    val e = edges
      .select(least(a, b).as("a"), greatest(a, b).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull)
      .distinct()
      .pipe(persistTracked)
    triangleCensusOriented(e)
  }

  /** [[triangleCensus]] over an ALREADY distinct, a<b oriented edge
    * frame with columns (a, b) — skips the normalization shuffle (the
    * oracled g03 path: its groupBy edge build is distinct by
    * construction).
    */
  def triangleCensusOriented(eRaw: DataFrame): DataFrame = {
    // graft.graph.maxDegree > 0 routes the LOSSY capped census (the g06
    // maxDegree play): each vertex keeps its maxDegree smallest
    // neighbors per side (deterministic), and the census describes the
    // capped graph — n_edges/wedges/triangles all shrink together. The
    // exact default (0) is the oracle's operating point; a densified
    // co-occurrence graph at 100 TB sets 32-64 when hub triangles are
    // noise anyway (measured in SURVEY §6 stress rows).
    val maxDeg = eRaw.sparkSession.conf
      .get("graft.graph.maxDegree", "0").toInt
    val e = if (maxDeg <= 0) eRaw else {
      val wa = org.apache.spark.sql.expressions.Window
        .partitionBy("a").orderBy("b")
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy("b").orderBy("a")
      eRaw.withColumn("__ra", row_number().over(wa))
        .withColumn("__rb", row_number().over(wb))
        .filter(col("__ra") <= maxDeg && col("__rb") <= maxDeg)
        .drop("__ra", "__rb")
    }
    val deg = e.select(col("a").as("n"))
      .unionAll(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val nE = e.agg(count(lit(1)).as("n_edges"))
    val orientation = e.sparkSession.conf
      .get("graft.graph.orientation", "degree")
    val tri = orientation match {
      case "id" =>
        e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
          .join(e.as("e3"),
            col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
          .agg(count(lit(1)).as("n_triangles"))
      case "degree" =>
        // compact-forward (Latapy 2008): rank(u) = (deg(u), u), each
        // edge points at its HIGHER-rank endpoint, so forward adjacency
        // is bounded by O(sqrt|E|) per vertex — a bounded array even on
        // a graph with 10M-degree hubs. Triangles through edge u->v are
        // |fwd(u) ∩ fwd(v)| (each triangle counted exactly once at its
        // two lowest-rank vertices); the intersections run inside
        // whole-stage codegen over the edge stream — no wedge-sized
        // shuffle ever materializes, which is what the densified-graph
        // stress sweep punishes in the join formulation.
        val ranked = e
          .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
          .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
        val fwd = ranked.select(expr(
          """CASE WHEN da < db OR (da = db AND a < b)
               THEN struct(a AS u, b AS v)
               ELSE struct(b AS u, a AS v) END""").as("o"))
          .select(col("o.u").as("u"), col("o.v").as("v"))
          .pipe(persistTracked)
        val lists = fwd.groupBy("u").agg(collect_list(col("v")).as("nb"))
        // inner joins: a v with no forward list intersects empty -> 0
        fwd
          .join(lists.select(col("u"), col("nb").as("fu")), "u")
          .join(lists.select(col("u").as("v"), col("nb").as("fv")), "v")
          .select(size(array_intersect(col("fu"), col("fv")))
            .cast("long").as("t"))
          .agg(coalesce(sum("t"), lit(0L)).as("n_triangles"))
      case other => throw new IllegalArgumentException(
        s"graft.graph.orientation must be 'degree' or 'id', got '$other'")
    }
    nodes.crossJoin(broadcast(nE)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          round(lit(3.0) * col("n_triangles").cast("double")
            / col("n_wedges").cast("double"), 9)).as("gcc"))
  }

  /** Connected components of an undirected edge frame: returns
    * (node, cluster_id) with cluster_id = the component's minimum node
    * id. Two conf-routed algorithms with IDENTICAL output
    * (`graft.graph.cc`, spec-pinned equal):
    *
    *   - `labelprop` (default) — min-label propagation to fixpoint,
    *     O(diameter) rounds on metadata-sized label state. Right for
    *     the dense low-diameter graphs the corpus produces (measured:
    *     pointer-jumping variants lost here, audits/r4_g04_fixpoint_audit.md).
    *   - `starcontraction` — alternating large-star/small-star
    *     contraction (Kiveris et al. 2014, "Connected Components in
    *     MapReduce and Beyond"): O(log n) rounds regardless of
    *     diameter. The 100 TB/adversarial-topology path — a path- or
    *     chain-shaped graph (web redirect chains, citation chains)
    *     pays diameter rounds under labelprop but log n here.
    *
    * (g04's engine, as a verb; d08's cluster resolution routes through
    * it too.)
    */
  def connectedComponents(edges: DataFrame, a: Column, b: Column)
      : DataFrame =
    edges.sparkSession.conf.get("graft.graph.cc", "labelprop") match {
      case "labelprop"       => ccLabelProp(edges, a, b)
      case "starcontraction" => ccStarContraction(edges, a, b)
      case bad => throw new IllegalArgumentException(
        s"graft.graph.cc must be 'labelprop' or 'starcontraction', got '$bad'")
    }

  /** Observability: rounds the most recent connectedComponents call in
    * this JVM took (either algorithm) — read by specs and the
    * ScaleStress path-graph row to verify the O(log n) vs O(diameter)
    * round-count claims on real runs.
    */
  @volatile private[graft] var lastCcRounds: Int = 0

  private def ccLabelProp(edges: DataFrame, a: Column, b: Column)
      : DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = edges.select(a.cast("long").as("a"), b.cast("long").as("b"))
      .pipe(persistTracked)
    val ed = e.select(col("a").as("v"), col("b").as("w"))
      .unionAll(e.select(col("b").as("v"), col("a").as("w")))
    var labels = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .distinct()
      .withColumn("cluster_id", col("node"))
      .localCheckpoint()
    var prevSum: BigDecimal = null
    var curSum = BigDecimal(labels
      .agg(sum(col("cluster_id").cast(DecimalType(38, 0))))
      .collect()(0).getDecimal(0))
    lastCcRounds = 0
    while (prevSum == null || curSum < prevSum) {
      lastCcRounds += 1
      val prop = ed
        .join(labels.withColumnRenamed("node", "v"), "v")
        .select(col("w").as("node"), col("cluster_id"))
      // lazy checkpoint: the convergence aggregate below is the round's
      // one action and materializes it as a side effect (one job/round)
      labels = labels.unionAll(prop)
        .groupBy("node").agg(min("cluster_id").as("cluster_id"))
        .localCheckpoint(false)
      prevSum = curSum
      curSum = BigDecimal(labels
        .agg(sum(col("cluster_id").cast(DecimalType(38, 0))))
        .collect()(0).getDecimal(0))
    }
    labels
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.
    * 2014). Each round: large-star hangs every neighbor LARGER than a
    * node onto that node's local minimum (so tall trees flatten
    * geometrically), small-star hangs the smaller neighbors plus the
    * node itself onto the minimum (canonicalizing toward stars). The
    * edge set converges — in O(log n) rounds independent of graph
    * diameter — to a star forest rooted at each component's min node,
    * which IS the label assignment. Engine shape per round: two
    * groupBy-min + join passes over the edge frame, each followed by a
    * distinct (edges only shrink toward n-1 per component);
    * convergence is an exact (count, hash-sum) fingerprint equality —
    * a fixpoint leaves the edge set literally unchanged. Lineage is
    * truncated per round via lazy localCheckpoint (the fingerprint
    * aggregate is the round's one action and materializes it).
    */
  private def ccStarContraction(edges: DataFrame, a: Column, b: Column)
      : DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val raw = edges.select(a.cast("long").as("u"), b.cast("long").as("v"))
      .pipe(persistTracked)
    val nodes = raw.select(col("u").as("node"))
      .unionAll(raw.select(col("v").as("node")))
      .distinct()
    var e = raw.where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint()
    def fingerprint(df: DataFrame): (Long, BigDecimal) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast(DecimalType(38, 0))),
          lit(0).cast(DecimalType(38, 0)))).collect()(0)
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }
    var prev: (Long, BigDecimal) = null
    var cur = fingerprint(e)
    lastCcRounds = 0
    while (prev == null || cur != prev) {
      lastCcRounds += 1
      // large-star: node x with neighbors N, m = min(N ∪ {x}) — emit
      // (m, nbr) for every nbr > x (m <= x < nbr keeps u<v orientation)
      val sym = e.select(col("u").as("x"), col("v").as("nbr"))
        .unionAll(e.select(col("v").as("x"), col("u").as("nbr")))
      val mins = sym.groupBy("x").agg(min("nbr").as("mn"))
        .select(col("x"), least(col("x"), col("mn")).as("m"))
      val ls = sym.join(mins, "x")
        .where(col("nbr") > col("x"))
        .select(col("m").as("u"), col("nbr").as("v"))
        .distinct()
      // small-star: each (u, v) edge is owned by its LARGER endpoint v
      // with smaller-neighbor set N, m = min(N); emit (m, x) for
      // x ∈ N \ {m} and (m, v)
      val mins2 = ls.groupBy("v").agg(min("u").as("m"))
      val ss = ls.join(mins2, "v")
        .where(col("u") =!= col("m"))
        .select(col("m").as("u"), col("u").as("v"))
        .unionAll(mins2.select(col("m").as("u"), col("v")))
        .distinct()
      e = ss.localCheckpoint(false)
      prev = cur
      cur = fingerprint(e) // the round's one action: materializes e
    }
    // star forest: every non-root points at its component min; roots
    // and isolated/self-loop-only nodes label themselves
    val nonRoots = e.groupBy(col("v").as("node")).agg(min("u").as("cluster_id"))
    nodes.join(nonRoots, Seq("node"), "left")
      .select(col("node"), coalesce(col("cluster_id"), col("node")).as("cluster_id"))
  }

  /** Synchronous label-propagation communities (Raghavan 2007) over an
    * (a, b) undirected edge frame — the near-linear community detector:
    * every node adopts its neighbors' most frequent label each round.
    * Deterministic by construction where vanilla LPA is run-to-run
    * unstable: synchronous rounds from lbl(v,0)=v, a FIXED round count,
    * and a total-order tie-break (count DESC, label ASC) per node.
    * Returns (node, lbl). Engine shape: each round is one edge-sized
    * join against node-sized labels + a node-partitioned rank window,
    * lazily checkpointed (one materialization per round at the final
    * action, lineage truncated — the g01/g04 Pregel-by-joins pattern);
    * the edge frame is persist-tracked so the symmetric expansion scans
    * it once. (g14's engine, as a verb.)
    */
  def labelPropagation(edges: DataFrame, a: Column, b: Column,
                       rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = edges.select(a.cast("long").as("a"), b.cast("long").as("b"))
      .pipe(persistTracked)
    val sym = e.select(col("a").as("v"), col("b").as("n"))
      .unionAll(e.select(col("b").as("v"), col("a").as("n")))
    var labels = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .distinct().withColumn("lbl", col("node"))
      .localCheckpoint(false)
    for (_ <- 1 to rounds) {
      val votes = sym
        .join(labels.withColumnRenamed("node", "n"), "n")
        .groupBy(col("v"), col("lbl")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("v").orderBy(desc("c"), asc("lbl"))
      labels = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("v").as("node"), col("lbl"))
        .localCheckpoint(false)
    }
    labels
  }

  /** Weighted PageRank over a (src, dst, weight) edge frame: returns
    * (node, pr) after `iters` power iterations, pr rounded to 12 dp per
    * iteration (the cross-engine ulp pin). `nodes` (single-column) fixes
    * the vertex set — pass it when isolated vertices matter (they
    * receive teleport + dangling mass); defaults to the edge endpoints.
    * Dangling mass redistributes uniformly (total rank stays 1); inbound
    * sums ride DECIMAL(38,18) so partial-agg order can't perturb ulps.
    * Iterations run on the aggregated edge table only — the fact-scale
    * input is collapsed once. (g01's engine, as a verb.)
    */
  def pagerank(edges: DataFrame, src: Column, dst: Column, weight: Column,
               nodes: DataFrame = null, iters: Int = 3,
               damping: Double = 0.85): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(iters >= 1, s"iters >= 1, got $iters")
    // decimal-exact teleport constant: 1 - 0.85 in binary is NOT the
    // double nearest 0.15, and the 12-dp round would drift cross-engine
    val tele = (BigDecimal(1) - BigDecimal(damping.toString)).toDouble
    val eAgg = edges.groupBy(src.cast("long").as("src"),
        dst.cast("long").as("dst"))
      .agg(sum(weight).as("w"))
    val outw = eAgg.groupBy("src").agg(sum("w").as("wout"))
    val ef = eAgg.join(outw, "src")
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("wout").cast("double")).as("frac"))
      .pipe(persistTracked)
    val nd = (if (nodes == null)
        eAgg.select(col("src").as("node"))
          .unionAll(eAgg.select(col("dst").as("node"))).distinct()
      else nodes.toDF("node").select(col("node").cast("long").as("node")))
      .pipe(persistTracked)
    val nV = nd.count().toDouble
    val dang = nd.join(outw.withColumnRenamed("src", "node"),
      Seq("node"), "left_anti")
    def step(r: DataFrame): DataFrame = {
      // no broadcast hint on the rank vector: AQE broadcasts it while
      // |V| is small and falls back to a hash join on a billion-node
      // graph — identical arithmetic either way
      val contrib = ef
        .join(r.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("pr") * col("frac")).as("c"))
      val sums = contrib.groupBy("node")
        .agg(sum(col("c").cast(DecimalType(38, 18))).cast("double").as("s"))
      val dmass = r.join(dang, "node")
        .agg(coalesce(sum(col("pr").cast(DecimalType(38, 12))),
          lit(0).cast(DecimalType(38, 12))).cast("double").as("dm"))
      nd.join(sums, Seq("node"), "left").crossJoin(broadcast(dmass))
        .select(col("node"),
          round(lit(tele) / lit(nV)
            + lit(damping)
              * (coalesce(col("s"), lit(0.0)) + col("dm") / lit(nV)),
            12).as("pr"))
    }
    (1 to iters).foldLeft(
      nd.withColumn("pr", lit(1.0) / lit(nV)))((r, _) => step(r))
  }

  /** Source-quota cap (the "no source dominates" anti-capture guard a
    * corpus builder applies before mixture tuning): annotates every row
    * with its deterministic within-source md5 rank, the corpus-wide
    * quota (capPct% of the total row count, integer floor) and a `kept`
    * flag — over-quota sources keep their quota's worth chosen by the
    * engine-shared md5 uniform (same rows on any cluster/partitioning/
    * engine), under-quota sources keep everything, and freed budget is
    * NOT redistributed (a quota is a ceiling, not a target). One
    * combinable count + one broadcast scalar + one source-partitioned
    * rank window: linear at any corpus size. Callers filter on `kept`
    * (the TransformSpec `quota` step does) or aggregate the annotations
    * into a report (p16).
    */
  def quotaSample(df: DataFrame, id: Column, source: Column,
                  capPct: Int = 15): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(capPct > 0 && capPct <= 100, s"capPct in (0,100], got $capPct")
    val helperCols =
      Seq("__src", "__u", "__quota_rank", "__quota", "__n_total", "kept")
    val clashes = df.columns.filter(helperCols.contains)
    require(clashes.isEmpty,
      s"quotaSample reserves column name(s) ${clashes.mkString(", ")}; " +
        "rename them on the input before calling")
    val total = df.agg(count(lit(1)).as("__n_total"))
    df.withColumn("__src", source)
      .withColumn("__u", md5(id.cast("string")))
      .withColumn("__quota_rank", row_number().over(
        Window.partitionBy("__src").orderBy(col("__u"), id)).cast("long"))
      .drop("__u")
      .crossJoin(broadcast(total))
      .withColumn("__quota", expr(s"__n_total * $capPct div 100"))
      .withColumn("kept", col("__quota_rank") <= col("__quota"))
  }

  /** Materialized GRAPH artifacts — the [[dedupArtifacts]] convention
    * applied to the graph-analytics family. Every analytic over a
    * co-occurrence graph starts from the SAME fact-scale stage: project
    * per-basket item sets into pair counts (two shuffles — a map-side-
    * combinable collect_set on the basket key with the pair expansion
    * done IN-ROW over the sorted set, then the pair-key count; never a
    * self-join). Per-query that plan is right; per RUN, re-paying the
    * projection for each of ten analytics is the anti-pattern this verb
    * retires: a production run over a 100 TB fact table projects the
    * graph ONCE and every analytic iterates over the metadata-sized
    * edge table.
    *
    * Writes three SnapshotTables under `path`:
    *   - `pairs`   — (a, b, w): counts for EVERY co-occurring pair
    *     (a < b by construction), unthresholded so weight-ranked
    *     consumers (g02's top-25) read the same table;
    *   - `cc_labels` — (node, cluster_id): connected components over
    *     the `w >= minWeight` signal edges (the iterative fixpoint paid
    *     once; routed by `graft.graph.cc` exactly like the inline path,
    *     and both algorithms emit the canonical min-label so either
    *     route serves any session);
    *   - `baskets` — (bk): the distinct basket keys already projected —
    *     the [[updateGraphArtifacts]] ingest contract's membership set
    *     (pair counts are per-basket, so additivity holds only for
    *     WHOLE new baskets; the update path enforces disjointness
    *     against this table).
    *
    * Consumers route through [[GraphArtifactStore]]; the correctness
    * gate always runs the inline builds and GraphArtifactsSpec pins the
    * two routes equal. Returns a per-artifact row-count summary.
    */
  def graphArtifacts(df: DataFrame, basket: Column, item: Column,
                     path: String, minWeight: Long = 2L): DataFrame = {
    import graft.sources.SnapshotTable
    val s = df.sparkSession
    require(!SnapshotTable.exists(s, s"$path/pairs"),
      s"graph artifacts already exist at $path — write to a fresh path " +
        "or ingest new baskets with updateGraphArtifacts")
    val pairs = basketPairCounts(df, basket, item).pipe(persistTracked)
    SnapshotTable.create(pairs, s"$path/pairs")
    SnapshotTable.create(df.select(basket.as("bk")).distinct(),
      s"$path/baskets")
    val edges = pairs.filter(col("w") >= minWeight).select("a", "b")
    val labels = connectedComponents(edges, col("a"), col("b"))
    SnapshotTable.create(labels, s"$path/cc_labels")
    graphArtifactSummary(s, path)
  }

  /** The shared fact-scale projection: per-basket sorted item sets,
    * in-row pair expansion, pair-key count — (a, b, w) with a < b by
    * construction. Exactly two shuffles, never a self-join.
    */
  private[graft] def basketPairCounts(df: DataFrame, basket: Column,
                                      item: Column): DataFrame =
    df.groupBy(basket.as("__bk"))
      .agg(sort_array(collect_set(item)).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
             transform(slice(ps, i + 2, size(ps)),
               y -> struct(x AS a, y AS b))))""")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("w"))

  private def graphArtifactSummary(s: org.apache.spark.sql.SparkSession,
                                   path: String): DataFrame = {
    import graft.sources.SnapshotTable
    // metadata-only counts — see dedupArtifacts' summary note
    val rows = (n: String) => SnapshotTable.countRows(s, s"$path/$n")
    import s.implicits._
    Seq(("pairs", rows("pairs")), ("cc_labels", rows("cc_labels")),
        ("baskets", rows("baskets")))
      .toDF("artifact", "n_rows")
  }

  /** Incremental graph-artifact update — the ingest loop for the graph
    * family ([[updateDedupArtifacts]]'s analog): a projection run built
    * the artifacts once; every subsequent batch of NEW baskets updates
    * them without re-projecting the existing fact table.
    *
    * The additivity argument IS the contract: a pair count is
    * per-basket, so counts from disjoint basket sets simply add —
    * but a basket split across build and update would under-count its
    * pairs. The verb therefore refuses any batch whose basket keys
    * intersect the stored `baskets` membership set (whole-basket,
    * new-baskets-only ingest).
    *
    * Work per batch: project the NEW baskets only (the one fact-scale
    * stage, sized to the batch); merge into `pairs` by key-summing the
    * changed keys (copy-on-write upsert — untouched pairs don't
    * rewrite); rerun connected components over the merged
    * metadata-sized pair table and upsert `cc_labels` by node (a new
    * basket can legally bridge two old clusters, lowering old labels —
    * same reasoning as the dedup family's label replacement).
    *
    * Spec-pinned: build(A) + update(B) == build(A ∪ B) table-for-table.
    */
  def updateGraphArtifacts(df: DataFrame, basket: Column, item: Column,
                           path: String, minWeight: Long = 2L): DataFrame = {
    import graft.sources.SnapshotTable
    val s = df.sparkSession
    require(SnapshotTable.exists(s, s"$path/baskets"),
      s"no graph artifacts at $path — build with graphArtifacts first")
    val newBaskets = df.select(basket.as("bk")).distinct()
      .pipe(persistTracked)
    val overlap = newBaskets
      .join(SnapshotTable.read(s, s"$path/baskets"), Seq("bk"), "left_semi")
      .limit(1).count()
    require(overlap == 0,
      "updateGraphArtifacts: batch contains already-projected basket " +
        "keys — pair counts are per-basket, so only WHOLE new baskets " +
        "add exactly (the whole-basket ingest contract)")
    val newPairs = basketPairCounts(df, basket, item)
    val changed = newPairs.as("n")
      .join(SnapshotTable.read(s, s"$path/pairs").as("o"),
        Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        (col("n.w") + coalesce(col("o.w"), lit(0L))).as("w"))
    SnapshotTable.upsert(s, s"$path/pairs", changed, Seq("a", "b"))
    SnapshotTable.append(newBaskets, s"$path/baskets")
    val edges = SnapshotTable.read(s, s"$path/pairs")
      .filter(col("w") >= minWeight).select("a", "b")
    val labels = connectedComponents(edges, col("a"), col("b"))
    SnapshotTable.upsert(s, s"$path/cc_labels", labels, Seq("node"))
    // the directed trade-lane artifact (a GraphArtifactStore.buildFor
    // projection of the FULL fact snapshot) cannot be refreshed from a
    // basket batch — a stale lane table must not outlive the update, so
    // it is dropped here; directed consumers fall back to the inline
    // star join until the next full build backfills it
    val tradePath = new org.apache.hadoop.fs.Path(s"$path/trade")
    val hfs = tradePath.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (hfs.exists(tradePath)) hfs.delete(tradePath, true)
    graphArtifactSummary(s, path)
  }

  /** All-pairs weighted shortest paths, hop-bounded: for every source
    * in `nodes` and every reachable destination, the minimum total
    * weight over paths of at most `rounds` edges, with the hop count of
    * that cheapest path (ties to fewer hops). The family's missing
    * routing primitive — g04 says WHICH nodes connect, g13 how FAR by
    * hops; this says how CHEAP, under an integer cost.
    *
    * Exactness across engines is the whole design: `(cost, hops)` is
    * minimized LEXICOGRAPHICALLY by packing both into one BIGINT —
    * `p = cost * 8 + hops` — which turns each Bellman-Ford relaxation
    * into pure integer arithmetic: relaxing an edge is
    * `p + 8*w + 1`, and `min(p)` is an exact, order-independent,
    * combinable aggregate (no floating point anywhere). Requires
    * integer weights (callers quantize — the g16 query uses micro-days
    * via exact integer division) and `rounds < 8` so hops fit the 3
    * packed bits; wider hop budgets would pack wider.
    *
    * Scale shape: the relaxation never touches facts — it joins the
    * frontier against the aggregated EDGE table (g01's decomposition),
    * so each round is one |dist|⋈|E| equijoin + one combinable min.
    * `rounds` unrolls lazily into a single job. At a 100 TB fact scale
    * the edge projection is the only fact-scale stage, exactly as
    * pagerank/labelPropagation.
    */
  def shortestPaths(edges: DataFrame, src: Column, dst: Column,
                    weight: Column, nodes: DataFrame = null,
                    rounds: Int = 4): DataFrame = {
    require(rounds >= 1 && rounds <= 7,
      s"rounds in [1,7] (hops ride 3 packed bits), got $rounds")
    val e = edges.select(src.cast("long").as("es"),
        dst.cast("long").as("ed"), weight.cast("long").as("w"))
      .pipe(persistTracked)
    val sources = Option(nodes)
      .map(n => n.select(col(n.columns.head).cast("long").as("s")))
      .getOrElse(e.select(col("es").as("s"))
        .unionAll(e.select(col("ed").as("s"))).distinct())
    var dist = sources
      .select(col("s"), col("s").as("t"), lit(0L).as("p"))
    for (_ <- 1 to rounds) {
      val relaxed = dist.join(e, col("t") === col("es"))
        .select(col("s"), col("ed").as("t"),
          (col("p") + lit(8L) * col("w") + lit(1L)).as("p"))
      dist = dist.unionByName(relaxed)
        .groupBy("s", "t").agg(min("p").as("p"))
    }
    dist.select(col("s").as("src"), col("t").as("dst"),
      expr("p div 8").as("cost"), expr("p % 8").as("hops"))
  }
}

/** `import graft.api.syntax._` for method-style calls on DataFrames. */
object syntax {
  implicit class GraftDataFrameOps(private val df: DataFrame) extends AnyVal {
    def exactDedup(key: Column, id: Column): DataFrame =
      GraftOps.exactDedup(df, key, id)
    def minhashCandidates(id: Column, text: Column): DataFrame =
      GraftOps.minhashCandidates(df, id, text)
    def jaccardJoin(id: Column, text: Column, threshold: Double): DataFrame =
      GraftOps.jaccardJoin(df, id, text, threshold)
    def jaccardJoinBanded(id: Column, text: Column, threshold: Double): DataFrame =
      GraftOps.jaccardJoinBanded(df, id, text, threshold)
    def nearDupPairs(id: Column, text: Column, threshold: Double,
                     strategy: String = "session"): DataFrame =
      GraftOps.nearDupPairs(df, id, text, threshold, strategy = strategy)
    def simhashCandidates(id: Column, text: Column): DataFrame =
      GraftOps.simhashCandidates(df, id, text)
    def knn(queries: DataFrame, k: Int, candId: Column, candVec: Column,
            qId: Column, qVec: Column): DataFrame =
      GraftOps.knn(df, queries, k, candId, candVec, qId, qVec)
    def kmeans(id: Column, vec: Column, k: Int, iters: Int = 2): DataFrame =
      GraftOps.kmeans(df, id, vec, k, iters)
    def semanticDedup(id: Column, vec: Column, cluster: Column,
                      threshold: Double): DataFrame =
      GraftOps.semanticDedup(df, id, vec, cluster, threshold)
    def deterministicSplit(key: Column, weights: Seq[Double]): DataFrame =
      GraftOps.deterministicSplit(df, key, weights)
    def latestPerKey(key: Column, order: Column*): DataFrame =
      GraftOps.latestPerKey(df, key, order)
    def sessionize(key: Column, ts: Column, gap: String = "30 minutes",
                   tiebreak: Seq[Column] = Nil): DataFrame =
      GraftOps.sessionize(df, key, ts, gap, tiebreak)
    def asofJoin(right: DataFrame, leftKey: String, rightKey: String,
                 leftTime: String, rightTime: String): DataFrame =
      graft.plans.AsofJoin.asofJoin(df, right, leftKey, rightKey, leftTime, rightTime)
    def expectAll(rules: Seq[Expectations.Rule]): DataFrame =
      Expectations.evaluate(df, rules)
    def chunk(text: Column, chunkSize: Int = 512, stride: Int = 384): DataFrame =
      GraftOps.chunk(df, text, chunkSize, stride)
    def bm25(id: Column, text: Column, terms: Seq[String]): DataFrame =
      GraftOps.bm25(df, id, text, terms)
    def featureScale(group: Column, value: Column): DataFrame =
      GraftOps.featureScale(df, group, value)
    def mergeIntervals(key: Column, start: Column, end: Column): DataFrame =
      GraftOps.mergeIntervals(df, key, start, end)
    def oneHot(category: Column, vocab: Seq[String]): DataFrame =
      GraftOps.oneHot(df, category, vocab)
    def targetEncode(category: Column, target: Column): DataFrame =
      GraftOps.targetEncode(df, category, target)
    def quantileBucket(value: Column, probs: Seq[Double]): DataFrame =
      GraftOps.quantileBucket(df, value, probs)
    def idGaps(key: Column): DataFrame =
      GraftOps.idGaps(df, key)
    def novelty(id: Column, text: Column, n: Int = 4): DataFrame =
      GraftOps.novelty(df, id, text, n)
    def profile(cols: Seq[String]): DataFrame =
      GraftOps.profile(df, cols)
    def corrMatrix(cols: Seq[String]): DataFrame =
      GraftOps.corrMatrix(df, cols)
    def conform(targetDdl: String): DataFrame =
      GraftOps.conform(df, targetDdl)
    def topKPerKey(key: String, score: String, tie: String, k: Int): DataFrame =
      GraftOps.topKPerKey(df, key, score, tie, k)
    def globalRank(order: Column*): DataFrame =
      GraftOps.globalRank(df, order: _*)
    def globalTopK(score: String, tie: String, k: Int): DataFrame =
      GraftOps.globalTopK(df, score, tie, k)
    def skyline2d(maxCol: String, minCol: String): DataFrame =
      GraftOps.skyline2d(df, maxCol, minCol)
    def containmentJoin(id: Column, text: Column, threshold: Double): DataFrame =
      GraftOps.containmentJoin(df, id, text, threshold)
    def gopherFilter(text: Column): DataFrame =
      GraftOps.gopherFilter(df, text)
    def dedupManifest(id: Column, text: Column, threshold: Double = 0.5,
                      strategy: String = "session"): DataFrame =
      GraftOps.dedupManifest(df, id, text, threshold, strategy)
    def spanDedup(id: Column, text: Column, spanWords: Int = 10): DataFrame =
      GraftOps.spanDedup(df, id, text, spanWords)
    def blockedMatch(id: Column, name: Column, block: Column,
                     maxDistance: Int = 1): DataFrame =
      GraftOps.blockedMatch(df, id, name, block, maxDistance)
    def skewAudit(key: Column, label: String): DataFrame =
      GraftOps.skewAudit(df, key, label)
    def ksTest(group: Column, value: Column, a: Any, b: Any): DataFrame =
      GraftOps.ksTest(df, group, value, a, b)
    def growthAccounting(entity: Column, ts: Column): DataFrame =
      GraftOps.growthAccounting(df, entity, ts)
    def bestMatch(id: Column, name: Column, block: Column): DataFrame =
      GraftOps.bestMatch(df, id, name, block)
    def fdAudit(det: Column, dep: Column, label: String): DataFrame =
      GraftOps.fdAudit(df, det, dep, label)
    def conversionHazard(entity: Column, ts: Column, isConversion: Column,
                         maxDays: Int = 14): DataFrame =
      GraftOps.conversionHazard(df, entity, ts, isConversion, maxDays)
    def shardInterleave(id: Column, group: Column, nShards: Int = 8): DataFrame =
      GraftOps.shardInterleave(df, id, group, nShards)
    def kaplanMeier(entity: Column, ts: Column, isEvent: Column): DataFrame =
      GraftOps.kaplanMeier(df, entity, ts, isEvent)
    def rollingTrend(group: Column, day: Column, cents: Column,
                     windowDays: Int = 28): DataFrame =
      GraftOps.rollingTrend(df, group, day, cents, windowDays)
    def linkPredict(a: Column, b: Column, topK: Int = 15): DataFrame =
      GraftOps.linkPredict(df, a, b, topK)
    def substringContainment(id: Column, text: Column): DataFrame =
      GraftOps.substringContainment(df, id, text)
    def quotaSample(id: Column, source: Column, capPct: Int = 15): DataFrame =
      GraftOps.quotaSample(df, id, source, capPct)
    def triangleCensus(a: Column, b: Column): DataFrame =
      GraftOps.triangleCensus(df, a, b)
    def connectedComponents(a: Column, b: Column): DataFrame =
      GraftOps.connectedComponents(df, a, b)
    def pagerank(src: Column, dst: Column, weight: Column,
                 iters: Int = 3): DataFrame =
      GraftOps.pagerank(df, src, dst, weight, iters = iters)
    def labelPropagation(a: Column, b: Column, rounds: Int = 4): DataFrame =
      GraftOps.labelPropagation(df, a, b, rounds)
  }
}
