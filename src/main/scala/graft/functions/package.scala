package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.Bridge

/** Column-level API for graft's custom Catalyst expressions.
  *
  * Spark's higher-order functions (`transform`, comparator `array_sort`,
  * `filter`, `zip_with`, `aggregate`) are not code-generated: every
  * element runs the lambda through the interpreter, so a lambda over a
  * per-row array costs an interpreted call per element inside an
  * otherwise compiled stage. Per-element work that sits on a hot path
  * belongs here instead, as an expression whose codegen calls a static
  * loop (see [[minhash_set_signature]] and [[byte_gram_hashes]]).
  */
package object functions {
  private def toCol(e: Expression): Column = Bridge.column(e)
  private def toExpr(c: Column): Expression = Bridge.expression(c)

  /** k-function MinHash signature over word shingles (array<long>). */
  def minhash_signature(c: Column, numHashes: Int = 64, shingleSize: Int = 3): Column =
    toCol(MinHashSignature(toExpr(c), numHashes, shingleSize))

  /** MinHash signature over a precomputed array<bigint> hash set:
    * slot h is the minimum of `xxhash64(h, s)` over the elements s. */
  def minhash_set_signature(shs: Column, numHashes: Int = 64): Column =
    toCol(MinHashSetSignature(toExpr(shs), numHashes))

  /** Distinct xxhash64 hashes of the byte k-grams of a binary payload,
    * in first-occurrence order (one gram, the whole payload, when it is
    * shorter than k). */
  def byte_gram_hashes(bs: Column, k: Int = 16): Column =
    toCol(ByteGramHashes(toExpr(bs), k))

  /** 64-bit SimHash over word shingles. */
  def simhash64(c: Column, shingleSize: Int = 2): Column =
    toCol(SimHash64(toExpr(c), shingleSize))

  /** Multi-table random-hyperplane LSH keys for a float-array embedding. */
  def cosine_lsh_keys(c: Column, numTables: Int = 16, planesPerTable: Int = 4): Column =
    toCol(CosineLshKeys(toExpr(c), numTables, planesPerTable))

  /** Cosine similarity of two numeric-array embeddings (double fold;
    * float or double element types, any mix). */
  def cosine_sim(a: Column, b: Column): Column =
    toCol(CosineSim(toExpr(a), toExpr(b)))

  /** Sequential-fold dot product (float or double arrays, any mix). */
  def dot_product(a: Column, b: Column): Column =
    toCol(DotProduct(toExpr(a), toExpr(b)))

  /** Order-sensitive polynomial rolling-hash document fingerprint. */
  def rolling_fingerprint(c: Column): Column =
    toCol(RollingFingerprint(toExpr(c)))

  /** Jaro-Winkler similarity in [0,1] (record-linkage standard;
    * value-exact DuckDB parity, 0.7 boost threshold). */
  def jaro_winkler(a: Column, b: Column): Column =
    toCol(JaroWinkler(toExpr(a), toExpr(b)))

  /** KMV distinct-count sketch aggregate (struct: kth_min, n_heap, est). */
  def kmv_distinct(c: Column, k: Int = 64): Column =
    toCol(KMinValues(toExpr(c), k).toAggregateExpression())

  /** Mergeable quantile sketch aggregate (array of type-1 quantiles;
    * exact while input count <= capacity, bounded-memory past it). */
  def quantile_sketch(c: Column, probs: Seq[Double], capacity: Int = 1 << 17): Column =
    toCol(QuantileSketch(toExpr(c), probs, capacity).toAggregateExpression())

  /** Count-Min frequency sketch build (binary result; map-side mergeable). */
  def countmin_agg(c: Column, depth: Int = 4, width: Int = 1024): Column =
    toCol(CountMinAgg(toExpr(c), depth, width).toAggregateExpression())

  /** Point-frequency estimate against a countmin_agg sketch (>= truth). */
  def cms_estimate(sketch: Column, value: Column, depth: Int = 4, width: Int = 1024): Column =
    toCol(CmsEstimate(toExpr(sketch), toExpr(value), depth, width))

  /** Distributed Bloom filter build (binary result; map-side mergeable). */
  def bloom_agg(c: Column, numBits: Int = 1 << 20, numHashes: Int = 5): Column =
    toCol(BloomFilterAgg(toExpr(c), numBits, numHashes).toAggregateExpression())

  /** Bloom probe: may-contain test against a bloom_agg result. */
  def bloom_might_contain(bloom: Column, value: Column, numHashes: Int = 5): Column =
    toCol(BloomMightContain(toExpr(bloom), toExpr(value), numHashes))

  /** 32-bit Morton (z-order) interleave of two 16-bit int coordinates —
    * the multi-dimensional clustering key for layout-aware writes. */
  def zorder2(x: Column, y: Column): Column =
    toCol(ZOrder2(toExpr(x), toExpr(y)))

  /** N-way Morton interleave ([[ZOrderN]]) — OPTIMIZE ZORDER BY on
    * more than two columns; equals [[zorder2]] bit for bit at n=2. */
  def zorder_n(cols: Column*): Column =
    toCol(ZOrderN(cols.map(toExpr)))
}
