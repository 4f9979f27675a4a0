package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Hashing

/** Property checks for the approximate (rows-only) dedup/similarity ops:
  * the properties the DuckDB oracle can't express — LSH recall against the
  * exact baselines, signature determinism, estimator accuracy.
  */
class DedupSimilaritySpec extends AnyFunSuite {
  import SparkTestSession._

  test("minhash: identical text -> identical signature; estimate tracks true jaccard") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    val sa = Hashing.minhash(a, 256, 3)
    val sb = Hashing.minhash(b, 256, 3)
    assert(sa.sameElements(Hashing.minhash(a, 256, 3)))
    val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / 256
    val shA = Hashing.shingleHashes(a, 3).toSet
    val shB = Hashing.shingleHashes(b, 3).toSet
    val trueJ = shA.intersect(shB).size.toDouble / shA.union(shB).size
    assert(math.abs(est - trueJ) < 0.15, s"est $est vs true $trueJ")
  }

  test("simhash: small edit -> small hamming distance; unrelated -> large") {
    val base = "spark catalyst optimizer rewrites logical plans into physical plans for execution"
    val near = "spark catalyst optimizer rewrites logical plans into physical plans for running"
    val far = "completely different words about cooking pasta with tomato sauce and fresh basil leaves"
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    val hNear = ham(Hashing.simhash(base, 2), Hashing.simhash(near, 2))
    val hFar = ham(Hashing.simhash(base, 2), Hashing.simhash(far, 2))
    assert(hNear < hFar, s"near=$hNear far=$hFar")
    assert(hNear <= 16)
  }

  test("d02 minhash-lsh recall >= 0.9 vs exact d03 jaccard pairs") {
    val exact = operators.Dedup.d03_ngram_jaccard(spark, sf)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = operators.Dedup.d02_minhash_lsh(spark, sf)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "no exact near-dup pairs in testdata?")
    val recall = exact.count(cand.contains).toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (missed ${exact -- cand})")
  }

  test("d04 simhash candidates cover exact near-dup pairs") {
    val exact = operators.Dedup.d03_ngram_jaccard(spark, sf)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = operators.Dedup.d04_simhash(spark, sf)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(cand.contains).toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall (missed ${exact -- cand})")
  }

  test("s02 lsh knn: full-recall default equals s01; lossy config keeps a recall floor") {
    def topk(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = topk(operators.Similarity.s01_knn_brute(spark, sf))
    // the (24,3) default is the full-recall operating point — this is
    // the property that justifies sharing s01's oracle
    val approx = topk(operators.Similarity.s02_knn_lsh(spark, sf))
    assert(approx == exact, "default config must return the exact top-5")
    // the lossy regime (fewer tables, more planes) still recalls most
    val lossy = topk(operators.Similarity.knnLshAt(spark, sf, 16, 4))
    val recall = exact.count(lossy.contains).toDouble / exact.size
    assert(recall >= 0.5 && recall <= 1.0, s"lossy recall $recall")
  }

  test("graft.neardup.strategy=lsh routes the whole pair family, outputs unchanged here") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val d03Exact = rows(operators.Dedup.d03_ngram_jaccard(spark, sf))
    val d08Exact = rows(operators.Dedup2.d08_dup_clusters(spark, sf))
    spark.conf.set("graft.neardup.strategy", "lsh")
    try {
      // banding recall is 1.0 on the seeded corpus, so the routed family
      // must reproduce the exact results bit-for-bit
      assert(rows(operators.Dedup.d03_ngram_jaccard(spark, sf)) == d03Exact)
      assert(rows(operators.Dedup2.d08_dup_clusters(spark, sf)) == d08Exact)
    } finally {
      spark.conf.unset("graft.neardup.strategy")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("m09 asset near-dup: lsh strategy route equals the exact byte-gram route") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val exact = rows(operators.Multimodal3.m09_asset_neardup(spark, sf))
    assert(exact.nonEmpty, "no seeded asset near-dups in testdata?")
    spark.conf.set("graft.neardup.strategy", "lsh")
    try {
      // byte-gram banding recall is 1.0 on the seeded corpus, so the
      // routed plan must reproduce the exact pairs AND jaccards
      assert(rows(operators.Multimodal3.m09_asset_neardup(spark, sf)) == exact)
    } finally {
      spark.conf.unset("graft.neardup.strategy")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("m09 (both routes) and m18 leave no cache behind after releaseCaches") {
    // no clearCache(): GraftOps.releaseCaches alone must free every
    // intermediate these operators persist
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    // d03's pair table is shared by plan: drop an earlier test's copy so
    // this run persists its own instead of reusing that one
    spark.catalog.clearCache()
    val before = persisted
    operators.Multimodal3.m09_asset_neardup(spark, sf).collect()
    operators.Dedup.d03_ngram_jaccard(spark, sf).collect()
    spark.conf.set("graft.neardup.strategy", "lsh")
    try {
      operators.Multimodal3.m09_asset_neardup(spark, sf).collect()
      operators.Dedup.d03_ngram_jaccard(spark, sf).collect()
    } finally spark.conf.unset("graft.neardup.strategy")
    operators.Multimodal3.m18_chunk_tuning(spark, sf).collect()
    assert((persisted -- before).size >= 6,
      "expected m09 x2, d03 (shingle route x2, lsh route) and m18 to cache")
    api.GraftOps.releaseCaches()
    assert((persisted -- before).isEmpty,
      s"caches left after releaseCaches: ${persisted -- before}")
  }

  test("d06 lsh-verified pairs: jaccard values exact, recall >= 0.9 vs d03") {
    val exact = operators.Dedup.d03_ngram_jaccard(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val verified = operators.Dedup.d06_lsh_verified(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val recall = exact.keys.count(verified.contains).toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
    // candidate verification must compute the same jaccard as the full join
    verified.foreach { case (pair, j) =>
      exact.get(pair).foreach(je => assert(j == je, s"$pair: $j vs $je"))
    }
    // verified set must be a subset of the true >= 0.5 pairs (no false accepts)
    assert(verified.keys.forall(exact.contains))
  }

  test("s04 ivf ann: full-recall default equals s01; lossy nprobe keeps a recall floor") {
    def topk(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = topk(operators.Similarity.s01_knn_brute(spark, sf))
    val ivf = topk(operators.Similarity.s04_ann_ivf(spark, sf))
    assert(ivf == exact, "default config must return the exact top-5")
    val lossy = topk(operators.Similarity.annIvfAt(spark, sf, 3))
    val recall = exact.count(lossy.contains).toDouble / exact.size
    assert(recall >= 0.4 && recall <= 1.0, s"lossy recall $recall")
  }

  test("s05 pq ann recall >= 0.4 vs exact s01 top-5") {
    def topk(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = topk(operators.Similarity.s01_knn_brute(spark, sf))
    val pq = topk(operators.Similarity.s05_pq_ann(spark, sf))
    val recall = exact.count(pq.contains).toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall")
  }

  test("s08 recall harness: floors hold and agree with the spec-side recall math") {
    import org.apache.spark.sql.functions._
    val rows = operators.Similarity2.s08_ann_recall(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(rows.keySet == Set("lsh", "ivf"))
    assert(rows("lsh") >= 0.5 && rows("lsh") <= 1.0)
    assert(rows("ivf") >= 0.4 && rows("ivf") <= 1.0)
    // independent recall computation for one variant
    val exact = operators.Similarity.s01_knn_brute(spark, sf)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val byQ = exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = operators.Similarity.s02_knn_lsh(spark, sf)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = byQ.map { case (q, ex) =>
      approx.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
    }.sum / byQ.size
    assert(math.abs(rows("lsh") - want) < 1e-6, s"harness ${rows("lsh")} vs spec $want")
  }

  test("rolling fingerprint: order-sensitive, whitespace-insensitive-normalized") {
    val a = Hashing.rollingFingerprint(
      org.apache.spark.unsafe.types.UTF8String.fromString("alpha beta gamma"))
    val b = Hashing.rollingFingerprint(
      org.apache.spark.unsafe.types.UTF8String.fromString("gamma beta alpha"))
    val a2 = Hashing.rollingFingerprint(
      org.apache.spark.unsafe.types.UTF8String.fromString("alpha  beta\tgamma"))
    assert(a != b, "must be order-sensitive")
    assert(a == a2, "must ignore whitespace runs")
    // usable from SQL too
    graft.functions.Register.all(spark)
    val n = spark.sql("SELECT rolling_fingerprint('alpha beta gamma') AS f")
      .collect().head.getLong(0)
    assert(n == a)
  }

  test("s10 mmr: lambda=1 degenerates to s01 top-5; diversified set stays in candidates") {
    val pure = operators.Similarity2.mmrSelect(spark, sf, 1.0, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val base = operators.Similarity.s01_knn_brute(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pure == base, "lambda=1 MMR must equal pure relevance ranking")
    val div = operators.Similarity2.s10_mmr_diversify(spark, sf).collect()
    assert(div.length == 25) // 5 queries x 5 picks
    val byQ = div.groupBy(_.getLong(0))
    assert(byQ.values.forall(_.length == 5))
    // every pick comes from that query's top-25 candidate pool
    val pool = operators.Similarity2.mmrSelect(spark, sf, 1.0, 25)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(div.forall(r => pool((r.getLong(0), r.getLong(2)))))
    // first pick is always the top-relevance candidate
    val first = div.filter(_.getLong(1) == 1L)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val top1 = base.collect { case ((q, 1L), v) => q -> v }
    assert(first == top1)
  }

  test("d01 exact dedup: keeper count equals distinct normalized texts") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val distinctNorm = docs.select(
      trim(regexp_replace(lower(col("text")), "\\s+", " "))).distinct().count()
    val groups = operators.Dedup.d01_exact_dedup(spark, sf).count()
    assert(groups == distinctNorm)
  }
}
