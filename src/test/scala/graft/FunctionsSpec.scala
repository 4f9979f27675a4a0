package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class FunctionsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("custom expressions callable from spark.sql after registration") {
    functions.Register.all(spark)
    Tables.documents(spark, sf).createOrReplaceTempView("docs_sql")
    val rows = spark.sql(
      """SELECT doc_id, simhash64(text) AS sh,
           size(minhash_signature(text)) AS sig_len,
           size(minhash_signature(text, 32, 2)) AS sig_len32
         FROM docs_sql ORDER BY doc_id LIMIT 5""").collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getInt(2) == 64))
    assert(rows.forall(_.getInt(3) == 32))
    // SQL result must equal the Column-API result
    val apiSh = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.functions.simhash64(col("text")).as("sh"))
      .orderBy("doc_id").limit(5).collect().map(_.getLong(1))
    assert(rows.map(_.getLong(1)).sameElements(apiSh))
    // the set-MinHash and byte-gram kernels, with and without their
    // integer-literal arguments, equal the Column API
    val kernels = spark.sql(
      """SELECT byte_gram_hashes(encode(text, 'UTF-8')) AS g16,
           byte_gram_hashes(encode(text, 'UTF-8'), 4) AS g4,
           minhash_set_signature(byte_gram_hashes(encode(text, 'UTF-8'))) AS s64,
           minhash_set_signature(byte_gram_hashes(encode(text, 'UTF-8'), 4), 8) AS s8
         FROM docs_sql ORDER BY doc_id LIMIT 5""").collect()
    val bs = encode(col("text"), "UTF-8")
    val apiKernels = Tables.documents(spark, sf).orderBy("doc_id").limit(5)
      .select(functions.byte_gram_hashes(bs, 16), functions.byte_gram_hashes(bs, 4),
        functions.minhash_set_signature(functions.byte_gram_hashes(bs, 16), 64),
        functions.minhash_set_signature(functions.byte_gram_hashes(bs, 4), 8))
      .collect()
    assert(kernels.toSeq == apiKernels.toSeq)
    assert(kernels.forall(r => r.getSeq[Long](2).size == 64 && r.getSeq[Long](3).size == 8))
    // wrong input types fail analysis instead of a cast error at run time
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT byte_gram_hashes(text) FROM docs_sql").collect())
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT minhash_set_signature(array(1, 2)) FROM docs_sql").collect())
  }

  // The higher-order-function SQL the two kernels replace, verbatim.
  private def hofGrams(k: Int) =
    s"""array_distinct(transform(sequence(1, greatest(octet_length(bs) - ${k - 1}, 1)),
         i -> xxhash64(substring(bs, i, $k))))"""
  private def hofSignature(numHashes: Int) =
    s"""transform(sequence(0, ${numHashes - 1}),
         h -> array_min(transform(shs, s -> xxhash64(h, s))))"""

  /** Run `body` once with whole-stage codegen and once fully interpreted
    * (no whole-stage codegen, no generated projections). */
  private def codegenAndInterpreted(body: String => Unit): Unit = {
    body("codegen")
    val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = interpreted.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      interpreted.foreach { case (k, v) => spark.conf.set(k, v) }
      body("interpreted")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("byte_gram_hashes and minhash_set_signature equal their higher-order-function forms bit for bit") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kernels").toString
    // every document plus the edge payloads, read back from parquet so
    // the projections run in a scan stage (a local relation would be
    // folded by the optimizer, interpreted, before codegen sees it)
    val edgePayloads: Seq[Array[Byte]] = null +: Array.emptyByteArray +:
      Seq("a", "0123456789abcde", "0123456789abcdef", "0123456789abcdefg",
        "naïve café — 日本語のテキスト ✓ über", "a" * 40).map(_.getBytes("UTF-8"))
    Tables.documents(spark, sf)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("bs"))
      .unionByName(edgePayloads.zipWithIndex
        .map { case (b, i) => (-1L - i, b) }.toDF("doc_id", "bs"))
      .write.parquet(s"$dir/payloads")
    val payloads = spark.read.parquet(s"$dir/payloads")
    val nPayloads = payloads.count()
    // sets: every document's 16-gram set, plus empty, null, a set
    // holding a null element and a set of only a null
    payloads.where(col("doc_id") >= 0)
      .select(col("doc_id"), expr(hofGrams(16)).as("shs"))
      .unionByName(spark.sql(
        """SELECT -1L AS doc_id, CAST(array() AS array<bigint>) AS shs
           UNION ALL SELECT -2L, CAST(NULL AS array<bigint>)
           UNION ALL SELECT -3L, array(5L, CAST(NULL AS BIGINT), -7L)
           UNION ALL SELECT -4L, array(CAST(NULL AS BIGINT))"""))
      .write.parquet(s"$dir/sets")
    val sets = spark.read.parquet(s"$dir/sets")
    val nSets = sets.count()

    def assertSame(mode: String, what: String, df: org.apache.spark.sql.DataFrame,
                   n: Long): Unit = {
      assert(df.schema(1).dataType == df.schema(2).dataType,
        s"$mode $what: type ${df.schema(1).dataType} vs ${df.schema(2).dataType}")
      val rows = df.collect()
      assert(rows.length == n)
      rows.foreach(r => assert(r.get(1) == r.get(2),
        s"$mode $what, doc ${r.getLong(0)}: kernel ${r.get(1)} vs sql ${r.get(2)}"))
    }
    codegenAndInterpreted { mode =>
      for (k <- Seq(1, 4, 16))
        assertSame(mode, s"byte_gram_hashes k=$k", payloads.select(col("doc_id"),
          functions.byte_gram_hashes(col("bs"), k), expr(hofGrams(k))), nPayloads)
      for (h <- Seq(1, 64))
        assertSame(mode, s"minhash_set_signature $h", sets.select(col("doc_id"),
          functions.minhash_set_signature(col("shs"), h), expr(hofSignature(h))), nSets)
    }
    // the edge rules, spelled out
    val byId = payloads.select(col("doc_id"), functions.byte_gram_hashes(col("bs"), 16))
      .where(col("doc_id") < 0).collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(byId(-1L) == Seq(42L), "a null payload hashes to the xxhash64 seed")
    assert(byId(-2L).size == 1 && byId(-3L).size == 1 && byId(-4L).size == 1
      && byId(-5L).size == 1, "payloads up to k bytes are one gram")
    assert(byId(-6L).size == 2 && byId(-8L) == Seq(byId(-8L).head),
      "17 bytes is two grams; repeated windows keep one")
    val sigs = sets.select(col("doc_id"), functions.minhash_set_signature(col("shs"), 8))
      .where(col("doc_id") < 0).collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(sigs(-1L) == Seq.fill(8)(null) && sigs(-2L) == Seq.fill(8)(null),
      "an empty or null set has no minimum: every slot is null")
  }

  test("m09's lsh plan runs no higher-order function over the shingle set") {
    import org.apache.spark.sql.catalyst.expressions.{ArraySort, ArrayTransform, Expression}
    import org.apache.spark.sql.catalyst.plans.QueryPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // every expression of the plan, including those of the cached
    // relations it reads (an InMemoryRelation keeps its adaptive
    // physical plan as an inner child)
    def exprs(node: QueryPlan[_]): Seq[Expression] = {
      val inner = node match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => node.children ++ node.innerChildren
      }
      node.expressions.flatMap(_.collect { case e => e }) ++
        inner.collect { case q: QueryPlan[_] => q }.flatMap(exprs)
    }
    spark.conf.set("graft.neardup.strategy", "lsh")
    try {
      val plan = operators.Multimodal3.m09_asset_neardup(spark, sf)
        .queryExecution.optimizedPlan
      val all = exprs(plan)
      assert(!all.exists(_.isInstanceOf[ArraySort]), "array_sort in m09's plan")
      // the band-key transform runs over a constant sequence; no
      // transform may run over row data (the grams or the shingle set)
      val overRows = all.collect {
        case t: ArrayTransform if t.argument.references.nonEmpty => t.sql
      }
      assert(overRows.isEmpty, s"per-element lambdas over row data: $overRows")
      assert(all.exists(_.isInstanceOf[functions.ByteGramHashes]))
      assert(all.exists(_.isInstanceOf[functions.MinHashSetSignature]))
    } finally {
      spark.conf.unset("graft.neardup.strategy")
      api.GraftOps.releaseCaches()
    }
  }

  test("cosine_sim in SQL matches Column API") {
    functions.Register.all(spark)
    Tables.embeddings(spark, sf).createOrReplaceTempView("emb_sql")
    val sql = spark.sql(
      """SELECT a.vec_id, cosine_sim(a.embedding, b.embedding) AS c
         FROM emb_sql a JOIN emb_sql b ON b.vec_id = a.vec_id + 1
         WHERE a.vec_id < 10 ORDER BY a.vec_id""").collect().map(_.getDouble(1))
    assert(sql.length == 10 && sql.forall(c => c >= -1.0 && c <= 1.0))
  }

  test("TopKItems aggregator: exact top words when capacity >= vocabulary") {
    import spark.implicits._
    val words = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "").as[String]
    val got = words.select(new functions.TopKItems(10, 500).toColumn).collect().head
    val exact = words.groupByKey(identity).count().collect()
      .sortBy { case (w, c) => (-c, w) }.take(10).toMap
    assert(got == exact, s"sketch $got vs exact $exact")
  }

  test("kmv sketch: partition-invariant (1 vs 8 partitions) and sane estimate") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    def run(parts: Int) = Tables.lineitem(spark, sf).repartition(parts)
      .agg(graft.functions.kmv_distinct(col("l_orderkey"), 64).as("kmv"))
      .select("kmv.kth_min", "kmv.est_distinct").collect().head
    val a = run(1); val b = run(8)
    assert(a == b, s"partitioning changed sketch: $a vs $b")
    val exact = Tables.lineitem(spark, sf)
      .agg(countDistinct("l_orderkey")).collect().head.getLong(0)
    val est = a.getDouble(1)
    assert(math.abs(est - exact) / exact < 0.5, s"est $est vs exact $exact")
  }

  test("count-min sketch: overestimate bound under forced collisions; exact at width 1024; partition-invariant") {
    import graft.functions.{countmin_agg, cms_estimate}
    val ev = Tables.events(spark, sf)
    val exact = ev.groupBy("event_type").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def estimates(width: Int, parts: Int): Map[String, Long] = {
      val sk = ev.repartition(parts)
        .agg(countmin_agg(col("event_type"), 4, width).as("cms"))
      ev.select("event_type").distinct()
        .join(broadcast(sk))
        .select(col("event_type"), cms_estimate(col("cms"), col("event_type"), 4, width).as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    // width 4 << 5 keys: collisions are certain, estimates must only ever overshoot
    val tight = estimates(4, 8)
    exact.foreach { case (k, n) => assert(tight(k) >= n, s"CMS undershot $k: ${tight(k)} < $n") }
    assert(tight.values.sum > exact.values.sum, "width 4 over 5 keys must collide somewhere")
    // width 1024: every key has a collision-free row -> exact, and merge-order invariant
    assert(estimates(1024, 1) == exact)
    assert(estimates(1024, 8) == exact)
  }

  test("quantile sketch: exact under capacity, partition-invariant, bounded error past it") {
    import org.apache.spark.sql.functions.col
    // exact + partition-invariant while n <= capacity
    def run(parts: Int, cap: Int) = Tables.lineitem(spark, sf).repartition(parts)
      .agg(graft.functions.quantile_sketch(
        col("l_quantity").cast("double"), Seq(0.25, 0.5, 0.75), cap).as("qs"))
      .select("qs").collect().head.getSeq[Double](0)
    val a = run(1, 1 << 17); val b = run(8, 1 << 17)
    assert(a == b, s"partitioning changed sketch: $a vs $b")
    val sorted = Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("double")).collect().map(_.getDouble(0)).sorted
    val n = sorted.length
    def disc(q: Double) = sorted(math.ceil(q * n).toInt.max(1) - 1)
    assert(a == Seq(disc(0.25), disc(0.5), disc(0.75)), s"not exact: $a")
    // compacting regime: small capacity must still land within rank error
    val c = run(8, 64)
    c.zip(Seq(0.25, 0.5, 0.75)).foreach { case (v, q) =>
      val rank = sorted.count(_ <= v).toDouble / n
      assert(math.abs(rank - q) < 0.15, s"q=$q got value $v at rank $rank")
    }
  }

  test("jaro_winkler: textbook values, bounds, symmetry, SQL registration") {
    import graft.functions.StringSim.jaroWinkler
    // canonical record-linkage examples (Winkler 1990)
    assert(math.abs(jaroWinkler("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-12)
    assert(math.abs(jaroWinkler("DWAYNE", "DUANE") - 0.8400000000000001) < 1e-12)
    assert(math.abs(jaroWinkler("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-12)
    assert(jaroWinkler("abc", "abc") == 1.0 && jaroWinkler("abc", "xyz") == 0.0)
    assert(jaroWinkler("", "") == 0.0, "empty-vs-empty is 0 (DuckDB parity)")
    // boost threshold: no prefix bonus at jaro <= 0.7
    assert(jaroWinkler("abcdzzzzzz", "abcdyyyyyy") == 0.6)
    // symmetry through the codegen'd expression + SQL registration
    functions.Register.all(spark)
    val r = spark.sql(
      """SELECT jaro_winkler(c_name, reverse(c_name)) AS ab,
                jaro_winkler(reverse(c_name), c_name) AS ba
         FROM parquet.`/root/testdata/sf0.001/customer.parquet` LIMIT 50""")
      .collect()
    assert(r.forall(x => x.getDouble(0) == x.getDouble(1)))
    assert(r.forall(x => x.getDouble(0) >= 0.0 && x.getDouble(0) <= 1.0))
  }

  test("zorder2: fuzz vs bit-loop reference, dimension masking, SQL registration") {
    import graft.functions.Layout
    // reference: the literal definition, bit by bit
    def ref(x: Int, y: Int): Long = {
      var z = 0L
      for (i <- 0 until 16) {
        z |= ((x >> i) & 1).toLong << (2 * i)
        z |= ((y >> i) & 1).toLong << (2 * i + 1)
      }
      z
    }
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 20000) {
      val x = rnd.nextInt() & 0xffff
      val y = rnd.nextInt() & 0xffff
      assert(Layout.morton2(x, y) == ref(x, y))
    }
    // corners + the interleave identities
    assert(Layout.morton2(0, 0) == 0L)
    assert(Layout.morton2(0xffff, 0xffff) == 0xffffffffL)
    assert(Layout.morton2(0xffff, 0) == 0x55555555L)
    assert(Layout.morton2(0, 0xffff) == 0xaaaaaaaaL)
    // inputs past 16 bits are masked, not wrapped into the other dim
    assert(Layout.morton2(0x1ffff, 3) == Layout.morton2(0xffff, 3))
    // monotone in each dim when the other is fixed (what makes z-ranges
    // prunable by per-dimension min/max)
    for (_ <- 0 until 1000) {
      val y = rnd.nextInt() & 0xffff
      val a = rnd.nextInt() & 0xffff
      val b = rnd.nextInt() & 0xffff
      if (a < b) assert(Layout.morton2(a, y) < Layout.morton2(b, y))
      if (a > b) assert(Layout.morton2(a, y) > Layout.morton2(b, y))
    }
    // codegen'd expression through SQL registration
    functions.Register.all(spark)
    val r = spark.sql(
      """SELECT CAST(o_orderkey % 65536 AS INT) AS x,
                CAST(o_custkey % 65536 AS INT) AS y,
                zorder2(CAST(o_orderkey % 65536 AS INT),
                        CAST(o_custkey % 65536 AS INT)) AS z
         FROM parquet.`/root/testdata/sf0.001/orders.parquet` LIMIT 200""")
      .collect()
    assert(r.forall(row => row.getLong(2) == ref(row.getInt(0), row.getInt(1))))
  }

  test("zorderN: arity-2 equals zorder2 bit for bit; N-dim fuzz vs bit-loop reference; null propagates") {
    import graft.functions.Layout
    def refN(cs: Array[Int], bits: Int): Long = {
      var z = 0L
      for (b <- 0 until bits; d <- cs.indices)
        z |= ((cs(d) >> b) & 1).toLong << (b * cs.length + d)
      z
    }
    val rnd = new scala.util.Random(1337)
    // arity-2 at 16 bits IS morton2 — the q87-pinned operating point
    for (_ <- 0 until 5000) {
      val x = rnd.nextInt() & 0xffff
      val y = rnd.nextInt() & 0xffff
      assert(Layout.mortonN(Array(x, y), 16) == Layout.morton2(x, y))
    }
    // N-dim fuzz at the curve's own bit budget, incl. monotonicity in
    // one dim with the others fixed
    for (n <- 3 to 6) {
      val bits = Layout.bitsPerDim(n)
      assert(n * bits <= 63, s"$n dims × $bits bits must fit a long")
      for (_ <- 0 until 2000) {
        val cs = Array.fill(n)(rnd.nextInt() & ((1 << bits) - 1))
        assert(Layout.mortonN(cs, bits) == refN(cs, bits))
      }
      val fixed = Array.fill(n)(rnd.nextInt() & ((1 << bits) - 1))
      for (_ <- 0 until 300) {
        val a = rnd.nextInt() & ((1 << bits) - 1)
        val b = rnd.nextInt() & ((1 << bits) - 1)
        val ca = fixed.clone(); ca(0) = a
        val cb = fixed.clone(); cb(0) = b
        if (a < b) assert(Layout.mortonN(ca, bits) < Layout.mortonN(cb, bits))
      }
    }
    // the Expression: eval parity with the reference + NULL propagation
    import spark.implicits._
    val df = Seq((1, 2, 3), (15, 0, 7)).toDF("a", "b", "c")
      .select(functions.zorder_n(col("a"), col("b"), col("c")).as("z"),
        col("a"), col("b"), col("c"))
    df.collect().foreach { r =>
      assert(r.getLong(0) == refN(
        Array(r.getInt(1), r.getInt(2), r.getInt(3)),
        Layout.bitsPerDim(3)))
    }
    val withNull = Seq((Some(1), Option.empty[Int], Some(3)))
      .toDF("a", "b", "c")
      .select(functions.zorder_n(col("a"), col("b"), col("c")).as("z"))
      .collect()
    assert(withNull.head.isNullAt(0), "a null dimension must yield NULL")
  }

  test("m02 batch decode: deterministic, schema-typed, row-preserving") {
    val out = operators.Multimodal.decodeBatch(spark, sf)
    val n = Tables.documents(spark, sf).count()
    assert(out.count() == n)
    val a = out.orderBy("doc_id").collect()
    val b = operators.Multimodal.decodeBatch(spark, sf).orderBy("doc_id").collect()
    assert(a.sameElements(b), "decode not deterministic")
    assert(a.forall(d => d.byte_len > 0 && d.fake_width < 1024 && d.fake_height < 768))
  }
}
