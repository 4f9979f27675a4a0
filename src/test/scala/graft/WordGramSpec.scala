package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.io.Source
import graft.api.GraftOps
import graft.api.GraftOps.GramKey

/** The word k-gram is defined once (`GraftOps.wordGrams` over
  * `GraftOps.gramPositions`). These specs pin the guard rule on
  * degenerate documents across the operators built on it, and keep the
  * window definition from being copied inline again.
  */
class WordGramSpec extends AnyFunSuite {
  import SparkTestSession._

  // sf0.001 plus docs of 0, 1 and 2 words, each twice: an identical
  // twin would pair with its copy if a short doc produced any gram
  private val shortTexts =
    Seq("", "", "zqsolo", "zqsolo", "zqalpha zqbeta", "zqalpha zqbeta")
  private lazy val maxBaseId: Long =
    Tables.documents(spark, sf).agg(max("doc_id")).first().getLong(0)
  private lazy val idOf: Map[Long, String] =
    shortTexts.zipWithIndex.map { case (t, i) => (maxBaseId + 1 + i, t) }.toMap
  private lazy val shortIds: Set[Long] = idOf.keySet
  private lazy val oneWordIds: Set[Long] = shortIds.filterNot(idOf(_).contains(" "))
  private lazy val twoWordIds: Set[Long] = shortIds -- oneWordIds
  private lazy val shortDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_short_docs").toString
    val extra = idOf.toSeq.map { case (id, t) => (id, t, "en", "zq_short", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Tables.documents(spark, sf).unionByName(extra)
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def longs(df: DataFrame, cols: String*): Set[Long] =
    df.select(cols.map(col): _*).collect().flatMap(_.toSeq)
      .map(_.asInstanceOf[Long]).toSet

  test("docs of 0, 1 and 2 words: every word-gram operator finishes and short docs emit no grams") {
    val docs = Tables.documents(spark, shortDir)
    // the emitter itself: max(size - k + 1, 0) grams for every key kind
    val words = docs.filter(col("doc_id") > maxBaseId)
      .select(split(col("text"), " ").as("w"))
    for (kind <- Seq(GramKey.Text, GramKey.XxHash64, GramKey.Md5); k <- 1 to 3) {
      words.select(size(col("w")), size(expr(GraftOps.wordGrams("w", k, kind))))
        .collect().foreach { r =>
          assert(r.getInt(1) == math.max(r.getInt(0) - k + 1, 0), s"$kind k=$k")
        }
    }

    val t07 = operators.TextAnalysis2.t07_repetition(spark, shortDir)
      .filter(col("doc_id") > maxBaseId)
      .select("dup_2gram_frac", "dup_3gram_frac").collect()
    assert(t07.length == shortIds.size)
    assert(t07.forall(r => r.getDouble(0) == 0.0 && r.getDouble(1) == 0.0))

    // bigram sites: the 0- and 1-word docs have no bigram, the 2-word one
    val t11 = operators.TextAnalysis3.t11_bigram_lm(spark, shortDir)
    assert((longs(t11, "doc_id") & oneWordIds).isEmpty)
    assert(longs(t11.filter(col("doc_id") > maxBaseId), "n_bigrams") == Set(1L))
    val t23 = operators.TextAnalysis9.t23_pmi_collocations(spark, shortDir).collect()
    assert(t23.nonEmpty && t23.forall(r => !r.getString(0).startsWith("zq")))
    val t29 = operators.TextAnalysis9.t29_loo_perplexity(spark, shortDir)
    assert((longs(t29, "doc_id") & oneWordIds).isEmpty)
    assert(longs(t29.filter(col("doc_id") > maxBaseId), "n_bigrams") == Set(1L))
    val t32 = operators.TextAnalysis9.t32_entropy_rate(spark, shortDir)
    assert(longs(t32.filter(col("source") === "zq_short"), "n_bigrams") ==
      Set(twoWordIds.size.toLong))

    // 3..8-gram sites: no short doc has a gram, so none is counted or paired
    assert((longs(operators.TextAnalysis9.t25_boilerplate(spark, shortDir), "doc_id") &
      shortIds).isEmpty)
    assert((longs(operators.Dedup.d03_ngram_jaccard(spark, shortDir), "da", "db") &
      shortIds).isEmpty)
    assert((longs(GraftOps.jaccardJoin(docs, col("doc_id"), col("text"), 0.5),
      "id_a", "id_b") & shortIds).isEmpty)
    assert((longs(GraftOps.containmentJoin(docs, col("doc_id"), col("text"), 0.5),
      "id_a", "id_b") & shortIds).isEmpty)
    assert((longs(GraftOps.novelty(docs, col("doc_id"), col("text")), "id") &
      shortIds).isEmpty)

    // LSH routes: minhash_signature counts a short doc as one gram, so
    // each twin collides with its copy in every band, while its word-gram
    // set is empty; verification must drop the pair, not divide by zero
    assert((longs(GraftOps.jaccardJoinBanded(docs, col("doc_id"), col("text"), 0.5),
      "id_a", "id_b") & shortIds).isEmpty)
    assert((longs(operators.Dedup.d06_lsh_verified(spark, shortDir), "da", "db") &
      shortIds).isEmpty)
    spark.conf.set("graft.neardup.strategy", "lsh")
    try assert((longs(operators.Dedup.d03_ngram_jaccard(spark, shortDir), "da", "db") &
      shortIds).isEmpty)
    finally spark.conf.unset("graft.neardup.strategy")
    locally {
      import spark.implicits._
      val sets = Seq((1L, Seq.empty[Long]), (2L, Seq.empty[Long]), (3L, Seq(7L, 8L)),
        (4L, Seq(7L, 8L))).toDF("id", "sh")
      val pairs = GraftOps.jaccardJoinBandedSets(sets, col("id"), col("sh"), 0.5)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.toSeq == Seq((3L, 4L)), s"empty sets paired: ${pairs.toSeq}")
    }
    GraftOps.releaseCaches()
  }

  test("one word-gram window and one band key: no inline copy under src/main/scala") {
    // DuckDB oracle strings spell windows as list_slice/generate_series
    // and match none of these patterns
    val windows = Seq("slice(sequence(", "sequence(1, size(")
    val bandKey = "xxhash64(concat_ws(',', slice("
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .toArray.map(_.toString).filter(_.endsWith(".scala")).toSeq
    def hits(pat: String): Seq[String] = files.flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      lines.zipWithIndex.collect { case (l, i) if l.contains(pat) => s"$f:${i + 1}" }
    }
    val emitter = "src/main/scala/graft/api/GraftOps.scala"
    for (pat <- windows :+ bandKey) {
      val found = hits(pat)
      assert(found.forall(_.startsWith(emitter + ":")),
        s"'$pat' outside GraftOps: ${found.filterNot(_.startsWith(emitter + ":"))}")
      assert(found.size <= 1, s"'$pat' appears more than once: $found")
    }
  }
}
