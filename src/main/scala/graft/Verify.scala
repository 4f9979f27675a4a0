package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated name prefixes — local fast loop
    // over a query subset. The driver always calls with 2 args (all).
    val keep: String => Boolean = args.lift(2) match {
      case Some(p) => val ps = p.split(','); n => ps.exists(n.startsWith)
      case None    => _ => true
    }
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    // Auxiliary oracle input: the Spark-computed MinHash signature table.
    // The FNV+splitmix hash family inside minhash_signature is not
    // expressible in DuckDB SQL, but everything DOWNSTREAM of the
    // signatures (banding, candidate join, agreement estimation) is pure
    // relational logic — so d02/d19's oracles read this dump (fixed path,
    // overwritten per run) and replay that logic exactly in DuckDB.
    // Signature GENERATION stays spec-covered (HashingPropertiesSpec).
    Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.minhash_signature(
          org.apache.spark.sql.functions.col("text"), 64, 3).as("sig"))
      .coalesce(1).write.mode("overwrite")
      .parquet("/tmp/graft_aux/minhash_sigs")
    // same recipe for d04: SimHash64 signatures; DuckDB replays the
    // Hamming-chunk bucketing and popcount verification bitwise-exactly
    Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.simhash64(
          org.apache.spark.sql.functions.col("text"), 2).as("sh"))
      .coalesce(1).write.mode("overwrite")
      .parquet("/tmp/graft_aux/simhash_sigs")
    // s05's PQ codes + codebook: decimal-summed quantizer makes both
    // identical across executions, so the dump and the query agree
    // bit-for-bit and DuckDB replays ADC scoring + re-rank exactly
    locally {
      val (codes, cents) = operators.Similarity.pqParts(spark, sfDir)
      codes.select("vec_id", "m", "code")
        .coalesce(1).write.mode("overwrite")
        .parquet("/tmp/graft_aux/pq_codes")
      cents.coalesce(1).write.mode("overwrite")
        .parquet("/tmp/graft_aux/pq_codebook")
      codes.unpersist()
    }
    // t41/t42's BPE merges: training (iterative data-dependent argmax)
    // is not SQL-expressible, but ENCODING from a given merges table is
    // pure string rewriting — so the oracles read this dump and replay
    // encoding via a recursive CTE. Training is deterministic (BpeSpec:
    // partition-independent greedy with total-order tie-breaks), so this
    // dump equals what the queries train internally.
    graft.api.GraftOps.bpeTrain(
        Tables.documents(spark, sfDir),
        org.apache.spark.sql.functions.col("text"),
        numMerges = operators.TextAnalysis11.NumMerges,
        vocabCap = operators.TextAnalysis11.VocabCap)
      .coalesce(1).write.mode("overwrite")
      .parquet("/tmp/graft_aux/bpe_merges")

    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
