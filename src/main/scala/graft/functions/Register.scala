package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

/** SQL registration for graft's custom expressions, so `spark.sql` users
  * can call them like builtins:
  *
  *   graft.functions.Register.all(spark)
  *   spark.sql("SELECT minhash_signature(text, 64, 3) FROM docs")
  *
  * (The same builders are injected by [[graft.plans.GraftExtensions]] for
  * sessions built with .withExtensions.)
  */
object Register {
  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "minhash_signature" -> {
      case Seq(c) => MinHashSignature(c, 64, 3)
      case Seq(c, k, sh) => MinHashSignature(c, intArg(k, "numHashes"), intArg(sh, "shingleSize"))
      case args => throw new IllegalArgumentException(s"minhash_signature(text[, k, shingle]): got ${args.size} args")
    },
    "minhash_set_signature" -> {
      case Seq(c) => MinHashSetSignature(c, 64)
      case Seq(c, k) => MinHashSetSignature(c, intArg(k, "numHashes"))
      case args => throw new IllegalArgumentException(s"minhash_set_signature(hashes[, k]): got ${args.size} args")
    },
    "byte_gram_hashes" -> {
      case Seq(c) => ByteGramHashes(c, 16)
      case Seq(c, k) => ByteGramHashes(c, intArg(k, "gram length"))
      case args => throw new IllegalArgumentException(s"byte_gram_hashes(bytes[, k]): got ${args.size} args")
    },
    "simhash64" -> {
      case Seq(c) => SimHash64(c, 2)
      case Seq(c, sh) => SimHash64(c, intArg(sh, "shingleSize"))
      case args => throw new IllegalArgumentException(s"simhash64(text[, shingle]): got ${args.size} args")
    },
    "cosine_lsh_keys" -> {
      case Seq(c) => CosineLshKeys(c, 16, 4)
      case Seq(c, t, p) => CosineLshKeys(c, intArg(t, "numTables"), intArg(p, "planesPerTable"))
      case args => throw new IllegalArgumentException(s"cosine_lsh_keys(vec[, tables, planes]): got ${args.size} args")
    },
    "cosine_sim" -> {
      case Seq(a, b) => CosineSim(a, b)
      case args => throw new IllegalArgumentException(s"cosine_sim(a, b): got ${args.size} args")
    },
    "dot_product" -> {
      case Seq(a, b) => DotProduct(a, b)
      case args => throw new IllegalArgumentException(s"dot_product(a, b): got ${args.size} args")
    },
    "rolling_fingerprint" -> {
      case Seq(c) => RollingFingerprint(c)
      case args => throw new IllegalArgumentException(s"rolling_fingerprint(text): got ${args.size} args")
    },
    "jaro_winkler" -> {
      case Seq(a, b) => JaroWinkler(a, b)
      case args => throw new IllegalArgumentException(s"jaro_winkler(a, b): got ${args.size} args")
    },
    "zorder2" -> {
      case Seq(x, y) => ZOrder2(x, y)
      case args => throw new IllegalArgumentException(s"zorder2(x, y): got ${args.size} args")
    },
  )

  /** Register all custom functions on an existing session (idempotent). */
  def all(spark: SparkSession): Unit = builders.foreach { case (name, b) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, b, "built-in")
  }
}
