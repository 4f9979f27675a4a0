package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Per-row signature expressions for large-scale dedup.
  *
  * MinHash and SimHash signatures are computed per row in a single pass —
  * a narrow, shuffle-free map stage. The alternative (explode shingles,
  * groupBy doc, agg mins) shuffles |docs| * |shingles| rows; at 100 TB that
  * is the difference between a linear scan and an unrunnable job. The only
  * wide stage in the dedup pipeline is the subsequent band-bucket join,
  * whose keys are uniformly distributed hashes (no skew by construction).
  *
  * Hashing: xorshift-mixed 64-bit (splitmix64 finalizer) over UTF-8 word
  * bytes; the k MinHash functions are the standard (a_i * x + b_i) mod p
  * family with p = 2^61 - 1 (Broder 1997), coefficients derived
  * deterministically from the function index so results are reproducible
  * across runs, partitions, and cluster sizes.
  */
object Hashing {
  final val MersennePrime: Long = (1L << 61) - 1

  /** splitmix64 finalizer — strong 64-bit avalanche mixer. */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** 64-bit hash of a string (FNV-1a over UTF-8 bytes, then mixed). */
  def hash64(s: String): Long = {
    val bytes = s.getBytes("UTF-8")
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    mix64(h)
  }

  /** i-th MinHash coefficients (a odd-ish nonzero, b) from the index. */
  @inline def coefA(i: Int): Long = (mix64(0x5851f42d4c957f2dL + i) & MersennePrime) | 1L
  @inline def coefB(i: Int): Long = mix64(0x14057b7ef767814fL - i) & MersennePrime

  /** ((a*x + b) mod (2^61-1)) without overflow, via 128-bit mulmod. */
  @inline def permute(x: Long, a: Long, b: Long): Long = {
    val xm = x & MersennePrime
    val hi = Math.multiplyHigh(a, xm)
    val lo = a * xm
    // fold 128-bit product mod 2^61-1: (hi*2^64 + lo) mod p, 2^64 mod p = 8
    var r = (lo & MersennePrime) + ((lo >>> 61) | (hi << 3) & MersennePrime) + (hi >>> 58)
    r = (r & MersennePrime) + (r >>> 61)
    r = r + b
    r = (r & MersennePrime) + (r >>> 61)
    if (r >= MersennePrime) r - MersennePrime else r
  }

  def tokenize(text: String): Array[String] =
    text.toLowerCase.split("\\s+").filter(_.nonEmpty)

  /** Word-shingle 64-bit hashes (rolling concat, one pass). */
  def shingleHashes(text: String, shingleSize: Int): Array[Long] = {
    val words = tokenize(text)
    if (words.length < shingleSize) {
      if (words.isEmpty) Array.empty else Array(hash64(words.mkString(" ")))
    } else {
      val out = new Array[Long](words.length - shingleSize + 1)
      var i = 0
      while (i + shingleSize <= words.length) {
        val sb = new java.lang.StringBuilder()
        var j = 0
        while (j < shingleSize) {
          if (j > 0) sb.append(' ')
          sb.append(words(i + j)); j += 1
        }
        out(i) = hash64(sb.toString)
        i += 1
      }
      out
    }
  }

  def minhash(text: String, numHashes: Int, shingleSize: Int): Array[Long] = {
    val hs = shingleHashes(text, shingleSize)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val x = hs(i)
      var k = 0
      while (k < numHashes) {
        val v = permute(x, coefA(k), coefB(k))
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      i += 1
    }
    if (hs.isEmpty) Array.fill(numHashes)(0L) else sig
  }

  // ---- static entry points for generated (Janino) code ----
  // Scala objects emit static forwarders, so whole-stage codegen can call
  // these directly and the expressions stay inside the codegen'd stage.
  def minhashData(s: UTF8String, k: Int, shingle: Int): ArrayData =
    new GenericArrayData(minhash(s.toString, k, shingle))
  def simhashLong(s: UTF8String, shingle: Int): Long =
    simhash(s.toString, shingle)

  /** Spark's xxhash64 seed: `xxhash64(a, b, ...)` starts here and feeds
    * each argument's hash in as the next argument's seed; a null
    * argument is skipped, so `xxhash64(null)` is the seed itself. */
  final val XxSeed: Long = 42L

  /** MinHash signature over a precomputed 64-bit hash set, equal to
    * `transform(sequence(0, numHashes-1), h -> array_min(transform(set,
    * s -> xxhash64(h, s))))`: slot h is the minimum over the elements of
    * XXH64.hashLong(s, seed_h), with seed_h = XXH64.hashInt(h, 42)
    * computed once per slot. A null element hashes to seed_h; a null or
    * empty set has no minimum, so every slot is null.
    */
  def minhashSetData(set: ArrayData, numHashes: Int): ArrayData = {
    val n = if (set == null) 0 else set.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](numHashes))
    val xs = new Array[Long](n)
    var m = 0
    var hasNull = false
    var i = 0
    while (i < n) {
      if (set.isNullAt(i)) hasNull = true else { xs(m) = set.getLong(i); m += 1 }
      i += 1
    }
    val sig = new Array[Long](numHashes)
    var h = 0
    while (h < numHashes) {
      val seed = XXH64.hashInt(h, XxSeed)
      var min = if (hasNull) seed else Long.MaxValue
      var j = 0
      while (j < m) {
        val v = XXH64.hashLong(xs(j), seed)
        if (v < min) min = v
        j += 1
      }
      sig(h) = min
      h += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Distinct xxhash64 values of the byte k-grams of `bs`, in first-
    * occurrence order, equal to `array_distinct(transform(sequence(1,
    * greatest(octet_length(bs)-k+1, 1)), i -> xxhash64(substring(bs, i,
    * k))))`. Each window is hashed in place (no copy per gram). A payload
    * shorter than k is one gram, the whole payload; a null payload gives
    * [42] (`greatest` skips the null bound, and xxhash64(null) is the
    * seed).
    */
  def byteGramData(bs: Array[Byte], k: Int): ArrayData = {
    if (bs == null) return UnsafeArrayData.fromPrimitiveArray(Array(XxSeed))
    val windows = math.max(bs.length - k + 1, 1)
    val len = math.min(k, bs.length)
    val out = new Array[Long](windows)
    val seen = new LongSet(windows)
    var m = 0
    var i = 0
    while (i < windows) {
      val h = XXH64.hashUnsafeBytes(bs, Platform.BYTE_ARRAY_OFFSET + i, len, XxSeed)
      if (seen.add(h)) { out(m) = h; m += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (m == windows) out else java.util.Arrays.copyOf(out, m))
  }

  /** Insert-only open-addressing set of longs sized for `expected`
    * insertions (load <= 1/2, linear probing); 0 is tracked apart
    * because it marks an empty slot. */
  private final class LongSet(expected: Int) {
    private val slots =
      new Array[Long](Integer.highestOneBit(math.max(4, 2 * expected - 1)) << 1)
    private val mask = slots.length - 1
    private var hasZero = false

    /** True when `x` was not in the set before. */
    def add(x: Long): Boolean = {
      if (x == 0L) { val fresh = !hasZero; hasZero = true; return fresh }
      var i = (mix64(x) & mask).toInt
      while (slots(i) != 0L) {
        if (slots(i) == x) return false
        i = (i + 1) & mask
      }
      slots(i) = x
      true
    }
  }
  def lshKeysData(arr: ArrayData, numTables: Int, planesPerTable: Int): ArrayData = {
    val n = arr.numElements()
    val keys = new Array[Int](numTables)
    var t = 0
    while (t < numTables) {
      var bucket = 0
      var p = 0
      while (p < planesPerTable) {
        val plane = t * planesPerTable + p
        var dot = 0.0
        var i = 0
        while (i < n) {
          val w = if ((mix64(plane.toLong * 131071L + i) & 1L) == 0L) 1.0 else -1.0
          dot += w * arr.getFloat(i)
          i += 1
        }
        if (dot > 0) bucket |= (1 << p)
        p += 1
      }
      keys(t) = (t << planesPerTable) | bucket
      t += 1
    }
    new GenericArrayData(keys)
  }
  def cosine(a: ArrayData, b: ArrayData): Double =
    cosineGen(a, b, aDouble = false, bDouble = false)

  /** Cosine over float OR double arrays (flags chosen from the child
    * dataTypes at plan time). Three independent sequential accumulators —
    * each is the same left fold DuckDB's list_dot_product performs, so
    * results stay bit-identical cross-engine for any type combination.
    */
  def cosineGen(a: ArrayData, b: ArrayData,
                aDouble: Boolean, bDouble: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aDouble) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (bDouble) b.getDouble(i) else b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Plain sequential-fold dot product (same order semantics as cosine). */
  def dotGen(a: ArrayData, b: ArrayData,
             aDouble: Boolean, bDouble: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      val x = if (aDouble) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (bDouble) b.getDouble(i) else b.getFloat(i).toDouble
      dot += x * y
      i += 1
    }
    dot
  }

  /** Polynomial rolling hash over the word stream: h = h*B + hash64(w)
    * mod 2^64 — order-sensitive (unlike the bag fingerprint), one pass,
    * constant memory; the classic document-stream fingerprint.
    */
  def rollingFingerprint(s: UTF8String): Long = {
    val words = tokenize(s.toString)
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < words.length) { h = h * 1000003L + hash64(words(i)); i += 1 }
    h
  }

  /** 64-bit SimHash (Charikar 2002) over word 2-shingles. */
  def simhash(text: String, shingleSize: Int): Long = {
    val hs = shingleHashes(text, shingleSize)
    if (hs.isEmpty) return 0L
    val counts = new Array[Int](64)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** Array[Long] MinHash signature of a text column — one pass, no shuffle,
  * codegen'd as a static call so the stage stays whole-stage compiled.
  */
case class MinHashSignature(child: Expression, numHashes: Int, shingleSize: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Hashing.minhashData(input.asInstanceOf[UTF8String], numHashes, shingleSize)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Hashing.minhashData($c, $numHashes, $shingleSize)")
  override def prettyName: String = "minhash_signature"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Order-sensitive rolling-hash fingerprint of a text column. */
case class RollingFingerprint(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    Hashing.rollingFingerprint(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hashing.rollingFingerprint($c)")
  override def prettyName: String = "rolling_fingerprint"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash of a text column (codegen'd static call). */
case class SimHash64(child: Expression, shingleSize: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    Hashing.simhashLong(input.asInstanceOf[UTF8String], shingleSize)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Hashing.simhashLong($c, $shingleSize)")
  override def prettyName: String = "simhash64"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash signature (array<bigint>, `numHashes` slots) of a
  * precomputed array<bigint> hash set ([[Hashing.minhashSetData]]).
  * Not null-intolerant: a null set yields `numHashes` nulls, as the
  * higher-order-function form it replaces does.
  */
case class MinHashSetSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes > 0, s"numHashes must be positive, got $numHashes")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint>, got ${t.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    Hashing.minhashSetData(child.eval(input).asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.Hashing.minhashSetData(${c.isNull} ? null : ${c.value}, $numHashes);""",
      isNull = FalseLiteral)
  }
  override def prettyName: String = "minhash_set_signature"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct xxhash64 byte k-gram hashes (array<bigint>) of a binary
  * payload ([[Hashing.byteGramData]]). Not null-intolerant: a null
  * payload yields [42], as the higher-order-function form it replaces
  * does.
  */
case class ByteGramHashes(child: Expression, k: Int)
    extends UnaryExpression {
  require(k > 0, s"gram length must be positive, got $k")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects binary, got ${t.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    Hashing.byteGramData(child.eval(input).asInstanceOf[Array[Byte]], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.Hashing.byteGramData(${c.isNull} ? null : ${c.value}, $k);""",
      isNull = FalseLiteral)
  }
  override def prettyName: String = "byte_gram_hashes"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
