package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Native sketch expressions (SURVEY §2.11 [EXT]).
  *
  * The higher-order-function formulations (`transform`/`aggregate` lambdas)
  * paid ~1µs of interpreted-eval overhead per lambda call — 64 perms × ~100
  * shingles × N docs dominated the bench. These are single fused JVM loops
  * over the raw UTF8String bytes (no per-element expression dispatch, no
  * intermediate arrays). `CodegenFallback` is fine here: the expression is
  * called once per row and its eval is already a tight loop, so codegen
  * would only inline the call site.
  */

/** 64-perm MinHash signature of an array<string> shingle set:
  * sig[p] = min over shingles of murmur3_32(bytes, seed = p). */
case class MinHashSignature(child: Expression, numPerms: Int = 64)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sig = new Array[Int](numPerms)
    java.util.Arrays.fill(sig, Int.MaxValue)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val base = s.getBaseObject
        val off = s.getBaseOffset
        val len = s.numBytes()
        var p = 0
        while (p < numPerms) {
          val h = Murmur3_x86_32.hashUnsafeBytes(base, off, len, p)
          if (h < sig(p)) sig(p) = h
          p += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** 64-bit SimHash of an array<string> token list: bit i of the signature is
  * set iff the sum over tokens of ±1 (per bit i of xxh64(token)) is positive. */
case class SimHash64(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes(), 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** 60-bit md5-based SimHash of an array<string> token list — the fused
  * native form of the engine-portable simhash pipeline (the per-token hash
  * is the first 15 hex chars of md5, i.e. the big-endian top 60 bits of the
  * digest, exactly what DuckDB's `('0x' || substr(md5(t),1,15))::BIGINT`
  * computes — so results stay oracle-checkable while avoiding the
  * explode + 60-aggregate shuffle formulation entirely). */
case class Md5SimHash60(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_simhash60"

  override protected def nullSafeEval(input: Any): Any = {
    val digest = Md5SimHash60.localMd5.get()
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](60)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        digest.reset()
        val d = digest.digest(s.getBytes)
        // big-endian first 8 bytes >>> 4 == the first 15 hex nibbles
        var h = 0L
        var j = 0
        while (j < 8) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
        h = h >>> 4
        var b = 0
        while (b < 60) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): Md5SimHash60 =
    copy(child = newChild)
}

object Md5SimHash60 {
  /** Expression instances can be shared across tasks — digest per thread. */
  private val localMd5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
}

/** Distinct `width`-token shingles of an array<string> token list, joined
  * by single spaces, first-occurrence order — semantically identical to
  *
  * {{{ array_distinct(transform(
  *       sequence(0, greatest(size(tokens) - width, 0)),
  *       i -> concat_ws(' ', slice(tokens, i + 1, width)))) }}}
  *
  * (including the short-input edge: < width tokens yield ONE shingle of
  * whatever exists), but as one fused loop. The HOF formulation is
  * interpreted per-lambda-call AND gets duplicated wholesale by
  * CollapseProject when the shingle column feeds two downstream
  * expressions (e.g. `explode(sh)` + `size(sh)`), which made it the
  * single hottest step of the ngram-dedup pipeline. */
case class ShingleSet(child: Expression, width: Int = 3)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(width >= 1, "shingle width must be >= 1")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_set"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val last = math.max(n - width, 0)
    // LinkedHashSet keeps first-occurrence order, matching array_distinct
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= last) {
      val parts = new Array[UTF8String](math.min(width, n - i))
      var j = 0
      while (j < parts.length) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      // concatWs skips nulls, exactly like the concat_ws SQL function
      seen.add(UTF8String.concatWs(ShingleSet.space, parts: _*))
      i += 1
    }
    val out = new Array[AnyRef](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

object ShingleSet {
  private val space = UTF8String.fromString(" ")
}

/** Shannon entropy (bits) of an array<string> symbol list — the fused
  * native form of the sorted-fold HOF
  *
  * {{{ 0.0 - aggregate(
  *       transform(array_sort(array_distinct(x)),
  *                 u -> size(filter(x, e -> e = u))),
  *       0.0D, (acc, cnt) -> acc + (cnt / size(x)) * log2(cnt / size(x))) }}}
  *
  * which paid one interpreted `filter` per distinct symbol per row
  * (O(len × distinct) lambda calls). Here the counts come from one hash
  * pass, and the fold runs over the distinct symbols in `UTF8String`
  * binary order — `array_sort`'s order — with the HOF's arithmetic
  * (p = cnt / n, `Log2` = StrictMath.log(p) / StrictMath.log(2)), so the
  * result is bit-identical to it. Edge cases follow the HOF too: an
  * empty array gives 0.0, and a null element gives null (its count is 0,
  * and `log2(0)` is null). */
case class TokenEntropy(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "token_entropy"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new java.util.HashMap[UTF8String, Array[Int]]()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val s = arr.getUTF8String(i)
      val c = counts.get(s)
      if (c == null) counts.put(s, Array(1)) else c(0) += 1
      i += 1
    }
    val symbols = counts.keySet().toArray(new Array[UTF8String](counts.size()))
    java.util.Arrays.sort(symbols, TokenEntropy.binaryOrder)
    val total = n.toDouble
    var acc = 0.0
    var j = 0
    while (j < symbols.length) {
      val p = counts.get(symbols(j))(0) / total
      acc = acc + p * (StrictMath.log(p) / StrictMath.log(2))
      j += 1
    }
    0.0 - acc
  }

  override protected def withNewChildInternal(newChild: Expression): TokenEntropy =
    copy(child = newChild)
}

object TokenEntropy {
  private val binaryOrder: java.util.Comparator[UTF8String] =
    (a: UTF8String, b: UTF8String) => a.binaryCompare(b)
}

/** `bands` packed random-hyperplane (SRP) LSH buckets of an `array<float>`
  * embedding, one fused pass: out[b] = sum over p < bits of
  * (dot(v, plane[b][p]) > 0 ? 1 << p : 0). Plane components are ±1 from a
  * fixed-seed PRNG (`scala.util.Random(seed)` in (band, bit, dim) order —
  * the exact sequence the previous literal-plane formulation drew, so
  * results are bit-identical to it); each executor derives the same planes
  * on first use from the (bands, bits, dim, seed) params carried by the
  * expression, so the plan ships four ints instead of bands×bits×dim float
  * literals. The literal formulation planted up to 448 separate
  * CosineSimilarity calls into one projection — janino-hostile and
  * noisy-by-compile-time; this is one tight loop per row.
  * Dot-product sign == cosine sign (denominators are positive; both are 0
  * for a zero vector), so bucket values match the cosine formulation.
  * Input vectors MUST be exactly `dim` long — a mismatch throws rather
  * than silently truncating/zero-padding, which would quietly degrade
  * LSH recall (missed pairs) with no other symptom. */
case class SrpSignature(child: Expression, bands: Int = 16, bits: Int = 8,
    dim: Int = 64, seed: Int = 4242)
  extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(bits > 0 && bits < 31, "bits must fit a positive Int bucket")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "srp_signature"

  // Derived once per executor (and once on the driver), not serialized:
  // bands×bits×dim ±1 floats in (band, bit, dim) order.
  @transient private lazy val planes: Array[Float] = {
    val rng = new scala.util.Random(seed)
    Array.fill(bands * bits * dim)(if (rng.nextBoolean()) 1.0f else -1.0f)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"srp_signature: vector length $n != declared dim $dim — truncation/" +
        "padding would silently lose LSH recall, so this fails fast")
    val out = new Array[Int](bands)
    var b = 0
    while (b < bands) {
      var bucket = 0
      var p = 0
      while (p < bits) {
        val base = (b * bits + p) * dim
        var dot = 0.0
        var i = 0
        while (i < n) {
          dot += v.getFloat(i).toDouble * planes(base + i)
          i += 1
        }
        if (dot > 0) bucket |= 1 << p
        p += 1
      }
      out(b) = bucket
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SrpSignature =
    copy(child = newChild)
}
