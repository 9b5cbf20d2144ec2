package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Sketch hashes for near-duplicate detection at scale: MinHash signatures
  * (shingle-set Jaccard estimation, Broder 1997) and SimHash (Charikar
  * 2002) over a token/shingle array column.
  *
  * All hashing is self-contained and deterministic (FNV-1a 64 base hash +
  * splitmix64 per-permutation mixing — public-domain constructions), so
  * signatures are stable across sessions, partitions, and replays; no
  * dependence on Spark's internal hash functions.
  */
private[graft] object SketchHash {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L
  final val Golden = 0x9e3779b97f4a7c15L

  def fnv1a64(bytes: Array[Byte]): Long = {
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  /** splitmix64 finalizer — decorrelates the per-permutation streams. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** minhash_signature(tokens, k): array<long> of k minimums over the
  * permuted token-hash stream. J(A,B) ~ fraction of agreeing slots.
  * Empty input -> all Long.MaxValue (agrees only with other empties).
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryKernel("minhash_signature", KernelInput.Tokens,
      ArrayType(LongType, containsNull = false), "MinHashSignature.compute", quarantines = false) {
  require(numHashes > 0, "numHashes must be positive")
  override def nullSafeEval(v: Any): Any =
    MinHashSignature.compute(v.asInstanceOf[ArrayData], numHashes)
  override protected def kernelArgs: Seq[Any] = Seq(numHashes)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object MinHashSignature {
  /** Shared eval/codegen kernel (static forwarder for generated code). */
  def compute(arr: ArrayData, numHashes: Int): GenericArrayData = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val n = arr.numElements()
    var t = 0
    while (t < n) {
      val base = SketchHash.fnv1a64(arr.getUTF8String(t).getBytes)
      var i = 0
      while (i < numHashes) {
        val h = SketchHash.mix(base + SketchHash.Golden * (i + 1))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      t += 1
    }
    new GenericArrayData(sig)
  }
}

/** rolling_hash(text): polynomial rolling hash over the Unicode CODE
  * POINTS, h = (h * 131 + codepoint) mod 2^55 — small enough that every
  * intermediate fits a signed 64-bit value, so the identical recurrence is
  * expressible in portable SQL: DuckDB's `string_split(text, '')` yields
  * one element per code point and `ascii(c)` returns the code point, so
  * the oracle's list_reduce walks the exact same sequence (verified on
  * non-ASCII input). Iterating UTF-8 bytes instead would silently diverge
  * on any multi-byte character. Null -> null; empty string -> 0.
  */
case class RollingHash64(child: Expression)
    extends UnaryKernel("rolling_hash", KernelInput.Utf8, LongType, "RollingHash64.compute",
      quarantines = false) {
  override def nullSafeEval(v: Any): Any = RollingHash64.compute(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object RollingHash64 {
  /** 2^55: h*131 + 0x10FFFF stays below 2^63 for h < Mod. */
  final val Mod: Long = 1L << 55

  /** Shared eval/codegen kernel (static forwarder for generated code). */
  def compute(v: UTF8String): Long = {
    val s = v.toString
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 131L + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }
}

/** simhash64(tokens): 64-bit locality-sensitive fingerprint; near-dup
  * documents differ in few bits (compare with bit_count(a ^ b)).
  * Empty input -> 0L.
  */
case class SimHash64(child: Expression)
    extends UnaryKernel("simhash64", KernelInput.Tokens, LongType, "SimHash64.compute",
      quarantines = false) {
  override def nullSafeEval(v: Any): Any = SimHash64.compute(v.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SimHash64 {
  /** Shared eval/codegen kernel (static forwarder for generated code). */
  def compute(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var t = 0
    while (t < n) {
      val h = SketchHash.fnv1a64(arr.getUTF8String(t).getBytes)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** fnv64(string) -> the engine's FNV-1a 64-bit hash of the UTF-8 bytes
  * (SketchHash.fnv1a64 — the same kernel MinHash/SimHash build on),
  * exposed as a scalar so declarative sketches (the e19 HLL registers)
  * can share the oracle-restatable hash stream.
  *
  * `mixed = true` appends the splitmix64 finalizer (SketchHash.mix,
  * also already oracle-restated as SketchSql.mixLayerCtes). REQUIRED
  * for any use that reads the HIGH bits: raw FNV-1a of short inputs has
  * near-zero avalanche there (50 small numeric ids land in 3 of 256
  * top-byte buckets — measured), which silently breaks bucketed
  * sketches; the finalizer restores uniformity.
  */
case class Fnv64(child: Expression, mixed: Boolean = false)
    extends UnaryKernel(if (mixed) "fnv64_mix" else "fnv64", KernelInput.Utf8, LongType,
      "Fnv64.compute", quarantines = false) {
  override def nullSafeEval(v: Any): Any = Fnv64.compute(v.asInstanceOf[UTF8String], mixed)
  override protected def kernelArgs: Seq[Any] = Seq(mixed)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Fnv64 {
  /** Static forwarder shared by eval and generated code. */
  def compute(v: UTF8String, mixed: Boolean): Long = {
    val h = SketchHash.fnv1a64(v.getBytes)
    if (mixed) SketchHash.mix(h) else h
  }
}

/** Count-Min bucket row for one token (Cormode & Muthukrishnan 2005,
  * "An improved data stream summary: the count-min sketch"): element
  * r in [0, depth) is `(splitmix64(fnv1a64(s) XOR seed_r) >>> 1) % width`
  * with `seed_r = (r + 1) * Golden` wrapping — the same
  * FNV-base + per-stream splitmix64 seeding convention as MinHash (d3)
  * and the hyperplane bands (v8), restated once per sketch row so the
  * depth hash functions are pairwise independent in practice.
  *
  * Returned as an int array (width <= Int.MaxValue) so callers
  * `posexplode` it straight into the (row, bucket) register grid; the
  * whole computation is a codegen'd per-row loop with zero allocation
  * beyond the output array.
  */
case class CmBuckets(child: Expression, depth: Int, width: Int)
    extends UnaryKernel("cm_buckets", KernelInput.Utf8,
      ArrayType(IntegerType, containsNull = false), "CmBuckets.compute", quarantines = false) {
  require(depth >= 1 && depth <= 64,
    s"cm_buckets: depth must be in [1, 64], got $depth")
  require(width >= 2, s"cm_buckets: width must be >= 2, got $width")
  override def nullSafeEval(v: Any): Any =
    CmBuckets.compute(v.asInstanceOf[UTF8String], depth, width)
  override protected def kernelArgs: Seq[Any] = Seq(depth, width)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object CmBuckets {
  /** Static forwarder shared by eval and generated code. */
  def compute(v: UTF8String, depth: Int, width: Int): GenericArrayData = {
    val h = SketchHash.fnv1a64(v.getBytes)
    val out = new Array[Int](depth)
    var r = 0
    while (r < depth) {
      val u = SketchHash.mix(h ^ ((r + 1).toLong * SketchHash.Golden))
      out(r) = ((u >>> 1) % width).toInt
      r += 1
    }
    new GenericArrayData(out)
  }
}
