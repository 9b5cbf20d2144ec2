package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization kernels (Jégou et al. 2011, "Product
  * quantization for nearest neighbor search" — public): split a vector
  * into M contiguous subspaces, quantize each against its own K-entry
  * codebook, and answer distance queries from the codes alone via ADC
  * (asymmetric distance computation: the probe stays exact, each
  * subspace contributes a precomputed table entry).
  *
  * Both kernels are codegen'd expressions — the 100 TB hot path (encode
  * on ingest, ADC per scanned row) stays inside whole-stage codegen, no
  * UDF boundary. The codebook/table constants ride in the expression:
  * M*K*subDim floats (a few hundred KB at production sizes), far under
  * broadcast-worthy payloads.
  *
  * All distances are squared L2 stated in the dot-product shape
  * dot(a,a) - 2*dot(a,b) + dot(b,b), each dot accumulated in double over
  * ascending indices — the SAME primitive the DuckDB oracle states as
  * list_inner_product, so gate comparisons are float-exact (the
  * [[graft.queries.Vectors]] v7 precedent).
  */
object PqCodec {
  def dot(a: Array[Float], aOff: Int, b: Array[Float], bOff: Int, n: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < n) { s += a(aOff + i).toDouble * b(bOff + i).toDouble; i += 1 }
    s
  }

  /** Squared L2 between a[aOff..aOff+n) and b[bOff..bOff+n) in the
    * dot-product shape (see class doc — oracle-parity requirement).
    */
  def l2sq(a: Array[Float], aOff: Int, b: Array[Float], bOff: Int, n: Int): Double =
    dot(a, aOff, a, aOff, n) - 2.0 * dot(a, aOff, b, bOff, n) + dot(b, bOff, b, bOff, n)

  /** Encode one vector: per subspace j, the index of the L2-nearest
    * codebook entry (first wins ties — `<` keeps the earlier index).
    * `codebooks` is flattened [j][c][dim] row-major.
    */
  def encode(v: ArrayData, codebooks: Array[Float], m: Int, k: Int, subDim: Int): ArrayData = {
    if (v == null) return null
    if (v.numElements() != m * subDim) return null
    val vec = v.toFloatArray()
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        val d = l2sq(vec, j * subDim, codebooks, (j * k + c) * subDim, subDim)
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Reconstruct one code: the concatenation of its codebook rows —
    * the PQ decode FAISS calls `reconstruct`, the approximate inverse
    * of [[encode]] (exact for vectors that ARE codebook rows). Used by
    * the saved-index maintenance path, which must split buckets from
    * codes alone (IVF-PQ never stores the float corpus).
    */
  def decode(code: ArrayData, codebooks: Array[Float], m: Int, k: Int,
             subDim: Int): ArrayData = {
    if (code == null) return null
    if (code.numElements() != m) return null
    val cs = code.toIntArray()
    val out = new Array[Float](m * subDim)
    var j = 0
    while (j < m) {
      val c = cs(j)
      if (c < 0 || c >= k) return null
      var d0 = 0
      while (d0 < subDim) {
        out(j * subDim + d0) = codebooks((j * k + c) * subDim + d0)
        d0 += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** ADC distance of one code against a prepared [j][c] table (flattened
    * row-major), summed over ascending j — matches the oracle's explicit
    * left-to-right addition chain.
    */
  def adc(code: ArrayData, table: Array[Double], m: Int, k: Int): java.lang.Double = {
    if (code == null || code.numElements() != m) return null
    var s = 0.0
    var j = 0
    while (j < m) {
      val c = code.getInt(j)
      if (c < 0 || c >= k) return null
      s += table(j * k + c)
      j += 1
    }
    java.lang.Double.valueOf(s)
  }
}

/** pq_encode(vector) -> array<int> of M codebook indices. */
case class PqEncode(child: Expression, codebooks: Array[Float], m: Int, k: Int,
                    subDim: Int)
    extends UnaryKernel("pq_encode", KernelInput.FloatVector,
      ArrayType(IntegerType, containsNull = false), "PqCodec.encode", quarantines = true) {
  override def nullSafeEval(v: Any): Any =
    PqCodec.encode(v.asInstanceOf[ArrayData], codebooks, m, k, subDim)
  override protected def kernelArgs: Seq[Any] = Seq(codebooks, m, k, subDim)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}


/** pq_decode(code) -> array<float>: codebook-row reconstruction (see
  * [[PqCodec.decode]]).
  */
case class PqDecode(child: Expression, codebooks: Array[Float], m: Int, k: Int,
                    subDim: Int)
    extends UnaryKernel("pq_decode", KernelInput.IntArray,
      ArrayType(FloatType, containsNull = false), "PqCodec.decode", quarantines = true) {
  override def nullSafeEval(v: Any): Any =
    PqCodec.decode(v.asInstanceOf[ArrayData], codebooks, m, k, subDim)
  override protected def kernelArgs: Seq[Any] = Seq(codebooks, m, k, subDim)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** pq_adc(code) -> double: table-lookup distance for one probe's
  * prepared ADC table.
  */
case class PqAdcDistance(child: Expression, table: Array[Double], m: Int, k: Int)
    extends UnaryKernel("pq_adc", KernelInput.IntArray, DoubleType, "PqCodec.adc",
      quarantines = true) {
  override def nullSafeEval(v: Any): Any =
    PqCodec.adc(v.asInstanceOf[ArrayData], table, m, k)
  override protected def kernelArgs: Seq[Any] = Seq(table, m, k)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
