package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** nfc_normalize(string): Unicode Normalization Form C (canonical
  * decomposition + canonical composition, UAX #15) via the JDK's
  * `java.text.Normalizer` — the text-preprocessing step every corpus
  * pipeline runs before tokenizing/fingerprinting: a combining sequence
  * ("e" + U+0301) and its precomposed form (U+00E9) are the SAME text
  * to a reader but different bytes to every hash/dedup/shingle kernel
  * in this engine, so un-normalized corpora silently under-deduplicate.
  * NFC is a Unicode-standard function, so any conforming implementation
  * (the JDK here, DuckDB's nfc_normalize in the oracle) produces
  * identical output — which is what makes t48 oracle-checkable.
  *
  * Fast path: `Normalizer.isNormalized` is O(n) with no allocation and
  * true for virtually all real text (ASCII trivially) — the normalize
  * allocation is only paid by rows that need it. NULL -> NULL.
  */
case class NfcNormalize(child: Expression)
    extends UnaryKernel("nfc_normalize", KernelInput.Utf8, StringType, "NfcNormalize.compute",
      quarantines = false) {
  override def nullSafeEval(v: Any): Any = NfcNormalize.compute(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object NfcNormalize {
  /** Shared eval/codegen kernel (static forwarder for generated code). */
  def compute(v: UTF8String): UTF8String = {
    val s = v.toString
    if (Normalizer.isNormalized(s, Normalizer.Form.NFC)) v
    else UTF8String.fromString(Normalizer.normalize(s, Normalizer.Form.NFC))
  }
}
