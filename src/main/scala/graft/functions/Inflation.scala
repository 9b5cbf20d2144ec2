package graft.functions

/** The decompression-bomb posture every decoder in this package shares:
  * one cap on what a blob (or an archive entry) may inflate to, and one
  * capped drain of a decoder stream. Each decoder keeps its own magic
  * check and its own quarantine of malformed input.
  */
private[graft] object Inflation {
  /** Largest output one blob or entry may inflate to (256 MiB): a larger
    * inflation in a scan task is an attack, not data. */
  val MaxBytes: Int = 256 * 1024 * 1024

  /** All of `in`, or null once the output would pass [[MaxBytes]];
    * closes `in` either way. `compressedLength` sizes the first buffer.
    * Decoder errors propagate to the caller's quarantine.
    */
  def readCapped(in: java.io.InputStream, compressedLength: Int): Array[Byte] =
    try {
      val out = new java.io.ByteArrayOutputStream(
        math.min(compressedLength.toLong * 4, 1L << 20).toInt)
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) {
        if (out.size().toLong + n > MaxBytes) return null // bomb refusal
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      out.toByteArray
    } finally in.close()
}
