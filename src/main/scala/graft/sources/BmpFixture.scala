package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** MATERIALIZED image-blob fixture for the perceptual near-dup family
  * (d23): the synthetic 24-bit BI_RGB BMP corpus — four variants per
  * group sharing a base gradient image, variants 1..3 perturbing one
  * pixel channel by +128 — written ONCE to a parquet sidecar and read
  * back as an ordinary binary-column scan.
  *
  * Why a sidecar: synthesizing ~440 bytes/doc of BMP via per-byte
  * `format_string` inside the gate made d23 the single most expensive
  * suite entry (~28 s at sf0.1) while the operator under test
  * (`bmp_ahash` + `Dedup.hammingPairs`) costs a fraction of that — the
  * gate priced its fixture generator, not its operator, and the
  * image-dedup family could record no sf10 asymptotic. Materializing is
  * exactly what a production pipeline does anyway: image bytes arrive
  * AS a binary column in parquet (the m-family contract, SURVEY §2.9
  * multimodal rows); nobody re-renders JPEGs per query.
  *
  * Freshness: the sidecar is keyed by the sf-dir basename and rebuilt
  * when the source `documents.parquet` is newer than the sidecar's
  * `_SUCCESS` marker (the Bench widened-table posture). Any write
  * failure (read-only host, no /dev/shm) degrades to inline synthesis —
  * the fixture is measurement hygiene, never a correctness dependency.
  */
object BmpFixture {

  /** Blob synthesis — byte-identical to the pre-materialization d23
    * in-query construction (group-dependent gradient frequencies so each
    * group's aHash bit layout is its own; real 4-byte scanline padding).
    */
  def synthesize(s: SparkSession, d: String): DataFrame = {
    val g = expr("doc_id div 4")
    val vr = col("doc_id") % 4
    val w = (g % 5 + 8).cast("int")
    val h = (g % 4 + 8).cast("int")
    val pad = pmod(lit(4) - pmod(w * 3, lit(4)), lit(4))
    val stride = w * 3 + pad
    val n = stride * h
    def rowOf(i: Column) = floor(i.cast("double") / stride.cast("double")).cast("int")
    def posOf(i: Column) = pmod(i, stride)
    def byteVal(i: Column): Column = {
      val px = (posOf(i) / 3).cast("int")
      val ch = pmod(posOf(i), lit(3))
      val base = pmod(g * 13 + px * (g % 7 + 3) + rowOf(i) * (g % 5 + 7)
        + px * rowOf(i) * (g % 101 + 1) + ch * 11, lit(256))
      when(posOf(i) >= w * 3, lit(0)).otherwise(
        when(vr > 0 && px === (vr - 1).cast("int") &&
          rowOf(i) === 0 && ch === 0,
          pmod(base + 128, lit(256))).otherwise(base)).cast("int")
    }
    val rawHex = array_join(
      transform(sequence(lit(0), n - 1), i => format_string("%02X", byteVal(i))), "")
    def le32h(v: Column) = format_string("%02X%02X%02X%02X",
      pmod(v, lit(256)), pmod((v / 256).cast("int"), lit(256)),
      pmod((v / 65536).cast("int"), lit(256)),
      pmod((v / 16777216).cast("int"), lit(256)))
    val bmpHex = concat(
      lit("424D"), le32h(n + 54), lit("00000000"), le32h(lit(54)),
      lit("28000000"), le32h(w), le32h(h), lit("0100"), lit("1800"),
      lit("00000000"), le32h(n), lit("130B0000130B0000"),
      lit("0000000000000000"))
    Tables.documents(s, d)
      .select(col("doc_id").as("id"), unhex(concat(bmpHex, rawHex)).as("blob"))
  }

  /** Deep (max-mtime, total-length) walk of the source — compared for
    * EQUALITY, not ordering, so a source replaced with an OLDER copy
    * (archive restore) still invalidates the sidecar.
    */
  private def srcFingerprint(f: java.io.File): String = {
    def walk(x: java.io.File): (Long, Long) =
      if (x.isDirectory)
        Option(x.listFiles()).map(_.map(walk).foldLeft((x.lastModified, 0L)) {
          case ((m, l), (m2, l2)) => (math.max(m, m2), l + l2)
        }).getOrElse((x.lastModified, x.length))
      else (x.lastModified, x.length)
    val (m, l) = walk(f)
    s"$m:$l"
  }

  /** The sidecar directory of dataset `d`, under the /dev/shm root the
    * other gate scratch paths use. It is keyed by a hash of the CANONICAL
    * dataset path — two datasets whose directories share a basename get
    * separate sidecars.
    */
  private[graft] def sidecarDir(d: String): java.io.File = {
    val canon = new java.io.File(d).getCanonicalPath
    val pathKey = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    new java.io.File("/dev/shm", s"graft_bmp_${new java.io.File(d).getName}_$pathKey")
  }

  /** The blob table, served from the materialized sidecar
    * ([[sidecarDir]]: built on first use per dataset, invalidated when the
    * source fingerprint changes).
    */
  def blobs(s: SparkSession, d: String): DataFrame = {
    val dir = sidecarDir(d)
    val success = new java.io.File(dir, "_SUCCESS")
    val fpFile = new java.io.File(dir, "_SRC_FP")
    val src = new java.io.File(d, "documents.parquet")
    try {
      val want = if (src.exists) srcFingerprint(src) else ""
      val have =
        if (fpFile.isFile)
          new String(java.nio.file.Files.readAllBytes(fpFile.toPath), "UTF-8")
        else null
      if (!success.isFile || have != want) {
        synthesize(s, d)
          // pre-spread: documents is one small file at gate scale; the
          // sidecar should scan at cluster parallelism like real data
          .repartition(s.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(dir.getAbsolutePath)
        java.nio.file.Files.write(fpFile.toPath, want.getBytes("UTF-8"))
      }
      s.read.parquet(dir.getAbsolutePath)
    } catch {
      case e: Exception =>
        System.err.println(
          s"[fixture] bmp sidecar unavailable ($dir): ${e.getMessage}; synthesizing inline")
        synthesize(s, d)
    }
  }
}
