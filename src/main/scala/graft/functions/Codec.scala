package graft.functions

import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater, Inflater}

import org.apache.spark.sql.SparkSession

/** Encode/decode kernels mirroring the reference's per-point compression
  * chain (SURVEY.md §2.1 R17–R24, `/root/reference/seisdb/DSGT.py:127-170`):
  * min-offset → max-normalize → truncating 8-bit quantize → zlib.
  *
  * Byte-parity with CPython's zlib is NOT asserted (different impls may pick
  * different matches at the same level); correctness is the inflate∘deflate
  * round-trip + the quantization error bound, per SURVEY §5.
  */
object Codec {

  /** zlib-compress, level 6 — same default as Python's `zlib.compress`
    * (`DSGT.py:159`). */
  def deflate(bytes: Array[Byte]): Array[Byte] = {
    val d = new Deflater(6)
    d.setInput(bytes); d.finish()
    val buf = new Array[Byte](8192)
    val out = new ByteArrayOutputStream(math.max(64, bytes.length / 2))
    while (!d.finished()) { val n = d.deflate(buf); out.write(buf, 0, n) }
    d.end()
    out.toByteArray
  }

  def inflate(bytes: Array[Byte]): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(bytes)
    val buf = new Array[Byte](8192)
    val out = new ByteArrayOutputStream(bytes.length * 4)
    while (!inf.finished()) {
      val n = inf.inflate(buf)
      if (n == 0 && !inf.finished() && inf.needsInput())
        throw new java.util.zip.DataFormatException("truncated zlib stream")
      out.write(buf, 0, n)
    }
    inf.end()
    out.toByteArray
  }

  def crc32(bytes: Array[Byte]): Long = {
    val c = new CRC32(); c.update(bytes); c.getValue
  }

  /** Truncating quantizer over a pre-normalized [0,1] series at the
    * reference's configurable encoding level (`DDBbase.py:22` defaults 8;
    * `DSGT.py:149-152` branches uint8 / uint16): codes are
    * trunc(x · (2^bits − 1)) — `.astype(uintN)` truncates toward zero, NOT
    * round-to-nearest; values ≥ 0 so trunc == floor. uint16 codes serialize
    * little-endian, matching numpy `tobytes()` on x86. */
  def quantize(xs: Array[Double], bits: Int): Array[Byte] = {
    require(bits == 8 || bits == 16, s"encoding level must be 8 or 16, got $bits")
    val maxCode = (1 << bits) - 1
    if (bits == 8) xs.map(x => (x * maxCode).toInt.toByte)
    else {
      val out = new Array[Byte](xs.length * 2)
      var i = 0
      while (i < xs.length) {
        val c = (xs(i) * maxCode).toInt
        out(2 * i) = (c & 0xff).toByte
        out(2 * i + 1) = ((c >>> 8) & 0xff).toByte
        i += 1
      }
      out
    }
  }

  def dequantize(codes: Array[Byte], bits: Int, offset: Double, scale: Double): Array[Double] = {
    require(bits == 8 || bits == 16, s"encoding level must be 8 or 16, got $bits")
    val maxCode = ((1 << bits) - 1).toDouble
    if (bits == 8) codes.map(c => (c & 0xff) / maxCode * scale + offset)
    else {
      val out = new Array[Double](codes.length / 2)
      var i = 0
      while (i < out.length) {
        val c = (codes(2 * i) & 0xff) | ((codes(2 * i + 1) & 0xff) << 8)
        out(i) = c / maxCode * scale + offset
        i += 1
      }
      out
    }
  }

  /** 8-bit default-level aliases (the reference's default `_encoding_level`). */
  def quantize255(xs: Array[Double]): Array[Byte] = quantize(xs, 8)

  def dequantize255(codes: Array[Byte], offset: Double, scale: Double): Array[Double] =
    dequantize(codes, 8, offset, scale)

  /** Full per-point encode (R18–R21 fused): offset/scale stats + quantize +
    * deflate. The ÷0-on-constant-series reference quirk (R19) is guarded:
    * scale == 0 → all-zero codes. Round-trip error is bounded by
    * scale / (2^bits − 1). */
  def encodeSeries(values: Array[Double], bits: Int = 8): EncodedBlob = {
    val offset = if (values.isEmpty) 0.0 else values.min
    val scale  = if (values.isEmpty) 0.0 else values.max - offset
    val norm   =
      if (scale == 0.0) values.map(_ => 0.0)
      else values.map(v => (v - offset) / scale)
    val payload = deflate(quantize(norm, bits))
    EncodedBlob(values.length, offset, scale, payload, bits)
  }

  def decodeSeries(blob: EncodedBlob): Array[Double] =
    dequantize(inflate(blob.payload), blob.bits, blob.offset, blob.scale)

  /** Largest |v − decoded v| over a series and its encoded blob, decoded
    * from the real payload bytes (so a mangled zlib stream shows here). */
  def roundTripError(values: Array[Double], blob: EncodedBlob): Double =
    values.iterator.zip(decodeSeries(blob).iterator)
      .map { case (v, d) => math.abs(v - d) }.foldLeft(0.0)(math.max)

  /** Register the codec as SQL-callable scalar UDFs on a session (the
    * engine's user-facing function surface). */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("zlib_deflate", (b: Array[Byte]) => deflate(b))
    spark.udf.register("zlib_inflate", (b: Array[Byte]) => inflate(b))
    spark.udf.register("crc32_long", (b: Array[Byte]) => crc32(b))
    spark.udf.register("quantize255", (xs: Seq[Double]) => quantize255(xs.toArray))
    spark.udf.register("dequantize255",
      (b: Array[Byte], o: Double, s: Double) => dequantize255(b, o, s))
    spark.udf.register("quantize_level",
      (xs: Seq[Double], bits: Int) => quantize(xs.toArray, bits))
    spark.udf.register("dequantize_level",
      (b: Array[Byte], bits: Int, o: Double, s: Double) => dequantize(b, bits, o, s))
  }
}

/** Compact encoded series: replaces the reference's hand-rolled blob file +
  * HDF5 header pair (`DSGT.py:160-194`) — stats travel with the payload and
  * parquet manages offsets. `bits` is the reference's `_encoding_level`
  * (8 → uint8 codes, 16 → uint16). */
case class EncodedBlob(n: Int, offset: Double, scale: Double, payload: Array[Byte],
    bits: Int = 8)
