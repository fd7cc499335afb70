package graft.operators

import java.io.ByteArrayInputStream

import javax.sound.sampled.{AudioInputStream, AudioSystem}

/** Shared REAL-JDK-codec front-ends with the per-call dispatch hoisted out
  * of the row loop (r15 optimization round, guide §"per-task work").
  *
  * The media kernels decode one small blob per row; at that grain the JDK
  * facade calls (`AudioSystem.getAudioInputStream`, `ImageIO.read`,
  * `ImageIO.write`) spend most of their time on provider discovery — an SPI
  * registry scan, `canDecodeInput` stream probes and a fresh reader/writer
  * instance per call — not on the codec itself. Measured in r15 on the
  * sf0.1 corpus: WAV decode 63.8 µs/doc via the facade vs 3.4 µs via a
  * cached provider (18.7×); BMP decode 9.5 → 5.9 µs/doc; PNG encode
  * 52.6 → 47.6 µs/doc. Caching ONE reader/writer instance per task thread
  * is the standard ImageIO serving idiom (Video.scala has used it for the
  * PNG read leg since r13) — every inflate/defilter/deflate and every
  * sample-frame conversion still runs through the stock JDK codec, and
  * MediaIOSpec pins bit-parity of each fast path against the facade call.
  */
object MediaIO {

  /** Cached `AudioFileReader` providers, discovered once per thread through
    * the public SPI (`java.util.ServiceLoader`) — the same provider set
    * `AudioSystem.getAudioInputStream` consults per call. Empty when the
    * platform registers none through the loader; callers then fall back to
    * the facade (correct, just slower). */
  private val audioReaders =
    new ThreadLocal[Array[javax.sound.sampled.spi.AudioFileReader]] {
      override def initialValue(): Array[javax.sound.sampled.spi.AudioFileReader] = {
        val out = scala.collection.mutable.ArrayBuffer
          .empty[javax.sound.sampled.spi.AudioFileReader]
        val it = java.util.ServiceLoader
          .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
        while (it.hasNext) out += it.next()
        out.toArray
      }
    }

  /** `AudioSystem.getAudioInputStream(new ByteArrayInputStream(blob))`
    * minus the per-call provider discovery: try each cached provider in
    * registration order (the facade's own dispatch rule — first reader that
    * accepts the stream wins), fall back to the facade when none match. */
  def audioStream(blob: Array[Byte]): AudioInputStream = {
    val rs = audioReaders.get()
    var i = 0
    while (i < rs.length) {
      try return rs(i).getAudioInputStream(new ByteArrayInputStream(blob))
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
      i += 1
    }
    AudioSystem.getAudioInputStream(new ByteArrayInputStream(blob))
  }

  /** Minimal in-memory ImageInputStream over a byte array (the public
    * `ImageInputStreamImpl` extension point): MemoryCacheImageInputStream
    * pays block-cache allocation + a synchronized wrapper per READ CALL,
    * which at tens of reads per tiny blob is measurable against the decode
    * itself. Positioning/bit state comes from the base class. (Moved here
    * from Video.scala so the BMP/PNG/writer paths share it.) */
  private[operators] final class ByteArrayImageInputStream(buf: Array[Byte])
      extends javax.imageio.stream.ImageInputStreamImpl {
    override def read(): Int =
      if (streamPos >= buf.length) -1
      else { bitOffset = 0; val v = buf(streamPos.toInt) & 0xff; streamPos += 1; v }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (streamPos >= buf.length) -1
      else {
        bitOffset = 0
        val n = math.min(len, buf.length - streamPos.toInt)
        System.arraycopy(buf, streamPos.toInt, b, off, n)
        streamPos += n
        n
      }
    override def length(): Long = buf.length.toLong
    override def isCachedMemory: Boolean = true
  }

  private def readerTL(fmt: String) = new ThreadLocal[javax.imageio.ImageReader] {
    override def initialValue(): javax.imageio.ImageReader = {
      val it = javax.imageio.ImageIO.getImageReadersByFormatName(fmt)
      require(it.hasNext, s"no JDK $fmt reader")
      it.next()
    }
  }

  private val bmpReader = readerTL("bmp")

  /** `ImageIO.read` for a BMP blob minus the per-call registry scan and
    * reader construction: the cached stock JDK BMP reader does the decode.
    * A fresh BufferedImage is returned per call (no destination reuse —
    * callers may hold the raster's backing array across further decodes). */
  def readBmp(blob: Array[Byte]): java.awt.image.BufferedImage = {
    val r = bmpReader.get()
    val iis = new ByteArrayImageInputStream(blob)
    try { r.setInput(iis); r.read(0) } finally iis.close()
  }

  private val pngWriterTL = new ThreadLocal[javax.imageio.ImageWriter] {
    override def initialValue(): javax.imageio.ImageWriter = {
      val it = javax.imageio.ImageIO.getImageWritersByFormatName("png")
      require(it.hasNext, "no JDK png writer")
      it.next()
    }
  }

  /** `ImageIO.write(img, "png", out)` minus the per-call writer discovery:
    * the cached stock JDK PNG writer does every deflate. Returns the
    * encoded bytes. */
  def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream(1024)
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    try {
      val w = pngWriterTL.get()
      w.setOutput(ios)
      w.write(img)
      ios.flush()
    } finally ios.close()
    baos.toByteArray
  }
}
