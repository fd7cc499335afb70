package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Video-column operators — the VIDEO leg of the multimodal story
  * (north-star extension; image = [[Multimodal]], audio = [[Audio]]).
  *
  * Same architecture and REAL-codec discipline as the siblings: media as an
  * opaque `binary` column, every kernel a distributed per-blob transform.
  * Each query materializes a deterministic multi-frame video CONTAINER per
  * document — a 20-byte header (magic `GVID`, frame count, fps, geometry)
  * followed by length-prefixed 24bpp BMP frames, the trivial public
  * demuxable layout — then DEMUXES the container byte-for-byte, decodes
  * every frame with `javax.imageio.ImageIO` (the JDK's stock BMP reader),
  * and computes its output from the DECODED pixel grids. Frame pixels are
  * a pinned integer function of the document's bytes plus a per-frame
  * motion offset ([[frameDelta]]): consecutive frames differ by a +1
  * channel shift (slow motion) except at deterministic CUT transitions
  * where the shift jumps by +128 — so per-pixel mean absolute difference
  * between adjacent decoded frames is ≈2 within a scene and exactly 128
  * across a cut, and threshold-based shot-boundary detection
  * ([[CutThreshold]]) is exact, not statistical. The DuckDB oracle replays
  * the generator arithmetic per pixel per frame and re-derives the same
  * frame diffs, scene segmentation, and keyframe features — a hash match
  * certifies container demux (header fields, frame offsets/lengths) AND a
  * real codec round trip per frame AND the detection arithmetic on the
  * decoded values. A length-prefix slip, a frame-order bug, or any pixel
  * corruption shows up as an oracle mismatch.
  *
  * At 100 TB the shape is unchanged: one task per blob, frames never leave
  * their blob's task (scene detection is a sequential scan over an
  * already-in-memory handful of frames — the per-doc state is Θ(2 frames),
  * not Θ(video)), output is Θ(frames)/Θ(scenes), and swapping BMP-in-GVID
  * for H.264-in-MP4 changes [[parseContainer]] + [[Multimodal.decode]]
  * only. */
object Video {
  type Q = (SparkSession, String) => DataFrame

  /** Fixed frame rate of the synthesized containers. */
  private[graft] val Fps = 4

  /** Shot-boundary threshold on the per-transition mean absolute pixel
    * difference: within-scene motion measures ≈2 (a +1 mod-256 channel
    * shift: |diff| is 1 except the ~1/256 of channels that wrap to 255),
    * a cut measures exactly 128 (a +128 shift is ±128 for every channel
    * in mod-256 arithmetic) — 64 sits in the dead middle. */
  private[graft] val CutThreshold = 64.0

  /** Frame count for a payload of n bytes: 3–6, varies per document so
    * frame-count handling is actually exercised. */
  private[graft] def frameCount(n: Long): Int = (3 + n % 4).toInt

  /** Pinned cut schedule: transition into frame f (f ≥ 1) is a cut iff the
    * payload byte at index (31·f mod n) is ≡ 0 (mod 4) — ~25 % of
    * transitions, deterministic per document. */
  private[graft] def cutFlag(bytes: Array[Byte], f: Int): Boolean = {
    val v = if (bytes.length == 0) 0 else bytes((f * 31) % bytes.length) & 0xff
    v % 4 == 0
  }

  /** Per-frame motion offsets: Δ₀ = 0; Δ_f = Δ_{f−1} + (cut ? 128 : 1).
    * Closed form Δ_f = f + 127·(cuts ≤ f) — the oracle's window-sum
    * spelling. Applied mod 256 at the pixel site only, so the stored
    * offsets stay monotone (and DuckDB needs no modular cumsum). */
  private[graft] def frameDeltas(bytes: Array[Byte]): Array[Int] = {
    val out = new Array[Int](frameCount(bytes.length))
    var f = 1
    while (f < out.length) {
      out(f) = out(f - 1) + (if (cutFlag(bytes, f)) 128 else 1)
      f += 1
    }
    out
  }

  /** One frame's BMP blob: [[Multimodal.pixelChannels]] shifted by the
    * frame's motion offset, laid out straight into BMP bytes (bottom-up
    * padded rows — the [[Multimodal.mediaBlob]] path with a delta). */
  private[graft] def frameBmp(bytes: Array[Byte], delta: Int): Array[Byte] = {
    val (w, h) = Multimodal.dims(bytes.length)
    val rowSize = (3 * w + 3) / 4 * 4
    val out = new Array[Byte](54 + rowSize * h)
    Multimodal.writeBmpHeader(out, w, h, rowSize * h)
    var y = 0
    while (y < h) {
      val rowOff = 54 + (h - 1 - y) * rowSize // positive height ⇒ bottom-up
      var x = 0
      while (x < w) {
        val (r, g, b) = Multimodal.pixelChannels(bytes, w, x, y)
        val o = rowOff + 3 * x
        out(o) = ((b + delta) % 256).toByte
        out(o + 1) = ((g + delta) % 256).toByte
        out(o + 2) = ((r + delta) % 256).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  private def put32(out: Array[Byte], off: Int, v: Int): Unit = {
    out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
    out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
  }

  private def get32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  /** Synthesize the deterministic container for one payload: `GVID` magic,
    * u32le frame count / fps / width / height, then per frame a u32le
    * length prefix + the frame's BMP blob. */
  private[graft] def videoBlob(bytes: Array[Byte]): Array[Byte] = {
    val (w, h) = Multimodal.dims(bytes.length)
    val frames = frameDeltas(bytes).map(frameBmp(bytes, _))
    val out = new Array[Byte](20 + frames.map(4 + _.length).sum)
    out(0) = 'G'; out(1) = 'V'; out(2) = 'I'; out(3) = 'D'
    put32(out, 4, frames.length); put32(out, 8, Fps)
    put32(out, 12, w); put32(out, 16, h)
    var off = 20
    frames.foreach { fb =>
      put32(out, off, fb.length)
      System.arraycopy(fb, 0, out, off + 4, fb.length)
      off += 4 + fb.length
    }
    out
  }

  /** Demux a container: header fields + the length-prefixed frame blobs,
    * validated (magic, bounds, full consumption) — a malformed container
    * is a correctness failure here, not something to paper over. */
  private[graft] def parseContainer(
      blob: Array[Byte]): (Int, Int, Int, Int, Array[Array[Byte]]) = {
    require(blob.length >= 20 && blob(0) == 'G' && blob(1) == 'V' &&
      blob(2) == 'I' && blob(3) == 'D', "not a GVID container")
    val nf = get32(blob, 4); val fps = get32(blob, 8)
    val w = get32(blob, 12); val h = get32(blob, 16)
    val frames = new Array[Array[Byte]](nf)
    var off = 20
    var f = 0
    while (f < nf) {
      val len = get32(blob, off)
      require(off + 4 + len <= blob.length, s"frame $f overruns container")
      frames(f) = java.util.Arrays.copyOfRange(blob, off + 4, off + 4 + len)
      off += 4 + len
      f += 1
    }
    require(off == blob.length, "trailing bytes after last frame")
    (nf, fps, w, h, frames)
  }

  /** Decoded BGR grids of every frame — demux + one REAL ImageIO decode
    * per frame. The shared first stage of every kernel. */
  private def decodedFrames(text: String): (Int, Int, Int, Array[Array[Byte]]) = {
    val blob = videoBlob(
      (if (text == null) "" else text).getBytes("UTF-8"))
    val (nf, fps, w, h, frames) = parseContainer(blob)
    val px = frames.map(fb => Multimodal.bgrBytes(Multimodal.decode(fb)))
    px.foreach(p => require(p.length == 3 * w * h, "decoded size mismatch"))
    (fps, w, h, px) // nf == px.length by construction
  }

  // ---------------------------------------------------------------------
  // Standard-container leg: Motion-PNG in AVI (RIFF). GVID is the byte-
  // exact oracle vehicle; this leg muxes the SAME frames (losslessly
  // PNG-encoded, so decoded pixels are bit-identical) into a real
  // RIFF/AVI layout — 'hdrl' (avih + strl/strh/strf), 'movi' '00dc'
  // chunks with RIFF even-padding, and an 'idx1' index — and demuxes it
  // with a strict RIFF walker. Same kernels, externally-standard
  // container: the demux claim is no longer private to an invented
  // format. Swapping PNG for H.264 changes the frame codec only.
  // ---------------------------------------------------------------------

  private def fourcc(b: Array[Byte], off: Int, s: String): Unit = {
    var i = 0
    while (i < 4) { b(off + i) = s.charAt(i).toByte; i += 1 }
  }

  private def isFourcc(b: Array[Byte], off: Int, s: String): Boolean =
    b(off) == s.charAt(0).toByte && b(off + 1) == s.charAt(1).toByte &&
      b(off + 2) == s.charAt(2).toByte && b(off + 3) == s.charAt(3).toByte

  /** Minimal standards-compliant PNG encoder for one frame: 8-bit RGB
    * (color type 2), filter-0 scanlines, a single zlib IDAT
    * (Deflater BEST_SPEED), CRC-correct chunks — the frame-codec member
    * of the hand-written writer family (BMP header, WAV RIFF header, AVI
    * RIFF mux). Synthesis stays cheap and deterministic; the READ side
    * decodes through the real JDK PNG reader, and VideoSpec pins the
    * decoded grid bit-equal to the BMP path's. (`ImageIO.write` spends
    * ~1 ms/call on writer + stream setup — at 4–6 frames per doc that
    * made the AVI key the suite's most expensive; this encoder is the
    * same fix as the r9 raster/no-disk-cache decode optimization.) */
  /** Base (delta 0) PNG scanline buffer for a payload: one filter-0 byte
    * per row + the RGB channels of the shared pixel generator. Built ONCE
    * per blob; every frame's buffer is one byte-add away ([[shiftRaw]]) —
    * the per-pixel generator walk (plus its per-pixel tuple allocation)
    * was most of the encode constant at 4–6 frames per doc (r11 verdict
    * #4). */
  private def rawScanlines(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val raw = new Array[Byte](h * (1 + 3 * w))
    var o = 0
    var y = 0
    while (y < h) {
      raw(o) = 0 // filter type 0 (None) per scanline
      o += 1
      var x = 0
      while (x < w) {
        val (r, g, b) = Multimodal.pixelChannels(bytes, w, x, y)
        raw(o) = r.toByte
        raw(o + 1) = (g % 256).toByte
        raw(o + 2) = (b % 256).toByte
        o += 3
        x += 1
      }
      y += 1
    }
    raw
  }

  /** base + delta on every channel byte, filter bytes re-zeroed. Equal to
    * rebuilding the scanlines at `delta` because the generator's channel
    * arithmetic is mod-256 and `(b + delta).toByte` IS byte-wrap mod 256. */
  private def shiftRaw(base: Array[Byte], w: Int, h: Int, delta: Int): Array[Byte] = {
    val out = new Array[Byte](base.length)
    var i = 0
    while (i < base.length) { out(i) = (base(i) + delta).toByte; i += 1 }
    val stride = 1 + 3 * w
    var y = 0
    while (y < h) { out(y * stride) = 0; y += 1 }
    out
  }

  /** Thread-local reusable Deflater: creation is a native alloc/free per
    * call — at 4–6 frames per doc the churn shows up in the AVI key's
    * wall time. reset() restores the BEST_SPEED stream state exactly. */
  private val tlDeflater = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
  }

  private[graft] def encodePng(bytes: Array[Byte], delta: Int): Array[Byte] = {
    val (w, h) = Multimodal.dims(bytes.length)
    encodePngRaw(shiftRaw(rawScanlines(bytes, w, h), w, h, delta), w, h)
  }

  private def encodePngRaw(raw: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val defl = tlDeflater.get()
    defl.reset()
    defl.setInput(raw); defl.finish()
    // zlib compressBound: len + len/4096 + len/16384 + len/2^25 + 13 covers
    // the true worst case of the zlib format at any memLevel (stored-block
    // fallbacks per sym-buffer flush included — the previous 5-per-64KiB
    // bound undercounted those; ADVICE r11), so the drain below can never
    // exhaust the buffer. The require stays as a loud backstop.
    val idat = new Array[Byte](
      raw.length + (raw.length >> 12) + (raw.length >> 14) + (raw.length >> 25) + 13)
    var idatLen = 0
    while (!defl.finished()) {
      val n = defl.deflate(idat, idatLen, idat.length - idatLen)
      require(n > 0 || defl.finished(),
        s"PNG IDAT buffer exhausted at $idatLen/${idat.length} bytes")
      idatLen += n
    }
    val out = new Array[Byte](8 + 25 + (12 + idatLen) + 12)
    var p = 0
    Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a)
      .foreach { v => out(p) = v.toByte; p += 1 }
    def be32(v: Int): Unit = {
      out(p) = (v >> 24).toByte; out(p + 1) = (v >> 16).toByte
      out(p + 2) = (v >> 8).toByte; out(p + 3) = v.toByte; p += 4
    }
    def chunk(typ: String, data: Array[Byte], len: Int): Unit = {
      be32(len)
      val t = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      System.arraycopy(t, 0, out, p, 4); p += 4
      System.arraycopy(data, 0, out, p, len); p += len
      val crc = new java.util.zip.CRC32
      crc.update(t); crc.update(data, 0, len)
      be32(crc.getValue.toInt)
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = (w >> 24).toByte; ihdr(1) = (w >> 16).toByte
    ihdr(2) = (w >> 8).toByte; ihdr(3) = w.toByte
    ihdr(4) = (h >> 24).toByte; ihdr(5) = (h >> 16).toByte
    ihdr(6) = (h >> 8).toByte; ihdr(7) = h.toByte
    ihdr(8) = 8; ihdr(9) = 2 // bit depth 8, color type 2 (truecolor RGB)
    chunk("IHDR", ihdr, 13)
    chunk("IDAT", idat, idatLen)
    chunk("IEND", Array.emptyByteArray, 0)
    require(p == out.length, "PNG size accounting")
    out
  }

  /** Mux one payload's frames as Motion-PNG in AVI. Every size field,
    * even-padding rule, and index entry follows the public RIFF/AVI
    * layout (AVIMAINHEADER / AVISTREAMHEADER / BITMAPINFOHEADER). */
  private[graft] def aviBlob(bytes: Array[Byte]): Array[Byte] = {
    val (w, h) = Multimodal.dims(bytes.length)
    // one generator walk for the whole blob; each frame is a byte-shift
    val base = rawScanlines(bytes, w, h)
    val frames: Array[Array[Byte]] =
      frameDeltas(bytes).map(d => encodePngRaw(shiftRaw(base, w, h, d), w, h))
    val nf = frames.length
    def padded(n: Int) = n + (n & 1) // RIFF chunks are word-aligned
    val moviData = 4 + frames.map(f => 8 + padded(f.length)).sum
    val hdrlData = 4 + 8 + 56 + (8 + 4 + 8 + 56 + 8 + 40) // avih + LIST strl
    val idx1Data = 16 * nf
    val riffData = 4 + (8 + hdrlData) + (8 + moviData) + (8 + idx1Data)
    val out = new Array[Byte](8 + riffData)
    var o = 0
    def chunk(id: String, size: Int): Unit = { fourcc(out, o, id); put32(out, o + 4, size); o += 8 }
    fourcc(out, 0, "RIFF"); put32(out, 4, riffData); fourcc(out, 8, "AVI "); o = 12
    chunk("LIST", hdrlData); fourcc(out, o, "hdrl"); o += 4
    chunk("avih", 56)
    put32(out, o, 1000000 / Fps)          // dwMicroSecPerFrame
    put32(out, o + 16, nf)                // dwTotalFrames
    put32(out, o + 24, 1)                 // dwStreams
    put32(out, o + 32, w); put32(out, o + 36, h)
    o += 56
    chunk("LIST", 4 + 8 + 56 + 8 + 40); fourcc(out, o, "strl"); o += 4
    chunk("strh", 56)
    fourcc(out, o, "vids"); fourcc(out, o + 4, "MPNG")
    put32(out, o + 20, 1)                 // dwScale
    put32(out, o + 24, Fps)               // dwRate (fps = rate/scale)
    put32(out, o + 32, nf)                // dwLength
    o += 56
    chunk("strf", 40)
    put32(out, o, 40)                     // biSize
    put32(out, o + 4, w); put32(out, o + 8, h)
    out(o + 12) = 1                       // biPlanes
    out(o + 14) = 24                      // biBitCount
    fourcc(out, o + 16, "MPNG")           // biCompression
    o += 40
    chunk("LIST", moviData); fourcc(out, o, "movi"); o += 4
    frames.foreach { f =>
      chunk("00dc", f.length)
      System.arraycopy(f, 0, out, o, f.length)
      o += padded(f.length)
    }
    chunk("idx1", idx1Data)
    var moviOff = 4 // first chunk sits right after the 'movi' fourcc
    frames.foreach { f =>
      fourcc(out, o, "00dc"); put32(out, o + 4, 0x10) // AVIIF_KEYFRAME
      put32(out, o + 8, moviOff); put32(out, o + 12, f.length)
      o += 16
      moviOff += 8 + padded(f.length)
    }
    require(o == out.length, "AVI mux size accounting")
    out
  }

  /** Strict RIFF/AVI demux: validates the RIFF envelope, reads geometry and
    * frame count from `avih`, fps from `strh` rate/scale, collects the
    * `00dc` frame chunks from `movi` (even-padding honored), and checks
    * every `idx1` entry against the actual chunk offsets/sizes. Malformed
    * input is a correctness failure, as in [[parseContainer]]. */
  private[graft] def parseAviContainer(
      blob: Array[Byte]): (Int, Int, Int, Int, Array[Array[Byte]]) = {
    require(blob.length >= 12 && isFourcc(blob, 0, "RIFF") &&
      isFourcc(blob, 8, "AVI "), "not a RIFF/AVI container")
    require(get32(blob, 4) == blob.length - 8, "RIFF size mismatch")
    var nf = -1; var fps = -1; var w = -1; var h = -1
    var frames: Array[Array[Byte]] = null
    var idx: Array[(Int, Int)] = null
    var moviStart = -1
    var o = 12
    while (o < blob.length) {
      // size fields are untrusted input: a negative, oversized, or
      // Int-OVERFLOWING value (o + 8 + size wrapping negative) must be the
      // documented IllegalArgumentException failure mode, never an
      // ArrayIndexOutOfBounds or a non-terminating walk — hence the Long
      // arithmetic and the truncated-header pre-check before get32 reads
      require(o + 8 <= blob.length, s"truncated chunk header at $o")
      val size = get32(blob, o + 4)
      require(size >= 0 && o + 8 + size.toLong <= blob.length,
        s"chunk at $o: size $size overruns container of ${blob.length}")
      if (isFourcc(blob, o, "LIST")) {
        val listEnd = o + 8 + size
        if (isFourcc(blob, o + 8, "hdrl")) {
          var p = o + 12
          while (p < listEnd) {
            require(p + 8 <= listEnd, s"truncated hdrl chunk header at $p")
            val csz = get32(blob, p + 4)
            require(csz >= 0 && p + 8 + csz.toLong <= listEnd,
              s"hdrl chunk at $p: size $csz overruns list end $listEnd")
            if (isFourcc(blob, p, "avih")) {
              nf = get32(blob, p + 8 + 16)
              w = get32(blob, p + 8 + 32); h = get32(blob, p + 8 + 36)
            } else if (isFourcc(blob, p, "LIST") && isFourcc(blob, p + 8, "strl")) {
              var q = p + 12
              while (q < p + 8 + csz) {
                require(q + 8 <= p + 8 + csz, s"truncated strl chunk header at $q")
                val ssz = get32(blob, q + 4)
                require(ssz >= 0 && q + 8 + ssz.toLong <= p + 8 + csz,
                  s"strl chunk at $q: size $ssz overruns strl list")
                if (isFourcc(blob, q, "strh")) {
                  require(isFourcc(blob, q + 8, "vids"), "first stream not video")
                  val scale = get32(blob, q + 8 + 20); val rate = get32(blob, q + 8 + 24)
                  require(scale > 0, "zero strh scale")
                  fps = rate / scale
                }
                q += 8 + ssz + (ssz & 1)
              }
            }
            p += 8 + csz + (csz & 1)
          }
        } else if (isFourcc(blob, o + 8, "movi")) {
          moviStart = o + 8
          val fs = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
          var p = o + 12
          while (p < listEnd) {
            require(p + 8 <= listEnd, s"truncated movi chunk header at $p")
            val csz = get32(blob, p + 4)
            require(isFourcc(blob, p, "00dc"), "unexpected movi chunk")
            require(csz >= 0 && p + 8 + csz.toLong <= listEnd, "frame overruns movi list")
            fs += java.util.Arrays.copyOfRange(blob, p + 8, p + 8 + csz)
            p += 8 + csz + (csz & 1)
          }
          frames = fs.toArray
        }
      } else if (isFourcc(blob, o, "idx1")) {
        idx = Array.tabulate(size / 16) { i =>
          val e = o + 8 + 16 * i
          require(isFourcc(blob, e, "00dc"), "unexpected idx1 id")
          (get32(blob, e + 8), get32(blob, e + 12))
        }
      }
      o += 8 + size + (size & 1)
    }
    require(o == blob.length, "trailing bytes after last RIFF chunk")
    require(frames != null && nf >= 0 && fps > 0 && w > 0 && h > 0, "missing AVI headers")
    require(frames.length == nf, s"avih frame count $nf vs ${frames.length} movi chunks")
    require(idx != null && idx.length == nf, "idx1 missing or wrong arity")
    var off = 4
    idx.zipWithIndex.foreach { case ((io, isz), i) =>
      require(io == off && isz == frames(i).length, s"idx1 entry $i disagrees with movi")
      require(isFourcc(blob, moviStart + io, "00dc"), s"idx1 offset $i points off-chunk")
      off += 8 + frames(i).length + (frames(i).length & 1)
    }
    (nf, fps, w, h, frames)
  }

  /** Thread-local reusable JDK PNG reader: `ImageIO.read` pays an SPI
    * reader lookup + stream wrapper per call, which at 4–6 frames per doc
    * dominates the decode. Reusing one reader instance per task thread is
    * the standard ImageIO serving idiom; it is still the REAL JDK PNG
    * codec doing every inflate and defilter (VideoSpec bit-parity pins
    * the decoded grids). */
  private val pngReader = new ThreadLocal[javax.imageio.ImageReader] {
    override def initialValue(): javax.imageio.ImageReader = {
      val it = javax.imageio.ImageIO.getImageReadersByFormatName("png")
      require(it.hasNext, "no JDK PNG reader")
      it.next()
    }
  }

  /** Per-thread destination image cache keyed by (w, h): with a reusable
    * destination the reader skips the per-frame BufferedImage/raster
    * allocation + color-model setup ([[javax.imageio.ImageReadParam]]
    * `setDestination`, the standard ImageIO serving idiom). The returned
    * image is OVERWRITTEN by the next same-shape decode on this thread —
    * callers must extract pixels before decoding the next frame (both
    * callers do: [[Multimodal.bgrBytes]] copies interleaved rasters). */
  private val pngDest = new ThreadLocal[
      java.util.HashMap[Long, java.awt.image.BufferedImage]] {
    override def initialValue() = new java.util.HashMap()
  }

  // the minimal in-memory ImageInputStream lives in MediaIO since r15 so
  // the BMP/PNG/writer paths share it
  private type ByteArrayImageInputStream = MediaIO.ByteArrayImageInputStream

  /** REAL JDK PNG decode via the reused reader (every inflate and
    * defilter is the JDK codec; VideoSpec pins decoded-grid bit-parity). */
  private[graft] def decodePng(blob: Array[Byte]): java.awt.image.BufferedImage = {
    val r = pngReader.get()
    val iis = new ByteArrayImageInputStream(blob)
    try {
      r.setInput(iis)
      val w = r.getWidth(0); val h = r.getHeight(0)
      val key = (w.toLong << 32) | h
      val cache = pngDest.get()
      var dst = cache.get(key)
      if (dst == null) {
        dst = r.getImageTypes(0).next().createBufferedImage(w, h)
        cache.put(key, dst)
      }
      val param = r.getDefaultReadParam
      param.setDestination(dst)
      r.read(0, param)
    } finally { iis.close() }
  }

  /** AVI twin of [[decodedFrames]] — the standard-container path into the
    * same kernels. */
  private def decodedFramesAvi(text: String): (Int, Int, Int, Array[Array[Byte]]) = {
    val blob = aviBlob((if (text == null) "" else text).getBytes("UTF-8"))
    val (_, fps, w, h, frames) = parseAviContainer(blob)
    val px = frames.map { fb =>
      val img = decodePng(fb)
      val raw = Multimodal.bgrBytes(img)
      // the reused destination is overwritten by the next decode: if
      // bgrBytes returned the raster's backing array zero-copy, detach it
      val backing = img.getRaster.getDataBuffer match {
        case b: java.awt.image.DataBufferByte => b.getData
        case _ => null
      }
      if (raw eq backing) raw.clone() else raw
    }
    px.foreach(p => require(p.length == 3 * w * h, "decoded size mismatch"))
    (fps, w, h, px)
  }

  /** Per-transition sum of absolute channel differences between two
    * decoded frames. */
  private def sad(a: Array[Byte], b: Array[Byte]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { s += math.abs((a(i) & 0xff) - (b(i) & 0xff)); i += 1 }
    s
  }

  /** Scene ids per frame from the decoded grids: frame 0 opens scene 0, a
    * new scene starts wherever the transition's mean absolute difference
    * exceeds [[CutThreshold]]. */
  private def sceneIds(w: Int, h: Int, px: Array[Array[Byte]]): Array[Int] = {
    val ids = new Array[Int](px.length)
    var f = 1
    while (f < px.length) {
      val madiff = Multimodal.fp(sad(px(f), px(f - 1)), 3L * w * h)
      ids(f) = ids(f - 1) + (if (madiff > CutThreshold) 1 else 0)
      f += 1
    }
    ids
  }

  /** Container + per-frame decode metadata: true header geometry, real
    * container size, duration, mean luma over every decoded frame. */
  val videoMeta: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    // r15: demux+decode once per DISTINCT text ([[Contract.perText]])
    Contract.perText(s, d) { reps =>
      reps.map { case (h, text) =>
        val blob = videoBlob((if (text == null) "" else text).getBytes("UTF-8"))
        val (nf, fps, w, hh, frames) = parseContainer(blob)
        var sum = 0L
        frames.foreach { fb =>
          val px = Multimodal.bgrBytes(Multimodal.decode(fb))
          var i = 0
          while (i < px.length) { sum += px(i) & 0xff; i += 1 }
        }
        (h, nf.toLong, fps.toLong, w.toLong, hh.toLong,
          nf.toLong * 1000L / fps, blob.length.toLong,
          Multimodal.fp(sum, 3L * w * hh * nf))
      }
      .toDF("h", "n_frames", "fps", "width", "height", "duration_ms",
        "n_bytes", "mean_luma")
    }.orderBy(col("doc_id"))
  }

  /** One document's scene table — the shared per-doc kernel of
    * [[videoScenes]] and the streaming twin
    * ([[graft.streaming.Streams.videoScenesStream]]): demux, decode every
    * frame for real, segment. One definition so the two descriptions of
    * the detector cannot fork. */
  private[graft] def sceneRowsOf(
      id: Long, text: String): Iterator[(Long, Long, Long, Long, Long)] = {
    val (_, w, h, px) = decodedFrames(text)
    sceneRowsFrom(id, w, h, px)
  }

  /** The AVI-path twin: same spans from the standard container's decoded
    * frames. VideoSpec pins the two containers' decoded pixels (and hence
    * every downstream row) bit-identical. */
  private[graft] def sceneRowsOfAvi(
      id: Long, text: String): Iterator[(Long, Long, Long, Long, Long)] = {
    val (_, w, h, px) = decodedFramesAvi(text)
    sceneRowsFrom(id, w, h, px)
  }

  private def sceneRowsFrom(id: Long, w: Int, h: Int,
      px: Array[Array[Byte]]): Iterator[(Long, Long, Long, Long, Long)] = {
    val ids = sceneIds(w, h, px)
    val spans = scala.collection.mutable.LinkedHashMap.empty[Int, (Int, Int)]
    var f = 0
    while (f < ids.length) {
      val cur = spans.getOrElse(ids(f), (f, f))
      spans(ids(f)) = (math.min(cur._1, f), math.max(cur._2, f))
      f += 1
    }
    spans.iterator.map { case (sid, (a, b)) =>
      (id, sid.toLong, a.toLong, b.toLong, (b - a + 1).toLong)
    }
  }

  /** Shot-boundary detection → scene table: one row per detected scene
    * with its frame span. The per-doc kernel is a sequential two-frame
    * sliding pass over the decoded grids — Θ(2 frames) state. */
  val videoScenes: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    // r15: decode+scene-cut once per DISTINCT text; the shared streaming
    // kernel's id slot is passthrough, re-keyed by text hash
    Contract.perText(s, d) { reps =>
      reps.flatMap { case (h, text) =>
        sceneRowsOf(0L, text).map { case (_, sc, st, en, nf) => (h, sc, st, en, nf) }
      }.toDF("h", "scene_id", "start_frame", "end_frame", "n_frames")
    }.orderBy(col("doc_id"), col("scene_id"))
  }

  /** One document's perceptual video signature: the XOR of the 64-bit
    * dHashes ([[Multimodal.dhash]]) of its scene-opening keyframes, plus
    * the scene count — content-derived, frame-exact, and invariant to
    * container-level byte differences that decode to the same pixels. */
  private[graft] def videoSignature(text: String): (Long, Long, Long) = {
    val (_, w, h, px) = decodedFrames(text)
    val ids = sceneIds(w, h, px)
    var hi = 0L; var lo = 0L; var scenes = 0L
    var f = 0
    while (f < px.length) {
      if (f == 0 || ids(f) != ids(f - 1)) {
        val (dh, dl) = Multimodal.dhash(px(f), w, h)
        hi ^= dh; lo ^= dl; scenes += 1
      }
      f += 1
    }
    (hi, lo, scenes)
  }

  /** Video near-dedup by perceptual signature — the video member of the
    * dedup verdict family (image = [[Multimodal.imageDedup]], text =
    * exact/minhash/simhash): decode every video, hash its keyframes,
    * group identical (signature, scene-count) pairs into families, keep
    * the min-id representative. One hash-shuffle keyed on 17 bytes per
    * video — Θ(videos) at any corpus size; the frames never move. */
  val videoDedup: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    // r15: ONE decode+hash pass per DISTINCT text (sigFrame's contraction)
    val sigs = sigFrame(s, Tables.documents(s, d))
    // family stats via an unordered window over the signature — ONE decode
    // pass and ONE hash-shuffle (the imageDedup plan shape)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sig_hi"), col("sig_lo"), col("n_scenes"))
    sigs
      .select(col("doc_id"), col("sig_hi"), col("sig_lo"), col("n_scenes"),
        min(col("doc_id")).over(w).as("rep_id"),
        count(lit(1)).over(w).cast("long").as("family_size"))
      .select(col("doc_id"), col("sig_hi"), col("sig_lo"), col("n_scenes"),
        col("rep_id"), col("family_size"),
        (col("doc_id") =!= col("rep_id")).cast("int").as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** Keyframe extraction: the first frame of each detected scene, with a
    * 4-bin normalized luma histogram of its DECODED grid — the fixed-size
    * per-keyframe feature a downstream vision encoder would consume. */
  val videoKeyframes: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    // r15: decode+keyframe-histogram once per DISTINCT text
    Contract.perText(s, d) { reps =>
      reps.flatMap { case (hkey, text) =>
        val (_, w, h, px) = decodedFrames(text)
        val ids = sceneIds(w, h, px)
        (0 until px.length).iterator
          .filter(f => f == 0 || ids(f) != ids(f - 1))
          .map { f =>
            val p = px(f)
            val hist = new Array[Long](4)
            var i = 0
            while (i < p.length) {
              val luma = ((p(i) & 0xff) + (p(i + 1) & 0xff) + (p(i + 2) & 0xff)) / 3
              hist(luma >> 6) += 1L
              i += 3
            }
            val n = w.toLong * h
            (hkey, ids(f).toLong, f.toLong,
              Multimodal.fp(hist(0), n), Multimodal.fp(hist(1), n),
              Multimodal.fp(hist(2), n), Multimodal.fp(hist(3), n))
          }
      }
      .toDF("h", "scene_id", "frame_idx", "b0", "b1", "b2", "b3")
    }.orderBy(col("doc_id"), col("scene_id"))
  }

  /** Temporal 2× downsample — the video transform sibling of
    * [[Audio.audioResample]] / [[Multimodal.multimodalResize]]: demux,
    * keep every 2nd frame, REALLY decode each survivor and re-encode it
    * through the codec ([[Multimodal.encodeBmp]]), re-mux a new GVID
    * container, then demux + decode THAT and report its stats — a full
    * demux → decode → transform → encode → mux → demux → decode round
    * trip, every number oracle-replayable. Per-blob task, Θ(frames)
    * work, nothing leaves the task but the stat row. */
  val videoSample: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    // r15: the demux→decode→encode→mux→demux→decode round trip runs once
    // per DISTINCT text ([[Contract.perText]])
    Contract.perText(s, d) { reps =>
      reps.map { case (hkey, text) =>
        val blob = videoBlob((if (text == null) "" else text).getBytes("UTF-8"))
        val (nf, fps, w, h, frames) = parseContainer(blob)
        val kept = (0 until nf).filter(_ % 2 == 0).map { f =>
          Multimodal.encodeBmp(Multimodal.decode(frames(f)))
        }
        val out = new Array[Byte](20 + kept.map(4 + _.length).sum)
        out(0) = 'G'; out(1) = 'V'; out(2) = 'I'; out(3) = 'D'
        put32(out, 4, kept.length); put32(out, 8, fps)
        put32(out, 12, w); put32(out, 16, h)
        var off = 20
        kept.foreach { fb =>
          put32(out, off, fb.length)
          System.arraycopy(fb, 0, out, off + 4, fb.length)
          off += 4 + fb.length
        }
        val (nf2, fps2, w2, h2, frames2) = parseContainer(out)
        var sum = 0L
        frames2.foreach { fb =>
          val px = Multimodal.bgrBytes(Multimodal.decode(fb))
          var i = 0
          while (i < px.length) { sum += px(i) & 0xff; i += 1 }
        }
        (hkey, nf.toLong, nf2.toLong, nf2.toLong * 1000L / fps2,
          out.length.toLong, Multimodal.fp(sum, 3L * w2 * h2 * nf2))
      }
      .toDF("h", "n_frames_in", "n_frames_out", "duration_ms_out",
        "n_bytes_out", "mean_luma_out")
    }.orderBy(col("doc_id"))
  }

  /** Per-doc signature frame — the shared decode+hash pass of
    * [[videoDedup]] and the at-rest screen family. */
  private[operators] def sigFrame(s: SparkSession, docs: DataFrame): DataFrame = {
    val spark = s
    import spark.implicits._
    // r15: decode+hash once per DISTINCT text ([[Contract.perTextOf]])
    Contract.perTextOf(docs) { reps =>
      reps.map { case (h, text) =>
        val (hi, lo, scenes) = videoSignature(text)
        (h, hi, lo, scenes)
      }.toDF("h", "sig_hi", "sig_lo", "n_scenes")
    }.select(col("doc_id"), col("sig_hi"), col("sig_lo"), col("n_scenes"))
  }

  /** AT-REST video screen as a suite key — "has this incoming video's
    * perceptual signature been seen before?" against the persisted index
    * (memoized build, the screen-family pattern). With this, all FIVE
    * perceptual/content screens (minhash, simhash, dhash, afp, vsig)
    * have at-rest batch forms. */
  val videoScreenAtRest: Q = Vectors.served((s, d) => {
    val idx = Index.ensure(s, Index.Vsig, d)
    Index.screenByKey(Index.Vsig, s, idx, Tables.documents(s, d)
      .where(col("source") === Vectors.MinhashBatchSource))
  })

  /** Shot-boundary detection served from the STANDARD container: mux the
    * same frames as Motion-PNG in AVI, demux with the strict RIFF walker,
    * decode every PNG frame for real, segment with the shared kernel. The
    * oracle is [[videoScenes]]'s verbatim — the scene table is a contract
    * on the decoded CONTENT, so a hash match certifies that the RIFF/AVI
    * mux+demux and the PNG codec round trip preserve every pixel the GVID
    * path produces (PNG is lossless; any container or codec slip diverges
    * the segmentation). */
  val videoScenesAvi: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    // r15: AVI demux+decode+scene-cut once per DISTINCT text
    Contract.perText(s, d) { reps =>
      reps.flatMap { case (h, text) =>
        sceneRowsOfAvi(0L, text).map { case (_, sc, st, en, nf) => (h, sc, st, en, nf) }
      }.toDF("h", "scene_id", "start_frame", "end_frame", "n_frames")
    }.orderBy(col("doc_id"), col("scene_id"))
  }

  val queries: Map[String, Q] = Map(
    "q_video_meta"           -> videoMeta,
    "q_video_scenes"         -> videoScenes,
    "q_video_scenes_avi"     -> videoScenesAvi,
    "q_video_keyframes"      -> videoKeyframes,
    "q_video_dedup"          -> videoDedup,
    "q_video_screen_at_rest" -> videoScreenAtRest,
    "q_video_sample"         -> videoSample,
  )

  /** Shared oracle CTE: per-frame generator replay. `del` re-derives the
    * motion offsets with the closed form Δ_f = f + 127·cumcuts; `pc` is
    * the per-(frame, pixel) channel grid the decoded rasters must equal;
    * `md`/`sid` re-run the DETECTION arithmetic (lag + mean |diff| +
    * threshold + cumsum) on those pixels, exactly as the Spark kernel does
    * on the decoded bytes. */
  private val videoCte =
    s"""t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n FROM documents),
       |d AS (SELECT doc_id, text, n,
       |  16 + n % 17 AS w, 8 + n % 9 AS h, 3 + n % 4 AS nf FROM t),
       |fr AS (SELECT doc_id, text, n, w, h, nf,
       |  unnest(range(0, nf)) AS f FROM d),
       |cuts AS (
       |  SELECT doc_id, f,
       |    CASE WHEN f = 0 THEN 0
       |      WHEN (CASE WHEN n = 0 THEN 0
       |        ELSE ascii(substr(text, CAST(((f * 31) % n) + 1 AS INT), 1)) END)
       |        % 4 = 0 THEN 1 ELSE 0 END AS cg
       |  FROM fr),
       |del AS (
       |  SELECT doc_id, f, f + 127 * sum(cg)
       |    OVER (PARTITION BY doc_id ORDER BY f) AS delta
       |  FROM cuts),
       |px AS (
       |  SELECT doc_id, text, n, w, h, nf, f,
       |    unnest(range(0, w * h)) AS i FROM fr),
       |v AS (
       |  SELECT doc_id, w, h, nf, f, i % w AS x, i // w AS y,
       |    CASE WHEN n = 0 THEN 0
       |         ELSE ascii(substr(text, CAST((i % n) + 1 AS INT), 1)) END AS vb
       |  FROM px),
       |pc AS (
       |  SELECT v.doc_id, v.w, v.h, v.nf, v.f, v.x, v.y,
       |    (vb + delta) % 256 AS r,
       |    (vb + x + delta) % 256 AS g,
       |    (vb + y + delta) % 256 AS b
       |  FROM v JOIN del ON del.doc_id = v.doc_id AND del.f = v.f),
       |sd AS (
       |  SELECT doc_id, w, h, nf, f,
       |    abs(r - lag(r) OVER pw) + abs(g - lag(g) OVER pw)
       |      + abs(b - lag(b) OVER pw) AS sad
       |  FROM pc
       |  WINDOW pw AS (PARTITION BY doc_id, x, y ORDER BY f)),
       |md AS (
       |  SELECT doc_id, f,
       |    CAST(CAST(sum(sad) AS BIGINT) * 10000 // (3 * w * h) AS DOUBLE)
       |      / 10000.0 AS madiff
       |  FROM sd WHERE f > 0 GROUP BY doc_id, f, w, h),
       |sid AS (
       |  SELECT fr.doc_id, fr.f, fr.w, fr.h,
       |    sum(CASE WHEN md.madiff > ${CutThreshold} THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY fr.doc_id ORDER BY fr.f) AS scene_id
       |  FROM fr LEFT JOIN md ON md.doc_id = fr.doc_id AND md.f = fr.f)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_video_meta" ->
      s"""WITH $videoCte
         |SELECT pc.doc_id,
         |  CAST(nf AS BIGINT) AS n_frames, CAST(${Fps} AS BIGINT) AS fps,
         |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
         |  CAST(nf * 1000 // ${Fps} AS BIGINT) AS duration_ms,
         |  CAST(20 + nf * (4 + 54 + h * ((3 * w + 3) // 4 * 4)) AS BIGINT)
         |    AS n_bytes,
         |  CAST(CAST(sum(r + g + b) AS BIGINT) * 10000
         |    // (3 * w * h * nf) AS DOUBLE) / 10000.0 AS mean_luma
         |FROM pc GROUP BY pc.doc_id, w, h, nf ORDER BY doc_id""".stripMargin,
    // temporal 2x downsample: surviving frames f%2=0 from the generator,
    // halved-count header/byte arithmetic, mean over the kept frames only
    "q_video_sample" ->
      s"""WITH $videoCte
         |SELECT pc.doc_id,
         |  CAST(nf AS BIGINT) AS n_frames_in,
         |  CAST((nf + 1) // 2 AS BIGINT) AS n_frames_out,
         |  CAST(((nf + 1) // 2) * 1000 // ${Fps} AS BIGINT) AS duration_ms_out,
         |  CAST(20 + ((nf + 1) // 2) * (4 + 54 + h * ((3 * w + 3) // 4 * 4))
         |    AS BIGINT) AS n_bytes_out,
         |  CAST(CAST(sum(r + g + b) AS BIGINT) * 10000
         |    // (3 * w * h * ((nf + 1) // 2)) AS DOUBLE) / 10000.0
         |    AS mean_luma_out
         |FROM pc WHERE f % 2 = 0
         |GROUP BY pc.doc_id, w, h, nf ORDER BY doc_id""".stripMargin,
    "q_video_scenes" ->
      s"""WITH $videoCte
         |SELECT doc_id, CAST(scene_id AS BIGINT) AS scene_id,
         |  CAST(min(f) AS BIGINT) AS start_frame,
         |  CAST(max(f) AS BIGINT) AS end_frame,
         |  CAST(count(*) AS BIGINT) AS n_frames
         |FROM sid GROUP BY doc_id, scene_id
         |ORDER BY doc_id, scene_id""".stripMargin,
    // the AVI leg answers the SAME content contract — the generator replay
    // is container-independent, so the verbatim scenes oracle hash-checks
    // the RIFF/AVI demux + PNG round trip end to end
    "q_video_scenes_avi" ->
      s"""WITH $videoCte
         |SELECT doc_id, CAST(scene_id AS BIGINT) AS scene_id,
         |  CAST(min(f) AS BIGINT) AS start_frame,
         |  CAST(max(f) AS BIGINT) AS end_frame,
         |  CAST(count(*) AS BIGINT) AS n_frames
         |FROM sid GROUP BY doc_id, scene_id
         |ORDER BY doc_id, scene_id""".stripMargin,
    "q_video_keyframes" ->
      s"""WITH $videoCte,
         |kf AS (
         |  SELECT doc_id, scene_id, min(f) AS frame_idx
         |  FROM sid GROUP BY doc_id, scene_id),
         |bins AS (
         |  SELECT kf.doc_id, kf.scene_id, kf.frame_idx, pc.w, pc.h,
         |    ((r + g + b) // 3) // 64 AS bin
         |  FROM kf JOIN pc
         |    ON pc.doc_id = kf.doc_id AND pc.f = kf.frame_idx),
         |hh AS (
         |  SELECT doc_id, scene_id, frame_idx, max(w * h) AS np,
         |    CAST(sum(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         |    CAST(sum(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         |    CAST(sum(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3
         |  FROM bins GROUP BY doc_id, scene_id, frame_idx)
         |SELECT doc_id, CAST(scene_id AS BIGINT) AS scene_id,
         |  CAST(frame_idx AS BIGINT) AS frame_idx,
         |  CAST(c0 * 10000 // np AS DOUBLE) / 10000.0 AS b0,
         |  CAST(c1 * 10000 // np AS DOUBLE) / 10000.0 AS b1,
         |  CAST(c2 * 10000 // np AS DOUBLE) / 10000.0 AS b2,
         |  CAST(c3 * 10000 // np AS DOUBLE) / 10000.0 AS b3
         |FROM hh ORDER BY doc_id, scene_id""".stripMargin,
    // perceptual video signature: per-keyframe dHash (the q_image_dedup
    // sampling/bit chain, per keyframe), XOR-folded per doc, then
    // identical-signature families with min-id representative
    "q_video_dedup" ->
      s"""WITH $videoCte,
         |kf AS (SELECT doc_id, scene_id, min(f) AS fi
         |       FROM sid GROUP BY doc_id, scene_id),
         |lum AS (SELECT doc_id, f, x, y, (r + g + b) // 3 AS luma FROM pc),
         |grid AS (
         |  SELECT kf.doc_id, kf.fi, d.w, d.h, unnest(range(0, 8)) AS gy
         |  FROM kf JOIN d ON d.doc_id = kf.doc_id),
         |gg AS (
         |  SELECT doc_id, fi, w, h, gy, unnest(range(0, 9)) AS gx FROM grid),
         |sampled AS (
         |  SELECT gg.doc_id, gg.fi, gg.gy, gg.gx, lum.luma
         |  FROM gg JOIN lum ON lum.doc_id = gg.doc_id AND lum.f = gg.fi
         |    AND lum.x = (gg.gx * gg.w) // 9 AND lum.y = (gg.gy * gg.h) // 8),
         |bits AS (
         |  SELECT doc_id, fi, gy, gx, luma,
         |    lead(luma) OVER (PARTITION BY doc_id, fi, gy ORDER BY gx) AS nxt
         |  FROM sampled),
         |hh AS (
         |  SELECT doc_id, fi,
         |    CAST(sum(CASE WHEN gy >= 4 AND gx < 8 AND nxt > luma
         |      THEN CAST(1 AS BIGINT) << (8 * (gy % 4) + gx) ELSE 0 END)
         |      AS BIGINT) AS dhi,
         |    CAST(sum(CASE WHEN gy < 4 AND gx < 8 AND nxt > luma
         |      THEN CAST(1 AS BIGINT) << (8 * (gy % 4) + gx) ELSE 0 END)
         |      AS BIGINT) AS dlo
         |  FROM bits GROUP BY doc_id, fi),
         |sig AS (
         |  SELECT doc_id, CAST(bit_xor(dhi) AS BIGINT) AS sig_hi,
         |    CAST(bit_xor(dlo) AS BIGINT) AS sig_lo,
         |    CAST(count(*) AS BIGINT) AS n_scenes
         |  FROM hh GROUP BY doc_id),
         |fam AS (
         |  SELECT sig_hi, sig_lo, n_scenes, min(doc_id) AS rep_id,
         |    CAST(count(*) AS BIGINT) AS family_size
         |  FROM sig GROUP BY sig_hi, sig_lo, n_scenes)
         |SELECT s.doc_id, s.sig_hi, s.sig_lo, s.n_scenes, f.rep_id,
         |  f.family_size,
         |  CAST(CASE WHEN s.doc_id <> f.rep_id THEN 1 ELSE 0 END AS INT)
         |    AS is_dup
         |FROM sig s JOIN fam f USING (sig_hi, sig_lo, n_scenes)
         |ORDER BY s.doc_id""".stripMargin,
    // at-rest screen: same signature chain split at-rest/batch by source;
    // batch verdict = left join on the contracted (signature -> min ref)
    "q_video_screen_at_rest" ->
      s"""WITH $videoCte,
         |kf AS (SELECT doc_id, scene_id, min(f) AS fi
         |       FROM sid GROUP BY doc_id, scene_id),
         |lum AS (SELECT doc_id, f, x, y, (r + g + b) // 3 AS luma FROM pc),
         |grid AS (
         |  SELECT kf.doc_id, kf.fi, d.w, d.h, unnest(range(0, 8)) AS gy
         |  FROM kf JOIN d ON d.doc_id = kf.doc_id),
         |gg AS (
         |  SELECT doc_id, fi, w, h, gy, unnest(range(0, 9)) AS gx FROM grid),
         |sampled AS (
         |  SELECT gg.doc_id, gg.fi, gg.gy, gg.gx, lum.luma
         |  FROM gg JOIN lum ON lum.doc_id = gg.doc_id AND lum.f = gg.fi
         |    AND lum.x = (gg.gx * gg.w) // 9 AND lum.y = (gg.gy * gg.h) // 8),
         |bits AS (
         |  SELECT doc_id, fi, gy, gx, luma,
         |    lead(luma) OVER (PARTITION BY doc_id, fi, gy ORDER BY gx) AS nxt
         |  FROM sampled),
         |hh AS (
         |  SELECT doc_id, fi,
         |    CAST(sum(CASE WHEN gy >= 4 AND gx < 8 AND nxt > luma
         |      THEN CAST(1 AS BIGINT) << (8 * (gy % 4) + gx) ELSE 0 END)
         |      AS BIGINT) AS dhi,
         |    CAST(sum(CASE WHEN gy < 4 AND gx < 8 AND nxt > luma
         |      THEN CAST(1 AS BIGINT) << (8 * (gy % 4) + gx) ELSE 0 END)
         |      AS BIGINT) AS dlo
         |  FROM bits GROUP BY doc_id, fi),
         |sig AS (
         |  SELECT doc_id, CAST(bit_xor(dhi) AS BIGINT) AS sig_hi,
         |    CAST(bit_xor(dlo) AS BIGINT) AS sig_lo,
         |    CAST(count(*) AS BIGINT) AS n_scenes
         |  FROM hh GROUP BY doc_id),
         |cls AS (
         |  SELECT sig.doc_id, sig_hi, sig_lo, n_scenes, d2.source
         |  FROM sig JOIN documents d2 ON d2.doc_id = sig.doc_id),
         |refs AS (
         |  SELECT sig_hi, sig_lo, n_scenes, min(doc_id) AS ref_id
         |  FROM cls WHERE source <> '${Vectors.MinhashBatchSource}'
         |  GROUP BY sig_hi, sig_lo, n_scenes)
         |SELECT c.doc_id,
         |  CAST(CASE WHEN r.ref_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup,
         |  coalesce(r.ref_id, CAST(-1 AS BIGINT)) AS best_match_id
         |FROM cls c LEFT JOIN refs r USING (sig_hi, sig_lo, n_scenes)
         |WHERE c.source = '${Vectors.MinhashBatchSource}'
         |ORDER BY c.doc_id""".stripMargin,
  )
}
