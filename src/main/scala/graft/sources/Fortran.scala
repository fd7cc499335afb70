package graft.sources

import java.io.{BufferedOutputStream, DataOutputStream, File, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

/** Fortran unformatted *sequential* record codec (SURVEY.md §2.1 R1–R3,
  * reference readers at `/root/reference/seisdb/DSEM_Utils/bin_reader.py`).
  *
  * On-disk record = 4-byte little-endian length marker, payload, repeated
  * marker. The reference's seek-based reader exploits marker size == one
  * float32 slot (`strainfield_reader.py:43-55`: `offset=1`,
  * `inter_offset=2`); our parser reads markers properly and validates them.
  */
object Fortran {

  def writeRecord(out: DataOutputStream, payload: Array[Byte]): Unit = {
    val m = new Array[Byte](4)
    ByteBuffer.wrap(m).order(ByteOrder.LITTLE_ENDIAN).putInt(payload.length)
    out.write(m); out.write(payload); out.write(m)
  }

  /** Parse every sequential record in a file image. */
  def readRecords(bytes: Array[Byte]): Seq[Array[Byte]] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val recs = Seq.newBuilder[Array[Byte]]
    while (bb.remaining() >= 8) {
      val n = bb.getInt
      require(n >= 0 && n <= bb.remaining() - 4, s"corrupt record length $n")
      val payload = new Array[Byte](n)
      bb.get(payload)
      val trailer = bb.getInt
      require(trailer == n, s"marker mismatch: leading=$n trailing=$trailer")
      recs += payload
    }
    require(bb.remaining() == 0, s"${bb.remaining()} trailing bytes")
    recs.result()
  }

  /** R2 analogue (`bin_reader.py:53-74` `read_bin_files`): seek-based
    * partial read — fetch `count` float32 values starting at float-offset
    * `offset` within record `record`, touching only the bytes needed.
    * Earlier records are skipped by marker arithmetic (seek past payload),
    * never materialized; the reference does the same with raw sample
    * offsets (`offset=1`, `inter_offset=2` marker-slot tricks), we keep
    * record addressing explicit so the read stays marker-aware. This is the
    * point-read path for big slices: O(bytes requested), not O(file). */
  def readFloatSlice(path: File, record: Int, offset: Long, count: Int): Array[Float] = {
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      def readMarker(): Int = {
        val b = new Array[Byte](4)
        raf.readFully(b)
        ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getInt
      }
      var r = 0
      var recLen = readMarker()
      while (r < record) {
        raf.seek(raf.getFilePointer + recLen + 4) // payload + trailing marker
        recLen = readMarker()
        r += 1
      }
      require(offset >= 0 && (offset + count) * 4 <= recLen,
        s"slice [$offset, ${offset + count}) floats outside record of $recLen bytes")
      raf.seek(raf.getFilePointer + offset * 4)
      val buf = new Array[Byte](count * 4)
      raf.readFully(buf)
      floatsLE(buf)
    } finally raf.close()
  }

  def floatsLE(payload: Array[Byte]): Array[Float] = {
    val fb = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
    val out = new Array[Float](fb.remaining()); fb.get(out); out
  }

  def intsLE(payload: Array[Byte]): Array[Int] = {
    val ib = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN).asIntBuffer()
    val out = new Array[Int](ib.remaining()); ib.get(out); out
  }

  def bytesOfFloats(xs: Array[Float]): Array[Byte] = {
    val bb = ByteBuffer.allocate(xs.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    xs.foreach(bb.putFloat); bb.array()
  }

  def bytesOfInts(xs: Array[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(xs.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    xs.foreach(bb.putInt); bb.array()
  }

  def writeRecordFile(path: File, records: Seq[Array[Byte]]): Unit = {
    path.getParentFile.mkdirs()
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    try records.foreach(writeRecord(out, _)) finally out.close()
  }
}

/** Deterministic synthetic SPECFEM-style fixture (FIXTURES.md §B): tiny mesh
  * + strain/displacement snapshots, used by the non-oracle ingest queries and
  * the golden pipeline test. Seeded `java.util.Random` → stable across runs.
  */
object SeisFixture {
  val NSPEC = 4
  val NGLL_LOCAL = 125
  val Steps: Seq[Int] = 0 to 100 by 10
  val Forces = Seq("N", "E", "Z")
  val Proc = "proc000000"

  /** Nominal solver timestep in seconds. The reference reads the SPECFEM dt
    * and stores it in the DB header (`DSGT.py:190`); the fixture pins a
    * constant so the `_meta` sidecar and derived `step*dt` timestamps are
    * testable end to end. */
  val Dt = 0.05

  /** 27-of-125 spatial subsample index — same constant as the reference
    * (`/root/reference/seisdb/DSEM_Utils/__init__.py:6-8`): the 3×3×3
    * corner/edge/center lattice of the 5×5×5 GLL cube (indices 0,2,4 per
    * axis, (k*5+j)*5+i). */
  val Index27: Seq[Int] =
    for (k <- Seq(0, 2, 4); j <- Seq(0, 2, 4); i <- Seq(0, 2, 4)) yield (k * 5 + j) * 5 + i

  /** 1-based ibool with (a) shared GLL ids between adjacent elements and
    * (b) at least one first occurrence below the running max (exercises the
    * monotone-dedup divergence, `ibool_reader.py:133-141`). */
  def iboolIds(): Array[Int] = {
    val rnd = new java.util.Random(42)
    val arr = new Array[Int](NSPEC * NGLL_LOCAL)
    var next = 1
    for (spec <- 0 until NSPEC; p <- 0 until NGLL_LOCAL) {
      val idx = spec * NGLL_LOCAL + p
      arr(idx) =
        if (spec > 0 && p < 25) arr((spec - 1) * NGLL_LOCAL + 100 + p) // share a face
        else if (spec == 2 && p == 60) 3 // first occurrence below running max
        else { val v = next; next += 1; v }
      if (rnd.nextInt(50) == 0 && idx > 0) arr(idx) = arr(rnd.nextInt(idx)) // extra repeats
    }
    arr
  }

  def nGllGlobal: Int = iboolIds().max

  /** Ground-truth full strain tensor value for (param, point, step) — smooth
    * deterministic field, dense in ±1e-7 like real SGT amplitudes. */
  def strainTruth(param: Int, point: Int, step: Int): Float =
    (1e-7 * math.sin(0.1 * point + 0.7 * param + 0.05 * step + 1.0)).toFloat

  def dispTruth(comp: Int, gll: Int, step: Int): Float =
    (1e-7 * math.cos(0.13 * gll + 0.9 * comp + 0.07 * step)).toFloat

  /** Write the whole fixture tree under `dir` (idempotent). Layout:
    * dir/force_{N,E,Z}/proc000000_strain_field_Step_%d.bin, …_disp_Step…,
    * dir/proc000000_ibool.bin. */
  def generate(dir: String): Unit = synchronized {
    val root = new File(dir)
    val marker = new File(root, ".complete")
    if (marker.exists()) return
    // ibool: single record of NSPEC*125 int32, 1-based
    Fortran.writeRecordFile(new File(root, s"${Proc}_ibool.bin"),
      Seq(Fortran.bytesOfInts(iboolIds())))
    val nPoints = NSPEC * NGLL_LOCAL
    val nGlobal = nGllGlobal
    for ((f, fi) <- Forces.zipWithIndex; step <- Steps) {
      // strain: six records (trace, xx_dev, yy_dev, xy, xz, yz), each 125*NSPEC
      // float32 (strainfield_reader.py:40-55). Deviatoric encoding of truth:
      // trace = xx+yy+zz; xx_dev = xx - trace/3; yy_dev = yy - trace/3.
      val phase = fi * 100000 // decorrelate forces
      def truth(p: Int, pt: Int) = strainTruth(p, pt + phase, step)
      val recs = (0 until 6).map { r =>
        val vals = new Array[Float](nPoints)
        for (pt <- 0 until nPoints) {
          val xx = truth(0, pt); val yy = truth(1, pt); val zz = truth(2, pt)
          val tr = xx + yy + zz
          vals(pt) = r match {
            case 0 => tr
            case 1 => xx - tr / 3f
            case 2 => yy - tr / 3f
            case 3 => truth(3, pt) // xy
            case 4 => truth(4, pt) // xz
            case 5 => truth(5, pt) // yz
          }
        }
        Fortran.bytesOfFloats(vals)
      }
      Fortran.writeRecordFile(
        new File(root, s"force_$f/${Proc}_strain_field_Step_$step.bin"), recs)
      // displacement: one record of nGllGlobal*3 float32, shape (nGLL, 3)
      val disp = new Array[Float](nGlobal * 3)
      for (g <- 0 until nGlobal; c <- 0 until 3)
        disp(g * 3 + c) = dispTruth(c + fi * 3, g, step)
      Fortran.writeRecordFile(
        new File(root, s"force_$f/${Proc}_disp_Step_$step.bin"), Seq(Fortran.bytesOfFloats(disp)))
    }
    marker.createNewFile()
  }

  /** Default on-disk location: `target/seis_fixture` of the checkout the
    * JVM runs in (sbt forks tests and mains in the project root), so two
    * checkouts never share, or race on, one fixture directory. */
  val defaultDir: String = new java.io.File("target/seis_fixture").getAbsolutePath
  def ensure(): String = { generate(defaultDir); defaultDir }

  // -------------------------------------------------------------------
  // Driver-side ORACLE REPLAYS (r10 verdict #2 — the ref_fortran_scan
  // discipline extended through the whole encode chain): each helper
  // re-derives pipeline truth INDEPENDENTLY from the fixture constants so
  // the DuckDB oracle can materialize the expected rows as a VALUES
  // relation and hash-certify the Spark pipeline end to end. zlib stays
  // out of the contract — the replay computes post-inflate decoded values
  // (quantize→dequantize is exact integer+float arithmetic).
  // -------------------------------------------------------------------

  /** Replay of the 27-subsample + monotone first-occurrence dedup
    * (`ibool_reader.py:133-173` semantics): kept (spec, p, gll0) rows in
    * scan order — spec-major, then position within [[Index27]], keeping a
    * row only when its 0-based gll strictly exceeds the running max. */
  def keptIndexReplay(): Seq[(Int, Int, Long)] = {
    val ids = iboolIds()
    val out = Seq.newBuilder[(Int, Int, Long)]
    var max = Long.MinValue
    for (spec <- 0 until NSPEC; p <- Index27) {
      val g = (ids(spec * NGLL_LOCAL + p) - 1).toLong
      if (g > max) { max = g; out += ((spec, p, g)) }
    }
    out.result()
  }

  /** Replay of the strain reader's six components (xx, yy, zz, xy, xz, yz)
    * at local point `pt` of force `fi`'s snapshot at `step`: generator
    * truth → deviatoric encoding → the reader's float32 reconstruction
    * (`strainfield_reader.py:48-59`). */
  def strainPointReplay(fi: Int, pt: Int, step: Int): Array[Float] = {
    def tr(pr: Int): Float = strainTruth(pr, pt + fi * 100000, step)
    val xx0 = tr(0); val yy0 = tr(1); val zz0 = tr(2)
    val t = xx0 + yy0 + zz0
    val xxD = xx0 - t / 3f; val yyD = yy0 - t / 3f
    val xx = xxD + t / 3f; val yy = yyD + t / 3f
    Array(xx, yy, t - xx - yy, tr(3), tr(4), tr(5))
  }

  /** Replay of one retained point's SGT series in the encoder's
    * (force, param, step) order ([[strainPointReplay]]), widened to double
    * exactly as the scan emits it. */
  def sgtSeriesReplay(spec: Int, p: Int): Array[Double] = {
    val pt = spec * NGLL_LOCAL + p
    (for (fi <- 0 until 3; param <- 0 until 6; step <- Steps)
      yield strainPointReplay(fi, pt, step)(param).toDouble).toArray
  }

  /** Replay of one retained point's DGF series in the encoder's comp-major
    * (comp, force, step) order (`DDGF.py:128-132`). */
  def dgfSeriesReplay(g: Long): Array[Double] = {
    val out = Array.newBuilder[Double]
    for (c <- 0 until 3; fi <- 0 until 3; step <- Steps)
      out += dispTruth(c + fi * 3, g.toInt, step).toDouble
    out.result()
  }

  /** Replay of the truncating quantize→dequantize round trip at encoding
    * level `bits` ([[graft.functions.Codec]] arithmetic verbatim):
    * (offset, scale, maxErr, decoded values). */
  def encodeRoundtripReplay(vals: Array[Double], bits: Int)
      : (Double, Double, Double, Array[Double]) = {
    val offset = if (vals.isEmpty) 0.0 else vals.min
    val scale = if (vals.isEmpty) 0.0 else vals.max - offset
    val maxCode = (1 << bits) - 1
    val maxCodeD = maxCode.toDouble
    var maxErr = 0.0
    val deq = vals.map { v =>
      val norm = if (scale == 0.0) 0.0 else (v - offset) / scale
      val code = (norm * maxCode).toInt
      val d = code / maxCodeD * scale + offset
      val e = math.abs(v - d)
      if (e > maxErr) maxErr = e
      d
    }
    (offset, scale, maxErr, deq)
  }
}
