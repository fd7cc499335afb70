package graftbench

import graft.functions.{Codec, Hashing, Tok}

/** Single-thread timings of the per-row kernels under the operators, on
  * fixed arrays made here (the same in every run and workload): a seismic
  * series shaped like one fixture point, and word-bag documents with the
  * corpus's make-up. Each figure is the median of five timed batches after
  * at least a second of untimed ones, so that the kernel is compiled whether
  * or not the workload ran it before. Traced run only. */
object Kernels {
  @volatile private var sink = 0L

  private def nsPer(items: Long)(body: => Unit): Double = {
    val warm = System.nanoTime() + 1000000000L
    while (System.nanoTime() < warm) body
    Ctx.median((0 until 5).map(_ => Ctx.timed(body)._2 * 1e9 / items))
  }

  private val series: Array[Double] = {
    val rnd = new java.util.Random(7)
    Array.tabulate(3 * 6 * 16) { i =>
      val t = (i % 16) * 0.5
      1e-7 * math.exp(-0.2 * t) * math.sin(2.1 * t + i / 16) + 2e-10 * rnd.nextGaussian()
    }
  }

  private val docs: Seq[String] = {
    val words = ("spark window merge table column vector stream value data small join " +
      "filter big group hash customer sort order slow line part fast row the agg key " +
      "query a scan batch").split(' ')
    val rnd = new java.util.Random(11)
    Seq.fill(1000)(Seq.fill(10 + rnd.nextInt(91))(words(rnd.nextInt(words.length))).mkString(" "))
  }

  def all(): Map[String, Double] = {
    val reps = 2000
    val samples = reps.toLong * series.length
    val blob = Codec.encodeSeries(series, SeisBuild.Bits)
    val toks = docs.map(Tok.tokenize)
    Map(
      "functions.encode_ns_per_sample" -> nsPer(samples)((0 until reps).foreach(_ =>
        sink += Codec.encodeSeries(series, SeisBuild.Bits).payload.length)),
      "functions.decode_ns_per_sample" -> nsPer(samples)((0 until reps).foreach(_ =>
        sink += Codec.decodeSeries(blob).length)),
      "functions.tokenize_ns_per_doc" -> nsPer(docs.length)(docs.foreach(d =>
        sink += Tok.tokenize(d).length)),
      // shaped like the engine's signature kernels: word 3-shingles, 32 hashes
      "functions.minhash_ns_per_doc" -> nsPer(docs.length)(toks.foreach(t =>
        sink += Hashing.minhash(Tok.shingles(t, 3).toSeq, 32)(0))),
      "functions.simhash_ns_per_doc" -> nsPer(docs.length)(toks.foreach(t =>
        sink += Hashing.simhash(t.toSeq))))
  }
}
