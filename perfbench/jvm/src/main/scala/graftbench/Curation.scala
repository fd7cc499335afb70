package graftbench

import java.io.{File, PrintWriter}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

import graft.{SparkEntry, Tables}

/** `corpus_curation`: the declared dedup, curation, text-analysis and
  * tokenization keys, each called through `SparkEntry.queries` and collected,
  * in passes over the key list. */
object Curation {
  val Keys: Seq[String] = Seq(
    "q_minhash_dedup_reps", "q_exact_dedup", "q_lang_id", "q_bpe_tokenize")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val corpus = ctx.cfg.data
    Tables.documents(spark, corpus).count()
    Tables.embeddings(spark, corpus).count()
    ctx.setupDone()

    val resultsDir = new File(ctx.cfg.out, "results")
    resultsDir.mkdirs()
    // per pass and key: the call's timings and a fingerprint of its rows;
    // the first pass also writes the rows for the oracle checks
    val ps = (0 to ctx.warmUnits).map { n =>
      Keys.map { key =>
        val c = ctx.call(SparkEntry.queries(key)(spark, corpus))
        ctx.clearCache()
        if (n == 0) writeRows(new File(resultsDir, s"$key.json"), c)
        (key, c.phases, fingerprint(c.rows))
      }
    }
    val counters = ctx.probe.sparkCounters()

    def fingerprints(pass: Seq[(String, Phases, Int)]) = pass.map { case (k, _, fp) => k -> fp }.toMap
    val passTimes = ps.map(_.map(_._2.total).sum)
    val passCpu = ps.map(_.map(_._2.cpu).sum)
    ctx.result ++= Map(
      "cold_s" -> passTimes.head,
      "cold_cpu_s" -> passCpu.head,
      "warm_s" -> Ctx.median(passTimes.tail),
      "warm_cpu_s" -> Ctx.mean(passCpu.tail),
      "first_fingerprints" -> fingerprints(ps.head),
      "fingerprints" -> ps.tail.map(fingerprints),
      "oracle_sql" -> Keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap)
    ctx.result ++= Ctx.callFigures(ps.tail.flatten.map { case (k, p, _) => k -> p })

    if (ctx.cfg.trace) {
      val warm = ps.tail
      ctx.layer ++= counters.map { case (k, v) => k -> v / ps.length }
      ctx.layer ++= Phases.perPass(warm.map(_.map(_._2).reduce(_ + _)))
      ctx.layer ++= Keys.map(k => s"op.${k}_s" -> Ctx.median(warm.map(_.collectFirst {
        case (`k`, p, _) => p.total }.get)))
    }
  }

  /** Order-sensitive fingerprint of a collected result. */
  def fingerprint(rows: Array[Row]): Int = MurmurHash3.orderedHash(rows.iterator.map(_.toString))

  /** One JSON object per key: column names and rows in produced order. */
  private def writeRows(f: File, c: Called): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.write(Json(Map("columns" -> c.schema.fieldNames.toSeq,
      "rows" -> c.rows.map(r => r.toSeq.map(value)))))
    finally w.close()
  }

  private def value(v: Any): Any = v match {
    case r: Row => r.toSeq.map(value)
    case xs: scala.collection.Seq[_] => xs.map(value)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> value(x) }
    case d: java.math.BigDecimal => d.doubleValue
    case b: Array[Byte] => b.map(_ & 0xff).toSeq
    case other => other
  }
}
