package graftbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame

import graft.Tables
import graft.operators.Vectors

/** `vector_serving`: the index lifecycle. Each pass copies the dataset,
  * builds an IVF and a PQ index over it, runs single-probe top-10 query
  * rounds, appends one fixed delta batch with each kind's append verb, and
  * runs query rounds on the grown indexes. */
object Serving {
  val Kinds = Seq("ivf", "pq")
  val TopK = 10
  /** Query rounds per phase of a warm pass; the cold pass makes one. */
  val RoundsPerPhase = 3

  /** One query round: an IVF probe id and a PQ probe id. */
  final case class Round(ivf: Long, pq: Long)

  /** One pass's timings: per-kind build and append, and its queries. */
  final case class Pass(build: Map[String, Cost], append: Map[String, Cost],
      queries: Seq[(String, Phases)], sizes: Map[String, (Long, Long)]) {
    def lifecycle: Cost = Cost.sum(build.values) + Cost.sum(append.values)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val base = new File(ctx.cfg.data, "base")
    val delta = new File(ctx.cfg.data, "delta")
    val rounds = Files.readAllLines(new File(ctx.cfg.data, "rounds.tsv").toPath).asScala
      .map(_.split('\t')).groupBy(_(0))
      .map { case (phase, ls) => phase -> ls.map(l => Round(l(1).toLong, l(2).toLong)).toSeq }
    val vecs: Map[Long, Array[Double]] = Seq(base, delta)
      .flatMap(dir => Tables.embeddings(spark, dir.getPath).as[(Long, Seq[Float], Int)].collect())
      .map { case (id, e, _) => id -> e.map(_.toDouble).toArray }.toMap
    ctx.setupDone()

    val log = new PrintWriter(new File(ctx.cfg.out, "queries.jsonl"), "UTF-8")
    var next = 0
    val ps = (0 to ctx.warmUnits).map { pass =>
      val root = new File(ctx.cfg.tmp, s"pass$pass")
      val data = new File(root, "data")
      FileUtils.copyDirectory(base, data)
      val d = data.getPath
      val idx = Kinds.map(k => k -> new File(root, k).getPath).toMap
      def timeEach(verbs: (String, () => Unit)*): Map[String, Cost] =
        verbs.map { case (k, f) => k -> ctx.op(f())._2 }.toMap
      val queries = Seq.newBuilder[(String, Phases)]
      def queryRounds(phase: String, exclude: Boolean): Unit =
        (0 until (if (pass == 0) 1 else RoundsPerPhase)).foreach { _ =>
          val rs = rounds(phase)
          val r = rs(next % rs.length)
          next += 1
          def one(kind: String, probe: Long)(call: => DataFrame): Unit = {
            val c = ctx.call(call)
            ctx.clearCache()
            queries += kind -> c.phases
            log.println(Json(Map("phase" -> phase, "kind" -> kind, "probe" -> probe,
              "exclude" -> exclude, "rows" -> c.rows.map(_.toSeq))))
          }
          def ex(id: Long) = if (exclude) Some(id) else None
          one("ivf", r.ivf)(Vectors.queryIvfIndex(spark, idx("ivf"), vecs(r.ivf), TopK, excludeId = ex(r.ivf)))
          one("pq", r.pq)(Vectors.queryPqIndex(spark, d, idx("pq"), vecs(r.pq), TopK, excludeId = ex(r.pq)))
        }

      val build = timeEach(
        "ivf" -> (() => Vectors.writeIvfIndex(spark, d, idx("ivf"))),
        "pq" -> (() => Vectors.writePqIndex(spark, d, idx("pq"))))
      queryRounds("pre", exclude = true)
      // the delta lands in the dataset too: PQ refines against its vectors
      Files.copy(new File(delta, "embeddings.parquet/part-0.parquet").toPath,
        new File(data, "embeddings.parquet/part-1.parquet").toPath, StandardCopyOption.REPLACE_EXISTING)
      val batch = Tables.embeddings(spark, delta.getPath)
      val append = timeEach(
        "ivf" -> (() => Vectors.appendIvfIndex(spark, idx("ivf"), batch)),
        "pq" -> (() => Vectors.appendPqIndex(spark, idx("pq"), batch)))
      queryRounds("post", exclude = false)
      val sizes = idx.map { case (k, p) => k -> Ctx.du(new File(p)) }
      FileUtils.deleteDirectory(root)
      Pass(build, append, queries.result(), sizes)
    }
    log.close()
    val counters = ctx.probe.sparkCounters()

    val warm = ps.tail
    val qs = warm.flatMap(_.queries)
    ctx.result ++= Map(
      "cold_s" -> ps.head.lifecycle.wall, "cold_cpu_s" -> ps.head.lifecycle.cpu,
      "warm_s" -> Ctx.median(warm.map(_.lifecycle.wall)),
      "warm_cpu_s" -> Ctx.mean(warm.map(_.lifecycle.cpu)))
    ctx.result ++= Ctx.callFigures(qs)
    if (ctx.cfg.trace) {
      ctx.layer ++= counters.map { case (k, v) => k -> v / ps.length }
      ctx.layer ++= Phases.perCall(qs.map(_._2))
      ctx.layer ++= Map(
        "index.build_s" -> Ctx.median(warm.map(p => Cost.sum(p.build.values).wall)),
        "index.append_s" -> Ctx.median(warm.map(p => Cost.sum(p.append.values).wall)),
        "index.query_ms" -> Ctx.median(qs.map(_._2.total * 1e3)))
      Kinds.foreach { k =>
        ctx.layer ++= Map(
          s"index.build_s.$k" -> Ctx.median(warm.map(_.build(k).wall)),
          s"index.append_s.$k" -> Ctx.median(warm.map(_.append(k).wall)),
          s"index.query_ms.$k" -> Ctx.median(qs.collect { case (`k`, p) => p.total * 1e3 }),
          s"index.bytes.$k" -> ps.last.sizes(k)._1.toDouble,
          s"index.files.$k" -> ps.last.sizes(k)._2.toDouble)
      }
    }
  }
}
