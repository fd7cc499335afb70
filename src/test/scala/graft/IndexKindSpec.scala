package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.Codec
import graft.operators.{Encoded, Index, IndexCodec, IndexKind, Vectors}

object IndexKindSpec {
  /** Every persisted index kind. */
  val kinds: Seq[IndexKind] = Seq(Index.Afp, Index.Dhash, Index.Ivf, Index.IvfFixed,
    Index.IvfPq, Index.Keyword, Index.Minhash, Index.Pq, Index.PqFixed, Index.Simhash,
    Index.Vsig)

  private def fmt(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case xs: scala.collection.Seq[_] => xs.map(fmt).mkString("[", ";", "]")
    case x => x.toString
  }

  /** The rows of one stored relation, columns in name order, each row one
    * string, sorted: independent of file names, file count and row order. */
  def rowsOf(spark: SparkSession, at: String): Seq[String] = {
    val df = spark.read.parquet(at)
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect()
      .map(r => cols.indices.map(i => fmt(r.get(i))).mkString(",")).sorted.toSeq
  }

  /** `part=rows:crc32` of every relation under an index dir ("." for rows
    * at the root, beside the sidecars), the way SinkSpec digests blobs. */
  def layoutDigest(spark: SparkSession, dir: String): String = {
    val children = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq
    val parts = (if (children.exists(_.contains("="))) Seq(".") else Nil) ++
      children.filterNot(_.contains("="))
    parts.map { p =>
      val rows = rowsOf(spark, if (p == ".") dir else s"$dir/$p")
      s"$p=${rows.length}:${Codec.crc32(rows.mkString("\n").getBytes("UTF-8"))}"
    }.mkString(" ")
  }
}

/** The lifecycle verbs every [[IndexKind]] derives from its declaration. */
class IndexKindSpec extends AnyFunSuite {
  import IndexKindSpec._

  private def tmpDir(tag: String): String = {
    val f = java.nio.file.Files.createTempDirectory(s"graft_$tag").toFile
    f.deleteOnExit()
    f.getAbsolutePath
  }

  test("delete + compact drops exactly the victim's rows from every id-bearing part of every kind") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = TestSpark.sf0001
    for (kind <- kinds) {
      val dir = tmpDir(s"compact_${kind.name}")
      kind.build(spark, d, dir)
      val idParts = kind.parts.filter(_.idCol.isDefined)
      assert(idParts.nonEmpty, kind.name)
      val first = idParts.head
      val victim = spark.read.parquet(kind.path(dir, first))
        .agg(min(col(first.idCol.get))).head().getLong(0)
      val before = idParts.map(p => p -> rowsOf(spark, kind.path(dir, p)))
      val victimRows = idParts.map { p =>
        spark.read.parquet(kind.path(dir, p)).where(col(p.idCol.get) === victim).count()
      }
      assert(victimRows.forall(_ > 0), s"${kind.name}: victim $victim not in every part")
      Index.delete(spark, dir, Seq(victim).toDF("doc_id"))
      if (kind.name.endsWith("_fixed")) {
        // the fixed queries read through the tombstones before compaction
        val v = Tables.embeddings(spark, d).where(col("vec_id") === victim)
          .select(col("embedding").cast("array<double>")).as[Array[Double]].head()
        val hits =
          if (kind eq Index.IvfFixed) Vectors.queryIvfFixedIndex(spark, dir, v, topK = 10)
          else Vectors.queryPqFixedIndex(spark, dir, v, topK = 10)
        val ids = hits.select(col("vec_id")).as[Long].collect().toSeq
        assert(ids.length == 10 && !ids.contains(victim), s"${kind.name}: $ids")
      }
      kind.compact(spark, dir)
      assert(Index.tombstonesOf(spark, dir).isEmpty, kind.name)
      for (((p, rows), n) <- before.zip(victimRows)) {
        val after = rowsOf(spark, kind.path(dir, p))
        // nothing but the victim's rows is lost, and nothing is added
        assert(spark.read.parquet(kind.path(dir, p)).where(col(p.idCol.get) === victim)
          .isEmpty, s"${kind.name}/${p.sub}: victim survived")
        assert(after.length == rows.length - n && after.diff(rows).isEmpty,
          s"${kind.name}/${p.sub}")
      }
    }
  }

  test("a failed rebuild deletes its staging dir; the committed vintage is untouched") {
    val spark = TestSpark.spark
    val d = TestSpark.sf0001
    val name = "failing" + (System.nanoTime() % 1000000)
    val committed = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:") + s"/graft_index/${name}_" + d.replaceAll("[^A-Za-z0-9._-]", "_"))
    committed.mkdirs()
    java.nio.file.Files.writeString(committed.toPath.resolve("stale.txt"), "old")
    val kind = new IndexKind(name, "documents.parquet", Nil,
        IndexCodec.pure((_, _) => Encoded(Nil))) {
      override def build(s: SparkSession, d: String, dir: String): Unit = {
        new java.io.File(dir).mkdirs()
        java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "partial.txt"), "half")
        throw new IllegalStateException("build failed")
      }
    }
    val e = intercept[IllegalStateException](Index.ensure(spark, kind, d))
    assert(e.getMessage == "build failed")
    assert(committed.list().toSeq == Seq("stale.txt"), committed.list().mkString(","))
    val staging = committed.getParentFile.list().filter(_.startsWith(name + "__build_"))
    assert(staging.isEmpty, staging.mkString(","))
  }
}
