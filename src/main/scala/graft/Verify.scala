package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare
  * (`tools/local_verify.py` compares whatever subdirectories exist).
  *
  * Usage: `sbt "runMain graft.Verify <sfDir> <outDir> [key ...]"` — with
  * keys, only those queries and their oracle SQL are written. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val keys = args.drop(2).toSet
    val unknown = keys -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown keys: ${unknown.toSeq.sorted.mkString(", ")}")
    def selected(k: String): Boolean = keys.isEmpty || keys(k)
    val spark = Harness.session(defaultCpus = 4)
    // correctness runs take the full freshness guarantee: the fingerprint
    // memos' 30 s staleness horizon is a bench-only trade (BPE merges and
    // the shared DataFp behind the referee/index/count memos)
    System.setProperty("graft.bpe.fp.ttl.ms", "0")
    System.setProperty("graft.fp.ttl.ms", "0")
    new java.io.File(outDir).mkdirs()
    // Targeted precondition for the byte-replay oracle family (multimodal
    // frames/features, doc_fingerprint, minhash, simhash + their reps
    // composition): their DuckDB replays address text one byte at a time
    // via ascii(substr(text, i, 1)) and equate kernel byte-width with
    // oracle char-width — valid only on a pure-ASCII corpus. Check THE
    // dataset about to be hash-checked (not just the unit-test fixture) so
    // a non-ASCII doc surfaces as this named diagnostic, not as an opaque
    // hash mismatch. Diagnostic, not fatal: the rest of the suite verifies
    // regardless, and the driver's per-key compare still records exactly
    // which keys disagree.
    locally {
      import org.apache.spark.sql.functions.{col, length, octet_length}
      val nonAscii = spark.read.parquet(s"$sfDir/documents.parquet")
        .where(octet_length(col("text")) =!= length(col("text"))).count()
      if (nonAscii > 0) System.err.println(
        s"[verify] WARNING: $nonAscii non-ASCII documents in $sfDir — the " +
          "byte-replay oracles (multimodal/fingerprint/minhash/simhash) " +
          "assume ASCII and WILL hash-mismatch on those keys")
    }
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Harness.isolate(spark)
    }
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${Harness.jsonString(k)}: ${Harness.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
