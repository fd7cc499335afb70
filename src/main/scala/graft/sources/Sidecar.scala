package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.SparkSession

/** Driver-side reads of the tiny parquet sidecars graft writes next to its
  * layouts: a database's one-row `_meta` header, an index's k-row
  * `_codebook` and its `_pq_codebook`. They go through parquet-mr's
  * `ParquetReader` + `GroupReadSupport` instead of a DataFrame, so reading
  * a few hundred bytes costs no schema-inference job and no collect job;
  * the serving reads that need them open with no Spark job at all. */
object Sidecar {

  /** Every row of the parquet files directly under `dir` (hidden `_`/`.`
    * files such as `_SUCCESS` and checksums skipped), in file order. */
  def rows(spark: SparkSession, dir: String): Vector[Group] = {
    val reader = ParquetReader.builder(new GroupReadSupport(), new Path(dir))
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try Iterator.continually(reader.read()).takeWhile(_ != null).toVector
    finally reader.close()
  }

  /** A non-null `array<double>` field of one row, in element order. Spark
    * writes arrays as the three-level parquet LIST (field group → repeated
    * group → element), so each element is field 0 of the i-th repetition. */
  def doubles(row: Group, field: String): Array[Double] = {
    val list = row.getGroup(field, 0)
    Array.tabulate(list.getFieldRepetitionCount(0))(i => list.getGroup(0, i).getDouble(0, 0))
  }
}
