package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex

/** Bridge into `private[parquet]` surface (`ParquetFileFormat.readSchema`)
  * for opening a parquet directory without a Spark job.
  */
object ParquetOpen {

  /** `spark.read.parquet(dir)` with no schema-inference job. Spark infers
    * a directory's schema from ONE file (without `mergeSchema`): the
    * first `_common_metadata`, else `_metadata`, else data file in path
    * order (`ParquetUtils.inferSchema`), but it reads that footer in a
    * Spark job. Here the same file is picked from the same listing, its
    * footer is read and converted by Spark's own code on the driver, and
    * the directory opens with that schema given: the same columns, types
    * and partition columns (inferred from the directory names, as
    * before). A directory with no parquet file raises Spark's own
    * "unable to infer schema" error. The directory is listed twice, here
    * and by the open; a listing is a job only past Spark's parallel
    * discovery threshold (`spark.sql.sources.parallelPartitionDiscovery
    * .threshold`, 32 paths).
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val leaves = new InMemoryFileIndex(spark, Seq(new Path(dir)), Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    def named(n: String) = leaves.find(_.getPath.getName == n)
    val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(leaves.find(f => !summaries(f.getPath.getName)))
      .flatMap(f => ParquetFileFormat.readSchema(
        ParquetFileFormat.readParquetFootersInParallel(spark.sessionState.newHadoopConf(),
          Seq(f), spark.sessionState.conf.ignoreCorruptFiles), spark))
      .fold(spark.read.parquet(dir))(spark.read.schema(_).parquet(dir))
  }
}
