package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Spark's partition discovery over given leaf directories, without
  * listing them: `PartitioningUtils.parsePartitions` is private to this
  * package. Called with the session's settings, as
  * `PartitioningAwareFileIndex` calls it for a `spark.read` of `basePath`. */
object PartitionDiscovery {
  def parse(spark: SparkSession, basePath: Path, leafDirs: Seq[Path]): PartitionSpec = {
    val conf = spark.sessionState.conf
    PartitioningUtils.parsePartitions(leafDirs, conf.partitionColumnTypeInferenceEnabled,
      Set(basePath), None, conf.caseSensitiveAnalysis, conf.validatePartitionColumns,
      conf.sessionLocalTimeZone, conf.ignoreInvalidPartitionPaths)
  }
}
