package org.apache.spark.sql.graft

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.util.HadoopFSUtils

/** The files a relation's file index would list now. In this package only to reach
  * `HadoopFSUtils`. */
object FileListing {
  /** The leaf files under `relation`'s roots, listed by the call its `InMemoryFileIndex`
    * lists with (`HadoopFSUtils.parallelListLeafFiles`): the same names are skipped, and
    * roots with more subdirectories than the session's
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` are listed by a parallel
    * job. It runs under the session's Hadoop conf with the relation's options, asks for
    * no block locations, and builds no `JobConf` and no file index, so a
    * `mapreduce.input.pathFilter.class` is not applied. A missing root throws. */
  def leafFiles(relation: HadoopFsRelation): Seq[FileStatus] = {
    val session = relation.sparkSession
    val conf = session.sessionState.conf
    HadoopFSUtils.parallelListLeafFiles(session.sparkContext, relation.location.rootPaths,
      session.sessionState.newHadoopConfWithOptions(relation.options), filter = null,
      ignoreMissingFiles = false, ignoreLocality = true,
      parallelismThreshold = conf.parallelPartitionDiscoveryThreshold,
      parallelismMax = conf.parallelPartitionDiscoveryParallelism).flatMap(_._2)
  }
}
