package org.apache.spark.sql.graft

import org.apache.arrow.memory.RootAllocator
import org.apache.spark.sql.classic.DataFrame
import org.apache.spark.sql.util.ArrowUtils

/**
 * Arrow-IPC (Feather v2 / `.arrow`) file WRITE path; [[ArrowSourceV2]] is the read path
 * (`TableIO.readArrow`). graft rides Spark's OWN Arrow machinery: Spark's `ArrowWriter`
 * fills the vectors and `ArrowUtils.toArrowSchema` maps the schema (the same mapping
 * the Arrow python bridge uses), which is why this object lives in the
 * org.apache.spark.sql namespace: both are private[sql].
 */
object ArrowIpc {

  /**
   * Write `df` as Arrow-IPC files, one `.arrow` file per partition, executor-side
   * (Spark's own ArrowWriter fills the vectors — zero per-type code here; batches flush
   * every `batchRows` rows so memory stays bounded). Targets a shared/local filesystem
   * path visible to all executors — the round-trip twin of [[ArrowSourceV2]], and the
   * graft analog of the reference's ArrowWriteExtension (gazelle_plugin:
   * arrow-data-source/standard/src/main/scala/com/intel/oap/spark/sql/
   * ArrowWriteExtension.scala:1).
   */
  def write(df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], path: String,
      batchRows: Int = 4096): Unit = {
    val schema = df.schema
    val tz = df.sparkSession.sessionState.conf.sessionLocalTimeZone
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    df.asInstanceOf[DataFrame].queryExecution.toRdd.mapPartitionsWithIndex { (idx, rows) =>
      if (rows.isEmpty) Iterator.empty
      else {
        val alloc = new RootAllocator(Long.MaxValue)
        val arrowSchema = ArrowUtils.toArrowSchema(schema, tz,
          errorOnDuplicatedFieldNames = true, largeVarTypes = false)
        val root = org.apache.arrow.vector.VectorSchemaRoot.create(arrowSchema, alloc)
        val writer = org.apache.spark.sql.execution.arrow.ArrowWriter.create(root)
        val ch = java.nio.channels.FileChannel.open(
          java.nio.file.Paths.get(path, f"part-$idx%05d.arrow"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.TRUNCATE_EXISTING,
          java.nio.file.StandardOpenOption.WRITE)
        val fileWriter = new org.apache.arrow.vector.ipc.ArrowFileWriter(root, null, ch)
        try {
          fileWriter.start()
          var n = 0
          rows.foreach { r =>
            writer.write(r)
            n += 1
            if (n >= batchRows) { writer.finish(); fileWriter.writeBatch(); writer.reset(); n = 0 }
          }
          if (n > 0) { writer.finish(); fileWriter.writeBatch() }
          fileWriter.end()
        } finally {
          try fileWriter.close() finally { root.close(); alloc.close() }
        }
        Iterator.single(1)
      }
    }.count() // action: materialize the write
    ()
  }
}
