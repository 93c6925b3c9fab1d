package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}

/** The sinks' one executor-side file writer: every multi-file output (one
  * OBJ per class or component, one translated GML per building) is written
  * and committed by [[write]].
  */
private[sink] object CommittedFiles {

  /** Write `(key, text)` rows as files `<outDir>/<fileName(key)>`. Within a
    * partition the rows must arrive grouped by key and in write order; a
    * file's bytes are its rows' texts, concatenated as-is. Each task streams
    * its files through the Hadoop FileSystem — the driver relays zero output
    * bytes, and memory per task is O(write buffer). Returns the number of
    * files written.
    */
  def write(rows: DataFrame, outDir: String, fileName: String => String): Long = {
    val spark = rows.sparkSession
    val confMap = graft.HadoopConfs.pack(spark.sessionState.newHadoopConf())
    val count = spark.sparkContext.longAccumulator("files_written")
    try rows.foreachPartition { (it: Iterator[Row]) =>
      if (it.nonEmpty) {
        val fs = graft.HadoopConfs.rawFs(outDir, graft.HadoopConfs.unpack(confMap))
        // COMMIT PROTOCOL: stream each file to a task-ATTEMPT-scoped temp
        // path, rename into place only when the key's rows are fully
        // written. A zombie first attempt racing a retry/speculative attempt
        // then writes its own temp file — the final name only ever receives
        // a COMPLETE file via rename
        // (last-committer-wins), never interleaved bytes. Spark's own
        // committer can't be used here because one task emits MANY final
        // files (one per key), which partitioned part-files don't model.
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(tc => s"${tc.taskAttemptId()}").getOrElse("driver")
        val tmpDir = new Path(s"$outDir/_tmp_obj/attempt_$attempt")
        var cur: String = null
        var os: java.io.OutputStream = null
        var tmp: Path = null
        var target: Path = null
        def commitOpen(): Unit = if (os != null) {
          os.close(); os = null
          fs.delete(target, false) // rename won't overwrite on HDFS/local
          if (!fs.rename(tmp, target))
            throw new java.io.IOException(s"rename $tmp -> $target failed")
          count.add(1L)
        }
        try {
          it.foreach { r =>
            val key = r.getString(0)
            if (key != cur) {
              commitOpen()
              cur = key
              val name = fileName(key)
              target = new Path(s"$outDir/$name")
              tmp = new Path(tmpDir, name)
              os = new java.io.BufferedOutputStream(fs.create(tmp, true), 1 << 16)
            }
            os.write(r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          commitOpen()
        } finally {
          if (os != null) os.close() // no handle leak on task failure
          fs.delete(tmpDir, true) // abandoned temps never shadow outputs
        }
      }
    } finally {
      // sweep zombie attempt temps (a task that died between close and
      // delete), on a failed job too
      graft.HadoopConfs.rawFs(outDir, spark.sessionState.newHadoopConf())
        .delete(new Path(s"$outDir/_tmp_obj"), true)
    }
    count.value
  }
}
