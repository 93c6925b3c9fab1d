package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Materialized

/** Iceberg-v2-style equality deletes with merge-on-read (public spec,
  * iceberg.apache.org/spec — Row-level deletes): data commits and delete
  * commits share one monotonically increasing sequence number; a delete
  * row with key k at sequence s removes every data row with key k whose
  * data file was committed at a sequence STRICTLY BELOW s, and a later
  * re-insert of k (higher data sequence) survives. No data file is ever
  * rewritten at delete time — deletion is metadata until compaction.
  *
  * Spark-first shape: each data file carries its sequence in its NAME
  * (`data-s<seq>-<i>.parquet`), recovered at read time as a column via
  * `_metadata.file_path` + `regexp_extract` — no schema mutation, no
  * driver-side row work. Delete files live under `<dir>/_deletes` (the
  * underscore prefix hides them from the plain data scan, the same
  * convention Spark itself uses for `_SUCCESS`/`_metadata`) and carry
  * their sequence as a column. The merge-on-read is ONE
  * anti-join: equality on the key plus the `del.seq > row.seq` residual —
  * delete sets are usually metadata-scale next to the data (Iceberg's own
  * design assumption), and AQE broadcasts the log when it measures small,
  * so the common 100 TB plan touches each data row once with zero shuffle
  * of the data side — while a mass-delete log past the broadcast ceiling
  * degrades to a shuffle join instead of failing (r7). `compactAway` folds the deletes in by
  * rewriting — after it, reads need no join at all.
  */
object MergeOnRead {

  private def fsOf(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Highest committed sequence across data AND delete commits (0 = none). */
  def latestSeq(spark: SparkSession, dir: String): Long = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) return 0L
    val dataSeqs = fs.listStatus(p).map(_.getPath.getName)
      .collect { case n if n.startsWith("data-s") =>
        n.stripPrefix("data-s").takeWhile(_.isDigit).toLong
      }
    val delDir = new org.apache.hadoop.fs.Path(p, "_deletes")
    val delSeqs =
      if (!fs.exists(delDir)) Array.empty[Long]
      else spark.read.parquet(delDir.toString)
        .agg(coalesce(max(col("seq")), lit(0L))).head().getLong(0) match {
          case 0L => Array.empty[Long]
          case m  => Array(m)
        }
    (dataSeqs ++ delSeqs).foldLeft(0L)(math.max)
  }

  /** Commit `df` as new data files at the next sequence; returns it. */
  def commitData(df: DataFrame, dir: String): Long =
    commitDataAt(df, dir, latestSeq(df.sparkSession, dir) + 1)

  private def commitDataAt(df: DataFrame, dir: String, seq: Long): Long = {
    val spark = df.sparkSession
    val (fs, p) = fsOf(spark, dir)
    val tmp = new org.apache.hadoop.fs.Path(p, s".commit-tmp-s$seq")
    df.write.mode("overwrite").parquet(tmp.toString)
    fs.mkdirs(p)
    fs.listStatus(tmp).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .zipWithIndex.foreach { case (part, i) =>
        val target = new org.apache.hadoop.fs.Path(p, s"data-s$seq-$i.parquet")
        if (!fs.rename(part, target))
          throw new java.io.IOException(s"rename $part -> $target failed")
      }
    fs.delete(tmp, true)
    seq
  }

  /** Commit an equality-delete file for `keys` (one column, the key) at
    * the next sequence; returns it.
    */
  def commitDeletes(keys: DataFrame, dir: String, keyCol: String): Long = {
    val spark = keys.sparkSession
    val seq = latestSeq(spark, dir) + 1
    keys.select(col(keyCol), lit(seq).as("seq")).distinct()
      .coalesce(1).write.mode("append").parquet(s"$dir/_deletes")
    seq
  }

  /** Merge-on-read scan: every live row, plus `src_seq` (the commit
    * sequence of the row's data file). A row survives unless some delete
    * with the same key has `seq > src_seq`.
    */
  def read(spark: SparkSession, dir: String, keyCol: String): DataFrame = {
    val data = spark.read.parquet(dir)
      .withColumn("src_seq", regexp_extract(col("_metadata.file_path"),
        "data-s([0-9]+)-", 1).cast("long"))
    val (fs, p) = fsOf(spark, dir)
    val delDir = new org.apache.hadoop.fs.Path(p, "_deletes")
    if (!fs.exists(delDir)) return data
    val dels = spark.read.parquet(delDir.toString)
      .select(col(keyCol).as("__dk"), col("seq").as("__dseq"))
    // r7: no forced broadcast of the delete log — a mass-delete log is
    // data-sized and a forced broadcast fails at the 8 GB ceiling; the
    // plain anti-join (equi on key + seq residual) always works and AQE
    // broadcasts the log at runtime when it is actually small.
    data.join(dels,
      data(keyCol) === col("__dk") && col("__dseq") > col("src_seq"),
      "left_anti")
  }

  /** Fold pending deletes into the data (the maintenance op): rewrite the
    * merged view as one fresh data commit, drop superseded data files and
    * the delete log. After this, `read` is a plain scan again. Returns the
    * new sequence.
    */
  def compactAway(spark: SparkSession, dir: String, keyCol: String): Long = {
    // capture the next sequence BEFORE deleting the files it is derived
    // from — sequences must keep increasing across compactions
    val seq = latestSeq(spark, dir) + 1
    // materialize BEFORE deleting its source files
    val merged = Materialized(read(spark, dir, keyCol).drop("src_seq"))
    try {
      val (fs, p) = fsOf(spark, dir)
      fs.listStatus(p).map(_.getPath)
        .filter(q => q.getName.startsWith("data-s") ||
          q.getName == "_deletes")
        .foreach(fs.delete(_, true))
      commitDataAt(merged.df, dir, seq)
    } finally merged.release()
  }

  /** Snapshot read as of `asOfSeq`: data files committed at or below it,
    * deletes applied only if their sequence is also at or below it.
    */
  def readAsOf(spark: SparkSession, dir: String, keyCol: String,
               asOfSeq: Long): DataFrame = {
    val data = spark.read.parquet(dir)
      .withColumn("src_seq", regexp_extract(col("_metadata.file_path"),
        "data-s([0-9]+)-", 1).cast("long"))
      .where(col("src_seq") <= asOfSeq)
    val (fs, p) = fsOf(spark, dir)
    val delDir = new org.apache.hadoop.fs.Path(p, "_deletes")
    if (!fs.exists(delDir)) return data
    val dels = spark.read.parquet(delDir.toString)
      .where(col("seq") <= asOfSeq)
      .select(col(keyCol).as("__dk"), col("seq").as("__dseq"))
    data.join(dels,
      data(keyCol) === col("__dk") && col("__dseq") > col("src_seq"),
      "left_anti")
  }

  /** Change data feed between two snapshot sequences (Delta CDF /
    * Iceberg changelog semantics over unique keys): 'insert' for keys
    * live only in `toSeq`, 'delete' for keys live only in `fromSeq`,
    * 'update' for keys live in both with a different payload —
    * unchanged rows emit nothing. `valueCols` define payload identity
    * (md5-hashed, truncated to the engine's 60-bit convention; -1 marks
    * the absent side so the output is null-free). One full-outer
    * sort-merge join on the key; both legs are ordinary pruned scans.
    */
  def changesBetween(spark: SparkSession, dir: String, keyCol: String,
                     valueCols: Seq[String], fromSeq: Long,
                     toSeq: Long): DataFrame = {
    def h(df: DataFrame, hName: String): DataFrame = df.select(
      col(keyCol),
      conv(substring(md5(concat_ws("\u0001",
        valueCols.map(col): _*)), 1, 15), 16, 10).cast("long").as(hName))
    val pre = h(readAsOf(spark, dir, keyCol, fromSeq), "pre_h")
    val post = h(readAsOf(spark, dir, keyCol, toSeq), "post_h")
    pre.join(post, Seq(keyCol), "full_outer")
      .select(col(keyCol),
        when(col("pre_h").isNull, lit("insert"))
          .when(col("post_h").isNull, lit("delete"))
          .when(col("pre_h") =!= col("post_h"), lit("update"))
          .otherwise(lit("none")).as("change_type"),
        coalesce(col("pre_h"), lit(-1L)).as("pre_h"),
        coalesce(col("post_h"), lit(-1L)).as("post_h"))
      .where(col("change_type") =!= "none")
  }
}
