package graft

/** Ship the driver's Hadoop configuration into executor tasks.
  *
  * `new Configuration()` inside a task sees only the classpath defaults —
  * every `spark.hadoop.*` setting (object-store credentials, fs.defaultFS
  * overrides, custom schemes) is silently absent, so code that works on
  * file:// in local mode breaks on a real cluster FS. Spark's own
  * SerializableConfiguration is private[spark]; the public equivalent is a
  * plain Map snapshot taken on the driver and replayed per task.
  */
object HadoopConfs {

  /** Driver side: snapshot every entry of the session's Hadoop conf. */
  def pack(conf: org.apache.hadoop.conf.Configuration): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    val it = conf.iterator()
    while (it.hasNext) {
      val e = it.next()
      b += e.getKey -> e.getValue
    }
    b.result()
  }

  /** Task side: rebuild a Configuration from the shipped snapshot. */
  def unpack(entries: Map[String, String]): org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** The FileSystem of `path`, unwrapped from the local
    * ChecksumFileSystem so writes leave no `.crc` sidecar files.
    */
  def rawFs(path: String, conf: org.apache.hadoop.conf.Configuration)
      : org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path).getFileSystem(conf) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }

  /** Driver-side sidecar write through the Hadoop FileSystem of `path`:
    * with a non-local output dir (hdfs://, s3a://) a java.nio write would
    * land the sidecar on the driver's LOCAL disk while the main outputs go
    * to the remote FS — the whole output tree must resolve through one FS.
    * Commits like [[withSideStream]].
    */
  def writeSideBytes(path: String, bytes: Array[Byte]): String =
    withSideStream(path)(_.write(bytes))

  def writeSideText(path: String, content: String): String =
    writeSideBytes(path, content.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Streaming variant: open the sidecar through the output dir's FS and
    * hand the caller the stream (for sidecars whose row count scales with
    * the city — the driver should never hold the whole file). Resolves the
    * conf from the active SparkSession (falls back to classpath defaults
    * when none is up, e.g. pure-JVM tests).
    *
    * Commit discipline: the stream writes to a `.<name>.inprogress` sibling
    * and renames into place only after `body` completes — a Spark job
    * failure mid-iteration can never leave a truncated, unparseable
    * bbox.json/crs.json/index.json at the final location (consumers like
    * importBboxJson read complete files or nothing).
    */
  def withSideStream(path: String)(body: java.io.OutputStream => Unit): String = {
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = rawFs(path, conf)
    val tmp = new org.apache.hadoop.fs.Path(
      p.getParent, s".${p.getName}.inprogress")
    val os = fs.create(tmp, true)
    var ok = false
    try { body(os); ok = true } finally {
      os.close()
      if (ok) {
        fs.delete(p, false) // rename won't overwrite on HDFS/local
        if (!fs.rename(tmp, p))
          throw new java.io.IOException(s"rename $tmp -> $p failed")
      } else fs.delete(tmp, false)
    }
    p.toString
  }

  /** Untrusted-id → safe path segment: gml:id flows into output file names
    * (`<prefix>_<building_id>_local_.gml`), so path separators, traversal
    * dots, and control characters must not survive (hostile-input
    * contract — the sibling of GmlSink.jesc for the filesystem).
    */
  def fileSafe(s: String): String = {
    val cleaned = s.map {
      case c if c.isLetterOrDigit || c == '-' || c == '_' => c
      case _ => '_' // incl. '.', '/', '\\': no ".." segments or separators
    }.mkString
    val base = if (cleaned.isEmpty) "_" else cleaned.take(200)
    // distinct raw ids must never map to one path (e.g. 'b.1' vs 'b_1', or
    // two ids sharing a 200-char prefix — the second write would silently
    // overwrite the first): whenever sanitization or truncation CHANGED the
    // id, disambiguate with a short stable hash of the raw id. CRC32 over
    // UTF-8 bytes, formatted exactly like Spark's lower(hex(crc32(...))) —
    // the SAME hash as ObjPipeline.safeSeg's column twin, so a dirty gml:id
    // maps to one segment in BOTH the component-OBJ and the GML-sink file
    // namespaces (round-5 ADVICE fix)
    if (base == s) base
    else {
      val crc = new java.util.zip.CRC32()
      crc.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      s"${base}_h${java.lang.Long.toHexString(crc.getValue)}"
    }
  }
}
