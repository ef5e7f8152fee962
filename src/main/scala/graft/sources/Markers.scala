package graft.sources

import org.apache.spark.sql.SparkSession

/** Single-line marker files — the commit pointers and epoch guards
  * every persisted store here hangs its crash safety on (text index
  * `_commit` and its per-commit `_manifest/v=seq`, ChunkStore's
  * `_latest` version pointer, IVF / graph store `_epoch`). One shared
  * discipline so the stores cannot drift:
  *
  *  - READ to EOF: a single `read()` may return short on some
  *    FileSystems (and −1 on an empty file), which would hand the
  *    caller a torn marker line to parse.
  *  - WRITE via tmp + overwrite-rename: readers resolve the old
  *    marker or the new one, never a torn line; on FileSystems
  *    without `Rename.OVERWRITE` the delete+rename fallback applies
  *    (single-writer contract, like every store here).
  */
private[graft] object Markers {

  /** The marker's full trimmed content, or None when absent. */
  def read(spark: SparkSession, file: String): Option[String] = {
    val ptr = new org.apache.hadoop.fs.Path(file)
    val fs = ptr.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      try {
        val out = new java.io.ByteArrayOutputStream(128)
        val buf = new Array[Byte](128)
        var n = in.read(buf)
        while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(new String(out.toByteArray, "UTF-8").trim)
      } finally in.close()
    }
  }

  /** Atomically replace the marker with `content`; `what` names the
    * marker in the failure message. */
  def write(spark: SparkSession, file: String, content: String,
            what: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val ptr = new org.apache.hadoop.fs.Path(file)
    val tmp = new org.apache.hadoop.fs.Path(file + ".tmp")
    val fs = ptr.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    val swapped =
      try {
        val fc = org.apache.hadoop.fs.FileContext
          .getFileContext(ptr.toUri, conf)
        fc.rename(tmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        true
      } catch {
        case _: UnsupportedOperationException | _: java.io.IOException =>
          false
      }
    if (!swapped) {
      if (fs.exists(ptr)) fs.delete(ptr, false): Unit
      require(fs.rename(tmp, ptr), s"$what flip failed for $file")
    }
  }
}
