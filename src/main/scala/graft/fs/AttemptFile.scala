package graft.fs

import org.apache.hadoop.fs.{FileSystem, Path}

/** Executor-side writer for a staged file whose bytes are a pure function
  * of its task's input (the bulk XML shards, the packed image blobs).
  * Task retries and speculative attempts may write the same file at once,
  * so each attempt writes an attempt-unique temp and renames it into
  * place once complete: a direct `create(overwrite)` would let a second
  * attempt truncate the file mid-write, leaving bytes that match neither
  * attempt. Content is deterministic, so whichever complete attempt's
  * rename wins, readers see the same bytes.
  */
object AttemptFile {

  /** Write `dir/name`: `body` fills the attempt's temp `.name.<attempt>`;
    * then the final file is deleted and the temp renamed onto it, and a
    * rename that lost to another attempt drops the temp. Every
    * interleaving of attempts ends with one COMPLETE file, never a
    * truncated mix. `body` must not close the stream. Returns `body`'s
    * result.
    */
  def write[T](fs: FileSystem, dir: Path, name: String)(
      body: java.io.OutputStream => T): T = {
    fs.mkdirs(dir)
    val fin = new Path(dir, name)
    val att = org.apache.spark.TaskContext.get() match {
      case null => s"local-${java.util.UUID.randomUUID()}"
      case tc => s"attempt-${tc.taskAttemptId()}"
    }
    val tmp = new Path(dir, s".$name.$att")
    val out = fs.create(tmp, true)
    val result = try body(out) finally out.close()
    fs.delete(fin, false)
    if (!fs.rename(tmp, fin)) fs.delete(tmp, false)
    result
  }
}
