package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

import graft.sources.ManifestStore

/** `sources.ManifestStore` as seen from outside: commits and bytes from the
  * per-operation diffs of the watched roots, live files from the latest
  * snapshot of every table under them.
  */
object ManifestLayer {
  /** Directories holding a `_manifests/` child. */
  def tables(root: String): Seq[String] = {
    val f = new File(root)
    if (!f.exists()) Nil
    else {
      val st = Files.walk(f.toPath)
      try {
        val b = Seq.newBuilder[String]
        st.forEach((p: Path) => if (p.getFileName.toString == "_manifests") b += p.getParent.toString)
        b.result()
      } finally st.close()
    }
  }

  def liveFiles(ctx: Ctx): Long = ctx.watchRoots.flatMap(tables).map { t =>
    try ManifestStore.read(ctx.spark, t).inputFiles.length.toLong catch { case NonFatal(_) => 0L }
  }.sum

  /** `batchBytes`: bytes of the user batches the timed commits carried. */
  def metrics(ctx: Ctx, t: TraceSummary, batchBytes: Long): Map[String, Double] = Map(
    "manifest.commits" -> ctx.commits / t.steps,
    "manifest.commit_s" -> ctx.commitSeconds / t.steps,
    "manifest.files_written" -> ctx.filesWritten / t.steps,
    "manifest.bytes_written" -> ctx.bytesWritten / t.steps,
    "manifest.rewrite_ratio" -> (if (batchBytes == 0) 0.0 else ctx.bytesWritten.toDouble / batchBytes),
    "manifest.live_files" -> liveFiles(ctx).toDouble)
}
