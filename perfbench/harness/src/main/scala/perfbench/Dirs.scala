package perfbench

import java.io.File

/** Local directory helpers for the workloads' scratch outputs. */
object Dirs {
  /** Every regular file under `f` (or `f` itself). */
  def files(f: File): Seq[File] =
    if (f.isFile) Seq(f)
    else Option(f.listFiles()).toSeq.flatten.flatMap(files)

  def bytes(f: File): Long = files(f).map(_.length).sum

  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
