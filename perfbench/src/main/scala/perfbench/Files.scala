package perfbench

import java.io.File

/** File-tree accounting for the stores a workload writes. */
object Files {
  /** path → (bytes, modification time) of every file under `root`. */
  def listing(root: String): Map[String, (Long, Long)] = {
    def walk(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
      else Iterator(f)
    val r = new File(root)
    if (!r.exists()) Map.empty
    else walk(r).map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap
  }

  /** (bytes, files) of the files in `after` that are new or changed
    * since `before`. Files created and deleted between the two
    * listings are not seen. */
  def written(before: Map[String, (Long, Long)],
              after: Map[String, (Long, Long)]): (Long, Int) = {
    val changed = after.filter { case (p, st) => !before.get(p).contains(st) }
    (changed.values.map(_._1).sum, changed.size)
  }
}
