package graft

import java.nio.file.{Files, Path}

/** Local-filesystem helpers shared by the cache tiers and their tools. */
object Fs {

  /** Delete `root` and everything under it, children before parents; a
    * missing `root` is a no-op. The walk's directory handles are closed
    * even when a delete fails. */
  def deleteTree(root: Path): Unit = {
    if (!Files.exists(root)) return
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    finally walk.close()
  }
}
