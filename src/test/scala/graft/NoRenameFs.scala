package graft

import org.apache.hadoop.fs.Path

/** Object-store simulation for PublishSpec: a local filesystem whose
  * rename ALWAYS throws — the defining non-capability the rename-free
  * publish commit log is built for (object stores implement rename as
  * copy+delete, so nothing that renames can be an atomic commit). Any
  * code path that reaches for rename under this scheme fails loudly
  * instead of silently relying on atomicity the store doesn't have.
  *
  * Registered per-test via `fs.norename.impl` on the session's Hadoop
  * conf; paths look like `norename:/tmp/...`.
  */
class NoRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "norename"
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def rename(src: Path, dst: Path): Boolean =
    throw new UnsupportedOperationException(
      s"rename($src, $dst): not atomic on this store — commit must be rename-free")
}
