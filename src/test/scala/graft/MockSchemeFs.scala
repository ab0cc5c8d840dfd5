package graft

import org.apache.hadoop.fs.Path

/** A RawLocalFileSystem registered under a NON-file scheme — lets the
  * suite execute the WAP version log's non-local commit branch (an
  * entry published by `FileSystem.rename` onto its sequence name) and
  * full parquet publishes against a scheme-qualified root, the wire
  * the hdfs:// deployment uses, without an HDFS cluster. Backed by the
  * local disk; the point is the scheme dispatch, not the storage.
  *
  * `rename` follows HDFS's contract and refuses an existing
  * destination file (the local rename(2) underneath would overwrite
  * it). The refusal is a check-then-rename, so this FS conflicts
  * writers that arrive one after another; only the local branch's
  * link(2) is atomic under a true race. `logRenames` counts the log
  * entries published through this branch.
  */
class MockSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockfs"
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")

  override def rename(src: Path, dst: Path): Boolean =
    if (exists(dst) && getFileStatus(dst).isFile) false
    else {
      val ok = super.rename(src, dst)
      if (ok && dst.getParent.getName == "_log")
        MockSchemeFs.logRenames.incrementAndGet()
      ok
    }
}

object MockSchemeFs {
  val logRenames = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** A [[MockSchemeFs]] whose `delete` reports failure and deletes
  * nothing — the object-store delete that quietly did not happen.
  */
class NoDeleteFs extends MockSchemeFs {
  override def getScheme: String = "nodelfs"
  override def getUri: java.net.URI = java.net.URI.create("nodelfs:///")
  override def delete(p: Path, recursive: Boolean): Boolean = false
}
