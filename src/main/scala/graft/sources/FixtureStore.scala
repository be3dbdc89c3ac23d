package graft.sources

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

/** Marker-keyed, atomically-published landed-store fixtures.
  *
  * The callers (the IVF-PQ index store, the alert-store fixture) share
  * one protocol: a store directory is valid iff its `_graft_source`
  * marker equals the caller's source tag, and a mismatched store is
  * rebuilt, never reused. The old in-place check-then-overwrite let a
  * concurrent JVM observe a half-written store (or land a marker over
  * someone else's partial rebuild); here the build happens in a
  * sibling temp directory (unique per process) and is published with
  * one atomic directory move, so a reader only ever sees a complete
  * store — or none at all, which fails loudly.
  */
object FixtureStore {

  private val MarkerName = "_graft_source"

  private def markerOf(dir: File): String = {
    val m = new File(dir, MarkerName)
    if (m.exists())
      new String(Files.readAllBytes(m.toPath), "UTF-8")
    else ""
  }

  private[graft] def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) {
      val children = f.listFiles()
      if (children != null) children.foreach(deleteRecursively)
    }
    f.delete()
    ()
  }

  /** The identity tag of a source file: its path, byte size and mtime,
    * so regenerated testdata or a different sf dir always misses and
    * rebuilds. Callers append their store's layout version. */
  def sourceTagOf(path: String): String = {
    val f = new File(path)
    s"$path:${f.length}:${f.lastModified}"
  }

  /** Where a `kind` store for source tag `tag` lives:
    * `<java.io.tmpdir>/graft_<kind>_<md5(tag)>`, one directory per
    * source generation. */
  def dirFor(kind: String, tag: String): String = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(tag.getBytes("UTF-8")).map("%02x".format(_)).mkString
    new File(sys.props("java.io.tmpdir"), s"graft_${kind}_$md5").getPath
  }

  /** Ensure a complete store tagged `tag` exists at `storeDir`.
    * `build` writes the store's content into the (fresh, per-process)
    * directory path it is given; the marker write and the publish move
    * happen only after `build` returns, so a crash mid-build leaves
    * the previous store untouched. Returns `storeDir`. */
  def ensure(storeDir: String, tag: String)(build: String => Unit): String = {
    val dir = new File(storeDir)
    if (markerOf(dir) == tag) return storeDir
    val tmp = new File(dir.getParentFile,
      dir.getName + ".build-" + ProcessHandle.current().pid())
    deleteRecursively(tmp)
    build(tmp.getPath)
    Files.write(new File(tmp, MarkerName).toPath, tag.getBytes("UTF-8"))
    // publish: move any stale store ASIDE (rename, not delete) then one
    // atomic move in. Renaming instead of deleting means a racer's
    // just-published same-tag store is preserved at the .stale path
    // rather than destroyed mid-read, and the window where the store
    // path is empty is two rename metadata ops, not a recursive delete.
    // If another process won the race and its store carries OUR tag,
    // reuse it; the tmp build dir is always reclaimed, including on the
    // failure path.
    val stale = new File(dir.getParentFile,
      dir.getName + ".stale-" + ProcessHandle.current().pid())
    var attempt = 0
    var done = false
    while (!done) {
      if (markerOf(dir) == tag) { deleteRecursively(tmp); done = true }
      else {
        if (dir.exists()) {
          deleteRecursively(stale)
          try Files.move(dir.toPath, stale.toPath,
            StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.io.IOException => () } // racer moved it first
        }
        try {
          Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
          done = true
        } catch {
          case e: java.io.IOException =>
            if (attempt == 0) attempt = 1
            else {
              deleteRecursively(tmp)
              throw new IllegalStateException(
                s"cannot publish fixture store at $storeDir", e)
            }
        }
      }
    }
    deleteRecursively(stale)
    storeDir
  }
}
