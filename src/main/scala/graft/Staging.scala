package graft

import java.nio.file.{Files, Path}

/** Source-signature staleness guard for anything STAGED from a testdata
  * file into scratch space (streaming file-source copies, layout
  * rewrites, partitioned mirrors). Keyed on bare existence, a staged
  * copy SURVIVES in-place regeneration of its source (tmp outlives
  * testdata — the VERDICT r7 #2 failure class); the guard compares the
  * SOURCE's identity (size + mtime) recorded in a marker file at stage
  * time, so any regeneration forces a rebuild.
  */
object Staging {

  def sourceSig(src: Path): String =
    s"${Files.size(src)}:${Files.getLastModifiedTime(src).toMillis}"

  /** True when `stage` lacks an up-to-date marker for `src`. */
  def stale(src: Path, stage: Path): Boolean = {
    val marker = stage.resolve(".source_sig")
    !Files.exists(marker) ||
      new String(Files.readAllBytes(marker), "UTF-8") != sourceSig(src)
  }

  def record(src: Path, stage: Path): Unit = {
    Files.createDirectories(stage)
    Files.write(stage.resolve(".source_sig"), sourceSig(src).getBytes("UTF-8"))
    ()
  }

  /** Run `build` unless `stage` already carries a fresh marker for
    * `src`; clears the stage dir first on a stale rebuild. */
  def ensureFresh(src: Path, stage: Path)(build: => Unit): Unit =
    if (stale(src, stage)) {
      deleteRecursively(stage)
      build
      record(src, stage)
    }

  /** Recursive delete with the walk stream CLOSED (an unclosed
    * Files.walk leaks a directory handle per call). */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally walk.close()
    }
}
