package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.DataFrame

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

  /** Write `df` as exactly one `format` file at `dest` with modification
    * time `mtime`: the file source orders a directory's files by mtime,
    * so staged batch files replay in a fixed order. The single part is
    * built in a `_`-prefixed sibling directory, which a file source
    * never lists, and that directory is removed afterwards. */
  def writeOneFile(df: DataFrame, dest: Path, mtime: Long, format: String = "parquet"): Unit = {
    val tmp = dest.resolveSibling(s"_build_${dest.getFileName}")
    df.coalesce(1).write.mode("overwrite").format(format).save(tmp.toString)
    val listing = Files.list(tmp)
    val part =
      try listing.filter(_.getFileName.toString.startsWith("part-")).findFirst().orElseThrow()
      finally listing.close()
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dest, FileTime.fromMillis(mtime))
    deleteRecursively(tmp)
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
