package graft.queries

import java.nio.file.{Files, Paths}

import graft.{SparkSpec, Staging}

/** Pins the stream-stage invalidation contract (VERDICT r7 #2): staging
  * keyed on bare `Files.exists(dest)` silently served PRE-REGENERATION
  * copies of events.parquet after the driver rewrote /root/testdata in
  * place — tmp scratch outlives its source. The guard must key on the
  * SOURCE's size+mtime signature, so a changed source forces a re-stage
  * and an unchanged one reuses the copy.
  */
class StagingSpec extends SparkSpec {

  describe("StreamingQueries stage invalidation") {
    it("re-stages when the source file's content changes, reuses when unchanged") {
      withTempDir { dir =>
        val src = Paths.get(dir.toString, "src.parquet")
        val stage = Paths.get(dir.toString, "stage")
        Files.createDirectories(stage)
        Files.write(src, "generation-1".getBytes("UTF-8"))

        // never staged → stale
        assert(Staging.stale(src, stage))
        Staging.record(src, stage)
        // unchanged source → fresh (no needless re-copy)
        assert(!Staging.stale(src, stage))

        // the regeneration scenario: same path, new bytes (size change)
        Files.write(src, "generation-2-longer".getBytes("UTF-8"))
        assert(Staging.stale(src, stage))
        Staging.record(src, stage)
        assert(!Staging.stale(src, stage))

        // same size, different mtime (in-place rewrite) → stale
        Files.setLastModifiedTime(src,
          java.nio.file.attribute.FileTime.fromMillis(
            Files.getLastModifiedTime(src).toMillis + 60000L))
        assert(Staging.stale(src, stage))
      }
    }

    it("a stage dir without a marker is always stale (pre-fix scratch dirs)") {
      withTempDir { dir =>
        val src = Paths.get(dir.toString, "src.parquet")
        val stage = Paths.get(dir.toString, "stage")
        Files.createDirectories(stage)
        Files.write(src, "data".getBytes("UTF-8"))
        // simulate a pre-fix stage: dest exists but no signature marker
        Files.write(stage.resolve("events.parquet"), "stale-copy".getBytes("UTF-8"))
        assert(Staging.stale(src, stage))
      }
    }
  }
}
