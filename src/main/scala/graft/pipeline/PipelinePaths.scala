package graft.pipeline

/** The single place scheme handling lives: `s3://bucket/...` config
  * paths resolve to the mounted/offline filesystem by dropping the
  * scheme (a cloud deployment would instead map to `s3a://` here).
  * Idempotent — callers at different layers may both normalize.
  * One helper, not three private copies: scheme logic diverging between
  * the checkpoint path and the LATEST cutoff marker path would
  * reintroduce the restart data-loss bug fixed in Source.latestCutoff.
  */
object PipelinePaths {
  def stripScheme(p: String): String =
    if (p.startsWith("s3://")) p.drop("s3://".length) else p

  /** The streaming checkpoint both run modes default to. */
  def checkpoint(config: PipelineConfig): String =
    stripScheme(config.output.s3.path) + "/_checkpoint"
}
