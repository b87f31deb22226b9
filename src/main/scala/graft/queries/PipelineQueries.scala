package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.{QueryModule, Staging, Tables}
import graft.Staging.deleteRecursively
import graft.functions.Tstamps
import graft.pipeline._

/** Driver-checked queries for the pipeline operators (SURVEY §2.1
  * O1/O5-O11/O13-O17): each runs real pipeline machinery over the events
  * table and reduces to a deterministic aggregate DuckDB can oracle.
  *
  * The enriched-TSV line is synthesized identically in Spark and in the
  * oracle SQL:
  *   event_id \t 'graft' \t event_type \t ts(millis) \t user_id \t
  *   cents(value) \t props
  * (collector tstamp at TSV index 3 like the reference's enriched format,
  * reference StatsD.scala:19, Common.scala:88-96; the double `value` goes
  * in as integer cents so number→string formatting is engine-independent).
  */
object PipelineQueries extends QueryModule {

  // ---- shared line builder (must mirror oracleLineSql) -----------------

  private def tsStr: Column = date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSS")

  private def lineCol(ts3: Column): Column =
    concat_ws("\t",
      col("event_id").cast("string"), lit("graft"), col("event_type"),
      ts3, col("user_id").cast("string"),
      round(col("value") * 100).cast("long").cast("string"), col("props"))

  /** DuckDB rendition of [[lineCol]] with `ts3Sql` at index 3. */
  private def lineSql(ts3Sql: String): String =
    "concat_ws(chr(9), CAST(event_id AS VARCHAR), 'graft', event_type, " +
      s"$ts3Sql, CAST(user_id AS VARCHAR), " +
      "CAST(CAST(round(value * 100, 0) AS BIGINT) AS VARCHAR), props)"

  private val TsSql = "strftime(ts, '%Y-%m-%d %H:%M:%S.%g')"

  // ---- q50: full enriched-event schema round-trip ----------------------

  /** Full-width 131-column enriched TSV (graft.functions.EnrichedEvent)
    * synthesized from the events table — load-bearing fields populated,
    * the rest empty like real enriched lines — then parsed back through
    * `EnrichedEvent.parse` and typed accessors, and aggregated. Pins the
    * whole wire format: field ORDER (a one-off misplacement shifts every
    * later column and breaks the oracle), the millisecond timestamp
    * format, and null-safe typed casts.
    */
  def enrichedSchema(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.EnrichedEvent
    val raw: Seq[Column] = EnrichedEvent.fieldNames.map {
      case "app_id"            => lit("graft")
      case "platform"          => lit("srv")
      case "collector_tstamp"  => tsStr
      case "event"             => col("event_type")
      case "event_id"          => col("event_id").cast("string")
      case "user_id"           => col("user_id").cast("string")
      case "domain_sessionidx" => (col("user_id") % 10).cast("string")
      case "se_value"          => round(col("value") * 100).cast("long").cast("string")
      case "derived_tstamp"    => tsStr
      case _                   => lit("")
    }
    // coalesce per field: concat_ws SKIPS null arguments (it doesn't
    // emit an empty field), so one null column would shift every later
    // field left — exactly the misplacement this query exists to catch
    val values = raw.map(c => coalesce(c, lit("")))
    val lines = Tables(s, dir, "events").select(concat_ws("\t", values: _*).as("value"))
    val parsed = EnrichedEvent.parse(lines)
    parsed.select(
      col("event"),
      EnrichedEvent.asLong(col("user_id")).as("uid"),
      EnrichedEvent.tstamp(col("collector_tstamp")).as("cts"),
      EnrichedEvent.asLong(col("se_value")).as("cents"),
      EnrichedEvent.asLong(col("domain_sessionidx")).as("sidx"))
      .groupBy(col("event"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("uid")).as("users"),
        min(col("cts")).as("min_ts"),
        sum(col("cents")).as("sum_cents"),
        sum(col("sidx")).as("sum_idx"))
      .orderBy(col("event"))
  }

  private val q50Oracle: String =
    """SELECT event_type AS event, COUNT(*) AS n,
      | COUNT(DISTINCT user_id) AS users,
      | MIN(date_trunc('milliseconds', ts)) AS min_ts,
      | CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
      | CAST(SUM(user_id % 10) AS BIGINT) AS sum_idx
      |FROM events GROUP BY event ORDER BY event""".stripMargin

  // ---- q17: end-to-end pipeline round-trip -----------------------------

  /** M1 minimum slice (SURVEY §7.2) end-to-end: stage enriched-style TSV
    * lines → streaming file source (Trigger.AvailableNow micro-batches) →
    * foreachBatch → gzip text files with seq-range names under a
    * date-decorated dir → read the .gz files back → aggregate.
    */
  def pipelineRoundtrip(s: SparkSession, dir: String): DataFrame =
    roundtrip(s, dir, q = "q17", exactNaming = true)

  /** q68: the SAME pipeline and read-back aggregate as q17 but with
    * `exactNaming=false` — the cluster-scale write mode that keeps
    * Spark's parallel file naming (no per-partition-value coalesce, no
    * rename pass; Emitter.scala scale notes). Sharing q17's oracle pins
    * the content contract of the scalable path: whatever file names it
    * produces, the records that land under the output root are
    * byte-identical in aggregate to the exact-naming mode's.
    */
  def scalableNaming(s: SparkSession, dir: String): DataFrame =
    roundtrip(s, dir, q = "q68", exactNaming = false)

  /** q85: q17's exact pipeline but through the SECOND real codec in the
    * Serializers registry — Hadoop's built-in splittable bzip2. Sharing
    * q17's oracle pins that the registry seam (codec value, extension,
    * read-back) carries a non-gzip codec end-to-end: `.bz2` objects
    * land under the decorated layout and decompress to byte-identical
    * content. This is the offline proof of the LZO plug-in path
    * (reference S3Loader.scala:41-44 codec selection) with a codec that
    * shares indexed LZO's defining property, block-splittable re-reads.
    */
  def bzip2Roundtrip(s: SparkSession, dir: String): DataFrame =
    roundtrip(s, dir, q = "q85", exactNaming = true, compression = Compression.Bzip2)

  /** q87: the Kinesis-shaped transport contract, driver-checked across
    * MULTIPLE fetch cycles: 2 000 events (lowest ids — deterministic)
    * spread over 4 shards with per-shard monotone sequence numbers,
    * drained through [[ShardedSource]] at `maxRecords = 100` per shard
    * per GetRecords cycle. Each micro-batch is exactly one cycle and
    * flushes one object named with the cycle's union seq range, so
    * parsing `first-last` back out of the emitted object NAMES and
    * counting each object's lines reconstructs the entire cycle
    * structure. The oracle recomputes the per-shard capped chunking in
    * SQL — a green row pins admission caps, per-shard ordering, cycle
    * union ranges, and the metadata-seq naming path end-to-end.
    * (Cycle first_seqs strictly increase — each shard's chunk minima
    * do — so ordering by first_seq IS cycle order.)
    */
  def shardedCycles(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.ShardedSource
    val work = freshWorkDir("q87", dir)
    val arrival = Instant.parse("2020-01-01T00:00:00Z")
    // driver-side record list: the transport double's constructor takes
    // in-memory records (it IS the simulated stream) — bounded at 2 000
    val recs = Tables(s, dir, "events")
      .orderBy(col("event_id")).limit(2000)
      .select(col("event_id").cast("long"), (col("user_id") % 4).cast("string"))
      .collect()
      .map(r => ShardedSource.Record(shardId = r.getString(1),
        sequenceNumber = r.getLong(0), data = s"line-${r.getLong(0)}",
        arrival = arrival))
      .toSeq
    val source = new ShardedSource(recs, s"$work/stage")
    val config = PipelineConfig(
      region = None,
      purpose = Purpose.Raw,
      input = InputConfig("graft-q87", s"$work/stage", InitialPosition.TrimHorizon,
        maxRecords = 100),
      output = OutputConfig(
        S3OutputConfig(s"$work/out", dateFormat = None, filenamePrefix = Some("graft"),
          compression = Compression.Gzip, maxTimeout = 10000),
        BadOutputConfig(s"$work/bad")),
      buffer = BufferConfig(256L << 20, 1000000, 0),
      monitoring = None)
    Pipeline.runOnce(s, config, checkpointDir = Some(s"$work/checkpoint"), source = source)
    val seqRange = "-(\\d{20})-(\\d{20})\\.gz$"
    s.read.option("recursiveFileLookup", "true").text(s"$work/out")
      .select(input_file_name().as("f"))
      .groupBy(col("f")).agg(count(lit(1)).as("n"))
      .select(
        regexp_extract(col("f"), seqRange, 1).as("first_seq"),
        regexp_extract(col("f"), seqRange, 2).as("last_seq"),
        col("n"))
      .orderBy(col("first_seq"))
  }

  private val q87Oracle: String =
    """WITH r AS (SELECT event_id, user_id % 4 AS shard
      |           FROM events ORDER BY event_id LIMIT 2000),
      |rk AS (SELECT event_id, shard,
      |         (row_number() OVER (PARTITION BY shard ORDER BY event_id) - 1) // 100 AS cycle
      |       FROM r)
      |SELECT lpad(CAST(MIN(event_id) AS VARCHAR), 20, '0') AS first_seq,
      |       lpad(CAST(MAX(event_id) AS VARCHAR), 20, '0') AS last_seq,
      |       COUNT(*) AS n
      |FROM rk GROUP BY cycle ORDER BY first_seq""".stripMargin

  /** q103: q87's transport contract ACROSS A RESHARD — the hardest part
    * of the real KCL contract (reference `KinesisSourceExecutor.scala:
    * 63-93` lease semantics): shard `a` SPLITS into `a1`/`a2`, and
    * `b1`+`b2` MERGE into `bm`, with parent-before-child ordering — a
    * child shard contributes nothing to any fetch cycle until its last
    * parent fully drains. 2 000 events spread over the six shards by
    * `user_id % 6`, drained at `maxRecords = 100`; each micro-batch is
    * one global fetch cycle and flushes one object named with the
    * cycle's union seq range. The oracle recomputes the start-cycle
    * algebra in SQL — parentless shards start at 0, `a1`/`a2` at
    * finish(`a`), `bm` at max(finish(`b1`), finish(`b2`)) — so a green
    * row pins that no child record ever rides before its parents drain.
    * (Unlike q87, cycle order is NOT first_seq order — a child's low
    * sequence numbers appear in late cycles — so both sides order by
    * first_seq, which is unique across objects: cycles partition the
    * records, so each object's min is distinct.)
    */
  def reshardedCycles(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.ShardedSource
    val work = freshWorkDir("q103", dir)
    val arrival = Instant.parse("2020-01-01T00:00:00Z")
    val shardNames = Seq("a", "a1", "a2", "b1", "b2", "bm")
    val recs = Tables(s, dir, "events")
      .orderBy(col("event_id")).limit(2000)
      .select(col("event_id").cast("long"), (col("user_id") % 6).cast("int"))
      .collect()
      .map(r => ShardedSource.Record(shardId = shardNames(r.getInt(1)),
        sequenceNumber = r.getLong(0), data = s"line-${r.getLong(0)}",
        arrival = arrival))
      .toSeq
    val source = new ShardedSource(recs, s"$work/stage",
      parents = Map("a1" -> Seq("a"), "a2" -> Seq("a"), "bm" -> Seq("b1", "b2")))
    val config = PipelineConfig(
      region = None,
      purpose = Purpose.Raw,
      input = InputConfig("graft-q103", s"$work/stage", InitialPosition.TrimHorizon,
        maxRecords = 100),
      output = OutputConfig(
        S3OutputConfig(s"$work/out", dateFormat = None, filenamePrefix = Some("graft"),
          compression = Compression.Gzip, maxTimeout = 10000),
        BadOutputConfig(s"$work/bad")),
      buffer = BufferConfig(256L << 20, 1000000, 0),
      monitoring = None)
    Pipeline.runOnce(s, config, checkpointDir = Some(s"$work/checkpoint"), source = source)
    val seqRange = "-(\\d{20})-(\\d{20})\\.gz$"
    s.read.option("recursiveFileLookup", "true").text(s"$work/out")
      .select(input_file_name().as("f"))
      .groupBy(col("f")).agg(count(lit(1)).as("n"))
      .select(
        regexp_extract(col("f"), seqRange, 1).as("first_seq"),
        regexp_extract(col("f"), seqRange, 2).as("last_seq"),
        col("n"))
      .orderBy(col("first_seq"))
  }

  private val q103Oracle: String =
    """WITH r AS (SELECT event_id,
      |             CASE user_id % 6 WHEN 0 THEN 'a' WHEN 1 THEN 'a1'
      |                  WHEN 2 THEN 'a2' WHEN 3 THEN 'b1' WHEN 4 THEN 'b2'
      |                  ELSE 'bm' END AS shard
      |           FROM events ORDER BY event_id LIMIT 2000),
      |c AS (SELECT shard, COUNT(*) AS n FROM r GROUP BY shard),
      |f AS (SELECT shard, CAST(CEIL(n / 100.0) AS BIGINT) AS fin
      |      FROM c WHERE shard IN ('a', 'b1', 'b2')),
      |st AS (SELECT shard,
      |         CASE WHEN shard IN ('a', 'b1', 'b2') THEN 0
      |              WHEN shard IN ('a1', 'a2') THEN (SELECT fin FROM f WHERE shard = 'a')
      |              ELSE (SELECT MAX(fin) FROM f WHERE shard IN ('b1', 'b2')) END AS s0
      |       FROM c),
      |rk AS (SELECT event_id, r.shard,
      |         s0 + (row_number() OVER (PARTITION BY r.shard ORDER BY event_id) - 1) // 100
      |           AS cycle
      |       FROM r JOIN st ON r.shard = st.shard)
      |SELECT lpad(CAST(MIN(event_id) AS VARCHAR), 20, '0') AS first_seq,
      |       lpad(CAST(MAX(event_id) AS VARCHAR), 20, '0') AS last_seq,
      |       COUNT(*) AS n
      |FROM rk GROUP BY cycle ORDER BY first_seq""".stripMargin

  private def roundtrip(s: SparkSession, dir: String, q: String,
                        exactNaming: Boolean,
                        compression: Compression = Compression.Gzip): DataFrame = {
    val work = freshWorkDir(q, dir)
    val in = s"$work/in"
    val out = s"$work/out"

    Tables(s, dir, "events")
      .select(lineCol(tsStr).as("value"))
      .coalesce(2)
      .write.mode("overwrite").text(in)

    val config = PipelineConfig(
      region = None,
      purpose = Purpose.Enriched,
      input = InputConfig(s"graft-$q", in, InitialPosition.TrimHorizon, maxRecords = 64),
      output = OutputConfig(
        S3OutputConfig(out, dateFormat = Some("{yyyy}/{MM}"), filenamePrefix = Some("graft"),
          compression = compression, maxTimeout = 10000),
        BadOutputConfig(s"$work/bad")),
      // byteLimit sized above the staged input (≈10 MB at sf0.1) so the
      // AvailableNow drain stays one flush, like the old files-based
      // admission; byte-limit SPLITTING is pinned by PipelineSpec.
      buffer = BufferConfig(byteLimit = 256L << 20, recordLimit = 10000, timeLimit = 0),
      monitoring = None)

    Pipeline.runOnce(s, config,
      seqExpr = Some(split(col("value"), "\t").getItem(0)),
      checkpointDir = Some(s"$work/checkpoint"),
      exactNaming = exactNaming)

    // Read back ONLY what the pipeline wrote (gzip text files) and reduce.
    s.read.option("recursiveFileLookup", "true").text(out)
      .select(Tstamps.collectorTstamp(col("value")).as("cts"),
        get(split(col("value"), "\t", -1), lit(5)).cast("long").as("cents"))
      .agg(
        count(lit(1)).as("n"),
        count(col("cts")).cast("long").as("n_ts"),
        min(col("cts")).as("min_ts"),
        max(col("cts")).as("max_ts"),
        sum(col("cents")).as("sum_cents"))
  }

  private val q17Oracle: String =
    """SELECT COUNT(*) AS n, COUNT(ts) AS n_ts,
      | MIN(date_trunc('milliseconds', ts)) AS min_ts,
      | MAX(date_trunc('milliseconds', ts)) AS max_ts,
      | CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events""".stripMargin

  // ---- q18: self-describing schema-key partitioning --------------------

  /** Schema-key extraction + partition fallback matrix (reference
    * Common.scala:60-71, CommonSpec.scala:113-159): valid Iglu URIs
    * partition as `vendor.name/format-model`; JSON without a schema field
    * or with a non-Iglu / invalid-model URI falls back to
    * `unpartitioned`. (Malformed-JSON → unpartitioned and Left-records →
    * `reading-error` are pinned by RowTypesSpec — DuckDB's json functions
    * reject malformed input so they can't sit in this oracle.)
    */
  def schemaKeyPartition(s: SparkSession, dir: String): DataFrame = {
    val json = sdJsonCol
    Tables(s, dir, "events")
      .select(json.as("value"))
      .select(RowTypes.partition(col("value"), lit(null).cast("array<string>")).as("row_type"))
      .groupBy(col("row_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("row_type"))
  }

  /** Self-describing JSON synthesized from events, exercising the
    * fallback matrix by event_id residue (mirrored in [[q18Oracle]]). */
  private def sdJsonCol: Column = {
    val m = col("event_id") % 5
    when(m === 0, concat(lit("{\"data\":"), col("props"), lit("}")))
      .when(m === 1, lit("{\"schema\":\"http://example.com/schema\",\"data\":1}"))
      .when(m === 2, concat(lit("{\"schema\":\"iglu:com.graft/"), col("event_type"),
        lit("/jsonschema/0-0-1\",\"data\":1}")))
      .otherwise(concat(
        lit("{\"schema\":\"iglu:com.graft/"), col("event_type"), lit("/jsonschema/"),
        (lit(1) + col("user_id") % 3).cast("string"), lit("-0-"),
        (col("event_id") % 2).cast("string"), lit("\",\"data\":"), col("props"), lit("}")))
  }

  private val q18Oracle: String =
    s"""WITH sd AS (
       |  SELECT CASE
       |    WHEN event_id % 5 = 0 THEN concat('{"data":', props, '}')
       |    WHEN event_id % 5 = 1 THEN '{"schema":"http://example.com/schema","data":1}'
       |    WHEN event_id % 5 = 2 THEN concat('{"schema":"iglu:com.graft/', event_type, '/jsonschema/0-0-1","data":1}')
       |    ELSE concat('{"schema":"iglu:com.graft/', event_type, '/jsonschema/',
       |      CAST(1 + user_id % 3 AS VARCHAR), '-0-', CAST(event_id % 2 AS VARCHAR), '","data":', props, '}')
       |  END AS value FROM events),
       |typed AS (
       |  SELECT CASE
       |    WHEN json_extract_string(value, '$$.schema') IS NOT NULL
       |     AND regexp_matches(json_extract_string(value, '$$.schema'), '${RowTypes.IgluUri}')
       |    THEN concat(
       |      regexp_extract(json_extract_string(value, '$$.schema'), '${RowTypes.IgluUri}', 1), '.',
       |      regexp_extract(json_extract_string(value, '$$.schema'), '${RowTypes.IgluUri}', 2), '/',
       |      regexp_extract(json_extract_string(value, '$$.schema'), '${RowTypes.IgluUri}', 3), '-',
       |      regexp_extract(json_extract_string(value, '$$.schema'), '${RowTypes.IgluUri}', 4))
       |    ELSE 'unpartitioned' END AS row_type
       |  FROM sd)
       |SELECT row_type, COUNT(*) AS n FROM typed GROUP BY row_type ORDER BY row_type""".stripMargin

  // ---- q19: enriched tstamp extraction totality ------------------------

  /** Collector-tstamp parse totality (reference Common.scala:88-96):
    * garbage/empty/short col-3 → null, never an error; batch meta = min
    * tstamp + counts (Batch.scala:36-40).
    */
  def enrichedMeta(s: SparkSession, dir: String): DataFrame = {
    val ts3 =
      when(col("event_id") % 13 === 0, lit("not-a-time"))
        .when(col("event_id") % 17 === 0, lit(""))
        .otherwise(tsStr)
    val line =
      when(col("event_id") % 19 === 0,
        concat_ws("\t", col("event_id").cast("string"), lit("x")))
        .otherwise(lineCol(ts3))
    Tables(s, dir, "events")
      .select(line.as("value"))
      .select(Tstamps.collectorTstamp(col("value")).as("cts"))
      .agg(
        count(lit(1)).as("n"),
        count(col("cts")).cast("long").as("n_ts"),
        min(col("cts")).as("min_ts"),
        max(col("cts")).as("max_ts"))
  }

  private val q19Oracle: String =
    """SELECT COUNT(*) AS n,
      | CAST(COUNT(CASE WHEN event_id % 19 = 0 OR event_id % 13 = 0 OR event_id % 17 = 0
      |   THEN NULL ELSE 1 END) AS BIGINT) AS n_ts,
      | MIN(CASE WHEN event_id % 19 = 0 OR event_id % 13 = 0 OR event_id % 17 = 0
      |   THEN NULL ELSE date_trunc('milliseconds', ts) END) AS min_ts,
      | MAX(CASE WHEN event_id % 19 = 0 OR event_id % 13 = 0 OR event_id % 17 = 0
      |   THEN NULL ELSE date_trunc('milliseconds', ts) END) AS max_ts
      |FROM events""".stripMargin

  // ---- q20: bad-row channel --------------------------------------------

  /** GenericError structure for failed records (reference
    * ISerializer.scala:46-74): processor identity + error list + base64
    * payload. The non-deterministic failure timestamp is excluded from
    * the checked columns (it is exercised in BadRowsSpec).
    */
  def badRows(s: SparkSession, dir: String): DataFrame = {
    val line = lineCol(tsStr)
    val events = Tables(s, dir, "events")
      .select(col("event_id"), line.as("value"))
      .withColumn("error",
        when(col("event_id") % 11 === 0,
          array(lit("Error writing raw event to output stream. simulated"))))
    val bad = events.filter(col("error").isNotNull)
      .select(BadRows.genericError(col("value"), col("error")).as("br"))
    bad.select(
      col("br.processor.artifact").as("artifact"),
      col("br.processor.version").as("version"),
      element_at(col("br.failure.errors"), 1).as("err0"),
      col("br.payload").as("payload"))
      .orderBy(col("payload"))
  }

  private val q20Oracle: String =
    s"""SELECT 'graft' AS artifact, '0.1.0' AS version,
       | 'Error writing raw event to output stream. simulated' AS err0,
       | to_base64(encode(${lineSql(TsSql)})) AS payload
       |FROM events WHERE event_id % 11 = 0 ORDER BY payload""".stripMargin

  // ---- q241: dead-letter replay --------------------------------------

  /** The bad-row RECOVERY loop q20 stops short of: failed records go to
    * the dead-letter channel carrying only the base64 payload
    * (reference ISerializer.scala:46-74 — the payload IS the original
    * line, that's the contract that makes replay possible at all);
    * after the incident, replay decodes the payloads, re-parses them
    * through the SAME TSV parse as the good path, and re-admits. The
    * pin: per-type counts and exact cent sums computed from the
    * good ∪ replayed union — every number a round trip through
    * render → base64 → decode → parse — reconcile with the direct
    * table, and the recovered count is exactly the simulated-failure
    * population. One scan + the union; nothing leaves executors.
    */
  def badrowReplay(s: SparkSession, dir: String): DataFrame = {
    val line = lineCol(tsStr)
    val rendered = Tables(s, dir, "events")
      .select(col("event_id").as("eid"), line.as("value"))
    val bad = rendered.filter(col("eid") % 11 === 0)
      .select(BadRows.genericError(col("value"),
        array(lit("Error writing raw event to output stream. simulated"))).as("br"))
      .select(col("br.payload").as("payload"))
    // the dead-letter detour: only the base64 payload survives
    val replayed = bad
      .select(decode(unbase64(col("payload")), "UTF-8").as("value"),
        lit(1L).as("recovered"))
    val good = rendered.filter(col("eid") % 11 =!= 0)
      .select(col("value"), lit(0L).as("recovered"))
    good.unionByName(replayed)
      .select(split(col("value"), "\t").as("f"), col("recovered"))
      .select(element_at(col("f"), 3).as("event_type"),
        element_at(col("f"), 6).cast("long").as("cents"),
        col("recovered"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("recovered")).as("n_recovered"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("event_type"))
  }

  private val q241Oracle: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN event_id % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_recovered,
      |  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  // ---- q95/q96: CSV and JSON source round-trips ------------------------

  /** The documents table re-rendered with the characters that break
    * naive delimited-text handling — commas, embedded double quotes,
    * embedded NEWLINES (multi-line CSV records), backslashes, leading/
    * trailing whitespace, and the empty string — shared by the CSV and
    * JSON round-trips. Synthesized identically in [[edgePayloadSql]]
    * for the oracle, which fingerprints the ORIGINAL strings: a green
    * row proves the write→read cycle is byte-lossless for every case.
    */
  private def edgeCorpus(s: SparkSession, dir: String): DataFrame = {
    val m = col("doc_id") % 6
    val edge = when(m === 0, lit("a,b,\"c\" d"))
      .when(m === 1, lit("x\ny"))
      .when(m === 2, lit(" lead and trail "))
      .when(m === 3, lit("back\\slash"))
      .when(m === 4, lit(""))
      .otherwise(lit("plain"))
    Tables(s, dir, "documents")
      .select(col("doc_id"), concat(substring(col("text"), 1, 20), lit("|"), edge).as("payload"))
  }

  private val edgePayloadSql: String =
    """(substr(text, 1, 20) || '|' || CASE doc_id % 6
      |  WHEN 0 THEN 'a,b,"c" d'
      |  WHEN 1 THEN 'x' || chr(10) || 'y'
      |  WHEN 2 THEN ' lead and trail '
      |  WHEN 3 THEN 'back\slash'
      |  WHEN 4 THEN ''
      |  ELSE 'plain' END)""".stripMargin

  /** Per-doc fingerprint of the re-read corpus — length + the shared
    * 60-bit hash pin every byte. */
  private def fingerprints(back: DataFrame): DataFrame =
    back.select(col("doc_id"),
        length(col("payload")).cast("long").as("n_chars"),
        graft.functions.TextFns.hash60(col("payload")).as("h"))
      .orderBy(col("doc_id"))

  /** q95: CSV source/sink round-trip over the edge-case corpus. Writer
    * keeps whitespace verbatim (the CSV writer TRIMS by default);
    * reader needs `multiLine` for quoted embedded newlines and a
    * never-occurring `nullValue` sentinel so a quoted empty string
    * comes back as `''`, not null (the reader's default maps both the
    * unquoted AND quoted empty field to null).
    */
  def csvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = freshWorkDir("q95", dir)
    val corpus = edgeCorpus(s, dir)
    corpus.write.mode("overwrite")
      .option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(out)
    fingerprints(
      s.read.option("header", "true").option("multiLine", "true")
        .option("nullValue", "\\N")
        .schema(corpus.schema).csv(out))
  }

  /** q96: JSON-lines source/sink round-trip over the same corpus (string
    * escaping instead of quoting rules — newlines travel as `\n`, so no
    * multi-line mode involved). Shares q95's oracle: both sources must
    * reproduce the identical original bytes.
    */
  def jsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = freshWorkDir("q96", dir)
    val corpus = edgeCorpus(s, dir)
    corpus.write.mode("overwrite").json(out)
    fingerprints(s.read.schema(corpus.schema).json(out))
  }

  /** q314: AVRO container-file round-trip over the q95 edge corpus
    * PLUS a null-payload stripe — the row-interchange format the CSV/
    * JSON legs don't cover, via [[graft.sources.AvroIO]] (direct on
    * the shipped avro-java library; no connector jar). Avro needs no
    * quoting or escape rules (length-prefixed binary), so embedded
    * newlines/quotes/backslashes travel verbatim — and unlike CSV it
    * distinguishes `''` from NULL natively through the
    * `["null","string"]` union, which the extra stripe pins (every
    * doc_id ≡ 3 mod 7 writes a NULL payload; `is_null` + coalesced
    * fingerprints prove null and empty come back as themselves, the
    * q95 `nullValue`-sentinel workaround made unnecessary).
    */
  def avroRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = freshWorkDir("q314", dir)
    val corpus = edgeCorpus(s, dir)
      .withColumn("payload",
        when(col("doc_id") % 7 === 3, lit(null).cast("string"))
          .otherwise(col("payload")))
    graft.sources.AvroIO.write(corpus, out)
    graft.sources.AvroIO.read(s, out)
      .select(col("doc_id"),
        col("payload").isNull.as("is_null"),
        length(coalesce(col("payload"), lit(""))).cast("long").as("n_chars"),
        graft.functions.TextFns.hash60(coalesce(col("payload"), lit(""))).as("h"))
      .orderBy(col("doc_id"))
  }

  private val q314Oracle: String = {
    val payload = s"(CASE WHEN doc_id % 7 = 3 THEN NULL ELSE $edgePayloadSql END)"
    s"""SELECT doc_id, ($payload IS NULL) AS is_null,
       | LENGTH(COALESCE($payload, '')) AS n_chars,
       | ${graft.functions.TextFns.hash60Sql(s"COALESCE($payload, '')")} AS h
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** q317: WARC web-archive round-trip over the edge corpus PLUS the
    * null stripe PLUS a TROJAN stripe — every doc_id ≡ 5 mod 11
    * embeds a complete well-formed WARC record (magic, headers, blank
    * line, terminator) INSIDE its payload. WARC is length-framed
    * ([[graft.sources.WarcIO]]): `Content-Length` declares the payload
    * byte count and the reader never scans payload bytes, so the
    * embedded record travels verbatim where any delimiter-splitting
    * reader would shear the document — the failure mode that actually
    * bites when crawl text QUOTES crawl archives (docs about WARC,
    * mirrored dumps). Null survives via the zero-length +
    * extension-header convention, pinned by the same `is_null` +
    * coalesced fingerprints as q314.
    */
  def warcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = freshWorkDir("q317", dir)
    val trojan = lit("\r\nWARC/1.1\r\nContent-Length: 0\r\n\r\n\r\n\r\n")
    val corpus = edgeCorpus(s, dir)
      .withColumn("payload",
        when(col("doc_id") % 7 === 3, lit(null).cast("string"))
          .when(col("doc_id") % 11 === 5, concat(col("payload"), trojan))
          .otherwise(col("payload")))
      .select(col("doc_id"), col("payload"))
    graft.sources.WarcIO.write(corpus, out)
    graft.sources.WarcIO.read(s, out)
      .select(col("doc_id"),
        col("payload").isNull.as("is_null"),
        length(coalesce(col("payload"), lit(""))).cast("long").as("n_chars"),
        graft.functions.TextFns.hash60(coalesce(col("payload"), lit(""))).as("h"))
      .orderBy(col("doc_id"))
  }

  private val q317Oracle: String = {
    val crlf = "chr(13) || chr(10)"
    val trojan = s"$crlf || 'WARC/1.1' || $crlf || 'Content-Length: 0' " +
      s"|| $crlf || $crlf || $crlf || $crlf"
    val payload = s"(CASE WHEN doc_id % 7 = 3 THEN NULL " +
      s"WHEN doc_id % 11 = 5 THEN $edgePayloadSql || $trojan " +
      s"ELSE $edgePayloadSql END)"
    s"""SELECT doc_id, ($payload IS NULL) AS is_null,
       | LENGTH(COALESCE($payload, '')) AS n_chars,
       | ${graft.functions.TextFns.hash60Sql(s"COALESCE($payload, '')")} AS h
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  private val q95Oracle: String =
    s"""SELECT doc_id, LENGTH($edgePayloadSql) AS n_chars,
       | ${graft.functions.TextFns.hash60Sql(edgePayloadSql)} AS h
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---- q212–q214: scan efficiency + format robustness -------------------

  /** q212: NESTED-schema pruning — events re-laid as two struct columns
    * and read back selecting one subfield from each: Spark's nested
    * schema pruning pushes `meta.type` / `payload.value` into the
    * parquet ReadSchema, so the scan decodes two leaf columns instead
    * of six (props is the big one skipped). At 100 TB wide nested
    * payloads are the norm and subfield pruning is the difference
    * between reading 2% and 100% of the bytes. Values pinned here;
    * the pruned ReadSchema is pinned by NestedPruningSpec.
    */
  def nestedPruning(s: SparkSession, dir: String): DataFrame =
    nestedPruningInner(s, dir)

  /** The staged-nested read q212 and its spec share. */
  private[queries] def nestedPruningInner(s: SparkSession, dir: String): DataFrame = {
    val out = freshWorkDir("q212", dir)
    Tables(s, dir, "events").select(
        col("event_id"),
        struct(col("event_type").as("type"), to_date(col("ts")).as("day")).as("meta"),
        struct(col("value"), col("props"), col("user_id")).as("payload"))
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .select(col("meta.type").as("event_type"),
        round(col("payload.value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("event_type"))
  }

  private val q212Oracle: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q213: parquet compression-codec matrix — the same slice written
    * under snappy / gzip / zstd and read back to the same
    * order-independent signature (q206's checksum discipline): count,
    * exact cents sum, and the XOR of row hashes must be IDENTICAL
    * across codecs, pinning that codec choice is a pure
    * size/speed trade with zero value effect — the invariant a
    * 100 TB storage-tiering policy (hot snappy, cold zstd) rests on.
    */
  def parquetCodecMatrix(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    val codecs = Seq("snappy", "gzip", "zstd")
    codecs.map { c =>
      val out = freshWorkDir(s"q213_$c", dir)
      base.write.mode("overwrite").option("compression", c).parquet(out)
      s.read.parquet(out)
        .select(graft.functions.TextFns.hash60(
          concat_ws("|", col("event_id"), col("event_type"), col("cents"))).as("h"),
          col("cents"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
          expr("bit_xor(h)").as("xor_sig"))
        .withColumn("codec", lit(c))
    }.reduce(_ unionByName _)
      .select(col("codec"), col("n"), col("sum_cents"), col("xor_sig"))
      .orderBy(col("codec"))
  }

  private val q213Oracle: String = {
    val h = graft.functions.TextFns.hash60Sql(
      "(event_id || '|' || event_type || '|' || CAST(round(value * 100, 0) AS BIGINT))")
    s"""WITH sig AS (
       |  SELECT COUNT(*) AS n,
       |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
       |    bit_xor($h) AS xor_sig
       |  FROM events)
       |SELECT codec, n, sum_cents, xor_sig
       |FROM sig CROSS JOIN (VALUES ('gzip'), ('snappy'), ('zstd')) c(codec)
       |ORDER BY codec""".stripMargin
  }

  /** q214: malformed-record handling — the ingestion-robustness
    * contract the reference's bad-row path (O13/O16) embodies, at the
    * CSV reader level: a staged line file where every 7th record's
    * value field is non-numeric, read in PERMISSIVE mode with a
    * corrupt-record column (typed fields null, raw line captured — the
    * dead-letter shape) and again in DROPMALFORMED (silent discard).
    * Counts, the surviving exact sum, and the corrupt-row id sum must
    * all reconcile — q20's good/bad split for the built-in reader.
    */
  def permissiveCsv(s: SparkSession, dir: String): DataFrame = {
    val out = freshWorkDir("q214", dir)
    Tables(s, dir, "events")
      .select(concat_ws(",", col("event_id"),
        when(col("event_id") % 7 === 0, concat(lit("bad_"), col("event_type")))
          .otherwise(round(col("value") * 100).cast("long").cast("string")))
        .as("value"))
      .write.mode("overwrite").text(out)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cents", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_bad", org.apache.spark.sql.types.StringType)))
    val perm = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .csv(out)
      .agg(count(lit(1)).as("n_rows"),
        count(col("_bad")).as("n_corrupt"),
        sum(col("cents")).as("sum_good_cents"),
        sum(when(col("_bad").isNotNull, col("event_id"))).as("sum_corrupt_ids"))
    val dropped = s.read.schema(org.apache.spark.sql.types.StructType(schema.fields.dropRight(1)))
      .option("mode", "DROPMALFORMED").csv(out)
      // the sum FORCES the typed column through the parser: a bare
      // count(1) prunes every column, the parser then converts nothing,
      // and no row is ever "malformed" — the classic CSV count gotcha
      .agg(count(lit(1)).as("n_dropmalformed"),
        sum(col("cents")).as("dropmalformed_sum"))
    perm.crossJoin(dropped)
  }

  private val q214Oracle: String =
    """SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
      |  CAST(SUM(CASE WHEN event_id % 7 <> 0
      |    THEN CAST(round(value * 100, 0) AS BIGINT) END) AS BIGINT) AS sum_good_cents,
      |  CAST(SUM(CASE WHEN event_id % 7 = 0 THEN event_id END) AS BIGINT) AS sum_corrupt_ids,
      |  CAST(SUM(CASE WHEN event_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropmalformed,
      |  CAST(SUM(CASE WHEN event_id % 7 <> 0
      |    THEN CAST(round(value * 100, 0) AS BIGINT) END) AS BIGINT) AS dropmalformed_sum
      |FROM events""".stripMargin

  // ---- q159: initial position semantics (O2) ----------------------------

  /** The three stream seek semantics (reference `Config.scala:62-106`,
    * applied at executor start `KinesisSourceExecutor.scala:102-107`)
    * exercised against ONE staged file set and pinned side by side:
    * the events table is staged as five line files (file c = events
    * with event_id mod 5 = c), files 0–3 carrying HISTORICAL mtimes
    * (2020, one minute apart) and file 4 a FUTURE mtime (2100 — the
    * "records still arriving after startup" tail of a live stream).
    * Then the same [[FileSource]] is opened three times:
    *
    *  - TRIM_HORIZON → every file (all five groups);
    *  - AT_TIMESTAMP(file 2's mtime) → files 2 and 3 (historical at/after
    *    the seek point) plus the future file 4;
    *  - LATEST → only file 4 (its mtime is the only one at/after the
    *    cutoff decided at source construction — any run-time "now"
    *    lands strictly between 2020 and 2100, so the pin is
    *    wall-clock-independent).
    *
    * The oracle replays the three admissions as WHERE clauses over the
    * same mod-5 assignment. This is the O2 driver pin VERDICT r8 #2
    * asked for — all three seeks through the REAL source seam, not a
    * spec double.
    */
  def initialPositions(s: SparkSession, dir: String): DataFrame = {
    val work = freshWorkDir("q159", dir)
    val in = Paths.get(work, "in")
    Files.createDirectories(in)
    val histT0 = 1600000000000L // 2020-09-13, strictly before any run
    val futureT = 4102444800000L // 2100-01-01, strictly after any run
    val ev = Tables(s, dir, "events")
      .select(col("event_id"), pmod(col("event_id"), lit(5L)).cast("int").as("__f"))
      .localCheckpoint()
    for (c <- 0 until 5)
      Staging.writeOneFile(
        ev.filter(col("__f") === c).select(col("event_id").cast("string").as("value")),
        in.resolve(f"chunk_$c%02d.txt"), if (c == 4) futureT else histT0 + c * 60000L,
        format = "text")
    ev.unpersist(blocking = false)
    val positions = Seq(
      "TRIM_HORIZON" -> InitialPosition.TrimHorizon,
      "AT_TIMESTAMP" -> InitialPosition.AtTimestamp(
        Instant.ofEpochMilli(histT0 + 2 * 60000L)),
      "LATEST" -> InitialPosition.Latest)
    positions.map { case (label, pos) =>
      val config = PipelineConfig(
        region = None,
        purpose = Purpose.Enriched,
        input = InputConfig("graft-q159", in.toString, pos, maxRecords = 64),
        output = OutputConfig(
          S3OutputConfig(s"$work/out_$label", dateFormat = None, filenamePrefix = None,
            compression = Compression.Gzip, maxTimeout = 10000),
          BadOutputConfig(s"$work/bad_$label")),
        buffer = BufferConfig(byteLimit = 256L << 20, recordLimit = 10000, timeLimit = 0),
        monitoring = None)
      StreamingQueries.drain(s, FileSource.lines(s, config, checkpointDir = None),
          OutputMode.Append())
        .select(col("value").cast("long").as("event_id"))
        .groupBy(pmod(col("event_id"), lit(5L)).as("fid"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_eid"))
        .withColumn("position", lit(label))
    }.reduce(_ unionByName _)
      .select(col("position"), col("fid"), col("n"), col("sum_eid"))
      .orderBy(col("position"), col("fid"))
  }

  private val q159Oracle: String =
    """WITH f AS (SELECT event_id, CAST(event_id % 5 AS BIGINT) AS fid FROM events),
      |a AS (
      |  SELECT 'TRIM_HORIZON' AS position, fid, COUNT(*) AS n,
      |    CAST(SUM(event_id) AS BIGINT) AS sum_eid FROM f GROUP BY fid
      |  UNION ALL
      |  SELECT 'AT_TIMESTAMP', fid, COUNT(*), CAST(SUM(event_id) AS BIGINT)
      |  FROM f WHERE fid >= 2 GROUP BY fid
      |  UNION ALL
      |  SELECT 'LATEST', fid, COUNT(*), CAST(SUM(event_id) AS BIGINT)
      |  FROM f WHERE fid = 4 GROUP BY fid)
      |SELECT position, fid, n, sum_eid FROM a ORDER BY position, fid""".stripMargin

  // ---- plumbing --------------------------------------------------------

  /** Deterministic per-(query,sfDir) scratch dir, wiped before each run. */
  private def freshWorkDir(q: String, sfDir: String): String = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_work", s"${q}_$tag")
    deleteRecursively(p)
    Files.createDirectories(p)
    p.toString
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q17_pipeline_roundtrip" -> (pipelineRoundtrip _),
    "q18_schema_key" -> (schemaKeyPartition _),
    "q19_enriched_meta" -> (enrichedMeta _),
    "q20_badrows" -> (badRows _),
    "q50_enriched_schema" -> (enrichedSchema _),
    "q68_scalable_naming" -> (scalableNaming _),
    "q85_bzip2_roundtrip" -> (bzip2Roundtrip _),
    "q87_sharded_cycles" -> (shardedCycles _),
    "q95_csv_roundtrip" -> (csvRoundtrip _),
    "q96_json_roundtrip" -> (jsonRoundtrip _),
    "q314_avro_roundtrip" -> (avroRoundtrip _),
    "q317_warc_roundtrip" -> (warcRoundtrip _),
    "q241_badrow_replay" -> (badrowReplay _),
    "q103_resharded_cycles" -> (reshardedCycles _),
    "q159_initial_position" -> (initialPositions _),
    "q212_nested_pruning" -> (nestedPruning _),
    "q213_codec_matrix" -> (parquetCodecMatrix _),
    "q214_permissive_csv" -> (permissiveCsv _))

  val family: String = "pipeline"

  val oracles: Map[String, String] = Map(
    "q17_pipeline_roundtrip" -> q17Oracle,
    "q18_schema_key" -> q18Oracle,
    "q19_enriched_meta" -> q19Oracle,
    "q20_badrows" -> q20Oracle,
    "q50_enriched_schema" -> q50Oracle,
    "q68_scalable_naming" -> q17Oracle,
    "q85_bzip2_roundtrip" -> q17Oracle,
    "q87_sharded_cycles" -> q87Oracle,
    "q95_csv_roundtrip" -> q95Oracle,
    "q96_json_roundtrip" -> q95Oracle,
    "q314_avro_roundtrip" -> q314Oracle,
    "q317_warc_roundtrip" -> q317Oracle,
    "q241_badrow_replay" -> q241Oracle,
    "q103_resharded_cycles" -> q103Oracle,
    "q159_initial_position" -> q159Oracle,
    "q212_nested_pruning" -> q212Oracle,
    "q213_codec_matrix" -> q213Oracle,
    "q214_permissive_csv" -> q214Oracle)
}
