package graft.queries

import graft.{GraftQuery, QueryModule}
import graft.ingest.Cdc
import graft.reliability.{DeadLetter, RetryPolicy}
import graft.streaming.{IngestConfig, IngestPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Operational surface of the streaming pipeline as REGISTERED queries:
  * the DLQ read side and a full stream-drain roundtrip. Both run the real
  * pipeline machinery (router, retry, DLQ, checkpointed micro-batches)
  * against deterministic inputs, so the write path is proven end-to-end
  * in the driver's DuckDB-oracle signal, not only in specs.
  */
object PipelineOps extends QueryModule {

  private def rmrf(s: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** No-sleep retry: these queries inject VALIDATION failures (never
    * retried) and healthy writes (first-attempt success), so backoff
    * sleeps would only ever stall a re-measure. */
  private def fastRetry = RetryPolicy(maxAttempts = 2, sleep = _ => ())

  // ---- source fixtures, materialized ONCE per (session, sfDir, shape).
  // The source side of every streaming query is immutable — only the
  // lake/checkpoint/DLQ must start clean per run — so re-runs (bench
  // re-measures) time the PIPELINE, not parquet fixture setup. The file
  // paths inside a checkpoint stay valid because the cached dir is stable
  // for the life of the session.
  private val srcCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), String]

  // Two queries sharing a fixture shape (e.g. cdc_stream_roundtrip and
  // pipeline_metrics both use "rt") can hit the builder CONCURRENTLY
  // under Verify's pool; TrieMap.getOrElseUpdate may then evaluate the
  // builder twice against the SAME scratch path — two jobs racing on one
  // _temporary dir. Serialize builds; the double-check keeps the hot
  // path lock-free.
  private val srcBuildLock = new Object

  private def srcOnce(key: (String, String, String))(build: => String): String =
    srcCache.get(key).getOrElse(srcBuildLock.synchronized {
      srcCache.getOrElseUpdate(key, build)
    })

  // The evolve/promote split — drift threshold and prefix row count —
  // is a pure function of the events table; computing it per measure
  // costs two jobs. Safe under TrieMap's maybe-twice evaluation: the
  // builder only reads.
  private val splitCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), (Long, Long)]
  private def evolveSplit(s: SparkSession, d: String): (Long, Long) =
    splitCache.getOrElseUpdate((graft.SessionKeys(s), d), {
      val ev = graft.Tables.events(s, d)
      val threshold = ev.agg(max(col("event_id"))).collect()(0).getLong(0) / 2
      val perBatch = math.max(1L,
        ev.filter(col("event_id") <= threshold).count())
      (threshold, perBatch)
    })

  /** `orderedByLsn`: range-partition the files by LSN so file k holds
    * strictly older events than file k+1 — admission order then delivers
    * time-ordered micro-batches, the real WAL-tail contract (a
    * replication stream is ordered; a random file split would not be).
    *
    * `withTruncateMarker`: union in one TRUNCATE marker row (null key, no
    * row image — ref internal/cdc/source/postgres/reader.go:237-242) at
    * LSN = 3/4 of the id range, so with LSN-ordered admission the marker
    * arrives in a LATER batch than the state it resets — the merge's
    * stored-side wipe path, not just the in-batch filter. */
  private def envelopeSrc(s: SparkSession, d: String, shape: String,
                          nFiles: Int, tableMod: Int,
                          orderedByLsn: Boolean = false,
                          withTruncateMarker: Boolean = false): String =
    // key carries the full shape config: a second caller reusing a shape
    // name with different params must never be served the wrong fixture
    srcOnce(
      (graft.SessionKeys(s), d,
        s"$shape|$nFiles|$tableMod|$orderedByLsn|$withTruncateMarker")) {
      val dir = Lifecycle.scratchDir(s, s"graft_src_$shape", d)
      rmrf(s, dir)
      val env0 =
        if (tableMod > 0)
          CdcQueries.envelope(s, d).withColumn("_cdc_table",
            concat(lit("events_"), (col("user_id") % tableMod).cast("string")))
        else CdcQueries.envelope(s, d)
      val env =
        if (withTruncateMarker) {
          // both engines derive the marker LSN from max(event_id), so the
          // oracle replays the identical reset boundary at every SF
          val maxId = env0.agg(max(col("event_id"))).collect()(0).getLong(0)
          env0.unionByName(s.range(1).select(
            lit(null).cast("long").as("user_id"),
            lit(null).cast("long").as("event_id"),
            lit(null).cast("double").as("value"),
            lit("TRUNCATE").as(Cdc.OpColumn),
            lit("2024-01-01 00:00:00").cast("timestamp").as(Cdc.TsColumn),
            lit(f"${maxId * 3 / 4}%016d").as(Cdc.LsnColumn)))
        } else env0
      val split =
        if (orderedByLsn) env.repartitionByRange(nFiles, col(Cdc.LsnColumn))
        else env.repartition(nFiles)
      split.write.parquet(dir)
      if (orderedByLsn) {
        // the file source admits oldest-mtime first; same-job writes can
        // share a timestamp, so stamp the range-ordered files with
        // strictly increasing mtimes to make admission order DETERMINED,
        // not coincidental (part-file name order == range order)
        val p = new org.apache.hadoop.fs.Path(dir)
        val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        val parts = fsys.listStatus(p)
          .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
          .sortBy(_.getPath.getName)
        val t0 = parts.map(_.getModificationTime).min
        parts.zipWithIndex.foreach { case (f, i) =>
          fsys.setTimes(f.getPath, t0 + i * 60000L, -1)
        }
      }
      dir
    }

  // ---- DLQ read surface (ref internal/cdc/deadletter/postgres.go:45-352:
  // Read / GetStats). A deterministic poison slice — per-key table names,
  // one of them an invalid identifier — routes through the REAL batch
  // processor: validation dead-letters the poison slice row-for-row while
  // the healthy tables land. dlq_stats is GetStats over the DLQ table;
  // the oracle recomputes the expected failure counts from the envelope.
  private def dlqStats(s: SparkSession, d: String): DataFrame = {
    val base = Lifecycle.scratchDir(s, "graft_dlqq", d)
    rmrf(s, base) // append-mode DLQ: re-runs must start clean
    val cfg = IngestConfig(
      outDir = s"$base/lake", dlqDir = s"$base/dlq",
      checkpointDir = s"$base/ckpt", sourceId = "events_cdc",
      retry = fastRetry)
    val batch = CdcQueries.envelope(s, d).withColumn(cfg.tableCol,
      when(col("user_id") % 10 === 0, lit("events bad")) // not an identifier
        .otherwise(concat(lit("events_"), (col("user_id") % 2).cast("string"))))
    IngestPipeline.processBatch(cfg)(batch, 0L)
    DeadLetter.stats(s, cfg.dlqDir)
  }

  // HAVING: on a fixture where the poison slice is empty, the DLQ dir is
  // never created and the Spark side reads the empty DLQ — the oracle must
  // likewise emit zero rows, not one zero-count row
  private val dlqStatsSql =
    s"""WITH envelope AS (${CdcQueries.envelopeSql})
       |SELECT 'events_cdc' AS source_id, 'events bad' AS table_name,
       |  'validation' AS error_type, count(*) AS n_failed
       |FROM envelope WHERE user_id % 10 = 0 HAVING count(*) > 0""".stripMargin

  // ---- DLQ REPLAY (ref internal/cdc/deadletter/postgres.go:199-238:
  // Read → repair → reprocess → MarkRetried): the same poison ingest as
  // dlq_stats, then the dead-lettered slice is decoded back to envelope
  // columns, its table name REPAIRED to the one it should have carried,
  // routed through the REAL processBatch, and marked retried. The result
  // reads the whole lake back: replayed ≡ never-failed, so the oracle is
  // the clean-ingest aggregate over ALL events (same SQL the stream
  // roundtrip uses). The REQUIREs pin that the DLQ was non-empty before
  // and fully drained after — a run where nothing dead-lettered (or
  // nothing replayed) cannot fake the row.
  private def dlqReplay(s: SparkSession, d: String): DataFrame = {
    val base = Lifecycle.scratchDir(s, "graft_dlqreplay", d)
    rmrf(s, base)
    val cfg = IngestConfig(
      outDir = s"$base/lake", dlqDir = s"$base/dlq",
      checkpointDir = s"$base/ckpt", sourceId = "events_cdc",
      retry = fastRetry)
    val batch = CdcQueries.envelope(s, d).withColumn(cfg.tableCol,
      when(col("user_id") % 10 === 0, lit("events bad"))
        .otherwise(concat(lit("events_"), (col("user_id") % 2).cast("string"))))
    IngestPipeline.processBatch(cfg)(batch, 0L)
    def pendingCount() = DeadLetter.read(s, cfg.dlqDir)
      .filter(col("retried_at").isNull).count()
    val before = pendingCount()
    require(before > 0, "expected the poison slice to dead-letter")
    val replayed = DeadLetter.replay(s, cfg.dlqDir, batch.schema,
      repair = b => b.withColumn(cfg.tableCol,
        concat(lit("events_"), (col("user_id") % 2).cast("string"))),
      process = b => IngestPipeline.processBatch(cfg)(b, 1L))
    require(replayed == before && pendingCount() == 0,
      s"expected $before pending replayed and drained, got $replayed")
    s.read.parquet(s"${cfg.outDir}/events_0")
      .unionByName(s.read.parquet(s"${cfg.outDir}/events_1"))
      .groupBy(col("_cdc_table"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
        min(col(Cdc.LsnColumn)).as("lsn_min"), max(col(Cdc.LsnColumn)).as("lsn_max"))
      .orderBy(col("_cdc_table"))
  }

  // ---- streaming write path end-to-end (T1/S4-S6): the envelope drained
  // through IngestPipeline.start as an AvailableNow stream — file source
  // with admission control, per-table router, day-partitioned lake append,
  // offsets committed per batch — then the lake read back and aggregated.
  // The oracle computes the same aggregate from the raw events: any loss,
  // duplication or corruption in the streaming path fails the hash.
  private def streamRoundtrip(s: SparkSession, d: String): DataFrame = {
    val src = envelopeSrc(s, d, "rt", nFiles = 2, tableMod = 2)
    val base = Lifecycle.scratchDir(s, "graft_streamrt", d)
    rmrf(s, base) // append sink + checkpoint: re-runs must start clean
    val cfg = IngestConfig(
      outDir = s"$base/lake", dlqDir = s"$base/dlq",
      checkpointDir = s"$base/ckpt", sourceId = "stream_rt",
      retry = fastRetry)
    // one AvailableNow batch here — multi-batch crash-resume is proven on
    // the gate by cdc_stream_resume; the oracle checks the data path
    val stream = IngestPipeline.fileEnvelopeSource(
      s, src, s.read.parquet(src).schema, maxFilesPerTrigger = 2)
    IngestPipeline.start(stream, cfg, availableNow = true).awaitTermination()
    s.read.parquet(s"${cfg.outDir}/events_0")
      .unionByName(s.read.parquet(s"${cfg.outDir}/events_1"))
      .groupBy(col("_cdc_table"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
        min(col(Cdc.LsnColumn)).as("lsn_min"), max(col(Cdc.LsnColumn)).as("lsn_max"))
      .orderBy(col("_cdc_table"))
  }

  private val streamRoundtripSql =
    s"""WITH envelope AS (${CdcQueries.envelopeSql})
       |SELECT 'events_' || CAST(user_id % 2 AS VARCHAR) AS _cdc_table,
       |  count(*) AS n, count(DISTINCT user_id) AS n_users,
       |  min(_cdc_lsn) AS lsn_min, max(_cdc_lsn) AS lsn_max
       |FROM envelope GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- stateful streaming aggregation end-to-end: a tumbling-window
  // count maintained by Structured Streaming's state store across
  // micro-batches, drained AvailableNow and materialized per batch
  // (complete mode — the bounded-cardinality dashboard shape; the
  // unbounded-state production path, watermark + append, is exercised in
  // StreamOpsSpec). The oracle recomputes the windows from the raw
  // events, so any state-store loss or double-count fails the hash.
  private def streamAgg(s: SparkSession, d: String): DataFrame = {
    val src = envelopeSrc(s, d, "agg", nFiles = 4, tableMod = 0)
    val base = Lifecycle.scratchDir(s, "graft_streamagg", d)
    rmrf(s, base)
    val stream = IngestPipeline.fileEnvelopeSource(
      s, src, s.read.parquet(src).schema, maxFilesPerTrigger = 2)
    val agg = stream
      .groupBy(window(col(Cdc.TsColumn), "1 day").as("w"))
      .agg(count(lit(1)).as("n"), max(col(Cdc.LsnColumn)).as("lsn_max"))
    val q = agg.writeStream
      .queryName("graft-stream-agg")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$base/out")
      }
      .start()
    q.awaitTermination()
    s.read.parquet(s"$base/out")
      .select(col("w.start").cast("timestamp").as("day_start"),
        col("n"), col("lsn_max"))
      .orderBy(col("day_start"))
  }

  private val streamAggSql =
    s"""WITH envelope AS (${CdcQueries.envelopeSql})
       |SELECT CAST(date_trunc('day', _cdc_timestamp) AS TIMESTAMP) AS day_start,
       |  count(*) AS n, max(_cdc_lsn) AS lsn_max
       |FROM envelope GROUP BY 1 ORDER BY day_start""".stripMargin

  // ---- crash-resume, multi-batch, on the oracle gate: the reference's
  // core claim is that a killed pipeline resumes from its checkpoint with
  // no loss and no duplication (ref internal/cdc/pipeline/pipeline.go:
  // 279-306 — it re-delivers up to 10 s, at-least-once; the Spark offset
  // log does strictly better as long as batch replay is whole-batch).
  // Here: a 6-file source admitted 2 files per micro-batch (3 batches),
  // a crash INJECTED at the top of batch 1 on the first run — batch 0
  // committed, batch 1's offsets provisional — then a restart from the
  // same checkpoint re-runs batch 1 whole and drains 2. The read-back
  // aggregate is hash-compared to the raw events: one lost file, one
  // double-applied batch, or one corrupted row fails the gate. (3 batches
  // is the minimal MULTI-batch shape: a committed batch that must not
  // replay, a crashed batch that must, and a further batch after the
  // resume — anything more just re-times Structured Streaming startup.)
  private def streamResume(s: SparkSession, d: String): DataFrame = {
    // 2-way fanout: the resume proof is about BATCHES (commit, crash,
    // replay, continue), not router width — 4 write jobs per batch would
    // only re-prove what cdc_stream_roundtrip already measures
    val src = envelopeSrc(s, d, "resume", nFiles = 6, tableMod = 2)
    val base = Lifecycle.scratchDir(s, "graft_streamresume", d)
    rmrf(s, base)
    val cfg = IngestConfig(
      outDir = s"$base/lake", dlqDir = s"$base/dlq",
      checkpointDir = s"$base/ckpt", sourceId = "stream_resume",
      retry = fastRetry)
    val schema = s.read.parquet(src).schema
    def stream = IngestPipeline.fileEnvelopeSource(
      s, src, schema, maxFilesPerTrigger = 2)

    val crashed = IngestPipeline.start(stream, cfg, availableNow = true,
      beforeBatch = id => if (id >= 1)
        throw new IllegalStateException("injected crash: batch " + id))
    val failure =
      try { crashed.awaitTermination(); None }
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        Some(e) }
    // the crash must actually have fired — a pass that silently drained
    // everything in one go would not be a resume proof
    require(failure.exists(_.getMessage.contains("injected crash")),
      s"expected the injected crash to fail run 1, got: $failure")

    IngestPipeline.start(stream, cfg, availableNow = true).awaitTermination()
    (0 until 2).map(i => s.read.parquet(s"${cfg.outDir}/events_$i"))
      .reduce(_ unionByName _)
      .groupBy(col("_cdc_table"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
        min(col(Cdc.LsnColumn)).as("lsn_min"), max(col(Cdc.LsnColumn)).as("lsn_max"))
      .orderBy(col("_cdc_table"))
  }

  private val streamResumeSql =
    s"""WITH envelope AS (${CdcQueries.envelopeSql})
       |SELECT 'events_' || CAST(user_id % 2 AS VARCHAR) AS _cdc_table,
       |  count(*) AS n, count(DISTINCT user_id) AS n_users,
       |  min(_cdc_lsn) AS lsn_min, max(_cdc_lsn) AS lsn_max
       |FROM envelope GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- streaming MERGE sink: the reference's Iceberg-upsert write mode
  // end-to-end (ref internal/iceberg/writer/writer.go:95-194 applies each
  // buffered batch as upserts into the stored table). Each micro-batch
  // MERGEs into the day-partitioned current-state table via
  // [[graft.ingest.CdcWriter.merge]] — affected-partition probe,
  // anti-join + union, per-partition swap — bootstrapping the table on
  // the first trigger. The source delivers LSN-ORDERED batches (the
  // WAL-tail contract: a replication stream is ordered), so every batch
  // is a stream suffix and the final stored table must hash-equal the
  // full-recompute current state over all raw events.
  private def mergeDrain(s: SparkSession, src: String, base: String,
                         name: String): DataFrame = {
    rmrf(s, base)
    val stream = IngestPipeline.fileEnvelopeSource(
      s, src, s.read.parquet(src).schema, maxFilesPerTrigger = 2)
    val q = stream.writeStream
      .queryName(name)
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        graft.ingest.CdcWriter.merge(s, s"$base/t", b, Seq("user_id")): Unit
      }
      .start()
    q.awaitTermination()
    graft.ingest.CdcWriter.read(s, s"$base/t")
      .select(col("user_id"), col("event_id"), col("value"))
      .orderBy(col("user_id"))
  }

  private def streamMerge(s: SparkSession, d: String): DataFrame =
    mergeDrain(s,
      envelopeSrc(s, d, "ordmerge", nFiles = 4, tableMod = 0, orderedByLsn = true),
      Lifecycle.scratchDir(s, "graft_streammerge", d), "graft-stream-merge")

  // ---- streaming MERGE-ON-READ sink: the same LSN-ordered drain as
  // cdc_stream_merge, but each micro-batch commits through
  // [[graft.ingest.CdcWriter.morMerge]] — O(|delta|) bytes per trigger
  // (new data files + one equality-delete file; the stored table is
  // never read or rewritten), which is the write shape a high-frequency
  // trigger needs at 100 TB. After the drain a foldDeletes pass (the
  // maintenance rewrite) materializes the delete set away; the read-back
  // must STILL hash-equal the full-recompute current state — an over- or
  // under-applied delete at any trigger, or a lossy fold, fails the
  // same oracle row the COW sink is checked against.
  private def streamMorMerge(s: SparkSession, d: String): DataFrame = {
    val src = envelopeSrc(s, d, "ordmerge", nFiles = 4, tableMod = 0,
      orderedByLsn = true)
    val base = Lifecycle.scratchDir(s, "graft_streammor", d)
    rmrf(s, base)
    val stream = IngestPipeline.fileEnvelopeSource(
      s, src, s.read.parquet(src).schema, maxFilesPerTrigger = 2)
    val q = stream.writeStream
      .queryName("graft-stream-mor")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        graft.ingest.CdcWriter.morMerge(s, s"$base/t", b, Seq("user_id")): Unit
      }
      .start()
    q.awaitTermination()
    graft.lake.SnapshotLog.foldDeletes(s, s"$base/t",
      Some(graft.model.SchemaBuilder.partitionColumn))
    graft.ingest.CdcWriter.read(s, s"$base/t")
      .select(col("user_id"), col("event_id"), col("value"))
      .orderBy(col("user_id"))
  }

  // ---- TRUNCATE through the streaming MERGE sink: a TRUNCATE marker at
  // 3/4 of the LSN range arrives in the SECOND micro-batch, after batch 0
  // has already materialized state into the stored table — the merge must
  // wipe the stored pre-marker days from disk, drop the in-batch
  // pre-marker rows, then apply the remainder. The oracle replays the
  // identical reset (discard ≤ marker, then latest-per-key) from the raw
  // events, so a marker upserted as a data row, a survived pre-marker
  // key, or an un-dropped partition all fail the hash.
  private def streamTruncate(s: SparkSession, d: String): DataFrame =
    mergeDrain(s,
      envelopeSrc(s, d, "truncmerge", nFiles = 4, tableMod = 0,
        orderedByLsn = true, withTruncateMarker = true),
      Lifecycle.scratchDir(s, "graft_streamtrunc", d), "graft-stream-truncate")

  // `//`: DuckDB's `/` is float division; the marker LSN must be the same
  // integer arithmetic the Spark fixture computes (maxId * 3 / 4 in Long)
  private val streamTruncateSql =
    s"""WITH envelope AS (${CdcQueries.envelopeSql}),
       |tw AS (SELECT lpad(CAST(max(event_id) * 3 // 4 AS VARCHAR), 16, '0') AS tl
       |       FROM events)
       |SELECT user_id, event_id, value FROM (
       |  SELECT e.*, row_number() OVER (PARTITION BY user_id
       |    ORDER BY _cdc_timestamp DESC, _cdc_lsn DESC) AS rn
       |  FROM envelope e, tw WHERE e._cdc_lsn > tw.tl) t
       |WHERE rn = 1 AND _cdc_operation <> 'DELETE' ORDER BY user_id""".stripMargin

  /** The Debezium JSONL log, written once per (session, sfDir) — the
    * WAL stand-in is immutable, like the parquet stream fixtures. */
  private def debeziumLogOnce(s: SparkSession, d: String): String =
    srcOnce((graft.SessionKeys(s), d, "dbzlog")) {
      val dir = Lifecycle.scratchDir(s, "graft_src_dbzlog", d)
      rmrf(s, dir)
      CdcQueries.writeDebeziumLog(s, d, dir)
      dir
    }

  // ---- the WHOLE reference product in one oracle row: DSv2 WAL source
  // (LSN offsets, admission control) → Debezium envelope decode → per-
  // batch MERGE upserts into the stored day-partitioned table → the
  // materialized current state read back from the final files. Batches
  // are LSN INTERVALS by construction (CdcLogSource admits by LSN value,
  // not file order), so every micro-batch is a stream suffix and the
  // stored table must hash-equal the full recompute over raw events —
  // S1→S8 plus the upsert write mode, all under one hash.
  /** Drain a Debezium JSONL log through the DSv2 WAL source in 2
    * admission-bounded batches, merging each into the stored table, and
    * read back the materialized state — the shared body of the e2e
    * proofs (state, truncate). Two batches are the minimal shape that
    * still proves the composition (batch 1 MERGEs over batch 0's
    * already-materialized state); a third adds cost, not coverage. */
  private def dsvMergeDrain(s: SparkSession, d: String, log: String,
                            base: String, name: String): DataFrame = {
    rmrf(s, base)
    // 2 admission-bounded batches at every SF (footer-stats count job).
    // +1 covers the truncate log's extra marker line: capacity 2·perBatch
    // must reach n+1 lines or a 1-line third batch pays a full merge.
    val perBatch = math.max(1L, graft.Tables.events(s, d).count() / 2 + 1)
    val raw = s.readStream.format("graft.sources.CdcLogSource")
      .option("path", log)
      .option("maxEventsPerBatch", perBatch.toString)
      .load()
    val envelope = graft.ingest.EnvelopeDecoder.flattened(
      graft.ingest.EnvelopeDecoder.decode(raw, "value", CdcQueries.SourcePayloadSchema))
    val q = envelope.writeStream
      .queryName(name)
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        graft.ingest.CdcWriter.merge(s, s"$base/t", b, Seq("user_id")): Unit
      }
      .start()
    q.awaitTermination()
    graft.ingest.CdcWriter.read(s, s"$base/t")
      .select(col("user_id"), col("event_id"), col("value"))
      .orderBy(col("user_id"))
  }

  private def e2eState(s: SparkSession, d: String): DataFrame =
    dsvMergeDrain(s, d, debeziumLogOnce(s, d),
      Lifecycle.scratchDir(s, "graft_e2estate", d), "graft-e2e-state")

  // ---- MULTI-TABLE e2e (ref writer/writer.go:114-123 groupEventsByTable):
  // the WAL carries three tables (source.table routes by user), and each
  // micro-batch fans out through the per-table router into per-table
  // MERGE targets — the reference writer's exact fanout through the DSv2
  // chain. Every stored table must hash-equal its per-table recompute;
  // a row routed to the wrong table, lost in the fanout, or merged into
  // a neighbor's store fails the hash.
  private def e2eMultitable(s: SparkSession, d: String): DataFrame = {
    val log = srcOnce((graft.SessionKeys(s), d, "dbzlog_multi")) {
      val dir = Lifecycle.scratchDir(s, "graft_src_dbzmulti", d)
      rmrf(s, dir)
      CdcQueries.debeziumLines(s, d,
        concat(lit("events_"), (col("user_id") % 3).cast("string")))
        .coalesce(1).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite).text(dir)
      dir
    }
    val base = Lifecycle.scratchDir(s, "graft_e2emulti", d)
    rmrf(s, base)
    val perBatch = math.max(1L, graft.Tables.events(s, d).count() / 2 + 1)
    val raw = s.readStream.format("graft.sources.CdcLogSource")
      .option("path", log)
      .option("maxEventsPerBatch", perBatch.toString)
      .load()
    val envelope = graft.ingest.EnvelopeDecoder.flattened(
      graft.ingest.EnvelopeDecoder.decode(raw, "value", CdcQueries.SourcePayloadSchema))
    val q = envelope.writeStream
      .queryName("graft-e2e-multitable")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        // per-table fanout: the distinct table list is O(tables), and each
        // table merges via a filtered fully-distributed job (the shape of
        // the reference's writer loop; a merge reads each table's stored
        // state, so it cannot share one routed write the way the append
        // sink, IngestPipeline.processBatch, does).
        // The merges target DISJOINT table dirs (each under its own
        // SnapshotLog lock), so they submit concurrently — independent
        // Spark jobs sharing the executor pool, exactly how a real
        // cluster overlaps per-table commits instead of serializing the
        // fanout on the driver.
        graft.ingest.BatchExec.withAqe(b) {
        b.persist()
        try {
          import scala.collection.parallel.CollectionConverters._
          val tables = b.select(col("_cdc_table")).distinct()
            .collect().map(_.getString(0)).sorted
          tables.par.foreach { t =>
            graft.ingest.CdcWriter.merge(s, s"$base/$t",
              b.filter(col("_cdc_table") === t), Seq("user_id")): Unit
          }
        } finally { b.unpersist(): Unit }
        }
      }
      .start()
    q.awaitTermination()
    // read back the tables the ROUTER created (a residue class of
    // user_id % 3 empty at some SF creates no dir — the oracle simply
    // has no rows for it; hardcoding events_0..2 would crash on the
    // missing path instead of agreeing)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val stored = fs.listStatus(new org.apache.hadoop.fs.Path(base)).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("events_")).sorted
    require(stored.nonEmpty, "multitable drain committed no tables")
    stored.map { t =>
      graft.ingest.CdcWriter.read(s, s"$base/$t")
        .select(lit(t).as("tbl"), col("user_id"), col("event_id"), col("value"))
    }.reduce(_ unionByName _).orderBy(col("tbl"), col("user_id"))
  }

  private val e2eMultitableSql =
    s"""WITH envelope AS (${CdcQueries.envelopeSql})
       |SELECT 'events_' || CAST(user_id % 3 AS VARCHAR) AS tbl,
       |  user_id, event_id, value FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY _cdc_timestamp DESC, _cdc_lsn DESC) AS rn FROM envelope) t
       |WHERE rn = 1 AND _cdc_operation <> 'DELETE'
       |ORDER BY tbl, user_id""".stripMargin

  // ---- MID-STREAM SCHEMA EVOLUTION on the gate: the payload gains a
  // `score` column at 1/2 of the id range, i.e. WHILE the pipeline runs
  // (batch 0 of the 2-batch admission is entirely below it). Each batch
  // decodes through [[graft.ingest.EvolvingDecoder]] — per-batch inferred
  // payload schema, add-only merge, decode with the merged schema (the
  // reference's MergeSchemas + ensureTable chain, schema/schema.go:149-174
  // + writer/writer.go:197-253) — and lands via the real processBatch.
  // The read-back is a mergeSchema scan: pre-drift files surface score as
  // null, post-drift files carry it. The oracle recomputes count/non-null
  // count/exact-integer sum per operation from the raw events, so a
  // dropped column, a misaligned schema merge, or a corrupted value all
  // fail the hash.
  private def streamEvolve(s: SparkSession, d: String): DataFrame = {
    val log = evolveLogOnce(s, d)
    val base = Lifecycle.scratchDir(s, "graft_streamevolve", d)
    rmrf(s, base)
    val cfg = IngestConfig(
      outDir = s"$base/lake", dlqDir = s"$base/dlq",
      checkpointDir = s"$base/ckpt", sourceId = "stream_evolve",
      retry = fastRetry)
    // 2 batches, split exactly at the drift threshold: batch 0 is the
    // entire unscored prefix (the decoder commits v1 state to disk),
    // batch 1 opens with the first scored row — the minimal shape that
    // still proves MID-stream evolution rather than first-batch
    // inference. LSN order == event_id order in the fixture, so the
    // count-bounded admission lands the boundary on the threshold.
    val (_, perBatch) = evolveSplit(s, d)
    val raw = s.readStream.format("graft.sources.CdcLogSource")
      .option("path", log)
      .option("maxEventsPerBatch", perBatch.toString)
      .load()
    // seed = the source catalog's declared columns (the typed path);
    // inference only has to absorb the drift
    val decoder = new graft.ingest.EvolvingDecoder(CdcQueries.SourcePayloadSchema)
    val q = raw.writeStream
      .queryName("graft-stream-evolve")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        // the raw lines feed TWO full passes — the decoder's inference
        // scan and the processBatch cache fill — and each would re-read
        // the log source through the DSv2 admission filter without this
        b.persist()
        try IngestPipeline.processBatch(cfg)(
          graft.ingest.EnvelopeDecoder.flattened(decoder.decode(b, "value")), id)
        finally b.unpersist(): Unit
      }
      .start()
    q.awaitTermination()
    // the stream must actually have evolved the registered schema
    require(decoder.version > 1 &&
      decoder.payloadSchema.fieldNames.contains("score"),
      s"expected mid-stream evolution, still at v${decoder.version}")
    s.read.option("mergeSchema", "true").parquet(s"${cfg.outDir}/events")
      .groupBy(col(Cdc.OpColumn))
      .agg(count(lit(1)).as("n"), count(col("score")).as("n_scored"),
        sum(col("score")).cast("long").as("score_sum"))
      .orderBy(col(Cdc.OpColumn))
  }

  private def evolveLogOnce(s: SparkSession, d: String): String =
    srcOnce((graft.SessionKeys(s), d, "dbzlog_evolve")) {
      val dir = Lifecycle.scratchDir(s, "graft_src_dbzevolve", d)
      rmrf(s, dir)
      val (threshold, _) = evolveSplit(s, d)
      CdcQueries.debeziumLinesEvolving(s, d, threshold).coalesce(1).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite).text(dir)
      dir
    }

  // ---- MID-STREAM TYPE PROMOTION on the gate (ref internal/iceberg/
  // schema/schema.go:149-174 + writer/writer.go:197-253): `score` is
  // integral (inferred long) through batch 1 and fractional (double) from
  // batch 2, so the decoder promotes long→double mid-stream and the
  // snapshot-backed MERGE sink must cast-and-rewrite the carried batch-1
  // files in the same commit — without the rewrite the final read
  // (explicit committed schema over long-typed files) throws
  // PARQUET_COLUMN_DATA_TYPE_MISMATCH, so a regression cannot fake the
  // row. Keys are (user_id, event_id): every event is its own key, so
  // batch 2 touches only its own (later-ts) days and batch-1 days are
  // CARRIED — a REQUIRE pins that carried days existed, i.e. the
  // promotion-rewrite path actually ran rather than plain COW covering
  // everything. Oracle: per-day replay of the same score formula.
  private def streamPromote(s: SparkSession, d: String): DataFrame = {
    val log = promoteLogOnce(s, d)
    val base = Lifecycle.scratchDir(s, "graft_streampromote", d)
    rmrf(s, base)
    // split exactly at the promotion threshold (like streamEvolve): a
    // count-based half only coincides with max(event_id)/2 when ids are
    // dense from 0 — with gaps, batch 0 would carry fractional scores,
    // infer double immediately, and the cast-and-rewrite path this gate
    // exists to pin would silently never run
    val (_, perBatch) = evolveSplit(s, d)
    val raw = s.readStream.format("graft.sources.CdcLogSource")
      .option("path", log)
      .option("maxEventsPerBatch", perBatch.toString)
      .load()
    val decoder = new graft.ingest.EvolvingDecoder(CdcQueries.SourcePayloadSchema)
    @volatile var lastTouched: Seq[String] = Seq.empty
    val q = raw.writeStream
      .queryName("graft-stream-promote")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        // share one source read between the inference scan and the
        // merge's delta cache fill (same rationale as streamEvolve)
        b.persist()
        try lastTouched = graft.ingest.CdcWriter.merge(s, s"$base/t",
          graft.ingest.EnvelopeDecoder.flattened(decoder.decode(b, "value")),
          Seq("user_id", "event_id"))
        finally b.unpersist(): Unit
      }
      .start()
    q.awaitTermination()
    require(decoder.payloadSchema.fields.exists(f => f.name == "score" &&
      f.dataType == org.apache.spark.sql.types.DoubleType),
      s"expected mid-stream promotion to double, got ${decoder.payloadSchema.simpleString}")
    // the FIRST commit must have stored score narrow (long) — the direct
    // witness that batch 0 really wrote pre-promotion physical files and
    // the widening merge had something to rewrite
    val firstSnap = graft.lake.SnapshotLog.snapshotAt(s, s"$base/t", 1L)
    require(firstSnap.schema.fields.exists(f => f.name == "score" &&
      f.dataType == org.apache.spark.sql.types.LongType),
      s"batch 0 should commit score as long, got ${firstSnap.schema.simpleString}")
    val snap = graft.lake.SnapshotLog.currentSnapshot(s, s"$base/t")
      .getOrElse(sys.error("promote sink committed nothing"))
    val allDays = snap.files.map(_.partition).distinct
    require(lastTouched.nonEmpty && lastTouched.size < allDays.size,
      s"expected carried days to force the rewrite; last batch touched " +
        s"${lastTouched.size} of ${allDays.size}")
    graft.ingest.CdcWriter.read(s, s"$base/t")
      .groupBy(col(graft.model.SchemaBuilder.partitionColumn).as("day"))
      .agg(count(lit(1)).as("n"), sum(col("score")).as("score_sum"))
      .orderBy(col("day"))
  }

  private def promoteLogOnce(s: SparkSession, d: String): String =
    srcOnce((graft.SessionKeys(s), d, "dbzlog_promote")) {
      val dir = Lifecycle.scratchDir(s, "graft_src_dbzpromote", d)
      rmrf(s, dir)
      val (threshold, _) = evolveSplit(s, d)
      CdcQueries.debeziumLinesPromoting(s, d, threshold).coalesce(1).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite).text(dir)
      dir
    }

  private val streamPromoteSql =
    """WITH th AS (SELECT max(event_id) // 2 AS t FROM events)
      |SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
      |  count(*) AS n,
      |  sum(user_id % 97 + CASE WHEN event_id > (SELECT t FROM th)
      |      THEN CAST(0.5 AS DOUBLE) ELSE 0 END) AS score_sum
      |FROM events WHERE event_type <> 'error'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // threshold replayed as max(event_id) // 2 (DuckDB `/` is float division)
  private val streamEvolveSql =
    s"""WITH envelope AS (${CdcQueries.envelopeSql}),
       |th AS (SELECT max(event_id) // 2 AS t FROM events)
       |SELECT _cdc_operation, count(*) AS n,
       |  count(CASE WHEN event_id > (SELECT t FROM th) THEN 1 END) AS n_scored,
       |  CAST(sum(CASE WHEN event_id > (SELECT t FROM th)
       |                THEN user_id % 97 END) AS BIGINT) AS score_sum
       |FROM envelope GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- OBSERVABILITY AS DATA (ref internal/metrics/metrics.go:39-258):
  // a deterministic 2-batch drain through the real pipeline with its OWN
  // metric registry (scoped — the session may be running other pipelines
  // concurrently) and a name-filtered streaming listener. The counters
  // the drain must produce are pure functions of the fixture:
  // events_total / events_processed_total = the envelope row count,
  // batches_total = ⌈files / maxFilesPerTrigger⌉ = 2, commits_total =
  // tables × batches = 4. The oracle recomputes them from the raw
  // events, so a lost batch, a double-counted progress event, or a
  // missed per-table commit fails the hash. Gauges (lag, depth) are
  // wall-clock/split-dependent and stay out of the gated row.
  private def pipelineMetrics(s: SparkSession, d: String): DataFrame = {
    val src = envelopeSrc(s, d, "rt", nFiles = 2, tableMod = 2)
    val base = Lifecycle.scratchDir(s, "graft_pipemetrics", d)
    rmrf(s, base)
    val registry = new graft.observe.Metrics.Registry
    val cfg = IngestConfig(
      outDir = s"$base/lake", dlqDir = s"$base/dlq",
      checkpointDir = s"$base/ckpt", sourceId = "pipe_metrics",
      retry = fastRetry, metrics = registry)
    val listener = new graft.observe.Metrics.Listener(
      registry, onlyQueryName = Some(s"graft-ingest-${cfg.sourceId}"))
    s.streams.addListener(listener)
    try {
      val expectedRows = s.read.parquet(src).count() // parquet footer stats
      val stream = IngestPipeline.fileEnvelopeSource(
        s, src, s.read.parquet(src).schema, maxFilesPerTrigger = 1)
      IngestPipeline.start(stream, cfg, availableNow = true).awaitTermination()
      // listener events post on an async bus — wait until both batches'
      // progress events have FULLY landed (bounded). The poll watches the
      // LAST counter the handler writes per event (events_processed),
      // and for the full row count, so a snapshot can never catch the
      // final event half-applied.
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while ((registry.counter("buffer", "events_processed_total") < expectedRows ||
        registry.counter("buffer", "batches_total") < 2) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      // a timeout must fail LOUDLY here: falling through with partial
      // counters would surface as a confusing nondeterministic
      // oracle-hash mismatch instead of this message
      require(registry.counter("buffer", "events_processed_total") >= expectedRows &&
        registry.counter("buffer", "batches_total") >= 2,
        s"listener events did not land within 30s: processed " +
          s"${registry.counter("buffer", "events_processed_total")}/$expectedRows, " +
          s"batches ${registry.counter("buffer", "batches_total")}/2")
    } finally s.streams.removeListener(listener)
    import s.implicits._
    val snap = registry.snapshot()
    Seq(
      "philotes_buffer_batches_total",
      "philotes_buffer_events_processed_total",
      "philotes_cdc_events_total",
      "philotes_iceberg_commits_total")
      .map(m => (m, snap.getOrElse(m, 0.0).toLong))
      .toDF("metric", "value")
      .orderBy(col("metric"))
  }

  private val pipelineMetricsSql =
    s"""WITH envelope AS (${CdcQueries.envelopeSql})
       |SELECT 'philotes_buffer_batches_total' AS metric,
       |       CAST(2 AS BIGINT) AS value
       |UNION ALL SELECT 'philotes_buffer_events_processed_total', count(*)
       |FROM envelope
       |UNION ALL SELECT 'philotes_cdc_events_total', count(*) FROM envelope
       |UNION ALL SELECT 'philotes_iceberg_commits_total',
       |  CAST(4 AS BIGINT)
       |ORDER BY metric""".stripMargin

  // ---- TRUNCATE through the FULL DSv2 chain: cdc_stream_truncate proves
  // the merge's reset semantics over the parquet file source;
  // cdc_e2e_truncate proves the same reset when the marker arrives as a
  // real Debezium `"op":"t"` line (no row image) through CdcLogSource's
  // LSN-interval admission and the envelope decode — the one composition
  // (wire format × admission × decode × merge wipe) the two proofs above
  // don't cover together. Marker at 3/4 of the LSN range lands in the
  // SECOND of 2 admission-bounded batches, wiping the state batch 0
  // already materialized to disk. Oracle = the same reset replay the
  // parquet-source truncate uses.
  private def e2eTruncate(s: SparkSession, d: String): DataFrame = {
    val log = srcOnce((graft.SessionKeys(s), d, "dbzlog_trunc")) {
      val dir = Lifecycle.scratchDir(s, "graft_src_dbztrunc", d)
      rmrf(s, dir)
      CdcQueries.debeziumLinesWithTruncate(s, d).coalesce(1).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite).text(dir)
      dir
    }
    dsvMergeDrain(s, d, log,
      Lifecycle.scratchDir(s, "graft_e2etrunc", d), "graft-e2e-truncate")
  }

  override def all: Seq[GraftQuery] = Seq(
    GraftQuery("cdc_e2e_state", e2eState, Some(CdcQueries.currentStateSql)),
    GraftQuery("cdc_e2e_multitable", e2eMultitable, Some(e2eMultitableSql)),
    GraftQuery("cdc_e2e_truncate", e2eTruncate, Some(streamTruncateSql)),
    GraftQuery("pipeline_metrics", pipelineMetrics, Some(pipelineMetricsSql)),
    GraftQuery("cdc_stream_evolve", streamEvolve, Some(streamEvolveSql)),
    GraftQuery("cdc_stream_promote", streamPromote, Some(streamPromoteSql)),
    GraftQuery("dlq_stats", dlqStats, Some(dlqStatsSql)),
    GraftQuery("dlq_replay", dlqReplay, Some(streamRoundtripSql)),
    GraftQuery("cdc_stream_roundtrip", streamRoundtrip, Some(streamRoundtripSql)),
    GraftQuery("cdc_stream_agg", streamAgg, Some(streamAggSql)),
    GraftQuery("cdc_stream_resume", streamResume, Some(streamResumeSql)),
    GraftQuery("cdc_stream_merge", streamMerge, Some(CdcQueries.currentStateSql)),
    GraftQuery("cdc_stream_mor", streamMorMerge, Some(CdcQueries.currentStateSql)),
    GraftQuery("cdc_stream_truncate", streamTruncate, Some(streamTruncateSql)),
  )
}
