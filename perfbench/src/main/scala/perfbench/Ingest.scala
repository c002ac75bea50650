package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import graft.ingest.{BatchExec, CdcWriter, EnvelopeDecoder}
import graft.lake.SnapshotLog
import graft.observe.Metrics
import graft.reliability.{DeadLetter, RetryPolicy}
import graft.sources.CdcLog
import graft.streaming.{IngestConfig, IngestPipeline}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** The two open-loop ingest workloads. Each run: a fixed-rate window
  * (freshness), a drain of a fixed backlog (throughput and write
  * amplification), then an exact read-back of the lake. */
object Ingest {

  /** Offered rate, admission cap, backlog size and segment cadence. The
    * rate is about 60% of the workload's drain throughput measured on
    * the commit that introduced the benchmark, and is frozen here so
    * later changes are measured at the same offered load. */
  final case class Spec(rateEps: Double, maxEventsPerBatch: Int, backlog: Int,
                        warmup: Int, segMs: Int)

  val UpsertSpec = Spec(rateEps = 125, maxEventsPerBatch = 1000, backlog = 2000,
    warmup = 200, segMs = 50)
  val AppendSpec = Spec(rateEps = 120, maxEventsPerBatch = 500, backlog = 1500,
    warmup = 200, segMs = 50)
  val PreloadKeys = 3000
  /** A window whose generator published a segment later than this is
    * invalid: the load was not offered as scheduled. */
  val MaxGenLateMs = 250.0

  /** One call into the engine from the foreachBatch body. */
  final case class Call(batchId: Long, table: String, startMs: Double, endMs: Double,
                        deltaRows: Long, daysTouched: Int, storedRows: Long,
                        rewriteRows: Long, resolveMs: Double)

  private val envelopeRowSchema = StructType(WalGen.PayloadSchema.fields ++ Seq(
    StructField("_cdc_operation", StringType), StructField("_cdc_timestamp", TimestampType),
    StructField("_cdc_lsn", StringType), StructField("_cdc_schema", StringType),
    StructField("_cdc_table", StringType), StructField("_cdc_txid", LongType)))

  // ---------------------------------------------------------------- upsert

  def upsert(ctx: Ctx): Seq[Double] = {
    val spark = ctx.spark
    val gen = new UpsertGen(ctx.seed, PreloadKeys)
    val preload = gen.tables.map { t =>
      val rows = gen.preload(t).map { case (img, ts, lsn) =>
        Row(img.id, img.v, img.note, "INSERT", new java.sql.Timestamp(ts),
          CdcLog.lsnString(lsn), "public", t, lsn)
      }
      t -> spark.createDataFrame(rows.asJava, envelopeRowSchema)
    }
    // the fixture is the pre-loaded lake: a day-partitioned table per
    // source table, written by the engine's batch writer; the first merge
    // adopts it as snapshot 1. Built SetupReps times into fresh dirs, the
    // last one kept
    val setup = (1 to Main.SetupReps).map { r =>
      val base = ctx.dir(s"upsert_r$r")
      Clock.timed(preload.par.foreach { case (t, df) => CdcWriter.write(df, s"$base/$t") })._2
    }
    Log(s"pre-load built: ${setup.map(x => f"$x%.2f").mkString(" ")} s")
    val lake = ctx.dir(s"upsert_r${Main.SetupReps}")
    val calls = new ConcurrentLinkedQueue[Call]()
    val sc = spark.sparkContext

    // the fanout body of the engine's multi-table e2e pipeline: one
    // cached batch, per-table copy-on-write merges submitted concurrently
    def body(b: DataFrame, batchId: Long): Unit = BatchExec.withAqe(b) {
      b.persist()
      try {
        val counts = b.groupBy(col("_cdc_table")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
        counts.toSeq.par.foreach { case (t, n) =>
          sc.setJobGroup(s"batch-$batchId/merge/$t", "merge", interruptOnCancel = false)
          try {
            val dir = s"$lake/$t"
            val (before, resolveS) =
              if (ctx.traced) Clock.timed(SnapshotLog.currentSnapshot(spark, dir)) else (None, 0.0)
            val s0 = Clock.nowMs
            val touched = CdcWriter.merge(spark, dir, b.filter(col("_cdc_table") === t), Seq("id"))
            val s1 = Clock.nowMs
            val rewritten =
              if (!ctx.traced) 0L
              else {
                val old = before.toSeq.flatMap(_.files).map(_.path).toSet
                SnapshotLog.currentSnapshot(spark, dir).toSeq.flatMap(_.files)
                  .filterNot(f => old(f.path)).map(_.rows).sum
              }
            calls.add(Call(batchId, t, s0, s1, n, touched.size,
              before.map(_.totalRows).getOrElse(0L), rewritten, resolveS * 1000))
          } finally sc.setJobGroup("", "", interruptOnCancel = false)
        }
      } finally b.unpersist()
    }

    val measured = runStream(ctx, gen, UpsertSpec, "cdc_upsert", body, calls, "ingest.merge",
      lakeDirs = Seq(lake))

    // correctness: the lake equals the generator's fold, table by table
    Log("stream finished; checking the lake")
    import spark.implicits._
    for (t <- gen.tables) {
      val expected = gen.state(t).values.toSeq.map(i => (i.id, i.v, i.note))
        .toDF("id", "val", "note")
      val stored = CdcWriter.read(spark, s"$lake/$t").select("id", "val", "note")
      val missing = expected.exceptAll(stored).count()
      val extra = stored.exceptAll(expected).count()
      ctx.report.fail(missing + extra, s"$t: lake differs from the fold")
    }

    if (ctx.traced) {
      val cs = calls.asScala.toSeq.filter(c => measured(c.batchId))
      val r = ctx.report
      Layers.set(r, "ingest.merge_s", Stats.median(cs.map(c => (c.endMs - c.startMs) / 1000)))
      val deltas = cs.map(_.deltaRows).sum.toDouble.max(1)
      Layers.set(r, "ingest.probe_rows_per_delta_row", cs.map(_.storedRows).sum / deltas)
      Layers.set(r, "ingest.rewrite_rows_per_delta_row", cs.map(_.rewriteRows).sum / deltas)
      Layers.set(r, "ingest.days_touched_p50", Stats.median(cs.map(_.daysTouched.toDouble)))
      Layers.set(r, "lake.resolve_s", Stats.median(cs.map(_.resolveMs / 1000)))
      val jobs = ctx.jobs.jobs
      val perCall = cs.map { c =>
        val mine = jobs.filter(_.group == s"batch-${c.batchId}/merge/${c.table}")
        (c, mine)
      }
      Layers.set(r, "ingest.merge_jobs", perCall.map(_._2.size.toDouble).sum / cs.size.max(1))
      Layers.set(r, "lake.post_write_gap_s", Stats.median(perCall.collect {
        case (c, mine) if mine.nonEmpty => (c.endMs - mine.map(_.endMs).max) / 1000
      }))
      val snaps = gen.tables.flatMap(t => SnapshotLog.currentSnapshot(spark, s"$lake/$t"))
      Layers.set(r, "lake.bytes_live", snaps.flatMap(_.files).map(_.sizeBytes).sum.toDouble)
      Layers.set(r, "lake.files_live", snaps.map(_.files.size).sum.toDouble)
      Layers.set(r, "lake.delete_files_live", snaps.map(_.deletes.size).sum.toDouble)
      Layers.set(r, "lake.manifest_entries",
        gen.tables.map(t => SnapshotLog.totalSegmentEntries(spark, s"$lake/$t")).sum.toDouble)
      Layers.set(r, "lake.snapshots",
        gen.tables.map(t => SnapshotLog.snapshotIds(spark, s"$lake/$t").size).sum.toDouble)
      val batchesMeasured = measured.size.max(1)
      Layers.set(r, "ingest.write_jobs_per_batch",
        jobs.count(j => measured.exists(id => j.group.startsWith(s"batch-$id/")) &&
          j.site.contains("CdcWriter")).toDouble / batchesMeasured)
    }
    setup
  }

  // ---------------------------------------------------------------- append

  def append(ctx: Ctx): Seq[Double] = {
    val spark = ctx.spark
    val gen = new AppendGen(ctx.seed)
    val retries = new java.util.concurrent.atomic.AtomicLong(0)
    def config(out: String, tag: String) = IngestConfig(
      outDir = s"$out/tables", dlqDir = s"$out/dlq", checkpointDir = s"$out/ckpt",
      sourceId = tag, metrics = new Metrics.Registry,
      retry = RetryPolicy(sleep = ms => { retries.incrementAndGet(); Thread.sleep(ms) }))
    // the fixture: one static micro-batch over every table (poison row
    // included) through the same processBatch path, into fresh dirs —
    // there is no stored state to pre-load on an append-only sink
    val warmGen = new AppendGen(ctx.seed + 7919)
    val warmLines = Seq.fill(AppendSpec.warmup * 2)(warmGen.next().line) :+
      WalGen.line("c", warmGen.PoisonTable, WalGen.FirstLsn - 1, WalGen.streamTs(0),
        None, Some(Image(0L, 0L, "poison")))
    import spark.implicits._
    val warmRaw = warmLines.toDF("value")
    val setup = (1 to Main.SetupReps).map { r =>
      val cfg = config(ctx.dir(s"append_fixture_r$r"), s"fixture$r")
      val decoded = EnvelopeDecoder.flattened(
        EnvelopeDecoder.decode(warmRaw, "value", WalGen.PayloadSchema))
      Clock.timed(IngestPipeline.processBatch(cfg)(decoded, 0L))._2
    }
    val out = ctx.dir("append")
    val cfg = config(out, "bench")
    val calls = new ConcurrentLinkedQueue[Call]()
    val sc = spark.sparkContext

    def body(b: DataFrame, batchId: Long): Unit = {
      sc.setJobGroup(s"batch-$batchId/process", "processBatch", interruptOnCancel = false)
      try {
        val s0 = Clock.nowMs
        IngestPipeline.processBatch(cfg)(b, batchId)
        calls.add(Call(batchId, "", s0, Clock.nowMs, 0L, 0, 0L, 0L, 0.0))
      } finally sc.setJobGroup("", "", interruptOnCancel = false)
    }

    val measured = runStream(ctx, gen, AppendSpec, "cdc_append", body, calls,
      "ingest.process_batch", lakeDirs = Seq(cfg.outDir, cfg.dlqDir))

    // correctness: every table holds exactly its generated rows, and the
    // dead-letter queue holds exactly the poison rows
    val stored = spark.read.option("recursiveFileLookup", "true").parquet(cfg.outDir)
      .groupBy(col("_cdc_table"))
      .agg(count(lit(1)), countDistinct(col("id")), sum(col("id"))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    for (t <- gen.tables) {
      val (n, distinct, keySum) = stored.getOrElse(t, (0L, 0L, 0L))
      ctx.report.fail(math.abs(n - gen.counts(t)), s"$t: row count differs")
      ctx.report.fail(n - distinct, s"$t: duplicated rows")
      if (n == gen.counts(t) && n == distinct && keySum != gen.keySums(t))
        ctx.report.fail(1, s"$t: key checksum differs")
    }
    ctx.report.fail(stored.keySet.diff(gen.tables.toSet).size.toLong, "rows in unknown tables")
    val dlq = DeadLetter.read(spark, cfg.dlqDir)
      .agg(count(lit(1)), count(when(col("table_name") === gen.PoisonTable, 1))).head()
    val (dlqRows, poisonInDlq) = (dlq.getLong(0), dlq.getLong(1))
    ctx.report.fail(math.abs(dlqRows - gen.counts(gen.PoisonTable)),
      "dead-letter rows differ from the injected poison rows")
    ctx.report.fail(dlqRows - poisonInDlq, "dead-letter rows for valid tables")
    ctx.report.diag("reliability.poison_rows") = (gen.counts(gen.PoisonTable).toDouble, "count")

    if (ctx.traced) {
      val r = ctx.report
      val cs = calls.asScala.toSeq.filter(c => measured(c.batchId))
      val jobs = ctx.jobs.jobs
      Layers.set(r, "reliability.dlq_rows", dlqRows.toDouble)
      Layers.set(r, "reliability.retries", retries.get.toDouble)
      Layers.set(r, "ingest.route_write_s", Stats.median(cs.map(c => (c.endMs - c.startMs) / 1000)))
      val inCall = cs.map(c => c -> jobs.filter(j => j.startMs >= c.startMs - 1 && j.startMs <= c.endMs))
      Layers.set(r, "ingest.write_jobs_per_batch",
        inCall.map(_._2.count(_.site.contains("CdcWriter"))).sum.toDouble / cs.size.max(1))
      Layers.set(r, "reliability.dlq_s",
        inCall.flatMap(_._2).filter(_.site.contains("DeadLetter"))
          .map(j => (j.endMs - j.startMs) / 1000).sum)
      Layers.set(r, "lake.post_write_gap_s", Stats.median(inCall.collect {
        case (c, mine) if mine.nonEmpty => (c.endMs - mine.map(_.endMs).max) / 1000
      }))
      Layers.set(r, "lake.bytes_live", lakeBytes(Seq(cfg.outDir, cfg.dlqDir)).toDouble)
      Layers.set(r, "lake.files_live", lakeFiles(Seq(cfg.outDir)).toDouble)
      Layers.set(r, "lake.snapshots", SnapshotLog.snapshotIds(spark, cfg.dlqDir).size.toDouble)
      Layers.set(r, "lake.manifest_entries",
        SnapshotLog.totalSegmentEntries(spark, cfg.dlqDir).toDouble)
    }
    setup
  }

  // ---------------------------------------------------------- shared loop

  private def lakeWalk(dirs: Seq[String]): Seq[Path] =
    dirs.map(Paths.get(_)).filter(Files.exists(_)).flatMap { d =>
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(p => p.getFileName.toString.startsWith(".") ||
          p.getFileName.toString.startsWith("_"))
        .toList
      finally s.close()
    }

  /** Bytes of the data, delete and manifest files under `dirs` (checksum
    * side files excluded). */
  def lakeBytes(dirs: Seq[String]): Long = lakeWalk(dirs).map(Files.size).sum

  private def lakeFiles(dirs: Seq[String]): Long =
    lakeWalk(dirs).count(_.getFileName.toString.endsWith(".parquet")).toLong

  private def awaitLsn(ctx: Ctx, q: org.apache.spark.sql.streaming.StreamingQuery,
                       lsn: Long, what: String, timeoutMs: Long = 90000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (ctx.stream.committedLsn < lsn) {
      q.exception.foreach(e => throw new IllegalStateException(s"stream failed during $what", e))
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"$what: LSN $lsn not committed within ${timeoutMs / 1000} s")
      Thread.sleep(2)
    }
  }

  private def runStream(ctx: Ctx, src: EventSource, spec: Spec, name: String,
                        body: (DataFrame, Long) => Unit,
                        calls: ConcurrentLinkedQueue[Call], callName: String,
                        lakeDirs: Seq[String]): Set[Long] = {
    val spark = ctx.spark
    val logDir = Paths.get(ctx.dir(s"$name-wal"))
    Files.createDirectories(logDir)
    val bodyTimes = new java.util.concurrent.ConcurrentHashMap[Long, (Double, Double)]()
    val raw = spark.readStream.format("graft.sources.CdcLogSource")
      .option("path", logDir.toString)
      .option("maxEventsPerBatch", spec.maxEventsPerBatch.toString)
      .load()
    val envelope = EnvelopeDecoder.flattened(
      EnvelopeDecoder.decode(raw, "value", WalGen.PayloadSchema))
    val q = envelope.writeStream
      .queryName(s"perfbench-$name")
      .option("checkpointLocation", ctx.dir(s"$name-ckpt"))
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (b: DataFrame, id: Long) =>
        val s0 = Clock.nowMs
        body(b, id)
        bodyTimes.put(id, (s0, Clock.nowMs)): Unit
      }
      .start()
    val loop = new OpenLoop(logDir, src, spec.segMs)
    try {
      // stream warm-up: the first micro-batches of a query pay one-off
      // planning and code generation; they are not measured
      val (warm, _, _) = loop.burst(spec.warmup)
      awaitLsn(ctx, q, warm.last.lsn, "warm-up")
      val linesBefore = loop.linesPublished
      val firstMeasured = ctx.stream.sorted.map(_.batchId).foldLeft(-1L)(math.max) + 1

      Log("warm-up committed; fixed-rate window")
      Phase.begin()
      val window = loop.run(spec.rateEps, ctx.seconds)
      awaitLsn(ctx, q, window.lsns.last, "fixed-rate window")
      val windowLastBatch = ctx.stream.sorted.map(_.batchId).max

      Log("window committed; drain")
      val bytes0 = lakeBytes(lakeDirs)
      val (backlog, backlogBytes, tDrain) = loop.burst(spec.backlog)
      awaitLsn(ctx, q, backlog.last.lsn, "drain")
      Phase.end()
      val bytes1 = lakeBytes(lakeDirs)
      q.stop()
      Log("drained")

      val progress = ctx.stream.sorted.filter(_.batchId >= firstMeasured)
      val windowBatches = progress.filter(_.batchId <= windowLastBatch)
      def end(id: Long): Double = bodyTimes.get(id)._2
      val commits = windowBatches.map(p => Stats.BatchCommit(p.batchId, p.startLsn, p.endLsn, end(p.batchId)))
      val (fresh, uncovered) = Stats.freshness(commits, window.lsns, window.schedMs)
      ctx.report.fail(uncovered, "window events never committed")
      val drainBatch = progress.filter(_.endLsn >= backlog.last.lsn).minBy(_.batchId)
      val drainS = (end(drainBatch.batchId) - tDrain) / 1000
      val drainEps = spec.backlog / drainS
      val tailQ = Stats.tailQuantile(fresh.length, Seq(0.99, 0.9)).getOrElse(0.5)
      val r = ctx.report
      r.attempted = src.emitted
      Layers.set(r, "throughput_per_s", drainEps)
      Layers.set(r, "latency_p50_s", Stats.median(fresh.toSeq))
      Layers.set(r, "latency_tail_s", Stats.quantile(fresh.toSeq, tailQ))
      val lateP99 = Stats.quantile(window.lateMs.toSeq, 0.99)
      r.diag("regime.gen_late_ms_p99") = (lateP99, "ms")
      r.diag("drain_eps") = (drainEps, "events/s")
      r.diag("freshness_p50_s") = (Stats.median(fresh.toSeq), "s")
      r.diag(f"freshness_p${tailQ * 100}%.0f_s") = (Stats.quantile(fresh.toSeq, tailQ), "s")
      r.diag("freshness_samples") = (fresh.length.toDouble, "count")
      val batchTimes = windowBatches.map(p => (end(p.batchId) - p.triggerStartMs) / 1000)
      r.diag("batch_p50_s") = (Stats.median(batchTimes), "s")
      val writeAmp = (bytes1 - bytes0).toDouble / backlogBytes
      r.diag("write_amp") = (writeAmp, "ratio")
      r.diag("offered_eps") = (spec.rateEps, "events/s")
      require(lateP99 <= MaxGenLateMs,
        f"generator fell behind its schedule (p99 $lateP99%.0f ms late): run invalid")

      val layer: Map[String, Double] = Map(
        "streaming.batch_p50_s" -> Stats.median(batchTimes),
        "lake.write_amp" -> writeAmp,
        "lake.bytes_written" -> (bytes1 - bytes0).toDouble,
        "streaming.batches" -> progress.size.toDouble,
        "streaming.events_per_batch_p50" -> Stats.median(windowBatches.map(_.rows.toDouble)))
      layer.foreach { case (k, v) => Layers.set(r, k, v) }
      def dur(key: String, ps: Seq[BatchProgress]) =
        Stats.median(ps.map(_.durations.getOrElse(key, 0.0) / 1000))
      Layers.set(r, "sources.latest_offset_s", dur("latestOffset", windowBatches))
      Layers.set(r, "streaming.trigger_s", dur("triggerExecution", windowBatches))
      Layers.set(r, "streaming.query_planning_s", dur("queryPlanning", windowBatches))
      Layers.set(r, "streaming.wal_commit_s", dur("walCommit", windowBatches))
      Layers.set(r, "streaming.commit_offsets_s", dur("commitOffsets", windowBatches))
      Layers.set(r, "streaming.boundary_s", Stats.median(windowBatches.map(p =>
        (p.durations.getOrElse("triggerExecution", 0.0) - p.durations.getOrElse("addBatch", 0.0)) / 1000)))

      // backlog the engine had not yet committed, sampled at each
      // window batch's trigger start (LSNs are consecutive)
      val published = window.published
      def publishedLinesAt(t: Double): Long =
        published.filter(_._1 <= t).lastOption.map(_._2).getOrElse(linesBefore)
      val committedAt = (t: Double) => progress.filter(p => end(p.batchId) <= t)
        .map(_.endLsn).foldLeft(warm.last.lsn)(math.max)
      val lagSamples = windowBatches.map { p =>
        val t = p.triggerStartMs
        val pubLsn = WalGen.FirstLsn + publishedLinesAt(t) - 1
        (t / 1000, (pubLsn - committedAt(t)).toDouble.max(0))
      }
      Layers.set(r, "sources.lag_events_p50", Stats.median(lagSamples.map(_._2)))
      Layers.set(r, "sources.lag_slope_eps", Stats.slope(lagSamples.map(_._1), lagSamples.map(_._2)))

      // lines the source read per event it delivered, from outside: each
      // reader task re-reads every log file, and each new segment makes
      // the LSN index rescan the whole log
      val lineAt = (t: Double) =>
        if (t >= tDrain) linesBefore + window.lsns.length + spec.backlog
        else publishedLinesAt(t)
      val readerLines = progress.map { p =>
        val k = CdcLog.splitRange(logDir.toString, p.startLsn, p.endLsn,
          CdcLog.MinRowsPerPartition, ctx.cores).length
        lineAt(p.triggerStartMs).toDouble * k
      }.sum
      val indexLines = published.map(_._2.toDouble).sum +
        (linesBefore + window.lsns.length + spec.backlog)
      val used = progress.map(_.rows).sum.toDouble.max(1)
      Layers.set(r, "sources.lines_scanned_per_event", (readerLines + indexLines) / used)

      if (ctx.traced) {
        ctx.jobs.drain(spark)
        val jobs = ctx.jobs.jobs
        val measured = progress.map(_.batchId).toSet
        val scanJobs = jobs.filter(j => j.sourceScan &&
          measured.exists(id => j.startMs >= bodyTimes.get(id)._1 - 1 && j.startMs <= end(id)))
        Layers.set(r, "ingest.decode_task_s_per_kevent",
          scanJobs.map(_.sourceScanRunMs).sum / 1000 / (used / 1000))
        // spans: trigger -> foreachBatch body -> engine call -> jobs. A job
        // belongs to the call whose job group it carries, else to the call
        // whose interval holds its start, else to the body
        val byBatch = calls.asScala.toSeq.groupBy(_.batchId)
        for (p <- progress) {
          val trig = ctx.tracer.record("streaming.trigger", s"batch-${p.batchId}", -1,
            p.triggerStartMs, p.triggerStartMs + p.durations.getOrElse("triggerExecution", 0.0),
            Map("rows" -> p.rows.toDouble, "start_lsn" -> p.startLsn.toDouble,
              "end_lsn" -> p.endLsn.toDouble))
          val (b0, b1) = bodyTimes.get(p.batchId)
          val bodyId = ctx.tracer.record("streaming.foreach_batch", s"batch-${p.batchId}",
            trig, b0, b1)
          val callSpans = byBatch.getOrElse(p.batchId, Nil).map { c =>
            c -> ctx.tracer.record(callName, s"batch-${p.batchId}", bodyId, c.startMs, c.endMs,
              Map("delta_rows" -> c.deltaRows.toDouble, "days_touched" -> c.daysTouched.toDouble))
          }
          jobs.filter(j => j.startMs >= b0 - 1 && j.startMs <= b1).foreach { j =>
            val parent = callSpans.find { case (c, _) => j.group.endsWith(s"/${c.table}") }
              .orElse(callSpans.find { case (c, _) => j.startMs >= c.startMs - 1 && j.startMs <= c.endMs })
              .map(_._2).getOrElse(bodyId)
            ctx.tracer.record(s"job:${j.name}", s"batch-${p.batchId}", parent, j.startMs, j.endMs,
              Map("tasks" -> j.tasks.toDouble, "task_run_ms" -> j.taskRunMs))
          }
        }
        measured
      } else progress.map(_.batchId).toSet
    } finally {
      if (q.isActive) q.stop()
    }
  }
}
