package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Metrics of one run. End-to-end metrics are reported untraced; the
  * per-layer ones only exist in a traced run. Diagnostics (host-regime
  * controls and the workload's own metric names) are printed with every
  * run and never gated. */
final class Report {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val diag = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  def fail(n: Long, why: String): Unit = if (n > 0) {
    failed += n
    errors += s"$why ($n)"
  }

  private def obj(m: mutable.LinkedHashMap[String, (Double, String)]): String =
    m.map { case (k, (v, u)) =>
      s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")

  def resultJson(trace: Boolean): String =
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${obj(if (trace) layer else e2e)}}"""

  def diagnosticsJson: String =
    s"""{"diagnostics":${obj(diag)},"errors":[${errors.map(Json.str).mkString(",")}]}"""
}

/** Everything a workload needs: the session, its scratch space, the
  * tracer and listeners, and the report it fills. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
                val seconds: Double, val tracer: Tracer, val report: Report) {
  val jobs = new JobRecorder(tracer)
  val stream = new StreamRecorder(tracer)
  val plans = new PlanRecorder(tracer)
  def traced: Boolean = tracer.enabled
  def dir(name: String): String = work.resolve(name).toString
  def cores: Int = spark.sparkContext.defaultParallelism
}

object Main {
  val Workloads: Seq[String] = Seq("cdc_upsert", "cdc_append", "lake_query", "curate_cold")

  /** Fixture builds per run; set-up time is their median. */
  val SetupReps = 3

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", (128L * 1024).toString)
      .config("spark.sql.parquet.aggregatePushDown", "true")
      .config("spark.sql.extensions", "graft.lake.GraftSqlExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.catalog.lake", "graft.lake.GraftCatalog")
      .config("spark.sql.catalog.lake.warehouse", work.resolve("lake").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload").getOrElse("")
    require(Workloads.contains(workload),
      s"unknown workload '$workload'; one of ${Workloads.mkString(", ")}")
    val seed = arg(args, "seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "trace").contains("1")
    val work = Paths.get(arg(args, "work").getOrElse(sys.error("--work is required")))
    val out = Paths.get(arg(args, "out").getOrElse(sys.error("--out is required")))
    val spansOut = arg(args, "spans").map(Paths.get(_))
    Files.createDirectories(work)

    val report = new Report
    Layers.init(report)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work, Runtime.getRuntime.availableProcessors().min(4))
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    Regime.measure(work, report)
    report.diag("regime.session_start_s") = (sessionS, "s")
    val tracer = new Tracer(trace)
    val ctx = new Ctx(spark, work, seed, seconds, tracer, report)
    spark.streams.addListener(ctx.stream)
    if (trace) {
      spark.sparkContext.addSparkListener(ctx.jobs)
      spark.listenerManager.register(ctx.plans)
    }
    val setupReps = workload match {
      case "cdc_upsert" => Ingest.upsert(ctx)
      case "cdc_append" => Ingest.append(ctx)
      case "lake_query" => LakeQuery.run(ctx)
      case "curate_cold" => Curate.run(ctx)
    }
    Layers.set(report, "setup_s", sessionS + Stats.median(setupReps))
    report.diag("setup.fixture_s") = (Stats.median(setupReps), "s")
    Jvm.finish(ctx)
    spansOut.filter(_ => trace).foreach(tracer.write)
    Files.createDirectories(out.toAbsolutePath.getParent)
    Files.write(out, java.util.Arrays.asList(report.diagnosticsJson, report.resultJson(trace)))
    // the result is on disk and the caller deletes the run's scratch
    // directory: skip the seconds a clean Spark shutdown takes
    Runtime.getRuntime.halt(0)
  }
}

/** Heap, GC and tracing-cost numbers every workload reports. */
object Jvm {
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Heap in use after a full collection, in MB: the least of three
    * readings, so an allocation by a background thread between the
    * collection and the reading does not count. */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }.min

  /** Records heap_live_mb at the end of the measured phase, plus the
    * traced run's GC time and listener cost. `Phase` marks bracket the
    * measured work. */
  def finish(ctx: Ctx): Unit = {
    val r = ctx.report
    r.e2e("heap_live_mb") = (liveHeapMb(), "MB")
    r.layer("jvm.gc_s") = (Phase.gcS, "s")
    val listenerS = ctx.tracer.listenerNanos.get / 1e9
    r.layer("trace.listener_s") = (listenerS, "s")
    r.layer("trace.overhead_frac") =
      (if (Phase.wallS > 0) listenerS / Phase.wallS else 0.0, "ratio")
    r.layer("trace.spans") = (ctx.tracer.all.size.toDouble, "count")
  }
}

/** Start and end of the measured phase (GC time and wall time within it). */
object Phase {
  private var gc0 = 0L
  private var t0 = 0L
  var gcS = 0.0
  var wallS = 0.0
  def begin(): Unit = { gc0 = Jvm.gcMs; t0 = System.nanoTime() }
  def end(): Unit = {
    gcS = (Jvm.gcMs - gc0) / 1000.0
    wallS = (System.nanoTime() - t0) / 1e9
  }
}

/** Host-regime controls, printed with every run and never gated: they
  * tell a slow host window apart from a slow engine. */
object Regime {
  private def loop(iters: Long): Long = {
    var acc = 0L
    var i = 0L
    while (i < iters) { acc += i ^ (acc >>> 3); i += 1 }
    acc
  }

  def measure(work: Path, r: Report): Unit = {
    val iters = 200000000L
    loop(iters / 10)
    val t0 = System.nanoTime()
    val a = loop(iters)
    r.diag("regime.cal_s") = ((System.nanoTime() - t0) / 1e9, "s")
    val n = Runtime.getRuntime.availableProcessors().min(4)
    val t1 = System.nanoTime()
    val ts = (0 until n).map(_ => new Thread(() => { loop(iters); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    r.diag("regime.par_cal_s") = ((System.nanoTime() - t1) / 1e9, "s")
    r.diag("regime.io_cal_s") = (ioLoop(work.resolve("spark-local")), "s")
    if (a == 42) System.err.println("")
  }

  /** Fixed write + fsync + read-back loop in the Spark local dir. */
  private def ioLoop(dir: Path): Double = {
    Files.createDirectories(dir)
    val f = dir.resolve("io_cal.bin")
    val block = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
    val t0 = System.nanoTime()
    for (_ <- 0 until 4) {
      val ch = java.nio.channels.FileChannel.open(f,
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      try {
        for (_ <- 0 until 8) ch.write(java.nio.ByteBuffer.wrap(block))
        ch.force(true)
      } finally ch.close()
      val back = Files.readAllBytes(f)
      require(back.length == 8 * block.length, "io calibration read back short")
    }
    Files.delete(f)
    (System.nanoTime() - t0) / 1e9
  }
}
