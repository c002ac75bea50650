package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.ingest.{Cdc, CdcWriter}
import graft.lake.SnapshotLog
import graft.sources.CdcLog
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** `lake_query`: two closed-loop clients run a seeded mix of six query
  * classes through the GraftCatalog SQL surface over tables the engine's
  * own writers built: a copy-on-write table with 20 snapshots, a
  * merge-on-read table with retained equality deletes, and a dimension
  * table. Every answer is checked against a reference computed from the
  * generator's rows, never through the catalog. */
object LakeQuery {
  val Clients = 2
  val Days = 19
  val RowsPerDay = 300
  val Customers = 200
  val Regions: Seq[String] = Seq("africa", "america", "asia", "europe", "oceania")
  val Statuses: Seq[String] = Seq("open", "paid", "shipped", "void")
  /** Query classes and how many of each a block of 20 holds. Each client
    * runs shuffled blocks, so every run sees the same mix. The three
    * classes that read one or two day partitions (point, range_agg,
    * time_travel) are 60% of it, so the median falls well inside them
    * and p75 well inside the heavier join, metadata and MOR classes. */
  val Block: Seq[(String, Int)] = Seq("point" -> 5, "range_agg" -> 4, "time_travel" -> 3,
    "join_topn" -> 3, "metadata" -> 2, "mor_read" -> 3)

  final case class Order(id: Long, cust: Long, amount: Long, status: String, day: Int)

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("cust", LongType),
    StructField("amount", LongType), StructField("status", StringType),
    StructField(Cdc.OpColumn, StringType), StructField(Cdc.TsColumn, TimestampType),
    StructField(Cdc.LsnColumn, StringType), StructField("_cdc_date", StringType)))

  def dayString(d: Int): String =
    java.time.LocalDate.ofEpochDay(WalGen.EpochMs / WalGen.DayMs + d).toString

  private def row(o: Order, op: String, lsn: Long): Row =
    Row(o.id, o.cust, o.amount, o.status, op,
      new java.sql.Timestamp(WalGen.EpochMs + o.day * WalGen.DayMs + lsn % 1000),
      CdcLog.lsnString(lsn), dayString(o.day))

  /** Ground truth of the fixture: current state of both fact tables,
    * (count, sum(amount)) of every COW snapshot, and the customers. */
  final class Truth {
    val cow = mutable.LongMap.empty[Order]
    val mor = mutable.LongMap.empty[Order]
    val cowSnapshots = mutable.LinkedHashMap.empty[Long, (Long, Long)]
    val region = mutable.LongMap.empty[String]
  }

  /** Build the three tables under namespace `ns`; returns their truth. */
  def build(ctx: Ctx, ns: String, seed: Long): Truth = {
    val spark = ctx.spark
    val rng = new scala.util.Random(seed)
    val t = new Truth
    val wh = ctx.dir("lake")
    val cowDir = s"$wh/$ns/orders_cow"
    val morDir = s"$wh/$ns/orders_mor"
    val dimDir = s"$wh/$ns/customers"
    var lsn = 1L
    def order(id: Long, day: Int) = Order(id, 1 + rng.nextInt(Customers),
      rng.nextInt(100000).toLong, Statuses(rng.nextInt(Statuses.length)), day)

    // COW: one day of orders per append commit (one write, 19 commits),
    // then a copy-on-write upsert merge touching scattered days
    val days = (0 until Days).map(d => (1 to RowsPerDay).map(i => order(d * RowsPerDay + i, d)))
    val rows = days.flatten.map { o => lsn += 1; row(o, "INSERT", lsn) }
    val files = SnapshotLog.withTableLock(cowDir) {
      val fs = SnapshotLog.writeData(spark, cowDir,
        spark.createDataFrame(rows.asJava, schema), Some("_cdc_date"))
      var parent: Option[SnapshotLog.Snapshot] = None
      for (d <- 0 until Days) {
        val part = dayString(d)
        days(d).foreach(o => t.cow(o.id) = o)
        val snap = SnapshotLog.commit(spark, cowDir, "append",
          parent.toSeq.flatMap(_.files) ++ fs.filter(_.partition == part), schema, parent)
        t.cowSnapshots(snap.id) = (t.cow.size.toLong, t.cow.values.map(_.amount).sum)
        parent = Some(snap)
      }
      fs
    }
    require(files.nonEmpty, "COW fixture wrote no files")
    val upserts = (1 to 400).map { _ =>
      val id = 1 + rng.nextInt(Days * RowsPerDay).toLong
      order(id, Days)
    }.groupBy(_.id).values.map(_.last).toSeq
    CdcWriter.merge(spark, cowDir, spark.createDataFrame(
      upserts.map { o => lsn += 1; row(o, "UPDATE", lsn) }.asJava, schema), Seq("id"))
    upserts.foreach(o => t.cow(o.id) = o)
    val head = SnapshotLog.currentSnapshot(spark, cowDir).get
    t.cowSnapshots(head.id) = (t.cow.size.toLong, t.cow.values.map(_.amount).sum)

    // MOR: a base commit, then merge-on-read upserts and deletes that
    // leave equality-delete files in the live manifest
    val base = (1 to Days * RowsPerDay / 2).map(i => order(i.toLong, i % Days))
    SnapshotLog.withTableLock(morDir) {
      val fs = SnapshotLog.writeData(spark, morDir, spark.createDataFrame(
        base.map { o => lsn += 1; row(o, "INSERT", lsn) }.asJava, schema), Some("_cdc_date"))
      SnapshotLog.commit(spark, morDir, "append", fs, schema, None)
    }
    base.foreach(o => t.mor(o.id) = o)
    val delta = (1 to 300).map { _ =>
      val id = 1 + rng.nextInt(base.size).toLong
      (order(id, Days), rng.nextDouble() < 0.2)
    }.groupBy(_._1.id).values.map(_.last).toSeq
    CdcWriter.morMerge(spark, morDir, spark.createDataFrame(delta.map { case (o, del) =>
      lsn += 1; row(o, if (del) "DELETE" else "UPDATE", lsn)
    }.asJava, schema), Seq("id"))
    delta.foreach { case (o, del) => if (del) t.mor.remove(o.id) else t.mor(o.id) = o }

    // dimension table
    val dimSchema = StructType(Seq(StructField("cust", LongType),
      StructField("region", StringType), StructField("tier", IntegerType),
      StructField(Cdc.LsnColumn, StringType)))
    val dims = (1 to Customers).map { c =>
      val r = Regions(rng.nextInt(Regions.length))
      t.region(c.toLong) = r
      Row(c.toLong, r, rng.nextInt(3), CdcLog.lsnString(c.toLong))
    }
    SnapshotLog.withTableLock(dimDir) {
      val fs = SnapshotLog.writeData(spark, dimDir,
        spark.createDataFrame(dims.asJava, dimSchema), None)
      SnapshotLog.commit(spark, dimDir, "append", fs, dimSchema, None)
    }
    t
  }

  /** One query instance: its class, SQL and expected answer. */
  final case class Q(cls: String, sql: String, expected: Seq[Seq[Any]])

  /** Endless seeded query stream: shuffled blocks of [[Block]]. */
  def stream(rng: scala.util.Random, ns: String, t: Truth): Iterator[Q] =
    Iterator.continually(rng.shuffle(Block.flatMap { case (c, n) => Seq.fill(n)(c) }))
      .flatten.map(c => draw(c, rng, ns, t))

  def draw(cls: String, rng: scala.util.Random, ns: String, t: Truth): Q = {
    val cow = s"lake.$ns.orders_cow"
    def cntSum(xs: Iterable[Order]) = Seq(Seq[Any](xs.size.toLong, xs.map(_.amount).sum))
    cls match {
      case "point" =>
        val id = 1 + rng.nextInt(Days * RowsPerDay).toLong
        Q(cls, s"SELECT amount, status FROM $cow WHERE id = $id",
          t.cow.get(id).map(o => Seq[Any](o.amount, o.status)).toSeq)
      case "range_agg" =>
        val d1 = rng.nextInt(Days)
        val d2 = math.min(Days, d1 + rng.nextInt(4))
        Q(cls, s"SELECT count(*), coalesce(sum(amount), 0) FROM $cow " +
          s"WHERE _cdc_date BETWEEN '${dayString(d1)}' AND '${dayString(d2)}'",
          cntSum(t.cow.values.filter(o => o.day >= d1 && o.day <= d2)))
      case "join_topn" =>
        val st = Statuses(rng.nextInt(Statuses.length))
        val sums = t.cow.values.filter(_.status == st).groupBy(o => t.region(o.cust))
          .map { case (r, os) => (r, os.map(_.amount).sum) }.toSeq
          .sortBy { case (r, s) => (-s, r) }.take(3)
        Q(cls, s"SELECT c.region, sum(o.amount) AS s FROM $cow o " +
          s"JOIN lake.$ns.customers c ON o.cust = c.cust WHERE o.status = '$st' " +
          "GROUP BY c.region ORDER BY s DESC, c.region LIMIT 3",
          sums.map { case (r, s) => Seq[Any](r, s) })
      case "time_travel" =>
        val ids = t.cowSnapshots.keys.toIndexedSeq
        val sid = ids(rng.nextInt(ids.size))
        val (n, s) = t.cowSnapshots(sid)
        Q(cls, s"SELECT count(*), coalesce(sum(amount), 0) FROM $cow VERSION AS OF $sid",
          Seq(Seq[Any](n, s)))
      case "metadata" =>
        Q(cls, s"SELECT (SELECT count(*) FROM $cow.snapshots), " +
          s"(SELECT sum(n_rows) FROM $cow.files)",
          Seq(Seq[Any](t.cowSnapshots.size.toLong, t.cow.size.toLong)))
      case "mor_read" =>
        val r = rng.nextInt(5)
        Q(cls, s"SELECT count(*), coalesce(sum(amount), 0) FROM lake.$ns.orders_mor " +
          s"WHERE cust % 5 = $r", cntSum(t.mor.values.filter(_.cust % 5 == r)))
    }
  }

  final case class Done(cls: String, seq: Long, qeId: Long, startMs: Double,
                        endMs: Double, ok: Boolean)

  def run(ctx: Ctx): Seq[Double] = {
    val spark = ctx.spark
    val setup = (1 to Main.SetupReps).map(r => Clock.timed(build(ctx, s"r$r", ctx.seed)))
    Log(s"fixtures built: ${setup.map(x => f"${x._2}%.2f").mkString(" ")} s")
    val ns = s"r${Main.SetupReps}"
    val truth = setup.last._1
    // warm-up: one block, unmeasured
    stream(new scala.util.Random(ctx.seed ^ 0x5eed), ns, truth).take(Block.map(_._2).sum)
      .foreach(q => spark.sql(q.sql).collect())

    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val seqNo = new java.util.concurrent.atomic.AtomicLong(0)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Phase.begin()
    val t0 = Clock.nowMs
    val deadline = t0 + ctx.seconds * 1000
    val clients = (0 until Clients).map { c =>
      new Thread(() => {
        val queries = stream(new scala.util.Random(ctx.seed * 1000003L + c), ns, truth)
        val sc = spark.sparkContext
        while (Clock.nowMs < deadline) {
          val q = queries.next()
          val seq = seqNo.incrementAndGet()
          sc.setJobGroup(s"query-$seq", q.cls, interruptOnCancel = false)
          val s0 = Clock.nowMs
          val (ok, qeId) =
            try {
              val df = spark.sql(q.sql)
              val got = df.collect().toSeq.map(_.toSeq)
              val same = got == q.expected
              if (!same) errors.add(s"${q.cls}: ${q.sql} returned $got, expected ${q.expected}")
              (same, df.queryExecution.id)
            } catch {
              case e: Exception =>
                errors.add(s"${q.cls}: ${q.sql} failed: ${e.getMessage}")
                (false, -1L)
            }
          done.add(Done(q.cls, seq, qeId, s0, Clock.nowMs, ok))
        }
        sc.setJobGroup("", "", interruptOnCancel = false)
      }, s"perfbench-client-$c")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    val wall = (Clock.nowMs - t0) / 1000
    Phase.end()

    val ds = done.asScala.toSeq
    val r = ctx.report
    r.attempted = ds.size.toLong
    r.fail(ds.count(!_.ok).toLong, "wrong or failed query answers")
    errors.asScala.take(5).foreach(e => r.errors += e)
    val lat = ds.map(d => (d.endMs - d.startMs) / 1000)
    // a run completes about a hundred queries: p75 is the highest
    // percentile with at least ten samples beyond it
    val tailQ = Stats.tailQuantile(lat.size, Seq(0.75)).getOrElse(0.5)
    Layers.set(r, "throughput_per_s", ds.size / wall)
    Layers.set(r, "latency_p50_s", Stats.median(lat))
    Layers.set(r, "latency_tail_s", Stats.quantile(lat, tailQ))
    r.diag("qps") = (ds.size / wall, "1/s")
    r.diag("query_p50_s") = (Stats.median(lat), "s")
    r.diag(f"query_p${tailQ * 100}%.0f_s") = (Stats.quantile(lat, tailQ), "s")
    r.diag("queries") = (ds.size.toDouble, "count")

    if (ctx.traced) {
      ctx.jobs.drain(spark)
      val deadlinePlans = System.currentTimeMillis() + 5000
      while (ds.exists(d => d.qeId >= 0 && !ctx.plans.plans.containsKey(d.qeId)) &&
        System.currentTimeMillis() < deadlinePlans) Thread.sleep(5)
      for (c <- Layers.QueryClasses)
        Layers.set(r, s"queries.${c}_p50_s",
          Stats.median(ds.filter(_.cls == c).map(d => (d.endMs - d.startMs) / 1000)))
      val plans = ds.flatMap(d => Option(ctx.plans.plans.get(d.qeId)))
      Layers.set(r, "queries.analysis_s", Stats.median(plans.map(_.analysisMs / 1000)))
      Layers.set(r, "queries.optimization_s", Stats.median(plans.map(_.optimizationMs / 1000)))
      Layers.set(r, "queries.planning_s", Stats.median(plans.map(_.planningMs / 1000)))
      val jobs = ctx.jobs.jobs.groupBy(_.group)
      val perQuery = ds.map(d => jobs.getOrElse(s"query-${d.seq}", Nil))
      Layers.set(r, "queries.jobs_per_query", perQuery.map(_.size).sum.toDouble / ds.size.max(1))
      Layers.set(r, "queries.tasks_per_query",
        perQuery.map(_.map(_.tasks).sum).sum.toDouble / ds.size.max(1))
      // files each query's lake scans read, against the files live in
      // the snapshots they scanned
      val scans = plans.filter(_.filesLive > 0)
      Layers.set(r, "lake.files_read_per_query", Stats.median(scans.map(_.filesRead.toDouble)))
      Layers.set(r, "lake.pruned_frac",
        1 - scans.map(_.filesRead).sum.toDouble / scans.map(_.filesLive).sum.max(1))
      val wh = ctx.dir("lake")
      val resolve = (1 to 20).map { _ =>
        val s0 = System.nanoTime()
        SnapshotLog.currentSnapshot(spark, s"$wh/$ns/orders_cow")
        (System.nanoTime() - s0) / 1e9
      }
      Layers.set(r, "lake.resolve_s", Stats.median(resolve))
      val snaps = Seq("orders_cow", "orders_mor", "customers")
        .flatMap(tb => SnapshotLog.currentSnapshot(spark, s"$wh/$ns/$tb"))
      Layers.set(r, "lake.files_live", snaps.map(_.files.size).sum.toDouble)
      Layers.set(r, "lake.delete_files_live", snaps.map(_.deletes.size).sum.toDouble)
      Layers.set(r, "lake.bytes_live",
        snaps.map(s => s.files.map(_.sizeBytes).sum + s.deletes.map(_.sizeBytes).sum).sum.toDouble)
      Layers.set(r, "lake.snapshots", Seq("orders_cow", "orders_mor", "customers")
        .map(tb => SnapshotLog.snapshotIds(spark, s"$wh/$ns/$tb").size).sum.toDouble)
      Layers.set(r, "lake.manifest_entries", Seq("orders_cow", "orders_mor", "customers")
        .map(tb => SnapshotLog.totalSegmentEntries(spark, s"$wh/$ns/$tb")).sum.toDouble)
      for (d <- ds) {
        val root = ctx.tracer.record(s"queries.${d.cls}", s"query-${d.seq}", -1, d.startMs, d.endMs)
        Option(ctx.plans.plans.get(d.qeId)).foreach { p =>
          ctx.tracer.record("queries.plan", s"query-${d.seq}", root, d.startMs,
            d.startMs + p.analysisMs + p.optimizationMs + p.planningMs,
            Map("analysis_ms" -> p.analysisMs, "optimization_ms" -> p.optimizationMs,
              "planning_ms" -> p.planningMs, "files_read" -> p.filesRead.toDouble))
        }
        jobs.getOrElse(s"query-${d.seq}", Nil).foreach { j =>
          ctx.tracer.record(s"job:${j.name}", s"query-${d.seq}", root, j.startMs, j.endMs,
            Map("tasks" -> j.tasks.toDouble))
        }
      }
    }
    setup.map(_._2)
  }
}
