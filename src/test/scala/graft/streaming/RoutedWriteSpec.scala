package graft.streaming

import graft.SparkTestBase
import graft.ingest.CdcWriter
import graft.observe.Metrics
import graft.reliability.{DeadLetter, RetryPolicy}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.Files

/** The append sink's routed write: one staged job per micro-batch,
  * published per table into the unchanged hive layout, with per-table
  * failure isolation and no staging debris on any path. */
class RoutedWriteSpec extends SparkTestBase {

  private val Cols = Seq("id", "value", "_cdc_operation", "_cdc_timestamp",
    "_cdc_lsn", "_cdc_table")

  /** `perTable` rows for each table, spread over days 1..`days`. */
  private def batch(tables: Seq[String], perTable: Int, days: Int,
                    idBase: Long = 0L): DataFrame = {
    import spark.implicits._
    (for { (t, ti) <- tables.zipWithIndex; i <- 0 until perTable } yield {
      val id = idBase + ti * 1000L + i
      (id, id * 1.0, "INSERT",
        java.sql.Timestamp.valueOf(f"2024-01-${1 + i % days}%02d 00:00:00"),
        f"$id%016d", t)
    }).toDF(Cols: _*)
  }

  private def config() = {
    val tmp = Files.createTempDirectory("graft-routed").toString
    IngestConfig(outDir = s"$tmp/out", dlqDir = s"$tmp/dlq",
      checkpointDir = s"$tmp/ckpt", metrics = new Metrics.Registry,
      retry = RetryPolicy(maxAttempts = 2, sleep = _ => ()))
  }

  private def parquetFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) parquetFiles(f)
      else if (f.getName.endsWith(".parquet") && !f.getName.startsWith(".")) Seq(f)
      else Nil
    }

  private def assertNoStaging(cfg: IngestConfig): Unit = {
    val staging = new File(s"${cfg.outDir}/_staging")
    assert(!staging.exists(),
      s"staging debris left: ${Option(staging.list()).toSeq.flatten}")
  }

  private def dlqTables(cfg: IngestConfig): Map[String, (Long, Set[String])] =
    DeadLetter.read(spark, cfg.dlqDir).collect().toSeq
      .groupBy(_.getAs[String]("table_name"))
      .map { case (t, rows) =>
        t -> (rows.size.toLong, rows.map(_.getAs[String]("error_type")).toSet) }

  test("one parquet file per (table, day) per batch; recursive reads group by _cdc_table") {
    val cfg = config()
    val tables = Seq("alpha", "beta", "gamma")
    IngestPipeline.processBatch(cfg)(batch(tables, perTable = 12, days = 3), 0L)
    for (t <- tables; d <- 1 to 3) {
      val dayDir = new File(f"${cfg.outDir}/$t/_cdc_date=2024-01-$d%02d")
      assert(parquetFiles(dayDir).size == 1, s"$dayDir")
    }
    // the day dirs are the only entries of a table dir
    for (t <- tables)
      assert(new File(s"${cfg.outDir}/$t").list().toSet ==
        (1 to 3).map(d => f"_cdc_date=2024-01-$d%02d").toSet)
    // a second batch adds exactly one more file per (table, day)
    IngestPipeline.processBatch(cfg)(batch(tables, perTable = 6, days = 3, idBase = 10000L), 1L)
    for (t <- tables; d <- 1 to 3)
      assert(parquetFiles(new File(f"${cfg.outDir}/$t/_cdc_date=2024-01-$d%02d")).size == 2)
    assertNoStaging(cfg)

    val byTable = spark.read.option("recursiveFileLookup", "true").parquet(cfg.outDir)
      .groupBy(col("_cdc_table")).agg(count(lit(1)), countDistinct(col("id")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byTable == tables.map(_ -> (18L, 18L)).toMap)
    // the partitioned read sees the day column and every row of a table
    val alpha = spark.read.parquet(s"${cfg.outDir}/alpha")
    assert(alpha.count() == 18)
    assert(alpha.select("_cdc_date").distinct().count() == 3)
  }

  test("a snapshot-backed target dead-letters as validation while the other tables land") {
    val cfg = config()
    // `snap` already holds a snapshot log: a hive append would be invisible
    CdcWriter.merge(spark, s"${cfg.outDir}/snap",
      batch(Seq("snap"), perTable = 2, days = 1).drop("_cdc_table"), Seq("id"))
    IngestPipeline.processBatch(cfg)(batch(Seq("snap", "users", "orders"), 4, 2), 0L)
    assert(spark.read.parquet(s"${cfg.outDir}/users").count() == 4)
    assert(spark.read.parquet(s"${cfg.outDir}/orders").count() == 4)
    assert(dlqTables(cfg) == Map("snap" -> (4L, Set("validation"))))
    // the snapshot table is untouched
    assert(CdcWriter.read(spark, s"${cfg.outDir}/snap").count() == 2)
    assertNoStaging(cfg)
  }

  test("a failed publish dead-letters only its table, once, and leaves no staging") {
    val cfg = config()
    new File(cfg.outDir).mkdirs()
    // publishing into `broken` fails: its target path is a FILE
    Files.createFile(java.nio.file.Paths.get(s"${cfg.outDir}/broken"))
    IngestPipeline.processBatch(cfg)(batch(Seq("users", "broken", "orders"), 5, 2), 0L)
    assert(spark.read.parquet(s"${cfg.outDir}/users").count() == 5)
    assert(spark.read.parquet(s"${cfg.outDir}/orders").count() == 5)
    assert(dlqTables(cfg).map { case (t, (n, _)) => t -> n } == Map("broken" -> 5L))
    assert(cfg.metrics.counter("iceberg", "commits_total") == 2)
    assert(cfg.metrics.counter("cdc", "dlq_total") == 1)
    assertNoStaging(cfg)
  }

  test("an exhausted shared write dead-letters every valid slice once, poison once") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.stagefail.impl", classOf[StagingFailFs].getName)
    val local = config()
    // the lake on a file system whose staged parquet creates fail: the
    // shared write sets up its staging dirs, then fails in its tasks on
    // every attempt
    val cfg = local.copy(outDir = s"stagefail://${local.outDir}")
    val b = batch(Seq("users", "orders", "not a name"), 3, 2)
    IngestPipeline.processBatch(cfg)(b, 0L)
    val dlq = dlqTables(cfg)
    assert(dlq.map { case (t, (n, _)) => t -> n } ==
      Map("users" -> 3L, "orders" -> 3L, "not a name" -> 3L))
    assert(dlq("not a name")._2 == Set("validation"))
    assert(!new File(s"${local.outDir}/users").exists())
    assert(cfg.metrics.counter("iceberg", "commits_total") == 0)
    assert(cfg.metrics.counter("cdc", "dlq_total") == 3)
    assertNoStaging(local)
  }

  test("bytes_written_total equals the bytes of the parquet files published") {
    val cfg = config()
    val tables = Seq("users", "orders", "items")
    IngestPipeline.processBatch(cfg)(batch(tables, 20, 3), 0L)
    IngestPipeline.processBatch(cfg)(batch(tables, 10, 2, idBase = 10000L), 1L)
    val onDisk = parquetFiles(new File(cfg.outDir)).map(_.length).sum
    assert(onDisk > 0)
    assert(cfg.metrics.counter("iceberg", "bytes_written_total") == onDisk)
    assert(cfg.metrics.counter("iceberg", "commits_total") == 6)
  }

  test("concurrent writers to one table dir each count only the bytes they publish") {
    val a = config()
    val b = a.copy(metrics = new Metrics.Registry)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val runs = Seq(a -> 0L, b -> 50000L).map { case (cfg, base) =>
      Future(IngestPipeline.processBatch(cfg)(
        batch(Seq("users", "orders"), 40, 4, idBase = base), base))
    }
    runs.foreach(Await.result(_, scala.concurrent.duration.Duration("120s")))
    val onDisk = parquetFiles(new File(a.outDir)).map(_.length).sum
    assert(a.metrics.counter("iceberg", "bytes_written_total") +
      b.metrics.counter("iceberg", "bytes_written_total") == onDisk)
    assert(spark.read.parquet(s"${a.outDir}/users").count() == 80)
    assertNoStaging(a)
  }
}

/** The local file system under the `stagefail` scheme, failing every
  * parquet file create below a `_staging` dir. */
class StagingFailFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}
  import org.apache.hadoop.util.Progressable

  override def getUri: java.net.URI = java.net.URI.create("stagefail:///")

  // every create overload of the local file system lands here
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    if (f.toString.contains("/_staging/") && f.getName.endsWith(".parquet"))
      throw new java.io.IOException(s"injected staging write failure: $f")
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}
