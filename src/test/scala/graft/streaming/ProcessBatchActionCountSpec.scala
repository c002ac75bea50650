package graft.streaming

import graft.SparkTestBase
import graft.reliability.RetryPolicy

/** Pins the append sink's job structure: `processBatch` runs the same
  * constant number of driver actions however many tables a batch holds —
  *   1. the fused table aggregate (table list, counts, max commit time),
  *   2. the ONE routed write of every table.
  * Publishing is renames, not actions. Before the routed write each table
  * ran its own write job (1 + T actions); a regression back to per-table
  * jobs shows up here as extra actions, not as a silent slowdown (the
  * per-batch job count is the sink's fixed overhead). */
class ProcessBatchActionCountSpec extends SparkTestBase {

  private def batch(tables: Int) = {
    import spark.implicits._
    (1 to tables * 3).map { i =>
      (i.toLong, i * 1.0, "INSERT",
        java.sql.Timestamp.valueOf(f"2024-01-${1 + i % 2}%02d 00:00:00"),
        f"$i%016d", s"t${i % tables}")
    }.toDF("id", "value", "_cdc_operation", "_cdc_timestamp", "_cdc_lsn", "_cdc_table")
  }

  private def actionsOf(body: => Unit): Int = {
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        actions.incrementAndGet(): Unit
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit =
        actions.incrementAndGet(): Unit
    }
    // listener events post asynchronously on a shared bus: let any prior
    // suite's in-flight events land before the counted window opens
    Thread.sleep(500)
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (actions.get < 2 && System.nanoTime() < deadline) Thread.sleep(25)
      Thread.sleep(300) // catch any EXTRA action still in flight
      actions.get
    } finally spark.listenerManager.unregister(listener)
  }

  test("processBatch runs 2 actions (aggregate, routed write) for 2 and for 8 tables") {
    for (tables <- Seq(2, 8)) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-actions").toString
      val cfg = IngestConfig(outDir = s"$tmp/out", dlqDir = s"$tmp/dlq",
        checkpointDir = s"$tmp/ckpt", retry = RetryPolicy(maxAttempts = 1))
      val b = batch(tables)
      val n = actionsOf(IngestPipeline.processBatch(cfg)(b, 0L))
      assert(n == 2, s"$tables tables: expected 2 actions (aggregate, routed write), got $n")
      // and every table landed
      val landed = (0 until tables).map(t => spark.read.parquet(s"$tmp/out/t$t").count()).sum
      assert(landed == tables * 3L)
    }
  }
}
