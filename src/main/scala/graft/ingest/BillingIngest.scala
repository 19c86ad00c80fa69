package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.parse.BillingParse
import graft.route.FanOut

/**
 * Streaming ingest: a Kafka-shaped stream (any streaming DataFrame with a
 * `value` column) → parse → route → append into the four partitioned tables.
 *
 * Equivalent of the reference's `Streaming` class
 * (`Dcache_kafka_to_hive.py:272-351`), with the reference's behaviors kept:
 *   - foreachBatch sink, one parse + four routed inserts per micro-batch
 *     (`Dcache_kafka_to_hive.py:317-336`)
 *   - checkpointed offsets (`:341`)
 *   - at-least-once delivery (inserts are appends, replays duplicate)
 *
 * and its missed optimizations fixed (SURVEY §4.2):
 *   - the micro-batch is parsed once, clustered by day once and
 *     materialized once (`FanOut.byDay`) instead of re-parsed by each of
 *     the four inserts (the reference re-plans the parse 4×); the inserts
 *     then run concurrently
 *   - the Python↔JVM callback hop and global-temp-view + SQL-string
 *     indirection are gone: foreachBatch is an in-process Scala closure
 *     doing direct DataFrame writes.
 *
 * At 100 TB scale this operator shuffles each micro-batch exactly once:
 * parse is narrow (map-only) over however many Kafka partitions the topic
 * has, one hash exchange on the day key clusters the parsed rows, and the
 * four routed inserts are narrow filter+project dynamic-partition parquet
 * appends over that one exchange's output.
 */
class BillingIngest(
    spark: SparkSession,
    source: DataFrame,
    database: String = "default",
    idempotenceDir: Option[String] = None) {

  private def tableName(t: String) = s"$database.$t"

  /** The per-micro-batch body (reference `forEachBatch`, `:317-336`).
    *
    * With `idempotenceDir` set, each (batchId, table) insert is recorded
    * in a marker file after it commits; a replayed batch (foreachBatch is
    * at-least-once — the reference accepts `batchid` at `:317` but never
    * uses it) skips inserts whose marker exists. This closes the
    * crash-between-insert-1-and-4 duplication window except for a crash
    * between an insert's commit and its marker write — the best
    * achievable without a transactional table format. Off by default
    * (reference-parity at-least-once). */
  private[graft] def processBatch(batch: DataFrame, batchId: Long): Unit =
    // one parse, one day-clustering exchange and one materialization feed
    // the four inserts, which run concurrently on disjoint tables (the
    // reference runs them serially, and each of its jobs re-parses the
    // batch). The exchange is what keeps the file count at one per
    // non-empty (table, day): without it every write task holds every day,
    // so a batch emits tasks × days × tables files (measured ~3800/batch at
    // 32 tasks) and file-commit overhead dominates. At cluster scale with
    // giant batches, salt the day key to split hot days across writers.
    FanOut.byDay(BillingParse.parse(batch)) { (table, routed) =>
      val marker = idempotenceDir.map(d =>
        java.nio.file.Paths.get(d, s"batch-$batchId-$table"))
      if (!marker.exists(java.nio.file.Files.exists(_))) {
        routed.write.mode("append").insertInto(tableName(table))
        // the insert runs in the stream's cloned session; its file-index
        // refresh doesn't reach this (the caller's) session's relation
        // cache, so invalidate here or later reads see stale file lists
        spark.catalog.refreshTable(tableName(table))
        marker.foreach { m =>
          java.nio.file.Files.createDirectories(m.getParent)
          java.nio.file.Files.write(m, Array.emptyByteArray)
        }
      }
    }

  private def writer(checkpointDir: String) =
    source.writeStream
      .foreachBatch(processBatch _)
      .option("checkpointLocation", checkpointDir)

  /** Continuous micro-batch mode (reference `to_hive`, `:303-347`). */
  def start(checkpointDir: String, triggerInterval: java.time.Duration): StreamingQuery =
    writer(checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerInterval.toMillis, java.util.concurrent.TimeUnit.MILLISECONDS))
      .start()

  /** Bounded run: drain everything available, then stop. Modern idiom for
    * the reference's cron-driven `awaitTermination(2*trigger); stop()`
    * window (`Dcache_kafka_to_hive.py:305,345-347`). */
  def runBounded(checkpointDir: String): Unit = {
    val q = writer(checkpointDir).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }
}
