package graft.compact

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import graft.route.FanOut
import graft.schema.BillingSchema

/**
 * Partition compaction: rewrite each day-partition of each billing table
 * into few large files.
 *
 * Reference: `Streaming.repartition` (`Dcache_kafka_to_hive.py:354-385`) —
 * per partition, `SELECT *` + `repartition(1)` + overwrite via a staging
 * table. Reference bugs fixed here (SURVEY §3.2, §4.2):
 *   - partition list is computed PER TABLE (the reference reuses the first
 *     table's list for all four);
 *   - the non-atomic staging-table two-step is replaced by a single dynamic
 *     `INSERT OVERWRITE` job (`partitionOverwriteMode=dynamic`), atomic per
 *     Spark job with no leftover `temporal` table;
 *   - `repartition(1)` (fixed single file, a full shuffle that caps a
 *     partition's rewrite at one task) becomes size-targeted: file count =
 *     ceil(partition bytes / targetFileBytes), so a 100 TB table compacts
 *     with cluster-wide parallelism while still producing ~1 GB files.
 *
 * Scale notes (100 TB):
 *   - partition sizes come from ONE catalog listing per table plus one
 *     `getContentSummary` RPC per partition directory — not a per-file
 *     `getFileStatus` loop on the driver (O(partitions), not O(files));
 *   - the read side is materialized with `localCheckpoint()` before the
 *     overwrite: the dynamic overwrite would otherwise delete the very
 *     files its own scan is reading (Spark rejects the plan with "Cannot
 *     overwrite a path that is also being read from"). Checkpointing is
 *     executor block storage, so the listed partitions are processed in
 *     batches of `partitionsPerJob`, and each batch's checkpoint is
 *     released as soon as its overwrite has finished;
 *   - the listed tables are compacted concurrently (the reference
 *     rewrites them one after another, `:374-385`), each table's
 *     batches in sequence — so at most one batch per table is
 *     materialized at a time, and exposure is bounded to (tables listed,
 *     four by default) × `partitionsPerJob` partitions' worth of blocks
 *     regardless of how many partitions were requested (`--partition all`
 *     on a 100 TB table never materializes the table).
 */
class Compactor(
    spark: SparkSession,
    database: String = "default",
    targetFileBytes: Long = 1L << 30,
    partitionsPerJob: Int = 8,
    // test hook, applied to the materialized batch right before the
    // overwrite — failure-injection specs make the WRITE job crash
    // mid-flight to prove the partition stays readable (the overwrite
    // commits per job; an aborted job must leave the old files intact)
    rewriteHook: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      identity) {

  private def qualified(t: String) = s"$database.$t"

  /** SHOW PARTITIONS value Hive uses for a NULL partition key. */
  private val nullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Enumerate a table's partitions (reference `:369-372`), per table. */
  def partitionsOf(table: String): Seq[String] = {
    import spark.implicits._
    spark.sql(s"SHOW PARTITIONS ${qualified(table)}")
      .as[String].collect().toSeq
      .map(_.split("=")(1))
  }

  /** partition value → stored bytes: one catalog call for the locations,
    * one recursive content-summary RPC per partition directory. */
  private def partitionSizes(table: String): Map[String, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    spark.sessionState.catalog
      .listPartitions(TableIdentifier(table, Some(database)))
      .map { part =>
        val value = part.spec.getOrElse(BillingSchema.partitionField, nullPartition)
        val loc = new Path(part.location)
        val bytes =
          try loc.getFileSystem(conf).getContentSummary(loc).getLength
          catch { case _: java.io.FileNotFoundException => 0L }
        value -> bytes
      }.toMap
  }

  /** Compact the given partitions (None = all) of the given tables.
    *
    * ONE Spark job per BATCH of `partitionsPerJob` partitions, not one
    * per partition (the reference loops partitions serially, `:374`):
    * within a batch, rows are shuffled on
    * (partition, salt % nFiles(partition)) so every partition in the
    * batch compacts in parallel across the cluster, each into its
    * size-targeted file count, and a single dynamic overwrite replaces
    * the batch's partitions atomically per job. The tables run
    * concurrently, each one batch at a time, so the batching bounds the
    * pre-overwrite `localCheckpoint` materialization (block storage) to
    * `partitionsPerJob` partitions' worth of data per table — the
    * default `yesterday` path is one partition, one job, exactly as
    * before; `all` on a large table is N/8 bounded jobs instead of one
    * table-sized one. The salt is a deterministic full-row hash, so a
    * task retry re-produces the same buckets. */
  def compact(
      tables: Seq[String] = BillingSchema.tableSchemas.keys.toSeq.sorted,
      partitions: Option[Seq[String]] = None): Unit = {
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // the tables are independent rewrites: run them concurrently and wait
      // for every one, so the restore below never runs under an overwrite
      // that is still being planned (it would then run as a STATIC
      // overwrite of its whole table)
      FanOut.awaitAll(tables.map(table => () => compactTable(table, partitions)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  /** One table's compaction: its partitions in bounded batches, one
    * dynamic overwrite job per batch. */
  private def compactTable(table: String, partitions: Option[Seq[String]]): Unit = {
    val field = BillingSchema.partitionField
    val sizes = partitionSizes(table)
    val parts = partitions.getOrElse(sizes.keys.toSeq.sorted)
    def filesFor(p: String): Int = math.max(1,
      math.ceil(sizes.getOrElse(p, 0L).toDouble / targetFileBytes).toInt)
    parts.grouped(partitionsPerJob).foreach { batch =>
      // SHOW PARTITIONS / the catalog report NULL keys as the Hive
      // default-partition sentinel; equality would select zero rows
      val nonNull = batch.filterNot(_ == nullPartition)
      val predicate = (
        Option.when(nonNull.nonEmpty)(col(field).isin(nonNull: _*)) ++
          Option.when(batch.contains(nullPartition))(col(field).isNull)
      ).reduce(_ || _)
      val df = spark.table(qualified(table)).where(predicate)
      // per-partition target file count as a lookup expression
      val filesExpr = {
        val m = if (nonNull.isEmpty) lit(1) else
          coalesce(element_at(
            map(nonNull.flatMap(p => Seq(lit(p), lit(filesFor(p)))): _*),
            col(field)), lit(1))
        when(col(field).isNull, lit(filesFor(nullPartition))).otherwise(m)
      }
      val salt = pmod(xxhash64(df.columns.map(col): _*), filesExpr.cast("long"))
      // explicit partition count = total target files: exactly the
      // right task count for the rewrite, and AQE won't coalesce the
      // salted buckets back together (an explicit N disables it)
      val totalFiles = batch.map(filesFor).sum
      // materialize before overwriting the files being read, then let
      // the dynamic overwrite atomically replace only these partitions;
      // the checkpoint is released as soon as its overwrite has finished
      FanOut.localCheckpointed(df.repartition(totalFiles, col(field), salt)) { batchRows =>
        rewriteHook(batchRows).write.mode("overwrite").insertInto(qualified(table))
      }
    }
  }
}
