package graft.route

import java.util.concurrent.{Callable, ExecutionException, Executors}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/**
 * The write step shared by the billing writers (`BillingIngest`,
 * `BillingBackfill`): cluster a parsed batch once by day, materialize it
 * once, fan the four routed projections out to their tables concurrently,
 * wait for all of them, release the materialization.
 *
 * One hash exchange on the day key puts every row of a day in one task, so
 * each routed projection is a narrow filter+project over the materialized
 * rows and every (table, day) is still written by exactly one task — one
 * file per non-empty (table, day) — without a per-table shuffle. The
 * reference instead plans four independent inserts per micro-batch
 * (`Dcache_kafka_to_hive.py:317-336`), each re-running the parse.
 */
object FanOut {

  /** Hash-partitions `parsed` on `BillingRouter.partitionDay`,
    * materializes it with an eager `localCheckpoint`, runs
    * `write(table, routed)` for the four routed projections concurrently
    * and returns each table's result once all four have finished. The
    * checkpoint is released after the last write, also on failure. */
  def byDay[A](parsed: DataFrame)(write: (String, DataFrame) => A): Map[String, A] =
    localCheckpointed(parsed.repartition(BillingRouter.partitionDay)) { clustered =>
      val routed = BillingRouter.route(clustered).toSeq
      routed.map(_._1).zip(awaitAll(routed.map { case (t, df) => () => write(t, df) })).toMap
    }

  /** Runs `use` over an eagerly local-checkpointed `df` and then unpersists
    * the checkpoint's blocks, instead of leaving them to the ContextCleaner
    * (which frees them only after a driver GC collects the RDD). */
  def localCheckpointed[A](df: DataFrame)(use: DataFrame => A): A = {
    val materialized = df.localCheckpoint()
    try use(materialized)
    finally materialized.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))
  }

  /** Runs `tasks` concurrently, one thread each, and returns their results
    * in order. Returns or throws only after EVERY task has finished: on
    * failure the first failed task's exception (in task order) is rethrown,
    * with the others' attached as suppressed. So a caller's cleanup — a
    * released checkpoint, a restored session conf — never runs under a
    * task that is still writing. The threads are created by the caller and
    * inherit its Spark local properties (job group, scheduler pool). */
  def awaitAll[A](tasks: Seq[() => A]): Seq[A] =
    if (tasks.isEmpty) Seq.empty
    else {
      val pool = Executors.newFixedThreadPool(tasks.size)
      val results = try {
        pool.invokeAll(tasks.map(t => (() => t()): Callable[A]).asJava).asScala.toSeq
          .map(f => Try(f.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) })
      } finally pool.shutdown()
      val failures = results.collect { case Failure(e) => e }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
      results.map(_.get)
    }
}
