package graft

import graft.compact.Compactor
import graft.ddl.BillingTables
import graft.ingest.{BillingBackfill, BillingIngest}

/** The billing writers release every block they materialize when they
  * return, instead of leaving local checkpoints to the ContextCleaner. */
class CheckpointReleaseSpec extends SparkSuite {
  import spark.implicits._

  private val db = "releasedb"

  /** Persistent RDDs `body` leaves behind that were not there before it
    * (RDD ids are never reused, so a leak shows as a new id). */
  private def leftBehind(body: => Unit): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    body
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }

  test("processBatch, compact() and backfill leave no persisted RDD behind") {
    val tables = new BillingTables(spark, db)
    tables.createDatabase(); tables.dropAll(); tables.createAll()
    val batch = Fixtures.all.toDF("value")
    val ingest = new BillingIngest(spark, batch, db)
    val compactor = new Compactor(spark, db, partitionsPerJob = 1)
    (0L until 3L).foreach { id =>
      leftBehind(ingest.processBatch(batch, id)) shouldBe empty
      leftBehind(compactor.compact()) shouldBe empty
    }
    leftBehind(new BillingBackfill(spark, db).backfill(batch,
      Seq("2024-03-01", "2024-03-02"))) shouldBe empty
    Seq("transfer", "request", "storage", "remove")
      .map(t => spark.table(s"$db.$t").count()) shouldBe Seq(1L, 1L, 2L, 3L)
  }
}
