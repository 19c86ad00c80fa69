package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.ddl.BillingTables
import graft.ingest.BillingIngest

/** End-to-end streaming ingest over MemoryStream (SURVEY §5.2 item 2):
  * foreachBatch parse→route→append, AvailableNow drain, checkpoint resume. */
class BillingIngestSpec extends SparkSuite {
  import spark.implicits._

  private val db = "ingestdb"

  private def freshTables(): Unit = {
    val t = new BillingTables(spark, db)
    t.createDatabase(); t.dropAll(); t.createAll()
  }

  private def counts(): Map[String, Long] =
    Seq("transfer", "request", "storage", "remove")
      .map(t => t -> spark.table(s"$db.$t").count()).toMap

  test("bounded drain routes one batch into the four tables") {
    freshTables()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    mem.addData(Fixtures.all: _*)
    new BillingIngest(spark, mem.toDF(), db).runBounded(ckpt)
    counts() shouldBe Map(
      "transfer" -> 1L, "request" -> 1L, "storage" -> 2L, "remove" -> 1L)
  }

  test("checkpoint resume: a second drain processes only new data") {
    freshTables()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val ingest = new BillingIngest(spark, mem.toDF(), db)

    mem.addData(Fixtures.transferJson)
    ingest.runBounded(ckpt)
    counts()("transfer") shouldBe 1L

    mem.addData(Fixtures.transferJson, Fixtures.removeJson)
    ingest.runBounded(ckpt) // same checkpoint → offsets resume, no replay
    counts() shouldBe Map(
      "transfer" -> 2L, "request" -> 0L, "storage" -> 0L, "remove" -> 1L)
  }

  test("malformed and unknown-msgType records are dropped by routing, not fatal") {
    freshTables()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    mem.addData("not json at all", """{"msgType":"alien"}""", Fixtures.removeJson)
    new BillingIngest(spark, mem.toDF(), db).runBounded(ckpt)
    counts().values.sum shouldBe 1L
  }

  test("batch replay duplicates by default; idempotenceDir makes it exactly-once") {
    freshTables()
    import org.apache.spark.sql.functions.col
    val batch = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(Fixtures.removeJson))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.StringType))))

    // reference parity: replaying the same batch appends again
    val plain = new BillingIngest(spark, batch.select(col("value")), db)
    plain.processBatch(batch, 7L)
    plain.processBatch(batch, 7L)
    counts()("remove") shouldBe 2L

    freshTables()
    val ledger = java.nio.file.Files.createTempDirectory("graft-ledger").toString
    val once = new BillingIngest(spark, batch.select(col("value")), db, Some(ledger))
    once.processBatch(batch, 7L)
    once.processBatch(batch, 7L) // marker exists -> skipped
    counts()("remove") shouldBe 1L
    once.processBatch(batch, 8L) // a NEW batch id still appends
    counts()("remove") shouldBe 2L
  }

  test("rows land in the partition derived from their own embedded date") {
    freshTables()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    // a "late" event: old embedded date still lands in its own (old) day
    val late = Fixtures.transferJson.replace("2024-03-01 12:00:00.000",
      "2019-07-04 08:00:00.000")
    mem.addData(Fixtures.transferJson, late)
    new BillingIngest(spark, mem.toDF(), db).runBounded(ckpt)
    val parts = spark.table(s"$db.transfer")
      .select("partition_date").as[String].collect().sorted
    parts shouldBe Array("2019-07-04", "2024-03-01")
  }

  test("processBatch writes exactly one file per non-empty (table, day)") {
    freshTables()
    val days = Seq("2024-03-01", "2024-03-02", "2024-03-03")
    // every fixture on every day, four copies each, spread over 4 input
    // partitions: each input task holds rows of every (table, day)
    val records = for {
      copy <- 1 to 4; day <- days; (r, i) <- Fixtures.all.zipWithIndex
    } yield r.replaceAll("2024-03-0[0-9]", day)
      .replaceAll("\"pnfsid\":\"[^\"]*\"", "\"pnfsid\":\"" + s"$copy-$day-$i" + "\"")
    val batch = records.toDF("value").repartition(4)
    new BillingIngest(spark, batch, db).processBatch(batch, 0L)

    val warehouse = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    for (table <- counts().keys; day <- days) {
      val dir = java.nio.file.Paths.get(warehouse, s"$db.db", table, s"partition_date=$day")
      val files = java.nio.file.Files.list(dir).iterator().asScala.toSeq
        .count(_.getFileName.toString.endsWith(".parquet"))
      withClue(s"$table/$day: ") { files shouldBe 1 }
    }
    counts() shouldBe Map(
      "transfer" -> 12L, "request" -> 12L, "storage" -> 24L, "remove" -> 12L)
  }

  test("a failed insert surfaces only after the other three have committed") {
    freshTables()
    spark.sql(s"DROP TABLE $db.storage")
    val batch = Fixtures.all.toDF("value")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val boom = intercept[Exception] {
      new BillingIngest(spark, batch, db).processBatch(batch, 0L)
    }
    boom.getMessage should include("storage")
    // the exception surfaced: every other insert has already finished
    Seq("transfer", "request", "remove")
      .map(t => t -> spark.table(s"$db.$t").count()) shouldBe
      Seq("transfer" -> 1L, "request" -> 1L, "remove" -> 1L)
    // and the batch's materialization was released after them
    (spark.sparkContext.getPersistentRDDs.keySet -- persisted) shouldBe empty
  }
}
