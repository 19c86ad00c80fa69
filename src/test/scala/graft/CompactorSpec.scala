package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.compact.Compactor
import graft.ddl.BillingTables
import graft.ingest.BillingIngest
import graft.parse.BillingParse
import graft.route.BillingRouter

/** Compaction: many files in → target count out, rows identical, NULL
  * partition handled (SURVEY §5.2; VERDICT r1 "What's wrong" #3/#4). */
class CompactorSpec extends SparkSuite {
  import spark.implicits._

  private val db = "compactdb"

  private def parquetFiles(table: String, partition: String): Seq[Path] = {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val dir = Paths.get(warehouse, s"$db.db", table, s"partition_date=$partition")
    if (!Files.exists(dir)) Seq.empty
    else Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
  }

  private def ingestTimes(n: Int, rows: Seq[String]): Unit = {
    val parsed = BillingParse.parse(rows.toDF("value"))
    (1 to n).foreach { _ =>
      BillingRouter.route(parsed).foreach { case (table, routed) =>
        routed.repartition(4).write.mode("append").insertInto(s"$db.$table")
      }
    }
  }

  test("compaction reduces a partition to one file and preserves rows") {
    val tables = new BillingTables(spark, db)
    tables.createDatabase(); tables.dropAll(); tables.createAll()
    ingestTimes(3, Fixtures.all) // 3 appends × repartition(4)

    parquetFiles("transfer", "2024-03-01").size should be > 1
    val before = spark.table(s"$db.transfer").orderBy($"pnfsid").collect()

    new Compactor(spark, db).compact(Seq("transfer"))

    parquetFiles("transfer", "2024-03-01").size shouldBe 1
    val after = spark.table(s"$db.transfer").orderBy($"pnfsid").collect()
    after shouldBe before
  }

  test("compaction covers every partition of every listed table") {
    val tables = new BillingTables(spark, db)
    tables.createDatabase(); tables.dropAll(); tables.createAll()
    ingestTimes(2, Fixtures.all)

    val counts = Seq("transfer", "request", "storage", "remove")
      .map(t => t -> spark.table(s"$db.$t").count()).toMap
    new Compactor(spark, db).compact()
    Seq("transfer" -> "2024-03-01", "request" -> "2024-03-01",
      "storage" -> "2024-03-02", "remove" -> "2024-03-03").foreach {
      case (t, p) => parquetFiles(t, p).size shouldBe 1
    }
    counts.foreach { case (t, n) => spark.table(s"$db.$t").count() shouldBe n }
  }

  test("NULL-date rows live in the default partition and survive compaction") {
    val tables = new BillingTables(spark, db)
    tables.createDatabase(); tables.dropAll(); tables.createAll()
    ingestTimes(2, Seq("""{"msgType":"remove","pnfsid":"NULLDATE"}"""))

    val part = "__HIVE_DEFAULT_PARTITION__"
    parquetFiles("remove", part).size should be > 1
    new Compactor(spark, db).compact(Seq("remove"))
    parquetFiles("remove", part).size shouldBe 1
    val rows = spark.table(s"$db.remove")
      .where($"partition_date".isNull).count()
    rows shouldBe 2L
  }

  test("partitionsOf lists per-table partitions") {
    val tables = new BillingTables(spark, db)
    tables.createDatabase(); tables.dropAll(); tables.createAll()
    ingestTimes(1, Fixtures.all)
    val c = new Compactor(spark, db)
    c.partitionsOf("transfer") shouldBe Seq("2024-03-01")
    c.partitionsOf("storage") shouldBe Seq("2024-03-02")
  }

  test("all-partition compaction runs in bounded batches (partitionsPerJob)") {
    val tables = new BillingTables(spark, db)
    tables.createDatabase(); tables.dropAll(); tables.createAll()
    // four day-partitions in one table
    val days = Seq("2024-03-01", "2024-03-02", "2024-03-03", "2024-03-04")
    days.foreach { d =>
      ingestTimes(2, Seq(Fixtures.transferJson.replace("2024-03-01", d)))
    }
    days.foreach(d => parquetFiles("transfer", d).size should be > 1)
    val before = spark.table(s"$db.transfer").count()

    // partitionsPerJob=1 → one job per partition: the checkpoint never
    // materializes more than a single partition, yet every listed
    // partition still ends at its target file count with rows intact
    new Compactor(spark, db, partitionsPerJob = 1).compact(Seq("transfer"))

    days.foreach(d => parquetFiles("transfer", d).size shouldBe 1)
    spark.table(s"$db.transfer").count() shouldBe before
  }

  test("a rewrite job crashing mid-write leaves the partition readable and intact") {
    val tables = new BillingTables(spark, db)
    tables.createDatabase(); tables.dropAll(); tables.createAll()
    ingestTimes(3, Fixtures.all)
    val filesBefore = parquetFiles("transfer", "2024-03-01").size
    filesBefore should be > 1
    val before = spark.table(s"$db.transfer").orderBy($"pnfsid").collect()

    // the reference's staging-table scheme had a real crash window here
    // (partition dropped before the rewrite lands, §4.2); the dynamic
    // overwrite commits per job, so a write that dies mid-task must
    // leave every pre-existing file untouched
    val boom = intercept[Exception] {
      new Compactor(spark, db,
        rewriteHook = df => df.withColumn("cellName",
          org.apache.spark.sql.functions.expr(
            """CASE WHEN assert_true(false, 'injected crash') IS NULL
               THEN cellName END""")))
        .compact(Seq("transfer"))
    }
    boom.getMessage should include("injected crash")

    parquetFiles("transfer", "2024-03-01").size shouldBe filesBefore
    spark.table(s"$db.transfer").orderBy($"pnfsid").collect() shouldBe before
    // and a clean retry completes the compaction
    new Compactor(spark, db).compact(Seq("transfer"))
    parquetFiles("transfer", "2024-03-01").size shouldBe 1
    spark.table(s"$db.transfer").orderBy($"pnfsid").collect() shouldBe before
  }

  test("size-targeted file count: tiny target yields multiple output files") {
    val tables = new BillingTables(spark, db)
    tables.createDatabase(); tables.dropAll(); tables.createAll()
    // distinct rows (the salt is a content hash: identical rows co-locate)
    (1 to 4).foreach { i =>
      ingestTimes(1, Seq(Fixtures.transferJson.replace("0000A1", f"0000A$i")))
    }
    // each parquet file is a few KB; a 4 KB target forces nFiles > 1
    new Compactor(spark, db, targetFileBytes = 4096L).compact(Seq("transfer"))
    parquetFiles("transfer", "2024-03-01").size should be > 1
    spark.table(s"$db.transfer").count() shouldBe 4L
  }

  test("a failed table rewrite surfaces only after the other tables are compacted") {
    val tables = new BillingTables(spark, db)
    tables.createDatabase(); tables.dropAll(); tables.createAll()
    ingestTimes(3, Fixtures.all)
    val partitionsOf = Seq("transfer" -> "2024-03-01", "request" -> "2024-03-01",
      "storage" -> "2024-03-02", "remove" -> "2024-03-03")
    partitionsOf.foreach { case (t, p) => parquetFiles(t, p).size should be > 1 }
    val transferFiles = parquetFiles("transfer", "2024-03-01").size
    val counts = partitionsOf.map { case (t, _) => t -> spark.table(s"$db.$t").count() }
    val overwriteMode = "spark.sql.sources.partitionOverwriteMode"
    val prior = spark.conf.getOption(overwriteMode)

    // only the transfer table's rewrite crashes ("isP2p" is a transfer
    // column); the other three are held back on the driver for a moment, so
    // they are still in flight when the crash happens
    val boom = intercept[Exception] {
      new Compactor(spark, db,
        rewriteHook = df => if (!df.columns.contains("isP2p")) { Thread.sleep(2000); df } else
          df.withColumn("cellName", org.apache.spark.sql.functions.expr(
            """CASE WHEN assert_true(false, 'injected crash') IS NULL
               THEN cellName END""")))
        .compact()
    }
    boom.getMessage should include("injected crash")

    // when the failure surfaces, the three other tables are compacted,
    // transfer is untouched and the session's overwrite mode is restored
    partitionsOf.tail.foreach { case (t, p) =>
      withClue(s"$t/$p: ") { parquetFiles(t, p).size shouldBe 1 }
    }
    parquetFiles("transfer", "2024-03-01").size shouldBe transferFiles
    counts.foreach { case (t, n) => spark.table(s"$db.$t").count() shouldBe n }
    spark.conf.getOption(overwriteMode) shouldBe prior
  }
}
