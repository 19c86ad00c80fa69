package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import graft.SparkEntry
import graft.cli.RunCompact
import graft.ddl.BillingTables
import graft.ingest.BillingIngest
import graft.parse.BillingParse
import graft.route.BillingRouter
import graft.sources.TextFileSource

/**
 * The benchmark's JVM side: runs one workload in a local-mode session,
 * times calls into each layer's public entry point from outside the
 * program, checks every output, and writes a result JSON that `run.py`
 * turns into the benchmark's last line.
 *
 * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
 *   --trace <0|1> --work <dir> --catalog <dir> --t0-ms <epoch ms>
 *   --cpus <n> --out <result.json> [--trace-out <spans.json>]
 */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, catalog: String, t0Ms: Long, cpus: Int, out: Path, traceOut: Option[Path])

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", Paths.get(kv("work")).toAbsolutePath,
      kv("catalog"), kv("t0-ms").toLong, kv("cpus").toInt, Paths.get(kv("out")),
      kv.get("trace-out").map(Paths.get(_)))
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val run = new Run(spark, o)
    try run.execute()
    finally spark.stop()
    Files.write(o.out, run.resultJson.getBytes(StandardCharsets.UTF_8))
    o.traceOut.foreach(p => Files.write(p, run.tracer.toJson.getBytes(StandardCharsets.UTF_8)))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** Parquet files, their bytes, and the partitions holding them, of one
  * database's billing tables, listed on disk. */
final case class Layout(files: Long, bytes: Long, partitions: Long)

/** A billing report: its SQL, and a check of its rows against the
  * generator's oracle that returns the difference, if any. */
final case class Report(name: String, sql: String,
    verify: (Array[Row], BillingOracle) => Option[String])

/** Files read by the scans of an executed query, from its plan metrics. */
object ScanFiles extends AdaptiveSparkPlanHelper {
  def apply(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}

final class Run(spark: SparkSession, o: Main.Opts) {
  val tracer = new Tracer(spark, o.trace)
  private val progress = new ProgressLog
  spark.streams.addListener(progress)

  private val attempted = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
  private val failed = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private val e2e = mutable.LinkedHashMap.empty[String, Double]
  private val layer = mutable.LinkedHashMap.empty[String, Double]

  private var firstTimedMs = -1L

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - o.t0Ms) / 1000.0}%7.2f s  $msg")

  /** Count an operation of `kind`; an exception is a failure, logged. */
  private def attempt[T](kind: String)(body: => T): Option[T] = {
    attempted(kind) += 1
    try Some(body)
    catch { case NonFatal(e) =>
      failed(kind) += 1
      System.err.println(s"[perfbench] $kind failed: ${e.getClass.getSimpleName}: " +
        String.valueOf(e.getMessage).takeWhile(_ != '\n').take(300))
      None
    }
  }

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted("check") += 1
    if (!ok) {
      failed("check") += 1
      System.err.println(s"[perfbench] check failed: $name $detail")
    }
    checks += ((name, ok, if (ok) "" else detail))
  }

  /** Runs `unit(0)`, `unit(1)`, ... as whole units: three at least, and
    * another only while it is expected, at the median unit's wall time so
    * far, to end within the run's seconds. The first unit after the
    * warm-up is still slower while the JIT warms, and the median of three
    * or more sets it aside. A traced run traces the odd units, so that the
    * untraced units on both sides of a traced one cancel that warming
    * from the overhead estimate. */
  private def repeat(unit: Int => Unit): Unit = {
    val start = System.nanoTime()
    val walls = mutable.ArrayBuffer.empty[Double]
    while (walls.size < 3 ||
        secondsSince(start) + Stats.median(walls.toSeq) <= o.seconds) {
      val t = System.nanoTime()
      unit(walls.size)
      walls += secondsSince(t)
    }
  }

  private def markFirstTimed(): Unit =
    if (firstTimedMs < 0) firstTimedMs = System.currentTimeMillis()

  def execute(): Unit = o.workload match {
    case "ingest_microbatch" => new IngestWorkload(microbatch = true).run()
    case "ingest_bulk" => new IngestWorkload(microbatch = false).run()
    case "catalog_mix" => catalogMix()
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  // ---------------------------------------------------------------- ingest

  private val tableNames = Seq("transfer", "request", "storage", "remove")

  /** The parquet files, bytes and partitions of a database's tables. */
  private def layout(db: String): Layout = {
    val root = new File(new java.net.URI(spark.catalog.getDatabase(db).locationUri))
    def parquet(d: File): Seq[File] = Option(d.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    val parts = tableNames.flatMap(t => Option(new File(root, t).listFiles()).toSeq.flatten)
      .filter(_.isDirectory).map(parquet).filter(_.nonEmpty)
    Layout(parts.map(_.size.toLong).sum, parts.flatten.map(_.length).sum, parts.size.toLong)
  }

  /** (table, day) -> (rows, fileSize sum) as stored. */
  private def storedTotals(db: String): Map[(String, Option[String]), (Long, Long)] =
    spark.sql(tableNames.map { t =>
      s"SELECT '$t' AS t, partition_date, count(*) AS n, CAST(sum(fileSize) AS BIGINT) AS s " +
        s"FROM $db.$t GROUP BY partition_date"
    }.mkString(" UNION ALL ")).collect().map { r =>
      (r.getString(0), Option(r.getString(1))) -> (r.getLong(2), r.getLong(3))
    }.toMap

  private def checkTotals(name: String, db: String, oracle: BillingOracle): Unit = {
    val bad = Run.mapDiff(storedTotals(db), oracle.byTableDay.map { case (k, a) => k -> (a(0), a(1)) }.toMap)
    check(name, bad.isEmpty, bad.getOrElse(""))
  }

  private def reports(db: String, sliceDay: String): Seq[Report] = Seq(
    Report("r1_daily_pool_bytes",
      s"SELECT partition_date, cellName, count(*) AS n, CAST(sum(transferSize) AS BIGINT) AS bytes " +
        s"FROM $db.transfer GROUP BY partition_date, cellName",
      (rows, or) => {
        Run.mapDiff(
          rows.map(r => (Option(r.getString(0)), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap,
          or.transferByDayPool.map { case (k, a) => k -> (a(0), a(1)) }.toMap)
      }),
    Report("r2_top_users",
      s"SELECT owner, count(*) AS n FROM $db.request GROUP BY owner ORDER BY n DESC, owner LIMIT 10",
      (rows, or) => {
        val got = rows.map(r => r.getString(0) -> r.getLong(1)).toSeq
        val want = or.requestByOwner.toSeq.sortBy { case (u, n) => (-n, u) }.take(10)
        Option.when(got != want)(s"got $got want $want")
      }),
    Report("r3_tape_queue_pctl",
      s"SELECT msgType, count(*) AS n, CAST(min(queuingTime) AS BIGINT), " +
        s"CAST(max(queuingTime) AS BIGINT), percentile(queuingTime, 0.9) " +
        s"FROM $db.storage GROUP BY msgType",
      (rows, or) => {
        val got = rows.map(r =>
          r.getString(0) -> (Seq(r.getLong(1), r.getLong(2), r.getLong(3)), r.getDouble(4))).toMap
        val want = or.storageByType.map { case (k, a) =>
          k -> (a.toSeq, or.queuingPercentile(k, 0.9)) }.toMap
        Option.when(got != want)(s"got $got want $want")
      }),
    Report("r4_remove_volume",
      s"SELECT partition_date, count(*) AS n, CAST(sum(fileSize) AS BIGINT) " +
        s"FROM $db.remove GROUP BY partition_date",
      (rows, or) => {
        Run.mapDiff(rows.map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap,
          or.byTableDay.collect { case (("remove", d), a) => d -> (a(0), a(1)) }.toMap)
      }),
    Report("r5_pnfsid_trace",
      s"SELECT count(*) FROM $db.transfer t JOIN $db.request r ON t.pnfsid = r.pnfsid",
      (rows, or) => {
        val want = or.transferPnfs.iterator.map { case (p, n) => n * or.requestPnfs.getOrElse(p, 0L) }.sum
        Option.when(rows.head.getLong(0) != want)(s"got ${rows.head.getLong(0)} want $want")
      }),
    Report("r6_day_slice",
      Seq("transfer", "request").map(t =>
        s"SELECT '$t', count(*), CAST(coalesce(sum(fileSize), 0) AS BIGINT) FROM $db.$t " +
          s"WHERE partition_date = '$sliceDay'").mkString(" UNION ALL "),
      (rows, or) => {
        val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        val want = Seq("transfer", "request").map(t =>
          t -> or.byTableDay.get((t, Some(sliceDay))).map(a => (a(0), a(1))).getOrElse((0L, 0L))).toMap
        Option.when(got != want)(s"got $got want $want")
      }))

  /**
   * One cycle = one cron window: set-up (generate the cycle's input files,
   * create its database), then the timed drain through
   * `BillingIngest.runBounded`, then compaction (ingest_microbatch, timed
   * as part of the cycle) or one round of the six billing reports
   * (ingest_bulk, timed as a step of its own, so that the cycle is the
   * drain), then the output checks. An untimed cycle warms up first;
   * timed cycles then repeat.
   */
  private final class IngestWorkload(microbatch: Boolean) {
    // ingest_microbatch: 3 files of 1,000 records of one "now" day, one file
    // per trigger; ingest_bulk: 4 files of 15,000 records, a day apart, all
    // four in one trigger
    private val files = if (microbatch) 3 else 4
    private val recordsPerFile = if (microbatch) 1000 else 15000
    private val filesPerTrigger = if (microbatch) 1 else files
    private val days = if (microbatch) 1 else files

    private val setups = mutable.ArrayBuffer.empty[Double]
    private val ddlSeconds = mutable.ArrayBuffer.empty[Double]
    private val cycleSeconds = mutable.ArrayBuffer.empty[(Double, Boolean)]
    private val drainSeconds = mutable.ArrayBuffer.empty[Double]
    private val routedRows = mutable.ArrayBuffer.empty[Long]
    private val batches = mutable.ArrayBuffer.empty[Map[String, Long]]
    private val compactSeconds = mutable.ArrayBuffer.empty[Double]
    private val reportMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    private val written = mutable.ArrayBuffer.empty[Layout]
    private val inputBytes = mutable.ArrayBuffer.empty[Long]
    private val compactLayouts = mutable.ArrayBuffer.empty[(Layout, Layout)]
    private val reportFiles = mutable.ArrayBuffer.empty[Long]
    private val probes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    private def probe(k: String, v: Double): Unit =
      probes.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

    def run(): Unit = {
      log("session ready")
      // an untimed, unchecked cycle of the same size first warms the JIT,
      // codegen and the streaming machinery
      cycle("warm", timed = false)
      repeat(c => cycle(s"c$c", timed = true, traced = o.trace && c % 2 == 1))
      tracer.setActive(false)
      summarize()
    }

    private def cycle(id: String, timed: Boolean, traced: Boolean = false): Unit = {
      tracer.setActive(traced)
      val setupStart = System.nanoTime()
      val gen = new BillingGen(o.seed * 1000003L + id.hashCode)
      val dir = o.work.resolve(s"input/$id").toFile
      dir.mkdirs()
      (0 until files).foreach(f =>
        gen.writeFile(new File(dir, f"part-$f%05d.json"), recordsPerFile, f * days / files))
      val or = gen.oracle
      val db = s"perfbench_$id"
      val tables = new BillingTables(spark, db)
      tables.createDatabase()
      val ddlStart = System.nanoTime()
      tracer.span("ddl.createAll")(tables.createAll())
      val setupS = secondsSince(setupStart)
      if (timed) {
        ddlSeconds += secondsSince(ddlStart)
        setups += setupS
        markFirstTimed()
      }

      // the cycle's time is the drain plus any compaction; the reports are
      // timed on their own, and the checks between them are not timed
      var drainS = 0.0
      val cycleS = tracer.span("cycle") {
        val mark = progress.mark
        val drainStart = System.nanoTime()
        val source = tracer.span("sources.load")(
          TextFileSource(dir.toString, maxFilesPerTrigger = Some(filesPerTrigger)).load(spark))
        val ingest = new BillingIngest(spark, source, db)
        val drained = attempt("drain")(tracer.span("ingest.runBounded")(
          ingest.runBounded(o.work.resolve(s"checkpoint/$id").toString)))
        drainS = secondsSince(drainStart)
        val nBatches = files / filesPerTrigger
        val (got, errors) = progress.since(mark)
        attempted("batch") += nBatches
        failed("batch") += math.max(errors, nBatches - got.size)
        log("  batches (ms): " + got.map(_.durations("triggerExecution")).mkString(" "))
        if (timed) {
          drainSeconds += drainS
          routedRows += or.routedRows
          batches ++= got.map(_.durations)
        }
        if (drained.isEmpty) drainS
        else {
          if (timed) checkTotals(s"$id.ingest_totals", db, or)
          val w = layout(db)
          if (timed) { written += w; inputBytes += or.inputBytes }
          if (microbatch) drainS + compact(id, db, or, timed)
          else { runReports(id, db, or, timed, BillingGen.day(days / 2)); drainS }
        }
      }
      log(f"cycle $id: set-up ${setupS}%.2f s, timed ${cycleS}%.2f s")
      if (timed) cycleSeconds += ((cycleS, traced))
      if (traced) {
        layerProbes(dir.toString, or)
        probe("ingest.parse_route_share",
          (probes("parse.busy_s").last + probes("route.busy_s").last) / drainS)
      }
    }

    /** Compacts every partition; returns its wall seconds. */
    private def compact(id: String, db: String, or: BillingOracle, timed: Boolean): Double = {
      val before = layout(db)
      val start = System.nanoTime()
      val code = attempt("compact")(tracer.span("cli.RunCompact.run")(RunCompact.run(spark,
        Map("database" -> db, "partition" -> "all",
          "lock-dir" -> o.work.resolve("lock").toString))))
      val s = secondsSince(start)
      attempted("cli_status") += 1
      if (!code.contains(0)) failed("cli_status") += 1
      val after = layout(db)
      if (timed) {
        compactSeconds += s
        compactLayouts += ((before, after))
        checkTotals(s"$id.compacted_totals", db, or)
        check(s"$id.compacted_one_file_per_partition",
          after.files == after.partitions && after.partitions == or.partitions,
          s"files=${after.files} partitions=${after.partitions} want ${or.partitions}")
      }
      s
    }

    /** One round of the six reports in a shuffled order, each checked. */
    private def runReports(id: String, db: String, or: BillingOracle, timed: Boolean,
        sliceDay: String): Unit = {
      val rs = new Random(o.seed * 31 + id.hashCode).shuffle(reports(db, sliceDay))
      rs.foreach { r =>
        val start = System.nanoTime()
        val df = spark.sql(r.sql)
        val rows = attempt("report")(tracer.span(s"reports.${r.name}")(df.collect()))
        val ms = secondsSince(start) * 1000
        if (tracer.active) reportFiles += ScanFiles(df)
        if (timed) {
          reportMs.getOrElseUpdate(r.name, mutable.ArrayBuffer.empty) += ms
          rows.foreach { got =>
            val bad = r.verify(got, or)
            check(s"$id.${r.name}", bad.isEmpty, bad.getOrElse(""))
          }
        }
        log(f"  ${r.name} ${ms}%.0f ms")
      }
    }

    /** Traced cycles only: the source, parse and route layers called one
      * by one over the cycle's input, forced with `noop` writes. */
    private def layerProbes(dir: String, or: BillingOracle): Unit = {
      val mark = progress.mark
      val readStart = System.nanoTime()
      tracer.span("sources.read") {
        TextFileSource(dir).load(spark).writeStream.format("noop")
          .option("checkpointLocation", o.work.resolve(s"checkpoint/probe-${System.nanoTime()}").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start().awaitTermination()
      }
      probe("sources.read_s", secondsSince(readStart))
      probe("sources.records", progress.since(mark)._1.map(_.numInputRows).sum.toDouble)
      probe("sources.input_bytes", or.inputBytes.toDouble)

      val parsed = tracer.span("parse.parse")(BillingParse.parse(spark.read.text(dir)))
      val parseStart = System.nanoTime()
      tracer.span("parse.busy")(parsed.write.format("noop").mode("overwrite").save())
      probe("parse.busy_s", secondsSince(parseStart))
      val cached = parsed.persist()
      val counts = cached.selectExpr("count(*)",
        "count_if(date IS NULL AND msgType IS NULL AND pnfsid IS NULL)",
        "count_if(date IS NULL AND msgType IS NOT NULL)").head()
      probe("parse.rows", counts.getLong(0).toDouble)
      probe("parse.malformed_rows", counts.getLong(1).toDouble)
      probe("parse.null_date_rows", counts.getLong(2).toDouble)
      check("parse_counts", counts.getLong(0) == or.records && counts.getLong(1) == or.malformed &&
        counts.getLong(2) == or.nullDate,
        s"got $counts want ${or.records}, ${or.malformed}, ${or.nullDate}")

      val routed = tracer.span("route.route")(BillingRouter.route(cached))
      val routeStart = System.nanoTime()
      tracer.span("route.busy")(routed.values.foreach(_.write.format("noop").mode("overwrite").save()))
      probe("route.busy_s", secondsSince(routeStart))
      val perTable = routed.map { case (t, df) => t -> df.count() }
      tableNames.foreach(t => probe(s"route.rows.$t", perTable(t).toDouble))
      val routedN = perTable.values.sum
      probe("route.unrouted_rows", (or.records - routedN).toDouble)
      probe("route.routed_ratio", routedN.toDouble / or.records)
      check("route_counts", tableNames.forall(t => perTable(t) == or.routedRows(t)),
        s"got $perTable")
      cached.unpersist()
    }

    private def summarize(): Unit = {
      val trig = batches.map(_("triggerExecution").toDouble).toSeq
      setup(Stats.median(setups.toSeq), setups.head)
      e2e("cycle_s") = Stats.median(cycleSeconds.map(_._1).toSeq)
      // two step kinds: the micro-batch, and compaction or a report round,
      // taken as the sum of the six reports' medians
      val roundMs = reportMs.values.map(v => Stats.median(v.toSeq)).sum
      val other = if (microbatch) Stats.median(compactSeconds.map(_ * 1000).toSeq) else roundMs
      e2e("step_geomean_ms") = Stats.geomean(Seq(Stats.median(trig), other))

      layer("ddl.create_s") = Stats.median(ddlSeconds.toSeq)
      layer("ingest.rows_per_s") = routedRows.sum / drainSeconds.sum
      layer("ingest.batches") = attempted("batch").toDouble
      layer("ingest.failed_batches") = failed("batch").toDouble
      layer("ingest.batch_p50_ms") = Stats.median(trig)
      layer("ingest.batch_samples") = trig.size.toDouble
      Seq("addBatch", "walCommit", "commitOffsets", "queryPlanning", "getBatch", "latestOffset")
        .foreach(k => layer(s"ingest.${k}_p50_ms") =
          Stats.median(batches.map(_.getOrElse(k, 0L).toDouble).toSeq))
      layer("ingest.files_written") = Stats.median(written.map(_.files.toDouble).toSeq)
      layer("ingest.bytes_written") = Stats.median(written.map(_.bytes.toDouble).toSeq)
      layer("ingest.stored_bytes_per_input_byte") =
        written.map(_.bytes).sum.toDouble / inputBytes.sum
      if (microbatch) {
        layer("compact.wall_s") = Stats.median(compactSeconds.toSeq)
        layer("compact.partitions") = Stats.median(compactLayouts.map(_._2.partitions.toDouble).toSeq)
        layer("compact.files_before") = Stats.median(compactLayouts.map(_._1.files.toDouble).toSeq)
        layer("compact.files_after") = Stats.median(compactLayouts.map(_._2.files.toDouble).toSeq)
        layer("cli.runs_failed") = failed("cli_status").toDouble
      } else {
        val all = reportMs.values.flatten.toSeq
        layer("reports.p50_ms") = Stats.median(all)
        layer("reports.samples") = all.size.toDouble
        layer("reports.round_ms") = roundMs
        reportMs.foreach { case (r, v) => layer(s"reports.$r.p50_ms") = Stats.median(v.toSeq) }
      }
      if (tracer.enabled) {
        probes.foreach { case (k, v) => layer(k) = Stats.median(v.toSeq) }
        val runs = tracer.named("ingest.runBounded")
        val nBatches = runs.size.toDouble * files / filesPerTrigger
        layer("ingest.jobs_per_batch") = runs.map(_.delta("jobs")).sum / nBatches
        layer("ingest.tasks_per_batch") = runs.map(_.delta("tasks")).sum / nBatches
        layer("ingest.shuffle_write_bytes") = runs.map(_.delta("shuffle_write_bytes")).sum.toDouble / runs.size
        if (microbatch) {
          val cs = tracer.named("cli.RunCompact.run")
          layer("compact.busy_s") = Stats.median(cs.map(_.seconds))
          layer("compact.bytes_rewritten") = Stats.median(cs.map(_.delta("output_bytes").toDouble))
          layer("compact.jobs") = Stats.median(cs.map(_.delta("jobs").toDouble))
        } else {
          val rs = tracer.spans.filter(_.name.startsWith("reports.")).toSeq
          layer("reports.files_read") = reportFiles.sum.toDouble / tracer.named("cycle").size
          layer("reports.bytes_read") = rs.map(_.delta("input_bytes")).sum.toDouble / tracer.named("cycle").size
        }
        traceSummary(cycleSeconds.toSeq)
      }
    }
  }

  private def setup(median: Double, first: Double): Unit = {
    // process start to the first timed operation, with the repeated
    // per-cycle set-up counted at its median instead of its first value
    e2e("setup_s") = (firstTimedMs - o.t0Ms) / 1000.0 - first + median
  }

  /** Engine totals over the traced cycles, and the tracing overhead:
    * traced against untraced cycle (or pass) time. */
  private def traceSummary(cycles: Seq[(Double, Boolean)]): Unit = {
    val roots = tracer.spans.filter(s => s.parent == -1 && (s.name == "cycle" || s.name == "pass")).toSeq
    layer("spark.gc_s") = roots.map(_.delta("gc_ms")).sum / 1000.0
    layer("spark.task_cpu_s") = roots.map(_.delta("cpu_ns")).sum / 1e9
    layer("spark.spill_bytes") = roots.map(_.delta("spill_bytes")).sum.toDouble
    val (on, off) = cycles.partition(_._2)
    layer("trace.overhead_share") = Stats.median(on.map(_._1)) / Stats.median(off.map(_._1)) - 1
  }

  // --------------------------------------------------------------- catalog

  private val catalogQueries = Seq(
    "q01_pricing_summary", "q54_stream_upsert", "d02_minhash_lsh", "d07_dup_clusters",
    "s01_cosine_topk", "t06_tfidf_top_terms")

  /**
   * The registered queries over the catalog tables, one client in a closed
   * loop. The first pass is untimed: it dumps every result for the DuckDB
   * compare and absorbs the once-per-JVM index builds. Timed passes then
   * repeat as `repeat` sets out, each in its own seed-shuffled order.
   */
  private def catalogMix(): Unit = {
    val missing = catalogQueries.filterNot(q =>
      SparkEntry.queries.contains(q) && SparkEntry.oracleSql.contains(q))
    check("catalog_registered", missing.isEmpty, s"missing: ${missing.mkString(",")}")
    val qs = catalogQueries.filterNot(missing.contains)
    val dump = o.work.resolve("dump")
    new Random(o.seed).shuffle(qs).foreach { q =>
      log(s"  warm-up $q")
      attempt("query")(SparkEntry.queries(q)(spark, o.catalog).coalesce(1)
        .write.mode("overwrite").parquet(dump.resolve(q).toString))
    }
    Files.write(dump.resolve("oracle_sql.json"), qs.map(q =>
      Json.str(q) + ":" + Json.str(SparkEntry.oracleSql(q))).mkString("{", ",", "}")
      .getBytes(StandardCharsets.UTF_8))

    log("warm-up pass done")
    markFirstTimed()
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passes = mutable.ArrayBuffer.empty[(Double, Boolean)]
    repeat { p =>
      val traced = o.trace && p % 2 == 1
      tracer.setActive(traced)
      val passStart = System.nanoTime()
      tracer.span("pass") {
        new Random(o.seed * 31 + p + 1).shuffle(qs).foreach { q =>
          val start = System.nanoTime()
          attempt("query")(tracer.span(s"analytics.$q")(SparkEntry.queries(q)(spark, o.catalog)
            .write.format("noop").mode("overwrite").save()))
          perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += secondsSince(start) * 1000
          log(f"  $q ${perQuery(q).last}%.0f ms")
        }
      }
      passes += ((secondsSince(passStart), traced))
      log(f"pass $p: ${passes.last._1}%.2f s")
    }
    tracer.setActive(false)

    e2e("setup_s") = (firstTimedMs - o.t0Ms) / 1000.0
    e2e("cycle_s") = Stats.median(passes.map(_._1).toSeq)
    e2e("step_geomean_ms") = Stats.geomean(perQuery.values.map(v => Stats.median(v.toSeq)).toSeq)
    layer("analytics.pass_s") = e2e("cycle_s")
    layer("analytics.geomean_ms") = e2e("step_geomean_ms")
    perQuery.foreach { case (q, v) => layer(s"analytics.$q.p50_ms") = Stats.median(v.toSeq) }
    if (tracer.enabled) {
      qs.foreach { q =>
        val spans = tracer.named(s"analytics.$q")
        layer(s"analytics.$q.tasks") = Stats.median(spans.map(_.delta("tasks").toDouble))
        layer(s"analytics.$q.shuffle_bytes") = Stats.median(spans.map(_.delta("shuffle_write_bytes").toDouble))
      }
      traceSummary(passes.toSeq)
    }
  }

  // ---------------------------------------------------------------- output

  def resultJson: String = {
    def nums(m: collection.Map[String, Double]) =
      m.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
    def longs(m: collection.Map[String, Long]) =
      m.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
    val failedChecks = checks.filterNot(_._2).map(c => Json.str(s"${c._1}: ${c._3}"))
    s"""{"workload":${Json.str(o.workload)},"attempted":${longs(attempted)},""" +
      s""""failed":${longs(failed)},"checks":${checks.size},""" +
      s""""failed_checks":${failedChecks.mkString("[", ",", "]")},""" +
      s""""end_to_end":${nums(e2e)},"per_layer":${nums(layer)}}"""
  }
}

object Run {
  /** The first keys at which two maps differ, with both values; None if equal. */
  def mapDiff[K, V](got: Map[K, V], want: Map[K, V]): Option[String] = {
    val keys = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
    Option.when(keys.nonEmpty)(
      keys.take(3).map(k => s"$k got=${got.get(k)} want=${want.get(k)}").mkString("; "))
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
}
