package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import scala.collection.mutable

/** What the generator wrote, tallied in plain Scala as it writes: the
  * ingest correctness oracle. A day of `None` is a record without `date`,
  * which the router sends to the table's NULL (default) partition. */
final class BillingOracle {
  /** (table, day) -> Array(rows, fileSize sum). */
  val byTableDay = mutable.HashMap.empty[(String, Option[String]), Array[Long]]
  /** (day, cellName) -> Array(rows, transferSize sum) over `transfer`. */
  val transferByDayPool = mutable.HashMap.empty[(Option[String], String), Array[Long]]
  /** owner -> rows in `request`. */
  val requestByOwner = mutable.HashMap.empty[String, Long]
  /** store/restore -> Array(rows, min queuingTime, max queuingTime). */
  val storageByType = mutable.HashMap.empty[String, Array[Long]]
  /** store/restore -> rows by queuingTime, which is below 1000. */
  val storageQueuing = mutable.HashMap.empty[String, Array[Long]]
  /** pnfsid -> rows, in `transfer` and in `request`. */
  val transferPnfs = mutable.HashMap.empty[String, Long]
  val requestPnfs = mutable.HashMap.empty[String, Long]
  var records = 0L
  var malformed = 0L
  var unknownType = 0L
  var nullDate = 0L
  var inputBytes = 0L

  def routedRows(table: String): Long =
    byTableDay.iterator.collect { case ((t, _), a) if t == table => a(0) }.sum
  def routedRows: Long = byTableDay.valuesIterator.map(_(0)).sum
  def partitions: Int = byTableDay.size

  /** Spark's exact `percentile(queuingTime, p)` over a storage kind's
    * rows: the value at rank p * (n - 1), interpolated linearly between
    * the two closest ranks, by the same expression Spark evaluates. */
  def queuingPercentile(kind: String, p: Double): Double = {
    val hist = storageQueuing(kind)
    val pos = (hist.sum - 1) * p
    val (lo, hi) = (math.floor(pos).toLong, math.ceil(pos).toLong)
    // the value at 0-based rank r: the first whose cumulative count exceeds r
    def at(r: Long): Double = hist.scanLeft(0L)(_ + _).tail.indexWhere(_ > r).toDouble
    if (lo == hi || at(lo) == at(hi)) at(lo)
    else (hi - pos) * at(lo) + (pos - lo) * at(hi)
  }

  private[perfbench] def add(table: String, day: Option[String], fileSize: Long): Unit = {
    val a = byTableDay.getOrElseUpdate((table, day), Array(0L, 0L))
    a(0) += 1; a(1) += fileSize
  }
}

/**
 * Seeded dCache billing-record generator, independent of the program's
 * own benchmark generators. Traffic dimensions:
 *   - msgType mix: about 45% transfer, 35% request, 8% store, 4% restore
 *     and 8% remove;
 *   - arrival skew: a file's records carry its "now" day 90% of the time
 *     and arrive 1 to 3 days late otherwise, so each batch has a hot day;
 *   - bad rows: about 1% malformed JSON, 0.5% unknown msgType and 0.2%
 *     without `date`;
 *   - keys: Zipf-distributed users, and about 15% of pnfsids repeat.
 *
 * Every numeric field that the checks sum is an integer below 2^24, so it
 * is exact after the parse's FLOAT cast and sums exactly in a double.
 */
final class BillingGen(seed: Long) {
  private val rnd = new SplittableRandom(seed)
  val oracle = new BillingOracle

  private val users = 2000
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(users)(k => 1.0 / math.pow(k + 1, 1.1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  private def user(): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, users - 1)
  }

  private val recentPnfs = new Array[String](4096)
  private var pnfsCount = 0L
  private def pnfsid(): String =
    if (pnfsCount > 0 && rnd.nextInt(100) < 15)
      recentPnfs(rnd.nextInt(math.min(pnfsCount, recentPnfs.length.toLong).toInt))
    else {
      val id = f"0000${seed & 0xffff}%04X${pnfsCount}%016X"
      recentPnfs((pnfsCount % recentPnfs.length).toInt) = id
      pnfsCount += 1
      id
    }

  private def pad2(i: Int): String = if (i < 10) "0" + i else i.toString
  private def pad3(i: Int): String = if (i < 10) "00" + i else if (i < 100) "0" + i else i.toString

  /** Write `n` records to `file`, all of whose "now" day is `nowDay`
    * (days after 2024-03-01). Returns the bytes written. */
  def writeFile(file: File, n: Int, nowDay: Int): Long = {
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
    var bytes = 0L
    try {
      var i = 0
      while (i < n) {
        val line = record(nowDay)
        out.write(line); out.write('\n')
        bytes += line.length + 1 // records are ASCII
        i += 1
      }
    } finally out.close()
    oracle.records += n
    oracle.inputBytes += bytes
    bytes
  }

  private def record(nowDay: Int): String = {
    val late = rnd.nextInt(100) < 10
    val day = BillingGen.day(if (late) nowDay - 1 - rnd.nextInt(3) else nowDay)
    val date = s"$day ${pad2(rnd.nextInt(24))}:${pad2(rnd.nextInt(60))}:" +
      s"${pad2(rnd.nextInt(60))}.${pad3(rnd.nextInt(1000))}"
    val bad = rnd.nextInt(1000)
    if (bad < 10) {
      // unquoted field names: the JSON parser rejects the record at its
      // first token, so the parse yields an all-NULL row
      oracle.malformed += 1
      return s"""{date:"$date",msgType:transfer,pnfsid:${pnfsid()}"""
    }
    val u = user()
    val pool = s"pool_${rnd.nextInt(24)}"
    val fileSize = rnd.nextInt(1 << 24).toLong
    val q = rnd.nextInt(1000)
    val pnfs = pnfsid()
    val session = s"door:${u}@${rnd.nextInt(1 << 20)}"
    if (bad < 15) {
      oracle.unknownType += 1
      return s"""{"date":"$date","msgType":"mirror","cellName":"$pool","session":"$session","fileSize":$fileSize,"pnfsid":"$pnfs"}"""
    }
    val dateField = if (bad < 17) { oracle.nullDate += 1; "" } else s""""date":"$date","""
    val dayKey = if (dateField.isEmpty) None else Some(day)
    val m = rnd.nextInt(100)
    if (m < 45) {
      val size = rnd.nextInt(1 << 24).toLong
      oracle.add("transfer", dayKey, fileSize)
      val a = oracle.transferByDayPool.getOrElseUpdate((dayKey, pool), Array(0L, 0L))
      a(0) += 1; a(1) += size
      oracle.transferPnfs(pnfs) = oracle.transferPnfs.getOrElse(pnfs, 0L) + 1
      val write = rnd.nextBoolean()
      s"""{$dateField"msgType":"transfer","cellName":"$pool","session":"$session","subject":"dn=u$u","initiator":"door_${rnd.nextInt(4)}","transferPath":"/data/u$u/f${rnd.nextInt(1 << 30)}","queuingTime":$q,"cellDomain":"dom_${rnd.nextInt(6)}","isP2p":${rnd.nextInt(10) == 0},"transferTime":${rnd.nextInt(100000)}.5,"storageInfo":"atlas:disk@osm","transferSize":$size,"localEndpoint":"ep${rnd.nextInt(9)}","protocolInfo":{"protocol":"${if (rnd.nextBoolean()) "xrootd" else "dcap"}","port":${20000 + rnd.nextInt(5000)},"host":"h${rnd.nextInt(500)}.example.org"},"cellType":"pool","fileSize":$fileSize,"pnfsid":"$pnfs","billingPath":"/billing/f${rnd.nextInt(1 << 30)}","isWrite":"${if (write) "write" else "read"}","status":{"msg":"${if (write) "stored" else "sent"}","code":0}}"""
    } else if (m < 80) {
      val owner = s"u$u"
      oracle.add("request", dayKey, fileSize)
      oracle.requestByOwner(owner) = oracle.requestByOwner.getOrElse(owner, 0L) + 1
      oracle.requestPnfs(pnfs) = oracle.requestPnfs.getOrElse(pnfs, 0L) + 1
      s"""{$dateField"msgType":"request","owner":"$owner","clientChain":"10.1.${rnd.nextInt(256)}.${rnd.nextInt(256)}","mappedGID":${1000 + u % 50},"cellName":"door_${rnd.nextInt(4)}","session":"$session","subject":"dn=$owner","transferPath":"/data/$owner/f${rnd.nextInt(1 << 30)}","sessionDuration":${rnd.nextInt(600)},"storageInfo":"atlas:disk@osm","cellType":"door","fileSize":$fileSize,"mappedUID":${500 + u},"queuingTime":$q,"cellDomain":"dom_${rnd.nextInt(6)}","client":"10.0.${rnd.nextInt(256)}.${rnd.nextInt(256)}","pnfsid":"$pnfs","billingPath":"/billing/f${rnd.nextInt(1 << 30)}","status":{"msg":"done","code":0}}"""
    } else if (m < 92) {
      val kind = if (m < 88) "store" else "restore"
      oracle.add("storage", dayKey, fileSize)
      val a = oracle.storageByType.getOrElseUpdate(kind, Array(0L, Long.MaxValue, Long.MinValue))
      a(0) += 1; a(1) = math.min(a(1), q.toLong); a(2) = math.max(a(2), q.toLong)
      oracle.storageQueuing.getOrElseUpdate(kind, new Array[Long](1000))(q) += 1
      s"""{$dateField"msgType":"$kind","transferTime":${rnd.nextInt(10000)}.25,"cellName":"$pool","session":"$session","storageInfo":"atlas:tape@osm","cellType":"pool","fileSize":$fileSize,"queuingTime":$q,"cellDomain":"dom_${rnd.nextInt(6)}","locations":"osm://tape/${rnd.nextInt(64)}","pnfsid":"$pnfs","transaction":"t${rnd.nextInt(1 << 30)}","billingPath":"/billing/f${rnd.nextInt(1 << 30)}","status":{"msg":"${if (kind == "store") "flushed" else "staged"}","code":0}}"""
    } else {
      val owner = s"u$u"
      oracle.add("remove", dayKey, fileSize)
      s"""{$dateField"msgType":"remove","owner":"$owner","clientChain":"c${rnd.nextInt(10)}","mappedGID":${2000 + u % 50},"cellName":"cleaner","session":"$session","subject":"dn=$owner","transferPath":"/data/$owner/f${rnd.nextInt(1 << 30)}","sessionDuration":${rnd.nextInt(10)},"cellType":"cleaner","fileSize":$fileSize,"mappedUID":${500 + u},"queuingTime":${rnd.nextInt(5)},"cellDomain":"dom_${rnd.nextInt(6)}","client":"10.0.${rnd.nextInt(256)}.${rnd.nextInt(256)}","pnfsid":"$pnfs","billingPath":"/billing/f${rnd.nextInt(1 << 30)}","transaction":"t${rnd.nextInt(1 << 30)}","status":{"msg":"removed","code":0}}"""
    }
  }
}

object BillingGen {
  private val epoch0 = java.time.LocalDate.of(2024, 3, 1).toEpochDay

  /** The date `d` days after 2024-03-01, as the partition value. */
  def day(d: Int): String = java.time.LocalDate.ofEpochDay(epoch0 + d).toString
}
