package perfbench

import java.time.LocalDate
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import graft.core.Schemas
import graft.sources.{ApiPageFetchError, ApiPageRequest, ApiSimulator, ApiTransport}
import org.apache.spark.sql.Row

/** One version of one source record: its key and the all-string
  * Socrata row. */
final case class Version(key: Int, values: Array[String]) {
  def id: String = values(0)
  def date: String = values(2)
  def updatedAt: String = values(SeededServer.UpdIdx)
}

/** The seeded "server": a base table of `TableRows` records, then
  * `Weeks` deltas of `DeltaRows` records each, split by the shares in
  * [[SeededServer$]] into
  *  - inserts: new keys, occurred in the week before publication;
  *  - updates: existing keys, same occurrence date, changed fields;
  *  - corrections: existing keys whose occurrence date moves to another
  *    year, so the key moves between `occ_year` partitions;
  *  - malformed: new keys whose occurrence timestamp does not parse,
  *    so they land in the NULL `occ_year` partition.
  * Base occurrence years are skewed toward recent years: year
  * `LastYear - k` has weight `RecentSkew^k`. Base `:updated_at` values
  * spread evenly over `EpochStart..FullLoadDate`; every delta row's
  * `:updated_at` falls in the 7 days that end on its load date.
  *
  * Queries filter server-side and then page, as Socrata does: the rows
  * whose CURRENT version (as of a week) has `:updated_at` in range,
  * ordered by (`:updated_at`, id), cut into pages. */
final class SeededServer(val seed: Long) {
  import SeededServer._

  private val years = (FirstYear to LastYear).toArray
  private val yearCdf: Array[Double] = {
    val w = years.map(y => math.pow(RecentSkew, (LastYear - y).toDouble))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def rng(parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, p) => (h ^ p) * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL))

  private def skewedYear(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    years(yearCdf.indexWhere(_ >= u) max 0)
  }

  private def timestamp(day: LocalDate, r: SplittableRandom): String =
    f"${day}T${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d.000"

  private def occurrence(year: Int, r: SplittableRandom): String =
    timestamp(LocalDate.of(year, 1 + r.nextInt(12), 1 + r.nextInt(28)), r)

  /** A record's field values, derived from (key, week) so any version
    * can be regenerated independently of the others. */
  private def record(key: Int, week: Int, date: String, updatedAt: String): Array[String] = {
    val r = rng(key.toLong, week.toLong, 7L)
    val primary = PrimaryTypes(r.nextInt(PrimaryTypes.length))
    Schemas.rawCrime.fieldNames.map {
      case "id"                   => f"B$key%08d"
      case "case_number"          => f"JH${500000 + key}%d"
      case "date"                 => date
      case "block"                => f"0${r.nextInt(100)}%02dXX W ${Streets(r.nextInt(Streets.length))}"
      case "iucr"                 => f"${r.nextInt(2000)}%04d"
      case "primary_type"         => primary
      case "description"          => s"$primary DESC ${r.nextInt(9)}"
      case "location_description" => Places(r.nextInt(Places.length))
      case "arrest"               => (r.nextInt(4) == 0).toString
      case "domestic"             => (r.nextInt(6) == 0).toString
      case "beat"                 => (111 + r.nextInt(2400)).toString
      case "district"             => (1 + r.nextInt(25)).toString
      case "ward"                 => (1 + r.nextInt(50)).toString
      case "community_area"       => (1 + r.nextInt(77)).toString
      case "fbi_code"             => f"${r.nextInt(26)}%02d"
      case "x_coordinate"         => (1100000 + r.nextInt(100000)).toString
      case "y_coordinate"         => (1800000 + r.nextInt(100000)).toString
      case "latitude"             => f"${41.64 + r.nextDouble() * 0.38}%.9f"
      case "longitude"            => f"${-87.93 + r.nextDouble() * 0.41}%.9f"
      case ":updated_at"          => updatedAt
      case _                      => null
    }
  }

  /** versions(w) = the records published in week w (0 = base table). */
  val versions: Array[Array[Version]] = {
    val out = Array.ofDim[Array[Version]](Weeks + 1)
    val epoch = LocalDate.parse(EpochStart)
    val epochDays = LocalDate.parse(FullLoadDate).toEpochDay - epoch.toEpochDay + 1
    // current occurrence date per key, to pick a DIFFERENT year for corrections
    val occ = mutable.ArrayBuffer.empty[String]
    // keys by occurrence year (entries go stale when a key moves; checked on use)
    val byYear = mutable.Map.empty[Int, mutable.ArrayBuffer[Int]]
    def track(k: Int, date: String): Unit = {
      if (k == occ.size) occ += date else occ(k) = date
      yearOf(date).foreach(y => byYear.getOrElseUpdate(y, mutable.ArrayBuffer.empty) += k)
    }
    out(0) = Array.tabulate(TableRows) { k =>
      val r = rng(k.toLong, 0L, 1L)
      val date = if (r.nextDouble() < MalformedShare) malformed(skewedYear(r), r) else occurrence(skewedYear(r), r)
      track(k, date)
      Version(k, record(k, 0, date, timestamp(epoch.plusDays(r.nextLong(epochDays)), r)))
    }
    var nextKey = TableRows
    for (w <- 1 to Weeks) {
      val r = rng(w.toLong, 2L)
      val end = LocalDate.parse(loadDate(w))
      def updatedAt() = timestamp(end.minusDays(r.nextInt(7).toLong), r)
      val nUpd = math.round(DeltaRows * UpdateShare).toInt
      val nCorr = math.round(DeltaRows * CorrectionShare).toInt
      val nMal = math.round(DeltaRows * MalformedShare).toInt
      val nIns = DeltaRows - nUpd - nCorr - nMal
      // distinct existing keys for the updates and corrections, drawn
      // with the same recent-year skew as the occurrence dates
      val picked = mutable.LinkedHashSet.empty[Int]
      while (picked.size < nUpd + nCorr) {
        val y = skewedYear(r)
        byYear.get(y).filter(_.nonEmpty).foreach { keys =>
          val k = keys(r.nextInt(keys.size))
          if (yearOf(occ(k)).contains(y)) picked += k
        }
      }
      val (upd, corr) = picked.toArray.splitAt(nUpd)
      val rows = mutable.ArrayBuffer.empty[Version]
      upd.foreach(k => rows += Version(k, record(k, w, occ(k), updatedAt())))
      corr.foreach { k =>
        val old = occ(k)
        var y = skewedYear(r)
        while (old.take(4) == y.toString) y = skewedYear(r)
        val date = occurrence(y, r)
        track(k, date)
        rows += Version(k, record(k, w, date, updatedAt()))
      }
      (0 until nIns + nMal).foreach { i =>
        val k = nextKey
        nextKey += 1
        val date =
          if (i < nIns) timestamp(end.minusDays(7L + r.nextInt(21)), r)
          else malformed(end.getYear, r)
        track(k, date)
        rows += Version(k, record(k, w, date, updatedAt()))
      }
      out(w) = rows.toArray
    }
    out
  }

  /** Latest version of every key as of `week`. */
  def state(week: Int): Array[Version] = {
    val latest = new java.util.HashMap[Int, Version]()
    (0 to week).foreach(w => versions(w).foreach(v => latest.put(v.key, v)))
    latest.values().toArray(new Array[Version](0)).sortBy(_.key)
  }

  private val queryCache = new ConcurrentHashMap[(Int, String), Array[Array[String]]]()

  /** The server-side filtered, ordered result the pages are cut from. */
  def query(week: Int, accepts: String => Boolean, rangeKey: String): Array[Array[String]] =
    queryCache.computeIfAbsent((week, rangeKey), _ =>
      state(week).iterator.filter(v => accepts(v.updatedAt))
        .toArray.sortBy(v => (v.updatedAt, v.id)).map(_.values))

  /** The base table's rows with `:updated_at` in one backfill window. */
  def window(startDate: String, endDate: String): Array[Array[String]] =
    query(0, upd => upd.take(10) >= startDate && upd.take(10) <= endDate, s"$startDate..$endDate")

  def page(rows: Array[Array[String]], page: Int, pageSize: Int): Array[Array[String]] =
    rows.slice(page * pageSize, (page + 1) * pageSize)
}

/** The source's shape. The sizes and shares are assumptions, not
  * measurements of the live dataset: they are set so that one cycle
  * fits a benchmark run, and perfbench/README.md gives the reasons. */
object SeededServer {
  val TableRows = 4000
  val DeltaRows = 300
  val Weeks = 3
  val BackfillPageSize = 500
  val ConnectorPageSize = 150
  val InsertShare = 0.55
  val UpdateShare = 0.30
  val CorrectionShare = 0.10
  val MalformedShare = 0.05
  val RecentSkew = 0.3
  val FirstYear = 2023
  val LastYear = 2025
  /** FULL walks EpochStart..FullLoadDate in month windows: three of them. */
  val EpochStart = "2025-10-01"
  val FullLoadDate = "2025-12-31"

  def loadDate(week: Int): String = LocalDate.parse(FullLoadDate).plusDays(7L * week).toString

  /** The shape as JSON, for the run's detail line. */
  def describe: String =
    s"""{"table_rows":$TableRows,"delta_rows":$DeltaRows,"weeks":$Weeks,""" +
      s""""backfill_page_size":$BackfillPageSize,"connector_page_size":$ConnectorPageSize,""" +
      s""""insert_share":$InsertShare,"update_share":$UpdateShare,"correction_share":$CorrectionShare,""" +
      s""""malformed_share":$MalformedShare,"recent_skew":$RecentSkew,"years":"$FirstYear..$LastYear",""" +
      s""""epoch_start":"$EpochStart","full_load_date":"$FullLoadDate"}"""

  val UpdIdx: Int = Schemas.rawCrime.fieldIndex(":updated_at")

  /** Occurrence year of a raw timestamp; None when it does not parse. */
  def yearOf(date: String): Option[Int] =
    scala.util.Try(java.time.LocalDateTime.parse(date).getYear).toOption
  private val PrimaryTypes = Array("THEFT", "BATTERY", "CRIMINAL DAMAGE", "ASSAULT", "DECEPTIVE PRACTICE",
    "OTHER OFFENSE", "MOTOR VEHICLE THEFT", "BURGLARY", "ROBBERY", "NARCOTICS")
  private val Streets = Array("MADISON ST", "HALSTED ST", "CICERO AVE", "ASHLAND AVE", "STATE ST", "79TH ST")
  private val Places = Array("STREET", "RESIDENCE", "APARTMENT", "SIDEWALK", "PARKING LOT", "RESTAURANT")

  /** Occurrence timestamps the source gets wrong: a day the month does
    * not have, so the transform maps them to NULL (the landing zone still
    * files them under their year and month). */
  private def malformed(year: Int, r: SplittableRandom): String =
    f"$year-${BadDays(r.nextInt(BadDays.length))}T${r.nextInt(24)}%02d:00:00.000"
  private val BadDays = Array("02-30", "04-31", "06-31", "09-31", "11-31")

  /** One server per seed, shared by the driver and the connector's
    * per-partition transports (one JVM in local mode). */
  private val servers = new ConcurrentHashMap[Long, SeededServer]()
  def apply(seed: Long): SeededServer = servers.computeIfAbsent(seed, s => new SeededServer(s))

  /** Source-side counters: rows served and time spent producing pages. */
  val rowsServed = new AtomicLong(0L)
  val fetchNanos = new AtomicLong(0L)
  val pageFailures = new AtomicLong(0L)

  def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally { fetchNanos.addAndGet(System.nanoTime() - t0); () }
  }

  /** A page leaving the server: timed and counted. */
  def timedPage[T](body: => Array[T]): Array[T] = {
    val out = timed(body)
    rowsServed.addAndGet(out.length.toLong)
    out
  }
}

/** The backfill source on the driver-side paged path (`Runner.run`):
  * serves the week-0 state filtered to the requested window and cut
  * into `BackfillPageSize` pages. Page `failPage` of window `failWindow`
  * throws once, so the run's checkpoint/resume path executes on every
  * backfill. It counts how often each (window, page) was served, so a
  * resume that fetches pages again shows in [[servedCheck]]. */
final class SeededPagedSource(server: SeededServer, val failWindow: String, val failPage: Int)
    extends ApiSimulator(totalRows = SeededServer.TableRows, pageSize = SeededServer.BackfillPageSize) {
  import SeededServer.BackfillPageSize
  private var failed = false
  private val served = mutable.Map.empty[(String, Int), Int].withDefaultValue(0)

  override def fetchPages(startDate: String, endDate: String, resumePage: Int): Iterator[(Int, Seq[Row])] = {
    val rows = SeededServer.timed(server.window(startDate, endDate))
    val nPages = (rows.length + BackfillPageSize - 1) / BackfillPageSize
    Iterator.range(resumePage, nPages).map { pg =>
      if (!failed && startDate == failWindow && pg == failPage) {
        failed = true
        SeededServer.pageFailures.incrementAndGet()
        throw ApiPageFetchError(pg, startDate)
      }
      served((startDate, pg)) += 1
      (pg, SeededServer.timedPage(server.page(rows, pg, BackfillPageSize)).toSeq
        .map(v => Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(v))))
    }
  }

  /** None when every page of every window was served exactly once and
    * the failing page did fail; otherwise what went wrong. */
  def servedCheck(windows: Seq[(String, String)]): Option[String] = {
    val want = windows.flatMap { case (s, e) =>
      val n = server.window(s, e).length
      (0 until (n + BackfillPageSize - 1) / BackfillPageSize).map(pg => (s, pg))
    }
    val wrong = want.filter(served(_) != 1) ++ served.keys.filterNot(want.toSet)
    if (!failed) Some(s"page $failPage of window $failWindow never failed")
    else if (wrong.nonEmpty)
      Some(s"pages not served exactly once: ${wrong.take(5).map { case (w, p) => s"$w#$p x${served(w -> p)}" }.mkString(", ")}")
    else None
  }
}

object SeededPagedSource {
  /** The backfill source for a cycle: the failing page is drawn from the
    * seed among the pages after the first of every window that has more
    * than one, so the pages before it have landed when it fails. */
  def apply(server: SeededServer, windows: Seq[(String, String)]): SeededPagedSource = {
    val r = new SplittableRandom(server.seed ^ 0x5DEECE66DL)
    val candidates = windows.flatMap { case (start, end) =>
      val pages = (server.window(start, end).length + SeededServer.BackfillPageSize - 1) / SeededServer.BackfillPageSize
      (1 until pages).map(pg => (start, pg))
    }
    require(candidates.nonEmpty, "no backfill window has more than one page")
    val (window, page) = candidates(r.nextInt(candidates.size))
    new SeededPagedSource(server, window, page)
  }
}

/** The increment source on the connector path (`Runner.runWithConnector`
  * with `transport` = this class): serves the state of the server for
  * the `seed` option as of the `asOfWeek` option, filtered by the pushed
  * `:updated_at` range and paged. Instantiated per partition by the
  * connector; option keys arrive lower-cased. */
final class SeededTransport extends ApiTransport {
  override def fetchPage(req: ApiPageRequest): Iterator[Array[String]] = {
    val server = SeededServer(req.options("seed").toLong)
    val week = req.options("asofweek").toInt
    SeededServer.timedPage {
      val rows = server.query(week, v => req.range.accepts(v), req.range.toString)
      server.page(rows, req.page, req.pageSize)
    }.iterator
  }
}
