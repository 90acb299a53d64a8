package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded generator of price-paid files in the reference's format
  * (headerless, every field quoted, 16 columns ending in `record_op`)
  * together with the closed-form bookkeeping the output checks compare
  * against. The program under test only ever sees the written files;
  * every expectation here is plain Scala over the generator's own model,
  * independent of Spark and of the read path being measured.
  *
  * Values are generated already normalized (upper-case, trimmed, midnight
  * times), so the model's "identical row" test agrees with the engine's
  * null-safe comparison on the parsed columns.
  */
object PpGen {
  /** A row's value columns in `Pipeline.compareCols` order: price, then the
    * 13 string columns from transaction_date to ppd_cat. */
  final case class Row(key: String, price: Long, date: LocalDate, rest: Vector[String]) {
    def csv(op: String): String = {
      val fields = Seq(key, price.toString, s"$date 00:00") ++ rest :+ op
      fields.map(f => "\"" + f + "\"").mkString(",")
    }
  }

  /** Transaction dates span the last `historyYears` years up to this day:
    * one month partition per month of history. */
  val lastDay: LocalDate = LocalDate.of(2025, 12, 31)
  val historyYears = 4
  val propertyTypes: Vector[String] = Vector("D", "S", "T", "F", "O")
  private val streets = Vector("HIGH STREET", "STATION ROAD", "CHURCH LANE", "MILL LANE",
    "VICTORIA ROAD", "GREEN LANE", "PARK AVENUE", "MANOR WAY", "THE CRESCENT", "KINGS ROAD")
  private val towns = Vector(("LONDON", "CITY OF WESTMINSTER", "GREATER LONDON"),
    ("MANCHESTER", "MANCHESTER", "GREATER MANCHESTER"), ("LEEDS", "LEEDS", "WEST YORKSHIRE"),
    ("BRISTOL", "CITY OF BRISTOL", "CITY OF BRISTOL"), ("YORK", "YORK", "YORK"),
    ("CARDIFF", "CARDIFF", "CARDIFF"), ("NORWICH", "NORWICH", "NORFOLK"),
    ("EXETER", "EXETER", "DEVON"), ("LINCOLN", "LINCOLN", "LINCOLNSHIRE"),
    ("DURHAM", "COUNTY DURHAM", "COUNTY DURHAM"))
  private val localities = Vector("", "", "", "NEWTOWN", "OLD TOWN", "WESTFIELD")

  /** Keys look like the reference's braced GUIDs; the low 48 bits carry a
    * serial so keys never collide. */
  def key(rnd: SplittableRandom, serial: Long): String =
    f"{${rnd.nextInt() & 0x7fffffff}%08X-${rnd.nextInt(65536)}%04X-${rnd.nextInt(65536)}%04X-" +
      f"${rnd.nextInt(65536)}%04X-$serial%012X}"

  def row(rnd: SplittableRandom, serial: Long, date: LocalDate): Row = {
    val (town, district, county) = towns(rnd.nextInt(towns.size))
    val pc = f"${('A' + rnd.nextInt(26)).toChar}${('A' + rnd.nextInt(26)).toChar}" +
      f"${rnd.nextInt(1, 30)} ${rnd.nextInt(10)}${('A' + rnd.nextInt(26)).toChar}" +
      f"${('A' + rnd.nextInt(26)).toChar}"
    val saon = if (rnd.nextInt(6) == 0) s"FLAT ${rnd.nextInt(1, 40)}" else ""
    Row(key(rnd, serial),
      math.round(math.exp(rnd.nextDouble(math.log(20000.0), math.log(3000000.0)))),
      date,
      Vector(pc, propertyTypes(rnd.nextInt(propertyTypes.size)),
        if (rnd.nextInt(10) == 0) "Y" else "N", if (rnd.nextInt(4) == 0) "L" else "F",
        rnd.nextInt(1, 300).toString, saon, streets(rnd.nextInt(streets.size)),
        localities(rnd.nextInt(localities.size)), town, district, county,
        if (rnd.nextInt(8) == 0) "B" else "A"))
  }

  def randomDay(rnd: SplittableRandom, years: Int = historyYears): LocalDate = {
    val first = lastDay.plusDays(1).minusYears(years)
    first.plusDays(rnd.nextLong(lastDay.toEpochDay - first.toEpochDay + 1))
  }

  def writeCsv(path: Path, lines: Iterator[String]): Long = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.size(path)
  }

  /** The store's state as the merge decision matrix sees it. */
  final class Model(base: Seq[Row]) {
    val rows: mutable.LinkedHashMap[String, Row] = mutable.LinkedHashMap(base.map(r => r.key -> r): _*)
    val deleted: mutable.Set[String] = mutable.Set.empty
    def live: Iterator[Row] = rows.valuesIterator.filterNot(r => deleted(r.key))
  }

  /** One change row, its op, and the outcome the decision matrix must
    * assign it. */
  final case class Change(row: Row, op: String, outcome: String)

  /** Outcome of an op against the model, mirroring `CdcMerge.merge`. */
  def outcomeOf(m: Model, r: Row, op: String): String = {
    val base = m.rows.get(r.key)
    val identical = base.exists(b => b.price == r.price && b.date == r.date && b.rest == r.rest)
    (base.isDefined, m.deleted(r.key), op) match {
      case (false, _, "A") => "add_and_added"
      case (false, _, "C") => "change_but_missing_and_added"
      case (false, _, "D") => "delete_but_missing_and_ignored"
      case (false, _, _) => "invalid_op_missing_and_ignored"
      case (true, true, "A") => "add_but_deleted_and_changed"
      case (true, true, "C") => "change_but_deleted_and_ignored"
      case (true, true, "D") => "delete_but_deleted_and_ignored"
      case (true, false, "A") => if (identical) "add_but_already_identical_and_ignored" else "add_but_changed"
      case (true, false, "C") => if (identical) "change_but_already_identical_and_ignored" else "change_and_changed"
      case (true, false, "D") => if (identical) "delete_and_deleted" else "delete_but_not_identical_and_changed_and_deleted"
      case (true, _, _) => "invalid_op_ignored"
    }
  }

  private val takesNew = Set("add_and_added", "change_but_missing_and_added",
    "add_but_deleted_and_changed", "add_but_changed", "change_and_changed",
    "delete_but_not_identical_and_changed_and_deleted")
  private val endsDeleted = Set("delete_and_deleted", "delete_but_not_identical_and_changed_and_deleted")
  private val dropped = Set("delete_but_missing_and_ignored", "invalid_op_missing_and_ignored")

  /** Apply one file of changes (unique keys) to the model; returns the
    * outcome counts `CdcMerge.stats` must report, untouched rows included. */
  def applyToModel(m: Model, changes: Seq[Change]): Map[String, Long] = {
    val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val touched = changes.map(_.row.key).toSet
    m.rows.keysIterator.filterNot(touched).foreach { k =>
      counts(if (m.deleted(k)) "unchanged_deleted" else "unchanged") += 1
    }
    changes.foreach { c =>
      require(outcomeOf(m, c.row, c.op) == c.outcome, s"planted ${c.outcome} for ${c.row.key}")
      counts(c.outcome) += 1
    }
    changes.foreach { c =>
      val k = c.row.key
      if (!dropped(c.outcome)) {
        if (takesNew(c.outcome)) m.rows(k) = c.row
        if (endsDeleted(c.outcome)) m.deleted += k
        else if (c.outcome == "add_but_deleted_and_changed") m.deleted -= k
      }
    }
    counts.toMap
  }

  def changedCopy(rnd: SplittableRandom, r: Row): Row =
    r.copy(price = r.price + 1 + rnd.nextInt(5000))

  /** A monthly update file of about `size` rows against the model's
    * current state, planting every branch of the decision matrix: adds
    * date into the last two months; changes and deletes fall wherever
    * the touched rows live, so they spread across the whole history. */
  def monthlyChanges(rnd: SplittableRandom, m: Model, size: Int, nextSerial: () => Long): Seq[Change] = {
    val liveKeys = m.live.map(_.key).toVector
    val deletedKeys = m.deleted.toVector.sorted
    val used = mutable.Set.empty[String]
    def pick(pool: Vector[String]): Option[Row] = {
      var tries = 0
      while (tries < 64 && pool.nonEmpty) {
        val k = pool(rnd.nextInt(pool.size))
        if (used.add(k)) return Some(m.rows(k))
        tries += 1
      }
      None
    }
    def freshRow(): Row = {
      val d = lastDay.minusDays(rnd.nextLong(61))
      row(rnd, nextSerial(), d)
    }
    val out = Seq.newBuilder[Change]
    def plant(n: Int)(mk: => Option[Change]): Unit = (0 until n).foreach(_ => mk.foreach(out += _))
    val unit = math.max(1, size / 100)
    // the bulk: adds, value changes and deletes of live rows
    plant(unit * 30)(Some(Change(freshRow(), "A", "add_and_added")))
    plant(unit * 40)(pick(liveKeys).map(r => Change(changedCopy(rnd, r), "C", "change_and_changed")))
    plant(unit * 15)(pick(liveKeys).map(r => Change(r, "D", "delete_and_deleted")))
    // every other branch of the matrix, a few rows each
    plant(unit * 2)(Some(Change(freshRow(), "C", "change_but_missing_and_added")))
    plant(unit)(Some(Change(freshRow(), "D", "delete_but_missing_and_ignored")))
    plant(unit)(Some(Change(freshRow(), "X", "invalid_op_missing_and_ignored")))
    plant(unit)(pick(liveKeys).map(r => Change(r, "A", "add_but_already_identical_and_ignored")))
    plant(unit * 2)(pick(liveKeys).map(r => Change(changedCopy(rnd, r), "A", "add_but_changed")))
    plant(unit)(pick(liveKeys).map(r => Change(r, "C", "change_but_already_identical_and_ignored")))
    plant(unit)(pick(liveKeys).map(r =>
      Change(changedCopy(rnd, r), "D", "delete_but_not_identical_and_changed_and_deleted")))
    plant(unit)(pick(liveKeys).map(r => Change(r, "X", "invalid_op_ignored")))
    plant(unit)(pick(deletedKeys).map(r => Change(changedCopy(rnd, r), "A", "add_but_deleted_and_changed")))
    plant(unit)(pick(deletedKeys).map(r => Change(changedCopy(rnd, r), "C", "change_but_deleted_and_ignored")))
    plant(unit)(pick(deletedKeys).map(r => Change(r, "D", "delete_but_deleted_and_ignored")))
    val all = out.result()
    // shuffle so the file's row order carries no op grouping
    val arr = all.toArray
    var i = arr.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = arr(i); arr(i) = arr(j); arr(j) = t; i -= 1 }
    arr.toSeq
  }

  /** The reconcile counts `Pipeline.verifyAndFix` must return when the
    * live store is compared with the original complete file. */
  def verifyCounts(m: Model, original: Seq[Row]): Map[String, Long] = {
    val orig = original.iterator.map(r => r.key -> r).toMap
    var both = 0L; var dbOnly = 0L
    m.live.foreach { r =>
      if (orig.get(r.key).contains(r)) both += 1 else dbOnly += 1
    }
    Map("n_both" -> both, "n_database_only" -> dbOnly, "n_file_only" -> (orig.size - both))
  }
}
