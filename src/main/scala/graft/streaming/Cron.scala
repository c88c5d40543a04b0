package graft.streaming

import java.time.{LocalDate, LocalDateTime}
import java.time.temporal.ChronoUnit

/**
 * Quartz-style cron expressions for CRON_DRIVEN scheduling — a re-derivation
 * of the engine's parser/matcher (core-framework/src/utils/Cron.cpp:
 * parseCronField + Cron::calculateNextTrigger), field for field:
 * 6 or 7 fields (second minute hour day-of-month month day-of-week [year]),
 * `*`/`?`, ranges, lists, `start/increment`, month (JAN..) and weekday
 * (SUN..) names, and the Quartz specials `L`, `LW`, `L-n`, `nW`, `xL`,
 * `x#n`. Weekday numbers use the C encoding Sunday=0..Saturday=6 with 7
 * also accepted for Sunday.
 *
 * A CRON_DRIVEN flow runs through FlowStreaming.runCron, one drain per
 * cron instant; [[Cron.calculateNextTrigger]] gives it the exact local
 * instants to start those drains at — pure driver-side arithmetic, nothing
 * per-row.
 *
 * Deliberately preserved parser quirks (they are the engine's contract,
 * exercised by its own battery, CronTests.cpp): `*`/inc parses the start
 * as "0", which is INVALID for the 1-based day-of-month field; a range
 * whose ends are both present is checked lower<=upper in the weekday
 * C encoding, so `MON-SUN` is rejected while `SUN-MON` parses; and a
 * range token is recognized before an increment token, so `10-30/5`
 * fails to parse rather than meaning "every 5 in 10..30".
 */
final class BadCronExpression(msg: String)
    extends IllegalArgumentException(msg)

object Cron {

  /** One cron field position: bounds, spellings, extraction, and the
    * increment-difference rule (months/weekdays are circular like the
    * date-library subtraction the reference leans on). */
  sealed abstract class Kind(val name: String) {
    def parse(s: String): Int
    def extract(t: LocalDateTime): Int
    def incDiff(current: Int, start: Int): Int = current - start
  }

  private def intOpt(s: String): Option[Int] =
    if (s.nonEmpty && s.forall(_.isDigit) && s.length <= 9) Some(s.toInt)
    else None

  case object SecondK extends Kind("second") {
    def parse(s: String): Int = intOpt(s).filter(_ <= 59).getOrElse(
      throw new BadCronExpression(s"Invalid second $s"))
    def extract(t: LocalDateTime): Int = t.getSecond
  }
  case object MinuteK extends Kind("minute") {
    def parse(s: String): Int = intOpt(s).filter(_ <= 59).getOrElse(
      throw new BadCronExpression(s"Invalid minute $s"))
    def extract(t: LocalDateTime): Int = t.getMinute
  }
  case object HourK extends Kind("hour") {
    def parse(s: String): Int = intOpt(s).filter(_ <= 23).getOrElse(
      throw new BadCronExpression(s"Invalid hour $s"))
    def extract(t: LocalDateTime): Int = t.getHour
  }
  case object DayK extends Kind("day") {
    def parse(s: String): Int = intOpt(s).filter(d => d >= 1 && d <= 31)
      .getOrElse(throw new BadCronExpression(s"Invalid day $s"))
    def extract(t: LocalDateTime): Int = t.getDayOfMonth
  }
  case object MonthK extends Kind("month") {
    private val names = Seq("january", "february", "march", "april", "may",
      "june", "july", "august", "september", "october", "november", "december")
    def parse(s: String): Int = {
      val l = s.toLowerCase
      if (s.length > 2) {
        // %b: abbreviated or full month name, case-insensitive
        val idx = names.indexWhere(n => n == l || n.take(3) == l)
        if (idx >= 0) idx + 1
        else throw new BadCronExpression(s"Invalid month $s")
      } else intOpt(s).filter(m => m >= 1 && m <= 12).getOrElse(
        throw new BadCronExpression(s"Invalid month $s"))
    }
    def extract(t: LocalDateTime): Int = t.getMonthValue
    // date-library month subtraction is circular in [0, 11]
    override def incDiff(current: Int, start: Int): Int =
      ((current - start) % 12 + 12) % 12
  }
  case object DowK extends Kind("weekday") {
    private val names = Seq("sunday", "monday", "tuesday", "wednesday",
      "thursday", "friday", "saturday")
    /** C encoding: Sunday=0..Saturday=6; numeric 7 wraps to Sunday. */
    def parse(s: String): Int = {
      val l = s.toLowerCase
      if (s.length > 2) {
        val idx = names.indexWhere(n => n == l || n.take(3) == l)
        if (idx >= 0) idx
        else throw new BadCronExpression(s"Invalid weekday: $s")
      } else intOpt(s).filter(_ <= 7).map(_ % 7).getOrElse(
        throw new BadCronExpression(s"Invalid weekday: $s"))
    }
    def extract(t: LocalDateTime): Int = t.getDayOfWeek.getValue % 7
    // weekday subtraction is circular in [0, 6]
    override def incDiff(current: Int, start: Int): Int =
      ((current - start) % 7 + 7) % 7
  }
  case object YearK extends Kind("year") {
    def parse(s: String): Int = intOpt(s).filter(y => y >= 1970 && y <= 2999)
      .getOrElse(throw new BadCronExpression(s"Invalid year: $s"))
    def extract(t: LocalDateTime): Int = t.getYear
  }

  sealed trait CronField { def matches(t: LocalDateTime): Boolean }
  case object AllValues extends CronField {
    def matches(t: LocalDateTime): Boolean = true
  }
  case object NotChecked extends CronField {
    def matches(t: LocalDateTime): Boolean = true
  }
  final case class SingleValue(kind: Kind, value: Int) extends CronField {
    def matches(t: LocalDateTime): Boolean = kind.extract(t) == value
  }
  final case class RangeF(kind: Kind, lo: Int, hi: Int) extends CronField {
    if (lo > hi) throw new BadCronExpression(
      "lower bound must be smaller or equal to upper bound")
    def matches(t: LocalDateTime): Boolean = {
      val v = kind.extract(t); lo <= v && v <= hi
    }
  }
  final case class ListF(kind: Kind, values: Seq[Int]) extends CronField {
    def matches(t: LocalDateTime): Boolean = values.contains(kind.extract(t))
  }
  final case class IncrementF(kind: Kind, start: Int, inc: Int) extends CronField {
    def matches(t: LocalDateTime): Boolean =
      kind.incDiff(kind.extract(t), start) % inc == 0
  }
  /** `L` / `L-n` in the day field: n days before the last day of month. */
  final case class LastNthDayInMonth(offset: Int) extends CronField {
    if (offset > 30)
      throw new BadCronExpression("Offset from last day must be <= 30")
    def matches(t: LocalDateTime): Boolean = {
      val d = t.toLocalDate
      d == d.withDayOfMonth(d.lengthOfMonth).minusDays(offset.toLong)
    }
  }
  /** `LW`: the last weekday (Mon-Fri) of the month. */
  case object LastWeekDay extends CronField {
    def matches(t: LocalDateTime): Boolean = {
      val d = t.toLocalDate
      val lastDay = d.withDayOfMonth(d.lengthOfMonth)
      if (isWeekday(lastDay)) d == lastDay
      else d == lastOf(d, java.time.DayOfWeek.FRIDAY)
    }
  }
  /** `x#n`: the nth x-weekday of the month (no nth occurrence → no match). */
  final case class NthWeekday(wd: Int, n: Int) extends CronField {
    def matches(t: LocalDateTime): Boolean = {
      val d = t.toLocalDate
      val first = d.withDayOfMonth(1)
      val firstMatch = first.plusDays(
        ((wd - first.getDayOfWeek.getValue % 7) % 7 + 7) % 7)
      val target = firstMatch.plusWeeks(n.toLong - 1)
      target.getMonth == d.getMonth && d == target
    }
  }
  /** `xL`: the last x-weekday of the month. */
  final case class LastSpecificWeekday(wd: Int) extends CronField {
    def matches(t: LocalDateTime): Boolean = {
      val d = t.toLocalDate
      d == lastOf(d, java.time.DayOfWeek.of(if (wd == 0) 7 else wd))
    }
  }
  /** `nW`: the weekday closest to day n — same-day first, then -1, +1,
    * -2, +2, the first VALID weekday candidate deciding (Cron.cpp
    * ClosestWeekdayToTheNthDayOfTheMonth). */
  final case class ClosestWeekday(dayNum: Int) extends CronField {
    def matches(t: LocalDateTime): Boolean = {
      val d = t.toLocalDate
      Seq(0, -1, 1, -2, 2).iterator
        .map(diff => dayNum + diff)
        .find(n => n >= 1 && n <= d.lengthOfMonth &&
          isWeekday(d.withDayOfMonth(n)))
        .exists(n => d.getDayOfMonth == n)
    }
  }

  private def isWeekday(d: LocalDate): Boolean = {
    val dow = d.getDayOfWeek
    dow != java.time.DayOfWeek.SATURDAY && dow != java.time.DayOfWeek.SUNDAY
  }
  private def lastOf(d: LocalDate, dow: java.time.DayOfWeek): LocalDate = {
    val lastDay = d.withDayOfMonth(d.lengthOfMonth)
    lastDay.minusDays(((lastDay.getDayOfWeek.getValue - dow.getValue) % 7 + 7) % 7)
  }

  /** Token recognition in the reference's exact order: * ? L LW x#n a-b
    * xL a/b a,b nW value — order is behavior (see class doc quirks). */
  private def parseField(kind: Kind, s: String): CronField = {
    def bad(e: Throwable): Nothing = throw new BadCronExpression(
      s"Couldn't parse cron field: $s ${e.getMessage}")
    try {
      if (s == "*") return AllValues
      if (s == "?") return NotChecked
      if (s == "L") {
        if (kind == DayK) return LastNthDayInMonth(0)
        if (kind == DowK) return SingleValue(DowK, 6) // Saturday
        throw new BadCronExpression(
          "L can only be used in the Day of month/Day of week fields")
      }
      if (s == "LW") {
        if (kind != DayK) throw new BadCronExpression(
          "LW can only be used in the Day of month field")
        return LastWeekDay
      }
      if (s.contains('#')) {
        if (kind != DowK) throw new BadCronExpression(
          "# can only be used in the Day of week field")
        val parts = s.split("#", -1)
        if (parts.length != 2) throw new BadCronExpression(s"Invalid field $s")
        intOpt(parts(1)).filter(_ <= 255).foreach(n =>
          return NthWeekday(DowK.parse(parts(0)), n))
      }
      if (s.contains('-')) {
        val parts = s.split("-", -1)
        if (parts.length != 2) throw new BadCronExpression(s"Invalid field $s")
        if (parts(0) == "L" && kind == DayK) {
          val off = intOpt(parts(1)).getOrElse(
            throw new BadCronExpression(s"Invalid days ${parts(1)}"))
          return LastNthDayInMonth(off)
        }
        return RangeF(kind, kind.parse(parts(0)), kind.parse(parts(1)))
      }
      if (s.endsWith("L")) {
        if (kind != DowK) throw new BadCronExpression(
          "<X>L can only be used in the Day of week field")
        return LastSpecificWeekday(DowK.parse(s.dropRight(1)))
      }
      if (s.contains('/')) {
        val parts = s.split("/", -1)
        if (parts.length != 2) throw new BadCronExpression(s"Invalid field $s")
        val startStr = if (parts(0) == "*") "0" else parts(0)
        intOpt(parts(1)).foreach(inc =>
          return IncrementF(kind, kind.parse(startStr), inc))
      }
      if (s.contains(',')) {
        return ListF(kind, s.split(",", -1).toSeq.map(kind.parse))
      }
      if (s.endsWith("W")) {
        if (kind != DayK) throw new BadCronExpression(
          "W can only be used in the Day of month field")
        return ClosestWeekday(DayK.parse(s.dropRight(1)))
      }
      SingleValue(kind, kind.parse(s))
    } catch {
      case e: BadCronExpression => bad(e)
      case e: Exception => bad(e)
    }
  }

  def apply(expression: String): Cron = {
    val tokens = expression.split(" ", -1).toSeq
    if (tokens.length != 6 && tokens.length != 7)
      throw new BadCronExpression(
        s"malformed cron string (must be 6 or 7 fields): $expression")
    new Cron(
      parseField(SecondK, tokens(0)),
      parseField(MinuteK, tokens(1)),
      parseField(HourK, tokens(2)),
      parseField(DayK, tokens(3)),
      parseField(MonthK, tokens(4)),
      parseField(DowK, tokens(5)),
      if (tokens.length == 7) Some(parseField(YearK, tokens(6))) else None)
  }
}

final class Cron(
    val second: Cron.CronField,
    val minute: Cron.CronField,
    val hour: Cron.CronField,
    val day: Cron.CronField,
    val month: Cron.CronField,
    val dayOfWeek: Cron.CronField,
    val year: Option[Cron.CronField]) {

  /** Next matching local instant strictly after `start`, coarse-to-fine
    * (Cron::calculateNextTrigger): a mismatched coarse field jumps the
    * candidate to that unit's next boundary, so the scan touches at most
    * a few thousand candidates, never second-stepping across years. */
  def calculateNextTrigger(start: LocalDateTime): Option[LocalDateTime] = {
    val end = LocalDate.of(2999, 1, 1).atStartOfDay
    var next = start.truncatedTo(ChronoUnit.SECONDS).plusSeconds(1)
    while (next.isBefore(end)) {
      if (year.exists(!_.matches(next)))
        next = LocalDate.of(next.getYear + 1, 1, 1).atStartOfDay
      else if (!month.matches(next))
        next = next.toLocalDate.withDayOfMonth(1).plusMonths(1).atStartOfDay
      else if (!day.matches(next))
        next = next.toLocalDate.plusDays(1).atStartOfDay
      else if (!dayOfWeek.matches(next))
        next = next.toLocalDate.plusDays(1).atStartOfDay
      else if (!hour.matches(next))
        next = next.truncatedTo(ChronoUnit.HOURS).plusHours(1)
      else if (!minute.matches(next))
        next = next.truncatedTo(ChronoUnit.MINUTES).plusMinutes(1)
      else if (!second.matches(next))
        next = next.truncatedTo(ChronoUnit.SECONDS).plusSeconds(1)
      else return Some(next)
    }
    None
  }
}
