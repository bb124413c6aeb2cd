package graft.functions

import java.time.{LocalDate, LocalDateTime, LocalTime, Month, Year}

/** Lenient date/time parsing with the reference's semantics
  * (meza/convert.py:316-510): fuzzy multi-format parse, `dayfirst`,
  * impossible-day repair (day tokens 29–32 decremented until valid), and the
  * `9999-12-31` sentinel for unparseable input.
  *
  * [[parse]] first tries an exact, regex-free scan of the two plain shapes
  * that fill most real date columns, with ASCII digits only and nothing
  * around them:
  *  - `yyyy-m-d`, with the ISO branch's `dayfirst` swap;
  *  - `m/d/yyyy` with a year of at least 100, with the slash branch's
  *    `dayfirst` and impossible-month swap.
  * The scan answers only when the month is 1–12 and the day exists in it,
  * which is exactly when the regex path's first attempt parses the same date.
  * Everything else falls through, unchanged, to the regex path: surrounding
  * blanks, 2-digit years and 4-digit years under 100 (pivoted through
  * `expandYear`), `-` between US fields, 3-digit fields, impossible days
  * (the 29–32 repair), times, month names and garbage (the sentinel).
  *
  * Pure JVM code, usable on driver (type inference) and executors (inside the
  * Lenient* Catalyst expressions). No Spark imports.
  */
object DateParser {

  /** meza NULL_DATETIME (meza/__init__.py:33-35). */
  val NullDate: LocalDate = LocalDate.of(9999, 12, 31)
  val NullDateTime: LocalDateTime = LocalDateTime.of(9999, 12, 31, 0, 0, 0)

  /** Internal single-attempt outcome (mirrors convert.py:316-345 _to_datetime):
    * Parsed = ok; BadDay = structurally a date but impossible day (retry);
    * Invalid = not parseable (sentinel, no retry).
    */
  private sealed trait Attempt
  private final case class Parsed(date: Option[LocalDate], time: Option[LocalTime]) extends Attempt
  private case object BadDay extends Attempt
  private case object Invalid extends Attempt

  private val monthNames: Map[String, Int] = Map(
    "jan" -> 1, "feb" -> 2, "mar" -> 3, "apr" -> 4, "may" -> 5, "jun" -> 6,
    "jul" -> 7, "aug" -> 8, "sep" -> 9, "oct" -> 10, "nov" -> 11, "dec" -> 12)

  // time with optional am/pm: "2:30", "2:00 pm", "14:00:00", "04:14:00"
  private val TimeRe = """(?i)(?<![\d:])(\d{1,2}):(\d{2})(?::(\d{2}))?(?:\s*(am|pm))?(?![\d:])""".r
  // bare hour + meridiem: "2pm"
  private val BareMeridiemRe = """(?i)(?<!\d)(\d{1,2})\s*(am|pm)\b""".r
  private val IsoRe = """(?<!\d)(\d{4})-(\d{1,2})-(\d{1,2})(?!\d)""".r
  private val SlashRe = """(?<![\d/])(\d{1,3})[/-](\d{1,3})[/-](\d{2,4})(?![\d/])""".r
  private val MonthNameRe =
    """(?i)\b([a-z]{3,9})\.?\s+(\d{1,2})(?:st|nd|rd|th)?\s*,?\s+(\d{2,4})""".r
  private val DayMonthNameRe = """(?i)(?<!\d)(\d{1,2})\s+([a-z]{3,9})\.?\s+(\d{2,4})""".r

  /** Two-digit-year pivot (dateutil convention: ±50y window on current year). */
  private def expandYear(y: Int): Int =
    if (y >= 100) y
    else {
      val cur = Year.now.getValue
      var full = y + (cur / 100) * 100
      if (full >= cur + 50) full -= 100
      if (full < cur - 50) full += 100
      full
    }

  private def mkTime(h: Int, m: Int, s: Int, meridiem: Option[String]): Option[LocalTime] = {
    val hh = meridiem.map(_.toLowerCase) match {
      case Some("pm") if h < 12 => h + 12
      case Some("am") if h == 12 => 0
      case _ => h
    }
    if (hh > 23 || m > 59 || s > 59) None else Some(LocalTime.of(hh, m, s))
  }

  /** Whether `yyyy-mo-d` reads as `yyyy-d-mo`: dateutil applies dayfirst
    * even to ISO when both slots are ambiguous. */
  private def isoSwap(mo: Int, d: Int, dayFirst: Boolean): Boolean =
    dayFirst && d <= 12 && mo <= 12

  /** Whether `a/b/y` reads as day/month: dateutil honours dayfirst, but
    * swaps when the nominal month is impossible and the other slot fits
    * (convert.py doctests). */
  private def slashSwap(a: Int, b: Int, dayFirst: Boolean): Boolean =
    if (dayFirst) b <= 12 || a > 12 else a > 12 && b <= 12

  /** One parse attempt of the full string (no repair). */
  private def attempt(raw: String, dayFirst: Boolean): Attempt = {
    if (raw == null) return Invalid
    var s = " " + raw.trim + " "
    if (s.trim.isEmpty) return Invalid

    var time: Option[LocalTime] = None
    var badTime = false

    TimeRe.findFirstMatchIn(s).foreach { m =>
      mkTime(m.group(1).toInt, m.group(2).toInt,
        Option(m.group(3)).map(_.toInt).getOrElse(0), Option(m.group(4))) match {
        case t @ Some(_) => time = t; s = s.substring(0, m.start) + " " + s.substring(m.end)
        case None => badTime = true
      }
    }
    if (time.isEmpty && !badTime) {
      BareMeridiemRe.findFirstMatchIn(s).foreach { m =>
        mkTime(m.group(1).toInt, 0, 0, Some(m.group(2))) match {
          case t @ Some(_) => time = t; s = s.substring(0, m.start) + " " + s.substring(m.end)
          case None => badTime = true
        }
      }
    }
    if (badTime) return Invalid

    var date: Option[LocalDate] = None
    var badDay = false

    def tryDate(y: Int, mo: Int, d: Int): Unit =
      if (mo < 1 || mo > 12) badDay = true // dateutil: month error is not retried,
      // but a swapped-field month overflow only arises from day repair paths
      else try { date = Some(LocalDate.of(y, mo, d)) }
      catch { case _: java.time.DateTimeException => badDay = true }

    IsoRe.findFirstMatchIn(s) match {
      case Some(m) =>
        val (mo, d) = (m.group(2).toInt, m.group(3).toInt)
        if (isoSwap(mo, d, dayFirst)) tryDate(m.group(1).toInt, d, mo)
        else tryDate(m.group(1).toInt, mo, d)
        s = s.substring(0, m.start) + " " + s.substring(m.end)
      case None =>
        SlashRe.findFirstMatchIn(s) match {
          case Some(m) =>
            val (a, b) = (m.group(1).toInt, m.group(2).toInt)
            val y = expandYear(m.group(3).toInt)
            if (slashSwap(a, b, dayFirst)) tryDate(y, b, a) else tryDate(y, a, b)
            s = s.substring(0, m.start) + " " + s.substring(m.end)
          case None =>
            MonthNameRe.findFirstMatchIn(s).flatMap { m =>
              monthNames.get(m.group(1).toLowerCase.take(3)).map((m, _))
            } match {
              case Some((m, mo)) =>
                tryDate(expandYear(m.group(3).toInt), mo, m.group(2).toInt)
                s = s.substring(0, m.start) + " " + s.substring(m.end)
              case None =>
                DayMonthNameRe.findFirstMatchIn(s).flatMap { m =>
                  monthNames.get(m.group(2).toLowerCase.take(3)).map((m, _))
                } match {
                  case Some((m, mo)) =>
                    tryDate(expandYear(m.group(3).toInt), mo, m.group(1).toInt)
                    s = s.substring(0, m.start) + " " + s.substring(m.end)
                  case None => ()
                }
            }
        }
    }

    if (badDay) return BadDay
    // dateutil with fuzzy=False rejects leftover tokens ("spam");
    // a bare ISO 'T' separator left between date and time is fine.
    val leftover = s.split("[^A-Za-z0-9]+").filter(_.nonEmpty)
    if (!leftover.forall(t => t == "T" || t == "t")) return Invalid
    if (date.isEmpty && time.isEmpty) Invalid else Parsed(date, time)
  }

  /** The value of `s(from until to)` when it is 1–4 ASCII digits, else -1. */
  private def digits(s: String, from: Int, to: Int): Int = {
    if (to <= from || to - from > 4) return -1
    var v = 0
    var i = from
    while (i < to) {
      val c = s.charAt(i)
      if (c < '0' || c > '9') return -1
      v = v * 10 + (c - '0')
      i += 1
    }
    v
  }

  /** The date when month and day are valid, else null (no exception). */
  private def validDate(y: Int, mo: Int, d: Int): LocalDate =
    if (mo < 1 || mo > 12 || d < 1 || d > Month.of(mo).length(Year.isLeap(y))) null
    else LocalDate.of(y, mo, d)

  /** The regex-free fast path (see the object doc): the date of a plain
    * `yyyy-m-d` or `m/d/yyyy` string, or null to fall through. */
  private def plainDate(s: String, dayFirst: Boolean): LocalDate = {
    if (s == null) return null
    val n = s.length
    if (n < 8 || n > 10) return null
    if (s.charAt(4) == '-') {
      val j = s.indexOf('-', 5)
      if (j < 6 || j > 7 || n - j > 3) return null
      val y = digits(s, 0, 4)
      val mo = digits(s, 5, j)
      val d = digits(s, j + 1, n)
      if (y < 0 || mo < 0 || d < 0) null
      else if (isoSwap(mo, d, dayFirst)) validDate(y, d, mo)
      else validDate(y, mo, d)
    } else {
      val i = s.indexOf('/')
      val j = s.indexOf('/', i + 1)
      if (i < 1 || i > 2 || j - i < 2 || j - i > 3 || n - j != 5) return null
      val a = digits(s, 0, i)
      val b = digits(s, i + 1, j)
      val y = digits(s, j + 1, n)
      if (a < 0 || b < 0 || y < 100) null
      else if (slashSwap(a, b, dayFirst)) validDate(y, b, a)
      else validDate(y, a, b)
    }
  }

  private val badNums = Seq("29", "30", "31", "32")
  private val goodNums = Seq("31", "30", "29", "28")

  /** Full lenient parse incl. impossible-day repair (convert.py:416-436):
    * first bad token 29–32 found as a substring is replaced by 31,30,29,28 in
    * turn until an attempt parses. Returns None only when nothing parses —
    * callers substitute the sentinel. Plain dates take the fast path.
    */
  def parse(content: String, dayFirst: Boolean = false): Option[(Option[LocalDate], Option[LocalTime])] = {
    val d = plainDate(content, dayFirst)
    if (d != null) Some((Some(d), None)) else parseRegex(content, dayFirst)
  }

  /** The general regex path behind [[parse]], on its own so that specs can
    * hold the fast path to it. */
  private[functions] def parseRegex(content: String,
      dayFirst: Boolean): Option[(Option[LocalDate], Option[LocalTime])] = {
    if (content == null) return None
    val options: Seq[String] = badNums.find(content.contains) match {
      case Some(bad) => content +: goodNums.map(content.replace(bad, _))
      case None => Seq(content)
    }
    options.iterator.map(attempt(_, dayFirst)).collectFirst {
      case Parsed(d, t) => Some((d, t))
      case Invalid => None // non-retry failure stops the chain (sentinel)
    }.getOrElse(None) // all attempts were BadDay
  }

  /** meza to_datetime: sentinel-defaulted datetime (convert.py:374-436). */
  def toDatetime(content: String, dayFirst: Boolean = false): LocalDateTime =
    parse(content, dayFirst) match {
      case Some((d, t)) =>
        LocalDateTime.of(d.getOrElse(NullDate), t.getOrElse(LocalTime.MIDNIGHT))
      case None => NullDateTime
    }

  /** meza to_date (convert.py:439-475). A plain date skips the Option and
    * LocalDateTime round trip of [[toDatetime]]. */
  def toDate(content: String, dayFirst: Boolean = false): LocalDate = {
    val d = plainDate(content, dayFirst)
    if (d != null) d else toDatetime(content, dayFirst).toLocalDate
  }

  /** meza to_time (convert.py:478-510); canonical HH:mm:ss string (SURVEY §1.2). */
  def toTime(content: String): LocalTime = toDatetime(content).toLocalTime

  // ---- inference predicates (meza/typetools.py:174-279) -------------------

  /** has a date component with a real (non-sentinel) year. */
  def isDate(content: String): Boolean =
    parse(content) match {
      case Some((Some(_), _)) => true
      case _ => false
    }

  /** reference checks for literal time markers (typetools.py:214-247). */
  def isTime(content: String): Boolean =
    content != null && Seq(":", "T", "+", "am", "pm").exists(content.contains)

  def isDatetime(content: String): Boolean = isDate(content) && isTime(content)
}
