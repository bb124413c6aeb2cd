package graft

import java.time.{LocalDate, LocalDateTime, LocalTime}

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.DateParser

/** Golden cases generated by running the reference's convert.to_datetime
  * (meza/convert.py:374-436) — doctests plus edge probes. */
class DateParserSpec extends AnyFunSuite {

  private def dt(s: String, dayFirst: Boolean = false): LocalDateTime =
    DateParser.toDatetime(s, dayFirst)

  val golden: Seq[(String, String)] = Seq(
    "5/4/82" -> "1982-05-04T00:00",
    "5/4/82 2:00 pm" -> "1982-05-04T14:00",
    "5/4/82 2pm" -> "1982-05-04T14:00",
    "2/32/82 12:15" -> "1982-02-28T12:15",
    "2/32/82" -> "1982-02-28T00:00",
    "spam" -> "9999-12-31T00:00",
    "December 31, 1995" -> "1995-12-31T00:00",
    "1971-01-01T04:14:00" -> "1971-01-01T04:14",
    "1982-05-04" -> "1982-05-04T00:00",
    "2:30" -> "9999-12-31T02:30",
    "14:00:00" -> "9999-12-31T14:00",
    "2pm" -> "9999-12-31T14:00",
    "10:00" -> "9999-12-31T10:00",
    "1/22/28" -> "2028-01-22T00:00",
    "31/12/95" -> "1995-12-31T00:00",
    "13/5/82" -> "1982-05-13T00:00",
    "2000-01-01 00:00:00" -> "2000-01-01T00:00",
    "4 Jul 1776" -> "1776-07-04T00:00",
    "Jan 1, 70" -> "2070-01-01T00:00",
    "12:15 am" -> "9999-12-31T00:15",
    "12:15 pm" -> "9999-12-31T12:15",
    "29/2/82" -> "1982-02-28T00:00",
    "0:61" -> "9999-12-31T00:00",
    "32:00" -> "9999-12-31T00:00",
    // repair token collides with the year substring: the reference replaces
    // ALL occurrences, mutating the year — parity pinned deliberately
    "2/30/1930" -> "1928-02-28T00:00",
    "2/30/2030" -> "2028-02-28T00:00",
    "6/31/1931" -> "1930-06-30T00:00")

  for ((in, want) <- golden)
    test(s"to_datetime('$in') == $want") {
      assert(dt(in) == LocalDateTime.parse(want))
    }

  val goldenDayFirst: Seq[(String, String)] = Seq(
    "5/4/82" -> "1982-04-05T00:00",
    "5/4/82 2:00 pm" -> "1982-04-05T14:00",
    "2/32/82 12:15" -> "1982-02-28T12:15",
    "1982-05-04" -> "1982-04-05T00:00",
    "13/5/82" -> "1982-05-13T00:00",
    "31/12/95" -> "1995-12-31T00:00")

  for ((in, want) <- goldenDayFirst)
    test(s"to_datetime('$in', dayfirst) == $want") {
      assert(dt(in, dayFirst = true) == LocalDateTime.parse(want))
    }

  // Boundary cases of the regex-free fast path, pinned to what the regex
  // path returned before the fast path existed: a 4-digit year under 100
  // still pivots, impossible days still repair (the token may collide with
  // the year), impossible months still give the sentinel, blanks still trim.
  val fastPathBoundary: Seq[(String, Boolean, String)] = Seq(
    ("01/01/0001", false, "2001-01-01"),
    ("2023-02-29", false, "2023-02-28"),
    ("2030-02-30", false, "2028-02-28"),
    ("2024-13-01", false, "9999-12-31"),
    ("2024-00-10", false, "9999-12-31"),
    (" 2024-01-16", false, "2024-01-16"),
    ("13/05/2024", false, "2024-05-13"),
    ("13/05/2024", true, "2024-05-13"))

  for ((in, dayFirst, want) <- fastPathBoundary)
    test(s"fast-path boundary: to_date('$in'${if (dayFirst) ", dayfirst" else ""}) == $want") {
      assert(DateParser.toDate(in, dayFirst) == LocalDate.parse(want))
      assert(dt(in, dayFirst) == LocalDate.parse(want).atStartOfDay)
    }

  test("to_date / to_time components (convert.py:439-510)") {
    assert(DateParser.toDate("5/4/82") == LocalDate.of(1982, 5, 4))
    assert(DateParser.toDate("2/32/82") == LocalDate.of(1982, 2, 28))
    assert(DateParser.toDate("spam") == LocalDate.of(9999, 12, 31))
    assert(DateParser.toTime("2:00 pm") == LocalTime.of(14, 0))
    assert(DateParser.toTime("2/32/82 12:15") == LocalTime.of(12, 15))
    assert(DateParser.toTime("spam") == LocalTime.MIDNIGHT)
  }

  test("is_date / is_time / is_datetime (typetools.py:174-279)") {
    assert(DateParser.isDate("5/4/82 2pm"))
    assert(DateParser.isDate("5/4/82"))
    assert(!DateParser.isDate("2pm"))
    assert(!DateParser.isDate("spam"))
    assert(DateParser.isTime("5/4/82 2pm"))
    assert(DateParser.isTime("2000-01-01 14:00:00"))
    assert(!DateParser.isTime("5/4/82"))
    assert(DateParser.isTime("2pm"))
    assert(DateParser.isTime("14:00:00"))
    assert(DateParser.isDatetime("5/4/82 2pm"))
    assert(!DateParser.isDatetime("5/4/82"))
    assert(!DateParser.isDatetime("2pm"))
  }
}
