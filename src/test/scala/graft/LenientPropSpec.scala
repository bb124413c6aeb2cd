package graft

import java.time.LocalDate

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.functions.{DateParser, RegexPath}

/** Property tests for the lenient datetime parser (SURVEY §5 uplift):
  * round-trips, sentinel behavior, repair invariants, and the regex-free fast
  * path held to the regex path. Pure driver-side code (no Spark session); the
  * Column forms are covered by LenientSpec.
  */
object LenientPropSpec extends Properties("DateParser") {

  private val dates: Gen[LocalDate] = for {
    y <- Gen.choose(1930, 2069)
    m <- Gen.choose(1, 12)
    d <- Gen.choose(1, 28)
  } yield LocalDate.of(y, m, d)

  property("ISO date strings round-trip exactly") = forAll(dates) { d =>
    DateParser.toDate(d.toString) == d
  }

  property("US slash dates round-trip; dayfirst swaps") = forAll(dates) { d =>
    val us = s"${d.getMonthValue}/${d.getDayOfMonth}/${d.getYear}"
    val intl = s"${d.getDayOfMonth}/${d.getMonthValue}/${d.getYear}"
    DateParser.toDate(us) == d && DateParser.toDate(intl, dayFirst = true) == d
  }

  property("datetime with time component round-trips") =
    forAll(dates, Gen.choose(0, 23), Gen.choose(0, 59)) { (d, h, m) =>
      val s = f"${d.toString} $h%02d:$m%02d:00"
      val got = DateParser.toDatetime(s)
      got.toLocalDate == d && got.getHour == h && got.getMinute == m
    }

  property("letter-only garbage yields the sentinel, never throws") =
    forAll(Gen.alphaStr.suchThat(_.nonEmpty)) { s =>
      DateParser.toDatetime(s) == DateParser.NullDateTime
    }

  private val badTokens = Seq("29", "30", "31", "32")

  property("impossible days 29-32 repair downward within the month") =
    forAll(
      Gen.choose(1930, 2069).suchThat(y => !badTokens.exists(y.toString.contains)),
      Gen.choose(1, 12), Gen.choose(29, 31)) { (y, m, d) =>
      // years containing a bad token are excluded: the reference's repair
      // replaces ALL occurrences and mutates the year (parity goldens in
      // DateParserSpec pin '2/30/1930' -> 1928-02-28)
      val parsed = DateParser.toDate(s"$m/$d/$y")
      parsed.getYear == y && parsed.getMonthValue == m && parsed.getDayOfMonth <= d
    }

  property("dayfirst never changes an unambiguous date (day > 12)") =
    forAll(Gen.choose(1930, 2069), Gen.choose(1, 12), Gen.choose(13, 28)) { (y, m, d) =>
      val s = s"$d/$m/$y"
      DateParser.toDate(s) == DateParser.toDate(s, dayFirst = true)
    }

  property("toTime equals the time component of toDatetime") =
    forAll(Gen.choose(0, 23), Gen.choose(0, 59)) { (h, m) =>
      val t = DateParser.toTime(f"$h%02d:$m%02d")
      t.getHour == h && t.getMinute == m
    }

  // ---- differential: parse (fast path first) against the regex path alone --

  // around and beyond the fast path's edges: years the regex path pivots
  // (0001-0099), plain years, years that collide with the 29-32 repair
  // token; months and days out of range; padding, 3-digit fields, blanks,
  // and the separators the fast path leaves to the regex path
  private val year: Gen[String] = for {
    y <- Gen.frequency(2 -> Gen.choose(1, 99), 5 -> Gen.choose(1900, 2100),
      3 -> Gen.choose(2029, 2032))
    padded <- Gen.frequency(4 -> true, 1 -> false)
  } yield if (padded) f"$y%04d" else y.toString

  private def field(lo: Int, hi: Int): Gen[String] =
    Gen.choose(lo, hi).flatMap(v => Gen.frequency(
      4 -> Gen.const(v.toString), 4 -> Gen.const(f"$v%02d"), 1 -> Gen.const(f"$v%03d")))

  private val blank: Gen[String] = Gen.frequency(8 -> "", 1 -> " ", 1 -> "  ")

  private val dateString: Gen[String] = for {
    y <- year
    m <- field(0, 13)
    d <- field(0, 33)
    shape <- Gen.oneOf(s"$y-$m-$d", s"$m/$d/$y", s"$m-$d-$y", s"$y/$m/$d")
    lead <- blank
    trail <- blank
  } yield lead + shape + trail

  private def agrees(s: String): Boolean =
    Seq(false, true).forall { df =>
      DateParser.parse(s, df) == RegexPath.parse(s, df) &&
      DateParser.toDatetime(s, df) == RegexPath.toDatetime(s, df) &&
      DateParser.toDate(s, df) == RegexPath.toDatetime(s, df).toLocalDate
    } &&
    DateParser.isDate(s) == RegexPath.isDate(s) &&
    DateParser.isDatetime(s) == RegexPath.isDatetime(s)

  property("the fast path agrees with the regex path (parse, toDatetime, isDate, isDatetime)") =
    forAll(Gen.listOfN(50, dateString)) { ss =>
      val bad = ss.filterNot(agrees)
      bad.isEmpty :| bad.map(b => s"'$b'").mkString("disagree on ", ", ", "")
    }
}
