package graft.functions

import java.time.{LocalDateTime, LocalTime}

/** Spec-side handle on `DateParser`'s general regex path, which is
  * `private[functions]`: `graft.LenientPropSpec` holds the fast path to it.
  * Each method restates its `DateParser` namesake over `parseRegex`.
  */
object RegexPath {
  def parse(s: String, dayFirst: Boolean) = DateParser.parseRegex(s, dayFirst)

  def toDatetime(s: String, dayFirst: Boolean): LocalDateTime =
    parse(s, dayFirst) match {
      case Some((d, t)) =>
        LocalDateTime.of(d.getOrElse(DateParser.NullDate), t.getOrElse(LocalTime.MIDNIGHT))
      case None => DateParser.NullDateTime
    }

  def isDate(s: String): Boolean = parse(s, dayFirst = false).exists(_._1.isDefined)

  def isDatetime(s: String): Boolean = isDate(s) && DateParser.isTime(s)
}
