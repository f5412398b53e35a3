package graft.parse

import java.time._
import java.time.format.{DateTimeFormatter, DateTimeFormatterBuilder}
import java.time.temporal.ChronoField
import java.util.Locale
import graft.model.Event

/** Multi-format timestamp parsing — semantics of the Logstash `date` filter
  * (313 uses; SURVEY.md §2.3 date row): `match => [field, fmt1, fmt2, …]`
  * tries formats IN ORDER (first success wins), special formats
  * `ISO8601` / `UNIX` / `UNIX_MS`, explicit `timezone`/`locale`, `target`,
  * `tag_on_failure`.
  * (ref: config/processors/syslog_security_palo.alto.fw.conf:457-463 — format
  *  list; config/processors/api_network_aws.vpcflow.conf:27-30 — UNIX epoch.)
  *
  * Spark's `to_timestamp` takes exactly one format; the first-success fold over
  * N formats plus failure-tag semantics is why this is a library function used
  * inside the fused parse stage, not a Catalyst expression chain.
  *
  * Formatters are compiled once per (pattern, locale, zone) per JVM.
  */
object Dates {
  private final case class FormatterKey(pattern: String, locale: Locale, zone: ZoneId, defaultYear: Int)
  private val cache = new java.util.concurrent.ConcurrentHashMap[FormatterKey, DateTimeFormatter]()

  private def formatter(pattern: String, locale: Locale, zone: ZoneId, defaultYear: Int): DateTimeFormatter = {
    val key = FormatterKey(pattern, locale, zone, defaultYear)
    val c = cache.get(key)
    if (c != null) return c
    // Joda "ZZ" (colon-separated offset, e.g. "+00:00") = Java "XXX"
    // (ref: syslog_security_cisco.ise.conf:79 "yyyy-MM-dd HH:mm:ss.SSS ZZ");
    // Joda "Y" runs are year-of-era, NOT Java's week-based-year — translate
    // ANY run of Y to the same-length run of y (round-3 advice: the literal
    // "YYYY" replace would silently give week-based years for "YY"/"Y";
    // ref: syslog_audit_infoblox.conf:389 "dd-MMM-YYYY HH:mm:ss.SSS")
    val javaPattern = "Y+".r.replaceAllIn(
      pattern.replace("ZZ", "XXX"), m => "y" * m.matched.length)
    val b = new DateTimeFormatterBuilder().parseCaseInsensitive().appendPattern(javaPattern)
    // year-less syslog patterns (e.g. "MMM d HH:mm:ss") default to event year —
    // injected deterministically by the caller, never wall-clock.
    if (!javaPattern.contains("y")) b.parseDefaulting(ChronoField.YEAR, defaultYear.toLong)
    if (!javaPattern.contains("H") && !javaPattern.contains("h"))
      b.parseDefaulting(ChronoField.HOUR_OF_DAY, 0L)
    val f = b.toFormatter(locale).withZone(zone)
    cache.putIfAbsent(key, f)
    f
  }

  /** Parse `value` with the first matching format; None if all fail.
    * Returns epoch milliseconds. */
  // ZoneId.of / Locale.forLanguageTag go through shared JDK caches with
  // reference-queue housekeeping — measurably contended at 32 threads when
  // called per event. Memoize here (tiny key space).
  private val zoneCache = new java.util.concurrent.ConcurrentHashMap[String, ZoneId]()
  private val localeCache = new java.util.concurrent.ConcurrentHashMap[String, Locale]()

  private def zoneOf(tz: String): ZoneId = {
    val k = if (tz == "GMT") "UTC" else tz
    val c = zoneCache.get(k)
    if (c != null) c else { val z = ZoneId.of(k); zoneCache.putIfAbsent(k, z); z }
  }

  private def localeOf(tag: String): Locale = {
    val c = localeCache.get(tag)
    if (c != null) c
    else { val l = Locale.forLanguageTag(tag); localeCache.putIfAbsent(tag, l); l }
  }

  def parseMulti(value: String, formats: Seq[String], timezone: String = "UTC",
                 locale: String = "en", defaultYear: Int = 1970): Option[Long] = {
    // An unresolvable timezone is a per-event parse failure, not a crash —
    // mirrors Logstash, where e.g. a literal field-reference string passed as
    // `timezone` (syslog_security_cisco.ise.conf:255) throws per event and
    // lands in tag_on_failure.
    val zone = try zoneOf(timezone) catch { case _: Exception => return None }
    val loc = localeOf(locale)
    val v = value.trim
    var i = 0
    while (i < formats.length) {
      formats(i) match {
        case "UNIX" =>
          v.toLongOption.filter(x => x >= 0 && x < 100000000000L) match {
            case Some(sec) => return Some(sec * 1000L)
            case None => v.toDoubleOption.filter(x => x >= 0 && x < 1e11) match {
              case Some(d) => return Some((d * 1000).toLong)
              case None => ()
            }
          }
        case "UNIX_MS" =>
          v.toLongOption match {
            case Some(ms) => return Some(ms)
            case None => ()
          }
        case "ISO8601" =>
          try return Some(OffsetDateTime.parse(v).toInstant.toEpochMilli)
          catch {
            case _: Exception =>
              try return Some(LocalDateTime.parse(v, DateTimeFormatter.ISO_LOCAL_DATE_TIME).atZone(zone).toInstant.toEpochMilli)
              catch { case _: Exception => () }
          }
        case fmt =>
          try {
            val f = formatter(fmt, loc, zone, defaultYear)
            val parsed = f.parse(v)
            val ld = LocalDate.of(
              parsed.get(ChronoField.YEAR),
              if (parsed.isSupported(ChronoField.MONTH_OF_YEAR)) parsed.get(ChronoField.MONTH_OF_YEAR) else 1,
              if (parsed.isSupported(ChronoField.DAY_OF_MONTH)) parsed.get(ChronoField.DAY_OF_MONTH) else 1)
            val lt = LocalTime.of(
              if (parsed.isSupported(ChronoField.HOUR_OF_DAY)) parsed.get(ChronoField.HOUR_OF_DAY) else 0,
              if (parsed.isSupported(ChronoField.MINUTE_OF_HOUR)) parsed.get(ChronoField.MINUTE_OF_HOUR) else 0,
              if (parsed.isSupported(ChronoField.SECOND_OF_MINUTE)) parsed.get(ChronoField.SECOND_OF_MINUTE) else 0,
              if (parsed.isSupported(ChronoField.NANO_OF_SECOND)) parsed.get(ChronoField.NANO_OF_SECOND) else 0)
            return Some(LocalDateTime.of(ld, lt).atZone(zone).toInstant.toEpochMilli)
          } catch { case _: Exception => () }
      }
      i += 1
    }
    None
  }

  /** Full filter semantics: read field, parse, write epoch-ms Long into
    * `target` (kept as Long; rendered to timestamp at flatten), tag failures.
    * (ref: api_network_aws.vpcflow.conf:27-37 — on failure the caller removes
    *  the field, which we mirror at the call site.) */
  def apply(ev: Event, field: String, formats: Seq[String], target: String,
            timezone: String = "UTC", locale: String = "en",
            tagOnFailure: Seq[String] = Seq("_dateparsefailure"),
            defaultYear: Int = 1970): Boolean = {
    ev.getString(field) match {
      case None => false // absent source field: filter is a no-op, no tag
      case Some(v) =>
        parseMulti(v, formats, timezone, locale, defaultYear) match {
          case Some(ms) => ev.set(target, ms); true
          case None => tagOnFailure.foreach(ev.addTag); false
        }
    }
  }
}
