package graft.infer

import java.time.format.DateTimeFormatter
import java.time.temporal.TemporalQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Datetime string-format inference (`utils/etl.py:335-446`).
  *
  * The reference probes ~30 date / ~13 time / ~60 datetime strptime
  * patterns against a 12-row sample (`utils/etl.py:107`). Same design here:
  * driver-side sampling (bounded — never a distributed probe), then a
  * single codegen'd `to_timestamp(col, fmt)` applies the winner to the
  * whole table. */
object DatetimeFormatInfer {

  /** Candidate patterns in java.time syntax — the reference's ~30 date /
    * ~13 time / ~60 datetime strptime vocabulary (`utils/etl.py:336-391`)
    * re-expressed, including the %Z/%Z%z zone-NAME family (as validate-
    * and-strip legs against a fixed name vocabulary — see `@Z`/`@ZZ`
    * below), minus only concatenated oddities. Order =
    * precedence, first FULL match of all samples wins; specific (longer)
    * patterns sort first, and MM/dd precedes dd/MM (documented deviation:
    * the reference prefers day-first — both are guesses on ambiguous
    * samples; ours matches the fixtures it ships). */
  val candidates: Seq[String] = Seq(
    // ISO datetimes
    "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'", "yyyy-MM-dd'T'HH:mm:ss'Z'",
    "yyyy-MM-dd'T'HH:mm:ss.SSS", "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss.SSS", "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd HH:mm",
    "yyyy/MM/dd HH:mm:ss", "yyyy/MM/dd HH:mm", "yyyy-MMM-dd HH:mm",
    // 12-hour clock datetimes
    "MM/dd/yyyy hh:mm:ss a", "dd/MM/yyyy hh:mm:ss a", "dd-MMM-yyyy hh:mm:ss a",
    "dd/MMM/yyyy hh:mm:ss a", "MMM/dd/yyyy hh:mm:ss a", "MMM-dd-yyyy hh:mm:ss a",
    "MM-dd-yyyy hh:mm:ss a", "MM/dd/yyyy hh:mm a", "MM-dd-yyyy hh:mm a",
    "dd-MMM-yyyy hh:mm a", "dd-MMM-yy hh:mm:ss a", "dd-MMM-yy hh:mm a",
    // 24-hour slash/dash datetimes
    "MM/dd/yyyy HH:mm:ss", "MM/dd/yyyy HH:mm",
    "dd-MM-yyyy HH:mm:ss", "dd/MM/yyyy HH:mm:ss", "dd/MM/yyyy HH:mm",
    // double-space variants (`'%d/%m/%Y  %I:%M:%S %p'` family,
    // `utils/etl.py:378`), incl. the reference's bare 12-hour legs
    // (`'%m/%d/%Y  %I:%M:%S'`, `'%d/%m/%Y  %I:%M'`, `'%d/%b/%Y  %I:%M'`…)
    "dd/MM/yyyy  hh:mm:ss a", "dd/MM/yyyy  hh:mm a",
    "dd/MM/yyyy  HH:mm", "MM/dd/yyyy  HH:mm",
    "MM/dd/yyyy  hh:mm:ss", "dd/MM/yyyy  hh:mm:ss",
    "MM/dd/yyyy  hh:mm", "dd/MM/yyyy  hh:mm",
    "dd/MMM/yyyy  hh:mm", "MMM/dd/yyyy  hh:mm",
    // numeric-offset family (`'%d %b %Y %T %z'`/`'%d-%b-%y %T %z'`…,
    // `utils/etl.py:381-382`): %z IS representable (java.time 'Z' =
    // RFC-822 offset like +0100); only the %Z zone-NAME family stays
    // excluded (see note above)
    "dd MMM yyyy HH:mm:ss Z", "dd MMM yy HH:mm:ss Z",
    "dd/MMM/yyyy HH:mm:ss Z", "dd-MMM-yyyy HH:mm:ss Z", "dd-MMM-yy HH:mm:ss Z",
    // zone-NAME family (`'%Y-%m-%d %H:%M:%S %Z%z'` etc, `utils/etl.py:
    // 382-385`): java.time has no locale-free NAME parser, so — exactly
    // like the weekday EEE prefix — these are STRIP legs. `@ZZ` = a
    // validated zone-name token concatenated with a numeric %z offset
    // ("UTC+0100"): the name is stripped, the offset parsed (strptime
    // itself takes the instant from %z and only validates %Z). `@Z` =
    // name alone ("… UTC"): strptime yields a naive datetime, so the
    // name is validated and stripped and the remainder parses naive.
    "yyyy-MM-dd HH:mm:ss @ZZ", "yyyy/MM/dd HH:mm:ss @ZZ",
    "MM/dd/yy HH:mm:ss @ZZ", "dd/MM/yyyy HH:mm:ss @ZZ",
    "MM/dd/yyyy HH:mm:ss @ZZ", "dd/MM/yy HH:mm:ss @ZZ",
    "yyyy-MMM-dd HH:mm:ss @ZZ", "yyyy-MMMM-dd HH:mm:ss @ZZ",
    "dd-MMM-yyyy HH:mm:ss @ZZ", "dd-MM-yy HH:mm:ss @ZZ",
    "yyyy-MM-dd HH:mm:ss @Z",
    // two-digit-year datetimes (`'%m/%d/%y %H:%M:%S'`/`'%m-%d-%y %I:%M %p'`
    // families)
    "MM/dd/yy HH:mm:ss", "dd/MM/yy HH:mm:ss", "MM/dd/yy HH:mm", "dd/MM/yy HH:mm",
    "MM/dd/yy hh:mm:ss a", "dd/MM/yy hh:mm:ss a", "MM/dd/yy hh:mm a",
    "MM-dd-yy hh:mm:ss a", "MM-dd-yy hh:mm a",
    // dates
    "yyyy-MM-dd", "yyyy/MM/dd", "yyyyMMdd",
    "MM/dd/yyyy", "MM-dd-yyyy", "dd/MM/yyyy", "dd-MM-yyyy",
    "dd-MMM-yyyy", "dd/MMM/yyyy", "MMM/dd/yyyy", "MMM-dd-yyyy",
    "yyyy-MMM-dd", "yyyy-MMMM-dd",
    // compact month-name dates (`'%d%b%Y'`/`'%b%d%Y'`/`'%B%Y'`:
    // 19Jan1990, Jan191990, January1990 — case-sensitive month names,
    // same as java.time/Spark parsing)
    "ddMMMyyyy", "MMMddyyyy", "MMMMyyyy",
    "MM/dd/yy", "dd/MM/yy", "dd-MM-yy", "MM-dd-yy", "dd-MMM-yy",
    // weekday-prefixed family ('%a, %d %b %Y' / '%a, %d %b %y' /
    // '%a, %d/%b/%y', `utils/etl.py:337-338`, plus the '%a, … %T %z'
    // datetime legs at 381): Spark 4 forbids 'E' in PARSING patterns, so
    // these are handled as a STRIP-PREFIX leg — the sampler validates a
    // real English weekday abbreviation + ", ", and parseTimestamp
    // removes it with a codegen'd regexp_replace before to_timestamp on
    // the remainder. strptime parses %a but never cross-validates it
    // against the date, so stripping matches the reference's semantics.
    "EEE, dd MMM yyyy HH:mm:ss Z", "EEE, dd MMM yy HH:mm:ss Z",
    "EEE, dd MMM yyyy", "EEE, dd MMM yy", "EEE, dd/MMM/yy",
    "dd MMM yyyy", "dd MMM yy", "MMM dd, yyyy", "MMMM dd, yyyy",
    "MMMM dd yyyy", "MMM dd,yyyy",
    // coarse periods
    "yyyy-MM", "MM/yyyy", "MMM-yyyy", "MMM yyyy", "yyyy",
    // times — the reference's `is_time` vocabulary (`utils/etl.py:359-362`,
    // 13 patterns): pure times parse onto the epoch date (Spark's
    // to_timestamp anchors missing date fields at 1970-01-01; the
    // reference's strptime anchors at 1900-01-01 — documented deviation,
    // the TIME-OF-DAY component is what the inference contract preserves).
    // 24-hour (HH) families precede 12-hour (hh) so unambiguous 24-hour
    // samples never match the 1-12-hour pattern first; meridian ('a')
    // variants precede their bare twins (longer match wins).
    "HH:mm:ss.SSS", "mm:ss.SSS'Z'",
    "HH:mm:ss a", "hh:mm:ss a", "HH:mm:ss", "hh:mm:ss",
    "HH:mm a", "hh:mm a", "HH:mm", "hh:mm"
  )

  /** English %a vocabulary (what strptime accepts in the C locale). */
  private val WeekdayRe = "^(?:Mon|Tue|Wed|Thu|Fri|Sat|Sun), ".r

  /** Zone-NAME vocabulary for the %Z strip legs: a superset of what
    * CPython's C-locale strptime validates (UTC/GMT + the platform tz
    * names), fixed here so inference is machine-independent. */
  private val ZoneNames =
    "UTC|GMT|UT|Z|EST|EDT|CST|CDT|MST|MDT|PST|PDT|AKST|AKDT|HST|" +
      "CET|CEST|EET|EEST|WET|WEST|BST|IST|JST|KST|AEST|AEDT|NZST|NZDT"
  /** `%Z%z` suffix: " UTC+0100" → keep the offset, drop the name. */
  private val ZoneOffsetRe = (s" (?:$ZoneNames)([+-]\\d{4})$$").r
  /** bare `%Z` suffix: " UTC" → drop entirely (naive parse). */
  private val ZoneOnlyRe = (s" (?:$ZoneNames)$$").r

  private def matches(fmt: String, sample: Seq[String]): Boolean =
    if (fmt.startsWith("EEE, ")) {
      sample.forall(s => WeekdayRe.findPrefixOf(s.trim).isDefined) &&
        matches(fmt.stripPrefix("EEE, "),
                sample.map(s => WeekdayRe.replaceFirstIn(s.trim, "")))
    } else if (fmt.endsWith(" @ZZ")) {
      sample.forall(s => ZoneOffsetRe.findFirstIn(s.trim).isDefined) &&
        matches(fmt.stripSuffix(" @ZZ") + " Z",
                sample.map(s => ZoneOffsetRe.replaceFirstIn(s.trim, " $1")))
    } else if (fmt.endsWith(" @Z")) {
      sample.forall(s => ZoneOnlyRe.findFirstIn(s.trim).isDefined) &&
        matches(fmt.stripSuffix(" @Z"),
                sample.map(s => ZoneOnlyRe.replaceFirstIn(s.trim, "")))
    } else {
      val f = DateTimeFormatter.ofPattern(fmt)
      sample.forall { s =>
        try { f.parse(s.trim); true } catch { case _: Exception => false }
      }
    }

  /** Sample `n` non-null strings to the driver and return the first
    * candidate that parses all of them (reference samples 12 rows,
    * `utils/etl.py:107`). */
  def infer(df: DataFrame, strCol: String, n: Int = 12): Option[String] = {
    val sample = df.select(col(strCol)).na.drop().limit(n)
      .collect().map(_.getString(0)).toSeq
    if (sample.isEmpty) None else candidates.find(matches(_, sample))
  }

  /** Parse a string column with an inferred (or given) format — the S1
    * load step (`utils/etl.py:37`). */
  def parseTimestamp(df: DataFrame, strCol: String, outCol: String,
                     fmt: Option[String] = None): DataFrame = {
    val f = fmt.orElse(infer(df, strCol))
      .getOrElse(throw new IllegalArgumentException(
        s"could not infer datetime format for column $strCol"))
    val parsed =
      if (f.startsWith("EEE, "))
        to_timestamp(regexp_replace(trim(col(strCol)),
          "^(Mon|Tue|Wed|Thu|Fri|Sat|Sun), ", ""), f.stripPrefix("EEE, "))
      else if (f.endsWith(" @ZZ"))
        // zone-name+offset suffix: strip the NAME, keep the offset —
        // one codegen'd regexp_replace, then the plain %z leg
        to_timestamp(regexp_replace(trim(col(strCol)),
          s" (?:$ZoneNames)([+-]\\d{4})$$", " $1"), f.stripSuffix(" @ZZ") + " Z")
      else if (f.endsWith(" @Z"))
        to_timestamp(regexp_replace(trim(col(strCol)),
          s" (?:$ZoneNames)$$", ""), f.stripSuffix(" @Z"))
      else to_timestamp(col(strCol), f)
    df.withColumn(outCol, parsed)
  }

  /** S1 — CSV scan with datetime parsing (`load_ts_data`,
    * `utils/etl.py:17-61`): header on, custom separator, dedupe columns,
    * parse ts column. `fmt` forces the datetime pattern instead of
    * inferring it (reference `strf_time_format`, `__init__.py:62`) —
    * a forced format also bypasses the schema-inference branch, so a
    * column Spark's CSV reader would itself parse differently still
    * honors the caller's pattern. */
  def loadCsv(spark: SparkSession, path: String, tsColumn: String,
              sep: String = ",", fmt: Option[String] = None): DataFrame = {
    val raw = graft.Tables.csv(spark, path, sep, inferSchema = fmt.isEmpty)
    val deduped = graft.core.CleanOps.dedupeColumns(raw)
    val schema = deduped.schema(tsColumn).dataType
    schema match {
      case org.apache.spark.sql.types.TimestampType | org.apache.spark.sql.types.DateType
          if fmt.isEmpty =>
        deduped.withColumn(tsColumn, col(tsColumn).cast("timestamp"))
      case _ => parseTimestamp(deduped.withColumn(tsColumn, col(tsColumn).cast("string")),
                               tsColumn, tsColumn, fmt)
    }
  }
}
