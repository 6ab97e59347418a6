package graft.functions

import java.time.{LocalDate, LocalDateTime, ZoneId, ZonedDateTime, ZoneOffset}
import java.util.Locale

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Runtime DuckDB strptime for DYNAMIC (non-literal) patterns (r13,
  * VERDICT r12 #3 — finishing the [[StrftimeDyn]] pair): literal
  * patterns translate at rewrite time via strptimeToJava; a pattern
  * EXPRESSION used to fall through to `to_timestamp(s, fmt_expr)`,
  * which fed duck %-patterns to the JDK formatter per row — the same
  * silent-wrong-answer class the r12 dynamic strftime closed. DuckDB
  * itself rejects non-constant formats, so this is the documented
  * permissive-superset posture with duck-faithful semantics.
  *
  * Probe-pinned on DuckDB 1.x (this round's two strptime matrices):
  *   - numeric fields are width-lenient (1..natural-width digits),
  *     skip leading whitespace, and range-check at the field (%m 13,
  *     %S 60, %d 0 all parse errors);
  *   - %y pivots at 68 (68 → 2068, 69 → 1969);
  *   - %f is an INTEGER MICROSECOND COUNT, not a decimal fraction
  *     ('.12' = 12 µs); %g likewise millis; %n 1..9 digits of nanos
  *     ROUNDED half-up to micros;
  *   - %p applies to %H too (03 PM = 15:00) and errors when the
  *     parsed hour exceeds 12; 12 AM = 00, 12 PM = 12;
  *   - %b matches ONLY the 3-letter abbreviation, %B only the full
  *     name, both case-insensitive; %a/%A consume a weekday name
  *     without validating it against the date (probed: 'Mon' on a
  *     Tuesday parses);
  *   - %j is consumed and range-checked but IGNORED (probed:
  *     '2024 366' → 2024-01-01);
  *   - %G selects the ISO calendar: date = ISO(G, %V or 1, %u or 1);
  *     %V/%u without %G are consumed-ignored; an explicit month/day
  *     beats the ISO grid;
  *   - %U/%W are C week grids applied from the year: first-Sunday /
  *     first-Monday + (week−1)*7, %w (0=Sunday) offsetting %U only;
  *   - %z (±HH[:]MM) and %Z (IANA or short zone name) shift the
  *     result to UTC (duck returns TIMESTAMPTZ there; this engine
  *     runs UTC so the instant is identical);
  *   - literal pattern characters match exactly (case-sensitive);
  *     pattern whitespace consumes one-or-more input whitespace;
  *     unparsed trailing input is an error;
  *   - composites %c = '%Y-%m-%d %H:%M:%S', %x = '%Y-%m-%d',
  *     %X/%T = '%H:%M:%S'; '%-X' parses like '%X' (widths are
  *     already lenient).
  *
  * Unknown specifiers and empty formats throw in BOTH modes (duck
  * errors on them in try_strptime too); input-parse failures and
  * out-of-range dates (Feb 30) throw in strict mode and return null
  * in try mode, exactly duck's strptime/try_strptime split. */
object StrptimeDyn {
  private val monAbbr = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
  private val monFull = Array("January", "February", "March", "April",
    "May", "June", "July", "August", "September", "October", "November",
    "December")
  private val dayAbbr = Array("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")
  private val dayFull = Array("Monday", "Tuesday", "Wednesday", "Thursday",
    "Friday", "Saturday", "Sunday")

  private final class ParseFail(msg: String) extends Exception(msg)

  /** Strict parse: epoch micros, or IllegalArgumentException. */
  def parse(input: UTF8String, pattern: UTF8String): Long =
    try parseImpl(input.toString, pattern.toString)
    catch {
      case f: ParseFail => throw new IllegalArgumentException(
        s"graft_strptime: Could not parse string '$input' according to " +
          s"format specifier '$pattern' (${f.getMessage}; DuckDB errors too)")
    }

  /** Try parse: epoch micros, or null on input failure (format errors
    * still throw — duck's try_strptime keeps those loud). */
  def parseTry(input: UTF8String, pattern: UTF8String): java.lang.Long =
    try java.lang.Long.valueOf(parseImpl(input.toString, pattern.toString))
    catch { case _: ParseFail => null }

  // format-level errors: always loud, both modes
  private def badFormat(msg: String): Nothing =
    throw new IllegalArgumentException(s"graft_strptime: $msg (DuckDB errors on it too)")

  private def expand(p: String): String = {
    if (p.isEmpty) badFormat("empty format string")
    val sb = new java.lang.StringBuilder(p.length)
    var i = 0
    while (i < p.length) {
      if (p.charAt(i) == '%' && i + 1 < p.length) {
        p.charAt(i + 1) match {
          case 'c' => sb.append("%Y-%m-%d %H:%M:%S"); i += 2
          case 'x' => sb.append("%Y-%m-%d"); i += 2
          case 'X' | 'T' => sb.append("%H:%M:%S"); i += 2
          case _ => sb.append(p.charAt(i)); sb.append(p.charAt(i + 1)); i += 2
        }
      } else { sb.append(p.charAt(i)); i += 1 }
    }
    sb.toString
  }

  private def parseImpl(input: String, pattern0: String): Long = {
    val p = expand(pattern0)
    val in = input
    var pos = 0
    def fail(msg: String): Nothing = throw new ParseFail(msg)
    def skipBlanks(): Unit = while (pos < in.length && in.charAt(pos).isWhitespace) pos += 1
    def readNum(maxDigits: Int, min: Int, max: Int, what: String): Int = {
      skipBlanks()
      val s = pos
      while (pos < in.length && pos - s < maxDigits && in.charAt(pos).isDigit) pos += 1
      if (pos == s) fail(s"expected digits for $what")
      val v = in.substring(s, pos).toInt
      if (v < min || v > max) fail(s"$what out of range: $v")
      v
    }
    /** digits read verbatim (fractional-second fields keep width). */
    def readDigits(maxDigits: Int, what: String): String = {
      val s = pos
      while (pos < in.length && pos - s < maxDigits && in.charAt(pos).isDigit) pos += 1
      if (pos == s) fail(s"expected digits for $what")
      in.substring(s, pos)
    }
    def readName(names: Array[String], what: String): Int = {
      skipBlanks()
      var k = 0
      while (k < names.length) {
        val n = names(k)
        if (pos + n.length <= in.length &&
            in.regionMatches(true, pos, n, 0, n.length)) {
          pos += n.length
          return k
        }
        k += 1
      }
      fail(s"expected a $what name")
    }

    var year = 1900; var month = 1; var day = 1
    var hour = 0; var minute = 0; var second = 0; var micros = 0L
    var meridian = -1 // 0 = AM, 1 = PM
    var sawMonthOrDay = false
    var isoYear = -1; var isoWeek = -1; var isoDow = -1
    var sunWeek = -1; var monWeek = -1; var cDow = -1
    var offsetSec = Integer.MIN_VALUE
    var zone: ZoneId = null

    var i = 0
    while (i < p.length) {
      val c0 = p.charAt(i)
      if (c0 == '%') {
        if (i + 1 >= p.length) badFormat("trailing '%' without a format specifier")
        var c = p.charAt(i + 1); i += 2
        if (c == '-') {
          if (i >= p.length) badFormat("trailing '%-' without a format specifier")
          c = p.charAt(i); i += 1 // widths are already lenient
        }
        c match {
          case '%' =>
            if (pos >= in.length || in.charAt(pos) != '%') fail("expected literal '%'")
            pos += 1
          case 'Y' => year = readNum(4, 0, 9999, "year")
          case 'G' =>
            isoYear = readNum(4, 0, 9999, "ISO year")
          case 'y' =>
            val yy = readNum(2, 0, 99, "2-digit year")
            year = if (yy <= 68) 2000 + yy else 1900 + yy
          case 'm' => month = readNum(2, 1, 12, "month"); sawMonthOrDay = true
          case 'd' => day = readNum(2, 1, 31, "day"); sawMonthOrDay = true
          case 'H' => hour = readNum(2, 0, 23, "hour")
          case 'I' => hour = readNum(2, 1, 12, "hour(12)")
          case 'M' => minute = readNum(2, 0, 59, "minute")
          case 'S' => second = readNum(2, 0, 59, "second")
          case 'j' => readNum(3, 1, 366, "day-of-year") // consumed, IGNORED (probed)
          case 'f' => micros = readDigits(6, "microseconds").toLong
          case 'g' => micros = readDigits(3, "milliseconds").toLong * 1000L
          case 'n' =>
            val d = readDigits(9, "nanoseconds")
            micros = (d.toLong + 500L) / 1000L
          case 'p' =>
            skipBlanks()
            if (pos + 2 <= in.length) {
              val m2 = in.substring(pos, pos + 2)
              if (m2.equalsIgnoreCase("AM")) { meridian = 0; pos += 2 }
              else if (m2.equalsIgnoreCase("PM")) { meridian = 1; pos += 2 }
              else fail("expected AM/PM")
            } else fail("expected AM/PM")
          case 'b' | 'h' => month = readName(monAbbr, "abbreviated month") + 1; sawMonthOrDay = true
          case 'B' => month = readName(monFull, "month") + 1; sawMonthOrDay = true
          case 'a' => readName(dayAbbr, "abbreviated weekday") // not validated (probed)
          case 'A' => readName(dayFull, "weekday")
          case 'u' => isoDow = readNum(1, 1, 7, "ISO weekday")
          case 'w' => cDow = readNum(1, 0, 6, "weekday")
          case 'V' => isoWeek = readNum(2, 1, 53, "ISO week")
          case 'U' => sunWeek = readNum(2, 0, 53, "week(Sunday)")
          case 'W' => monWeek = readNum(2, 0, 53, "week(Monday)")
          case 'z' =>
            skipBlanks()
            if (pos >= in.length || (in.charAt(pos) != '+' && in.charAt(pos) != '-'))
              fail("expected a +HH[:]MM utc offset")
            val sign = if (in.charAt(pos) == '-') -1 else 1
            pos += 1
            val hh = readDigits(2, "offset hours").toInt
            var mm = 0
            if (pos < in.length && in.charAt(pos) == ':') {
              pos += 1; mm = readDigits(2, "offset minutes").toInt
            } else if (pos < in.length && in.charAt(pos).isDigit) {
              mm = readDigits(2, "offset minutes").toInt
            }
            offsetSec = sign * (hh * 3600 + mm * 60)
          case 'Z' =>
            skipBlanks()
            val s = pos
            while (pos < in.length && {
              val ch = in.charAt(pos)
              ch.isLetterOrDigit || ch == '/' || ch == '_' || ch == '+' || ch == '-'
            }) pos += 1
            if (pos == s) fail("expected a time zone name")
            val name = in.substring(s, pos)
            try zone = ZoneId.of(name, ZoneId.SHORT_IDS)
            catch { case _: Exception => fail(s"unknown time zone '$name'") }
          case other => badFormat(s"unrecognized format specifier %$other")
        }
      } else if (c0.isWhitespace) {
        // pattern whitespace consumes one-or-more input whitespace
        if (pos >= in.length || !in.charAt(pos).isWhitespace)
          fail("expected whitespace")
        skipBlanks()
        // a whitespace RUN in the pattern is one unit
        while (i < p.length && p.charAt(i).isWhitespace) i += 1
      } else {
        // literal pattern characters match exactly (case-sensitive,
        // probed: 't14' fails 'T%H')
        if (pos >= in.length || in.charAt(pos) != c0) fail(s"expected '$c0'")
        pos += 1
        i += 1
      }
    }
    if (pos != in.length) fail("unparsed trailing input")

    if (meridian >= 0) {
      if (hour > 12) fail(s"hour $hour out of range for AM/PM")
      if (meridian == 0) { if (hour == 12) hour = 0 }
      else if (hour < 12) hour += 12
    }

    val date: LocalDate =
      try {
        if (sawMonthOrDay) LocalDate.of(year, month, day)
        else if (isoYear >= 0) {
          val jan4 = LocalDate.of(isoYear, 1, 4)
          val week1Mon = jan4.minusDays(jan4.getDayOfWeek.getValue - 1L)
          val w = if (isoWeek >= 0) isoWeek else 1
          val d = if (isoDow >= 0) isoDow else 1
          week1Mon.plusDays((w - 1) * 7L + (d - 1))
        } else if (sunWeek >= 0) {
          val jan1 = LocalDate.of(year, 1, 1)
          val dowSun0 = jan1.getDayOfWeek.getValue % 7
          val firstSunday = jan1.plusDays((7 - dowSun0) % 7L)
          val w = if (cDow >= 0) cDow else 0
          firstSunday.plusDays((sunWeek - 1) * 7L + w)
        } else if (monWeek >= 0) {
          val jan1 = LocalDate.of(year, 1, 1)
          val firstMonday = jan1.plusDays((8 - jan1.getDayOfWeek.getValue) % 7L)
          firstMonday.plusDays((monWeek - 1) * 7L)
        } else LocalDate.of(year, month, day)
      } catch {
        case e: java.time.DateTimeException => fail(s"date out of range (${e.getMessage})")
      }

    val ldt = LocalDateTime.of(date.getYear, date.getMonthValue,
      date.getDayOfMonth, hour, minute, second, (micros * 1000L).toInt)
    val instantSec =
      if (zone != null) ZonedDateTime.of(ldt, zone).toEpochSecond
      else if (offsetSec != Integer.MIN_VALUE)
        ldt.toEpochSecond(ZoneOffset.UTC) - offsetSec
      else ldt.toEpochSecond(ZoneOffset.UTC)
    java.lang.Math.addExact(
      java.lang.Math.multiplyExact(instantSec, 1000000L), micros % 1000000L)
  }
}

/** `graft_strptime(s, pattern)` / try flavor — see [[StrptimeDyn]]. */
case class StrptimeDynExpr(left: Expression, right: Expression,
    tryMode: Boolean) extends BinaryExpression {
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true
  override def prettyName: String =
    if (tryMode) "graft_strptime_try" else "graft_strptime"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string), got (${l.simpleString}, ${r.simpleString})")
    }
  override protected def nullSafeEval(s: Any, pat: Any): Any =
    if (tryMode) StrptimeDyn.parseTry(s.asInstanceOf[UTF8String], pat.asInstanceOf[UTF8String])
    else StrptimeDyn.parse(s.asInstanceOf[UTF8String], pat.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (tryMode)
      nullSafeCodeGen(ctx, ev, (s, pat) =>
        s"""java.lang.Long __g_r = graft.functions.StrptimeDyn.parseTry($s, $pat);
           |if (__g_r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = __g_r.longValue(); }
           |""".stripMargin)
    else
      defineCodeGen(ctx, ev, (s, pat) =>
        s"graft.functions.StrptimeDyn.parse($s, $pat)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StrptimeDynExpr =
    copy(left = l, right = r)
}
