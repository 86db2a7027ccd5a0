package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{CaseWhen, EqualTo, Expression, Literal}
import org.apache.spark.sql.functions._

/** The scalar-function tail the reference registers
  * (`ql/exec/FunctionRegistry.java:193-533`) and Spark 4 lacks.
  *
  * Strategy (SURVEY.md §7.2 item 3): plain registrations first; the hot
  * string/hash path (`fingerprint64`) is a native Catalyst expression with
  * codegen (see [[Fingerprint64]]) so it stays inside whole-stage codegen
  * at 100 TB scan scale.
  */
/** Hive `length` (ql/udf/UDFLength.java): CHAR values measure their
  * pad-stripped form; everything else is Spark's Length. Resolves the
  * char-vs-string distinction AFTER analysis via RuntimeReplaceable,
  * so it stays codegen'd. */
case class HiveLength(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  import org.apache.spark.sql.catalyst.expressions.{Length, StringTrimRight}
  override lazy val replacement: Expression = child.dataType match {
    case _: org.apache.spark.sql.types.CharType =>
      Length(StringTrimRight(child))
    case _ => Length(child)
  }
  override protected def withNewChildInternal(c: Expression): HiveLength =
    copy(child = c)
}

/** Hive's data-masking family, full-fidelity
  * (ql/udf/generic/GenericUDFMask.java MaskTransformer + the
  * First/Last/ShowFirst/ShowLast N variants, BaseMaskUDF arg rules):
  * config args are constants — int literals pass through, string
  * literals contribute charAt(0) for char-configs and parseInt for
  * int-configs; -1 leaves the class unmasked. Strings mask per
  * character class; integral types rebuild digit-by-digit in their own
  * width (overflow wraps exactly like the reference's byte/short
  * arithmetic); dates mask year(1900-based)/month(0-based)/day.
  *
  * kind: 0=all, 1=first_n, 2=last_n, 3=show_first_n, 4=show_last_n.
  * Evaluated via CodegenFallback — masking is never a hot scan path. */
case class HiveMask(kind: Int, children: Seq[Expression])
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types._

  override def nullable: Boolean = true
  override def dataType: DataType = children.head.dataType match {
    case _: CharType | _: VarcharType => StringType
    case dt => dt
  }
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  private lazy val cfgStart = if (kind == 0) 1 else 2
  private def evalArg(i: Int): Option[Any] =
    children.lift(i).map(_.eval(
      org.apache.spark.sql.catalyst.InternalRow.empty))
  private def charArg(off: Int, d: Int): Int = evalArg(cfgStart + off)
    .map {
      case null => d
      case s: org.apache.spark.unsafe.types.UTF8String =>
        val t = s.toString; if (t.isEmpty) d else t.charAt(0).toInt
      case n: java.lang.Number => n.intValue
      case _ => d
    }.getOrElse(d)
  private def intArg(off: Int, d: Int): Int = evalArg(cfgStart + off)
    .map {
      case null => d
      case s: org.apache.spark.unsafe.types.UTF8String =>
        val t = s.toString
        if (t.isEmpty) d
        else try t.toInt catch { case _: NumberFormatException => d }
      case n: java.lang.Number => n.intValue
      case _ => d
    }.getOrElse(d)
  private lazy val upperC = charArg(0, 'X')
  private lazy val lowerC = charArg(1, 'x')
  private lazy val digitC = charArg(2, 'n')
  private lazy val otherC = charArg(3, -1)
  private lazy val numberV = {
    val v = intArg(4, 1); if (v < 0 || v > 9) 1 else v }
  private lazy val dayV = {
    val v = intArg(5, 1)
    if (v != -1 && (v < 1 || v > 31)) 1 else v }
  private lazy val monthV = {
    val v = intArg(6, 0)
    if (v != -1 && (v < 0 || v > 11)) 0 else v }
  private lazy val yearV = intArg(7, 0)
  private lazy val charCount = {
    val v = children.lift(1).map(_.eval(
      org.apache.spark.sql.catalyst.InternalRow.empty)) match {
      case Some(n: java.lang.Number) => n.intValue
      case Some(s: org.apache.spark.unsafe.types.UTF8String) =>
        try s.toString.toInt catch { case _: NumberFormatException => 4 }
      case _ => 4
    }
    if (v < 0) 0 else v
  }

  private def maskChar(c: Char): Int = {
    import java.lang.Character._
    getType(c) match {
      case UPPERCASE_LETTER if upperC != -1 => upperC
      case LOWERCASE_LETTER if lowerC != -1 => lowerC
      case DECIMAL_DIGIT_NUMBER if digitC != -1 => digitC
      case t if t != UPPERCASE_LETTER && t != LOWERCASE_LETTER &&
        t != DECIMAL_DIGIT_NUMBER && otherC != -1 => otherC
      case _ => c.toInt
    }
  }

  private def maskString(s: String): String = {
    val len = s.length
    // [maskFrom, maskTo) is the masked index range per kind
    val (from, to) = kind match {
      case 0 => (0, len)
      case 1 => (0, math.min(charCount, len))
      case 2 => (math.max(0, len - charCount), len)
      case 3 => (math.min(charCount, len), len)
      case 4 => (0, math.max(0, len - charCount))
    }
    val b = new java.lang.StringBuilder(len)
    var i = 0
    while (i < len) {
      if (i >= from && i < to) b.appendCodePoint(maskChar(s.charAt(i)))
      else b.append(s.charAt(i))
      i += 1
    }
    b.toString
  }

  /** Digit rebuild in LONG, truncated to the input width by the
    * caller — the reference's per-width arithmetic wraps the same way
    * two's-complement truncation does. */
  private def maskLong(value: Long): Long = {
    var v = math.abs(value)
    var digitCount = 0
    var t = v
    while (t != 0) { digitCount += 1; t /= 10 }
    // digits masked per kind, counted from the LEAST significant end
    // (i >= retainCount masks — reference MaskFirstNTransformer)
    def maskedAt(i: Int): Boolean = kind match {
      case 0 => true
      case 1 => i >= (if (digitCount < charCount) 0
                      else digitCount - charCount)
      case 2 => i < math.min(charCount, digitCount)
      case 3 =>
        val maskCount = digitCount - charCount
        maskCount > 0 && i < maskCount
      case 4 =>
        val retain = math.min(charCount, digitCount)
        i >= retain
    }
    // show_first_n masks from the end: digits AFTER the first N; in
    // reference ShowFirstN, maskCount = digitCount - charCount low
    // digits are masked (i < maskCount)
    var ret = 0L
    var pos = 1L
    var i = 0
    while (v != 0) {
      ret += (if (maskedAt(i)) numberV * pos else (v % 10) * pos)
      v /= 10
      pos *= 10
      i += 1
    }
    if (value < 0) -ret else ret
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow)
      : Any = {
    val v = children.head.eval(input)
    if (v == null) return null
    children.head.dataType match {
      // CHAR masks its blank-PADDED value and Hive renders the result
      // as char(255) — the masking UDFs' output char length is the
      // type's maximum, not the input's (qtest udf_mask goldens)
      case CharType(n) =>
        val raw = v.toString
        val padded =
          if (raw.length < n) raw + (" " * (n - raw.length)) else raw
        val masked = maskString(padded)
        org.apache.spark.unsafe.types.UTF8String.fromString(
          if (masked.length < 255)
            masked + (" " * (255 - masked.length))
          else masked)
      case StringType | _: VarcharType =>
        org.apache.spark.unsafe.types.UTF8String.fromString(
          maskString(v.toString))
      case ByteType => maskLong(v.asInstanceOf[Byte].toLong).toByte
      case ShortType => maskLong(v.asInstanceOf[Short].toLong).toShort
      case IntegerType => maskLong(v.asInstanceOf[Int].toLong).toInt
      case LongType => maskLong(v.asInstanceOf[Long])
      case DateType =>
        val d = java.time.LocalDate.ofEpochDay(
          v.asInstanceOf[Int].toLong)
        val y = if (yearV == -1) d.getYear - 1900 else yearV
        val m = if (monthV == -1) d.getMonthValue - 1 else monthV
        val day = if (dayV == -1) d.getDayOfMonth else dayV
        val c = new java.util.GregorianCalendar(1900 + y, m, day)
        java.time.LocalDate.of(c.get(java.util.Calendar.YEAR),
          c.get(java.util.Calendar.MONTH) + 1,
          c.get(java.util.Calendar.DAY_OF_MONTH)).toEpochDay.toInt
      case _ => null
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** Hive `substr` (ql/udf/UDFSubstr.java makeIndex): a negative start
  * position beyond the value's length yields the EMPTY string —
  * Spark's Substring clamps to the start and returns the whole value.
  * Everything else (0 treated as 1, length clamp, negative length →
  * empty) already agrees, so the guard is one codegen'd If around
  * Spark's own Substring. */
case class HiveSubstr(str: Expression, pos: Expression, len: Expression)
  extends org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.types._
  override def children: Seq[Expression] = Seq(str, pos, len)
  override lazy val replacement: Expression = str.dataType match {
    // untyped NULL anywhere: the whole call is NULL — Substring/If
    // over VOID breaks the replacement's type requirements
    case _ if str.dataType == NullType || pos.dataType == NullType ||
        len.dataType == NullType =>
      Literal.create(null,
        if (str.dataType == BinaryType) BinaryType else StringType)
    case dt =>
      // char/varchar operate on the (pad-stripped) STRING value, like
      // the reference's string converter hands UDFSubstr
      val strE: Expression = dt match {
        case BinaryType => str
        case StringType => str
        case _ => Cast(str, StringType)
      }
      val empty: Expression = dt match {
        case BinaryType => Literal(Array.emptyByteArray)
        case _ => Literal("")
      }
      If(And(LessThan(pos, Literal(0)),
          GreaterThan(UnaryMinus(pos), Length(strE))),
        empty, Substring(strE, pos, len))
  }
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): HiveSubstr =
    copy(str = c(0), pos = c(1), len = c(2))
}

/** Hive `mask_hash` (ql/udf/generic/GenericUDFMaskHash.java): md5 hex
  * of string-family values — char hashes its padded form and renders
  * char(255) — and NULL for every other input type. */
case class HiveMaskHash(child: Expression)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  import org.apache.spark.sql.types._
  override def nullable: Boolean = true
  override def dataType: DataType = StringType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow)
      : Any = {
    val v = child.eval(input)
    if (v == null) return null
    child.dataType match {
      case CharType(n) =>
        val raw = v.toString
        val padded =
          if (raw.length < n) raw + (" " * (n - raw.length)) else raw
        val h = org.apache.commons.codec.digest.DigestUtils.md5Hex(padded)
        org.apache.spark.unsafe.types.UTF8String.fromString(
          h + (" " * (255 - h.length)))
      case StringType | _: VarcharType =>
        org.apache.spark.unsafe.types.UTF8String.fromString(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(v.toString))
      case _ => null
    }
  }
  override protected def withNewChildInternal(c: Expression): HiveMaskHash =
    copy(child = c)
}

/** Hive `field(needle, v1, v2, ...)` -> 1-based index of the first match,
  * 0 if none (ref: ql/udf/generic/GenericUDFField.java). Hive compares
  * each pair with ObjectInspectorUtils.compare on the ORIGINAL types —
  * different primitive categories (string vs int, int vs bigint) are
  * NEVER equal (ObjectInspectorUtils.java:843-849), so the replacement
  * drops cross-category branches instead of letting Spark's implicit
  * coercion equate `"66" = 66`. Resolves types post-analysis via
  * RuntimeReplaceable; the survivors codegen as a plain CASE chain. */
case class HiveField(children: Seq[Expression])
  extends Expression
  with org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable {
  import org.apache.spark.sql.types._

  private def cat(dt: DataType): Int = dt match {
    case BooleanType => 1
    case ByteType => 2
    case ShortType => 3
    case IntegerType => 4
    case LongType => 5
    case FloatType => 6
    case DoubleType => 7
    // the string family collapses to one bucket: the engine reads
    // char/varchar columns as padded/plain strings
    case StringType | _: CharType | _: VarcharType => 8
    case DateType => 9
    case TimestampType => 10
    case BinaryType => 11
    case _: DecimalType => 12
    case _ => -1
  }

  override lazy val replacement: Expression = {
    val needle = children.head
    val nc = cat(needle.dataType)
    def asStr(e: Expression) = e.dataType match {
      case org.apache.spark.sql.types.StringType => e
      case _ => org.apache.spark.sql.catalyst.expressions.Cast(e,
        org.apache.spark.sql.types.StringType,
        Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
    }
    val branches = children.tail.zipWithIndex.flatMap { case (e, i) =>
      if (nc < 0 || cat(e.dataType) != nc) None
      else if (nc == 8) Some((EqualTo(asStr(needle), asStr(e)), Literal(i + 1)))
      else Some((EqualTo(needle, e), Literal(i + 1)))
    }
    if (branches.isEmpty) Literal(0) else CaseWhen(branches, Some(Literal(0)))
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** Hive `printf(fmt, args...)` (ql/udf/generic/GenericUDFPrintf.java):
  * decimals are converted to DOUBLE before formatting (the Java
  * Formatter rejects decimal objects for %e/%f — Printf.java:133-138),
  * and timestamp/date/binary args arrive as their string renderings.
  * Spark's FormatString passes raw Catalyst values, so `%e` on a
  * decimal column throws — this replacement applies Hive's arg
  * conversions and then delegates, staying codegen'd. */
case class HivePrintf(children: Seq[Expression])
  extends Expression
  with org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable {
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.expressions.Cast

  override lazy val replacement: Expression = {
    val tz = Some(org.apache.spark.sql.internal.SQLConf.get
      .sessionLocalTimeZone)
    val fmt = children.head.dataType match {
      case StringType => children.head
      case _ => Cast(children.head, StringType, tz)
    }
    val args = children.tail.map { e =>
      e.dataType match {
        case _: DecimalType => Cast(e, DoubleType, tz)
        case BinaryType =>
          // the reference passes the raw BytesWritable to the Java
          // Formatter; %s renders its toString — per-byte lowercase
          // hex, space-separated (Printf.java default case)
          import org.apache.spark.sql.catalyst.expressions.{Hex, Lower,
            Literal, RegExpReplace}
          RegExpReplace(Lower(Hex(e)),
            Literal("(..)(?!$)"), Literal("$1 "))
        case TimestampType | DateType | _: CharType |
            _: VarcharType => Cast(e, StringType, tz)
        case _ => e
      }
    }
    org.apache.spark.sql.catalyst.expressions.FormatString(fmt +: args: _*)
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** CHAR(n) values enter Hive string functions pad-stripped (the
  * string converters go through HiveChar.getStrippedValue); plain
  * strings pass through untouched. */
case class CharStrip(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  override lazy val replacement: Expression = child.dataType match {
    case _: org.apache.spark.sql.types.CharType =>
      // cast to STRING too — a char(n)-typed result would be re-padded
      // by read-side padding at collect (see HiveCharArgStrip)
      org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.StringTrimRight(child),
        org.apache.spark.sql.types.StringType)
    case _ => child
  }
  override protected def withNewChildInternal(c: Expression): CharStrip =
    copy(child = c)
}

/** Hive `date_format(dt, fmt)` formats through
  * java.text.SimpleDateFormat (GenericUDFDateFormat.java), whose
  * pattern language differs from Spark's DateTimeFormatter ('Q' and
  * other letters are rejected by Spark, week-year 'Y' differs).
  * Evaluates with SimpleDateFormat in the session zone for full
  * pattern parity. String inputs parse with Hive's lenient calendar.
  * CodegenFallback — formatting is never the scan bottleneck. */
case class HiveDateFormat(children: Seq[Expression])
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types._

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  // captured at plan time on the driver; SQLConf.get is not the
  // session's on executors
  private val zoneId: String =
    org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone

  @transient private lazy val zone = java.util.TimeZone.getTimeZone(zoneId)
  @transient private lazy val fmtCache =
    new java.util.HashMap[String, java.text.SimpleDateFormat]()

  private def sdf(p: String): java.text.SimpleDateFormat = {
    var f = fmtCache.get(p)
    if (f == null) {
      f = new java.text.SimpleDateFormat(p, java.util.Locale.US)
      f.setTimeZone(zone)
      fmtCache.put(p, f)
    }
    f
  }

  private def toMillis(v: Any, dt: DataType): java.lang.Long = dt match {
    case TimestampType | TimestampNTZType =>
      v.asInstanceOf[Long] / 1000L
    case DateType =>
      java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong)
        .atStartOfDay(zone.toZoneId).toInstant.toEpochMilli
    case StringType | _: CharType | _: VarcharType =>
      val s = v.toString
      org.apache.spark.sql.catalyst.util.DateTimeUtils.stringToTimestamp(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        zone.toZoneId) match {
        case scala.Some(micros) => micros / 1000L
        case scala.None =>
          graft.plans.HiveCasts.lenientDateRoll(s) match {
            case scala.Some(d) =>
              d.atStartOfDay(zone.toZoneId).toInstant.toEpochMilli
            case scala.None => null
          }
      }
    case _ => null
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = children(0).eval(input)
    val p = children(1).eval(input)
    if (v == null || p == null) return null
    val ms = toMillis(v, children(0).dataType)
    if (ms == null) return null
    try org.apache.spark.unsafe.types.UTF8String.fromString(
      sdf(p.toString).format(new java.util.Date(ms)))
    catch { case _: IllegalArgumentException => null }
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** Hive's date-UDF string conversion (GenericUDFMonthsBetween and
  * friends): try java.sql.Timestamp.valueOf — which REQUIRES a full
  * `HH:mm:ss` time — and on failure fall back to the lenient DATE
  * parse, dropping any partial time-of-day. '1995-02-02 10:39' is
  * midnight Feb 2 to Hive; '2002-02-31' rolls to Mar 3. */
case class HiveTsOrDate(child: Expression, zoneId: String)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.TimestampType
  // unparseable text maps to null even when the child can't be null
  override def nullable: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  @transient private lazy val zone = java.time.ZoneId.of(zoneId)
  override def nullSafeEval(v: Any): Any = {
    val str = v.toString.trim
    val parts = str.split("[ T]", 2)
    val micros = graft.plans.HiveCasts.lenientDateRoll(parts(0)) match {
      case Some(d) =>
        val full =
          if (parts.length > 1 &&
              parts(1).matches("""\d{1,2}:\d{2}:\d{2}(\.\d+)?"""))
            d.toString + " " + parts(1)
          else d.toString
        org.apache.spark.sql.catalyst.util.DateTimeUtils.stringToTimestamp(
          org.apache.spark.unsafe.types.UTF8String.fromString(full), zone)
      // not y-m-d shaped ('2012-03', '20120324'): Hive's date parse
      // rejects it → NULL, even though Spark could parse some forms
      case None => None
    }
    micros.map(Long.box).orNull
  }
  override protected def withNewChildInternal(c: Expression): HiveTsOrDate =
    copy(child = c)
}

case class HiveMonthsBetween(children: Seq[Expression])
  extends Expression
  with org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable {
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.expressions._
  override lazy val replacement: Expression = {
    val zid = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
    def conv(e: Expression): Expression = e.dataType match {
      case StringType | _: CharType | _: VarcharType => HiveTsOrDate(e, zid)
      case TimestampType => e
      case _ => Cast(e, TimestampType, Some(zid))
    }
    val roundOff = children.lift(2).getOrElse(Literal(true))
    MonthsBetween(conv(children(0)), conv(children(1)), roundOff, Some(zid))
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** Hive `sign`: the DECIMAL overload returns signum() as an INT,
  * other numerics return a DOUBLE (UDFSign.java:47-88). */
case class HiveSign(child: Expression)
  extends Expression
  with org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable {
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.expressions._
  override def children: Seq[Expression] = Seq(child)
  override lazy val replacement: Expression = child.dataType match {
    case _: DecimalType =>
      Cast(Signum(Cast(child, DoubleType)), IntegerType)
    case _ => Signum(Cast(child, DoubleType))
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** Numeric branch of Hive `trunc(N[, D])`
  * (ql/udf/generic/GenericUDFTrunc.java:375-460): truncate toward zero
  * to D decimal places via BigDecimal ROUND_DOWN; negative D zeroes
  * digits left of the point; integral inputs pass through unchanged
  * for D >= 0. Result keeps the input's type. D may be a per-row
  * column (the reference evaluates it per call). CodegenFallback —
  * never a hot scan path. */
case class HiveTruncNumber(children: Seq[Expression])
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types._

  override def nullable: Boolean = true
  override def dataType: DataType = children.head.dataType
  private def truncBd(b: java.math.BigDecimal, s: Int) =
    b.setScale(s, java.math.RoundingMode.DOWN)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = children.head.eval(input)
    if (v == null) return null
    // a NULL scale leaves the default 0 in place (GenericUDFTrunc
    // evaluateNumber only overwrites scale when the arg is non-null)
    val sv = if (children.length > 1) children(1).eval(input) else null
    val s = if (sv == null) 0 else sv.asInstanceOf[Number].intValue()
    children.head.dataType match {
      case dt: DecimalType =>
        val d = v.asInstanceOf[org.apache.spark.sql.types.Decimal]
        val t = truncBd(d.toJavaBigDecimal, s).setScale(dt.scale)
        org.apache.spark.sql.types.Decimal(t, dt.precision, dt.scale)
      case DoubleType =>
        truncBd(java.math.BigDecimal.valueOf(v.asInstanceOf[Double]), s)
          .doubleValue()
      case FloatType =>
        truncBd(new java.math.BigDecimal(
          v.asInstanceOf[Float].toString), s).floatValue()
      case ByteType =>
        if (s >= 0) v
        else truncBd(java.math.BigDecimal.valueOf(
          v.asInstanceOf[Byte].toLong), s).byteValue()
      case ShortType =>
        if (s >= 0) v
        else truncBd(java.math.BigDecimal.valueOf(
          v.asInstanceOf[Short].toLong), s).shortValue()
      case IntegerType =>
        if (s >= 0) v
        else truncBd(java.math.BigDecimal.valueOf(
          v.asInstanceOf[Int].toLong), s).intValue()
      case LongType =>
        if (s >= 0) v
        else truncBd(java.math.BigDecimal.valueOf(
          v.asInstanceOf[Long]), s).longValue()
      case _ => null
    }
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** Hive `trunc` dispatches on the FIRST argument's type
  * (GenericUDFTrunc.initialize): numbers truncate decimal places,
  * date/timestamp/string truncate to a calendar unit. The date branch
  * also accepts 'Q' as a synonym for QUARTER (evalDate), which
  * Spark's TruncDate rejects. */
case class HiveTrunc(children: Seq[Expression])
  extends Expression
  with org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable {
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.expressions._

  override lazy val replacement: Expression = children.head.dataType match {
    // a single argument always means the numeric form
    // (GenericUDFTrunc.initialize:123-127)
    case _: NumericType | NullType => HiveTruncNumber(children)
    case _ if children.length == 1 => HiveTruncNumber(children)
    case _ =>
      val tz = Some(org.apache.spark.sql.internal.SQLConf.get
        .sessionLocalTimeZone)
      val d = children.head match {
        // the replacement is built post-analysis, so the HiveCasts
        // lenient-date-literal rule can't see this Cast — roll
        // out-of-range month/day literals here ('2014-01-34' is
        // 2014-02-03 to Hive's lenient calendar, NULL to Spark's)
        case Literal(s: org.apache.spark.unsafe.types.UTF8String,
            StringType) if s != null &&
            graft.plans.HiveCasts.lenientDateRoll(s.toString).isDefined =>
          Literal(graft.plans.HiveCasts.lenientDateRoll(s.toString)
            .get.toEpochDay.toInt, DateType)
        case e if e.dataType == DateType => e
        case e => Cast(e, DateType, tz)
      }
      val f = children(1)
      val fFixed = If(EqualTo(Upper(f), Literal("Q")),
        Literal("QUARTER"), f)
      TruncDate(d, fFixed)
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** Hive `sort_array` accepts array<map> (GenericUDFSortArray via
  * ObjectInspectorUtils.compare with FullMapEqualComparer: maps order
  * by size, then by sorted keys and their values pairwise —
  * FullMapEqualComparer.java:46-80); Spark's SortArray rejects map
  * elements as unorderable. Non-map element types delegate to Spark's
  * native SortArray. */
/** The reference's recursive value comparator
  * (ObjectInspectorUtils.compare with FullMapEqualComparer): maps
  * order by size, then by sorted keys and their values pairwise;
  * structs field-by-field; arrays elementwise then by length. Used
  * where Spark's interpreted ordering refuses (map-bearing types). */
object HiveValueCompare {
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.util.{ArrayData, MapData, TypeUtils}

  def compare(a: Any, b: Any, dt: DataType): Int = {
    if (a == null && b == null) return 0
    if (a == null) return -1
    if (b == null) return 1
    dt match {
      case m: MapType => cmpMaps(a.asInstanceOf[MapData],
        b.asInstanceOf[MapData], m)
      case s: StructType =>
        val (r1, r2) = (a.asInstanceOf[InternalRow], b.asInstanceOf[InternalRow])
        var i = 0
        while (i < s.fields.length) {
          val f = s.fields(i).dataType
          val c = compare(
            if (r1.isNullAt(i)) null else r1.get(i, f),
            if (r2.isNullAt(i)) null else r2.get(i, f), f)
          if (c != 0) return c
          i += 1
        }
        0
      case ArrayType(et, _) =>
        val (a1, a2) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
        val n = math.min(a1.numElements(), a2.numElements())
        var i = 0
        while (i < n) {
          val c = compare(
            if (a1.isNullAt(i)) null else a1.get(i, et),
            if (a2.isNullAt(i)) null else a2.get(i, et), et)
          if (c != 0) return c
          i += 1
        }
        a1.numElements() - a2.numElements()
      case o =>
        TypeUtils.getInterpretedOrdering(o).compare(a, b)
    }
  }

  private def cmpMaps(m1: MapData, m2: MapData, mt: MapType): Int = {
    if (m1.numElements() != m2.numElements())
      return m1.numElements() - m2.numElements()
    val n = m1.numElements()
    def parts(m: MapData) = {
      val ks = m.keyArray().toObjectArray(mt.keyType)
      val vs = m.valueArray().toObjectArray(mt.valueType)
      val idx = (0 until n).sortWith((x, y) =>
        compare(ks(x), ks(y), mt.keyType) < 0)
      (ks, vs, idx)
    }
    val (k1, v1, i1) = parts(m1)
    val (k2, v2, i2) = parts(m2)
    var i = 0
    while (i < n) {
      val kc = compare(k1(i1(i)), k2(i2(i)), mt.keyType)
      if (kc != 0) return kc
      val vc = compare(v1(i1(i)), v2(i2(i)), mt.valueType)
      if (vc != 0) return vc
      i += 1
    }
    0
  }
}

/** sort_array over element types Spark's SortArray rejects as
  * unorderable (maps, structs containing maps) — Hive sorts them via
  * ObjectInspectorUtils.compare (GenericUDFSortArray). */
case class HiveSortArrayMaps(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

  override def dataType: DataType = child.dataType
  private lazy val elemType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData].toObjectArray(elemType)
    new GenericArrayData(arr.sortWith((a, b) =>
      HiveValueCompare.compare(a, b, elemType) < 0))
  }
  override protected def withNewChildInternal(c: Expression)
      : HiveSortArrayMaps = copy(child = c)
}

case class HiveSortArray(children: Seq[Expression])
  extends Expression
  with org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable {
  import org.apache.spark.sql.types._
  override lazy val replacement: Expression = children.head.dataType match {
    case ArrayType(et, _)
        if !org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(et) => HiveSortArrayMaps(children.head)
    case _ => org.apache.spark.sql.catalyst.expressions.SortArray(
      children.head, children.lift(1).getOrElse(Literal(true)))
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** Instance-method fallback for reflect: Hive's GenericUDFReflect
  * instantiates the class with its no-arg constructor when the matched
  * method isn't static (ReflectionUtils.newInstance path), so
  * `reflect('java.lang.String', 'isEmpty')` works. Resolution happens
  * at eval time (first call), matching Hive's lazy failure mode. */
case class ReflectInstance(children: Seq[Expression])
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types._

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = false
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  private def argClass(dt: DataType): Class[_] = dt match {
    case BooleanType => java.lang.Boolean.TYPE
    case ByteType => java.lang.Byte.TYPE
    case ShortType => java.lang.Short.TYPE
    case IntegerType => java.lang.Integer.TYPE
    case LongType => java.lang.Long.TYPE
    case FloatType => java.lang.Float.TYPE
    case DoubleType => java.lang.Double.TYPE
    case _ => classOf[String]
  }

  @transient private lazy val resolved0: (java.lang.reflect.Method, Any) = {
    val clsName = children(0).eval().toString
    val mName = children(1).eval().toString
    val cls = Class.forName(clsName)
    val argCls = children.drop(2).map(c => argClass(c.dataType))
    val named = cls.getMethods.filter(m => m.getName == mName &&
      m.getParameterCount == argCls.length)
    // exact parameter match first, then any same-arity overload
    val m = named.find(_.getParameterTypes.toSeq == argCls)
      .orElse(named.headOption).getOrElse(
        throw new RuntimeException(s"reflect: cannot resolve " +
          s"('$clsName', '$mName') with ${argCls.length} args"))
    val target =
      if (java.lang.reflect.Modifier.isStatic(m.getModifiers)) null
      else cls.getDeclaredConstructor().newInstance()
    (m, target)
  }

  private def toJava(v: Any, pt: Class[_]): AnyRef = v match {
    case null => null
    case u: org.apache.spark.unsafe.types.UTF8String => u.toString
    case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
    case other => other.asInstanceOf[AnyRef]
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val (m, target) = resolved0
    val args = children.drop(2).zip(m.getParameterTypes).map {
      case (c, pt) => toJava(c.eval(input), pt)
    }
    val r = m.invoke(target, args: _*)
    if (r == null) null
    else org.apache.spark.unsafe.types.UTF8String.fromString(r.toString)
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

case class HiveReflect(children: Seq[Expression])
  extends Expression
  with org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable {
  override lazy val replacement: Expression = {
    val direct =
      org.apache.spark.sql.catalyst.expressions.CallMethodViaReflection(
        children)
    if (direct.checkInputDataTypes().isFailure) ReflectInstance(children)
    else direct
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object GapFunctions {

  // --- Hive data-masking family (ref: ql/exec/FunctionRegistry.java:525-531,
  // ql/udf/generic/GenericUDFMaskFirstN.java etc). Upper -> X, lower -> x,
  // digit -> n; other chars pass through. Spark 3.4+ has `mask` but not the
  // positional *_n variants.
  private def maskChar(c: Char): Char =
    if (c.isUpper) 'X' else if (c.isLower) 'x' else if (c.isDigit) 'n' else c

  def maskAll(s: String): String = if (s == null) null else s.map(maskChar)
  def maskFirstN(s: String, n: Int): String =
    if (s == null) null
    else {
      val k = math.max(0, math.min(n, s.length))
      s.substring(0, k).map(maskChar) + s.substring(k)
    }
  def maskLastN(s: String, n: Int): String =
    if (s == null) null
    else {
      val k = math.max(0, math.min(n, s.length))
      s.substring(0, s.length - k) + s.substring(s.length - k).map(maskChar)
    }
  def maskShowFirstN(s: String, n: Int): String =
    if (s == null) null
    else {
      val k = math.max(0, math.min(n, s.length))
      s.substring(0, k) + s.substring(k).map(maskChar)
    }
  def maskShowLastN(s: String, n: Int): String =
    if (s == null) null
    else {
      val k = math.max(0, math.min(n, s.length))
      s.substring(0, s.length - k).map(maskChar) + s.substring(s.length - k)
    }

  /** Hive `sort_array_by(arr_of_struct, 'fieldName')`
    * (ref: ql/udf/generic/GenericUDFSortArrayByField.java) as a Column
    * helper: delegates to Catalyst's higher-order `array_sort` with a field
    * comparator — fully codegen'd, no UDF.
    */
  def sortArrayBy(arr: Column, field: String, asc: Boolean = true): Column = {
    val sign = if (asc) 1 else -1
    array_sort(arr, (l, r) =>
      when(l.getField(field) < r.getField(field), -1 * sign)
        .when(l.getField(field) > r.getField(field), 1 * sign)
        .otherwise(0))
  }

  /** Hive `parse_url_tuple(url, 'HOST', 'PATH', ...)` UDTF
    * (ref: ql/udf/generic/GenericUDTFParseUrlTuple.java) re-expressed as a
    * struct of scalar `parse_url` calls (each codegen'd).
    */
  def parseUrlTuple(url: Column, parts: String*): Column =
    struct(parts.map(p => parse_url(url, lit(p)).as(p.toLowerCase)): _*)

  /** Hive `replicate_rows(n, ...)` UDTF
    * (ref: ql/exec/FunctionRegistry.java:494; used to expand
    * INTERSECT/EXCEPT ALL): emit each row n times. Distributed — the
    * expansion happens per-partition via explode, no driver loop.
    */
  def replicateRows(df: DataFrame, nCol: Column): DataFrame = {
    val cols = df.columns
    df.withColumn("__rep", explode(sequence(lit(1L), nCol.cast("long"))))
      .select(cols.head, cols.tail: _*)
  }

  /** Hive `uniontype<T0,T1,...>` (SURVEY.md §1.2) has no Spark type;
    * the engine's encoding is a tagged struct `struct<tag:int,
    * field0:T0, ...>`, mirroring how Hive itself only touches unions via
    * the create_union/extract_union UDFs
    * (ql/exec/FunctionRegistry.java:459-460, GenericUDFUnion). */
  def createUnion(tag: Column, values: Column*): Column =
    struct(tag.as("tag") +:
      values.zipWithIndex.map { case (v, i) => v.as(s"field$i") }: _*)

  /** extract_union(u) -> the full tagged struct (Hive returns the same
    * struct-of-all-alternatives view). */
  def extractUnion(u: Column): Column = u

  /** extract_union(u, tag) -> the value slot for that tag (NULL if the
    * union currently holds a different alternative is the caller's
    * responsibility, same as Hive). */
  def extractUnion(u: Column, tag: Int): Column = u.getField(s"field$tag")

  def fingerprint64(c: Column): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      Fingerprint64(org.apache.spark.sql.GraftSqlShim.expression(c)))

  /** Hive `in_file(str, filename)` (ref: ql/udf/generic/GenericUDFInFile
    * .java): true iff `str` equals a full line of the file. Executors
    * cache file contents per JVM (Hive ships the file via distributed
    * cache; here any shared-FS path works). */
  private val inFileCache =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()

  /** Hive ships in_file lookup files via distributed cache (small by
    * construction); cap what one executor JVM will pin in memory. */
  private val InFileMaxBytes = 64L << 20

  def inFile(s: String, path: String): java.lang.Boolean = {
    if (s == null || path == null) return null
    val lines = inFileCache.computeIfAbsent(path, { p =>
      val sz = new java.io.File(p).length()
      require(sz <= InFileMaxBytes,
        s"in_file: $p is $sz bytes (cap ${InFileMaxBytes}); " +
          "use a join against the file read as a table instead")
      scala.io.Source.fromFile(p).getLines().toSet
    })
    lines.contains(s)
  }

  /** Hive CAST(s AS VARCHAR(n)) TRUNCATES on overflow
    * (serde2/typeinfo/BaseCharUtils.java enforceMaxLength); Spark's
    * VARCHAR(n) cast raises EXCEED_LIMIT_LENGTH instead, so the
    * truncating dialect cast gets its own name. Pure Substring —
    * codegen'd. */
  private def hiveVarcharBuilder(exprs: Seq[Expression]): Expression =
    org.apache.spark.sql.catalyst.expressions.Substring(exprs(0),
      Literal(1), exprs(1))

  /** Hive's escaped TRANSFORM transport (hive.transform.escape.input):
    * HiveUtils.escapeText writes `\`→`\\`, NL→`\n`, CR→`\r`, TAB→`\t`
    * and the internal ^A field separator as a REAL tab; unescapeText
    * inverts it, turning raw TABs back into ^A
    * (ql/metadata/HiveUtils.java:115-245). */
  def transformEscape(s: String): String = {
    if (s == null) return null
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case '\u0001' => sb.append('\t')
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  def transformUnescape(s: String): String = {
    if (s == null) return null
    val sb = new java.lang.StringBuilder(s.length)
    var hadSlash = false
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' =>
          if (hadSlash) { sb.append('\\'); hadSlash = false }
          else hadSlash = true
        case 'n' if hadSlash => sb.append('\n'); hadSlash = false
        case 'r' if hadSlash => sb.append('\r'); hadSlash = false
        case 't' if hadSlash => sb.append('\t'); hadSlash = false
        case '\t' =>
          if (hadSlash) { sb.append('\\'); hadSlash = false }
          sb.append('\u0001')
        case c =>
          if (hadSlash) { sb.append('\\'); hadSlash = false }
          sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Decode field `idx` (1-based) of a raw escaped script-output
    * line: unescape (raw TABs become ^A separators), split on ^A,
    * `\N` is SQL NULL, missing trailing fields are NULL. */
  def transformField(line: String, idx: Int): String = {
    if (line == null) return null
    val fields = transformUnescape(line).split("\u0001", -1)
    if (idx < 1 || idx > fields.length) null
    else if (fields(idx - 1) == "\\N") null
    else fields(idx - 1)
  }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    spark.udf.register("hive_escape_text",
      (s: String) => transformEscape(s))
    spark.udf.register("hive_transform_field",
      (line: String, idx: Int) => transformField(line, idx))
    reg.createOrReplaceTempFunction("field", es => HiveField(es), "built-in")
    // Hive's struct() names its fields col1..colN
    // (GenericUDFStruct.initialize); Spark preserves source column
    // names, which leaks into struct renderings and min/max(struct)
    // output headers. Registered under its own name because Spark's
    // PARSER claims `struct(` (SqlBaseParser #struct alternative)
    // before any registry lookup — the Hive dialect layer rewrites
    // `struct(` to `hive_struct(`.
    reg.createOrReplaceTempFunction("hive_struct", es =>
      org.apache.spark.sql.catalyst.expressions.CreateNamedStruct(
        es.zipWithIndex.flatMap { case (e, i) =>
          Seq(Literal(s"col${i + 1}"), e) }), "built-in")
    // CBO (Calcite return-path) plans name the same fields expr$0..N
    reg.createOrReplaceTempFunction("hive_struct_cbo", es =>
      org.apache.spark.sql.catalyst.expressions.CreateNamedStruct(
        es.zipWithIndex.flatMap { case (e, i) =>
          Seq(Literal(s"expr$$$i"), e) }), "built-in")
    reg.createOrReplaceTempFunction("printf", es => HivePrintf(es),
      "built-in")
    reg.createOrReplaceTempFunction("format_string", es => HivePrintf(es),
      "built-in")
    Seq("reflect", "java_method").foreach(n =>
      reg.createOrReplaceTempFunction(n, es => HiveReflect(es), "built-in"))
    reg.createOrReplaceTempFunction("trunc", es => HiveTrunc(es), "built-in")
    reg.createOrReplaceTempFunction("sort_array", es => HiveSortArray(es),
      "built-in")
    // Hive's collectors take ANY element type (maps included); the
    // SQL names bind to the compat aggregate — Column-API pipelines
    // keep Spark's native (faster partial-serialization) versions
    reg.createOrReplaceTempFunction("collect_set",
      es => HiveCollectSet(es.head), "built-in")
    reg.createOrReplaceTempFunction("collect_list",
      es => HiveCollectList(es.head), "built-in")
    // Hive variance-family bit-exact arithmetic (running-sum stream
    // update + pairwise merge, GenericUDAFVariance.java:206-266)
    reg.createOrReplaceTempFunction("hive_var_pop",
      es => HiveVarPop(es.head), "built-in")
    reg.createOrReplaceTempFunction("hive_var_samp",
      es => HiveVarSamp(es.head), "built-in")
    reg.createOrReplaceTempFunction("hive_stddev_pop",
      es => HiveStddevPop(es.head), "built-in")
    reg.createOrReplaceTempFunction("hive_stddev_samp",
      es => HiveStddevSamp(es.head), "built-in")
    // Hive MIN/MAX null ordering over complex values (nested nulls
    // sort LAST for min, FIRST for max — GenericUDAFMin.java:121)
    reg.createOrReplaceTempFunction("hive_min",
      es => HiveMin(es.head), "built-in")
    reg.createOrReplaceTempFunction("hive_max",
      es => HiveMax(es.head), "built-in")
    reg.createOrReplaceTempFunction("map_keys",
      es => HiveMapKeys(es.head), "built-in")
    reg.createOrReplaceTempFunction("map_values",
      es => HiveMapValues(es.head), "built-in")
    reg.createOrReplaceTempFunction("date_format",
      es => HiveDateFormat(es), "built-in")
    reg.createOrReplaceTempFunction("months_between",
      es => HiveMonthsBetween(es), "built-in")
    // Hive substring_index on CHAR(n) works on the pad-stripped value
    // (GenericUDFSubstringIndex via string converters)
    reg.createOrReplaceTempFunction("substring_index", es =>
      org.apache.spark.sql.catalyst.expressions.SubstringIndex(
        CharStrip(es(0)), es(1), es(2)), "built-in")
    // Hive log(b, x) is NULL for base <= 1 or x <= 0 (UDFLogBase
    // semantics in UDFLog.java); Spark's Logarithm computes the math
    // value (log(0.5, 2) = -1)
    reg.createOrReplaceTempFunction("log", {
      case Seq(x) => org.apache.spark.sql.catalyst.expressions.Log(x)
      case Seq(b, x) =>
        import org.apache.spark.sql.catalyst.expressions._
        import org.apache.spark.sql.types.DoubleType
        val bd = Cast(b, DoubleType)
        val xd = Cast(x, DoubleType)
        If(Or(LessThanOrEqual(bd, Literal(1.0d)),
            LessThanOrEqual(xd, Literal(0.0d))),
          Literal.create(null, DoubleType), Logarithm(bd, xd))
      case es => throw new IllegalArgumentException(
        s"log takes 1 or 2 arguments, got ${es.length}")
    }, "built-in")
    // Hive aes_encrypt/aes_decrypt are AES/ECB/PKCS5Padding
    // (GenericUDFAesBase.java) and return NULL for a key whose length
    // is not 16/24/32 bytes; Spark defaults to GCM (random IV — not
    // reproducible) and raises on a bad key
    def aesGuard(key: Expression, core: Expression): Expression = {
      import org.apache.spark.sql.catalyst.expressions._
      If(In(Length(key),
          Seq(Literal(16), Literal(24), Literal(32))),
        core, Literal.create(null, org.apache.spark.sql.types.BinaryType))
    }
    reg.createOrReplaceTempFunction("aes_encrypt", es => {
      import org.apache.spark.sql.catalyst.expressions._
      aesGuard(es(1), new AesEncrypt(es(0), es(1),
        Literal("ECB"), Literal("DEFAULT")))
    }, "built-in")
    reg.createOrReplaceTempFunction("aes_decrypt", es => {
      import org.apache.spark.sql.catalyst.expressions._
      aesGuard(es(1), new AesDecrypt(es(0), es(1),
        Literal("ECB"), Literal("DEFAULT")))
    }, "built-in")
    // Hive length() on CHAR(n) counts the STRIPPED value
    // (UDFLength via HiveChar.getStrippedValue) — Spark's counts the
    // padding. Other types keep Spark's (= Hive's) semantics,
    // including trailing spaces in plain strings.
    reg.createOrReplaceTempFunction("length",
      exprs => HiveLength(exprs.head), "built-in")
    reg.createOrReplaceTempFunction("character_length",
      exprs => HiveLength(exprs.head), "built-in")
    reg.createOrReplaceTempFunction("char_length",
      exprs => HiveLength(exprs.head), "built-in")
    reg.createOrReplaceTempFunction("hive_varchar", hiveVarcharBuilder,
      "built-in")
    // Hive virtual columns (ql/exec/TableScanOperator.java:110;
    // SURVEY.md §2.1) under their Hive names. BLOCK__OFFSET__INSIDE__FILE
    // maps to the split/block start offset (Spark tracks per-split, not
    // per-row, offsets — same granularity Hive reports for ORC/parquet).
    reg.createOrReplaceTempFunction("input__file__name",
      _ => org.apache.spark.sql.catalyst.expressions.InputFileName(),
      "built-in")
    reg.createOrReplaceTempFunction("block__offset__inside__file",
      _ => org.apache.spark.sql.catalyst.expressions.InputFileBlockStart(),
      "built-in")
    // ROW__ID (TableScanOperator.java:110; on ACID tables a struct of
    // writeid/bucketid/rowid). Copy-on-write tables have no write ids;
    // the stand-in mirrors the struct shape with the scan-unique
    // coordinates Spark has: task partition as the bucket, the
    // monotonic per-row counter as the row ordinal. Unique within a
    // scan — the same guarantee Hive gives outside ACID tables.
    reg.createOrReplaceTempFunction("row__id",
      _ => org.apache.spark.sql.catalyst.expressions.CreateNamedStruct(Seq(
        Literal("writeid"), Literal(0L),
        Literal("bucketid"),
        org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.SparkPartitionID(),
          org.apache.spark.sql.types.LongType),
        Literal("rowid"),
        org.apache.spark.sql.catalyst.expressions.MonotonicallyIncreasingID())),
      "built-in")
    // Hive's FLOOR(ts TO unit) internals (FunctionRegistry.java:209-217,
    // GenericUDFFloorCeilBase) — each is date_trunc at that unit
    Seq("day", "hour", "minute", "month", "quarter", "second", "week",
      "year").foreach { unit =>
      reg.createOrReplaceTempFunction(s"floor_$unit",
        exprs => org.apache.spark.sql.catalyst.expressions.TruncTimestamp(
          Literal(unit.toUpperCase), exprs.head), "built-in")
    }
    // logged_in_user (FunctionRegistry.java:205) == session user
    reg.createOrReplaceTempFunction("logged_in_user",
      _ => org.apache.spark.sql.catalyst.expressions.CurrentUser(),
      "built-in")
    // Hive registers the bracket operator as function "index"
    // (FunctionRegistry.java:300): 0-based array element / map value —
    // exactly Spark's extract-value semantics
    reg.createOrReplaceTempFunction("index",
      exprs => org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
        exprs(0), exprs(1)), "built-in")
    // UDFSqrt returns NULL for a negative input (UDFSqrt.java:44-51);
    // Spark's sqrt returns NaN
    reg.createOrReplaceTempFunction("sqrt", { es =>
      val d = org.apache.spark.sql.catalyst.expressions.Cast(es.head,
        org.apache.spark.sql.types.DoubleType)
      org.apache.spark.sql.catalyst.expressions.If(
        org.apache.spark.sql.catalyst.expressions.LessThan(d, Literal(0.0)),
        Literal.create(null, org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.catalyst.expressions.Sqrt(d))
    }, "built-in")
    // UDFSign's DECIMAL overload returns the signum as an INT
    // (UDFSign.java:74-88); double/long inputs keep Spark's double
    reg.createOrReplaceTempFunction("sign",
      es => HiveSign(es.head), "built-in")
    spark.udf.register("mask_all", (s: String) => maskAll(s))
    reg.createOrReplaceTempFunction("mask",
      es => HiveMask(0, es), "built-in")
    reg.createOrReplaceTempFunction("mask_first_n",
      es => HiveMask(1, es), "built-in")
    reg.createOrReplaceTempFunction("mask_last_n",
      es => HiveMask(2, es), "built-in")
    reg.createOrReplaceTempFunction("mask_show_first_n",
      es => HiveMask(3, es), "built-in")
    reg.createOrReplaceTempFunction("mask_show_last_n",
      es => HiveMask(4, es), "built-in")
    // GenericUDFMaskHash.java: md5 hex for the string family (char
    // hashes its padded value, result rendered char(255)), NULL for
    // any other type
    reg.createOrReplaceTempFunction("mask_hash",
      es => HiveMaskHash(es.head), "built-in")
    Seq("substr", "substring").foreach(n =>
      reg.createOrReplaceTempFunction(n, es => HiveSubstr(es(0), es(1),
        es.lift(2).getOrElse(Literal(Int.MaxValue))), "built-in"))
    spark.udf.register("in_file", (s: String, path: String) => inFile(s, path))
  }
}
