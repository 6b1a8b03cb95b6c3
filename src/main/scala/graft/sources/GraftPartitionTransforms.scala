package graft.sources

import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.types._

/** HIDDEN (transform) PARTITIONING — the Iceberg `PARTITIONED BY
  * (days(ts), bucket(16, k))` shape, on the graft catalog's
  * string-spec plumbing.
  *
  * A partition field is persisted as a CANONICAL STRING inside the
  * table's `partitionCols` (and each segment's `spec`): a plain column
  * name for identity, or `days(col)` / `bucket(n,col)` /
  * `truncate(w,col)` for transforms. Everything downstream that treats
  * specs as opaque string lists — spec-evolution era checks, per-group
  * compaction, snapshot pairing, the mixed-era degradations — keeps
  * working unchanged; only the places that must LOOK INSIDE a field
  * (the write router, DDL validation, rename, the planner-facing
  * `Transform` mapping, bucket-key pruning) parse it through
  * [[PartField]].
  *
  * Transform VALUE semantics (shared, single source of truth, by the
  * write router, compaction's era migration, the registered catalog
  * functions Spark resolves for write clustering, and scan-side key
  * pruning — a divergence between any two of these would mis-route or
  * mis-prune):
  *  - `days`:  timestamp micros → UTC epoch day (Long); DATE stays its
  *    epoch day (widened to Long).
  *  - `bucket`: Murmur3-32 of the canonical bytes (8-byte
  *    little-endian for integrals, UTF-8 bytes for strings), floorMod
  *    into n (Int). Graft-canonical — documented, stable, not tied to
  *    any JVM hashCode.
  *  - `truncate`: strings cut to w CODE POINTS (UTF8String.substring
  *    semantics); integrals floor to the containing width-w interval
  *    start (Long).
  *  - null in → null out (a null source routes to the null partition).
  */
private[graft] sealed trait PartField {
  def source: String
  def canonical: String
  /** Key/result type for a given source column type. */
  def resultType(src: DataType): DataType
  /** External-value semantics: input as the write router reads it
    * (String for strings; boxed internal primitives otherwise —
    * timestamps as micros Long, dates as epoch-day Int).
    */
  def eval(v: Any, src: DataType): Any
  def toTransform: Transform
  /** Column types this field may be declared over. */
  def validFor(src: DataType): Boolean
}

private[graft] case class PartIdentity(source: String) extends PartField {
  def canonical: String = source
  def resultType(src: DataType): DataType = src
  def eval(v: Any, src: DataType): Any = v
  def toTransform: Transform = Expressions.identity(source)
  def validFor(src: DataType): Boolean = src match {
    case LongType | IntegerType | ShortType | ByteType |
         DoubleType | FloatType | StringType | BooleanType |
         // Dates partition identically (the classic daily-partition
         // column, often GENERATED AS (CAST(ts AS DATE))): keys are
         // the internal epoch-day Int, temporal zone maps make the
         // min=max pruning exact, and overwrite literals normalize
         // through GraftCatalog.keyLiteral. Timestamps stay excluded
         // — per-microsecond identity partitions are a cardinality
         // accident; days()/hours() are the supported spellings.
         DateType => true
    case _ => false
  }
}

private[graft] case class PartDays(source: String) extends PartField {
  def canonical: String = s"days($source)"
  def resultType(src: DataType): DataType = LongType
  def eval(v: Any, src: DataType): Any =
    if (v == null) null
    else src match {
      case TimestampType | TimestampNTZType =>
        java.lang.Long.valueOf(PartField.epochDay(v.asInstanceOf[java.lang.Long]))
      case DateType => java.lang.Long.valueOf(v.asInstanceOf[Number].longValue())
      case dt => throw new IllegalArgumentException(s"days() over $dt")
    }
  def toTransform: Transform = Expressions.days(source)
  def validFor(src: DataType): Boolean = src match {
    case TimestampType | TimestampNTZType | DateType => true
    case _ => false
  }
}

private[graft] case class PartHours(source: String) extends PartField {
  def canonical: String = s"hours($source)"
  def resultType(src: DataType): DataType = LongType
  def eval(v: Any, src: DataType): Any =
    if (v == null) null
    else src match {
      case TimestampType | TimestampNTZType =>
        java.lang.Long.valueOf(PartField.epochHour(v.asInstanceOf[java.lang.Long]))
      case dt => throw new IllegalArgumentException(s"hours() over $dt")
    }
  def toTransform: Transform = Expressions.hours(source)
  def validFor(src: DataType): Boolean = src match {
    case TimestampType | TimestampNTZType => true
    case _ => false
  }
}

private[graft] case class PartMonths(source: String) extends PartField {
  def canonical: String = s"months($source)"
  def resultType(src: DataType): DataType = IntegerType
  def eval(v: Any, src: DataType): Any =
    if (v == null) null
    else src match {
      case TimestampType | TimestampNTZType => Integer.valueOf(
        PartField.epochMonth(PartField.epochDay(v.asInstanceOf[java.lang.Long])))
      case DateType => Integer.valueOf(
        PartField.epochMonth(v.asInstanceOf[Number].longValue()))
      case dt => throw new IllegalArgumentException(s"months() over $dt")
    }
  def toTransform: Transform = Expressions.months(source)
  def validFor(src: DataType): Boolean = src match {
    case TimestampType | TimestampNTZType | DateType => true
    case _ => false
  }
}

private[graft] case class PartYears(source: String) extends PartField {
  def canonical: String = s"years($source)"
  def resultType(src: DataType): DataType = IntegerType
  def eval(v: Any, src: DataType): Any =
    if (v == null) null
    else src match {
      case TimestampType | TimestampNTZType => Integer.valueOf(
        PartField.epochYear(PartField.epochDay(v.asInstanceOf[java.lang.Long])))
      case DateType => Integer.valueOf(
        PartField.epochYear(v.asInstanceOf[Number].longValue()))
      case dt => throw new IllegalArgumentException(s"years() over $dt")
    }
  def toTransform: Transform = Expressions.years(source)
  def validFor(src: DataType): Boolean = src match {
    case TimestampType | TimestampNTZType | DateType => true
    case _ => false
  }
}

private[graft] case class PartBucket(n: Int, source: String) extends PartField {
  def canonical: String = s"bucket($n,$source)"
  def resultType(src: DataType): DataType = IntegerType
  def eval(v: Any, src: DataType): Any =
    if (v == null) null
    else src match {
      case StringType =>
        Integer.valueOf(PartField.bucketOfBytes(n,
          v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      case LongType | IntegerType | ShortType | ByteType =>
        Integer.valueOf(PartField.bucketOfLong(n, v.asInstanceOf[Number].longValue()))
      case dt => throw new IllegalArgumentException(s"bucket() over $dt")
    }
  def toTransform: Transform = Expressions.bucket(n, source)
  def validFor(src: DataType): Boolean = src match {
    case StringType | LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }
}

private[graft] case class PartTruncate(w: Long, source: String) extends PartField {
  def canonical: String = s"truncate($w,$source)"
  def resultType(src: DataType): DataType =
    if (src == StringType) StringType else LongType
  def eval(v: Any, src: DataType): Any =
    if (v == null) null
    else src match {
      case StringType => PartField.truncString(w.toInt, v.toString)
      case LongType | IntegerType | ShortType | ByteType =>
        java.lang.Long.valueOf(
          Math.floorDiv(v.asInstanceOf[Number].longValue(), w) * w)
      case dt => throw new IllegalArgumentException(s"truncate() over $dt")
    }
  def toTransform: Transform = Expressions.apply("truncate",
    Expressions.literal(w.toInt), Expressions.column(source))
  def validFor(src: DataType): Boolean = src match {
    case StringType | LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }
}

private[graft] object PartField {
  private val DayMicros = 86400000000L
  def epochDay(micros: Long): Long = Math.floorDiv(micros, DayMicros)
  def epochHour(micros: Long): Long = Math.floorDiv(micros, 3600000000L)
  /** Months since 1970-01 (Iceberg's convention: 2024-03 → 650). */
  def epochMonth(day: Long): Int = {
    val ld = java.time.LocalDate.ofEpochDay(day)
    (ld.getYear - 1970) * 12 + (ld.getMonthValue - 1)
  }
  /** Years since 1970 (Iceberg's convention: 2024 → 54). */
  def epochYear(day: Long): Int =
    java.time.LocalDate.ofEpochDay(day).getYear - 1970

  /** Graft-canonical bucket hash: Murmur3-32 over canonical bytes,
    * floorMod n. Integrals hash their 8-byte little-endian widened
    * long, so `bucket(16, int_col)` and `bucket(16, long_col)` agree
    * on shared values.
    */
  def bucketOfLong(n: Int, v: Long): Int = {
    val b = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()
    bucketOfBytes(n, b)
  }
  def bucketOfBytes(n: Int, bytes: Array[Byte]): Int =
    Math.floorMod(scala.util.hashing.MurmurHash3.bytesHash(bytes, 0), n)

  /** Code-point truncation (UTF8String.substring semantics) — the one
    * implementation both the String-side writer and the UTF8String-side
    * bound function go through.
    */
  def truncString(w: Int, s: String): String =
    org.apache.spark.unsafe.types.UTF8String.fromString(s).substring(0, w).toString

  private val BucketRe = """bucket\((\d+),(.+)\)""".r
  private val DaysRe = """days\((.+)\)""".r
  private val HoursRe = """hours\((.+)\)""".r
  private val MonthsRe = """months\((.+)\)""".r
  private val YearsRe = """years\((.+)\)""".r
  private val TruncRe = """truncate\((\d+),(.+)\)""".r

  /** Parse one canonical partition-field string. Plain names (no
    * parens) are identity — the pre-transform metastore format, so
    * every existing table round-trips byte-identically.
    */
  def parse(s: String): PartField = s match {
    case BucketRe(n, col) => PartBucket(n.toInt, col.trim)
    case DaysRe(col) => PartDays(col.trim)
    case HoursRe(col) => PartHours(col.trim)
    case MonthsRe(col) => PartMonths(col.trim)
    case YearsRe(col) => PartYears(col.trim)
    case TruncRe(w, col) => PartTruncate(w.toLong, col.trim)
    case name => PartIdentity(name)
  }

  def fields(cols: Seq[String]): Seq[PartField] = cols.map(parse)

  /** A row's partition key under `cols` — external values, transform
    * fields keyed by their OUTPUT: the one router for the writer and
    * compaction's era migration. UTF8String reads point into the
    * reused row buffer: toString copies.
    */
  def keyOf(cols: Seq[String], schema: StructType)
      : org.apache.spark.sql.catalyst.expressions.UnsafeRow => IndexedSeq[Any] = {
    val fields = cols.map { c =>
      val pf = parse(c)
      val i = schema.fieldIndex(pf.source)
      (pf, i, schema.fields(i).dataType)
    }.toIndexedSeq
    r => fields.map { case (pf, i, dt) =>
      if (r.isNullAt(i)) null
      else pf.eval(dt match {
        case StringType => r.getUTF8String(i).toString
        case _ => r.get(i, dt)
      }, dt)
    }
  }
  def sources(cols: Seq[String]): Seq[String] = cols.map(parse(_).source)
  def allIdentity(cols: Seq[String]): Boolean =
    cols.forall(parse(_).isInstanceOf[PartIdentity])

  /** Rename `from` → `to` inside a canonical field string (the ALTER
    * RENAME COLUMN remap for both partitionCols and segment specs).
    */
  def renameIn(canonical: String, from: String, to: String): String = {
    val pf = parse(canonical)
    if (pf.source != from) canonical else withSource(pf, to).canonical
  }

  /** Rebind a field to a (possibly differently-cased) source name. */
  private def withSource(pf: PartField, to: String): PartField = pf match {
    case PartIdentity(_) => PartIdentity(to)
    case PartDays(_) => PartDays(to)
    case PartHours(_) => PartHours(to)
    case PartMonths(_) => PartMonths(to)
    case PartYears(_) => PartYears(to)
    case PartBucket(n, _) => PartBucket(n, to)
    case PartTruncate(w, _) => PartTruncate(w, to)
  }

  /** Validate a field against the table schema: source exists (matched
    * case-insensitively, like Spark's analysis — the stored canonical
    * string is re-seated to the schema's declared casing, because every
    * downstream `schema.fieldIndex(pf.source)` lookup is exact), type
    * admissible, width positive. Returns the canonical string.
    */
  def validate(pf0: PartField, schema: StructType): String = {
    val f = schema.fields.find(_.name.equalsIgnoreCase(pf0.source)).getOrElse(
      throw new IllegalArgumentException(
        s"partition column ${pf0.source} not in schema ${schema.simpleString}"))
    val pf = if (f.name == pf0.source) pf0 else withSource(pf0, f.name)
    if (!pf.validFor(f.dataType))
      throw new UnsupportedOperationException(
        s"partition field ${pf.canonical}: transform not supported over ${f.dataType} " +
          s"(identity: integral/floating/string/boolean; days/months/years: " +
          s"timestamp/date; hours: timestamp; bucket/truncate: integral/string)")
    pf match {
      case PartBucket(n, _) if n <= 0 =>
        throw new IllegalArgumentException(s"bucket($n, …): bucket count must be positive")
      // Upper bound keeps width representable as the Int literal the
      // Spark Transform carries (toTransform) — an overflowed literal
      // would make the write shuffle route by a DIFFERENT width than
      // the writer keys with.
      case PartTruncate(w, _) if w <= 0 || w > Int.MaxValue =>
        throw new IllegalArgumentException(
          s"truncate($w, …): width must be in [1, ${Int.MaxValue}]")
      case _ => ()
    }
    pf.canonical
  }

  /** Map a Spark DDL `Transform` (from `PARTITIONED BY (...)`) to a
    * PartField. Accepts identity, days, bucket(n, col), and
    * truncate(w, col) (literal/column in either order — dialects
    * disagree).
    */
  def fromSparkTransform(t: Transform): PartField = {
    import org.apache.spark.sql.connector.expressions.{Literal => V2Literal}
    def singleRef: String = {
      val refs = t.references()
      if (refs.length != 1 || refs(0).fieldNames().length != 1)
        throw new UnsupportedOperationException(
          s"graft catalog partition transforms take one top-level column, got: $t")
      refs(0).fieldNames()(0)
    }
    def intArg: Int = t.arguments().collectFirst {
      case l: V2Literal[_] if l.value().isInstanceOf[Number] =>
        // Range-checked, not narrowed: intValue() on a Long literal
        // silently wraps (truncate(2^32+1, c) -> truncate(1, c)) and
        // the table would partition by a width the user never wrote.
        val v = l.value().asInstanceOf[Number].longValue()
        if (v < Int.MinValue || v > Int.MaxValue)
          throw new IllegalArgumentException(
            s"$t: literal argument $v does not fit in an INT")
        v.toInt
    }.getOrElse(throw new IllegalArgumentException(s"$t needs an integer literal argument"))
    t.name() match {
      case "identity" => PartIdentity(singleRef)
      case "days" => PartDays(singleRef)
      case "hours" => PartHours(singleRef)
      case "months" => PartMonths(singleRef)
      case "years" => PartYears(singleRef)
      case "bucket" => PartBucket(intArg, singleRef)
      case "truncate" => PartTruncate(intArg.toLong, singleRef)
      case other => throw new UnsupportedOperationException(
        s"graft catalog supports identity/years/months/days/hours/bucket/truncate " +
          s"partition transforms, got: $other($t)")
    }
  }

  /** Scan-side partition-KEY pruning for transform fields, applied per
    * segment written under the CURRENT spec. Zone maps on the SOURCE
    * column already subsume range pruning for the order-preserving
    * transforms (days/truncate cluster writes, so source min/max are
    * tight) — what only the key can prove is HASH-bucket membership:
    * an equality/IN probe on `bucket(n, col)`'s source keeps only the
    * segments whose key slot equals the literal's bucket. Sound for
    * And/Or composition mirroring ZoneMap's (And: either side proves
    * empty; Or: both must).
    */
  def keyMightMatch(
      fields: Seq[PartField], key: IndexedSeq[Any], schema: StructType,
      f: org.apache.spark.sql.sources.Filter): Boolean = !keyProvablyEmpty(fields, key, schema, f)

  private def keyProvablyEmpty(
      fields: Seq[PartField], key: IndexedSeq[Any], schema: StructType,
      f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    if (key.isEmpty || fields.length != key.length) return false
    def bucketAt(attr: String): Option[(PartBucket, Any, DataType)] =
      fields.zipWithIndex.collectFirst {
        case (b: PartBucket, i) if b.source == attr =>
          (b, key(i), schema.fields.find(_.name == attr).map(_.dataType).orNull)
      }.filter(_._3 != null)
    def misses(attr: String, v: Any): Boolean =
      v != null && bucketAt(attr).exists { case (b, kv, dt) =>
        val lit = v match {
          case s: String => s
          case n: Number => n
          case _ => null
        }
        lit != null && kv != null &&
          (try b.eval(lit, dt) != kv catch { case _: IllegalArgumentException => false })
      }
    f match {
      case EqualTo(a, v) => misses(a, v)
      case EqualNullSafe(a, v) => v != null && misses(a, v)
      case In(a, vs) => vs.nonEmpty && vs.forall(v => v != null && misses(a, v))
      case And(l, r) =>
        keyProvablyEmpty(fields, key, schema, l) || keyProvablyEmpty(fields, key, schema, r)
      case Or(l, r) =>
        keyProvablyEmpty(fields, key, schema, l) && keyProvablyEmpty(fields, key, schema, r)
      case _ => false
    }
  }
}

/** Catalog-resolved transform FUNCTIONS. Spark's write-side clustered
  * distribution (and read-side `KeyGroupedPartitioning`) resolves a
  * non-identity transform by calling the table catalog's
  * `loadFunction(Identifier.of(Array(), name))` (SPARK-33779, the
  * Iceberg FunctionCatalog shape) — these objects are that resolution
  * target, and they delegate to the same [[PartField]] value semantics
  * the write router uses, so "shuffle by days(ts)" on the Spark side
  * routes rows exactly like the per-task writer keys them.
  */
private[graft] object GraftDaysFunction extends UnboundFunction {
  override def name(): String = "days"
  override def description(): String = "days(ts): UTC epoch day of a timestamp/date"
  override def bind(inputType: StructType): BoundFunction = {
    if (inputType.length != 1)
      throw new UnsupportedOperationException(s"days expects 1 argument, got $inputType")
    inputType.fields(0).dataType match {
      case TimestampType | TimestampNTZType | DateType =>
        new GraftDaysBound(inputType.fields(0).dataType)
      case dt => throw new UnsupportedOperationException(s"days() over $dt")
    }
  }
}

private[graft] class GraftDaysBound(src: DataType) extends ScalarFunction[java.lang.Long] {
  override def inputTypes(): Array[DataType] = Array(src)
  override def resultType(): DataType = LongType
  override def name(): String = "days"
  override def canonicalName(): String = s"graft.days($src)"
  override def produceResult(input: org.apache.spark.sql.catalyst.InternalRow): java.lang.Long =
    if (input.isNullAt(0)) null
    else src match {
      case DateType => java.lang.Long.valueOf(input.getInt(0).toLong)
      case _ => java.lang.Long.valueOf(PartField.epochDay(input.getLong(0)))
    }
}

/** hours/months/years time-unit functions, sharing one bound class —
  * same PartField value semantics as the write router (hours:
  * timestamp only; months/years: timestamp or date; Iceberg's
  * since-1970 offset convention).
  */
private[graft] class GraftTimeUnitFunction(unit: String) extends UnboundFunction {
  override def name(): String = unit
  override def description(): String = unit match {
    case "hours" => "hours(ts): UTC epoch hour of a timestamp"
    case "months" => "months(t): months since 1970-01 of a timestamp/date"
    case _ => "years(t): years since 1970 of a timestamp/date"
  }
  override def bind(inputType: StructType): BoundFunction = {
    if (inputType.length != 1)
      throw new UnsupportedOperationException(s"$unit expects 1 argument, got $inputType")
    inputType.fields(0).dataType match {
      case TimestampType | TimestampNTZType =>
        new GraftTimeUnitBound(unit, inputType.fields(0).dataType)
      case DateType if unit != "hours" =>
        new GraftTimeUnitBound(unit, DateType)
      case dt => throw new UnsupportedOperationException(s"$unit() over $dt")
    }
  }
}
private[graft] object GraftHoursFunction extends GraftTimeUnitFunction("hours")
private[graft] object GraftMonthsFunction extends GraftTimeUnitFunction("months")
private[graft] object GraftYearsFunction extends GraftTimeUnitFunction("years")

private[graft] class GraftTimeUnitBound(unit: String, src: DataType)
    extends ScalarFunction[AnyRef] {
  override def inputTypes(): Array[DataType] = Array(src)
  override def resultType(): DataType = if (unit == "hours") LongType else IntegerType
  override def name(): String = unit
  override def canonicalName(): String = s"graft.$unit($src)"
  override def produceResult(input: org.apache.spark.sql.catalyst.InternalRow): AnyRef =
    if (input.isNullAt(0)) null
    else unit match {
      // Per-row hot path: the hours branch never needs the epoch day,
      // so the day division is computed only where it is used.
      case "hours" => java.lang.Long.valueOf(PartField.epochHour(input.getLong(0)))
      case other =>
        val day = src match {
          case DateType => input.getInt(0).toLong
          case _ => PartField.epochDay(input.getLong(0))
        }
        if (other == "months") Integer.valueOf(PartField.epochMonth(day))
        else Integer.valueOf(PartField.epochYear(day))
    }
}

private[graft] object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): graft-canonical Murmur3 hash bucket in [0, n)"
  override def bind(inputType: StructType): BoundFunction = {
    if (inputType.length != 2)
      throw new UnsupportedOperationException(s"bucket expects (n, col), got $inputType")
    val nType = inputType.fields(0).dataType
    if (!Seq(LongType, IntegerType, ShortType, ByteType).contains(nType))
      throw new UnsupportedOperationException(s"bucket count must be integral, got $nType")
    inputType.fields(1).dataType match {
      case StringType | LongType | IntegerType | ShortType | ByteType =>
        new GraftBucketBound(nType, inputType.fields(1).dataType)
      case dt => throw new UnsupportedOperationException(s"bucket() over $dt")
    }
  }
}

private[graft] class GraftBucketBound(nType: DataType, src: DataType)
    extends ScalarFunction[java.lang.Integer] {
  override def inputTypes(): Array[DataType] = Array(nType, src)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = s"graft.bucket($src)"
  private def nOf(input: org.apache.spark.sql.catalyst.InternalRow): Int = nType match {
    case LongType => input.getLong(0).toInt
    case ShortType => input.getShort(0).toInt
    case ByteType => input.getByte(0).toInt
    case _ => input.getInt(0)
  }
  override def produceResult(
      input: org.apache.spark.sql.catalyst.InternalRow): java.lang.Integer =
    if (input.isNullAt(0) || input.isNullAt(1)) null
    else {
      val n = nOf(input)
      // SQL-callable surface: a zero/negative count would otherwise
      // surface as ArithmeticException (floorMod by 0) or an
      // out-of-contract negative bucket.
      if (n <= 0)
        throw new IllegalArgumentException(
          s"bucket($n, …): bucket count must be positive")
      src match {
        case StringType =>
          Integer.valueOf(PartField.bucketOfBytes(n, input.getUTF8String(1).getBytes))
        case LongType => Integer.valueOf(PartField.bucketOfLong(n, input.getLong(1)))
        case IntegerType => Integer.valueOf(PartField.bucketOfLong(n, input.getInt(1).toLong))
        case ShortType => Integer.valueOf(PartField.bucketOfLong(n, input.getShort(1).toLong))
        case _ => Integer.valueOf(PartField.bucketOfLong(n, input.getByte(1).toLong))
      }
    }
}

private[graft] object GraftTruncateFunction extends UnboundFunction {
  override def name(): String = "truncate"
  override def description(): String =
    "truncate(w, col): strings cut to w code points; integrals floored to width-w intervals"
  override def bind(inputType: StructType): BoundFunction = {
    if (inputType.length != 2)
      throw new UnsupportedOperationException(s"truncate expects (w, col), got $inputType")
    val wType = inputType.fields(0).dataType
    if (!Seq(LongType, IntegerType, ShortType, ByteType).contains(wType))
      throw new UnsupportedOperationException(s"truncate width must be integral, got $wType")
    inputType.fields(1).dataType match {
      case StringType | LongType | IntegerType | ShortType | ByteType =>
        new GraftTruncateBound(wType, inputType.fields(1).dataType)
      case dt => throw new UnsupportedOperationException(s"truncate() over $dt")
    }
  }
}

private[graft] class GraftTruncateBound(wType: DataType, src: DataType)
    extends ScalarFunction[AnyRef] {
  override def inputTypes(): Array[DataType] = Array(wType, src)
  override def resultType(): DataType = if (src == StringType) StringType else LongType
  override def name(): String = "truncate"
  override def canonicalName(): String = s"graft.truncate($src)"
  private def wOf(input: org.apache.spark.sql.catalyst.InternalRow): Long = wType match {
    case LongType => input.getLong(0)
    case ShortType => input.getShort(0).toLong
    case ByteType => input.getByte(0).toLong
    case _ => input.getInt(0).toLong
  }
  override def produceResult(input: org.apache.spark.sql.catalyst.InternalRow): AnyRef =
    if (input.isNullAt(0) || input.isNullAt(1)) null
    else {
      val w = wOf(input)
      // SQL-callable surface: widths outside [1, Int.MaxValue] would
      // otherwise wrap (substring with a negative overflowed length
      // silently returns "") instead of erroring.
      if (w <= 0 || w > Int.MaxValue)
        throw new IllegalArgumentException(
          s"truncate($w, …): width must be in [1, ${Int.MaxValue}]")
      src match {
        case StringType => input.getUTF8String(1).substring(0, w.toInt)
        case LongType =>
          java.lang.Long.valueOf(Math.floorDiv(input.getLong(1), w) * w)
        case IntegerType =>
          java.lang.Long.valueOf(Math.floorDiv(input.getInt(1).toLong, w) * w)
        case ShortType =>
          java.lang.Long.valueOf(Math.floorDiv(input.getShort(1).toLong, w) * w)
        case _ =>
          java.lang.Long.valueOf(Math.floorDiv(input.getByte(1).toLong, w) * w)
      }
    }
}
