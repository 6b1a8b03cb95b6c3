package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, FileInputStream, FileOutputStream}
import java.nio.file.{Files, Paths}
import java.util.UUID


import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

// Segment metadata machinery (value comparator, filter evaluation,
// zone maps, segment file IO, equality-delete filters, metadata
// columns) — split from GraftCatalog.scala (same package, no
// behavior change).


/** THE value comparator for every metadata path — zone-map pruning,
  * the delete-filter evaluator, and the aggregate-pushdown fold all
  * compare the same universe of boxed values (stat entries, pushed
  * filter literals, decoded row values), and comparator drift between
  * hand-rolled copies IS a wrong-results bug (a lossy double compare
  * prunes a matching segment; a UTF-16 string compare disagrees with
  * the UTF-8 order the stats writer picked min/max by).
  *
  * Contract: integrals compare exactly as longs; an integral/floating
  * mix goes through BigDecimal so a >2^53 long can't collapse into a
  * lossy double compare; NaN/infinities order per Double.compare (NaN
  * largest — Spark's order); decimals (Spark internal or java.math)
  * compare exactly; strings compare in UTF-8 BINARY order, matching
  * the stats writer's UTF8String min/max selection. None = the pair
  * is not comparable here — callers must treat that as "don't know".
  */
private[graft] object GraftCompare {
  def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: org.apache.spark.sql.types.Decimal, _) => cmp(x.toJavaBigDecimal, b)
    case (_, y: org.apache.spark.sql.types.Decimal) => cmp(a, y.toJavaBigDecimal)
    case (x: String, y: String) =>
      Some(org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .binaryCompare(org.apache.spark.unsafe.types.UTF8String.fromString(y)))
    case (x: java.lang.Boolean, y: java.lang.Boolean) => Some(x.compareTo(y))
    case (x: Number, y: Number) =>
      val xd = x.doubleValue(); val yd = y.doubleValue()
      val integral = (n: Number) => n match {
        case _: java.lang.Long | _: java.lang.Integer |
             _: java.lang.Short | _: java.lang.Byte => true
        case _ => false
      }
      if (xd.isNaN || yd.isNaN || xd.isInfinite || yd.isInfinite)
        Some(java.lang.Double.compare(xd, yd))
      else if (integral(x) && integral(y))
        Some(java.lang.Long.compare(x.longValue(), y.longValue()))
      else
        Some(new java.math.BigDecimal(x.toString).compareTo(new java.math.BigDecimal(y.toString)))
    case _ => None
  }
}

/** Evaluates V1 source Filters against stored InternalRows — the
  * delete-path twin of what a file source does with partition values.
  * Only shapes/types it can prove are supported; `supported` is the
  * `canDeleteWhere` gate, so an unprovable predicate rejects the DELETE
  * instead of misapplying it.
  */
private[sources] object GraftFilterEval {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.types._

  private def ordinal(schema: StructType, attr: String): Int = schema.fieldIndex(attr)

  private def comparable(schema: StructType, attr: String): Boolean =
    schema.fields(ordinal(schema, attr)).dataType match {
      case _: NumericType | StringType | BooleanType => true
      case _ => false
    }

  def supported(f: Filter, schema: StructType): Boolean = f match {
    case EqualTo(a, _) => comparable(schema, a)
    case GreaterThan(a, _) => comparable(schema, a)
    case GreaterThanOrEqual(a, _) => comparable(schema, a)
    case LessThan(a, _) => comparable(schema, a)
    case LessThanOrEqual(a, _) => comparable(schema, a)
    case In(a, _) => comparable(schema, a)
    case IsNull(a) => schema.fieldNames.contains(a)
    case IsNotNull(a) => schema.fieldNames.contains(a)
    case And(l, r) => supported(l, schema) && supported(r, schema)
    case Or(l, r) => supported(l, schema) && supported(r, schema)
    case Not(c) => supported(c, schema)
    case AlwaysTrue() | AlwaysFalse() => true
    case _ => false
  }

  /** Row value at `attr` as a JVM-comparable external value (UTF8String
    * → String etc.), or null.
    */
  private def value(schema: StructType, row: InternalRow, attr: String): Any = {
    val i = ordinal(schema, attr)
    if (row.isNullAt(i)) null
    else schema.fields(i).dataType match {
      case StringType => row.getUTF8String(i).toString
      case dt => row.get(i, dt)
    }
  }

  /** Three-way comparison via the shared exact comparator
    * ([[GraftCompare]]); filter literals arrive as external JVM values
    * whose numeric subtypes may differ from the column's (e.g. Integer
    * literal on a BIGINT column, java BigDecimal vs internal Decimal).
    */
  private def cmp(l: Any, r: Any): Option[Int] = GraftCompare.cmp(l, r)

  /** SQL THREE-valued evaluation: Some(true) = the row matches,
    * Some(false) = it doesn't, None = UNKNOWN (a NULL operand or an
    * incomparable pair). The DELETE/overwrite caller applies the
    * predicate as "act iff TRUE", so UNKNOWN keeps the row — exactly
    * SQL semantics. A two-valued evaluator here was a data-loss bug:
    * NOT(a = 5) over a NULL `a` flipped false to TRUE and deleted a
    * row SQL says must survive.
    */
  private def eval3(f: Filter, schema: StructType, row: InternalRow): Option[Boolean] = {
    def cmp3(a: String, v: Any)(p: Int => Boolean): Option[Boolean] = {
      val x = value(schema, row, a)
      if (x == null || v == null) None else cmp(x, v).map(p)
    }
    f match {
      case EqualTo(a, v) => cmp3(a, v)(_ == 0)
      case GreaterThan(a, v) => cmp3(a, v)(_ > 0)
      case GreaterThanOrEqual(a, v) => cmp3(a, v)(_ >= 0)
      case LessThan(a, v) => cmp3(a, v)(_ < 0)
      case LessThanOrEqual(a, v) => cmp3(a, v)(_ <= 0)
      case In(a, vs) =>
        val x = value(schema, row, a)
        if (x == null) None
        else {
          val eqs = vs.toSeq.map(v => if (v == null) None else cmp(x, v).map(_ == 0))
          if (eqs.exists(_.contains(true))) Some(true)
          else if (eqs.forall(_.contains(false))) Some(false)
          else None // a NULL list element: x IN (..., NULL) is UNKNOWN when unmatched
        }
      case IsNull(a) => Some(value(schema, row, a) == null)
      case IsNotNull(a) => Some(value(schema, row, a) != null)
      case And(l, r) => // Kleene AND
        (eval3(l, schema, row), eval3(r, schema, row)) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case (Some(true), Some(true)) => Some(true)
          case _ => None
        }
      case Or(l, r) => // Kleene OR
        (eval3(l, schema, row), eval3(r, schema, row)) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false)) => Some(false)
          case _ => None
        }
      case Not(c) => eval3(c, schema, row).map(!_)
      case AlwaysTrue() => Some(true)
      case AlwaysFalse() => Some(false)
      case _ => None // unknown shape: never act on it
    }
  }

  /** Row matches iff the predicate evaluates to TRUE (not UNKNOWN). */
  def eval(f: Filter, schema: StructType, row: InternalRow): Boolean =
    eval3(f, schema, row).contains(true)
}

/** Zone-map pruning: decides, from a segment's per-column min/max/null
  * stats — plus its [[SegmentBloom]] bits for point predicates —
  * whether a pushed Filter can PROVABLY match no row of the
  * segment — then the scan skips the file entirely (parquet row-group
  * statistics + column Bloom filters, Delta data-skipping, same move).
  * Everything here is conservative: any unknown shape, type, or
  * missing stat keeps the segment. Pruning is file-level and therefore
  * INEXACT — Spark always re-applies the full predicate above the scan.
  */
private[graft] object ZoneMap {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.types._
  import GraftCatalog.{ColStat, Segment}

  /** Shapes/types the pruner understands — what the scan reports as
    * `pushedFilters` (honesty in `explain`: only filters that actually
    * participate in skipping).
    */
  def prunable(f: Filter, schema: StructType): Boolean = f match {
    case EqualTo(a, v) => cmpOk(schema, a, v)
    case EqualNullSafe(a, v) => v == null || cmpOk(schema, a, v)
    case GreaterThan(a, v) => cmpOk(schema, a, v)
    case GreaterThanOrEqual(a, v) => cmpOk(schema, a, v)
    case LessThan(a, v) => cmpOk(schema, a, v)
    case LessThanOrEqual(a, v) => cmpOk(schema, a, v)
    case In(a, vs) => vs.nonEmpty && vs.forall(v => v != null && cmpOk(schema, a, v))
    case IsNull(a) => schema.fieldNames.contains(a)
    case IsNotNull(a) => schema.fieldNames.contains(a)
    case StringStartsWith(a, p) => p != null && cmpOk(schema, a, p)
    case And(l, r) => prunable(l, schema) || prunable(r, schema)
    case Or(l, r) => prunable(l, schema) && prunable(r, schema)
    case AlwaysFalse() => true
    case _ => false
  }

  private def cmpOk(schema: StructType, attr: String, v: Any): Boolean =
    schema.fieldNames.contains(attr) && v != null && (v match {
      case _: Number | _: String | _: java.lang.Boolean => true
      // Temporal literals prune against the writer's internal-encoding
      // stats once normalized (see `norm`).
      case _: java.sql.Timestamp | _: java.sql.Date | _: java.time.Instant |
           _: java.time.LocalDate | _: java.time.LocalDateTime => true
      case _ => false
    })

  /** Normalize a pushed temporal literal to the INTERNAL encoding the
    * stats writer tracked (micros for timestamps, epoch days for
    * dates) so `cmp` sees two integrals. Non-temporal values pass
    * through untouched; a literal/type mismatch yields the original
    * value, where `cmp` returns None and pruning safely declines.
    */
  private[sources] def norm(schema: StructType, attr: String, v: Any): Any = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    val dt = schema.fields.find(_.name == attr).map(_.dataType)
    (dt, v) match {
      case (Some(TimestampType | TimestampNTZType), t: java.sql.Timestamp) =>
        DateTimeUtils.fromJavaTimestamp(t)
      case (Some(TimestampType | TimestampNTZType), i: java.time.Instant) =>
        DateTimeUtils.instantToMicros(i)
      case (Some(TimestampType | TimestampNTZType), l: java.time.LocalDateTime) =>
        DateTimeUtils.localDateTimeToMicros(l)
      case (Some(DateType), d: java.sql.Date) => DateTimeUtils.fromJavaDate(d)
      case (Some(DateType), l: java.time.LocalDate) => DateTimeUtils.localDateToDays(l)
      case _ => v
    }
  }

  /** True unless the segment PROVABLY holds no matching row. */
  def mightMatch(f: Filter, schema: StructType, seg: Segment): Boolean =
    !provablyEmpty(f, schema, seg)

  private def stat(schema: StructType, seg: Segment, attr: String): Option[ColStat] = {
    val i = schema.fieldNames.indexOf(attr)
    if (i < 0 || seg.stats.length <= i) None else Some(seg.stats(i))
  }

  /** Bloom probe: true only when the column carries [[SegmentBloom]]
    * bits, the literal's type family matches the column's (the
    * canonical hash is only meaningful within a family — integrals
    * hash via longValue, strings via UTF-8 bytes), and the bits PROVE
    * absence. Anything else — no bloom (old ledger segment, builder
    * overflow, untracked type), family mismatch — keeps the segment.
    */
  private def bloomMiss(schema: StructType, seg: Segment, attr: String, v: Any): Boolean = {
    val i = schema.fieldNames.indexOf(attr)
    if (i < 0 || seg.blooms.length <= i || v == null) false
    else seg.blooms(i).exists { bits =>
      val compatible = (schema.fields(i).dataType, v) match {
        case (LongType | IntegerType | ShortType | ByteType,
              _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
              _: java.lang.Byte) => true
        case (StringType, _: String) => true
        case _ => false
      }
      compatible && SegmentBloom.hashOf(v).exists(h => !SegmentBloom.contains(bits, h))
    }
  }

  /** Column provably all-null in this segment: a tracked column with no
    * surviving min and every row counted null. (An UNtracked column
    * also has a null min but nulls == 0 < rows, so it never triggers.)
    */
  private def allNull(s: ColStat, seg: Segment): Boolean =
    s.min == null && s.nulls == seg.rows

  /** Exact three-way compare via the shared [[GraftCompare]] — one
    * comparator for stats, filters, and folds, so pruning can never
    * disagree with the order the stats writer picked min/max by.
    */
  private[sources] def cmp(a: Any, b: Any): Option[Int] = GraftCompare.cmp(a, b)

  /** PROVABLY-DISJOINT probe of an equality delete against one
    * segment: true only when every key of a SINGLE-column delete is
    * excluded by the segment's zone map or Bloom bits. Serves the
    * change feed's paired-update guard — an eq delete REMOVED
    * in-range (RESTORE, or publish-time GC) forces the delete+insert
    * degrade only when it could actually have touched the source
    * segment's rows; in upsert-heavy tables most deletes provably
    * never did. Conservative on multi-column keys, null keys, missing
    * stats, or untracked types: not provably disjoint.
    */
  private[sources] def eqDisjoint(
      schema: StructType, seg: Segment, eq: GraftCatalog.EqDelete): Boolean =
    eq.keyCols.length == 1 && eq.keys.forall { k =>
      // The ONE EqualTo probe (zone map + Bloom + all-null + empty
      // segment) — not a hand copy that could drift from the scan's
      // pruning semantics.
      k.head != null && !mightMatch(EqualTo(eq.keyCols.head, k.head), schema, seg)
    }

  private def provablyEmpty(f: Filter, schema: StructType, seg: Segment): Boolean = {
    if (seg.stats.isEmpty || seg.rows == 0) return false
    def withStat(attr: String)(p: ColStat => Boolean): Boolean =
      stat(schema, seg, attr).exists(s => allNull(s, seg) || (s.min != null && p(s)))
    def outOfRange(attr: String, v: Any): Boolean =
      v != null && withStat(attr)(s =>
        cmp(v, s.min).exists(_ < 0) || cmp(v, s.max).exists(_ > 0))
    // Temporal literals normalize to the internal encodings the stats
    // writer tracked before any compare (integral vs integral).
    def misses(attr: String, v0: Any): Boolean = {
      val v = norm(schema, attr, v0)
      outOfRange(attr, v) || bloomMiss(schema, seg, attr, v)
    }
    f match {
      case EqualTo(a, v) => misses(a, v)
      case EqualNullSafe(a, v) =>
        // `nulls == 0` proves no-nulls only for a TRACKED column (an
        // untracked one never counts — its stat is (null, null, 0) with
        // rows > 0). `min != null` is the tracked-and-saw-values
        // witness; without it, keep the segment.
        if (v == null) stat(schema, seg, a).exists(s => s.nulls == 0 && s.min != null)
        else misses(a, v)
      case GreaterThan(a, v0) => val v = norm(schema, a, v0)
        v != null && withStat(a)(s => cmp(s.max, v).exists(_ <= 0))
      case GreaterThanOrEqual(a, v0) => val v = norm(schema, a, v0)
        v != null && withStat(a)(s => cmp(s.max, v).exists(_ < 0))
      case LessThan(a, v0) => val v = norm(schema, a, v0)
        v != null && withStat(a)(s => cmp(s.min, v).exists(_ >= 0))
      case LessThanOrEqual(a, v0) => val v = norm(schema, a, v0)
        v != null && withStat(a)(s => cmp(s.min, v).exists(_ > 0))
      case In(a, vs) => vs.nonEmpty && vs.forall(v => misses(a, v))
      case IsNull(a) => stat(schema, seg, a).exists(s => s.nulls == 0 && s.min != null)
      case IsNotNull(a) => stat(schema, seg, a).exists(s => allNull(s, seg))
      case StringStartsWith(a, p) =>
        // values in [p, successor(p)) start with p; the segment misses
        // that interval iff max < p, or min > p without carrying it as
        // a prefix (then min >= successor(p), so every value is too).
        p != null && withStat(a)(s =>
          cmp(s.max, p).exists(_ < 0) ||
            (cmp(s.min, p).exists(_ > 0) && (s.min match {
              case m: String => !m.startsWith(p)
              case _ => false
            })))
      case And(l, r) =>
        provablyEmpty(l, schema, seg) || provablyEmpty(r, schema, seg)
      case Or(l, r) =>
        provablyEmpty(l, schema, seg) && provablyEmpty(r, schema, seg)
      case AlwaysFalse() => true
      case _ => false
    }
  }
}

/** Segment file I/O: `[int32 size][UnsafeRow bytes]` records. This
  * object is the ONLY reader and writer of that record format — every
  * scan, change-feed split and maintenance rewrite reads through
  * [[Cursor]] and writes through [[Writer]], so a payload change (say,
  * a columnar one) touches this file alone. Writers stream (no
  * buffering of the whole segment); the cursor reuses one `UnsafeRow`
  * pointed at each record's buffer (the `PartitionReader` contract
  * allows instance reuse).
  */
private[sources] object SegmentIO {
  import GraftCatalog.{ColStat, RunAccumulator, RunCursor, Segment}

  def delete(seg: Segment): Unit =
    try Files.deleteIfExists(Paths.get(seg.path))
    catch { case _: java.io.IOException => () }

  def newPath(dir: String): String =
    Paths.get(dir, s"seg-${UUID.randomUUID()}.graft").toString

  /** Open a streaming writer; call `add` per row, then `finish` for the
    * Segment (or `abort` to drop the file). Collects the per-column
    * zone map (min/max/null-count), the blooms and the byte size as it
    * streams — one typed read + compare per column per row, no second
    * pass, and no allocation per row. Each column is classified once
    * into a typed tracker: integral, boolean and floating-point values
    * keep their min/max in `long` slots, strings as `UTF8String`s
    * cloned only when one becomes the new min or max. Blooms take a
    * primitive hash ([[SegmentBloom.Builder.addHash]]), rows stream out
    * without a copy, and values are boxed only in `finish`, into the
    * `ColStat` types the metadata paths compare.
    */
  final class Writer(dir: String, schema: StructType) {
    import Writer._
    private val path = newPath(dir)
    private var out: DataOutputStream = _
    private var n = 0L
    private var bytes = 0L
    private val width = schema.length
    private val kinds: Array[Int] = schema.fields.map(f => kindOf(f.dataType))
    private val seen = new Array[Boolean](width)
    private val nulls = new Array[Long](width)
    private val minL = new Array[Long](width)
    private val maxL = new Array[Long](width)
    private val minS = new Array[UTF8String](width)
    private val maxS = new Array[UTF8String](width)
    // Bloom-tracked columns (point-lookup-shaped types) get a distinct-
    // hash builder; floats/booleans don't (degenerate point equality).
    private val blooms: Array[SegmentBloom.Builder] =
      schema.fields.map(f =>
        if (SegmentBloom.trackable(f.dataType)) new SegmentBloom.Builder else null)
    private val writeBuf = new Array[Byte](1 << 12)

    private def trackLong(i: Int, v: Long): Unit = {
      if (!seen(i)) { seen(i) = true; minL(i) = v; maxL(i) = v }
      else if (v < minL(i)) minL(i) = v
      else if (v > maxL(i)) maxL(i) = v
      if (blooms(i) != null) blooms(i).addHash(SegmentBloom.hashLong(v))
    }

    // UnsafeRow string reads point into the (reused) row buffer: clone
    // only a value that replaces the min or max.
    private def trackString(i: Int, v: UTF8String): Unit = {
      if (!seen(i)) { seen(i) = true; val c = v.clone(); minS(i) = c; maxS(i) = c }
      else if (v.binaryCompare(minS(i)) < 0) minS(i) = v.clone()
      else if (v.binaryCompare(maxS(i)) > 0) maxS(i) = v.clone()
      blooms(i).addHash(SegmentBloom.hashUtf8(v))
    }

    def add(row: UnsafeRow): Unit = {
      if (out == null) // lazy: a rowless task publishes no segment
        out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path), 1 << 16))
      val size = row.getSizeInBytes
      out.writeInt(size)
      row.writeToStream(out, writeBuf)
      bytes += 4L + size
      n += 1
      var i = 0
      while (i < width) {
        val k = kinds(i)
        if (k != Untracked) {
          if (row.isNullAt(i)) nulls(i) += 1
          else k match {
            case KLong => trackLong(i, row.getLong(i))
            case KInt => trackLong(i, row.getInt(i))
            case KShort => trackLong(i, row.getShort(i))
            case KByte => trackLong(i, row.getByte(i))
            case KBoolean => trackLong(i, if (row.getBoolean(i)) 1L else 0L)
            case KDouble => trackLong(i, doubleKey(row.getDouble(i)))
            case KFloat => trackLong(i, doubleKey(row.getFloat(i)))
            case _ => trackString(i, row.getUTF8String(i))
          }
        }
        i += 1
      }
    }

    /** Column `i`'s min (`lo`) or max as the boxed value `ColStat`
      * carries; strings become external Strings: serializable in the
      * metastore and directly comparable to pushed Filter values.
      */
    private def boxed(i: Int, lo: Boolean): Any =
      if (!seen(i)) null
      else {
        val l = if (lo) minL(i) else maxL(i)
        def d = java.lang.Double.longBitsToDouble(flipNegative(l))
        kinds(i) match {
          case KLong => java.lang.Long.valueOf(l)
          case KInt => java.lang.Integer.valueOf(l.toInt)
          case KShort => java.lang.Short.valueOf(l.toShort)
          case KByte => java.lang.Byte.valueOf(l.toByte)
          case KBoolean => java.lang.Boolean.valueOf(l != 0L)
          case KDouble => java.lang.Double.valueOf(d)
          case KFloat => java.lang.Float.valueOf(d.toFloat)
          case _ => (if (lo) minS(i) else maxS(i)).toString
        }
      }

    def finish(): Option[Segment] =
      if (out == null) None
      else {
        out.close()
        val stats = Vector.tabulate(width)(i =>
          ColStat(boxed(i, lo = true), boxed(i, lo = false), nulls(i)))
        val bl = Vector.tabulate(width)(i =>
          if (blooms(i) == null) None else blooms(i).result())
        Some(Segment(path, n, bytes, stats, blooms = bl))
      }
    def abort(): Unit = {
      if (out != null) out.close()
      try Files.deleteIfExists(Paths.get(path))
      catch { case _: java.io.IOException => () }
    }
  }

  private object Writer {
    import org.apache.spark.sql.types._
    // Column kinds the zone map tracks; an Untracked column gets
    // ColStat(null, null, 0) with a rows-long null count of 0 — ZoneMap
    // treats a null min with nulls < rows as "unsupported, never prune".
    // Temporal columns track through their INTERNAL encodings (micros
    // Long / epoch-day Int) — ZoneMap normalizes pushed temporal
    // literals to the same encodings, which is what makes time-range
    // segment skipping work on event tables (the 100 TB time-series
    // case: a `ts BETWEEN ...` should read days, not history).
    final val Untracked = 0
    final val KLong = 1
    final val KInt = 2
    final val KShort = 3
    final val KByte = 4
    final val KBoolean = 5
    final val KDouble = 6
    final val KFloat = 7
    final val KString = 8

    /** Order-preserving long key of a double: its IEEE bits with the
      * magnitude bits flipped for negatives, so signed-long order is
      * `Double.compare`'s (NaN largest, -0.0 below 0.0 — Spark's order).
      * A Float widens to the double of the same value, so its keys keep
      * `Float.compare`'s order too.
      */
    def doubleKey(d: Double): Long = flipNegative(java.lang.Double.doubleToLongBits(d))

    /** The flip [[doubleKey]] applies; its own inverse. */
    def flipNegative(b: Long): Long = b ^ ((b >> 63) & Long.MaxValue)

    def kindOf(dt: DataType): Int = dt match {
      case LongType | TimestampType | TimestampNTZType => KLong
      case IntegerType | DateType => KInt
      case ShortType => KShort
      case ByteType => KByte
      case BooleanType => KBoolean
      case DoubleType => KDouble
      case FloatType => KFloat
      case StringType => KString
      case _ => Untracked
    }
  }

  /** THE segment reader: a pull cursor over one file's records.
    * Each step decodes the next record into `row` — one `UnsafeRow`
    * REUSED for the whole file (copy before retaining) over one
    * growable buffer, so a step allocates nothing. `next()` is the
    * PHYSICAL step (every row, deleted or not — the deletion-vector
    * builder's view); `nextLive()` is the LIVE step, which reads past
    * rows the file's deletion vector masks and rows one of its
    * applicable equality-delete filters matches (the format is
    * length-prefixed sequential, there is no seek index). The file
    * opens on the first step, so a cursor costs nothing until read.
    */
  final class Cursor(file: GraftSegFile, numFields: Int) extends java.io.Closeable {
    val row = new UnsafeRow(numFields)
    // pointTo takes an explicit size, so an oversized buffer is fine
    // (and getBytes copies exactly sizeInBytes when a consumer
    // retains the row).
    private var buf = new Array[Byte](1 << 10)
    private var in: DataInputStream = _
    private var ord = -1L
    private val eq = file.resolvedEq.toArray
    private val runs = new RunCursor(file.lineage)

    /** Physical ordinal of the current row within the file. */
    def ordinal: Long = ord

    /** Physical step: decode the next record; false past the last. */
    def next(): Boolean =
      ord + 1 < file.rows && {
        if (in == null)
          in = new DataInputStream(new BufferedInputStream(new FileInputStream(file.path), 1 << 16))
        // The record's big-endian length in one bulk read (readInt
        // makes four synchronized single-byte reads per row).
        in.readFully(buf, 0, 4)
        val size = (buf(0) & 0xff) << 24 | (buf(1) & 0xff) << 16 |
          (buf(2) & 0xff) << 8 | (buf(3) & 0xff)
        if (size > buf.length) buf = new Array[Byte](math.max(size, buf.length << 1))
        in.readFully(buf, 0, size)
        row.pointTo(buf, size)
        ord += 1
        true
      }

    /** THE live-row rule: not in the deletion vector, and matched by
      * no equality delete newer than the segment.
      */
    def live: Boolean = !file.dvDead(ord) && {
      var i = 0
      while (i < eq.length && !eq(i).matches(row)) i += 1
      i == eq.length
    }

    /** Live step: advance to the next live row; false past the last. */
    def nextLive(): Boolean = {
      while (next()) if (live) return true
      false
    }

    /** Resolve the current row's lineage: true when the segment carries
      * one for this ordinal (then read `rowId` / `updatedSeq`).
      */
    def lineage(): Boolean = runs.seek(ord)
    def rowId: Long = runs.rowId
    def updatedSeq: Long = runs.updatedSeq

    override def close(): Unit = if (in != null) in.close()
  }

  def withCursor[T](file: GraftSegFile, numFields: Int)(f: Cursor => T): T = {
    val cur = new Cursor(file, numFields)
    try f(cur) finally cur.close()
  }

  /** Iterate a file's LIVE rows ([[Cursor.nextLive]]: deletion-vector
    * ordinals and rows its equality filters match are read past and
    * skipped, so every maintenance rewrite — compact, Z-order, ALTER
    * migration, delete-rewrite — materializes deletes for free). The
    * yielded `UnsafeRow` is REUSED — copy before retaining.
    */
  def foreachRow(file: GraftSegFile, numFields: Int)(f: UnsafeRow => Unit): Unit =
    withCursor(file, numFields)(cur => while (cur.nextLive()) f(cur.row))

  /** THE lineage-preserving row copy: stream the live rows of `files`
    * (each laid out with `inFields` columns), in order, through `f`
    * into ONE fresh segment in `dir` whose rows follow `outSchema`
    * (zone maps are re-collected under the OUTPUT layout); rows mapped
    * to None are dropped. Surviving rows' (id, updateSeq) pairs carry
    * over run by run — masked, filtered or dropped rows just break
    * runs; a source row without lineage degrades the output to fresh
    * ids (empty runs, publish reassigns), conservative, never wrong.
    * None when no row survives; the caller stamps key, spec and seq.
    */
  def rewrite(files: Seq[GraftSegFile], dir: String, inFields: Int, outSchema: StructType)(
      f: UnsafeRow => Option[UnsafeRow]): Option[Segment] = {
    val w = new Writer(dir, outSchema)
    val acc = new RunAccumulator
    files.foreach(withCursor(_, inFields) { cur =>
      while (cur.nextLive()) f(cur.row) match {
        case Some(out) =>
          w.add(out)
          if (cur.lineage()) acc.push(cur.rowId, cur.updatedSeq) else acc.invalidate()
        case None => ()
      }
    })
    w.finish().map(_.copy(lineage = acc.result()))
  }

  /** [[rewrite]] of every live row of one segment through `proj` (its
    * dv applies; its equality deletes stay outstanding): the ALTER
    * re-projections' 1:1 copy into the layout `outSchema`. The output
    * inherits the source's lineage, partition key, spec AND data
    * sequence number — a 1:1 re-projection copies eq-deleted rows
    * verbatim, so the filters must keep applying to it. Never for a
    * rewrite the commit shell stamps anew: that resurrects those rows.
    */
  def reproject(seg: Segment, dir: String, inFields: Int, outSchema: StructType,
      proj: UnsafeProjection): Option[Segment] =
    rewrite(Seq(GraftSegFile.of(seg)), dir, inFields, outSchema)(r => Some(proj(r)))
      .map(_.copy(key = seg.key, spec = seg.spec, seq = seg.seq))

  /** Rows a reordering rewrite (sorted compaction, Z-order) must hold
    * before it can write: each kept as its exact record bytes and read
    * back through a reused row.
    */
  final class RowBuffer(numFields: Int) {
    private val recs = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    private val ra = new UnsafeRow(numFields)
    private val rb = new UnsafeRow(numFields)
    private def at(r: UnsafeRow, i: Int): UnsafeRow = {
      val b = recs(i); r.pointTo(b, b.length); r
    }

    // copy() owns an exact-size array, which getBytes returns as is.
    def add(r: UnsafeRow): Unit = recs += r.copy().getBytes
    def length: Int = recs.length

    /** Buffer positions in `lt` order (stable). */
    def sortedBy(lt: (UnsafeRow, UnsafeRow) => Boolean): IndexedSeq[Int] =
      (0 until recs.length).sortWith((i, j) => lt(at(ra, i), at(rb, j)))

    /** Write the rows at `order` into fresh segments of `perSeg` rows
      * each (the last may be shorter).
      */
    def write(order: IndexedSeq[Int], perSeg: Int, dir: String, schema: StructType): Seq[Segment] =
      order.grouped(perSeg).flatMap { chunk =>
        val w = new Writer(dir, schema)
        chunk.foreach(i => w.add(at(ra, i)))
        w.finish()
      }.toSeq
  }
}

/** One compiled equality-delete filter a reader applies to a segment:
  * key-column ordinals + types in the table layout, and the external
  * key tuples to subtract. Compiled per (segment, applicable deletes)
  * at plan time — the empty-list fast path costs nothing on tables
  * that never upserted.
  */
private[graft] case class EqFilter(
    idx: IndexedSeq[Int], dts: IndexedSeq[org.apache.spark.sql.types.DataType],
    keys: Set[IndexedSeq[Any]]) extends Serializable {
  def matches(r: UnsafeRow): Boolean = {
    import org.apache.spark.sql.types.StringType
    val tuple: IndexedSeq[Any] = idx.indices.map { j =>
      val i = idx(j)
      if (r.isNullAt(i)) null
      else dts(j) match {
        case StringType => r.getUTF8String(i).toString
        case dt => r.get(i, dt)
      }
    }
    keys.contains(tuple)
  }
}

private[graft] object EqFilter {
  /** Compile each delete ONCE per plan (the `keys.toSet` build is the
    * expensive part — per-segment recompilation would copy a 100k-key
    * set once per split and serialize one copy per task). Share the
    * result across segments via [[applicable]].
    */
  def compileAll(
      schema: StructType,
      eqs: Seq[GraftCatalog.EqDelete]): IndexedSeq[(Long, EqFilter)] =
    eqs.iterator.map { eq =>
      val idx = eq.keyCols.map(schema.fieldIndex).toIndexedSeq
      eq.seq -> EqFilter(idx, idx.map(schema.fields(_).dataType), eq.keys.toSet)
    }.toIndexedSeq

  /** The pre-compiled filters applicable to `seg` (strictly newer than
    * its data sequence number).
    */
  def applicable(
      compiled: IndexedSeq[(Long, EqFilter)],
      seg: GraftCatalog.Segment): Seq[EqFilter] =
    compiled.collect { case (sq, f) if GraftCatalog.eqApplies(sq, seg.seq) => f }

  /** One-shot convenience for single-segment callers. */
  def compile(
      schema: StructType, eqs: Seq[GraftCatalog.EqDelete],
      seg: GraftCatalog.Segment): Seq[EqFilter] =
    applicable(compileAll(schema, eqs), seg)
}

/** The catalog's metadata columns (the Iceberg `_file`/`_pos` shape):
  * hidden from `SELECT *`, served by the scan when referenced.
  * `_pos` is the PHYSICAL ordinal — rows masked by a deletion vector
  * leave visible gaps, which is exactly what makes it useful for
  * debugging merge-on-read state.
  */
private[sources] object GraftMetaCols {
  import org.apache.spark.sql.types.{LongType, StringType}
  val Segment = "_segment"
  val Pos = "_pos"
  val RowId = "_row_id"
  val LastUpdatedSeq = "_last_updated_seq"
  val names: Seq[String] = Seq(Segment, Pos, RowId, LastUpdatedSeq)
  private final case class Col(
      name: String, dataType: org.apache.spark.sql.types.DataType,
      override val comment: String, nullable: Boolean = false)
      extends MetadataColumn {
    override def isNullable: Boolean = nullable
  }
  val columns: Array[MetadataColumn] = Array(
    Col(Segment, StringType, "segment file path serving this row"),
    Col(Pos, LongType, "physical row ordinal within the segment (dv gaps visible)"),
    // Row lineage (see Segment.lineage): null for rows of segments
    // committed by a pre-lineage ledger or whose runs an
    // order-perturbing rewrite dropped mid-flight.
    Col(RowId, LongType,
      "stable table-scoped row id, assigned at first commit and carried " +
        "through 1:1 rewrites and compaction", nullable = true),
    Col(LastUpdatedSeq, LongType,
      "snapshot version of the commit that last changed this row " +
        "(SEGMENT granularity on CoW row-level rewrites: untouched rows " +
        "co-located in a touched segment re-stamp too — see Segment.lineage)",
      nullable = true))
}

