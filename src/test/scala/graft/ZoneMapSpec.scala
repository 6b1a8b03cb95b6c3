package graft

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftCatalog.{ColStat, Segment}
import graft.sources.ZoneMap

/** Pure-function tests for the catalog's zone-map segment pruner: the
  * decision must be EXACTLY "provably no matching row" — aggressive
  * where min/max prove emptiness, conservative everywhere else (missing
  * stats, unsupported types/shapes, nulls, precision edges).
  */
class ZoneMapSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType),
    StructField("flag", BooleanType),
    StructField("arr", ArrayType(LongType)))) // untracked type

  /** Segment with id ∈ [100, 200] (no nulls), name ∈ ["ham", "pig"]
    * (2 nulls), score ∈ [0.5, 9.5], flag = true only, arr untracked.
    */
  private val seg = Segment("/nope", rows = 50, bytes = 1000, stats = Vector(
    ColStat(100L, 200L, 0),
    ColStat("ham", "pig", 2),
    ColStat(0.5d, 9.5d, 0),
    ColStat(java.lang.Boolean.TRUE, java.lang.Boolean.TRUE, 0),
    ColStat(null, null, 0)))

  private def keep(f: Filter): Boolean = ZoneMap.mightMatch(f, schema, seg)

  test("range comparisons prune outside [min, max] and keep the boundary") {
    assert(!keep(EqualTo("id", 99L)) && !keep(EqualTo("id", 201L)))
    assert(keep(EqualTo("id", 100L)) && keep(EqualTo("id", 200L)) && keep(EqualTo("id", 150L)))
    assert(!keep(GreaterThan("id", 200L)) && keep(GreaterThan("id", 199L)))
    assert(!keep(GreaterThanOrEqual("id", 201L)) && keep(GreaterThanOrEqual("id", 200L)))
    assert(!keep(LessThan("id", 100L)) && keep(LessThan("id", 101L)))
    assert(!keep(LessThanOrEqual("id", 99L)) && keep(LessThanOrEqual("id", 100L)))
    // filter literal type may differ from the column's (Int vs Long col)
    assert(!keep(EqualTo("id", 99)) && keep(EqualTo("id", 150)))
    // doubles, strings, booleans
    assert(!keep(GreaterThan("score", 9.5d)) && keep(GreaterThan("score", 9.4d)))
    assert(!keep(EqualTo("name", "zebra")) && keep(EqualTo("name", "hog")))
    assert(!keep(EqualTo("flag", java.lang.Boolean.FALSE)) &&
      keep(EqualTo("flag", java.lang.Boolean.TRUE)))
  }

  test("IN prunes only when every value is out of range; null members disable proof") {
    assert(!keep(In("id", Array(1L, 2L, 300L))))
    assert(keep(In("id", Array(1L, 150L))))
    assert(keep(In("id", Array(1L, null)))) // null member → conservative
    assert(keep(In("id", Array.empty[Any]))) // empty IN → never prune here
  }

  test("null accounting: IsNull prunes null-free segments, IsNotNull prunes all-null ones") {
    assert(!keep(IsNull("id"))) // 0 nulls
    assert(keep(IsNull("name"))) // 2 nulls
    assert(keep(IsNotNull("id")))
    val allNullSeg = seg.copy(stats = seg.stats.updated(0, ColStat(null, null, 50)))
    assert(!ZoneMap.mightMatch(IsNotNull("id"), schema, allNullSeg))
    assert(!ZoneMap.mightMatch(EqualTo("id", 150L), schema, allNullSeg),
      "comparisons can't match an all-null column")
    assert(!ZoneMap.mightMatch(EqualNullSafe("id", null), schema, seg))
    assert(ZoneMap.mightMatch(EqualNullSafe("name", null), schema, seg))
  }

  test("untracked columns never prove null-freeness (nulls=0 is absence of counting)") {
    // arr is untracked: its stat is (null, null, 0) even when rows hold
    // nulls — IsNull / null-safe-eq must NOT prune on that zero.
    assert(keep(IsNull("arr")))
    assert(keep(EqualNullSafe("arr", null)))
    assert(keep(IsNotNull("arr")))
  }

  test("temporal literals normalize to internal encodings and prune") {
    import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
    val tSchema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("tsn", TimestampNTZType),
      StructField("d", DateType)))
    def micros(s: String): Long =
      Instant.parse(s).getEpochSecond * 1000000L
    // ts ∈ [2024-01-10T00:00Z, 2024-01-20T00:00Z] stored as micros;
    // d ∈ [epochDay(2024-01-10), epochDay(2024-01-20)] stored as days.
    val day10 = LocalDate.parse("2024-01-10").toEpochDay.toInt
    val day20 = LocalDate.parse("2024-01-20").toEpochDay.toInt
    val tseg = Segment("/nope", rows = 10, bytes = 100, stats = Vector(
      ColStat(micros("2024-01-10T00:00:00Z"), micros("2024-01-20T00:00:00Z"), 0),
      ColStat(micros("2024-01-10T00:00:00Z"), micros("2024-01-20T00:00:00Z"), 0),
      ColStat(day10, day20, 0)))
    def k(f: Filter): Boolean = ZoneMap.mightMatch(f, tSchema, tseg)
    // Instant literals (java8 datetime API, LTZ columns)
    assert(!k(GreaterThan("ts", Instant.parse("2024-01-20T00:00:01Z"))))
    assert(k(GreaterThan("ts", Instant.parse("2024-01-19T23:59:59Z"))))
    assert(!k(LessThan("ts", Instant.parse("2024-01-10T00:00:00Z"))))
    assert(!k(EqualTo("ts", Instant.parse("2024-02-01T00:00:00Z"))))
    assert(k(EqualTo("ts", Instant.parse("2024-01-15T12:00:00Z"))))
    // java.sql.Timestamp literals (legacy API) — epoch-exact, no zone math
    val jts = java.sql.Timestamp.from(Instant.parse("2024-02-01T00:00:00Z"))
    val keepJts = java.sql.Timestamp.from(Instant.parse("2024-01-15T00:00:00Z"))
    assert(!k(EqualTo("ts", jts)) && k(EqualTo("ts", keepJts)))
    // LocalDateTime literals (NTZ columns)
    assert(!k(GreaterThan("tsn",
      LocalDateTime.ofInstant(Instant.parse("2024-01-21T00:00:00Z"), ZoneOffset.UTC))))
    assert(k(LessThanOrEqual("tsn",
      LocalDateTime.ofInstant(Instant.parse("2024-01-10T00:00:00Z"), ZoneOffset.UTC))))
    // LocalDate / java.sql.Date literals against DateType
    assert(!k(EqualTo("d", LocalDate.parse("2024-01-09"))))
    assert(k(EqualTo("d", LocalDate.parse("2024-01-10"))))
    assert(!k(GreaterThan("d", LocalDate.parse("2024-01-20"))))
    assert(k(In("d", Array[Any](LocalDate.parse("2024-01-11"), LocalDate.parse("2030-01-01")))))
    assert(!k(In("d", Array[Any](LocalDate.parse("2023-01-01"), LocalDate.parse("2030-01-01")))))
    // prunable() admits temporal literal shapes
    assert(ZoneMap.prunable(EqualTo("ts", Instant.now()), tSchema))
    assert(ZoneMap.prunable(LessThan("d", LocalDate.now()), tSchema))
  }

  test("AND prunes if either side proves empty; OR needs both") {
    assert(!keep(And(EqualTo("id", 150L), EqualTo("name", "zebra"))))
    assert(keep(And(EqualTo("id", 150L), EqualTo("name", "hog"))))
    assert(!keep(Or(EqualTo("id", 99L), EqualTo("name", "zebra"))))
    assert(keep(Or(EqualTo("id", 99L), EqualTo("name", "hog"))))
  }

  test("StringStartsWith prunes segments outside the prefix interval") {
    assert(!keep(StringStartsWith("name", "z"))) // max "pig" < "z"
    assert(!keep(StringStartsWith("name", "a"))) // min "ham" > "a", no prefix
    assert(keep(StringStartsWith("name", "ha")))
    assert(keep(StringStartsWith("name", "p")))
    // boundary: min itself carries the prefix
    assert(keep(StringStartsWith("name", "ham")))
  }

  test("conservative on anything unprovable") {
    // untracked column type (array) never prunes
    assert(keep(EqualTo("arr", 1L)))
    // unknown attribute
    assert(keep(EqualTo("nope", 1L)))
    // stat-less segment (legacy layout)
    val bare = Segment("/nope", rows = 50)
    assert(ZoneMap.mightMatch(EqualTo("id", 99L), schema, bare))
    // unsupported filter shape
    assert(keep(Not(EqualTo("id", 99L))))
    assert(keep(StringContains("name", "zz")))
  }

  test("big-long precision: 2^53-adjacent longs never collapse into a lossy double compare") {
    // min = max = 2^53; the literal 2^53 + 1 rounds to the SAME
    // double, so a doubleValue() comparison would wrongly keep (or,
    // worse, a stat built that way could wrongly prune). The exact
    // integral path must prove the mismatch.
    val big = 1L << 53
    assert(big.toDouble == (big + 1L).toDouble, "test premise: doubles collide")
    val s2 = seg.copy(stats = seg.stats.updated(0, ColStat(big, big, 0)))
    assert(!ZoneMap.mightMatch(EqualTo("id", big + 1L), schema, s2))
    assert(ZoneMap.mightMatch(EqualTo("id", big), schema, s2))
  }

  test("bloom bits prune point lookups the min/max range cannot") {
    import graft.sources.SegmentBloom
    import org.apache.spark.unsafe.types.UTF8String
    // Write side hashes the UTF8String in place (the segment writer's
    // value type); probes arrive as java.lang.String from pushed
    // filters. The canonical hash must make them meet.
    val nb = new SegmentBloom.Builder
    Seq("ham", "hog", "pig").foreach(v => nb.addHash(SegmentBloom.hashUtf8(UTF8String.fromString(v))))
    val ib = new SegmentBloom.Builder
    Seq(100L, 150L, 200L).foreach(v => ib.addHash(SegmentBloom.hashLong(v)))
    val segB = seg.copy(blooms = Vector(
      ib.result(), nb.result(), None, None, None))
    def keepB(f: Filter): Boolean = ZoneMap.mightMatch(f, schema, segB)
    // "hat" sits inside ["ham","pig"] — ranges keep it, the bloom proves
    // absence; present values always hit (no false negatives).
    assert(!keepB(EqualTo("name", "hat")) && keepB(EqualTo("name", "hog")))
    assert(!keepB(EqualNullSafe("name", "hat")) && keepB(EqualNullSafe("name", "hog")))
    // Integrals canonicalize via longValue: an Integer literal probes
    // the Long column's bloom correctly (both directions).
    assert(!keepB(EqualTo("id", 151L)) && keepB(EqualTo("id", 150L)))
    assert(!keepB(EqualTo("id", 151)) && keepB(EqualTo("id", 150)))
    // IN prunes only when EVERY member misses.
    assert(!keepB(In("name", Array("hat", "hut"))))
    assert(keepB(In("name", Array("hat", "hog"))))
    // Type-family mismatch (string literal on a long column) never
    // consults the bloom — conservative, matches the range pruner.
    assert(keepB(EqualTo("id", "151")))
    // A segment without blooms (old ledger) behaves exactly as before.
    assert(keep(EqualTo("name", "hat")))
  }

  test("bloom builder: no false negatives over a dense key set; overflow and empty yield None") {
    import graft.sources.SegmentBloom
    val b = new SegmentBloom.Builder
    (0L until 5000L).foreach(v => b.addHash(SegmentBloom.hashLong(v)))
    val bits = b.result().get
    (0L until 5000L).foreach { v =>
      assert(SegmentBloom.contains(bits, SegmentBloom.hashOf(v).get),
        s"present value $v must always hit")
    }
    // fp stays near the designed ~0.8%: probe 10k absent keys.
    val fps = (100000L until 110000L).count(v =>
      SegmentBloom.contains(bits, SegmentBloom.hashOf(v).get))
    assert(fps < 300, s"false-positive rate degenerate: $fps / 10000")
    // Builder gives up past MaxDistinct (no bloom beats a giant bloom)
    val big = new SegmentBloom.Builder
    (0L to SegmentBloom.MaxDistinct.toLong).foreach(v => big.addHash(SegmentBloom.hashLong(v)))
    assert(big.result().isEmpty)
    // ... and an empty column yields None too (an empty bloom would
    // prune every probe); an untrackable-typed column gets no builder
    // and no hash at all.
    assert(new SegmentBloom.Builder().result().isEmpty)
    assert(!SegmentBloom.trackable(org.apache.spark.sql.types.DoubleType))
    assert(SegmentBloom.hashOf(java.lang.Double.valueOf(1.5)).isEmpty)
  }

  test("prunable() reports exactly the shapes the pruner understands") {
    assert(ZoneMap.prunable(EqualTo("id", 1L), schema))
    assert(ZoneMap.prunable(In("id", Array(1L, 2L)), schema))
    assert(ZoneMap.prunable(IsNull("arr"), schema)) // null counts track every type
    assert(!ZoneMap.prunable(EqualTo("nope", 1L), schema))
    assert(!ZoneMap.prunable(EqualTo("id", null), schema))
    assert(!ZoneMap.prunable(In("id", Array[Any](1L, null)), schema))
    assert(!ZoneMap.prunable(Not(EqualTo("id", 1L)), schema))
    assert(ZoneMap.prunable(And(EqualTo("id", 1L), StringContains("name", "x")), schema))
    assert(!ZoneMap.prunable(Or(EqualTo("id", 1L), StringContains("name", "x")), schema))
  }
}
