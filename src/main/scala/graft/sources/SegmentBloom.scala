package graft.sources

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Per-(segment, column) Bloom filter for point-predicate segment
  * skipping — the role parquet column Bloom filters and ClickHouse
  * `bloom_filter` skip indexes play. Zone maps prune range predicates,
  * but an `EqualTo`/`IN` on a high-NDV UNSORTED column (an id, a key,
  * a name) almost never falls outside a segment's [min, max]: at
  * 100 TB a point lookup would touch every segment. A few KiB of Bloom
  * bits per column per segment turns that into "read only the segments
  * that might hold the value".
  *
  * Soundness contract (what keeps pruning exact): the write path and
  * the read path canonicalize values IDENTICALLY before hashing —
  * every integral type through `longValue` (so an `int`-written
  * segment still hits after an ALTER COLUMN widening to `BIGINT`),
  * strings through their UTF-8 bytes (`UTF8String` at write time,
  * `java.lang.String` from a pushed filter at read time). A value
  * present in the segment therefore ALWAYS hits (zero false
  * negatives); an absent one misses with probability ≈ 1 − fp.
  * Like zone-map stats, bits describe ALL physical rows — deletion
  * vectors only ever make that conservative, never wrong.
  *
  * Sizing: the builder keeps the column's distinct hash set while the
  * segment streams and sizes the filter at finish — [[BitsPerKey]]
  * bits per distinct key, [[K]] probes ⇒ fp ≈ 0.8%. Above
  * [[MaxDistinct]] distinct hashes it gives up for that column (the
  * bits would outgrow their ledger value; range stats still apply).
  * Probing uses Kirsch–Mitzenmacher double hashing over a power-of-two
  * bit count, so one 64-bit hash per value is enough.
  */
object SegmentBloom {

  /** Probes per value. With 10 bits/key, fp = (1 − e^(−k/10))^k ≈ 0.008. */
  val K = 6

  /** Bits per distinct key the builder allocates at finish. */
  val BitsPerKey = 10

  /** Builder gives up past this many distinct hashes per column. */
  val MaxDistinct: Int = 1 << 16

  /** Column types the segment writer builds blooms for — the same set
    * `hashOf` canonicalizes. Scans advertise exactly these columns for
    * runtime V2 filtering (beyond partition columns): a bloom is what
    * makes a runtime join-key IN worth pushing on a non-partition
    * column.
    */
  def trackable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.StringType => true
    case _ => false
  }

  /** Canonical 64-bit hash, or None for types blooms don't track
    * (floating point — point equality on floats is degenerate —
    * booleans and anything exotic; zone maps still cover those). The
    * probe side's hash: it routes through the same [[hashLong]] /
    * [[hashUtf8]] the writer feeds its builders, so every value the
    * writer saw probes present.
    */
  def hashOf(v: Any): Option[Long] = v match {
    case x: java.lang.Long => Some(hashLong(x.longValue))
    case x: java.lang.Integer => Some(hashLong(x.longValue))
    case x: java.lang.Short => Some(hashLong(x.longValue))
    case x: java.lang.Byte => Some(hashLong(x.longValue))
    case s: UTF8String => Some(hashUtf8(s))
    case s: String => Some(hashUtf8(UTF8String.fromString(s)))
    case _ => None
  }

  /** Hash of an integral value widened to a long: the splitmix64
    * finalizer, full avalanche for integral keys.
    */
  def hashLong(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Hash of a string: FNV-1a over its UTF-8 bytes, read in place (no
    * copy), finished through [[hashLong]].
    */
  def hashUtf8(s: UTF8String): Long = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < n) {
      h = (h ^ (Platform.getByte(base, off + i) & 0xffL)) * 0x100000001b3L
      i += 1
    }
    hashLong(h)
  }

  /** Membership probe. `bits.length` is always a power of two (the
    * builder guarantees it), so the probe index masks instead of mods.
    */
  def contains(bits: Array[Long], h: Long): Boolean = {
    val m = bits.length << 6
    val h1 = h.toInt
    val h2 = (h >>> 32).toInt | 1 // odd ⇒ probes cycle the whole table
    var i = 0
    while (i < K) {
      val idx = (h1 + i * h2) & (m - 1)
      if ((bits(idx >>> 6) & (1L << (idx & 63))) == 0L) return false
      i += 1
    }
    true
  }

  private def set(bits: Array[Long], h: Long): Unit = {
    val m = bits.length << 6
    val h1 = h.toInt
    val h2 = (h >>> 32).toInt | 1
    var i = 0
    while (i < K) {
      val idx = (h1 + i * h2) & (m - 1)
      bits(idx >>> 6) |= 1L << (idx & 63)
      i += 1
    }
  }

  /** Streaming per-column builder the segment writer drives. Collects
    * distinct hashes (bounded by [[MaxDistinct]]) and materializes an
    * optimally-sized filter at finish; `None` when the column
    * overflowed the budget or had no non-null rows (an empty bloom
    * would prune EVERY probe — absent must mean "don't know", not
    * "provably missing").
    */
  final class Builder {
    // Primitive open-addressed set (linear probing, power-of-two
    // table, 0 as the empty-slot sentinel with a side flag for a real
    // zero hash): a boxed java.util.HashSet costs ~48 bytes per entry
    // — ~3 MB per column per in-flight segment at the distinct cap —
    // for keys that are already well-mixed 64-bit hashes.
    private var table = new Array[Long](1 << 8)
    private var n = 0
    private var hasZero = false
    private var over = false

    private def grow(): Unit = {
      val old = table
      table = new Array[Long](old.length << 1)
      var i = 0
      while (i < old.length) {
        if (old(i) != 0L) put(old(i))
        i += 1
      }
    }

    private def put(h: Long): Boolean = { // true = newly inserted
      val mask = table.length - 1
      var i = h.toInt & mask
      while (table(i) != 0L) {
        if (table(i) == h) return false
        i = (i + 1) & mask
      }
      table(i) = h
      true
    }

    /** Record one value by its canonical hash — [[hashLong]] of an
      * integral value, [[hashUtf8]] of a string, i.e. exactly what
      * [[hashOf]] answers for it — or probes for that value miss.
      */
    def addHash(h: Long): Unit = if (!over) {
      if (h == 0L) {
        if (!hasZero) { hasZero = true; n += 1 }
      } else if (put(h)) {
        n += 1
        if (n > MaxDistinct) { over = true; table = Array.empty; return }
        if ((n - (if (hasZero) 1 else 0)) * 4 >= table.length * 3) grow()
      }
    }

    def result(): Option[Array[Long]] =
      if (over || n == 0) None
      else {
        val wantBits = math.max(512L, n.toLong * BitsPerKey)
        val m = java.lang.Long.highestOneBit(wantBits * 2 - 1).toInt // next pow2 ≥ want
        val bits = new Array[Long](m >>> 6)
        var i = 0
        while (i < table.length) {
          if (table(i) != 0L) set(bits, table(i))
          i += 1
        }
        if (hasZero) set(bits, 0L)
        Some(bits)
      }
  }
}
