package graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Arbitrary, Gen, Prop, Properties}

import graft.sources.SegmentBloom

/** ScalaCheck laws for the per-segment column Bloom filter. The one
  * that keeps pruning EXACT is zero false negatives: a value added to
  * the builder must always probe present — a single false negative
  * would silently drop rows from a point-lookup. The fp bound is a
  * quality property (with generous slack over the design ≈0.8%), and
  * the int→long canonicalization law is what keeps pruning sound
  * across an ALTER COLUMN widening.
  */
object SegmentBloomProps extends Properties("SegmentBloom") {

  private val longs = Gen.listOfN(500, Gen.choose(Long.MinValue, Long.MaxValue))
  private val strs = Gen.listOfN(300, Gen.alphaNumStr.suchThat(_.nonEmpty))

  private def build(vs: Seq[Any]): Option[Array[Long]] = {
    val b = new SegmentBloom.Builder
    vs.foreach(v => SegmentBloom.hashOf(v).foreach(b.addHash))
    b.result()
  }

  property("no false negatives (longs)") = Prop.forAll(longs) { vs =>
    val boxed = vs.map(java.lang.Long.valueOf)
    build(boxed).forall { bits =>
      boxed.forall(v => SegmentBloom.hashOf(v).forall(SegmentBloom.contains(bits, _)))
    }
  }

  property("no false negatives (strings)") = Prop.forAll(strs) { vs =>
    build(vs).forall { bits =>
      vs.forall(v => SegmentBloom.hashOf(v).forall(SegmentBloom.contains(bits, _)))
    }
  }

  property("false-positive rate stays within slack of design") = Prop.forAll(
    Gen.choose(0L, Long.MaxValue / 2)) { seed =>
    val present = (0 until 2000).map(i => java.lang.Long.valueOf(seed + i * 2L))
    build(present).forall { bits =>
      // Probe 2000 values guaranteed absent (odd offsets).
      val fp = (0 until 2000).count { i =>
        val v = java.lang.Long.valueOf(seed + i * 2L + 1L)
        SegmentBloom.hashOf(v).exists(SegmentBloom.contains(bits, _))
      }
      fp <= 120 // design fp ~0.8% of 2000 = 16; 6% absolute ceiling
    }
  }

  property("integral widening canonicalizes (int hits a long-written bloom)") = Prop.forAll(
    Gen.listOfN(200, Gen.choose(Int.MinValue, Int.MaxValue))) { ints =>
    val asLongs = ints.map(i => java.lang.Long.valueOf(i.toLong))
    build(asLongs).forall { bits =>
      ints.forall(i => SegmentBloom.hashOf(java.lang.Integer.valueOf(i))
        .forall(SegmentBloom.contains(bits, _)))
    }
  }

  property("empty and overflowed builders yield no bloom (never 'provably absent')") = {
    val empty = new SegmentBloom.Builder
    val over = new SegmentBloom.Builder
    (0 to SegmentBloom.MaxDistinct).foreach(i => over.addHash(SegmentBloom.hashLong(i.toLong)))
    // An untrackable value has no hash, so no builder ever sees it.
    val untracked = SegmentBloom.hashOf(java.lang.Double.valueOf(1.5))
    Prop(empty.result().isEmpty && over.result().isEmpty && untracked.isEmpty)
  }

  // The string hash blooms have always used: FNV-1a over a copy of the
  // UTF-8 bytes, finished by the splitmix64 mixer.
  private def fnvOfCopy(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.getBytes(StandardCharsets.UTF_8).foreach(b => h = (h ^ (b & 0xffL)) * 0x100000001b3L)
    SegmentBloom.hashLong(h)
  }

  private val toRow = UnsafeProjection.create(Array[DataType](LongType, StringType))

  property("in-place UTF-8 hash of a row's string equals hashOf of the String") = Prop.forAll(
    Gen.oneOf(Arbitrary.arbitrary[String], Gen.stringOf(Gen.oneOf('a', '\u00e9', '\u4e2d', '\uFF21')),
      Gen.const(""), Gen.const("\uD83D\uDE00"))) { s =>
    // The string sits inside an UnsafeRow buffer, after a fixed field,
    // as the segment writer reads it.
    val inRow = toRow(InternalRow(7L, UTF8String.fromString(s))).getUTF8String(1)
    val h = SegmentBloom.hashUtf8(inRow)
    SegmentBloom.hashOf(inRow.toString).contains(h) && h == fnvOfCopy(inRow.toString)
  }

  property("integral hashes equal hashOf of the boxed value") = Prop.forAll(
    Arbitrary.arbitrary[Long]) { v =>
    SegmentBloom.hashOf(java.lang.Long.valueOf(v)).contains(SegmentBloom.hashLong(v)) &&
      SegmentBloom.hashOf(java.lang.Integer.valueOf(v.toInt)).contains(SegmentBloom.hashLong(v.toInt.toLong)) &&
      SegmentBloom.hashOf(java.lang.Short.valueOf(v.toShort)).contains(SegmentBloom.hashLong(v.toShort.toLong)) &&
      SegmentBloom.hashOf(java.lang.Byte.valueOf(v.toByte)).contains(SegmentBloom.hashLong(v.toByte.toLong)) &&
      // splitmix64's first output from state 0: the mixer is unchanged.
      SegmentBloom.hashLong(0L) == 0xe220a8397b1dcdafL
  }
}
