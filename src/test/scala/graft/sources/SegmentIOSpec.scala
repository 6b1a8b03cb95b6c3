package graft.sources

import java.nio.file.Files

import scala.collection.immutable.BitSet

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftCatalog.{EqDelete, Segment}

/** The segment record format end to end: segments written with
  * [[SegmentIO.Writer]] and read back through [[SegmentIO.Cursor]] —
  * the one reader every scan, change-feed split and rewrite uses.
  */
class SegmentIOSpec extends AnyFunSuite {
  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("s", StringType)))
  private val toUnsafe = UnsafeProjection.create(schema)
  private lazy val dir = Files.createTempDirectory("graft_segio_").toString

  private def write(rows: (Long, String)*): Segment = {
    val w = new SegmentIO.Writer(dir, schema)
    rows.foreach { case (id, s) =>
      w.add(toUnsafe(InternalRow(id, if (s == null) null else UTF8String.fromString(s))))
    }
    w.finish().get
  }

  private def ids(file: GraftSegFile, live: Boolean): Seq[(Long, Long)] =
    SegmentIO.withCursor(file, schema.length) { cur =>
      val out = Seq.newBuilder[(Long, Long)]
      while (if (live) cur.nextLive() else cur.next()) out += (cur.ordinal -> cur.row.getLong(0))
      out.result()
    }

  private def lineageOf(file: GraftSegFile): Seq[Option[(Long, Long)]] =
    SegmentIO.withCursor(file, schema.length) { cur =>
      val out = Seq.newBuilder[Option[(Long, Long)]]
      while (cur.nextLive())
        out += (if (cur.lineage()) Some(cur.rowId -> cur.updatedSeq) else None)
      out.result()
    }

  test("a record larger than the initial buffer after small ones grows it; every row decodes") {
    val big = "x" * 4000
    val rows = Seq(1L -> "a", 2L -> null, 3L -> big, 4L -> "b")
    val seg = write(rows: _*)
    val back = SegmentIO.withCursor(GraftSegFile.of(seg), schema.length) { cur =>
      val out = Seq.newBuilder[(Long, String)]
      while (cur.next()) {
        val r: UnsafeRow = cur.row
        out += (r.getLong(0) -> (if (r.isNullAt(1)) null else r.getUTF8String(1).toString))
      }
      out.result()
    }
    assert(back == rows)
    assert(seg.rows == 4L && seg.bytes == Files.size(java.nio.file.Paths.get(seg.path)))
  }

  test("physical step visits every ordinal; live step skips deletion-vector ordinals") {
    val seg = write((0L until 6L).map(i => i -> s"r$i"): _*).copy(dv = Some(BitSet(1, 4)))
    val file = GraftSegFile.of(seg)
    assert(ids(file, live = false) == (0L until 6L).map(i => i -> i))
    assert(ids(file, live = true) == Seq(0L, 2L, 3L, 5L).map(i => i -> i))
  }

  test("an equality delete applies only when its seq is greater than the segment's") {
    val seg = write((0L until 4L).map(i => i -> s"r$i"): _*)
    val compiled = EqFilter.compileAll(schema, Seq(EqDelete(Seq("id"), Vector(IndexedSeq(2L)), 5L)))
    val older = GraftSegFile.of(seg.copy(seq = 4L), compiled)
    val same = GraftSegFile.of(seg.copy(seq = 5L), compiled)
    assert(ids(older, live = true).map(_._2) == Seq(0L, 1L, 3L))
    assert(ids(same, live = true).map(_._2) == Seq(0L, 1L, 2L, 3L))
    // The physical step ignores both deletion forms.
    assert(ids(older, live = false).map(_._2) == Seq(0L, 1L, 2L, 3L))
  }

  test("_row_id resolves across a run boundary and is null past the last run") {
    val seg = write((0L until 4L).map(i => i -> s"r$i"): _*)
      .copy(lineage = Vector((100L, 2L, 7L), (500L, 1L, 9L)))
    assert(lineageOf(GraftSegFile.of(seg)) ==
      Seq(Some(100L -> 7L), Some(101L -> 7L), Some(500L -> 9L), None))
    // The scan serves the unresolved ordinal as SQL NULL.
    val required = StructType(schema.fields :+ StructField(GraftMetaCols.RowId, LongType))
    val reader = GraftCatalogReaderFactory(schema, required)
      .createReader(GraftCatalogPartition(Vector(GraftSegFile.of(seg)), schema.length))
    val rowIds = Seq.newBuilder[Option[Long]]
    try while (reader.next()) {
      val r = reader.get()
      rowIds += (if (r.isNullAt(2)) None else Some(r.getLong(2)))
    } finally reader.close()
    assert(rowIds.result() == Seq(Some(100L), Some(101L), Some(500L), None))
  }

  test("rewrite dropping a middle row splits the lineage run and keeps the surviving ids") {
    val seg = write((0L until 5L).map(i => i -> s"r$i"): _*)
      .copy(lineage = Vector((10L, 5L, 3L)), seq = 2L)
    val out = SegmentIO.rewrite(Seq(GraftSegFile.of(seg)), dir, schema.length, schema) { r =>
      if (r.getLong(0) == 2L) None else Some(r)
    }.get
    assert(out.rows == 4L)
    assert(out.lineage == Vector((10L, 2L, 3L), (13L, 2L, 3L)))
    assert(lineageOf(GraftSegFile.of(out)).flatten.map(_._1) == Seq(10L, 11L, 13L, 14L))
    // A 1:1 re-projection keeps the source's data sequence number.
    assert(SegmentIO.reproject(seg, dir, schema.length, schema, toUnsafe).get.seq == 2L)
  }

  test("writer stats, blooms and bytes equal a boxed reference fold (property)") {
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.Prop.propBoolean
    import org.apache.spark.sql.types.Decimal
    val all = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType), StructField("sh", ShortType),
      StructField("b", ByteType), StructField("d", DoubleType), StructField("f", FloatType),
      StructField("z", BooleanType), StructField("s", StringType), StructField("dt", DateType),
      StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
      StructField("dec", DecimalType(10, 2))))
    val proj = UnsafeProjection.create(all)
    // Internal values per column (the UnsafeRow encodings), with nulls
    // and each type's edge values.
    def orNull(g: Gen[Any]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 4 -> g)
    val longs = Gen.oneOf(Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L),
      Gen.choose(-50L, 50L), Gen.choose(Long.MinValue, Long.MaxValue))
    val ints = Gen.oneOf(Gen.oneOf(Int.MinValue, Int.MaxValue, 0), Gen.choose(-50, 50))
    val doubles = Gen.oneOf(Gen.oneOf(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinValue, Double.MaxValue), Gen.choose(-5.0, 5.0))
    val floats = Gen.oneOf(Gen.oneOf(Float.NaN, 0.0f, -0.0f, Float.PositiveInfinity,
      Float.NegativeInfinity, Float.MinValue, Float.MaxValue), Gen.choose(-5.0f, 5.0f))
    val strs = Gen.oneOf(Gen.oneOf("", "a", "b", "\u00e9t\u00e9", "\uFF21", "\uD83D\uDE00", "\u4e2d"),
      Gen.alphaNumStr, Gen.stringOf(Gen.oneOf('x', '\u00e9', '\u4e2d')))
    val cols: Seq[Gen[Any]] = Seq(
      longs, ints, Gen.choose(Short.MinValue, Short.MaxValue),
      Gen.choose(Byte.MinValue, Byte.MaxValue), doubles, floats, Gen.oneOf(true, false),
      strs.map(UTF8String.fromString), ints, longs, longs,
      Gen.choose(-9999L, 9999L).map(Decimal(_, 10, 2)))
    val rowsGen = Gen.choose(0, 60).flatMap(Gen.listOfN(_, Gen.sequence[Seq[Any], Any](cols.map(orNull))))

    // The reference: box every value, fold min/max with each type's
    // order, feed blooms through the probe side's `hashOf`.
    def box(dt: DataType, v: Any): Any = (dt, v) match {
      case (LongType | TimestampType | TimestampNTZType, x: Long) => java.lang.Long.valueOf(x)
      case (IntegerType | DateType, x: Int) => java.lang.Integer.valueOf(x)
      case (ShortType, x: Short) => java.lang.Short.valueOf(x)
      case (ByteType, x: Byte) => java.lang.Byte.valueOf(x)
      case (DoubleType, x: Double) => java.lang.Double.valueOf(x)
      case (FloatType, x: Float) => java.lang.Float.valueOf(x)
      case (BooleanType, x: Boolean) => java.lang.Boolean.valueOf(x)
      case (StringType, x: UTF8String) => x
      case _ => null
    }
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: java.lang.Double, y: java.lang.Double) => java.lang.Double.compare(x, y) < 0
      case (x: java.lang.Float, y: java.lang.Float) => java.lang.Float.compare(x, y) < 0
      case (x: java.lang.Boolean, y: java.lang.Boolean) => !x && y
      case (x: UTF8String, y: UTF8String) => x.binaryCompare(y) < 0
      case (x: Number, y: Number) => x.longValue < y.longValue
    }
    def ext(v: Option[Any]): Any = v match {
      case Some(s: UTF8String) => s.toString
      case other => other.orNull
    }
    // Exact: same boxed class and Java equality (NaN equals NaN, -0.0
    // differs from 0.0).
    def same(a: Any, b: Any): Boolean =
      if (a == null || b == null) a == null && b == null
      else a.getClass == b.getClass && a.asInstanceOf[AnyRef].equals(b)
    def sameBits(a: Option[Array[Long]], b: Option[Array[Long]]): Boolean =
      a.isEmpty == b.isEmpty && a.forall(x => java.util.Arrays.equals(x, b.get))

    val prop = Prop.forAll(rowsGen) { rows =>
      val w = new SegmentIO.Writer(dir, all)
      val bytes = new java.io.ByteArrayOutputStream
      val ref = new java.io.DataOutputStream(bytes)
      rows.foreach { r =>
        val u = proj(InternalRow.fromSeq(r))
        val b = u.getBytes
        ref.writeInt(b.length); ref.write(b)
        w.add(u)
      }
      w.finish() match {
        case None => rows.isEmpty :| "rowless writer"
        case Some(seg) =>
          val file = Files.readAllBytes(java.nio.file.Paths.get(seg.path))
          Files.delete(java.nio.file.Paths.get(seg.path))
          val records = (java.util.Arrays.equals(file, bytes.toByteArray) &&
            seg.rows == rows.length && seg.bytes == file.length) :| "record bytes"
          records && Prop.all(all.fields.indices.map { j =>
              val dt = all.fields(j).dataType
              val vs = rows.flatMap(r => Option(r(j)).flatMap(v => Option(box(dt, v))))
              val tracked = dt != DecimalType(10, 2)
              val want = GraftCatalog.ColStat(
                ext(vs.reduceOption((a, b) => if (lt(b, a)) b else a)),
                ext(vs.reduceOption((a, b) => if (lt(a, b)) b else a)),
                if (tracked) rows.count(_(j) == null).toLong else 0L)
              val bloom =
                if (!SegmentBloom.trackable(dt)) None
                else {
                  val bb = new SegmentBloom.Builder
                  vs.foreach(v => SegmentBloom.hashOf(v).foreach(bb.addHash))
                  bb.result()
                }
              val got = seg.stats(j)
              (same(got.min, want.min) && same(got.max, want.max) && got.nulls == want.nulls &&
                sameBits(seg.blooms(j), bloom)) :| s"column ${all.fields(j).name}: $got vs $want"
            }: _*)
      }
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("string min/max and the sorted fold use UTF-8 binary order, also under spark.testing") {
    // UTF8String.compareTo throws when spark.testing is set; the writer's
    // zone map and compaction's fold must never reach it.
    val prior = Option(System.getProperty("spark.testing"))
    System.setProperty("spark.testing", "true")
    try {
      // "\uFF21" sorts after the emoji in UTF-16 but before it in UTF-8.
      val strs = Seq("b", "", "\u00e9t\u00e9", "\uFF21", "\uD83D\uDE00", "\u4e2d", null, "a")
      val seg = write(strs.zipWithIndex.map { case (s, i) => i.toLong -> s }: _*)
      assert(seg.stats(1) == GraftCatalog.ColStat("", "\uD83D\uDE00", 1L))
      val buf = new SegmentIO.RowBuffer(schema.length)
      SegmentIO.foreachRow(GraftSegFile.of(seg), schema.length)(buf.add)
      val sorted = buf.sortedBy(GraftCatalog.foldLt(schema, Array(1))).map(strs(_))
      assert(sorted == Seq(null, "", "a", "b", "\u00e9t\u00e9", "\u4e2d", "\uFF21", "\uD83D\uDE00"))
    } finally prior match {
      case Some(v) => System.setProperty("spark.testing", v)
      case None => System.clearProperty("spark.testing")
    }
  }
}
