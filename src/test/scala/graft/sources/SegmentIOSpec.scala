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
