package graft

import scala.collection.mutable
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** Model-based NESTED-EVOLUTION gauntlet: random sequences of
  * {insert era, ADD nested field, RENAME nested field, WIDEN nested
  * int field, DROP nested field} against an exact in-memory model of
  * the struct column (fixed seeds — deterministic regressions, not
  * fuzzing). Every mutation RE-READS the whole table and compares
  * per-row per-field, so an ordinal slip in the struct-rebuild
  * projection (the classic add-after-drop bug class), a widen that
  * clobbers a sibling, or a NULL parent sprouting values surfaces at
  * the exact op that broke, with the seed and op log in the message.
  */
class NestedGauntletSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // Inner-field model: ordered (name, kind) plus per-row values.
  // kind: "int" (widenable), "long" (post-widen), "str", "dbl".
  private case class Model(
      fields: mutable.ArrayBuffer[(String, String)],
      rows: mutable.LinkedHashMap[Long, Option[mutable.LinkedHashMap[String, Any]]])

  private def sqlLit(kind: String, v: Any): String = kind match {
    case "str" => s"'${v.toString}'"
    case "int" => s"CAST(${v} AS INT)"
    case "long" => s"CAST(${v} AS BIGINT)"
    case "dbl" => s"CAST(${v} AS DOUBLE)"
    case "dec" => s"CAST(${v} AS DECIMAL(8,2))"
    case "decw" => s"CAST(${v} AS DECIMAL(16,2))"
  }

  private def freshValue(kind: String, rnd: Random): Any = kind match {
    case "str" => "s" + rnd.nextInt(1000)
    case "int" => rnd.nextInt(100000)
    case "long" => rnd.nextLong() % 10000000000L
    case "dbl" => math.rint(rnd.nextDouble() * 1e6) / 100.0
    case "dec" | "decw" => java.math.BigDecimal.valueOf(rnd.nextInt(100000).toLong, 2)
  }

  private def check(t: String, path: String, m: Model, log: Seq[String], seed: Int): Unit = {
    // `path` addresses the INNER struct (meta, or meta.w1...wN at
    // nest depth N): a NULL anywhere along the wrapper chain reads as
    // a NULL inner struct, exactly what the model's None encodes.
    val got = spark.sql(s"SELECT k, $path FROM $t ORDER BY k").collect()
    val ctx = s"seed=$seed after:\n  ${log.mkString("\n  ")}"
    assert(got.length == m.rows.size, s"row count ${got.length} != ${m.rows.size}; $ctx")
    val expected = m.rows.toSeq.sortBy(_._1)
    got.zip(expected).foreach { case (r, (k, exp)) =>
      assert(r.getLong(0) == k, s"key order; $ctx")
      exp match {
        case None =>
          assert(r.isNullAt(1), s"k=$k meta must be NULL; $ctx")
        case Some(vals) =>
          assert(!r.isNullAt(1), s"k=$k meta must not be NULL; $ctx")
          val st = r.getStruct(1)
          m.fields.zipWithIndex.foreach { case ((name, kind), i) =>
            val expectedV = vals.get(name).orNull
            val gotV = if (st.isNullAt(i)) null else st.get(i)
            val norm = (expectedV, kind) match {
              case (null, _) => null
              case (v: Int, "long") => v.toLong // widened era: ints read as longs
              case (v, _) => v
            }
            assert(gotV == norm,
              s"k=$k field $name (slot $i, $kind): got $gotV expected $norm; $ctx")
          }
      }
    }
  }

  private def run(seed: Int, depth: Int, nest: Int): Unit = {
    val rnd = new Random(seed)
    val t = s"graft.ng.t${seed}n$nest"
    // `nest` wrapper structs around the mutated inner struct: nest=0
    // is the classic one-level surface (ops at meta.fX); nest=N puts
    // every op at meta.w1...wN.fX, driving the recursive path
    // resolver through N struct rebuild levels per op.
    val wrappers = (1 to nest).map(i => s"w$i")
    val path = ("meta" +: wrappers).mkString(".")
    def sqlType(kind: String): String = kind match {
      case "str" => "STRING"; case "int" => "INT"
      case "long" => "BIGINT"; case "dbl" => "DOUBLE"
      case "dec" => "DECIMAL(8,2)"; case "decw" => "DECIMAL(16,2)"
    }
    val m = Model(
      mutable.ArrayBuffer("f0" -> "str", "f1" -> "int"),
      mutable.LinkedHashMap.empty)
    // Type of the value at wrapper level j (0 = the meta column;
    // nest = the inner struct), derived from the CURRENT model fields.
    def typeAt(j: Int): String =
      if (j == nest) s"STRUCT<${m.fields.map { case (n, k) => s"$n: ${sqlType(k)}" }.mkString(", ")}>"
      else s"STRUCT<w${j + 1}: ${typeAt(j + 1)}>"
    spark.sql(s"DROP TABLE IF EXISTS $t PURGE")
    spark.sql(s"CREATE TABLE $t (k BIGINT, meta ${typeAt(0)}) USING graft")
    var nextK = 0L
    var nextF = 2
    val log = mutable.ArrayBuffer[String]()

    def insertEra(): Unit = {
      val n = 1 + rnd.nextInt(4)
      val rows = (0 until n).map { _ =>
        val k = nextK; nextK += 1
        // NULL can land at ANY wrapper level — all read as a NULL
        // inner struct through the dotted path.
        val nullLevel = if (rnd.nextInt(5) == 0) Some(rnd.nextInt(nest + 1)) else None
        nullLevel match {
          case Some(0) => m.rows(k) = None; s"($k, NULL)"
          case Some(j) =>
            m.rows(k) = None
            // Wrappers 1..j-1 present; slot w$j holds a typed NULL.
            var v = s"CAST(NULL AS ${typeAt(j)})"
            (j to 1 by -1).foreach(i => v = s"named_struct('w$i', $v)")
            s"($k, $v)"
          case None =>
            val vals = mutable.LinkedHashMap[String, Any]()
            val parts = m.fields.map { case (name, kind) =>
              // Occasional NULL inner value.
              if (rnd.nextInt(6) == 0) { vals(name) = null; s"'$name', CAST(NULL AS ${sqlType(kind)})" }
              else { val v = freshValue(kind, rnd); vals(name) = v; s"'$name', ${sqlLit(kind, v)}" }
            }
            m.rows(k) = Some(vals)
            var v = s"named_struct(${parts.mkString(", ")})"
            (nest to 1 by -1).foreach(i => v = s"named_struct('w$i', $v)")
            s"($k, $v)"
        }
      }
      log += s"INSERT ${rows.mkString(", ")}"
      spark.sql(s"INSERT INTO $t VALUES ${rows.mkString(", ")}")
    }

    def addField(): Unit = {
      val name = s"f$nextF"; nextF += 1
      val kind = Seq("str", "int", "dbl", "dec")(rnd.nextInt(4))
      log += s"ADD $path.$name ${sqlType(kind)}"
      spark.sql(s"ALTER TABLE $t ADD COLUMNS ($path.$name ${sqlType(kind)})")
      m.fields += (name -> kind)
      m.rows.values.foreach(_.foreach(_(name) = null))
    }

    def renameField(): Unit = {
      val i = rnd.nextInt(m.fields.length)
      val (old, kind) = m.fields(i)
      val nn = s"f$nextF"; nextF += 1
      log += s"RENAME $path.$old -> $nn"
      spark.sql(s"ALTER TABLE $t RENAME COLUMN $path.$old TO $nn")
      m.fields(i) = nn -> kind
      m.rows.values.foreach(_.foreach { vals =>
        if (vals.contains(old)) { vals(nn) = vals.remove(old).get }
      })
    }

    def widenField(): Unit = {
      val widenable = m.fields.zipWithIndex
        .filter(f => f._1._2 == "int" || f._1._2 == "dec")
      if (widenable.nonEmpty) {
        val ((name, kind), i) = widenable(rnd.nextInt(widenable.length))
        val (toSql, toKind) =
          if (kind == "int") ("BIGINT", "long") else ("DECIMAL(16,2)", "decw")
        log += s"WIDEN $path.$name ${sqlType(kind)} -> $toSql"
        spark.sql(s"ALTER TABLE $t ALTER COLUMN $path.$name TYPE $toSql")
        m.fields(i) = name -> toKind
        m.rows.values.foreach(_.foreach { vals =>
          vals.get(name).foreach {
            case v: Int if kind == "int" => vals(name) = v.toLong
            case _ => () // decimals keep value AND scale through the widen
          }
        })
      }
    }

    def dropField(): Unit = {
      if (m.fields.length > 1) {
        val i = rnd.nextInt(m.fields.length)
        val (name, _) = m.fields(i)
        log += s"DROP $path.$name"
        spark.sql(s"ALTER TABLE $t DROP COLUMN $path.$name")
        m.fields.remove(i)
        m.rows.values.foreach(_.foreach(_.remove(name)))
      }
    }

    insertEra() // never start empty
    check(t, path, m, log.toSeq, seed)
    (0 until depth).foreach { _ =>
      rnd.nextInt(10) match {
        case 0 | 1 | 2 | 3 => insertEra()
        case 4 | 5 => addField()
        case 6 => renameField()
        case 7 => widenField()
        case 8 | 9 => dropField()
      }
      check(t, path, m, log.toSeq, seed)
    }
    spark.sql(s"DROP TABLE $t PURGE")
  }

  /** CONTAINER-mode gauntlet: the mutated struct lives inside
    * `items ARRAY<STRUCT<...>>` — every op rebuilds the element struct
    * through ArrayTransform, with NULL arrays, EMPTY arrays, and NULL
    * elements all planted and model-checked per element per field
    * after every op.
    */
  private def runArray(seed: Int, depth: Int): Unit = {
    val rnd = new Random(seed)
    val t = s"graft.ng.arr$seed"
    def sqlType(kind: String): String = kind match {
      case "str" => "STRING"; case "int" => "INT"
      case "long" => "BIGINT"; case "dbl" => "DOUBLE"
      case "dec" => "DECIMAL(8,2)"; case "decw" => "DECIMAL(16,2)"
    }
    val fields = mutable.ArrayBuffer("f0" -> "str", "f1" -> "int")
    // rows(k) = None (NULL array) | Some(elements), element = None
    // (NULL element) | Some(fieldName -> value).
    val rows = mutable.LinkedHashMap.empty[
      Long, Option[Seq[Option[mutable.LinkedHashMap[String, Any]]]]]
    def innerTypeSql: String =
      s"STRUCT<${fields.map { case (n, k) => s"$n: ${sqlType(k)}" }.mkString(", ")}>"
    spark.sql(s"DROP TABLE IF EXISTS $t PURGE")
    spark.sql(s"CREATE TABLE $t (k BIGINT, items ARRAY<$innerTypeSql>) USING graft")
    var nextK = 0L
    var nextF = 2
    val log = mutable.ArrayBuffer[String]()

    def check(): Unit = {
      val got = spark.sql(s"SELECT k, items FROM $t ORDER BY k").collect()
      val ctx = s"seed=$seed after:\n  ${log.mkString("\n  ")}"
      assert(got.length == rows.size, s"row count; $ctx")
      got.zip(rows.toSeq.sortBy(_._1)).foreach { case (r, (k, exp)) =>
        assert(r.getLong(0) == k, s"key order; $ctx")
        exp match {
          case None => assert(r.isNullAt(1), s"k=$k items must be NULL; $ctx")
          case Some(elems) =>
            assert(!r.isNullAt(1), s"k=$k items must not be NULL; $ctx")
            val arr = r.getSeq[org.apache.spark.sql.Row](1)
            assert(arr.length == elems.length, s"k=$k element count; $ctx")
            arr.zip(elems).zipWithIndex.foreach { case ((el, ee), j) =>
              ee match {
                case None => assert(el == null, s"k=$k[$j] must be NULL; $ctx")
                case Some(vals) =>
                  assert(el != null, s"k=$k[$j] must not be NULL; $ctx")
                  fields.zipWithIndex.foreach { case ((name, kind), i) =>
                    val expectedV = vals.get(name).orNull
                    val gotV = if (el.isNullAt(i)) null else el.get(i)
                    val norm = (expectedV, kind) match {
                      case (null, _) => null
                      case (v: Int, "long") => v.toLong
                      case (v, _) => v
                    }
                    assert(gotV == norm,
                      s"k=$k[$j] field $name (slot $i, $kind): got $gotV expected $norm; $ctx")
                  }
              }
            }
        }
      }
    }

    def insertEra(): Unit = {
      val n = 1 + rnd.nextInt(4)
      val sqlRows = (0 until n).map { _ =>
        val k = nextK; nextK += 1
        if (rnd.nextInt(5) == 0) { rows(k) = None; s"($k, NULL)" }
        else {
          val m = rnd.nextInt(4) // 0..3 elements (0 = EMPTY array)
          val elems = (0 until m).map { _ =>
            if (rnd.nextInt(6) == 0) None
            else {
              val vals = mutable.LinkedHashMap[String, Any]()
              fields.foreach { case (name, kind) =>
                if (rnd.nextInt(6) == 0) vals(name) = null
                else vals(name) = freshValue(kind, rnd)
              }
              Some(vals)
            }
          }
          rows(k) = Some(elems)
          val parts = elems.map {
            case None => s"CAST(NULL AS $innerTypeSql)"
            case Some(vals) =>
              val fs = fields.map { case (name, kind) =>
                vals(name) match {
                  case null => s"'$name', CAST(NULL AS ${sqlType(kind)})"
                  case v => s"'$name', ${sqlLit(kind, v)}"
                }
              }
              s"named_struct(${fs.mkString(", ")})"
          }
          if (parts.isEmpty) s"($k, CAST(array() AS ARRAY<$innerTypeSql>))"
          else s"($k, array(${parts.mkString(", ")}))"
        }
      }
      log += s"INSERT ${sqlRows.mkString(", ")}"
      spark.sql(s"INSERT INTO $t VALUES ${sqlRows.mkString(", ")}")
    }

    def forEachElem(f: mutable.LinkedHashMap[String, Any] => Unit): Unit =
      rows.values.foreach(_.foreach(_.foreach(_.foreach(f))))

    insertEra()
    check()
    (0 until depth).foreach { _ =>
      rnd.nextInt(10) match {
        case 0 | 1 | 2 | 3 => insertEra()
        case 4 | 5 =>
          val name = s"f$nextF"; nextF += 1
          val kind = Seq("str", "int", "dbl", "dec")(rnd.nextInt(4))
          log += s"ADD items.element.$name ${sqlType(kind)}"
          spark.sql(s"ALTER TABLE $t ADD COLUMNS (items.element.$name ${sqlType(kind)})")
          fields += (name -> kind)
          forEachElem(_(name) = null)
        case 6 =>
          val i = rnd.nextInt(fields.length)
          val (old, kind) = fields(i)
          val nn = s"f$nextF"; nextF += 1
          log += s"RENAME items.element.$old -> $nn"
          spark.sql(s"ALTER TABLE $t RENAME COLUMN items.element.$old TO $nn")
          fields(i) = nn -> kind
          forEachElem(vals => if (vals.contains(old)) vals(nn) = vals.remove(old).get)
        case 7 =>
          val widenable = fields.zipWithIndex
            .filter(f => f._1._2 == "int" || f._1._2 == "dec")
          if (widenable.nonEmpty) {
            val ((name, kind), i) = widenable(rnd.nextInt(widenable.length))
            val (toSql, toKind) =
              if (kind == "int") ("BIGINT", "long") else ("DECIMAL(16,2)", "decw")
            log += s"WIDEN items.element.$name ${sqlType(kind)} -> $toSql"
            spark.sql(s"ALTER TABLE $t ALTER COLUMN items.element.$name TYPE $toSql")
            fields(i) = name -> toKind
            forEachElem(vals => vals.get(name).foreach {
              case v: Int if kind == "int" => vals(name) = v.toLong
              case _ => ()
            })
          }
        case 8 | 9 =>
          if (fields.length > 1) {
            val i = rnd.nextInt(fields.length)
            val (name, _) = fields(i)
            log += s"DROP items.element.$name"
            spark.sql(s"ALTER TABLE $t DROP COLUMN items.element.$name")
            fields.remove(i)
            forEachElem(_.remove(name))
          }
      }
      check()
    }
    spark.sql(s"DROP TABLE $t PURGE")
  }

  // Soak knobs (same convention as the other gauntlets): op count,
  // extra seeds, and struct-nesting depth via env, so a long
  // confidence pass needs no code edit.
  private val soakDepth =
    sys.env.get("SPARK_GRAFT_NESTED_OPS").flatMap(_.toIntOption).getOrElse(22)
  private val seeds: Seq[Int] =
    sys.env.get("SPARK_GRAFT_NESTED_SEEDS")
      .map(_.split(',').toSeq.flatMap(_.trim.toIntOption))
      .filter(_.nonEmpty).getOrElse(Seq(7, 19, 41))
  private val soakNest =
    sys.env.get("SPARK_GRAFT_NESTED_DEPTH").flatMap(_.toIntOption).getOrElse(2)

  for (seed <- seeds) {
    test(s"random nested-evolution sequence keeps model equivalence (seed=$seed)") {
      run(seed, depth = soakDepth, nest = 0)
    }
  }
  // The deep variant drives every op through `nest` wrapper structs —
  // the recursive path resolver's soak surface.
  for (seed <- seeds.take(2)) {
    test(s"random DEEP nested-evolution sequence (nest=$soakNest, seed=$seed)") {
      run(seed, depth = soakDepth, nest = soakNest)
    }
  }
  // The container variant mutates the struct INSIDE array elements —
  // the ArrayTransform rebuild's soak surface (NULL/empty arrays and
  // NULL elements planted throughout).
  for (seed <- seeds.take(2)) {
    test(s"random ARRAY-element evolution sequence (seed=$seed)") {
      runArray(seed, depth = soakDepth)
    }
  }
}
