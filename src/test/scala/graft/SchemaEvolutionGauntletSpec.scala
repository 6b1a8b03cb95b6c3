package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** Model-based schema-evolution gauntlet: random sequences mixing DML
  * (INSERT / DELETE / UPDATE) with ALTER TABLE ADD / RENAME / DROP /
  * type-widen and RESTORE, against an in-memory model that tracks rows
  * AS NAMED VALUES (never positions) plus a per-version history.
  * Invariants after EVERY op:
  *  - `SELECT *` equals the model (column names, order, row multiset);
  *  - the live schema is exactly the model's (a drop that leaked a
  *    column, or a rename that missed one, surfaces immediately);
  * and at the end, `VERSION AS OF v` for random retained versions
  * reproduces the state AND SCHEMA the model had at v — time travel
  * must pair each era's rows with that era's column names, across
  * renames, drops, widenings, and restores that rewind the schema.
  */
class SchemaEvolutionGauntletSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val T = "graft.sev.t"

  /** A row is name→value; None is SQL NULL. Values stay small enough
    * for every numeric type in play (INT and BIGINT).
    */
  private type MRow = Map[String, Option[Long]]

  private def tableState(clause: String): (Seq[String], Seq[Seq[Option[Long]]]) = {
    val df = spark.sql(s"SELECT * FROM $T $clause")
    val cols = df.columns.toSeq
    val rows = df.collect().toSeq.map(r =>
      cols.indices.map(i => Option(r.get(i)).map(_.asInstanceOf[Number].longValue)))
    (cols, rows.sortBy(_.toString))
  }

  private def projected(cols: Seq[String], rows: Seq[MRow]): Seq[Seq[Option[Long]]] =
    rows.map(r => cols.map(c => r(c))).sortBy(_.toString)

  private def currentVersion: Long =
    spark.sql(s"SELECT max(version) FROM $T.history").collect().head.getLong(0)

  private def runSeq(seed: Long, ops: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    spark.sql(s"DROP TABLE IF EXISTS $T PURGE")
    spark.sql(s"CREATE TABLE $T (c0 INT, c1 BIGINT) USING graft" + GauntletEnv.SoakRetention)
    var cols = Vector("c0", "c1")
    var intCols = Set("c0") // INT columns: widen-eligible, values must fit
    var rows = Vector.empty[MRow]
    var nextCol = 2
    // version -> (schema cols at that version, rows at that version)
    val hist = mutable.Map[Long, (Vector[String], Vector[MRow])]()
    hist(currentVersion) = (cols, rows)
    val log = mutable.ArrayBuffer[String]()

    def sqlLit(v: Option[Long]): String = v.fold("CAST(NULL AS BIGINT)")(_.toString)

    for (_ <- 1 to ops) {
      val desc = rnd.nextInt(12) match {
        case 0 | 1 | 2 | 3 => // INSERT a small batch (occasional NULLs)
          val batch = Vector.fill(1 + rnd.nextInt(3))(
            cols.map(c => c -> (if (rnd.nextInt(6) == 0) None
              else Some(rnd.nextInt(50).toLong))).toMap)
          spark.sql(s"INSERT INTO $T VALUES ${
            batch.map(r => s"(${cols.map(c => sqlLit(r(c))).mkString(", ")})")
              .mkString(", ")}")
          rows ++= batch
          s"insert ${batch.length}"
        case 4 | 5 => // DELETE by a non-null value of a random column
          val c = cols(rnd.nextInt(cols.length))
          val vals = rows.flatMap(_(c))
          if (vals.isEmpty) { spark.sql(s"INSERT INTO $T VALUES (${
            cols.map(_ => "1").mkString(", ")})"); rows :+= cols.map(_ -> Some(1L)).toMap
            "insert fallback" }
          else {
            val v = vals(rnd.nextInt(vals.length))
            spark.sql(s"DELETE FROM $T WHERE $c = $v")
            rows = rows.filterNot(_(c).contains(v))
            s"delete $c=$v"
          }
        case 6 => // UPDATE one column keyed on another (NULLs propagate)
          val tgt = cols(rnd.nextInt(cols.length))
          val key = cols(rnd.nextInt(cols.length))
          val vals = rows.flatMap(_(key))
          if (vals.isEmpty) "noop" else {
            val v = vals(rnd.nextInt(vals.length))
            spark.sql(s"UPDATE $T SET $tgt = $tgt + 1 WHERE $key = $v")
            rows = rows.map(r =>
              if (r(key).contains(v)) r + (tgt -> r(tgt).map(_ + 1)) else r)
            s"update $tgt+=1 where $key=$v"
          }
        case 7 => // ADD COLUMN (BIGINT): existing rows read NULL
          val c = s"c$nextCol"; nextCol += 1
          spark.sql(s"ALTER TABLE $T ADD COLUMN $c BIGINT")
          cols :+= c
          rows = rows.map(_ + (c -> None))
          s"add $c"
        case 8 => // RENAME COLUMN to a fresh name
          val from = cols(rnd.nextInt(cols.length))
          val to = s"c$nextCol"; nextCol += 1
          spark.sql(s"ALTER TABLE $T RENAME COLUMN $from TO $to")
          cols = cols.map(x => if (x == from) to else x)
          intCols = intCols.map(x => if (x == from) to else x)
          rows = rows.map(r => (r - from) + (to -> r(from)))
          s"rename $from->$to"
        case 9 => // DROP COLUMN (keep at least two)
          if (cols.length <= 2) "noop" else {
            val c = cols(rnd.nextInt(cols.length))
            spark.sql(s"ALTER TABLE $T DROP COLUMN $c")
            cols = cols.filterNot(_ == c)
            intCols -= c
            rows = rows.map(_ - c)
            s"drop $c"
          }
        case 10 => // widen an INT column to BIGINT
          if (intCols.isEmpty) "noop" else {
            val c = intCols.head
            spark.sql(s"ALTER TABLE $T ALTER COLUMN $c TYPE BIGINT")
            intCols -= c
            s"widen $c"
          }
        case 11 => // RESTORE: state AND schema rewind together
          val vs = hist.keys.toVector.sorted
          val target = vs(rnd.nextInt(vs.length))
          spark.sql(s"CALL graft.system.restore('sev', 't', '$target')")
          val (hc, hr) = hist(target)
          cols = hc
          rows = hr
          intCols = intCols.filter(cols.contains) // widen survives only if col does
          s"restore v$target"
      }
      if (desc != "noop") {
        log += desc
        val v = currentVersion
        // RESTORE of a widened column keeps the LIVE (wider) type but
        // the versioned schema may narrow — intCols only shrinks, so
        // value ranges stay safe either way.
        val (gotCols, gotRows) = tableState("")
        assert(gotCols == cols,
          s"schema diverged after '$desc' (seed=$seed)\n got=$gotCols want=$cols\n" +
            s"ops:\n${log.mkString("\n")}")
        assert(gotRows == projected(cols, rows),
          s"rows diverged after '$desc' at v$v (seed=$seed)\nops:\n${log.mkString("\n")}")
        hist(v) = (cols, rows)
      }
    }
    // Time travel: random retained versions reproduce era state+schema.
    val retained = spark.sql(s"SELECT version FROM $T.history")
      .collect().map(_.getLong(0)).toSet
    val checkable = hist.keys.filter(retained.contains).toVector.sorted
    rnd.shuffle(checkable).take(4).foreach { v =>
      val (hc, hr) = hist(v)
      val (gotCols, gotRows) = tableState(s"VERSION AS OF $v")
      assert(gotCols == hc,
        s"VERSION AS OF $v schema ${gotCols.mkString(",")} != era schema ${hc.mkString(",")} " +
          s"(seed=$seed)\nops:\n${log.mkString("\n")}")
      assert(gotRows == projected(hc, hr),
        s"VERSION AS OF $v rows diverged (seed=$seed)\nops:\n${log.mkString("\n")}")
    }
    spark.sql(s"DROP TABLE $T PURGE")
  }

  for (seed <- GauntletEnv.seeds(Seq(3L, 11L, 29L))) {
    test(s"random schema-evolution sequence keeps model equivalence (seed=$seed)") {
      runSeq(seed, ops = GauntletEnv.ops(14))
    }
  }
}
