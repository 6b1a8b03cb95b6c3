package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.catalog.procedures.ProcedureParameter
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{
  BooleanType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType,
  TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import GraftProcedure.{NsTable, in, result}

// Stored procedures (`CALL graft.system.*`) and catalog-resolved
// functions.

/** The one shape of every `CALL graft.system.*` procedure, resolved
  * through `ProcedureCatalog` (the SQL-native maintenance entry point,
  * the surface Iceberg uses for `rewrite_data_files`). A procedure is
  * its own bound form: its parameters are declared up front, so `bind`
  * has nothing to resolve and returns it. `call` runs `run`, which does
  * the work and returns the result rows as tuples, and wraps them in one
  * `LocalScan` over `outSchema`; every row must have one cell per
  * result column, and `String` cells become Spark's `UTF8String`.
  *
  * Never deterministic: every procedure reads or mutates catalog state
  * (snapshots, segment files, table properties, whole tables), so two
  * calls with the same arguments can answer differently, and Spark must
  * neither fold a call nor reuse one call's result for another.
  */
private[graft] abstract class GraftProcedure(
    procName: String, desc: String,
    params: Seq[ProcedureParameter], outSchema: StructType)
    extends procedures.UnboundProcedure with procedures.BoundProcedure {
  final override def name(): String = procName
  final override def description(): String = desc
  final override def bind(inputType: StructType): procedures.BoundProcedure = this
  final override def isDeterministic: Boolean = false
  final override def parameters(): Array[ProcedureParameter] = params.toArray

  /** Does the procedure's work; one tuple per result row, in order. */
  protected def run(input: InternalRow): Seq[Product]

  final override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val out: Array[InternalRow] = run(input).map { row =>
      require(row.productArity == outSchema.length,
        s"$procName: a result row has ${row.productArity} cells, " +
          s"the result schema ${outSchema.length} columns")
      new GenericInternalRow(row.productIterator.map {
        case s: String => UTF8String.fromString(s)
        case v => v
      }.toArray[Any]): InternalRow
    }.toArray
    java.util.List.of[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = out
      override def readSchema(): StructType = outSchema
      override def description(): String = s"graft.system.$procName result"
    }).iterator()
  }

  /** The string argument at ordinal `i` (a required parameter). */
  protected def str(input: InternalRow, i: Int): String = input.getUTF8String(i).toString

  /** The optional string argument at ordinal `i`: '' when absent or NULL. */
  protected def optStr(input: InternalRow, i: Int): String =
    if (i < input.numFields && !input.isNullAt(i)) str(input, i) else ""

  /** The (ns, table) argument pair at ordinals `i`, `i + 1`. */
  protected def identAt(input: InternalRow, i: Int): Identifier =
    Identifier.of(Array(str(input, i)), str(input, i + 1))
}

private[graft] object GraftProcedure {
  /** The namespace every procedure is called in: `graft.system.<name>`. */
  val Namespace: Seq[String] = Seq("system")

  /** Every procedure: the one list `listProcedures` and `loadProcedure`
    * serve. Lazy because the procedure objects' constructors read this
    * object's helpers — built eagerly, the list would see them unbuilt.
    */
  lazy val all: Seq[GraftProcedure] = Seq(
    GraftCompactProcedure, GraftHistoryProcedure, GraftZorderProcedure,
    GraftVacuumProcedure, GraftTrainAnnProcedure, GraftTrainAnnPqProcedure,
    GraftAnalyzeProcedure, GraftCreateMvProcedure, GraftRefreshMvProcedure,
    GraftRestoreProcedure, GraftCloneProcedure, GraftSetPartitioningProcedure,
    GraftCreateBranchProcedure, GraftPublishBranchProcedure,
    GraftRemoveOrphanFilesProcedure, GraftUndropProcedure, GraftSyncIdentityProcedure,
    GraftCopyIntoProcedure, GraftBuildAnnIndexProcedure, GraftRefreshAnnProcedure,
    GraftVerifyConstraintsProcedure)

  /** A parameter; a `default` (SQL literal text) makes it optional. */
  private[sources] def in(name: String, t: DataType, comment: String,
      default: Option[String] = None): ProcedureParameter = {
    val b = ProcedureParameter.in(name, t).comment(comment)
    default.fold(b)(d => b.defaultValue(d)).build()
  }

  /** The (ns, table) pair most procedures start with. */
  private[sources] val NsTable: Seq[ProcedureParameter] =
    Seq(in("ns", StringType, "namespace"), in("table", StringType, "table name"))

  /** A result schema; every procedure's result columns are NOT NULL. */
  private[sources] def result(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t, nullable = false) })
}

/** `CALL graft.system.compact(ns, table)` — the OPTIMIZE procedure.
  * Returns one summary row; the work happens in
  * `GraftCatalog.compact`.
  */
private[graft] object GraftCompactProcedure extends GraftProcedure("compact",
    "compact(ns, table, where): fold partition groups' segments ('' = whole table)",
    NsTable :+
      // The Delta `OPTIMIZE ... WHERE` shape: at 100 TB the hot partition
      // is what needs folding — a maintenance pass must not pay an
      // O(table) rewrite (or hold the mutation lock for one) to fix it.
      in("where", StringType,
        "comma-joined partition-field equalities 'col=value' ('' = all groups)", Some("''")),
    result("table" -> StringType, "segments_before" -> IntegerType,
      "segments_after" -> IntegerType, "rows" -> LongType)) {

  override protected def run(input: InternalRow): Seq[Product] = {
    val ident = identAt(input, 0)
    val only = GraftCatalog.compactKeysFor(ident, optStr(input, 2))
    val (before, after, rows) = GraftCatalog.compact(ident, onlyKeys = only)
    Seq((ident.toString, before, after, rows))
  }
}

/** `CALL graft.system.zorder(ns, table, columns, target_segments)` —
  * the OPTIMIZE ZORDER BY procedure: `columns` is a comma-separated
  * list of up to 4 numeric columns; rows are rewritten in Z-value
  * order into `target_segments` balanced segments (per partition
  * group). Returns one summary row; the work happens in
  * `GraftCatalog.zorder`.
  */
private[graft] object GraftZorderProcedure extends GraftProcedure("zorder",
    "zorder(ns, table, columns, target_segments, where): rewrite segments in Z-order ('' = all groups)",
    NsTable ++ Seq(
      in("columns", StringType, "comma-separated numeric columns (1..4)"),
      in("target_segments", IntegerType, "balanced output segments per partition group"),
      // Scoped re-clustering, same grammar as compact's where: at 100 TB
      // you z-order the recent/hot partitions, not the whole table.
      in("where", StringType,
        "comma-joined partition-field equalities 'col=value' ('' = all groups)", Some("''"))),
    result("table" -> StringType, "segments_before" -> IntegerType,
      "segments_after" -> IntegerType, "rows" -> LongType)) {

  override protected def run(input: InternalRow): Seq[Product] = {
    val ident = identAt(input, 0)
    val cols = str(input, 2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val only = GraftCatalog.compactKeysFor(ident, optStr(input, 4))
    val (before, after, rows) =
      GraftCatalog.zorder(ident, cols, input.getInt(3), onlyKeys = only)
    Seq((ident.toString, before, after, rows))
  }
}

/** `CALL graft.system.vacuum(ns, table)` — manual retention override:
  * expires all non-current UNTAGGED snapshots and deletes files only
  * they referenced (tags keep their pinned versions readable). One
  * summary row; work in `GraftCatalog.vacuumTable`.
  */
private[graft] object GraftVacuumProcedure extends GraftProcedure("vacuum",
    "vacuum(ns, table): expire non-current snapshots and GC their files",
    NsTable,
    result("table" -> StringType, "snapshots_expired" -> IntegerType,
      "files_deleted" -> IntegerType)) {

  override protected def run(input: InternalRow): Seq[Product] = {
    val ident = identAt(input, 0)
    val (expired, deleted) = GraftCatalog.vacuumTable(ident)
    Seq((ident.toString, expired, deleted))
  }
}

/** `CALL graft.system.remove_orphan_files(ns, table, older_than_ms)` —
  * delete files in the table's directory no catalog state references
  * (crashed-write leftovers, stray tool droppings). Clone/branch-shared
  * and time-travel-retained files are spared; `older_than_ms` guards
  * in-flight writers. Work in `GraftCatalog.removeOrphanFiles`.
  */
private[graft] object GraftRemoveOrphanFilesProcedure extends GraftProcedure(
    "remove_orphan_files",
    "remove_orphan_files(ns, table, older_than_ms): delete unreferenced files " +
      "in the table dir older than the guard interval",
    NsTable :+ in("older_than_ms", LongType,
      "only files modified more than this many ms ago (in-flight-write guard)"),
    result("table" -> StringType, "files_deleted" -> IntegerType,
      "bytes_deleted" -> LongType)) {

  override protected def run(input: InternalRow): Seq[Product] = {
    val ident = identAt(input, 0)
    val (files, bytes) = GraftCatalog.removeOrphanFiles(ident, input.getLong(2))
    Seq((ident.toString, files, bytes))
  }
}

/** `CALL graft.system.undrop(ns, table)` — restore the most recent
  * soft-dropped generation of the name (the Delta UNDROP TABLE shape):
  * data, snapshot history, streaming epochs, properties all come back;
  * refuses if the name was re-taken or retention already purged the
  * generation. Work in `GraftCatalog.undropTable`.
  */
private[graft] object GraftUndropProcedure extends GraftProcedure("undrop",
    "undrop(ns, table): restore a soft-dropped table (data, history, epochs)",
    NsTable,
    result("table" -> StringType, "restored_version" -> LongType,
      "n_segments" -> IntegerType)) {

  override protected def run(input: InternalRow): Seq[Product] = {
    val ident = identAt(input, 0)
    val (v, nSegs) = GraftCatalog.undropTable(ident)
    Seq((ident.toString, v, nSegs))
  }
}

/** `CALL graft.system.sync_identity(ns, table)` — advance identity
  * watermarks past every value present in the data (after BY DEFAULT
  * explicit inserts). Work in `GraftCatalog.syncIdentity`.
  */
private[graft] object GraftSyncIdentityProcedure extends GraftProcedure("sync_identity",
    "sync_identity(ns, table): advance identity watermarks past all data values",
    NsTable,
    result("table" -> StringType, "column" -> StringType, "next_index" -> LongType)) {

  override protected def run(input: InternalRow): Seq[Product] = {
    val ident = identAt(input, 0)
    GraftCatalog.syncIdentity(ident).toSeq.sortBy(_._1).map { case (c, k) =>
      (ident.toString, c, k)
    }
  }
}

/** `CALL graft.system.copy_into(ns, table, source, format, options)` —
  * idempotent file ingestion, the Delta `COPY INTO` shape: load into
  * the table exactly the source files NOT already ingested, so a
  * re-run ingest job (cron retry, backfill replay, crash-restarted
  * orchestrator) never duplicates rows. File identity is
  * sha-256(path|size|mtime) — a rewritten file (new size/mtime) counts
  * as new data, an untouched file never reloads. The batch's tokens
  * commit ATOMICALLY with its segments (one snapshot — see
  * `GraftCatalog.install`), so there is no crash window between "rows
  * landed" and "files marked loaded"; a concurrent copy_into racing on
  * the same files makes the later commit refuse, and the retry's
  * re-diff loads only the remainder. Force-reload escape hatch:
  * `UNSET TBLPROPERTIES ('graft.copyinto.loaded')`.
  *
  * `source` is a directory or glob; hidden files (`.`/`_` prefixes)
  * are skipped. `options` is comma-joined `k=v` reader options
  * (e.g. 'header=true' for csv), '' for none. csv/json read with the
  * TABLE's schema (no inference drift); parquet/orc align by name
  * with safe casts. Source columns must be a subset of the table's —
  * unknown columns refuse (a typo'd ingest must not silently drop
  * data); missing nullable columns NULL-fill (identity/generated
  * columns then fill at write as on any append).
  *
  * Scale: the diff is metadata-only (one FS listing + one token-set
  * lookup); only NEW files are read, once for the row count and once
  * for the write — cost tracks the ingest batch, never the table.
  */
private[graft] object GraftCopyIntoProcedure extends GraftProcedure("copy_into",
    "copy_into(ns, table, source, format, options): idempotent exactly-once file ingestion",
    NsTable ++ Seq(
      in("source", StringType, "source directory or glob of data files"),
      in("format", StringType, "file format: parquet | orc | csv | json"),
      in("options", StringType, "comma-joined k=v reader options ('' = none)")),
    result("table" -> StringType, "files_loaded" -> IntegerType,
      "files_skipped" -> IntegerType, "rows_loaded" -> LongType)) {

  private def token(st: org.apache.hadoop.fs.FileStatus): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"${st.getPath}|${st.getLen}|${st.getModificationTime}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(8).map(b => f"$b%02x").mkString
  }

  override protected def run(input: InternalRow): Seq[Product] = {
    import org.apache.spark.sql.functions.{col, lit}
    val ident = identAt(input, 0)
    val (ns, table) = (str(input, 0), str(input, 1))
    val source = str(input, 2)
    val format = str(input, 3)
    require(Set("parquet", "orc", "csv", "json")(format),
      s"copy_into supports parquet|orc|csv|json, got '$format'")
    val readerOpts = optStr(input, 4).split(',').map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"malformed reader option '$kv' (want k=v)")
      kv.substring(0, i) -> kv.substring(i + 1)
    }.toMap
    val spark = org.apache.spark.sql.SparkSession.active
    val catName = GraftCatalog.sessionCatalogName(spark, name())
    val tbl = GraftMvOps.fqn(catName, ns, table)
    val targetSchema = spark.table(tbl).schema // throws NoSuchTable if absent

    // FS listing: a glob expands (dirs in the expansion list one
    // level), a directory lists one level, a file is itself.
    val hconf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(source)
    val fs = p.getFileSystem(hconf)
    val roots =
      if (source.exists(c => "*?[{".indexOf(c) >= 0))
        Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
      else Seq(fs.getFileStatus(p))
    val files = roots.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st)
    }.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith(".") && !n.startsWith("_")
    }
    require(files.nonEmpty, s"copy_into: no data files under '$source'")

    val loaded = GraftCatalog.copyIntoLoaded(ident)
    val (skip, fresh) = files.partition(st => loaded(token(st)))
    var rowsLoaded = 0L
    if (fresh.nonEmpty) {
      val paths = fresh.map(_.getPath.toString)
      val reader = spark.read.format(format).options(readerOpts)
      // csv/json take the TABLE's schema — inference drift (a numeric
      // column inferred narrower in one batch) must not fork the data.
      // csv WITH a header additionally binds BY HEADER NAME: Spark's
      // schema'd csv read assigns by POSITION (enforceSchema), so a
      // reordered header would silently land columns crosswise — read
      // the header names first (string-typed, no inference pass),
      // refuse unknowns, and lay the table's types out in the FILE's
      // column order.
      val csvHeader = format == "csv" && readerOpts.exists { case (k, v) =>
        k.equalsIgnoreCase("header") && v.equalsIgnoreCase("true") }
      // Unknown-column check + projection of the source layout onto the
      // TABLE's column order/types (missing nullable columns → NULL).
      def align(raw: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        val have = raw.columns.map(c => c.toLowerCase(java.util.Locale.ROOT)).toSet
        val unknown = raw.columns.filterNot(c =>
          targetSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
        require(unknown.isEmpty,
          s"copy_into: source columns [${unknown.mkString(", ")}] do not exist on $tbl " +
            "— add them first (ALTER TABLE ... ADD COLUMNS) or fix the source")
        raw.select(targetSchema.fields.toIndexedSeq.map { f =>
          if (have(f.name.toLowerCase(java.util.Locale.ROOT))) col(f.name).cast(f.dataType).as(f.name)
          else {
            require(f.nullable, s"copy_into: source lacks non-nullable column '${f.name}'")
            lit(null).cast(f.dataType).as(f.name)
          }
        }: _*)
      }
      val aligned =
        if (csvHeader) {
          // Per-FILE header validation: Spark's schema'd csv read binds
          // by POSITION per file, so one layout derived from a single
          // inferred read would silently land a reordered second file's
          // values crosswise. Group files by their OWN header (one
          // first-line read per file — bounded by the ingest batch's
          // file count) and give each layout its own schema'd load.
          val byLayout = paths.groupBy(p =>
            spark.read.options(readerOpts).csv(p).columns.toSeq)
          byLayout.toSeq.map { case (headerCols, groupPaths) =>
            require(headerCols.map(_.toLowerCase(java.util.Locale.ROOT)).distinct.length ==
              headerCols.length,
              s"copy_into: duplicate csv header columns in '${groupPaths.head}'")
            val unknown = headerCols.filterNot(c =>
              targetSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
            require(unknown.isEmpty,
              s"copy_into: source columns [${unknown.mkString(", ")}] do not exist on $tbl " +
                "— add them first (ALTER TABLE ... ADD COLUMNS) or fix the source")
            val fileSchema = StructType(headerCols.map(c =>
              targetSchema.fields.find(_.name.equalsIgnoreCase(c)).get))
            align(reader.schema(fileSchema).load(groupPaths: _*))
          }.reduce(_ unionAll _) // each side already in the table's column order
        }
        else if (format == "csv" || format == "json")
          align(reader.schema(targetSchema).load(paths: _*))
        else align(reader.load(paths: _*))
      // Re-stat IMMEDIATELY before the write: a file rewritten between
      // the diff and here would load its NEW bytes under the OLD token,
      // and the next run would load it AGAIN — refuse while nothing is
      // committed yet (the retry re-diffs cleanly). The remaining
      // window is the append's own read; producers must write-then-
      // rename (the standard atomic-publish contract for file ingest).
      fresh.foreach { st =>
        val now = fs.getFileStatus(st.getPath)
        if (now.getLen != st.getLen || now.getModificationTime != st.getModificationTime)
          throw new java.util.ConcurrentModificationException(
            s"copy_into: source file ${st.getPath} changed while the ingest was " +
              "planning; nothing was loaded — re-run (producers should write to a " +
              "temp name and rename into place)")
      }
      val before = GraftCatalog.liveRowCount(ident)
      aligned.writeTo(tbl)
        .option(GraftCatalog.CopyIntoTokensOption, fresh.map(token).mkString(","))
        .append()
      // Appended-row count from segment METADATA (appends never touch
      // prior segments), not a second read pass over the source.
      rowsLoaded = GraftCatalog.liveRowCount(ident) - before
    }
    Seq((ident.toString, fresh.length, skip.length, rowsLoaded))
  }
}

/** `CALL graft.system.set_partitioning(ns, table, cols)` — partition-
  * spec evolution as a metadata-only commit: `cols` is a comma-
  * separated identity-column list ('' = unpartitioned). Old segments
  * keep their spec; new writes route by the new one; compaction
  * migrates. Work in `GraftCatalog.setPartitioning`.
  */
private[graft] object GraftSetPartitioningProcedure extends GraftProcedure("set_partitioning",
    "set_partitioning(ns, table, cols): metadata-only partition-spec evolution",
    NsTable :+ in("cols", StringType,
      "comma-separated identity partition columns ('' = none)"),
    result("table" -> StringType, "version" -> LongType, "old_spec" -> StringType,
      "new_spec" -> StringType)) {

  override protected def run(input: InternalRow): Seq[Product] = {
    val ident = identAt(input, 0)
    // TOP-LEVEL commas only: 'days(ts),bucket(16,k)' is two fields,
    // and bucket's inner comma must not split it.
    val cols = GraftMvOps.splitTop(str(input, 2))
    val (v, old) = GraftCatalog.setPartitioning(ident, cols)
    Seq((ident.toString, v, old.mkString(","), cols.mkString(",")))
  }
}

/** `CALL graft.system.restore(ns, table, version)` — roll the table's
  * CURRENT state back to a retained snapshot (or tag) as a NEW commit:
  * pure metadata, the snapshot's files are still on disk. Work in
  * `GraftCatalog.restoreTable`.
  */
private[graft] object GraftRestoreProcedure extends GraftProcedure("restore",
    "restore(ns, table, version): make a retained snapshot (or tag) the current state",
    NsTable :+ in("version", StringType, "snapshot version number or tag name"),
    result("table" -> StringType, "restored_version" -> LongType,
      "new_version" -> LongType, "segments" -> IntegerType)) {

  override protected def run(input: InternalRow): Seq[Product] = {
    val ident = identAt(input, 0)
    val v = GraftCatalog.resolveVersionString(ident, str(input, 2))
    val (restored, nSegs) = GraftCatalog.restoreTable(ident, v)
    val newV = GraftCatalog.currentVersion(str(input, 0), str(input, 1)).getOrElse(-1L)
    Seq((ident.toString, restored, newV, nSegs))
  }
}

/** `CALL graft.system.clone(ns, table, target_ns, target_table,
  * version)` — zero-copy shallow clone at a version or tag ('' =
  * current). Work in `GraftCatalog.cloneTable`; shared files are
  * protected by the cross-table GC guard.
  */
private[graft] object GraftCloneProcedure extends GraftProcedure("clone",
    "clone(ns, table, target_ns, target_table, version): zero-copy clone ('' = current)",
    Seq(
      in("ns", StringType, "source namespace"),
      in("table", StringType, "source table"),
      in("target_ns", StringType, "target namespace"),
      in("target_table", StringType, "target table"),
      in("version", StringType, "source version number or tag; '' = current")),
    result("source" -> StringType, "target" -> StringType,
      "source_version" -> LongType, "segments" -> IntegerType)) {

  override protected def run(input: InternalRow): Seq[Product] = {
    val src = identAt(input, 0)
    val dst = identAt(input, 2)
    val vStr = str(input, 4)
    val v = if (vStr.isEmpty) None
            else Some(GraftCatalog.resolveVersionString(src, vStr))
    val (srcV, nSegs) = GraftCatalog.cloneTable(src, dst, v)
    Seq((src.toString, dst.toString, srcV, nSegs))
  }
}

/** `CALL graft.system.create_branch(ns, table, branch, version)` — cut
  * a zero-copy WAP branch of a catalog table at a version or tag
  * ('' = current). The branch lives at `ns.<table>@<branch>` (backtick
  * it in SQL) and takes writes/DML in isolation; work in
  * `GraftCatalog.createBranch`.
  */
private[graft] object GraftCreateBranchProcedure extends GraftProcedure("create_branch",
    "create_branch(ns, table, branch, version): zero-copy WAP branch ('' = current)",
    NsTable ++ Seq(
      in("branch", StringType, "branch name"),
      in("version", StringType, "source version number or tag; '' = current")),
    result("branch" -> StringType, "base_version" -> LongType, "segments" -> IntegerType)) {

  override protected def run(input: InternalRow): Seq[Product] = {
    val src = identAt(input, 0)
    val branch = str(input, 2)
    val vStr = str(input, 3)
    val v = if (vStr.isEmpty) None
            else Some(GraftCatalog.resolveVersionString(src, vStr))
    val (baseV, nSegs) = GraftCatalog.createBranch(src, branch, v)
    Seq((GraftCatalog.branchIdent(src, branch).toString, baseV, nSegs))
  }
}

/** `CALL graft.system.publish_branch(ns, table, branch)` — fast-forward
  * the table to the branch's state as one atomic commit and drop the
  * branch (refuses if the table took data commits since the branch was
  * cut). Work in `GraftCatalog.publishBranch`.
  */
private[graft] object GraftPublishBranchProcedure extends GraftProcedure("publish_branch",
    "publish_branch(ns, table, branch): fast-forward the table to the branch state",
    NsTable :+ in("branch", StringType, "branch name"),
    result("table" -> StringType, "new_version" -> LongType,
      "branch_commits" -> LongType, "segments" -> IntegerType)) {

  override protected def run(input: InternalRow): Seq[Product] = {
    val src = identAt(input, 0)
    val (newV, branchCommits, nSegs) = GraftCatalog.publishBranch(src, str(input, 2))
    Seq((src.toString, newV, branchCommits, nSegs))
  }
}

/** `CALL graft.system.history(ns, table)` — the DESCRIBE HISTORY
  * analogue: one row per RETAINED snapshot (version, commit time,
  * segment count, row count, is_current), newest first. Versions
  * outside the retention window have been vacuumed and no longer
  * appear — exactly the set `VERSION AS OF` can still serve.
  */
private[graft] object GraftHistoryProcedure extends GraftProcedure("history",
    "history(ns, table): retained snapshots, newest first",
    NsTable,
    result("version" -> LongType, "committed_at" -> TimestampType,
      "n_segments" -> IntegerType, "n_rows" -> LongType, "is_current" -> BooleanType)) {

  override protected def run(input: InternalRow): Seq[Product] = {
    val ident = identAt(input, 0)
    val snaps = GraftCatalog.retainedSnapshots(ident)
    if (snaps.isEmpty) throw new NoSuchTableException(ident)
    val latest = snaps.map(_.version).max
    snaps.sortBy(-_.version).map { s =>
      (s.version, s.wallMs * 1000L, // micros for TimestampType
        s.segments.length, s.segments.map(_.liveRows).sum, s.version == latest)
    }
  }
}

/** `graft.math.clamp(x, lo, hi)` — catalog-resolved scalar function. */
private[graft] object GraftClampFunction extends UnboundFunction {
  override def name(): String = "clamp"
  override def description(): String =
    "clamp(x, lo, hi): x bounded into [lo, hi]"

  override def bind(inputType: StructType): BoundFunction = {
    // Accept any numeric triple: the bound `inputTypes()` declares
    // doubles, and the analyzer inserts the casts (numeric literals
    // arrive as decimals — rejecting them here would force callers to
    // CAST by hand).
    val numeric = inputType.fields.forall(
      _.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    if (inputType.length != 3 || !numeric)
      throw new UnsupportedOperationException(
        s"clamp expects 3 numeric arguments, got ${inputType.simpleString}")
    new GraftClampBound
  }
}

/** Named (not anonymous) class on purpose: Catalyst finds the `invoke`
  * magic method by PUBLIC reflection, and scalac compiles non-interface
  * methods of anonymous classes as private.
  */
private[graft] class GraftClampBound extends ScalarFunction[java.lang.Double] {
  override def inputTypes(): Array[DataType] =
    Array(DoubleType, DoubleType, DoubleType)
  override def resultType(): DataType = DoubleType
  override def name(): String = "clamp"
  override def canonicalName(): String = "graft.math.clamp"
  override def isResultNullable: Boolean = false
  // MAGIC METHOD: exact-signature `invoke` — Catalyst lowers the call to
  // a direct method invocation inside codegen (no row boxing).
  def invoke(x: Double, lo: Double, hi: Double): Double =
    math.max(lo, math.min(x, hi))
  override def produceResult(input: InternalRow): java.lang.Double =
    invoke(input.getDouble(0), input.getDouble(1), input.getDouble(2))
}


/** `CALL graft.system.analyze(ns, table)` — the ANALYZE TABLE
  * equivalent: ONE aggregate pass over the table's live rows computes
  * per-column distinct (HLL, same approximation Spark's own ANALYZE
  * uses) and null counts, stored on the entry and reported through the
  * DSv2 `Statistics.columnStats()` surface — which is what gives
  * `CostBasedJoinReorder` real join-key cardinalities for ad-hoc
  * multi-table joins over catalog tables (with spark.sql.cbo.enabled +
  * joinReorder.enabled). Row counts and min/max were already exact
  * from segments/zone maps; NDV is the piece only a data pass can add.
  */
private[graft] object GraftAnalyzeProcedure extends GraftProcedure("analyze",
    "analyze(ns, table): compute per-column distinct/null counts for the CBO",
    NsTable,
    result("table" -> StringType, "columns_analyzed" -> IntegerType, "rows" -> LongType)) {

  override protected def run(input: InternalRow): Seq[Product] = {
    import org.apache.spark.sql.functions.{approx_count_distinct, col, count, when}
    val ident = identAt(input, 0)
    val (ns, table) = (str(input, 0), str(input, 1))
    val spark = org.apache.spark.sql.SparkSession.active
    val catName = GraftCatalog.sessionCatalogName(spark, name())
    val df = spark.table(GraftMvOps.fqn(catName, ns, table)) // throws NoSuchTable if absent
    val cols = df.columns.toSeq
    val aggs = cols.flatMap { c =>
      Seq(approx_count_distinct(col(c)).as(s"ndv_$c"),
        count(when(col(c).isNull, 1)).as(s"nulls_$c"))
    }
    val r = df.agg(count(org.apache.spark.sql.functions.lit(1)).as("n"), aggs: _*)
      .collect().head
    val rows = r.getAs[Long]("n")
    val analysis = cols.map { c =>
      c -> GraftCatalog.ColAnalysis(r.getAs[Long](s"ndv_$c"), r.getAs[Long](s"nulls_$c"))
    }.toMap
    GraftCatalog.installColStats(ident, analysis)
    Seq((ident.toString, cols.length, rows))
  }
}

/** `CALL graft.system.train_ann(source, ns, table, k, iters)` — train
  * an ANN coarse-quantizer codebook ONCE and persist it as a catalog
  * table (cid BIGINT, cvec ARRAY<FLOAT>), so every subsequent ANN query
  * loads k rows instead of re-running distributed k-means over the
  * corpus (the FAISS train-once/serve-many shape). `source` is any
  * readable table/view name with (vec_id, embedding) columns; the write
  * lands through the staged CREATE OR REPLACE path, so retraining swaps
  * the codebook atomically and readers never see a half-written one.
  */
private[graft] object GraftTrainAnnProcedure extends GraftProcedure("train_ann",
    "train_ann(source, ns, table, k, iters): persist a k-means ANN codebook as a catalog table",
    Seq(
      in("source", StringType, "readable table/view with (vec_id, embedding)"),
      in("ns", StringType, "destination namespace"),
      in("table", StringType, "destination table"),
      in("k", IntegerType, "number of centroids"),
      in("iters", IntegerType, "Lloyd's rounds")),
    result("table" -> StringType, "centroids" -> LongType)) {

  override protected def run(input: InternalRow): Seq[Product] = {
    import org.apache.spark.sql.functions.{col, explode}
    val source = str(input, 0)
    val (ns, table) = (str(input, 1), str(input, 2))
    val spark = org.apache.spark.sql.SparkSession.active
    // Resolve this catalog's Spark-facing name from the session conf
    // (the procedure object is shared; companion state is JVM-wide, so
    // any graft-class registration reaches the same metastore).
    val catName = GraftCatalog.sessionCatalogName(spark, name())
    val cb = graft.operators.KMeansCodebook
      .train(spark.table(source), input.getInt(3), input.getInt(4))
      .select(explode(col("cents")).as("c"))
      .select(col("c.cid").as("cid"), col("c.cvec").as("cvec"))
    cb.writeTo(GraftMvOps.fqn(catName, ns, table)).createOrReplace()
    Seq((identAt(input, 1).toString, GraftCatalog.rowCount(ns, table)))
  }
}

/** `CALL graft.system.train_ann_pq(source, ns, table, m, sub, ks, iters)`
  * — the product-quantization half of train-once/serve-many ANN:
  * trains all `m` sub-codebooks in ONE data pass
  * (`KMeansCodebook.trainSubspaces`) and persists them as a catalog
  * table (s INT, cid BIGINT, cvec ARRAY<FLOAT>) — m×ks rows, each
  * sub-vector centroid keyed by its subspace. Together with the coarse
  * codebook from `train_ann`, a saved-index IVF-PQ query pays zero
  * training passes: it loads k + m×ks small rows, broadcasts both, and
  * runs only the encode/probe/ADC/re-rank plan. Retraining swaps the
  * table atomically through the staged CREATE OR REPLACE path.
  */
private[graft] object GraftTrainAnnPqProcedure extends GraftProcedure("train_ann_pq",
    "train_ann_pq(source, ns, table, m, sub, ks, iters): persist PQ sub-codebooks as a catalog table",
    Seq(
      in("source", StringType, "readable table/view with (vec_id, embedding)"),
      in("ns", StringType, "destination namespace"),
      in("table", StringType, "destination table"),
      in("m", IntegerType, "number of subspaces"),
      in("sub", IntegerType, "sub-vector width"),
      in("ks", IntegerType, "sub-centroids per subspace"),
      in("iters", IntegerType, "Lloyd's rounds")),
    result("table" -> StringType, "subspaces" -> LongType, "centroids" -> LongType)) {

  override protected def run(input: InternalRow): Seq[Product] = {
    import org.apache.spark.sql.functions.{col, explode, posexplode}
    val source = str(input, 0)
    val (ns, table) = (str(input, 1), str(input, 2))
    val m = input.getInt(3)
    val spark = org.apache.spark.sql.SparkSession.active
    val catName = GraftCatalog.sessionCatalogName(spark, name())
    val pqRows = graft.operators.KMeansCodebook
      .trainSubspaces(spark.table(source), m, input.getInt(4), input.getInt(5), input.getInt(6))
      .select(posexplode(col("pq")).as(Seq("s", "book")))
      .select(col("s"), explode(col("book")).as("c"))
      .select(col("s"), col("c.cid").as("cid"), col("c.cvec").as("cvec"))
    pqRows.writeTo(GraftMvOps.fqn(catName, ns, table)).createOrReplace()
    Seq((identAt(input, 1).toString, m.toLong, GraftCatalog.rowCount(ns, table)))
  }
}

/** `CALL graft.system.build_ann_index(source, ns, index, k, iters)` —
  * materialize a SERVABLE IVF index over a graft catalog table of
  * embeddings: trains the coarse codebook (persisted as `<index>_cb`:
  * cid, cvec), assigns EVERY source row to its argmax centroid, and
  * writes the posting table `<index>` (source columns + `list_id`)
  * PARTITIONED BY list_id — so a probe is a partition-pruned scan of
  * ~nprobe/k of the corpus, the true IVF-at-100TB shape (vs the
  * codebook-only serving path, which re-assigns the whole corpus per
  * query). The index table records its source, the source's snapshot
  * version (the incremental watermark), and the train-time mean
  * assignment similarity (the drift baseline) as table properties;
  * `refresh_ann` maintains it incrementally from the change feed.
  */
private[graft] object GraftBuildAnnIndexProcedure extends GraftProcedure("build_ann_index",
    "build_ann_index(source, ns, index, k, iters[, pq_m, pq_ks]): materialize a " +
      "partitioned IVF posting table + codebook (optionally PQ-coded) over a catalog " +
      "embeddings table",
    Seq(
      in("source", StringType, "graft catalog table 'ns.t' with (vec_id, ..., embedding)"),
      in("ns", StringType, "index namespace"),
      in("index", StringType, "index table name"),
      in("k", IntegerType,
        "number of inverted lists; <= 0 auto-sizes to ceil(sqrt(n)), floor 16"),
      in("iters", IntegerType, "Lloyd's rounds"),
      in("pq_m", IntegerType,
        "PQ subspaces; > 0 also stores per-vector PQ codes (code_0..code_{m-1})", Some("0")),
      in("pq_ks", IntegerType, "PQ sub-centroids per subspace", Some("16"))),
    result("table" -> StringType, "rows_indexed" -> LongType, "lists" -> LongType,
      "base_sim" -> DoubleType)) {

  override protected def run(input: InternalRow): Seq[Product] = {
    import org.apache.spark.sql.functions.{avg, broadcast, col, explode, posexplode}
    val source = str(input, 0)
    val ns = str(input, 1)
    val index = str(input, 2)
    val kArg = input.getInt(3)
    val iters = input.getInt(4)
    val pqM = input.getInt(5)
    val pqKs = input.getInt(6)
    val spark = org.apache.spark.sql.SparkSession.active
    val catName = GraftCatalog.sessionCatalogName(spark, name())
    val srcParts = source.split('.')
    require(srcParts.length == 2,
      s"build_ann_index source must be a catalog table 'ns.t', got '$source'")
    // Watermark FIRST, then pin BOTH build scans (train + assign) to
    // that exact snapshot: a row appended between the watermark capture
    // and a live scan would otherwise be indexed by the build AND
    // re-delivered as an 'insert' by the first refresh (which only
    // pre-deletes delete/update vec_ids) — duplicate postings.
    // `VERSION AS OF v` makes index state ≡ source@v, and the feed
    // delivers exactly what landed after v.
    val v = GraftCatalog.currentVersion(srcParts(0), srcParts(1)).getOrElse(
      throw new NoSuchTableException(Identifier.of(Array(srcParts(0)), srcParts(1))))
    val src = spark.sql(
      s"SELECT * FROM ${GraftMvOps.fqn(catName, srcParts(0), srcParts(1))} VERSION AS OF $v")
    require(src.columns.contains("vec_id") && src.columns.contains("embedding"),
      s"build_ann_index source $source needs (vec_id, embedding) columns")
    // k <= 0: auto-size lists to ceil(sqrt(n)) (floor 16) — the IVF
    // norm, and the property that keeps the SERVE cost sub-linear: a
    // probe reads ~nprobe/k of the corpus, so a FIXED k makes probes a
    // constant fraction of n (the round-14 scale audit measured the
    // fixed-16 index at ratio 1.84 on a 10x corpus), while k ∝ √n puts
    // the probe at ~nprobe·n/√n = O(√n) rows. Row count is metastore
    // metadata (segment stats at the pinned version's current state) —
    // no scan.
    val k =
      if (kArg > 0) kArg
      else math.max(16L, math.ceil(math.sqrt(
        GraftCatalog.rowCount(srcParts(0), srcParts(1)).toDouble)).toLong).toInt
    val cbRow = graft.operators.KMeansCodebook.train(src, k, iters)
    cbRow.select(explode(col("cents")).as("c"))
      .select(col("c.cid").as("cid"), col("c.cvec").as("cvec"))
      .writeTo(GraftMvOps.fqn(catName, ns, s"${index}_cb")).createOrReplace()
    // PQ-coded index (pq_m > 0): train the m sub-codebooks ONCE (one
    // extra pass via trainSubspaces), persist them as `<index>_pq`
    // (s, cid, cvec), and store the m PQ CODES on every posting row —
    // so the serve path can score candidates by ADC against stored
    // codes, never re-reading (or re-encoding) raw embeddings, and the
    // compressed-serve candidate cost is m longs/row instead of dim
    // floats/row.
    val pqSub: Option[Int] =
      if (pqM <= 0) None
      else {
        require(pqKs > 0, s"build_ann_index: pq_ks must be > 0, got $pqKs")
        val dim = src.select(org.apache.spark.sql.functions.size(col("embedding")))
          .head().getInt(0)
        require(dim % pqM == 0,
          s"build_ann_index: pq_m=$pqM must divide the embedding dim $dim")
        val sub = dim / pqM
        val pqRow = graft.operators.KMeansCodebook
          .trainSubspaces(src, pqM, sub, pqKs, iters)
        pqRow.select(posexplode(col("pq")).as(Seq("s", "book")))
          .select(col("s"), explode(col("book")).as("c"))
          .select(col("s"), col("c.cid").as("cid"), col("c.cvec").as("cvec"))
          .writeTo(GraftMvOps.fqn(catName, ns, s"${index}_pq")).createOrReplace()
        Some(sub)
      }
    val assigned0 = src.crossJoin(broadcast(cbRow))
      .select(src.columns.map(col).toIndexedSeq :+
        graft.operators.KMeansCodebook
          .bestCentroid(spark, col("embedding"), col("cents")).as("list_id"): _*)
    val assigned = pqSub.fold(assigned0)(sub =>
      GraftAnnPq.withCodes(spark, assigned0, catName, ns, index, pqM, sub))
    assigned.writeTo(GraftMvOps.fqn(catName, ns, index))
      .partitionedBy(col("list_id")).createOrReplace()
    // Train-time mean assignment similarity — the drift BASELINE
    // refresh_ann compares each new batch against. One agg pass over
    // the freshly written index (build-time cost, never per query).
    val cb = spark.table(GraftMvOps.fqn(catName, ns, s"${index}_cb"))
    val baseSim = spark.table(GraftMvOps.fqn(catName, ns, index))
      .join(broadcast(cb), col("list_id") === col("cid"))
      .agg(avg(graft.functions.CosineSim(spark, col("embedding"), col("cvec"))))
      .head().getDouble(0)
    GraftCatalog.patchTableProps(Identifier.of(Array(ns), index), Map(
      GraftCatalog.AnnSourceProp -> source,
      GraftCatalog.AnnWatermarkProp -> v.toString,
      GraftCatalog.AnnBaseSimProp -> baseSim.toString) ++
      pqSub.map(sub => Map(
        GraftCatalog.AnnPqMProp -> pqM.toString,
        GraftCatalog.AnnPqSubProp -> sub.toString)).getOrElse(Map.empty))
    Seq((identAt(input, 1).toString, GraftCatalog.rowCount(ns, index), k.toLong, baseSim))
  }
}

/** `CALL graft.system.refresh_ann(ns, index)` — INCREMENTAL
  * maintenance of a `build_ann_index` posting table: snapshot-diffs
  * the source via the change feed (`graft-changes`, the X8/X10
  * machinery — only changed segments are read, the corpus is never
  * rescanned), deletes rows the source deleted/updated, assigns ONLY
  * the new/updated vectors to the PERSISTED centroids (no retrain),
  * appends them to their lists, and advances the watermark. Returns a
  * DRIFT metric: `drift_ratio` = new-batch mean assignment DISTANCE
  * (1 − cosine) / train-time mean assignment distance — ratios > 1
  * mean the new vectors sit farther from every centroid than the
  * training corpus did (the codebook no longer describes the data),
  * and past `RetrainThreshold` the result row recommends a retrain
  * (`build_ann_index` again; the swap is atomic). Distance ratio, not
  * similarity ratio, on purpose: for weakly-clustered corpora the mean
  * sim is small (0.1–0.3) and a sim RATIO amplifies noise, while the
  * distance ratio stays ~1 for same-distribution growth and explodes
  * only when the batch is genuinely foreign. Idle source (no new
  * commits) is a true no-op.
  */
private[graft] object GraftRefreshAnnProcedure extends GraftProcedure("refresh_ann",
    "refresh_ann(ns, index): assign source changes since the watermark to the saved " +
      "centroids; report codebook drift",
    Seq(in("ns", StringType, "index namespace"), in("index", StringType, "index table name")),
    result("table" -> StringType, "rows_added" -> LongType, "rows_deleted" -> LongType,
      "drift_ratio" -> DoubleType, "retrain_recommended" -> BooleanType)) {

  /** drift_ratio above this recommends retraining: the new batch sits
    * 25% farther from its centroids than the training corpus did.
    */
  private[graft] val RetrainThreshold = 1.25

  override protected def run(input: InternalRow): Seq[Product] = {
    import org.apache.spark.sql.functions.{avg, broadcast, col}
    val idxIdent = identAt(input, 0)
    val (ns, index) = (str(input, 0), str(input, 1))
    val spark = org.apache.spark.sql.SparkSession.active
    val catName = GraftCatalog.sessionCatalogName(spark, name())
    val props = GraftCatalog.tablePropsJava(idxIdent)
    val source = Option(props.get(GraftCatalog.AnnSourceProp)).getOrElse(
      throw new IllegalArgumentException(
        s"$ns.$index is not an ANN index — run CALL graft.system.build_ann_index first"))
    val v0 = props.get(GraftCatalog.AnnWatermarkProp).toLong
    val baseSim = props.get(GraftCatalog.AnnBaseSimProp).toDouble
    val srcParts = source.split('.')
    val v1 = GraftCatalog.currentVersion(srcParts(0), srcParts(1)).getOrElse(
      throw new NoSuchTableException(Identifier.of(Array(srcParts(0)), srcParts(1))))
    def outcome(added: Long, deleted: Long, drift: Double): Seq[Product] =
      Seq((idxIdent.toString, added, deleted, drift, drift > RetrainThreshold))
    if (v1 <= v0) return outcome(0L, 0L, 1.0) // idle source: true no-op
    val feed = spark.read.format("graft-changes")
      .option("table", source).option("changesFrom", v0.toString).load()
      .persist() // two passes (deletes, adds) over changed segments only
    try {
      // Deletes/update-preimages leave the index first; postimages
      // then re-add under their (possibly new) list — net upsert.
      val delIds = feed
        .filter(col("_change_type").isin("delete", "update_preimage"))
        .select(col("vec_id"))
      val nDel = delIds.count()
      if (nDel > 0) {
        val tmp = s"graft_refresh_ann_dels_${ns}_$index".replaceAll("\\W", "_")
        delIds.createOrReplaceTempView(tmp)
        spark.sql(
          s"DELETE FROM ${GraftMvOps.fqn(catName, ns, index)} WHERE vec_id IN (SELECT vec_id FROM $tmp)")
        spark.catalog.dropTempView(tmp)
      }
      // Index-only columns (the list partition + stored PQ codes) are
      // COMPUTED here, never read from the feed — the change feed
      // carries source columns only.
      val idxCols = spark.table(GraftMvOps.fqn(catName, ns, index)).columns
        .filterNot(c => c == "list_id" || c.startsWith("code_"))
      val adds = feed
        .filter(col("_change_type").isin("insert", "update_postimage"))
        .select(idxCols.map(col).toIndexedSeq: _*)
      // cid-sorted one-row cents form — the SAME reconstruction the
      // serving path uses, so assignment tie-breaks can never diverge
      // between build, refresh and serve.
      val cbRow = graft.operators.KMeansCodebook
        .packCents(spark.table(GraftMvOps.fqn(catName, ns, s"${index}_cb")))
      val assigned0 = adds.crossJoin(broadcast(cbRow))
        .select(idxCols.map(col).toIndexedSeq :+
          graft.operators.KMeansCodebook
            .bestCentroid(spark, col("embedding"), col("cents")).as("list_id"): _*)
      // PQ-coded index: re-encode the batch against the PERSISTED
      // sub-books (no retrain — same encoder as build, so a vector
      // appended today and one indexed at build time carry comparable
      // codes).
      val assigned = (for {
        m <- Option(props.get(GraftCatalog.AnnPqMProp)).map(_.toInt)
        sub <- Option(props.get(GraftCatalog.AnnPqSubProp)).map(_.toInt)
      } yield GraftAnnPq.withCodes(spark, assigned0, catName, ns, index, m, sub))
        .getOrElse(assigned0)
        .persist() // consumed twice: append + drift aggregate
      try {
        val nAdd = assigned.count()
        if (nAdd > 0) assigned.writeTo(GraftMvOps.fqn(catName, ns, index)).append()
        val drift =
          if (nAdd == 0) 1.0
          else {
            val cb = spark.table(GraftMvOps.fqn(catName, ns, s"${index}_cb"))
            val newSim = assigned
              .join(broadcast(cb), col("list_id") === col("cid"))
              .agg(avg(graft.functions.CosineSim(spark, col("embedding"), col("cvec"))))
              .head().getDouble(0)
            // Mean cosine DISTANCE ratio (see the object doc). The
            // baseline floor treats distances under 0.05 as
            // quantization noise: a near-perfectly-clustered training
            // set (base distance ~0.01) must not report 3x drift on a
            // batch that is still excellently assigned (distance 0.03).
            (1.0 - newSim) / math.max(1.0 - baseSim, 0.05)
          }
        GraftCatalog.patchTableProps(idxIdent,
          Map(GraftCatalog.AnnWatermarkProp -> v1.toString))
        outcome(nAdd, nDel, drift)
      } finally assigned.unpersist()
    } finally feed.unpersist()
  }
}

/** `CALL graft.system.verify_constraints(ns, table)` — make
  * INFORMATIONAL constraints trustworthy: UNIQUE / PRIMARY KEY /
  * FOREIGN KEY are accepted NOT ENFORCED (the warehouse convention —
  * enforcing them on every write would serialize ingest), so nothing
  * stops a loader from violating one. This procedure SCANS for
  * violations and reports one row per declared constraint:
  * (constraint, kind, violations, ok). Semantics follow the SQL
  * standard: UNIQUE ignores keys with any NULL column; PRIMARY KEY
  * counts NULL key rows AS violations (PK implies NOT NULL); FOREIGN
  * KEY counts non-null keys with no match in the referenced table;
  * CHECK (already write-enforced, re-verified here for hand-edited or
  * restored data) counts rows where the predicate is FALSE (NULL
  * passes). Scale shape: every scan projects ONLY the key columns
  * (column pruning reaches the segment reader), duplicates aggregate
  * with map-side partial counts, and the FK probe is a key-only anti
  * join — never a row-wide shuffle.
  */
private[graft] object GraftVerifyConstraintsProcedure extends GraftProcedure(
    "verify_constraints",
    "verify_constraints(ns, table): scan for violations of declared (incl. informational) " +
      "constraints",
    NsTable,
    result("constraint" -> StringType, "kind" -> StringType, "violations" -> LongType,
      "ok" -> BooleanType)) {
  import org.apache.spark.sql.connector.catalog.constraints.{
    Check, ForeignKey, PrimaryKey, Unique}

  override protected def run(input: InternalRow): Seq[Product] = {
    import org.apache.spark.sql.functions.{
      array, coalesce, col, count, explode, expr, hex, lit, not, struct, sum, when}
    val ident = identAt(input, 0)
    val spark = org.apache.spark.sql.SparkSession.active
    val catName = GraftCatalog.sessionCatalogName(spark, name())
    val df = spark.table(GraftMvOps.fqn(catName, str(input, 0), str(input, 1)))
    val constraints = GraftCatalog.constraintsOf(ident)

    // ALL non-FK constraints fold into ONE scan + ONE shuffle: a table
    // with many declared constraints must not pay one job per
    // constraint (UNIQUE and PK previously cost a groupBy job each,
    // plus a null-key count job, plus a CHECK count job). Each row
    // explodes into one entry per constraint, uniformly typed
    // (cid, kind, key: array<string>):
    //  - UNIQUE/PK "key" entries carry the key tuple (cast per-column
    //    to string — injective per type; BinaryType via hex since a
    //    lossy UTF-8 decode could alias distinct byte keys) when all
    //    key columns are non-null, else NULL (filtered — SQL UNIQUE
    //    ignores NULL keys);
    //  - PK "direct" entries mark rows with ANY NULL key column (PK
    //    implies NOT NULL, so those count as violations outright);
    //  - CHECK "direct" entries mark rows where the predicate is FALSE
    //    (NULL passes, per SQL).
    // Violations then fall out of one two-stage aggregation with
    // map-side partials: duplicate participation = sum of group sizes
    // over "key" groups with n > 1; direct counts = the group size
    // itself. FKs fold per PARENT table below (they read a SECOND
    // table, so they can't join this pass — but all FKs against one
    // parent share a single anti join).
    def keyStr(c: String): org.apache.spark.sql.Column = df.schema(c).dataType match {
      case org.apache.spark.sql.types.BinaryType => hex(col(c))
      case _ => col(c).cast("string")
    }
    def keyTuple(cols: Seq[String]): org.apache.spark.sql.Column =
      when(cols.map(c => col(c).isNotNull).reduce(_ && _), array(cols.map(keyStr): _*))
    val NoKey = lit(null).cast("array<string>")
    val entryExprs: Seq[org.apache.spark.sql.Column] = constraints.flatMap {
      case u: Unique =>
        val cols = u.columns().toSeq.map(_.toString)
        Seq(struct(lit(u.name()).as("cid"), lit("key").as("kind"),
          keyTuple(cols).as("key")))
      case p: PrimaryKey =>
        val cols = p.columns().toSeq.map(_.toString)
        Seq(
          struct(lit(p.name()).as("cid"), lit("key").as("kind"),
            keyTuple(cols).as("key")),
          struct(lit(p.name()).as("cid"), lit("direct").as("kind"),
            when(cols.map(c => col(c).isNull).reduce(_ || _),
              array(lit("null_key"))).otherwise(NoKey).as("key")))
      case c: Check =>
        Seq(struct(lit(c.name()).as("cid"), lit("direct").as("kind"),
          when(not(coalesce(expr(c.predicateSql()), lit(true))),
            array(lit("violation"))).otherwise(NoKey).as("key")))
      case _ => Seq.empty // FK / unknown: handled below
    }
    val foldedCounts: Map[String, Long] =
      if (entryExprs.isEmpty) Map.empty
      else df.select(explode(array(entryExprs: _*)).as("e"))
        .select(col("e.cid").as("cid"), col("e.kind").as("kind"), col("e.key").as("key"))
        .filter(col("key").isNotNull)
        .groupBy(col("cid"), col("kind"), col("key"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("cid"))
        .agg(sum(when(col("kind") === "key",
          when(col("n") > 1, col("n")).otherwise(lit(0L)))
          .otherwise(col("n"))).as("v"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // FK probes grouped BY PARENT table: multiple FKs referencing the
    // same parent fold into ONE parent scan + ONE key-only anti join
    // (the round-14 shape ran a separate anti-join job per FK). Same
    // explode trick as the non-FK fold: each side emits uniformly-typed
    // (cid, key: array<string>) entries per FK in the group; the anti
    // join on (cid, key) yields every FK's violating child rows in one
    // pass, counted per cid. Key columns are first coerced to the
    // tightest common type of the child/parent pair (what the old raw
    // `===` did), then stringified injectively (hex for binary).
    val fks = constraints.collect { case f: ForeignKey => f }
    val fkCounts: Map[String, Long] = fks
      .groupBy(f => (f.referencedTable().namespace().toSeq, f.referencedTable().name()))
      .flatMap { case (_, group) =>
        val ref = group.head.referencedTable()
        // The stored identifier may or may not carry the catalog prefix
        // (parser-dependent) — resolve as written, then catalog-
        // qualified.
        val refName = (ref.namespace() :+ ref.name()).mkString(".")
        val refTable =
          try spark.table(refName)
          catch { case _: org.apache.spark.sql.AnalysisException =>
            spark.table(s"$catName.$refName") }
        def common(a: org.apache.spark.sql.types.DataType,
            b: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
          if (a == b) a
          // EXACTLY the coercion a raw `child === parent` comparison
          // used (so e.g. a STRING '01' child key still matches an INT
          // 1 parent via the numeric comparison type, instead of
          // string-mismatching into a spurious violation).
          else org.apache.spark.sql.catalyst.analysis.TypeCoercion
            .findCommonTypeForBinaryComparison(a, b,
              org.apache.spark.sql.internal.SQLConf.get)
            .orElse(org.apache.spark.sql.catalyst.analysis.TypeCoercion
              .findTightestCommonType(a, b))
            .getOrElse(org.apache.spark.sql.types.StringType)
        def sideKey(src: org.apache.spark.sql.DataFrame, f: ForeignKey,
            pick: ForeignKey => Seq[String]): org.apache.spark.sql.Column = {
          val cs = pick(f)
          val ts = f.columns().toSeq.map(_.toString)
            .zip(f.referencedColumns().toSeq.map(_.toString)).map { case (a, b) =>
              common(df.schema(a).dataType, refTable.schema(b).dataType)
            }
          val elems = cs.zip(ts).map { case (c, t) =>
            t match {
              case org.apache.spark.sql.types.BinaryType => hex(src(c).cast(t))
              case _ => src(c).cast(t).cast("string")
            }
          }
          when(cs.map(c => src(c).isNotNull).reduce(_ && _), array(elems: _*))
        }
        def entriesOf(src: org.apache.spark.sql.DataFrame,
            pick: ForeignKey => Seq[String]): org.apache.spark.sql.DataFrame =
          src.select(explode(array(group.map(f =>
            struct(lit(f.name()).as("cid"), sideKey(src, f, pick).as("key"))): _*)).as("e"))
            .select(col("e.cid").as("cid"), col("e.key").as("key"))
            .filter(col("key").isNotNull) // any-NULL key passes, per SQL
        val childEntries = entriesOf(df, _.columns().toSeq.map(_.toString))
        val parentEntries =
          entriesOf(refTable, _.referencedColumns().toSeq.map(_.toString)).distinct()
        val counted = childEntries.join(parentEntries, Seq("cid", "key"), "left_anti")
          .groupBy(col("cid")).agg(count(lit(1)).as("v"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        group.map(f => f.name() -> counted.getOrElse(f.name(), 0L))
      }

    val rows: Seq[(String, String, Long)] =
      constraints.map {
        case u: Unique =>
          (u.name(), "UNIQUE", foldedCounts.getOrElse(u.name(), 0L))
        case p: PrimaryKey =>
          (p.name(), "PRIMARY KEY", foldedCounts.getOrElse(p.name(), 0L))
        case f: ForeignKey =>
          (f.name(), "FOREIGN KEY", fkCounts.getOrElse(f.name(), 0L))
        case c: Check =>
          (c.name(), "CHECK", foldedCounts.getOrElse(c.name(), 0L))
        case other =>
          (other.name(), other.getClass.getSimpleName.toUpperCase(java.util.Locale.ROOT),
            -1L) // unknown kind: surfaced, never silently "ok"
      }.sortBy(_._1)
    rows.map { case (n, kind, v) => (n, kind, v, v == 0L) }
  }
}

