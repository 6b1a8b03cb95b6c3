package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 CATALOG plugin — the metadata half of the engine's
  * extension surface (GraftRangeSource/GraftMemorySink are the
  * read/write halves): a `TableCatalog` whose tables are created,
  * written, and queried entirely through SQL DDL/DML once registered as
  *
  *   spark.sql.catalog.graft = graft.sources.GraftCatalog
  *
  *   CREATE TABLE graft.demo.t (id BIGINT, name STRING) USING graft
  *   INSERT INTO graft.demo.t SELECT ...
  *   SELECT ... FROM graft.demo.t
  *
  * Tables are FILE-BACKED: executors stream their task output straight
  * to immutable segment files (Tungsten `UnsafeRow` payloads,
  * length-prefixed), the task commit message carries only the segment's
  * (path, rowCount), and the driver-side job commit atomically
  * publishes the new segment LIST into the metastore map — rows never
  * transit driver memory, and a scan plans ONE SPLIT PER SEGMENT, so a
  * multi-partition insert reads back as a multi-partition scan. This is
  * the standard log-structured table-format shape (Delta/Iceberg
  * commit-a-file-list) at demo scale: on a cluster the segment root
  * would be a DFS/object-store prefix and the metastore map a durable
  * catalog service; the Spark-facing protocol is identical.
  *
  * Namespaces are implicit (a namespace "exists" iff it holds tables),
  * the usual shape for a metadata-light catalog.
  *
  * The catalog also serves FUNCTIONS (`FunctionCatalog`) — the V2 UDF
  * extension point where SQL resolves `graft.math.clamp(...)` through
  * the catalog instead of the session registry. The bound function
  * carries the `invoke` magic method, so Catalyst compiles calls to a
  * direct (codegen'd) method invocation — no row boxing on the hot
  * path; `produceResult` stays as the interpreted fallback.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with FunctionCatalog
    with ProcedureCatalog with StagingTableCatalog with ViewCatalog {
  import GraftCatalog._

  private var catalogName: String = "graft"
  /** `spark.sql.catalog.<name>.root=/durable/path` switches the
    * JVM-wide metastore into persistent mode: segments live under the
    * path and every mutation also writes a [[GraftLedger]] document, so
    * the catalog state survives a restart (first configured root wins).
    */
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    Option(options.get("root")).foreach(r => requestRoot(Paths.get(r)))
    ensureLoaded()
  }
  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    ensureLoaded()
    store.keySet().asScala.filter(_.namespace.sameElements(namespace)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    ensureLoaded()
    refreshIfStale(ident) // another driver may have created/advanced it
    val entry = store.get(ident)
    if (entry == null)
      // Multi-part fallthrough: `graft.ns.t.files` arrives as
      // namespace [ns, t], name "files" — the Iceberg-style metadata
      // tables (files/history/eq_deletes/branches).
      return GraftMetadataTables.resolve(ident)
        .getOrElse(throw new NoSuchTableException(ident))
    tableOf(ident, entry)
  }

  /** Table constraints (Spark 4 ANSI constraints surface): the catalog
    * STORES them and reports them on the loaded table; Spark's write
    * planning enforces ENFORCED CHECK constraints on every INSERT (a
    * violating row fails the job before commit). UNIQUE / PRIMARY KEY /
    * FOREIGN KEY are accepted as informational (NOT ENFORCED) only —
    * this engine never silently promises uniqueness it doesn't check.
    */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      // Column DEFAULTs live in StructField metadata (CURRENT_DEFAULT /
      // EXISTS_DEFAULT); Spark's analyzer fills omitted columns on
      // INSERT once the catalog declares support — the schema persists
      // through TableEntry untouched, so storage needs nothing extra.
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      // Identity columns (`GENERATED ALWAYS AS IDENTITY`): the spec
      // (start/step/allowExplicitInsert) arrives in StructField
      // metadata (IDENTITY_INFO_*), persists with the schema, and the
      // WRITE path assigns values (see GraftSegmentWriter) — Spark
      // only validates the DDL and carries the metadata.
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      // Generated columns (`GENERATED ALWAYS AS (expr)`): Spark
      // analyzes + validates the expression (deterministic, refers
      // only to non-generated columns, type-matching) at CREATE; the
      // WRITE path computes omitted values (see GraftSegmentWriter).
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS)

  private def validateConstraint(
      c: org.apache.spark.sql.connector.catalog.constraints.Constraint): Unit = c match {
    case _: org.apache.spark.sql.connector.catalog.constraints.Check => ()
    case other if !other.enforced() => ()
    case other => throw new UnsupportedOperationException(
      s"graft catalog enforces only CHECK constraints; declare ${other.name()} NOT ENFORCED")
  }

  /** TIME TRAVEL (`SELECT … FROM graft.ns.t VERSION AS OF 2`): every
    * commit publishes an immutable numbered snapshot (schema + segment
    * list), and a versioned load returns a table PINNED to that
    * snapshot — reads plan against the pinned list, never the live one,
    * and writes are rejected. Snapshot files are protected from GC while
    * the snapshot is retained (see `publish`), so an old version stays
    * readable for the retention window after being replaced — the
    * Delta/Iceberg `VERSION AS OF` contract at demo scale.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    ensureLoaded()
    refreshIfStale(ident)
    if (store.get(ident) == null) throw new NoSuchTableException(ident)
    // Numeric commit id, or a TAG name (`'graft.tag.<name>'='<v>'`
    // table property — `VERSION AS OF 'stable'` reads the snapshot the
    // tag pins; tagged snapshots never age out of retention).
    val v = GraftCatalog.resolveVersionString(ident, version)
    val snap = snapshotByVersion(ident, v).getOrElse(throw new NoSuchTableException(
      Identifier.of(ident.namespace, s"${ident.name} VERSION AS OF $v (expired or never committed)")))
    val entry = store.get(ident)
    new GraftCatalogTable(ident, snap.schema, entry.dir, pinned = Some(snap.segments),
      partitionCols = snap.partitionCols, pinnedEq = snap.eqDeletes)
  }

  /** `TIMESTAMP AS OF`: Spark hands micros-since-epoch; resolve to the
    * latest retained snapshot committed at or before that instant.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    ensureLoaded()
    refreshIfStale(ident)
    if (store.get(ident) == null) throw new NoSuchTableException(ident)
    val snap = snapshotByTime(ident, timestamp).getOrElse(throw new NoSuchTableException(
      Identifier.of(ident.namespace,
        s"${ident.name} TIMESTAMP AS OF $timestamp (before first retained commit)")))
    val entry = store.get(ident)
    new GraftCatalogTable(ident, snap.schema, entry.dir, pinned = Some(snap.segments),
      partitionCols = snap.partitionCols, pinnedEq = snap.eqDeletes)
  }

  /** `PARTITIONED BY (col, …)` accepts IDENTITY transforms on top-level
    * columns of zone-map-trackable type (the same set the stats writer
    * understands — a partition value the pruner can't compare would be
    * dead metadata). Each task routes rows into one segment PER
    * PARTITION VALUE, the scan plans one split per value, and reports
    * `KeyGroupedPartitioning` — the storage-partitioned-join layout.
    */
  /** Identity fields keep the historical restriction to EXACTLY the
    * stats-writer's tracked comparable set: a partition type the zone
    * maps can't compare would make partition pruning a silent no-op
    * and — worse — partition-scoped OVERWRITE unable to prove which
    * segments to replace. (NumericType used to admit DecimalType here,
    * which is untracked; that mismatch made a DECIMAL-partitioned
    * static overwrite wipe unrelated partitions.) Transform fields
    * (`days`/`bucket`/`truncate`) validate their own source types in
    * [[PartField.validate]].
    */
  private def validatePartitionCols(
      schema: StructType, partitions: Array[Transform]): Seq[String] =
    partitions.toSeq.map(t => PartField.validate(PartField.fromSparkTransform(t), schema))

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table =
    createTableWithConstraints(ident, schema, partitions, properties, Vector.empty)

  private def createTableWithConstraints(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String],
      constraints: Vector[org.apache.spark.sql.connector.catalog.constraints.Constraint])
      : Table = mutate {
    GraftCatalog.requireNotBranchName(ident)
    refreshIfStale(ident) // a table created by another driver must refuse here
    val partCols = validatePartitionCols(schema, partitions)
    val props = userProps(properties)
    GraftCatalog.validateUserProps(schema, props)
    val dir = Files.createTempDirectory(segmentRoot, "tbl-").toString
    // Constraints land IN the entry BEFORE the v0 publish: the v0
    // snapshot is what restore/clone/branch at version 0 re-install,
    // and a constraint-less v0 would silently drop the CHECKs there.
    val entry = TableEntry(schema, Vector.empty, dir, partCols, constraints, props = props)
    if (store.putIfAbsent(ident, entry) != null) {
      deleteRecursively(Paths.get(dir))
      throw new TableAlreadyExistsException(ident.toString, ident.name())
    }
    // Two processes racing the same CREATE: the v0 publish is a CAS at
    // sequence 0 — the loser's reload adopts the winner's table, and
    // the honest surface is TableAlreadyExists (IF NOT EXISTS then
    // no-ops instead of erroring on a refusal message).
    try publish(ident) // snapshot v0: the empty table
    catch { case _: java.util.ConcurrentModificationException =>
      deleteRecursively(Paths.get(dir))
      throw new TableAlreadyExistsException(ident.toString, ident.name())
    }
    tableOf(ident, entry)
  }

  /** The TableInfo entry point is the one that carries CONSTRAINTS
    * (`CREATE TABLE … CHECK (…)`); the 4-arg overload above loses them.
    */
  override def createTable(ident: Identifier, info: TableInfo): Table = mutate {
    info.constraints().foreach(validateConstraint)
    // Identity specs ride only in info.columns() — fold them into the
    // stored schema's field metadata (see GraftCatalog.withIdentityMeta).
    createTableWithConstraints(ident,
      GraftCatalog.withIdentityMeta(info.schema(), info.columns()),
      info.partitions(), info.properties(), info.constraints().toVector)
  }

  // ---- StagingTableCatalog: atomic CTAS / RTAS ----
  // Spark routes CREATE TABLE AS SELECT / REPLACE TABLE [AS SELECT]
  // here when the catalog stages: the data lands in a PRIVATE segment
  // directory first and the metastore swap happens only in
  // commitStagedChanges() — a failed query leaves no half-written
  // table (CTAS) and never exposes a dropped-but-not-yet-refilled
  // window (RTAS), unlike the non-staging drop-create-insert fallback.
  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    staged(ident, info, GraftStagedTable.Create)
  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    if (!store.containsKey(ident)) throw new NoSuchTableException(ident)
    staged(ident, info, GraftStagedTable.Replace)
  }
  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    staged(ident, info, GraftStagedTable.CreateOrReplace)

  private def staged(
      ident: Identifier, info: TableInfo, mode: GraftStagedTable.Mode): StagedTable = {
    // CTAS/RTAS carries constraints through TableInfo exactly like the
    // non-staged createTable path: validate NOW (before any data is
    // written) and store them with the committed entry, so an INSERT
    // into the CTAS'd table enforces its CHECKs.
    info.constraints().foreach(validateConstraint)
    GraftCatalog.requireNotBranchName(ident)
    val schema = GraftCatalog.withIdentityMeta(info.schema(), info.columns())
    val partCols = validatePartitionCols(schema, info.partitions())
    val props = userProps(info.properties())
    // Same CREATE-time validation as the plain path: a typo'd
    // write-order column or malformed tag fails the CTAS before any
    // data is written.
    GraftCatalog.validateUserProps(schema, props)
    val dir = Files.createTempDirectory(segmentRoot, "stage-").toString
    new GraftStagedTable(ident, schema, dir, partCols, mode,
      info.constraints().toVector, props)
  }

  /** Schema evolution. Each ALTER takes one of three shapes; the
    * branches below only validate and return what they change.
    *
    *  - METADATA EDIT — SET/UNSET TBLPROPERTIES, ADD/DROP CONSTRAINT,
    *    column COMMENT / DROP NOT NULL / SET+DROP DEFAULT: the live
    *    entry changes and is persisted; no snapshot, no segment I/O.
    *  - RENAME SNAPSHOT — RENAME COLUMN, top-level or nested at any
    *    depth: segments store rows positionally, so only the schema and
    *    the name-keyed metadata change, published as a `dataChange =
    *    false` snapshot; no file touched.
    *  - RE-PROJECTION — safe type widening, DROP COLUMN, reorder
    *    (FIRST / AFTER) and ADD COLUMN, top-level or nested: the row
    *    layout is physical, so [[reprojectTable]] streams every segment
    *    through one projection to the new layout and swaps schema and
    *    segments in one `dataChange = false` snapshot.
    *
    * Every shape ends in [[editEntry]], the one entry edit.
    * All changes are VALIDATED before any segment I/O — a multi-change
    * ALTER with a late invalid change fails without having written a
    * file — and a failure before the commit lands (a mid-rewrite I/O
    * error, a lost ledger CAS) deletes the files it wrote. A lost CAS
    * refuses the statement.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = mutate {
    refreshIfStale(ident) // migrate the LATEST state, not a stale snapshot of it
    if (store.get(ident) == null) throw new NoSuchTableException(ident)
    // Property-only ALTERs (SET/UNSET TBLPROPERTIES) are pure metadata:
    // no segment I/O, no new snapshot.
    val entry = if (changes.forall(c => c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty])) {
      // CHANGING the declared write order makes every existing
      // sorted-provenance flag a claim about the WRONG columns — the
      // scan reads the LIVE property, so stale flags would let it
      // report an ordering the rows don't have (skipped sorts ⇒ wrong
      // join results). Clear flags on the entry AND the retained
      // history (pinned time-travel scans read old segment lists
      // against the live property); new ordered writes and compaction
      // re-earn them.
      val orderChanged = changes.exists {
        case s: TableChange.SetProperty if s.property() == WriteOrderProp =>
          !Option(store.get(ident)).flatMap(_.props.get(WriteOrderProp))
            .contains(s.value())
        case _ => false
      }
      editEntry(ident, snapshot = false, unsort = orderChanged) { prev =>
        Some(changes.foldLeft(prev) {
          case (e, s: TableChange.SetProperty) =>
            if (ReservedProps.contains(s.property()) || s.property().startsWith("option."))
              throw new UnsupportedOperationException(
                s"table property '${s.property()}' is reserved")
            if (s.property() == WriteOrderProp) validateWriteOrder(e.schema, s.value())
            // Retention overrides fail at SET time, not first-publish
            // time: a typo'd window must not land as a property the
            // next commit then dies on.
            if (s.property() == GraftCatalog.RetentionSecondsProp)
              GraftCatalog.retentionNanosOf(Map(s.property() -> s.value()))
            if (s.property() == GraftCatalog.RetentionSnapshotsProp)
              GraftCatalog.maxSnapshotsOf(Map(s.property() -> s.value()))
            if (s.property() == GraftCatalog.EpochRetentionProp)
              GraftCatalog.epochRetentionMsOf(Map(s.property() -> s.value()))
            if (s.property().startsWith(TagPropPrefix)) {
              val v =
                try s.value().toLong
                catch { case _: NumberFormatException =>
                  throw new IllegalArgumentException(
                    s"tag '${s.property()}' must name a numeric snapshot version, got '${s.value()}'")
                }
              if (!retainedSnapshots(ident).exists(_.version == v))
                throw new IllegalArgumentException(
                  s"tag '${s.property()}' targets version $v, which is not a retained snapshot")
            }
            e.copy(props = e.props + (s.property() -> s.value()))
          case (e, r: TableChange.RemoveProperty) =>
            // ONLY the branch-provenance keys are guarded on UNSET:
            // stripping graft.branch.of/base would strand the audited
            // work with no publish path (and lift the parent's rename
            // guard out from under it). The OTHER reserved keys
            // (comment/owner/provider/…) are Spark-synthesized and
            // never stored, so Spark's `UNSET TBLPROPERTIES IF EXISTS
            // ('comment')` — which sends RemoveProperty regardless of
            // IF EXISTS — must stay the no-op it promises, not throw.
            // UNSET of the copy_into registry is DELIBERATELY allowed:
            // it is the documented force-reload escape hatch (SET is
            // refused — forged tokens would silently skip files).
            if (r.property() == BranchOfProp || r.property() == BranchBaseProp)
              throw new UnsupportedOperationException(
                s"table property '${r.property()}' is reserved")
            e.copy(props = e.props - r.property())
          case (e, _) => e // unreachable under the forall guard
        })
      }
    }
    // Constraint-only ALTERs are pure metadata: no segment I/O.
    else if (changes.forall(c => c.isInstanceOf[TableChange.AddConstraint] ||
        c.isInstanceOf[TableChange.DropConstraint])) {
      editEntry(ident, snapshot = false) { prev =>
        Some(changes.foldLeft(prev) {
          case (e, add: TableChange.AddConstraint) =>
            validateConstraint(add.constraint())
            if (e.constraints.exists(_.name() == add.constraint().name()))
              throw new IllegalArgumentException(
                s"constraint ${add.constraint().name()} already exists on $ident")
            e.copy(constraints = e.constraints :+ add.constraint())
          case (e, drop: TableChange.DropConstraint) =>
            if (!e.constraints.exists(_.name() == drop.name()) && !drop.ifExists())
              throw new IllegalArgumentException(
                s"no such constraint ${drop.name()} on $ident")
            e.copy(constraints = e.constraints.filterNot(_.name() == drop.name()))
          case (e, _) => e
        })
      }
    }
    // RENAME COLUMN is PURE METADATA here: segments store rows
    // positionally (UnsafeRow ordinals), so only the schema's field
    // name changes — no file touched, instant at any size. Renames of
    // partition columns follow through; a column referenced by a CHECK
    // constraint refuses (the stored predicate text would dangle).
    else if (changes.forall(_.isInstanceOf[TableChange.RenameColumn])) {
      // A rename that touches a name appearing in the declared write
      // order re-binds the LIVE property to different physical data
      // (either the order column vanished under a new name, or another
      // column took the order column's name) — either way the per-
      // segment sorted flags no longer describe the property's columns.
      val orderTouched = {
        val orderCols = Option(store.get(ident))
          .flatMap(_.props.get(WriteOrderProp))
          .map(_.split(',').map(_.trim).toSet).getOrElse(Set.empty[String])
        changes.exists {
          case rn: TableChange.RenameColumn =>
            rn.fieldNames().length == 1 &&
              (orderCols.contains(rn.fieldNames()(0)) || orderCols.contains(rn.newName()))
          case _ => false
        }
      }
      // A snapshot of logically identical rows.
      editEntry(ident, snapshot = true, unsort = orderTouched) { prev =>
        Some(changes.foldLeft(prev) { case (e, rn: TableChange.RenameColumn) =>
          // NESTED field rename (`RENAME COLUMN meta.a TO a2`, any
          // depth, incl. fields inside array<struct> / map<_,struct>
          // via `.element` / `.value`): the positional storage keys
          // nothing by inner names, and every name-keyed surface
          // (partition specs, identity watermarks, eq-delete keys,
          // write order) is top-level-only — pure schema metadata,
          // zero file I/O at ANY depth.
          if (rn.fieldNames().length >= 2) {
            val parts = rn.fieldNames().toSeq
            val parent = parts.head
            val inner = parts.last
            val full = parts.mkString(".")
            val pi = e.schema.fieldIndex(parent)
            // CONSERVATIVE parent-level guards (stored constraint DDL
            // and generation-expression refs are resolved by NAME at
            // write time — a renamed inner field would leave them
            // dangling and brick every future write): any constraint
            // or generated column referencing into this struct refuses.
            refuseIfPinned(e, Seq(parent),
              s"struct column $parent is referenced by a constraint; drop it first",
              Some(s"struct column $parent is referenced by a generation expression — " +
                "renaming a field inside it would orphan the formula"))
            val newDt = NestedSchema.restructAt(
              e.schema.fields(pi).dataType, parts.tail.dropRight(1), full) { st =>
              if (!st.fieldNames.contains(inner))
                throw new IllegalArgumentException(s"no such field $full")
              if (st.fieldNames.contains(rn.newName()))
                throw new IllegalArgumentException(
                  s"field ${(parts.dropRight(1) :+ rn.newName()).mkString(".")} " +
                    "already exists")
              StructType(st.fields.map(f =>
                if (f.name == inner) f.copy(name = rn.newName()) else f))
            }
            val fields = e.schema.fields.clone()
            fields(pi) = fields(pi).copy(dataType = newDt)
            e.copy(schema = StructType(fields))
          } else {
          val from = rn.fieldNames()(0)
          val i = e.schema.fieldIndex(from)
          if (e.schema.fieldNames.contains(rn.newName()))
            throw new IllegalArgumentException(s"column ${rn.newName()} already exists")
          refuseIfPinned(e, Seq(from),
            s"column $from is referenced by a constraint; drop it first",
            Some(s"column $from is referenced by a generation expression — " +
              "renaming it would orphan the generated column's formula"))
          val fields = e.schema.fields.clone()
          fields(i) = fields(i).copy(name = rn.newName())
          // An identity column's allocation watermark is keyed by
          // column NAME in the props — it must follow the rename or
          // the next insert restarts at k=0 and COLLIDES.
          val identityMoved =
            if (e.props.contains(GraftCatalog.identityProp(from)))
              e.props - GraftCatalog.identityProp(from) +
                (GraftCatalog.identityProp(rn.newName()) ->
                  e.props(GraftCatalog.identityProp(from)))
            else e.props
          e.copy(
            schema = StructType(fields),
            props = identityMoved,
            // renameIn rewrites identity fields AND the source column
            // inside transform fields (days(old) -> days(new)).
            partitionCols = e.partitionCols.map(PartField.renameIn(_, from, rn.newName())),
            // Outstanding equality deletes key by column NAME — they
            // follow the rename like partition specs do.
            eqDeletes = e.eqDeletes.map(eq => eq.copy(keyCols =
              eq.keyCols.map(c => if (c == from) rn.newName() else c))),
            // Segments' spec names the SAME columns under their new
            // name — a rename is metadata-only and must not make
            // existing segments look like a foreign partition era
            // (which would disable keyed layout and make partition
            // overwrite demand a pointless full migration). History
            // snapshots keep the OLD names paired with the old schema;
            // only the live entry re-pairs.
            segments = e.segments.map(s =>
              if (s.spec.exists(PartField.parse(_).source == from))
                s.copy(spec = s.spec.map(PartField.renameIn(_, from, rn.newName())))
              else s))
          }
          case (e, _) => e // unreachable under the forall guard
        })
      }
    }
    // ALTER COLUMN TYPE: only SAFE WIDENINGS (every old value exactly
    // representable in the new type) — int-family upward, float→double
    // — via the same streamed re-projection; anything lossy stays
    // rejected (silent reader breakage).
    else if (changes.forall(_.isInstanceOf[TableChange.UpdateColumnType])) {
      import org.apache.spark.sql.types._
      def widens(from: DataType, to: DataType): Boolean = (from, to) match {
        case (ByteType, ShortType | IntegerType | LongType) => true
        case (ShortType, IntegerType | LongType) => true
        case (IntegerType, LongType) => true
        case (FloatType, DoubleType) => true
        // DECIMAL precision widening at the SAME scale (the Iceberg v3
        // rule): every old value is exactly representable; a scale
        // change would re-quantize values and stays rejected.
        case (d1: DecimalType, d2: DecimalType) =>
          d1.scale == d2.scale && d2.precision >= d1.precision
        // Containers widen ELEMENT-wise (Cast upcasts arrays/maps
        // recursively, preserving NULL containers); containsNull /
        // valueContainsNull may LOOSEN, never tighten, and map KEYS
        // never retype (key identity is the map's semantics).
        case (ArrayType(f, cn), ArrayType(t, tn)) =>
          (!cn || tn) && widens(f, t)
        case (MapType(kf, vf, cn), MapType(kt, vt, tn)) =>
          kf == kt && (!cn || tn) && widens(vf, vt)
        case _ => false
      }
      reprojectTable(ident) { prev =>
        // Split: top-level retypes keyed by name; nested retypes
        // (parent, inner, to) COMPOSE per parent — one alterTable
        // call may widen several fields inside the same struct
        // (MERGE WITH SCHEMA EVOLUTION pushes them all at once, and
        // the merge user has no way to split the statement).
        val topRetypes = changes.collect {
          case u: TableChange.UpdateColumnType if u.fieldNames().length == 1 =>
            val n = u.fieldNames()(0)
            val f = prev.schema.fields.find(_.name == n).getOrElse(
              throw new IllegalArgumentException(s"no such column $n"))
            if (!widens(f.dataType, u.newDataType()))
              throw new UnsupportedOperationException(
                s"unsupported retype of $n: ${f.dataType.simpleString} -> " +
                  s"${u.newDataType().simpleString} is not a safe widening")
            if (PartField.sources(prev.partitionCols).contains(n))
              throw new UnsupportedOperationException(
                "cannot retype a partition column")
            if (prev.eqDeletes.exists(_.keyCols.contains(n)))
              throw new UnsupportedOperationException(
                s"column $n keys outstanding equality deletes (upserts); " +
                  "run CALL graft.system.compact to materialize them first")
            refuseIfPinned(prev, Seq(n),
              s"column $n is referenced by a constraint; drop it first")
            n -> u.newDataType()
        }
        // NESTED widen at ANY depth (`ALTER COLUMN meta.a.b TYPE
        // BIGINT`, `items.element.qty`, `m.value.amt`, bare
        // container slots `xs.element` / `m.value`): the top-level
        // update becomes struct -> widened-struct, and the
        // projection's Cast upcasts structs/arrays/maps element-wise
        // at any depth, preserving NULL parents and containers. Map
        // KEYS never retype — key identity IS the map's semantics
        // (refused inside NestedSchema.retypeAt). Validation, the
        // key refusal, and the widened type all come from ONE
        // recursive traversal so they can never disagree.
        val nestedRetypes: Seq[(Seq[String], DataType)] = changes.collect {
          case u: TableChange.UpdateColumnType if u.fieldNames().length >= 2 =>
            val parts = u.fieldNames().toSeq
            if (!prev.schema.fieldNames.contains(parts.head))
              throw new IllegalArgumentException(s"no such column ${parts.head}")
            (parts, u.newDataType())
        }
        // Conflicts in one statement: duplicate targets, and any
        // target nested inside another (a column and a field within
        // it, or a field and its own subfield) — the two rewrites
        // would race over the same slot.
        val allPaths: Seq[Seq[String]] =
          topRetypes.map(t => Seq(t._1)) ++ nestedRetypes.map(_._1)
        if (allPaths.distinct.length != allPaths.length)
          throw new UnsupportedOperationException(
            "conflicting retypes of the same column/field in one statement")
        for (p <- allPaths; q <- allPaths; if p != q && q.startsWith(p))
          throw new UnsupportedOperationException(
            s"cannot retype ${p.mkString(".")} and ${q.mkString(".")} " +
              "(nested inside it) in one statement")
        val nestedByParent: Map[String, DataType] =
          nestedRetypes.groupBy(_._1.head).map { case (parent, ws) =>
            parent -> ws.foldLeft(
              prev.schema.fields.find(_.name == parent).get.dataType) {
              case (dt, (parts, to)) =>
                val full = parts.mkString(".")
                NestedSchema.retypeAt(dt, parts.tail, full) { cur =>
                  if (!widens(cur, to))
                    throw new UnsupportedOperationException(
                      s"unsupported retype of $full: ${cur.simpleString} -> " +
                        s"${to.simpleString} is not a safe widening")
                  to
                }
            }
          }
        val updates: Map[String, DataType] = topRetypes.toMap ++ nestedByParent
        Some((StructType(prev.schema.fields.map(f =>
          updates.get(f.name).map(t => f.copy(dataType = t)).getOrElse(f))),
          prev.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
            val ref = BoundReference(i, f.dataType, f.nullable)
            updates.get(f.name).fold(ref: Expression)(Cast(ref, _, Some("UTC")))
          }))
      }
    }
    // DROP COLUMN: positional layout means the column's slot must leave
    // every row — one streamed re-projection per segment (the ADD
    // COLUMN migration machinery in reverse), atomic swap at the end.
    else if (changes.forall(_.isInstanceOf[TableChange.DeleteColumn])) {
      reprojectTable(ident) { prev =>
        // NESTED field drops at ANY depth (`DROP COLUMN meta.b`,
        // `meta.a.b`, `items.element.f`, `m.value.f`) rebuild the
        // enclosing struct minus the field — same streamed
        // re-projection, NULL structs/containers preserved at every
        // level (NestedSchema.rebuildExpr). Collected as
        // (topColumn, parentPathWithinColumn, innerName).
        val nestedDropList: Seq[(String, Seq[String], String)] = changes.flatMap {
          case d: TableChange.DeleteColumn if d.fieldNames().length >= 2 =>
            val parts = d.fieldNames().toSeq
            val ifE = java.lang.Boolean.TRUE.equals(d.ifExists())
            val full = parts.mkString(".")
            prev.schema.fields.find(_.name == parts.head) match {
              case None if ifE => None // IF EXISTS: column gone = no-op
              case None =>
                throw new IllegalArgumentException(s"no such column ${parts.head}")
              case Some(pf) =>
                // Navigate to the enclosing struct. A missing field
                // ANYWHERE along the path under IF EXISTS is a TRUE
                // no-op (IllegalArgumentException); a shape error —
                // addressing into a non-struct, a map key — is real
                // and propagates (UnsupportedOperationException).
                val present =
                  try {
                    var has = false
                    NestedSchema.restructAt(
                      pf.dataType, parts.tail.dropRight(1), full) { st =>
                      has = st.fieldNames.contains(parts.last); st
                    }
                    if (!has && !ifE)
                      throw new IllegalArgumentException(s"no such field $full")
                    has
                  } catch {
                    case _: IllegalArgumentException if ifE => false
                  }
                if (!present) None
                else {
                  // CONSERVATIVE parent-level guards, mirroring the
                  // top-level drop screens: a stored constraint or
                  // generation expression referencing into this struct
                  // would dangle on the dropped field.
                  refuseIfPinned(prev, Seq(parts.head),
                    s"struct column ${parts.head} is referenced by a constraint; " +
                      "drop it first",
                    Some(s"struct column ${parts.head} is referenced by a generation " +
                      "expression; drop the generated column first"))
                  Some((parts.head, parts.tail.dropRight(1), parts.last))
                }
            }
          case _ => None
        }
        // Per top column: ordered (parentPath -> inner names) groups,
        // applied sequentially over the evolving type/expression.
        val nestedDrops: Map[String, Seq[(Seq[String], Set[String])]] =
          nestedDropList.groupBy(_._1).map { case (c, xs) =>
            c -> xs.map(_._2).distinct.map(pp =>
              pp -> xs.collect { case (_, `pp`, inner) => inner }.toSet)
          }
        val dropNames = changes.collect {
          case d: TableChange.DeleteColumn if d.fieldNames().length == 1 =>
            val n = d.fieldNames()(0)
            if (!prev.schema.fieldNames.contains(n) &&
                !java.lang.Boolean.TRUE.equals(d.ifExists()))
              throw new IllegalArgumentException(s"no such column $n")
            n
        }.toSet
        if (PartField.sources(prev.partitionCols).exists(dropNames))
          throw new UnsupportedOperationException(
            "cannot drop a partition column")
        if (prev.eqDeletes.exists(_.keyCols.exists(dropNames)))
          throw new UnsupportedOperationException(
            "cannot drop a column keying outstanding equality deletes (upserts); " +
              "run CALL graft.system.compact to materialize them first")
        refuseIfPinned(prev, dropNames,
          "cannot drop a column referenced by a constraint; drop the constraint first",
          Some("cannot drop a column referenced by a generation expression; " +
            "drop the generated column first"))
        val keepIdx = prev.schema.fields.indices
          .filterNot(i => dropNames.contains(prev.schema.fields(i).name))
        if (keepIdx.isEmpty) throw new UnsupportedOperationException(
          "cannot drop every column of a table")
        // IF EXISTS resolving to nothing is a TRUE no-op — no segment
        // rewrite, no published snapshot.
        if (keepIdx.length == prev.schema.length && nestedDrops.isEmpty) None
        else {
          // Per kept column: its field and expression, evolved in
          // lockstep group-by-group so a later nested drop addresses
          // the already-narrowed layout.
          val cols = keepIdx.map { i =>
            val f = prev.schema.fields(i)
            nestedDrops.getOrElse(f.name, Nil).foldLeft(
              (f, BoundReference(i, f.dataType, f.nullable): Expression)) {
              case ((g, ex), (pp, inners)) =>
                val full = (f.name +: pp).mkString(".")
                val dt = NestedSchema.restructAt(g.dataType, pp, full) { st =>
                  if (st.fields.forall(sf => inners.contains(sf.name)))
                    throw new UnsupportedOperationException(
                      s"cannot drop every field of struct " +
                        s"${if (pp.isEmpty) s"column ${f.name}" else full} — drop the " +
                        "struct itself")
                  StructType(st.fields.filterNot(sf => inners(sf.name)))
                }
                (g.copy(dataType = dt), NestedSchema.rebuildExpr(
                  ex, g.dataType, pp, NestedSchema.DropFields(inners), full))
            }
          }
          Some((StructType(cols.map(_._1)), cols.map(_._2)))
        }
      }
    }
    // Metadata-only COLUMN updates — COMMENT, DROP NOT NULL, SET/DROP
    // DEFAULT: schema facets the DECODER never reads (decodeCompatible
    // ignores nullability and field metadata), so like SET
    // TBLPROPERTIES they update the live entry without publishing a
    // snapshot or touching a file. SET NOT NULL never reaches here —
    // Spark's analyzer refuses nullability TIGHTENING on v2 tables
    // (existing rows are not re-validated).
    else if (changes.forall(c =>
        c.isInstanceOf[TableChange.UpdateColumnComment] ||
        c.isInstanceOf[TableChange.UpdateColumnNullability] ||
        c.isInstanceOf[TableChange.UpdateColumnDefaultValue])) {
      editEntry(ident, snapshot = false) { prev =>
        Some(changes.foldLeft(prev) { (e, c) =>
          val cc = c.asInstanceOf[TableChange.ColumnChange]
          val parts = cc.fieldNames().toSeq
          val full = parts.mkString(".")
          // One field-facet editor for top-level AND nested targets —
          // COMMENT and DROP NOT NULL are schema metadata the decoder
          // never reads, so depth changes nothing about the
          // metadata-only contract. DEFAULTs stay TOP-LEVEL-only:
          // Spark's analyzer resolves CURRENT_DEFAULT for omitted
          // INSERT columns, which have no nested form.
          def edited(f: org.apache.spark.sql.types.StructField)
              : org.apache.spark.sql.types.StructField = c match {
            case u: TableChange.UpdateColumnComment =>
              f.withComment(u.newComment())
            case u: TableChange.UpdateColumnNullability =>
              if (!u.nullable())
                throw new UnsupportedOperationException(
                  s"cannot tighten $full to NOT NULL — " +
                    "existing rows are not re-validated")
              f.copy(nullable = true)
            case u: TableChange.UpdateColumnDefaultValue =>
              if (parts.length != 1) throw new UnsupportedOperationException(
                s"DEFAULT on a nested field ($full) is not supported — " +
                  "omitted-column defaults have no nested form")
              // CURRENT_DEFAULT governs FUTURE omitted-column inserts;
              // EXISTS_DEFAULT (rows predating the column) is part of
              // committed history and never rewritten here.
              val mb = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
              Option(u.newCurrentDefault()).flatMap(d => Option(d.getSql))
                .filter(_.nonEmpty) match {
                case Some(sql) =>
                  f.copy(metadata = mb.putString("CURRENT_DEFAULT", sql).build())
                case None =>
                  f.copy(metadata = mb.remove("CURRENT_DEFAULT").build())
              }
            case _ => f // unreachable under the forall guard
          }
          val i = e.schema.fieldIndex(parts.head)
          val fields = e.schema.fields.clone()
          fields(i) =
            if (parts.length == 1) edited(fields(i))
            else fields(i).copy(dataType = NestedSchema.restructAt(
              fields(i).dataType, parts.tail.dropRight(1), full) { st =>
              val j = st.fieldNames.indexOf(parts.last)
              if (j < 0) throw new IllegalArgumentException(s"no such field $full")
              StructType(st.fields.updated(j, edited(st.fields(j))))
            })
          e.copy(schema = StructType(fields))
        })
      }
    }
    // ALTER COLUMN x FIRST / AFTER y: positional storage makes column
    // ORDER physical — one streamed permutation re-projection per
    // segment, the DROP/widen machinery with a reorder instead of a
    // narrowing. Everything name-keyed (partition specs, identity
    // watermarks, eq-delete keys, constraints, generation refs)
    // follows automatically.
    else if (changes.forall(_.isInstanceOf[TableChange.UpdateColumnPosition])) {
      reprojectTable(ident) { prev =>
        var order: Vector[Int] = prev.schema.fields.indices.toVector
        changes.foreach { case m: TableChange.UpdateColumnPosition =>
          if (m.fieldNames().length != 1) throw new UnsupportedOperationException(
            s"graft catalog repositions only top-level columns, got " +
              m.fieldNames().mkString("."))
          val n = m.fieldNames()(0)
          val cur = order.indexWhere(i => prev.schema.fields(i).name == n)
          if (cur < 0) throw new IllegalArgumentException(s"no such column $n")
          val idx = order(cur)
          val rest = order.patch(cur, Nil, 1)
          order = m.position() match {
            case _: TableChange.First => idx +: rest
            case a: TableChange.After =>
              val t = rest.indexWhere(i => prev.schema.fields(i).name == a.column())
              if (t < 0) throw new IllegalArgumentException(
                s"AFTER target column ${a.column()} not found")
              rest.patch(t + 1, Seq(idx), 0)
            case other => throw new UnsupportedOperationException(
              s"unsupported column position $other")
          }
        }
        Some((StructType(order.map(prev.schema.fields(_))), order.map { i =>
          val f = prev.schema.fields(i)
          BoundReference(i, f.dataType, f.nullable): Expression
        }))
      }
    }
    else reprojectTable(ident)(addColumnsPlan(changes))
    tableOf(ident, entry)
  }

  /** The live table `e` describes. */
  private def tableOf(ident: Identifier, e: TableEntry): Table =
    new GraftCatalogTable(ident, e.schema, e.dir,
      partitionCols = e.partitionCols, tableConstraints = e.constraints)

  /** ADD COLUMN's re-projection plan (see [[reprojectTable]]). */
  private def addColumnsPlan(changes: Seq[TableChange])(
      prev: TableEntry): Option[(StructType, Seq[Expression])] = {
    // Each add: the widened field (DEFAULT sql kept in the standard
    // CURRENT_DEFAULT/EXISTS_DEFAULT metadata keys so the analyzer
    // fills omitted INSERT columns) + the backfill literal for rows
    // that exist NOW (ANSI: evaluated default at ALTER time, else null).
    val adds: Seq[(org.apache.spark.sql.types.StructField, Literal)] = changes.map {
      case add: TableChange.AddColumn if add.fieldNames().length == 1 =>
        val base = org.apache.spark.sql.types.StructField(
          add.fieldNames()(0), add.dataType(), nullable = true)
        Option(add.defaultValue()) match {
          case Some(d) =>
            val md = Option(d.getSql) match {
              case Some(sql) => new org.apache.spark.sql.types.MetadataBuilder()
                .putString("CURRENT_DEFAULT", sql)
                .putString("EXISTS_DEFAULT", sql)
                .build()
              case None => base.metadata
            }
            (base.copy(metadata = md), Literal(d.getValue.value(), d.getValue.dataType()))
          case None =>
            (base, Literal(null, add.dataType()))
        }
      case add: TableChange.AddColumn if add.fieldNames().length >= 2 =>
        // NESTED field add (any depth, FIRST/AFTER honored within the
        // enclosing struct), collected separately below (placeholder
        // pair here; topAdds re-zips by arity).
        if (add.defaultValue() != null) throw new UnsupportedOperationException(
          s"DEFAULT on a nested field (${add.fieldNames().mkString(".")}) is not supported")
        (org.apache.spark.sql.types.StructField("", org.apache.spark.sql.types.NullType),
          Literal(null))
      case other =>
        throw new UnsupportedOperationException(
          s"unsupported ADD COLUMNS change: $other")
    }
    // NESTED adds (`ADD COLUMNS (meta.c DOUBLE)`): the inner layout of
    // a struct lives inside each row's bytes, so — unlike a top-level
    // add — the parent column must be REBUILT row-by-row (same streamed
    // re-projection as DROP/widen). NULL structs stay NULL: a row whose
    // parent was never set must not sprout a struct of nulls.
    val topAdds: Seq[(org.apache.spark.sql.types.StructField, Literal,
        Option[TableChange.ColumnPosition])] = changes.zip(adds).collect {
      case (a: TableChange.AddColumn, (f, lit)) if a.fieldNames().length == 1 =>
        (f, lit, Option(a.position()))
    }
    // (parentPathWithinColumn, newField, position) per top column, in
    // statement order — `meta.a.b` adds field `b` under path [a];
    // `items.element.f` adds `f` inside each array element's struct;
    // FIRST/AFTER splice within the ENCLOSING struct.
    val nestedAdds: Map[String,
        Seq[(Seq[String], org.apache.spark.sql.types.StructField,
             Option[NestedSchema.FieldPos])]] =
      changes.collect {
        case a: TableChange.AddColumn if a.fieldNames().length >= 2 =>
          val parts = a.fieldNames().toSeq
          val pos: Option[NestedSchema.FieldPos] = Option(a.position()).map {
            case _: TableChange.First => NestedSchema.First
            case af: TableChange.After => NestedSchema.After(af.column())
            case other => throw new UnsupportedOperationException(
              s"unsupported column position $other")
          }
          parts.head -> ((parts.tail.dropRight(1),
            org.apache.spark.sql.types.StructField(parts.last, a.dataType(), nullable = true),
            pos))
      }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2) }
    nestedAdds.foreach { case (parent, _) =>
      if (!prev.schema.fieldNames.contains(parent))
        throw new IllegalArgumentException(s"no such column $parent")
    }
    // Per-column evolved (type, rebuild expression): adds applied
    // in statement order over the evolving layout, so a second add
    // into the same struct lands after the first, and an add into
    // a struct ADDED by this statement resolves (meta.a then
    // meta.a.b in one ALTER is still refused upstream by Spark —
    // each add here targets a pre-existing struct).
    def addInto(colName: String,
        start: (org.apache.spark.sql.types.DataType, Expression))
        : (org.apache.spark.sql.types.DataType, Expression) =
      nestedAdds(colName).foldLeft(start) { case ((dt, ex), (pp, kid, pos)) =>
        val full = (colName +: pp :+ kid.name).mkString(".")
        val edit = NestedSchema.AddFields(Seq(kid), pos)
        val ndt = NestedSchema.restructAt(dt, pp, full) { st =>
          if (st.fieldNames.contains(kid.name))
            throw new IllegalArgumentException(s"field $full already exists")
          NestedSchema.editType(st, edit, full)
        }
        (ndt, NestedSchema.rebuildExpr(ex, dt, pp, edit, full))
      }
    // One SLOT per output column: (name, projection expr, field).
    // Old fields come first (nested adds rebuild their parent in
    // place); positioned top-level adds then splice into the order —
    // `FIRST` / `AFTER k` honored exactly, where AFTER may target an
    // old column or one added earlier in the same statement
    // (silently appending a positioned add at the end would be a
    // wrong answer wearing a success code).
    var slots: Vector[(String, Expression, org.apache.spark.sql.types.StructField)] =
      prev.schema.fields.toVector.zipWithIndex.map { case (of, i) =>
        val ref = BoundReference(i, of.dataType, of.nullable)
        if (nestedAdds.contains(of.name)) {
          val (ndt, ex) = addInto(of.name, (of.dataType, ref))
          (of.name, ex, of.copy(dataType = ndt))
        } else (of.name, ref: Expression, of)
      }
    topAdds.foreach { case (f, lit, pos) =>
      val slot = (f.name, lit: Expression, f)
      pos match {
        case None => slots = slots :+ slot
        case Some(_: TableChange.First) => slots = slot +: slots
        case Some(a: TableChange.After) =>
          val i = slots.indexWhere(_._1 == a.column())
          if (i < 0) throw new IllegalArgumentException(
            s"AFTER target column ${a.column()} not found")
          slots = slots.patch(i + 1, Seq(slot), 0)
        case Some(other) => throw new UnsupportedOperationException(
          s"unsupported column position $other")
      }
    }
    Some((StructType(slots.map(_._3)), slots.map(_._2)))
  }

  override def dropTable(ident: Identifier): Boolean =
    GraftCatalog.dropEntry(ident) // soft: UNDROP-able until retention

  /** `DROP TABLE ... PURGE` — immediate, unrecoverable. */
  override def purgeTable(ident: Identifier): Boolean =
    GraftCatalog.purgeEntry(ident)

  /** Atomic under the global mutation lock: a concurrent job commit
    * against the OLD identifier either lands before the rename (and
    * migrates with the entry) or fails loudly afterwards
    * (`NoSuchTable`-style require in the commit path) — it is never
    * silently dropped, and at no instant do both identifiers resolve.
    */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = mutate {
    // Branches are published or dropped, never renamed: the '@' naming
    // convention IS how publish_branch resolves them, and renaming a
    // plain table ONTO an '@' name would forge one.
    GraftCatalog.requireNotBranchName(newIdent)
    if (oldIdent.name.contains("@"))
      throw new UnsupportedOperationException(
        s"$oldIdent is a branch — publish it (CALL graft.system.publish_branch) " +
          "or drop it; branches cannot be renamed")
    // Cross-process: the source must be current and the target's
    // absence judged against the LEDGER, not a stale in-memory view.
    GraftCatalog.refreshIfStale(oldIdent)
    GraftCatalog.refreshIfStale(newIdent)
    val entry = store.get(oldIdent)
    if (entry == null) throw new NoSuchTableException(oldIdent)
    // Tables and views share one namespace — renaming onto a VIEW name
    // would register both objects under one identifier (renameView
    // checks both maps symmetrically).
    if (store.containsKey(newIdent) || GraftCatalog.viewExists(newIdent))
      throw new TableAlreadyExistsException(newIdent.toString, newIdent.name())
    // Open branches address their parent BY NAME (the '@' convention
    // and the graft.branch.of property) — renaming under them would
    // strand audited work with no publish path.
    val openBranches = GraftCatalog.branchesOf(oldIdent)
    if (openBranches.nonEmpty)
      throw new UnsupportedOperationException(
        s"$oldIdent has open branch(es) ${openBranches.map(_._1).mkString(", ")} — " +
          "publish or drop them before renaming the table")
    // The entry (streaming epochs included) and its history move; each
    // name keeps its own remembered ledger sequence.
    val (_, ourHist) = forget(oldIdent)
    store.put(newIdent, entry)
    setHistory(newIdent, ourHist)
    // NEW document first, old deletion second: the new-name write is a
    // CAS that can LOSE to another process creating that name — losing
    // AFTER the old document was deleted would leave the table on
    // neither name (a lost table). Losing before any deletion is a
    // clean refusal: the lost CAS already reloaded the WINNER's state
    // at the new name (leave it), and the rollback restores OUR table
    // under its old name from the captured state. If the new write
    // lands and the old deletion then fails, both names briefly serve
    // (benign; the old document deletes on the next mutation).
    try persistTable(newIdent) // CAS: refuses if another process took the name
    catch { case _: java.util.ConcurrentModificationException =>
      store.put(oldIdent, entry)
      setHistory(oldIdent, ourHist)
      throw new TableAlreadyExistsException(newIdent.toString, newIdent.name())
    }
    // The old-name tombstone is ALSO a CAS that can lose — to a
    // concurrent cross-process commit on the old name that landed after
    // our capture. Letting that loss stand would leave the table live
    // under BOTH names with diverging states sharing segment files (the
    // racer's rows visible only under the old name) and wedge a retried
    // rename on TableAlreadyExists. Roll the rename BACK instead:
    // persistTable's loss path already reloaded the winner's state at
    // oldIdent; here we retract the just-committed new-name document
    // (tombstone it — our own doc, so this CAS is ours to win) and
    // refuse, so exactly one name survives and a retry sees the
    // winner's commit.
    try persistTable(oldIdent) // old document deleted (tombstone CAS)
    catch { case e: java.util.ConcurrentModificationException =>
      // Retract the just-committed new-name document. This tombstone
      // CAS can ITSELF lose — a concurrent driver may have committed
      // onto the just-visible new name. The loss taxonomy matters:
      //  - the winner TOMBSTONED the name (a concurrent drop):
      //    retraction achieved by proxy — clean up and refuse;
      //  - the winner committed DATA/DDL onto the name: that commit
      //    was ACKNOWLEDGED to its caller, and retrying the tombstone
      //    at the winner's sequence would erase it — a destroyed
      //    acknowledged write is strictly worse than a split brain.
      //    Leave BOTH names live and emit a LOUD diagnostic naming
      //    them, so the operator reconciles deliberately instead of
      //    discovering either hazard by query results.
      // (persistTable's loss path already reloaded the winner's state
      // at newIdent, so the store probe below reads committed truth.)
      forget(newIdent)
      try persistTable(newIdent) // tombstone CAS
      catch { case _: java.util.ConcurrentModificationException =>
        // A winner that tombstoned the name retracted it by proxy.
        if (store.get(newIdent) != null) {
          System.err.println(
            s"[graft-catalog] WARNING: rename rollback could not retract " +
              s"'$newIdent' — a concurrent driver committed onto it, and " +
              s"retracting would erase that acknowledged write. The table " +
              s"is live under BOTH '$oldIdent' (the old-name winner's " +
              s"state) and '$newIdent'; reconcile by dropping one")
        }
      }
      throw e
    }
  }

  // ---- SupportsNamespaces: implicit single-level namespaces ----
  // Derived from BOTH stores: a views-only namespace exists (it is
  // SHOW NAMESPACES-visible and namespaceExists-true), consistent with
  // dropNamespace CASCADE clearing its views.
  override def listNamespaces(): Array[Array[String]] = {
    ensureLoaded()
    (store.keySet().asScala.map(_.namespace.toSeq) ++
      views.keySet().asScala.map(_.namespace.toSeq))
      .toSet.map((s: Seq[String]) => s.toArray).toArray
  }
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    Array.empty
  /** Consistent with the implicit-namespace model AND dropNamespace: a
    * namespace exists iff it currently holds tables (CREATE NAMESPACE is
    * accepted as a no-op — the namespace materializes with its first
    * table; an emptied namespace ceases to exist).
    */
  // A namespace exists iff it holds tables OR views (implicit-namespace
  // catalog: nothing to create or drop independently).
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 &&
      (listTables(namespace).nonEmpty || listViews(namespace.toIndexedSeq: _*).nonEmpty)
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        name() +: namespace.toSeq)
    util.Collections.emptyMap()
  }
  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit = ()
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft catalog namespaces carry no metadata")

  /** TableCatalog contract: a non-cascade drop of a NON-EMPTY namespace
    * must fail (not silently strand its tables), and dropping a
    * namespace that holds nothing returns false (namespaces here are
    * implicit — one "exists" only by virtue of its tables).
    */
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = mutate {
    val tables = listTables(namespace)
    val nsViews = listViews(namespace.toIndexedSeq: _*)
    if (!cascade && (tables.nonEmpty || nsViews.nonEmpty))
      throw NonEmptyNamespaceException(
        namespace,
        s"${tables.length} table(s), ${nsViews.length} view(s) present; use CASCADE", None)
    tables.foreach(dropTable)
    nsViews.foreach(dropView) // CASCADE clears views too, not just tables
    tables.nonEmpty || nsViews.nonEmpty
  }

  // ---- ProcedureCatalog: CALL graft.system.<name>(...) ----
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(GraftProcedure.Namespace))
      GraftProcedure.all.map(p => Identifier.of(namespace, p.name())).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure =
    GraftProcedure.all
      .find(p => ident.namespace.sameElements(GraftProcedure.Namespace) && p.name() == ident.name)
      .getOrElse(throw new UnsupportedOperationException(s"no such procedure: $ident"))

  // ---- ViewCatalog: persistent SQL views resolved through the ----
  // ---- catalog (CREATE/ALTER/DROP/SHOW VIEWS, `SELECT FROM v`) ----
  // A view stores the ORIGINAL query text plus the catalog/namespace
  // context it was defined under; Spark re-parses and re-resolves on
  // every read (late binding — the view tracks its base tables).
  override def listViews(namespace: String*): Array[Identifier] = {
    ensureLoaded()
    val ns: Array[String] = namespace.toArray
    views.keySet.asScala.filter(_.namespace.sameElements(ns))
      .toArray.sortBy(_.name())
  }

  override def loadView(ident: Identifier): View = {
    ensureLoaded()
    val v = views.get(ident)
    if (v == null)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    v
  }

  override def createView(info: ViewInfo): View = mutate {
    if (store.containsKey(info.ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        info.ident.toString, info.ident.name())
    val v = GraftView(info.ident, info.sql(), info.currentCatalog(),
      info.currentNamespace(), info.schema(), info.queryColumnNames(),
      info.columnAliases(), info.columnComments(), info.properties())
    if (views.putIfAbsent(info.ident, v) != null)
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(info.ident)
    persistView(info.ident)
    v
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = mutate {
    val prev = loadView(ident).asInstanceOf[GraftView]
    val props = new util.HashMap[String, String](prev.props)
    changes.foreach {
      case set: ViewChange.SetProperty => props.put(set.property(), set.value())
      case rm: ViewChange.RemoveProperty => props.remove(rm.property())
      case _ => ()
    }
    val next = prev.copy(props = util.Collections.unmodifiableMap(props))
    views.put(ident, next)
    persistView(ident)
    next
  }

  override def dropView(ident: Identifier): Boolean = mutate {
    val dropped = views.remove(ident) != null
    if (dropped) persistView(ident)
    dropped
  }

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = mutate {
    val v = views.get(oldIdent)
    if (v == null)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent)
    if (views.containsKey(newIdent) || store.containsKey(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(newIdent)
    views.remove(oldIdent)
    views.put(newIdent, v.copy(ident = newIdent))
    persistView(oldIdent)
    persistView(newIdent)
  }

  // ---- FunctionCatalog ----
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array.empty // transforms resolve, but are not listed
    else GraftCatalog.Functions.getOrElse(namespace.toSeq, Map.empty)
      .keys.toArray.sorted.map(Identifier.of(namespace, _))

  override def loadFunction(ident: Identifier): UnboundFunction =
    GraftCatalog.Functions.get(ident.namespace.toSeq).flatMap(_.get(ident.name))
      .getOrElse(throw new NoSuchFunctionException(ident))
}

object GraftCatalog {
  /** The catalog's functions by namespace, then name: the one table
    * `listFunctions` and `loadFunction` read. `math` holds the callable
    * `graft.math.clamp`. The empty namespace is how Spark resolves
    * partition TRANSFORMS (write-side clustered distribution, read-side
    * key-grouped partitioning) against the table's catalog — SPARK-33779,
    * the Iceberg FunctionCatalog shape. Those resolve by name but are not
    * listed: they are a table's transforms, not functions to call.
    */
  private val Functions: Map[Seq[String], Map[String, UnboundFunction]] = {
    def byName(fns: UnboundFunction*) = fns.map(f => f.name() -> f).toMap
    Map(
      Seq("math") -> byName(GraftClampFunction),
      Seq.empty[String] -> byName(GraftDaysFunction, GraftHoursFunction, GraftMonthsFunction,
        GraftYearsFunction, GraftBucketFunction, GraftTruncateFunction))
  }

  /** Per-column zone-map entry for one segment: min/max over the
    * non-null values (external JVM types: boxed numerics / String /
    * Boolean — null when the column had no non-null values or an
    * unsupported type) plus the null count. Collected streaming at
    * write time for ~zero cost; lets a scan skip whole segment files
    * whose range provably cannot satisfy a pushed filter — the same
    * trick as parquet row-group statistics / Delta file stats.
    */
  private[graft] case class ColStat(min: Any, max: Any, nulls: Long)
    extends Serializable

  /** One committed immutable segment file: `rows` length-prefixed
    * UnsafeRow payloads at `path`, `bytes` on disk, per-column zone-map
    * `stats` (empty when collected under an unknown schema — then the
    * segment is never pruned), and — for identity-partitioned tables —
    * the segment's partition `key` (external JVM values of the table's
    * partition columns, in declaration order; every row in the segment
    * shares it, the invariant the partition-aware writer enforces).
    *
    * `dv` is the segment's DELETION VECTOR (merge-on-read deletes —
    * the Delta DV / Iceberg positional-delete shape): physical row
    * ordinals a metadata DELETE removed without rewriting the file.
    * The FILE stays immutable; the Segment ENTRY is replaced with a
    * wider dv in the next snapshot, so time travel reads the same file
    * under its older (smaller or absent) vector. Readers skip dv
    * ordinals; compaction/Z-order/ALTER migrations materialize them
    * away. Zone-map stats keep describing ALL physical rows —
    * conservative, so pruning stays sound; MIN/MAX metadata aggregates
    * must (and do) decline when a dv is present.
    *
    * `blooms` holds an optional per-column [[SegmentBloom]] bit array
    * (positionally aligned with `stats`; empty for pre-bloom segments
    * loaded from an old ledger) for point-predicate skipping on
    * high-NDV columns where min/max can't prune. Same ALL-physical-
    * rows convention as `stats`.
    */
  private[graft] case class Segment(
      path: String, rows: Long, bytes: Long = 0L,
      stats: IndexedSeq[ColStat] = Vector.empty,
      key: IndexedSeq[Any] = Vector.empty,
      dv: Option[scala.collection.immutable.BitSet] = None,
      blooms: IndexedSeq[Option[Array[Long]]] = Vector.empty,
      // PROVENANCE flag: rows are sorted on the table's declared write
      // order. Set ONLY by producers that provably sort (the ordered
      // batch-insert path, compaction's sorted fold); every rewrite
      // that may perturb values or order (UPDATE, zorder, ALTER
      // migration) defaults false — reporting a false ordering would
      // make Spark skip required sorts and return WRONG results, so
      // losing the flag is always the safe direction.
      sorted: Boolean = false,
      // The partition COLUMNS `key` is valued over — the spec the
      // segment was WRITTEN under. Partition-spec evolution
      // (`CALL graft.system.set_partitioning`) is metadata-only: old
      // segments keep their old spec, and every key-trusting path
      // (SPJ reporting, keyed splits, metadata group-by, partition
      // overwrite, per-group compaction) checks spec == the table's
      // CURRENT partitionCols before treating `key` as meaningful.
      // Zone maps cover every column, so scans of mixed-era tables
      // still prune on the new partition column without trusting keys.
      spec: Seq[String] = Nil,
      // DATA SEQUENCE NUMBER (the Iceberg v2 concept): the commit
      // version at which this segment's ROWS entered the table. An
      // equality delete applies to a segment iff eq.seq > this —
      // "deletes hit rows written before the delete". Assignment:
      // commitSegments stamps every segment NEW to a commit with its
      // version — fresh data, and rewrites (compaction, zorder, DELETE
      // survivors, row-level) BECAUSE they provably applied the
      // filters while rewriting; 1:1 migrations (the ALTER
      // re-projections, through `SegmentIO.reproject`) inherit the
      // source's seq (their bytes still carry eq-deleted rows, so the
      // filters must keep applying). Too low is
      // always safe (filters re-apply as no-ops); too high without
      // filtering would resurrect deleted rows — never done.
      seq: Long = 0L,
      // ROW LINEAGE (the Iceberg v3 `_row_id` /
      // `_last_updated_sequence_number` concept): contiguous runs
      // (firstRowId, rowCount, lastUpdatedSeq) covering the segment's
      // PHYSICAL ordinals in order. Ids are table-scoped, allocated
      // once per row at first commit (TableEntry.nextRowId, never
      // reused) and STABLE thereafter: 1:1 CoW rewrites inherit the
      // source's id runs (re-stamping lastUpdatedSeq — the rows WERE
      // just updated), unordered compaction concatenates surviving
      // runs (ids AND update-seqs ride through a dataChange=false
      // fold untouched), dv deletes leave survivor ids alone (masked
      // ordinals stay inside runs; the reader never emits them).
      // Order-perturbing or cardinality-changing rewrites (sorted
      // fold, zorder, spec migration, non-1:1 ReplaceData) DROP runs
      // — publish then allocates fresh ids, because claiming a stale
      // identity would be a wrong-lineage bug while a fresh one is
      // merely conservative (the same safe-direction doctrine as
      // `sorted`). Empty = unassigned (legacy ledger) → reader serves
      // NULL. lastUpdatedSeq is the snapshot version of the commit
      // that last CHANGED the rows — distinct from `seq`, which
      // tracks the equality-delete domain and is deliberately
      // re-stamped by maintenance. GRANULARITY NOTE: on a 1:1 CoW
      // row-level rewrite (UPDATE/MERGE), EVERY run of the rewritten
      // segment re-stamps to the new version, including co-located
      // rows the predicate did not modify — a deliberate
      // segment-granularity approximation (strict Iceberg-v3 per-row
      // carry-over would need a byte-diff of source vs rewritten
      // segments at publish, a read pass the metadata-only commit
      // path must not take). Maintenance rewrites (compaction /
      // migration) are NOT approximated: they stream rows and carry
      // (id, updateSeq) exactly via RunAccumulator.
      lineage: IndexedSeq[(Long, Long, Long)] = Vector.empty) {
    def deletedRows: Long = dv.map(_.size.toLong).getOrElse(0L)
    def liveRows: Long = rows - deletedRows
  }

  /** Output side of a lineage-preserving rewrite: collects surviving
    * rows' (id, updateSeq) pairs into maximal contiguous runs.
    * Invalidates itself past `cap` runs (ledger-size safety valve) or
    * on an unassigned source row — `result()` then returns empty and
    * publish allocates fresh ids, which is conservative, never wrong.
    */
  private[sources] final class RunAccumulator(cap: Int = 1024) {
    private val b = Vector.newBuilder[(Long, Long, Long)]
    private var n = 0
    private var first = 0L; private var len = 0L; private var seqV = 0L
    private var valid = true
    def push(id: Long, q: Long): Unit =
      if (valid) {
        if (len > 0 && id == first + len && q == seqV) len += 1
        else {
          if (len > 0) { b += ((first, len, seqV)); n += 1 }
          first = id; len = 1; seqV = q
          if (n > cap) valid = false
        }
      }
    def invalidate(): Unit = valid = false
    def result(): IndexedSeq[(Long, Long, Long)] = {
      if (valid && len > 0) { b += ((first, len, seqV)); len = 0 }
      if (valid) b.result() else Vector.empty
    }
  }

  /** Source side: resolves a physical ordinal to its (rowId,
    * updateSeq) through the segment's runs, allocation-free. Ordinals
    * must only grow (the sequential-read invariant every caller has) —
    * O(1) amortized.
    */
  private[sources] final class RunCursor(runs: IndexedSeq[(Long, Long, Long)]) {
    private var i = 0
    private var start = 0L
    private var id = 0L
    private var q = 0L
    /** Seek to `ord`: true when the segment has lineage for it (then
      * `rowId` / `updatedSeq` hold it).
      */
    def seek(ord: Long): Boolean = {
      while (i < runs.length && ord >= start + runs(i)._2) {
        start += runs(i)._2; i += 1
      }
      i < runs.length && {
        id = runs(i)._1 + (ord - start); q = runs(i)._3; true
      }
    }
    def rowId: Long = id
    def updatedSeq: Long = q
  }

  /** EQUALITY DELETE (merge-on-read upsert, the Iceberg v2 /
    * Flink-upsert shape): "delete every row whose `keyCols` tuple is in
    * `keys`, among rows written before commit `seq`". Registered by an
    * upsert write (`.option("graft.upsert.keys", "k1,k2")`) in the
    * same commit as its appended segments — the streaming-CDC apply
    * primitive that needs no read-modify-write. Keys are EXTERNAL
    * values (String / boxed integrals / Boolean), the same encoding as
    * partition keys and zone-map stats; metadata-sized by the
    * per-commit cap. Readers subtract matching rows at scan time;
    * compaction/zorder materialize and GC them.
    */
  private[graft] case class EqDelete(
      keyCols: Seq[String], keys: Vector[IndexedSeq[Any]], seq: Long)
      extends Serializable {
    def appliesTo(seg: Segment): Boolean = eqApplies(seq, seg.seq)
  }

  /** THE equality-delete scoping rule: a delete registered at `eqSeq`
    * applies to a segment with data sequence number `segSeq` iff it is
    * strictly newer — a segment stamped by the delete's own commit (or
    * a later one) holds rows written after the delete.
    */
  private[graft] def eqApplies(eqSeq: Long, segSeq: Long): Boolean = eqSeq > segSeq

  /** Per-column ANALYZE output (`CALL graft.system.analyze`): distinct
    * and null counts over the table's live rows at analyze time. The
    * cardinality side of CBO — zone maps already carry min/max.
    */
  private[graft] case class ColAnalysis(ndv: Long, nulls: Long)

  private[graft] case class TableEntry(
      schema: StructType, segments: Vector[Segment], dir: String,
      partitionCols: Seq[String] = Nil,
      constraints: Vector[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
        Vector.empty,
      analyzed: Map[String, ColAnalysis] = Map.empty,
      props: Map[String, String] = Map.empty,
      // Outstanding equality deletes (see [[EqDelete]]); GC'd at
      // publish once no live segment predates them.
      eqDeletes: Vector[EqDelete] = Vector.empty,
      // Next unallocated row id (see Segment.lineage): monotonic,
      // bumped by publish's assignment pass, never reused — restore
      // keeps it, clone copies it, branch publish takes the max.
      nextRowId: Long = 0L,
      // Streaming exactly-once ledger: STREAMING QUERY id → (last
      // committed epoch, wall ms it was committed or adopted). A
      // replayed epoch after failure/restart commits as a no-op (its
      // fresh segments are deleted, not published). Keyed by the stable
      // query id: two independent queries appending to one table each
      // count epochs from 0 and must not dedup against each other. The
      // stamp is the EXPIRY axis: checkpoint writes drop entries idle
      // past the epoch retention window ([[EpochRetentionProp]]), so
      // retired queries don't ride every future document. Contract (the
      // Delta transaction-retention shape): a stream idle longer than
      // that window loses replay-dedup protection. Rides with the entry
      // through rename, drop → undrop, restore, RTAS and branch publish;
      // a clone, branch or new table starts empty.
      epochs: Map[String, (Long, Long)] = Map.empty)

  /** IDENTITY COLUMNS (`GENERATED ALWAYS AS IDENTITY (START WITH s
    * INCREMENT BY t)`, the Delta/warehouse shape): Spark validates the
    * DDL and hands the spec to the catalog via `TableInfo.columns()`;
    * VALUE GENERATION is entirely the connector's job — an INSERT that
    * omits the column delivers NULL and the WRITER fills it. The spec
    * is stored in StructField metadata under Spark's own
    * `IdentityColumn.IDENTITY_INFO_*` keys (so it persists with the
    * schema and `Table.columns()`'s default conversion re-advertises
    * it to DESCRIBE/ALTER), and the allocation high-water mark lives
    * in the `graft.identity.<col>.next` TBLPROPERTY as the next unused
    * PROGRESSION INDEX k (value = start + step·k — index-based, so
    * negative steps need no special casing).
    *
    * Distributed uniqueness without coordination: a write with P tasks
    * assigns task p's i-th generated value the index k0 + p + i·P —
    * disjoint congruence classes, no overlap, values interleave
    * (contiguity is NOT promised; neither does any warehouse). The
    * commit advances the watermark to max(k)+1; advancing BEFORE the
    * data commit means a crash between the two leaks a gap, never a
    * collision. GENERATED ALWAYS refuses explicit non-null values on
    * user writes (row-level rewrites re-writing existing ids are
    * exempt — the engine, not the user, supplies those); BY DEFAULT
    * accepts them (and, as everywhere, explicit values can collide
    * with future generated ones — the documented warehouse caveat).
    * Streaming writes don't assign (the epoch loop can't refresh the
    * driver-captured watermark) — a null identity value in a
    * streaming write fails loudly instead of silently landing NULL.
    */
  private[sources] case class IdentityAssign(
      idx: Int, name: String, isLong: Boolean,
      start: Long, step: Long, allowExplicit: Boolean, k0: Long)

  private[sources] val IdentityPropPrefix = "graft.identity."
  private[sources] val IdentityPropSuffix = ".next"
  private[sources] def identityProp(col: String): String =
    s"$IdentityPropPrefix$col$IdentityPropSuffix"

  /** Current write-time assignment specs for a table — empty when the
    * schema has no identity columns. Reads the live watermark; call
    * driver-side at write-build time.
    */
  private[sources] def identityAssigns(
      ident: Identifier, schema: StructType): Seq[IdentityAssign] =
    schema.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
      org.apache.spark.sql.catalyst.util.IdentityColumn.getIdentityInfo(f).map { s =>
        val k0 = Option(store.get(ident))
          .flatMap(_.props.get(identityProp(f.name))).map(_.toLong).getOrElse(0L)
        IdentityAssign(i, f.name,
          f.dataType == org.apache.spark.sql.types.LongType,
          s.getStart, s.getStep, s.isAllowExplicitInsert, k0)
      }
    }

  /** Commit-side watermark advance for a batch write, with optimistic
    * conflict detection: the congruence-class disjointness proof only
    * covers the tasks of ONE write planned at watermark k0 — if the
    * stored watermark moved past k0 while this write ran (a concurrent
    * identity write, or sync_identity, committed first), the two
    * writes' k domains can overlap, so the later commit must FAIL
    * before touching catalog state (Spark then aborts the write and
    * its files are deleted — nothing was installed). Runs BEFORE the
    * data install, so a crash after it leaks index gaps, never
    * duplicates. Shared by the plain batch and row-level commits.
    */
  private[sources] def advanceIdentityChecked(
      ident: Identifier, msgs: Seq[GraftSegmentMessage],
      specs: Seq[IdentityAssign]): Unit = {
    val idMax = msgs.flatMap(_.identityMaxK.toSeq).groupBy(_._1)
      .map { case (c, vs) => c -> (vs.map(_._2).max + 1) }
    if (idMax.isEmpty) return
    val base = specs.map(a => a.name -> a.k0).toMap
    mutate {
      val entry = store.get(ident)
      require(entry != null, s"table $ident dropped mid-write")
      idMax.keys.foreach { c =>
        val cur = entry.props.get(identityProp(c)).map(_.toLong).getOrElse(0L)
        val k0 = base.getOrElse(c, cur)
        if (cur > k0)
          throw new java.util.ConcurrentModificationException(
            s"identity column $c of $ident: watermark advanced $k0 -> $cur by a " +
              "concurrent write while this write was running — generated values " +
              "could collide; retry the write")
      }
      advanceIdentity(ident, idMax)
    }
  }

  /** Advance identity watermarks (next unused k per column) — called
    * by the committing writer BEFORE installing data, so a crash
    * between the two leaks index gaps, never duplicate values.
    */
  private[sources] def advanceIdentity(
      ident: Identifier, nextK: Map[String, Long]): Unit = mutate {
    store.compute(ident, (_, prev) => {
      require(prev != null, s"table $ident dropped mid-write")
      prev.copy(props = prev.props ++ nextK.map { case (c, k) =>
        val key = identityProp(c)
        key -> math.max(k, prev.props.get(key).map(_.toLong).getOrElse(0L)).toString
      })
    })
    persistTable(ident)
  }

  /** `CALL graft.system.sync_identity(ns, table)` — re-seat every
    * identity watermark just past the column's current MAX progression
    * index (the Delta `ALTER TABLE ... SYNC IDENTITY` move): after
    * BY-DEFAULT explicit inserts landed values above the generator,
    * future generated values would collide — sync scans the column
    * (driver-side fold over segments; on a cluster, one agg job) and
    * advances. Never moves the watermark BACKWARD (ids are never
    * reused, even after deletes). Returns (col → next k) applied.
    */
  private[sources] def syncIdentity(ident: Identifier): Map[String, Long] = mutate {
    ensureLoaded()
    val entry = store.get(ident)
    if (entry == null) throw new NoSuchTableException(ident)
    val specs = entry.schema.fields.zipWithIndex.flatMap { case (f, i) =>
      org.apache.spark.sql.catalyst.util.IdentityColumn.getIdentityInfo(f)
        .map(s => (f.name, i, f.dataType == org.apache.spark.sql.types.LongType,
          s.getStart, s.getStep))
    }
    if (specs.isEmpty) Map.empty
    else {
      // ONE pass over the table folding every identity column at once
      // — a per-column pass would multiply the full-scan cost by the
      // number of identity columns.
      val maxK = Array.fill(specs.length)(-1L)
      entry.segments.foreach { seg =>
        SegmentIO.foreachRow(GraftSegFile.of(seg), entry.schema.length) { r =>
          var j = 0
          while (j < specs.length) {
            val (_, idx, isLong, start, step) = specs(j)
            if (!r.isNullAt(idx)) {
              val v = if (isLong) r.getLong(idx) else r.getInt(idx).toLong
              // Only values ON the progression map to an index; an
              // off-progression explicit value can't collide with any
              // generated one, so it doesn't move the watermark.
              val d = v - start
              if (step != 0 && d % step == 0 && d / step >= 0)
                maxK(j) = math.max(maxK(j), d / step)
            }
            j += 1
          }
        }
      }
      val updates = specs.zipWithIndex.collect {
        case ((name, _, _, _, _), j) if maxK(j) >= 0 => name -> (maxK(j) + 1)
      }.toMap
      if (updates.nonEmpty) advanceIdentity(ident, updates)
      updates
    }
  }

  /** Merge `TableInfo.columns()` identity specs into the schema's
    * field metadata (Spark's own keys) — `info.schema()` arrives
    * WITHOUT them.
    */
  private[sources] def withIdentityMeta(
      schema: StructType,
      cols: Array[org.apache.spark.sql.connector.catalog.Column]): StructType =
    if (!cols.exists(c =>
        c.identityColumnSpec() != null || c.generationExpression() != null)) schema
    else {
      import org.apache.spark.sql.catalyst.util.{GeneratedColumn, IdentityColumn}
      import org.apache.spark.sql.types.{IntegerType, LongType, MetadataBuilder}
      val byName = cols.map(c => c.name -> c).toMap
      StructType(schema.fields.map { f =>
        val col = byName.get(f.name)
        col.flatMap(c => Option(c.identityColumnSpec())) match {
          case Some(s) =>
            if (f.dataType != LongType && f.dataType != IntegerType)
              throw new UnsupportedOperationException(
                s"identity column ${f.name} must be BIGINT or INT, got ${f.dataType.sql}")
            f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
              .putLong(IdentityColumn.IDENTITY_INFO_START, s.getStart)
              .putLong(IdentityColumn.IDENTITY_INFO_STEP, s.getStep)
              .putBoolean(IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT,
                s.isAllowExplicitInsert)
              .build())
          case None =>
            col.flatMap(c => Option(c.generationExpression())) match {
              case Some(sql) =>
                f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
                  .putString(GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY, sql)
                  .build())
              case None => f
            }
        }
      })
    }

  /** GENERATED COLUMNS (`GENERATED ALWAYS AS (expr)`): Spark validated
    * the expression at CREATE (deterministic, non-generated refs,
    * type-compatible); the writer COMPUTES omitted (NULL) values. The
    * expression is resolved ONCE, driver-side at write-build time,
    * into a bound Catalyst tree (ordinals of the table layout) — the
    * serialized tree ships to tasks, which codegen it into the write
    * projection. Identity assignment runs first, so a generation
    * expression may reference an identity column.
    */
  private[sources] def generatedAssigns(
      schema: StructType): Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BoundReference}
    import org.apache.spark.sql.catalyst.util.GeneratedColumn
    if (!GeneratedColumn.hasGeneratedColumns(schema)) Nil
    else {
      val spark = org.apache.spark.sql.SparkSession.active
      // Metadata-free twin: the default-value/identity keys must not
      // confuse the analyzer pass below.
      val plain = StructType(schema.fields.map(x =>
        org.apache.spark.sql.types.StructField(x.name, x.dataType, x.nullable)))
      schema.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
        GeneratedColumn.getGenerationExpression(f).map { sql =>
          val df = spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](), plain)
          val analyzed = df.select(
            org.apache.spark.sql.functions.expr(sql).cast(f.dataType))
            .queryExecution.analyzed
          val ordinal = analyzed.children.head.output
            .map(_.exprId).zipWithIndex.toMap
          val bound = analyzed.expressions.head.transformUp {
            case a: AttributeReference =>
              BoundReference(ordinal(a.exprId), a.dataType, a.nullable)
          } match {
            case al: Alias => al.child
            case e => e
          }
          (i, bound)
        }
      }
    }
  }

  /** Column names referenced by stored generation expressions,
    * LOWER-CASED: the stored SQL text preserves the user's original
    * casing while Spark resolves case-insensitively, so the rename/
    * drop guards must compare case-insensitively too (compare against
    * `x.toLowerCase(Locale.ROOT)`) or `CAST(TS AS DATE)` would let
    * `ts` be renamed out from under it, bricking every future write.
    */
  private[sources] def generationRefs(schema: StructType): Set[String] = {
    import org.apache.spark.sql.catalyst.util.GeneratedColumn
    if (!GeneratedColumn.hasGeneratedColumns(schema)) Set.empty
    else schema.fields.toSeq.flatMap(f =>
      GeneratedColumn.getGenerationExpression(f).toSeq.flatMap { sql =>
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql)
          .collect {
            case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              a.nameParts.head.toLowerCase(java.util.Locale.ROOT)
          }
      }).toSet
  }

  /** Refuse renaming, retyping or dropping `cols` when a stored
    * constraint names one (`constraintMsg`) or, when `generationMsg` is
    * given, a generation expression does: both are resolved by NAME at
    * write time, so the edit would leave them dangling and brick every
    * future write. Constraints match by whole identifier in a CHECK's
    * predicate (any other constraint's DDL), case-insensitively as
    * Spark resolves: `CHECK (uid > 0)` leaves `id` free, `CHECK
    * (AMOUNT > 0)` pins `amount`.
    */
  private def refuseIfPinned(e: TableEntry, cols: Iterable[String],
      constraintMsg: String, generationMsg: Option[String] = None): Unit = {
    val lc = cols.iterator.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val sqlOf: org.apache.spark.sql.connector.catalog.constraints.Constraint => String = {
      case k: org.apache.spark.sql.connector.catalog.constraints.Check
          if k.predicateSql() != null => k.predicateSql()
      case c => c.toDDL
    }
    if (e.constraints.exists(c => DdlIdentifier.findAllMatchIn(sqlOf(c)).exists { m =>
        val id = Option(m.group(1)).map(_.replace("``", "`")).orElse(Option(m.group(2)))
        id.exists(i => lc(i.toLowerCase(java.util.Locale.ROOT)))
      }))
      throw new UnsupportedOperationException(constraintMsg)
    generationMsg.foreach { msg =>
      if (generationRefs(e.schema).exists(lc)) throw new UnsupportedOperationException(msg)
    }
  }

  /** One token of constraint SQL: a quoted string literal (no group), a
    * back-quoted identifier (group 1) or a bare one (group 2).
    */
  private val DdlIdentifier =
    """'(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*"|`((?:[^`]|``)+)`|([\p{L}_][\p{L}\p{N}_]*)""".r

  /** `'graft.write.order'='c1,c2'`: declared write ordering — every
    * batch INSERT range-partitions + sorts on these columns (see
    * `newWriteBuilder`).
    */
  private[sources] val WriteOrderProp = "graft.write.order"

  /** `'graft.autocompact.segments'='N'`: data commits leaving ≥ N
    * segments trigger an immediate follow-up compaction commit (see
    * `maybeAutoCompact`).
    */
  private[sources] val AutoCompactProp = "graft.autocompact.segments"

  /** Branch provenance, stamped by `createBranch` and read by
    * `publishBranch`: the table this entry branches
    * (`graft.branch.of` = "ns.table") and the source version it was
    * cut at (`graft.branch.base`). Reserved — forged provenance would
    * let a publish overwrite an unrelated table.
    */
  private[sources] val BranchOfProp = "graft.branch.of"
  private[sources] val BranchBaseProp = "graft.branch.base"

  /** COPY INTO ingestion registry: the comma-joined, sorted set of
    * source-file identity tokens (sha-256 of path|size|mtime, 16 hex
    * chars each) already loaded into this table. Kept in props so it
    * rides the ledger, DROP→TRASH→undrop, clone, and restore exactly
    * like the data it describes. O(files-ingested) metadata is
    * inherent to exactly-once file ingestion (Delta's COPY INTO keeps
    * the same registry in its txn log) — ~17 bytes per file means a
    * 100k-file ingest history costs ~1.7 MB of ledger, not data-path
    * memory.
    */
  private[sources] val CopyIntoProp = "graft.copyinto.loaded"
  /** Writer option that carries a copy_into batch's tokens so they
    * commit ATOMICALLY with its segments (see [[install]]).
    */
  private[sources] val CopyIntoTokensOption = "graft.copyinto.tokens"

  /** THE one parser of `'graft.write.order'`: the write path's sort,
    * compaction's fold, and the scan's reported ordering must agree on
    * the column list — a desynchronized copy would let the scan report
    * an order the writer didn't produce.
    */
  private[sources] def writeOrderCols(
      props: Map[String, String], schema: StructType): Seq[String] =
    props.get(WriteOrderProp)
      .map(_.split(',').map(_.trim).filter(schema.fieldNames.contains).toSeq)
      .getOrElse(Nil)

  /** Order-column types whose sortedness the engine can PROVE end to
    * end (compact's comparator handles them; the reported ordering is
    * only ever claimed over these). Other types still sort fine at
    * write time — they just never earn the provenance flag.
    */
  private[sources] def sortProvableType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType |
           DoubleType | FloatType | BooleanType | StringType => true
      case _ => false
    }
  }

  /** Compaction's sorted-fold order over the columns at `orderIdx`;
    * strings compare in UTF-8 binary order.
    */
  private[sources] def foldLt(schema: StructType, orderIdx: Array[Int])
      : (UnsafeRow, UnsafeRow) => Boolean = {
    import org.apache.spark.sql.types._
    def cmpAt(a: UnsafeRow, b: UnsafeRow, i: Int): Int = {
      val an = a.isNullAt(i); val bn = b.isNullAt(i)
      if (an && bn) 0
      else if (an) -1 // NULLS FIRST, matching the write path's sort
      else if (bn) 1
      else schema.fields(i).dataType match {
        case LongType => java.lang.Long.compare(a.getLong(i), b.getLong(i))
        case IntegerType => Integer.compare(a.getInt(i), b.getInt(i))
        case ShortType => java.lang.Short.compare(a.getShort(i), b.getShort(i))
        case ByteType => java.lang.Byte.compare(a.getByte(i), b.getByte(i))
        case DoubleType => java.lang.Double.compare(a.getDouble(i), b.getDouble(i))
        case FloatType => java.lang.Float.compare(a.getFloat(i), b.getFloat(i))
        case BooleanType => java.lang.Boolean.compare(a.getBoolean(i), b.getBoolean(i))
        case StringType => a.getUTF8String(i).binaryCompare(b.getUTF8String(i))
        case _ => 0
      }
    }
    (a, b) => {
      var i = 0
      var c = 0
      while (c == 0 && i < orderIdx.length) { c = cmpAt(a, b, orderIdx(i)); i += 1 }
      c < 0
    }
  }

  /** The one entry edit of every ALTER (and of [[patchTableProps]]):
    * `edit` runs inside `store.compute` on the live entry — so it
    * validates against exactly the state it replaces — and returns the
    * new entry, or None for a true no-op (nothing persisted). A change
    * is published as a `dataChange = false` snapshot when `snapshot`
    * (the rows are logically the same), otherwise persisted as catalog
    * metadata; `unsort` first clears the sorted-provenance flags (see
    * [[clearSortedFlags]]). A lost ledger CAS refuses (see
    * [[persistTable]]). Call under `mutate {}`; returns the entry as it
    * now stands.
    */
  private def editEntry(ident: Identifier, snapshot: Boolean, unsort: Boolean = false)(
      edit: TableEntry => Option[TableEntry]): TableEntry = {
    var changed = false
    val result = store.compute(ident, (_, prev) => {
      require(prev != null, s"table $ident dropped mid-alter")
      edit(prev).map { next => changed = true; next }.getOrElse(prev)
    })
    if (changed) {
      if (unsort) clearSortedFlags(ident)
      if (snapshot) publish(ident, dataChange = false) else persistTable(ident)
    }
    result
  }

  /** The re-projection shell of widen, DROP COLUMN, reorder and ADD
    * COLUMN. `plan` validates the change against the live entry and
    * returns the new schema with one expression per output column over
    * the old row layout, or None for a true no-op (nothing published).
    * The shell builds the projection once, streams every segment
    * through it into a fresh file ([[SegmentIO.reproject]]: key, spec
    * and seq inherited), swaps schema and segments and publishes one
    * `dataChange = false` snapshot through [[editEntry]]. Validation
    * lives only in `plan`, so no change can fail once segment I/O has
    * begun; a failure before the commit lands (an I/O error, a lost
    * ledger CAS) deletes every file written, then rethrows.
    *
    * NOTE: no `return` inside a plan — it runs in a closure under
    * `mutate {}`, where `return` compiles to a NonLocalReturnControl
    * THROWABLE; a careless catch would swallow it and delete the
    * freshly migrated segments. Plans yield values.
    */
  private def reprojectTable(ident: Identifier)(
      plan: TableEntry => Option[(StructType, Seq[Expression])]): TableEntry = {
    val written = scala.collection.mutable.ArrayBuffer[Segment]()
    try editEntry(ident, snapshot = true)(prev => plan(prev).map { case (schema, exprs) =>
      val proj = UnsafeProjection.create(exprs)
      prev.copy(schema = schema, segments = prev.segments.flatMap { seg =>
        val out = SegmentIO.reproject(seg, prev.dir, prev.schema.length, schema, proj)
        written ++= out
        out
      })
    })
    catch { case scala.util.control.NonFatal(e) =>
      written.foreach(SegmentIO.delete) // never published — GC immediately
      throw e
    }
  }

  /** Drop every sorted-provenance flag of a table — entry AND retained
    * history (pinned time-travel scans read old segment lists against
    * the LIVE write-order property, so stale flags there are just as
    * dangerous). Called when the declared order is changed or re-bound
    * by a rename; always safe (the scan degrades to planned sorts).
    */
  private[sources] def clearSortedFlags(ident: Identifier): Unit = mutate {
    store.computeIfPresent(ident, (_, e) =>
      if (e.segments.exists(_.sorted))
        e.copy(segments = e.segments.map(_.copy(sorted = false)))
      else e)
    ledgers.computeIfPresent(ident, (_, l) =>
      l.copy(history = l.history.map(s =>
        if (s.segments.exists(_.sorted))
          s.copy(segments = s.segments.map(_.copy(sorted = false)))
        else s)))
  }

  /** `'graft.tag.<name>'='<version>'`: a SNAPSHOT TAG (the Iceberg tag
    * shape on the property surface) — `VERSION AS OF '<name>'` resolves
    * through it, and `publish` exempts tagged snapshots from retention
    * expiry (time AND count), so a tagged version stays readable and
    * its segment files GC-protected until the tag is UNSET. Validated
    * at SET time against the retained history.
    */
  private[sources] val TagPropPrefix = "graft.tag."

  // ANN-index bookkeeping on the posting table (build_ann_index /
  // refresh_ann): the source table, the source snapshot version the
  // index covers (incremental watermark), and the train-time mean
  // assignment similarity (drift baseline).
  private[sources] val AnnSourceProp = "graft.ann.source"
  private[sources] val AnnWatermarkProp = "graft.ann.source_version"
  private[sources] val AnnBaseSimProp = "graft.ann.base_sim"
  // PQ-coded index: subspace count and per-subspace width (dim/m) —
  // recorded at build so refresh re-encodes and the serve path sizes
  // its ADC tables without touching raw embeddings.
  private[graft] val AnnPqMProp = "graft.ann.pq_m"
  private[graft] val AnnPqSubProp = "graft.ann.pq_sub"

  /** Validate a write-order property value against the table schema —
    * a typo'd column must fail at SET/CREATE time, not corrupt layout
    * expectations silently.
    */
  private def validateWriteOrder(schema: StructType, value: String): Unit = {
    val missing = value.split(',').map(_.trim).filter(_.nonEmpty)
      .filterNot(schema.fieldNames.contains)
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"$WriteOrderProp names columns not in the schema: ${missing.mkString(", ")}")
  }

  /** CREATE-time property validation, shared by the plain and STAGED
    * (CTAS/RTAS) create paths — a typo'd write-order column or a
    * non-numeric tag target must fail the statement on EITHER path,
    * not silently land and misbehave later.
    */
  private[sources] def validateUserProps(
      schema: StructType, props: Map[String, String]): Unit = {
    props.get(WriteOrderProp).foreach(validateWriteOrder(schema, _))
    // CREATE-time tags can only be malformed (no history exists yet to
    // validate against) — reject non-numeric targets here so a later
    // VERSION AS OF '<tag>' never trips over garbage.
    props.foreach { case (k, v) =>
      if (k.startsWith(TagPropPrefix) && !(v.nonEmpty && v.forall(_.isDigit)))
        throw new IllegalArgumentException(
          s"tag '$k' must name a numeric snapshot version, got '$v'")
    }
    // Retention overrides: parse-validate now so a malformed window
    // fails the CREATE/CTAS, not the table's first publish.
    retentionNanosOf(props)
    maxSnapshotsOf(props)
    ()
  }

  /** Engine-reserved / Spark-synthesized property keys that are NOT
    * user table properties: storing them would echo stale provider/
    * location metadata back through SHOW TBLPROPERTIES.
    */
  private val ReservedProps =
    Set("provider", "location", "owner", "external", "comment",
      "is_managed_location", BranchOfProp, BranchBaseProp, CopyIntoProp)
  private[sources] def userProps(m: util.Map[String, String]): Map[String, String] =
    m.asScala.filterNot { case (k, _) =>
      ReservedProps.contains(k) || k.startsWith("option.")
    }.toMap

  /** Live user properties of a table (empty map for unknown tables —
    * `properties()` is served off the loaded table which may outlive a
    * concurrent DROP; an empty map is the honest degraded answer).
    */
  /** Declared constraints of a live table (verify_constraints input). */
  private[graft] def constraintsOf(ident: Identifier)
      : Vector[org.apache.spark.sql.connector.catalog.constraints.Constraint] = {
    ensureLoaded()
    val e = store.get(ident)
    if (e == null) throw new NoSuchTableException(ident)
    e.constraints
  }

  private[graft] def tablePropsJava(ident: Identifier): util.Map[String, String] = {
    ensureLoaded()
    val e = store.get(ident)
    val m = new util.HashMap[String, String]()
    if (e != null) e.props.foreach { case (k, v) => m.put(k, v) }
    util.Collections.unmodifiableMap(m)
  }

  /** Internal metadata-only property patch (MV refresh bookkeeping):
    * merges `set`, drops `unset`, persists. No segment I/O, no new
    * snapshot — properties are catalog metadata, not table data.
    */
  private[sources] def patchTableProps(
      ident: Identifier, set: Map[String, String],
      unset: Set[String] = Set.empty): Unit = mutate {
    refreshIfStale(ident) // patch on top of other drivers' commits, not under them
    if (store.get(ident) == null) throw new NoSuchTableException(ident)
    editEntry(ident, snapshot = false)(prev => Some(prev.copy(props = prev.props -- unset ++ set)))
  }

  /** Test hook: force MV bookkeeping props into a known state. */
  private[graft] def patchTablePropsForTest(
      ns: String, table: String, set: Map[String, String]): Unit =
    patchTableProps(Identifier.of(Array(ns), table), set)

  /** Fast pre-gate for the MV rewrite rule: whether ANY table in the
    * metastore is a materialized view. False for the overwhelmingly
    * common MV-free session, letting the analyzer rule exit before any
    * per-plan work.
    */
  private[graft] def anyMvDefined: Boolean = {
    ensureLoaded()
    store.asScala.exists(_._2.props.contains(GraftMvOps.SourceProp))
  }

  /** Materialized views whose source (a join MV's fact) is
    * `sourceNs.sourceTbl`, fresh or stale — the transparent MV
    * rewrite's candidates, which it matches and judges per side.
    * Smallest MV first, identifier tiebreak, so plan choice is stable
    * across runs: when several MVs can serve a query, the fewest
    * pre-aggregated rows win.
    */
  private[graft] def mvsFor(
      sourceNs: String, sourceTbl: String): Seq[(Identifier, Map[String, String])] = {
    ensureLoaded()
    val src = s"$sourceNs.$sourceTbl"
    store.asScala.toSeq.collect {
      case (id, e) if e.props.get(GraftMvOps.SourceProp).contains(src) =>
        (id, e.props, e.segments.map(_.liveRows).sum)
    }.sortBy { case (id, _, rows) => (rows, id.toString) }
      .map { case (id, props, _) => (id, props) }
  }

  /** Whether a Table instance is a graft table reading a PINNED
    * snapshot (a `VERSION/TIMESTAMP AS OF` load or a segment-pinned
    * delta scan). The MV rewrite must decline such relations: a
    * versioned aggregate asks about HISTORY, and answering it from the
    * (current) MV would silently time-travel the answer forward.
    */
  private[graft] def isPinnedTable(t: org.apache.spark.sql.connector.catalog.Table): Boolean =
    t match {
      case g: GraftCatalogTable => g.isPinned
      case _ => false
    }

  /** One CONSISTENT view of an MV for the stale-delta rewrite: a
    * read-only table pinned to the entry's segment list plus the SAME
    * entry's properties. `TableEntry` is immutable and mutations swap
    * whole entries, so the pinned data and the recorded source version
    * cannot tear against each other — the race a live `loadTable` +
    * separate `properties()` read would reintroduce.
    */
  private[graft] def mvEntrySnapshot(
      ident: Identifier): Option[(Table, Map[String, String])] = {
    ensureLoaded()
    Option(store.get(ident)).map { e =>
      (new GraftCatalogTable(ident, e.schema, e.dir, pinned = Some(e.segments),
        partitionCols = e.partitionCols), e.props)
    }
  }

  /** Segments appended to `ns.tbl` STRICTLY AFTER version `fromV`,
    * provided every commit since is append-only — no segment removed,
    * no deletion vector changed, schema identical — and the snapshot
    * chain fromV..current is fully retained. None otherwise. Pure
    * metadata (the same snapshot diff the MV refresh and the change
    * stream use); at 100 TB this is a walk over segment LISTS, never
    * data.
    */
  private[graft] def appendOnlyDeltaSince(
      ns: String, tbl: String, fromV: Long): Option[Vector[Segment]] = {
    val ident = Identifier.of(Array(ns), tbl)
    val hist = retainedSnapshots(ident)
    val last = hist.lastOption.getOrElse(return None)
    val chain = hist.filter(_.version >= fromV)
    // Contiguity: every version fromV..current must be retained, or the
    // pairwise diffs below would silently skip a commit.
    if (chain.isEmpty || chain.head.version != fromV ||
        !chain.map(_.version).sameElements(fromV to last.version)) return None
    var prev = chain.head
    val delta = Vector.newBuilder[Segment]
    chain.tail.foreach { s =>
      if (s.schema != prev.schema) return None
      // An equality delete registered in range kills rows of segments
      // the structural walk calls untouched — not append-only.
      if (s.eqDeletes != prev.eqDeletes) return None
      val prevByPath = prev.segments.map(x => x.path -> x).toMap
      val curPaths = s.segments.map(_.path).toSet
      if ((prevByPath.keySet -- curPaths).nonEmpty) return None
      if (s.segments.exists(x => prevByPath.get(x.path).exists(_.dv != x.dv))) return None
      delta ++= s.segments.filterNot(x => prevByPath.contains(x.path))
      prev = s
    }
    Some(delta.result())
  }

  /** Read-only table over EXACTLY `segs` of an existing table — the
    * stale-delta rewrite's delta scan (zone maps, blooms, and column
    * pruning apply to it like any pinned time-travel scan). `eqs`
    * pins the equality deletes the scan subtracts (empty = raw rows;
    * the eq-aware stale path passes the current or v0 set so the
    * branch sees exactly the rows its algebra expects).
    */
  private[graft] def segmentPinnedTable(
      ident: Identifier, segs: Vector[Segment],
      eqs: Vector[EqDelete] = Vector.empty): Option[Table] = {
    ensureLoaded()
    Option(store.get(ident)).map(e =>
      new GraftCatalogTable(ident, e.schema, e.dir, pinned = Some(segs),
        partitionCols = e.partitionCols, pinnedEq = eqs))
  }

  /** Like [[appendOnlyDeltaSince]] but tolerant of EQUALITY-DELETE
    * drift — the MoR-upsert shape: segments may only be ADDED and
    * deletes may only be REGISTERED in range (a delete REMOVED in
    * range is admissible only when it no longer applies to any
    * CURRENT live segment — the GC case, semantically a no-op; a
    * RESTORE that resurrects rows fails this test and declines).
    * Returns (segments appended after `fromV`, deletes registered
    * after `fromV`). Pure metadata.
    */
  private[graft] def appendOnlyEqDeltaSince(
      ns: String, tbl: String, fromV: Long)
      : Option[(Vector[Segment], Vector[EqDelete])] = {
    val ident = Identifier.of(Array(ns), tbl)
    val hist = retainedSnapshots(ident)
    val last = hist.lastOption.getOrElse(return None)
    val chain = hist.filter(_.version >= fromV)
    if (chain.isEmpty || chain.head.version != fromV ||
        !chain.map(_.version).sameElements(fromV to last.version)) return None
    var prev = chain.head
    val delta = Vector.newBuilder[Segment]
    chain.tail.foreach { s =>
      if (s.schema != prev.schema) return None
      val prevByPath = prev.segments.map(x => x.path -> x).toMap
      val curPaths = s.segments.map(_.path).toSet
      if ((prevByPath.keySet -- curPaths).nonEmpty) return None
      if (s.segments.exists(x => prevByPath.get(x.path).exists(_.dv != x.dv))) return None
      val gone = prev.eqDeletes.filterNot(s.eqDeletes.contains)
      if (gone.exists(d => last.segments.exists(d.appliesTo))) return None
      delta ++= s.segments.filterNot(x => prevByPath.contains(x.path))
      prev = s
    }
    Some((delta.result(), last.eqDeletes.filterNot(chain.head.eqDeletes.contains)))
  }

  private val store = new ConcurrentHashMap[Identifier, TableEntry]()
  /** A table's ledger-side state in this process — one record per
    * table, beside its [[TableEntry]] in `store`:
    *   - `history`: the retained snapshots, oldest first;
    *   - `seq`: the ledger sequence backing this process's view, the
    *     cross-process optimistic-concurrency token. A commit CASes
    *     `seq + 1` into the table's numbered ledger directory; a lost
    *     CAS means another DRIVER PROCESS committed first. -1 = none;
    *   - `checkpoint`: the anchor CHECKPOINT sequence this process
    *     knows (its own checkpoint writes and the anchor each reload
    *     resolved from); -1 = none, so the next persist checkpoints.
    * A dropped table keeps only its `seq`: a recreate must CAS above
    * the tombstone. Written under `mutate {}` only — ledger state
    * arrives through [[adopt]] and leaves through [[forget]]; a lock
    * per table would live here.
    */
  private case class TableLedger(history: Vector[CatalogSnapshot], seq: Long, checkpoint: Long)
  private val NoLedger = TableLedger(Vector.empty, -1L, -1L)
  private val ledgers = new ConcurrentHashMap[Identifier, TableLedger]()
  private def ledgerOf(ident: Identifier): TableLedger = ledgers.getOrDefault(ident, NoLedger)
  private def historyOf(ident: Identifier): Vector[CatalogSnapshot] = ledgerOf(ident).history
  private def setHistory(ident: Identifier, h: Vector[CatalogSnapshot]): Unit =
    ledgers.put(ident, ledgerOf(ident).copy(history = h)): Unit
  private[sources] val views = new ConcurrentHashMap[Identifier, GraftView]()
  private[sources] def viewExists(ident: Identifier): Boolean = views.containsKey(ident)

  /** The session's Spark-facing name for this catalog class — the
    * shared resolution for procedures that re-enter through the
    * DataFrame API (`spark.table("<cat>.<ns>.<t>")`). One copy: a
    * future policy change (preferring the current catalog, handling
    * two registrations) must not have three divergent scans.
    */
  /** Live (dv-adjusted) row count from segment metadata — zero file
    * reads. Outstanding eq-deletes are NOT subtracted, which keeps an
    * append DELTA of this exact (appends never change prior segments,
    * and eq deletes only hit rows written before them).
    */
  private[sources] def liveRowCount(ident: Identifier): Long = {
    val e = store.get(ident)
    if (e == null) throw new NoSuchTableException(ident)
    e.segments.map(_.liveRows).sum
  }

  /** The copy_into ingestion registry — raw entry props, NOT
    * `userProps` (the registry is a reserved key hidden from SHOW
    * TBLPROPERTIES).
    */
  private[sources] def copyIntoLoaded(ident: Identifier): Set[String] = {
    val e = store.get(ident)
    if (e == null) throw new NoSuchTableException(ident)
    e.props.get(CopyIntoProp).map(_.split(',').filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
  }

  private[sources] def sessionCatalogName(
      spark: org.apache.spark.sql.SparkSession, proc: String): String =
    spark.conf.getAll.collectFirst {
      case (key, value) if key.startsWith("spark.sql.catalog.") &&
          !key.substring("spark.sql.catalog.".length).contains(".") &&
          value == classOf[GraftCatalog].getName =>
        key.substring("spark.sql.catalog.".length)
    }.getOrElse(throw new IllegalStateException(
      s"$proc: no graft catalog registered in this session"))

  /** Serializes all metastore MUTATIONS (create/drop/alter/rename/
    * commit). Mutation rates on a catalog are metadata-scale, so one
    * lock costs nothing and buys rename atomicity and a consistent
    * segment list ↔ ledger view; READS stay lock-free on the CHM.
    */
  private val mutationLock = new Object
  private[sources] def mutate[A](body: => A): A = mutationLock.synchronized(body)

  // Commit-protocol trace for cross-process debugging (enabled by
  // -Dgraft.debug.commits=1; off = zero overhead beyond one boolean).
  private val debugCommits = sys.props.get("graft.debug.commits").contains("1")
  private[sources] def dbg(msg: => String): Unit =
    if (debugCommits) System.err.println(s"[graft-commit] $msg")

  /** JVM-wide segment root (a cluster deployment points this at shared
    * storage; `local[*]` executors and driver share the local FS).
    *
    * Two modes: EPHEMERAL (no `root` catalog option — a temp dir, state
    * dies with the JVM, zero persistence overhead; every pre-existing
    * test and query runs here) and PERSISTENT (`spark.sql.catalog.<n>
    * .root=/path` — segment files live under the path and every
    * metastore mutation also writes the table's [[GraftLedger]]
    * document, so tables/history/epochs/views survive a restart). The
    * root is JVM-wide because the metastore maps are: the FIRST
    * configured root wins, matching the single-metastore model.
    */
  /** Monotonic stamp of the last warehouse-wide ledger sync (see
    * [[refreshAllIfStale]]'s debounce); Long.MinValue = never synced.
    */
  @volatile private var lastWarehouseSyncNanos = Long.MinValue
  /** Debounce for the retention-expiry GC path's warehouse sync: the
    * listing-reuse window is the GC's sync-to-delete race width, and
    * the safety argument needs it far below the 60 s retention floor.
    */
  private val GcRefreshDebounceNanos = java.util.concurrent.TimeUnit.SECONDS.toNanos(3)

  /** Force a full-document checkpoint every N sequences (bounds reader
    * replay to < N delta documents).
    */
  private val CheckpointEvery = 16

  private val rootRef = new java.util.concurrent.atomic.AtomicReference[Path](null)
  @volatile private var autoRoot = false // rootRef holds a self-created temp dir
  @volatile private var persistent = false
  /** Test observability: the bound warehouse root (tests forge foreign
    * ledger commits under it to exercise lost-CAS recovery paths).
    */
  private[graft] def warehouseRootForTest: Path = segmentRoot

  /** Test-only race window: invoked by [[persistTableCas]] just before
    * every ledger CAS (data commits through publish, DDL, drop, purge,
    * rename), so a spec can deterministically land a "foreign process"
    * commit inside the OCC window — the microsecond interleaving the
    * forked two-driver gauntlets cannot schedule on demand. No-op in
    * production.
    */
  @volatile private[graft] var occWindowHookForTest: Identifier => Unit = _ => ()

  private[sources] def segmentRoot: Path = {
    val cur = rootRef.get()
    if (cur != null) cur
    else {
      val t = Files.createTempDirectory("graft-catalog-")
      if (rootRef.compareAndSet(null, t)) { autoRoot = true; t }
      else { deleteRecursively(t); rootRef.get() }
    }
  }

  /** Install a durable catalog root (from the `root` catalog option).
    * An auto-created temp root upgrades in place (tables created before
    * the upgrade keep their temp-dir segment paths and stay ephemeral
    * until their next commit re-publishes them); a DIFFERENT configured
    * root is rejected loudly — two durable roots under one JVM-wide
    * metastore would silently cross-write.
    */
  private[sources] def requestRoot(p: Path): Unit = mutate {
    val norm = p.toAbsolutePath.normalize()
    Files.createDirectories(norm)
    if (rootRef.compareAndSet(null, norm)) { persistent = true }
    else if (autoRoot) { rootRef.set(norm); autoRoot = false; persistent = true }
    else if (rootRef.get() != norm)
      throw new IllegalStateException(
        s"graft catalog root already bound to ${rootRef.get()}; cannot rebind to $norm " +
          "(one durable root per JVM)")
    else persistent = true
  }

  /** One-time lazy load of the durable ledger into the in-memory maps.
    * Idempotent and cheap once armed; re-armed by
    * [[resetInMemoryStateForTest]] to simulate a JVM restart in-process.
    */
  private val ledgerLoaded = new java.util.concurrent.atomic.AtomicBoolean(false)
  private[sources] def ensureLoaded(): Unit =
    if (persistent && !ledgerLoaded.get()) mutate {
      if (!ledgerLoaded.get()) {
        val root = segmentRoot
        val mono = System.nanoTime()
        // Tombstone top-docs = dropped tables: nothing to load (the
        // sequence is re-learned lazily on first access/refresh).
        GraftLedger.readAllTableStates(GraftLedger.tablesDir(root), mono)
          .foreach(adoptIfUnknown)
        GraftLedger.readAll(GraftLedger.viewsDir(root)).foreach { json =>
          val v = GraftLedger.decodeView(json)
          views.putIfAbsent(v.ident, v)
        }
        // Trash generations reload with a REBASED retention clock (mono
        // bases differ across JVMs) — erring toward keeping UNDROP
        // alive after a restart, same policy as snapshot retention.
        GraftLedger.readAll(GraftLedger.droppedDir(root)).foreach { json =>
          val (ident, entry, hist, _) = GraftLedger.decodeTable(json, mono)
          trash.putIfAbsent(ident,
            DroppedEntry(entry, hist, mono, GraftLedger.droppedWallOf(json)))
        }
        ledgerLoaded.set(true)
      }
    }

  private def knownSeq(ident: Identifier): Long = ledgerOf(ident).seq

  /** Cross-process staleness check: if another process advanced the
    * table's ledger past what this process last read/wrote, adopt the
    * on-disk state (the multi-driver read path — Delta's "ls the log
    * on every access"). Call under `mutate {}`; no-op in ephemeral
    * mode (the JVM lock already serializes everything there).
    */
  private[sources] def refreshIfStale(ident: Identifier): Unit = {
    if (!persistent) return
    ensureLoaded()
    mutate { // reentrant from commit paths; read paths lock briefly
      val disk = GraftLedger.latestSeq(GraftLedger.tablesDir(segmentRoot), ident)
      if (disk > knownSeq(ident)) reloadFromDisk(ident)
    }
  }

  /** Warehouse-wide staleness sync for the FILE-GC paths: adopt every
    * table document on disk that this process has never seen (a table,
    * clone, or branch another driver created) or whose ledger moved
    * ahead. "Is this file referenced?" must be judged against the whole
    * warehouse — a zero-copy clone made by a different driver
    * legitimately references files in THIS table's directory, and a
    * GC decision taken on a stale table list would delete them. One
    * directory listing; documents are decoded only for stale/unknown
    * entries. Called ONLY on destructive paths (orphan cleanup, vacuum,
    * retention expiry with a non-empty candidate list) — never per
    * commit.
    *
    * `maxAgeNanos` > 0 reuses a sync newer than that instead of
    * re-listing — the retention-expiry hot path's debounce. The listing
    * is O(tables) directory listings, which a churn-heavy workload
    * (bench: every query expires something once the warehouse is a
    * minute old) otherwise pays on EVERY publish. Semantically the
    * sync-to-delete race window already exists — another driver can
    * commit a clone right after a fresh listing — so a bounded-age
    * listing only widens that window by the bound, far below the 60 s
    * retention floor that sizes it. Maintenance procedures (vacuum,
    * remove_orphans, purge) keep maxAge 0: always a fresh listing.
    */
  private[sources] def refreshAllIfStale(maxAgeNanos: Long = 0L): Unit = {
    if (!persistent) return
    ensureLoaded()
    // Sentinel first: `nanoTime - Long.MinValue` OVERFLOWS to a
    // negative value, which would read as "freshly synced" and skip
    // the clone-protection listing forever on a process that never
    // synced.
    if (maxAgeNanos > 0L && lastWarehouseSyncNanos != Long.MinValue &&
        System.nanoTime() - lastWarehouseSyncNanos < maxAgeNanos) return
    mutate {
      val dir = GraftLedger.tablesDir(segmentRoot)
      val knownByName: Map[String, Identifier] = ledgers.asScala.collect {
        case (id, l) if l.seq >= 0 => GraftLedger.fileNameOf(id) -> id
      }.toMap
      GraftLedger.listTables(dir).foreach { case (fname, seq) =>
        knownByName.get(fname) match {
          case Some(id) => if (seq > knownSeq(id)) reloadFromDisk(id)
          case None =>
            GraftLedger.readTableStateByName(dir, fname, System.nanoTime())
              .foreach(adoptIfUnknown)
        }
      }
      // Stamp AFTER the listing completes: a sync that threw mid-walk
      // must not be recorded as done, or the debounced retry would
      // skip the clone-protection listing it never finished.
      lastWarehouseSyncNanos = System.nanoTime()
    }
  }

  /** Replace this table's in-memory state with the latest on-disk
    * ledger document (or remove it if no document exists) — both the
    * cross-process refresh and the lost-CAS recovery path. Under
    * `mutate {}`.
    */
  private def reloadFromDisk(ident: Identifier): Unit = {
    assert(Thread.holdsLock(mutationLock))
    if (!persistent) return
    GraftLedger.readTableState(
        GraftLedger.tablesDir(segmentRoot), ident, System.nanoTime()) match {
      case Some(st) =>
        dbg(s"reload($ident) -> seq=${st.seq} " +
          (if (st.state.isEmpty) "tombstone" else s"(checkpoint ${st.checkpointSeq})"))
        adopt(ident, st)
      case None => forget(ident); ledgers.remove(ident): Unit
    }
  }

  /** Make a resolved ledger state this process's view of `ident`: a
    * live document installs its entry (streaming epochs included),
    * history, sequence and checkpoint anchor. A TOMBSTONE (a drop,
    * possibly by another process) leaves the table absent but keeps
    * its SEQUENCE — a recreate must CAS above the tombstone, never
    * restart at 0 (monotonicity is what lets every stale process
    * notice the drop). Under `mutate {}`.
    */
  private def adopt(ident: Identifier, st: GraftLedger.LedgerState): Unit = {
    assert(Thread.holdsLock(mutationLock))
    st.state match {
      case Some((_, entry, hist, _)) =>
        store.put(ident, entry)
        ledgers.put(ident, TableLedger(hist, st.seq, st.checkpointSeq)): Unit
      case None =>
        store.remove(ident)
        ledgers.put(ident, NoLedger.copy(seq = st.seq)): Unit
    }
  }

  /** The load paths' adopt: a live document for a table this process
    * holds no entry for (a live local view is never clobbered by a
    * re-list); tombstones are skipped — their sequence is re-learned
    * lazily on first access.
    */
  private def adoptIfUnknown(st: GraftLedger.LedgerState): Unit = st.state.foreach {
    case (id, _, _, _) => if (!store.containsKey(id)) adopt(id, st)
  }

  /** Take `ident`'s entry and history out of memory and return them
    * (entry null when absent). The record keeps the remembered ledger
    * sequence: a drop's tombstone, or a later recreate, must CAS above
    * it. Under `mutate {}`.
    */
  private def forget(ident: Identifier): (TableEntry, Vector[CatalogSnapshot]) = {
    assert(Thread.holdsLock(mutationLock))
    val hist = historyOf(ident)
    if (hist.nonEmpty) setHistory(ident, Vector.empty)
    (store.remove(ident), hist)
  }

  /** CAS-write (or delete) the table's ledger document; false = another
    * process committed the same sequence first (in-memory state still
    * holds OUR uncommitted view — the caller must reload or merge).
    * Call under `mutate {}` after the in-memory swap; always true in
    * ephemeral mode.
    *
    * `delta`: the commit's history change (the history it applies to,
    * snapshots added, versions expired) when the caller KNOWS the
    * change is append+expire-shaped — publish's retention pass is, by
    * construction. With it the
    * ledger write is a small DELTA document (O(current segments), not
    * O(retained history)); a CHECKPOINT (full document) is still forced
    * every [[CheckpointEvery]] sequences, when no anchor checkpoint is
    * known for the table (first persist, post-tombstone recreate,
    * post-restart before any reload), and for every history-rewriting
    * path that passes None (rename, undrop, vacuum — they re-shape
    * history non-monotonically). The Delta-log/Iceberg shape: commit
    * metadata I/O tracks the COMMIT, a periodic checkpoint bounds
    * reader replay.
    */
  private def persistTableCas(
      ident: Identifier,
      delta: Option[(Vector[CatalogSnapshot], Vector[CatalogSnapshot], Seq[Long])] = None)
      : Boolean = {
    assert(Thread.holdsLock(mutationLock))
    if (!persistent) return true
    occWindowHookForTest(ident)
    val dir = GraftLedger.tablesDir(segmentRoot)
    val entry = store.get(ident)
    val led = ledgerOf(ident)
    val next = led.seq + 1
    if (entry == null) {
      // DROP is a tombstone COMMIT at the next sequence, CAS-protected
      // like any other: sequences stay monotonic across drop/recreate/
      // undrop (a directory removal would reset to 0 and let any stale
      // process shadow the next incarnation), and a DROP racing a
      // concurrent commit now loses the CAS and refuses instead of
      // erasing it. The trash/undrop machinery keeps the data.
      val won = GraftLedger.casWrite(dir, ident, GraftLedger.Tombstone, next)
      if (won) {
        dbg(s"persist($ident) tombstone seq=$next")
        // Deltas never ride on a tombstone: the next incarnation's
        // first persist must be a checkpoint.
        ledgers.put(ident, led.copy(seq = next, checkpoint = -1L))
      }
      won
    } else {
      val asDelta = delta.filter(_ =>
        led.checkpoint >= 0 && next - led.checkpoint < CheckpointEvery)
      val won = asDelta match {
        case Some((base, added, expired)) =>
          GraftLedger.casWrite(dir, ident,
            GraftLedger.encodeTableDelta(ident, entry, base, added, expired),
            next, minKeepSeq = led.checkpoint)
        case None =>
          // CHECKPOINT-time epoch expiry: drop streaming-query entries
          // idle past the EPOCH retention window (its own knob with a
          // 24 h floor — see [[EpochRetentionProp]]; tying it to the
          // 60 s file-retention default would strip exactly-once from
          // any stream triggering less often than a checkpoint lands) —
          // a long-lived table fed by many distinct queries must not
          // carry every retired query id forever. Live queries refresh
          // their stamp on every epoch commit; the idle-past-retention
          // replay contract is documented on [[TableEntry]]`.epochs`.
          val nowMs = System.currentTimeMillis()
          val retMs = epochRetentionMsOf(entry.props)
          val live = entry.epochs.filter { case (_, (_, t)) => nowMs - t <= retMs }
          val pruned =
            if (live.size == entry.epochs.size) entry
            else { val e = entry.copy(epochs = live); store.put(ident, e); e }
          GraftLedger.casWrite(dir, ident,
            GraftLedger.encodeTable(ident, pruned, led.history, pruned.epochs), next)
      }
      if (won) {
        dbg(s"persist($ident) seq=$next v=${headVersion(ident)} segs=${entry.segments.length}" +
          (if (asDelta.isDefined) " delta" else " checkpoint"))
        ledgers.put(ident,
          led.copy(seq = next, checkpoint = if (asDelta.isEmpty) next else led.checkpoint))
      }
      won
    }
  }

  /** Write (or delete) the table's ledger document, REFUSING on a lost
    * cross-process CAS: the other driver's state is adopted and the
    * statement fails loudly for the user to retry (its in-memory
    * mutation is discarded — nothing of the loser's intent lands, so
    * nothing is half-applied). Data commits that can re-apply their
    * intent go through `commitSegments`' merge loop instead. Call
    * under `mutate {}` after the in-memory swap; no-op in ephemeral
    * mode.
    */
  private[sources] def persistTable(ident: Identifier): Unit =
    if (!persistTableCas(ident)) {
      reloadFromDisk(ident)
      throw new java.util.ConcurrentModificationException(
        s"$ident: another process committed to this table's ledger while this " +
          "statement ran — its commit was kept, this one was NOT applied; retry " +
          "the statement")
    }

  private[sources] def persistView(ident: Identifier): Unit = {
    if (!persistent) return
    val dir = GraftLedger.viewsDir(segmentRoot)
    val v = views.get(ident)
    if (v == null) GraftLedger.delete(dir, ident)
    else GraftLedger.write(dir, ident, GraftLedger.encodeView(v))
  }

  /** Test hook: drop the given identifiers from the IN-MEMORY metastore
    * without touching disk and re-arm the ledger load — the closest an
    * in-process test can get to killing and restarting the JVM for
    * those tables. Targeted (not a global wipe) because suites share
    * the JVM-wide metastore and may run concurrently.
    */
  private[graft] def resetInMemoryStateForTest(idents: Identifier*): Unit = mutate {
    idents.foreach { ident =>
      forget(ident)
      ledgers.remove(ident)
      views.remove(ident)
      trash.remove(ident)
    }
    ledgerLoaded.set(false)
    lastWarehouseSyncNanos = Long.MinValue // a "restarted" process has no sync
  }

  private[sources] def deleteRecursively(p: Path): Unit = {
    try {
      if (Files.isDirectory(p)) {
        val children = Files.list(p)
        try children.iterator().asScala.foreach(deleteRecursively)
        finally children.close()
      }
      Files.deleteIfExists(p)
    } catch { case _: java.io.IOException => () } // best-effort GC
  }

  /** Committed LIVE row count of a catalog table (test observability;
    * deletion-vector rows are already subtracted).
    */
  def rowCount(ns: String, table: String): Long =
    Option(store.get(Identifier.of(Array(ns), table)))
      .map(_.segments.map(_.liveRows).sum).getOrElse(0L)

  /** Outstanding equality deletes (test observability for the
    * merge-on-read upsert path: present after an upsert, GC'd once a
    * rewrite has materialized them).
    */
  private[graft] def eqDeleteCount(ns: String, table: String): Int =
    Option(store.get(Identifier.of(Array(ns), table)))
      .map(_.eqDeletes.length).getOrElse(0)

  /** Rows deleted by deletion vectors but still physically present
    * (test observability for the merge-on-read path).
    */
  private[graft] def dvDeletedRows(ns: String, table: String): Long =
    Option(store.get(Identifier.of(Array(ns), table)))
      .map(_.segments.map(_.deletedRows).sum).getOrElse(0L)

  /** Test observability: current segment file paths of a table. */
  private[graft] def segmentPaths(ns: String, table: String): Seq[String] =
    Option(store.get(Identifier.of(Array(ns), table)))
      .map(_.segments.map(_.path)).getOrElse(Nil)

  /** Committed segment count (test observability for split planning). */
  def segmentCount(ns: String, table: String): Int =
    Option(store.get(Identifier.of(Array(ns), table)))
      .map(_.segments.length).getOrElse(0)

  /** Segment FILES physically present in the table's directory (test
    * observability: committed + retired-but-retained + leaked).
    */
  private[graft] def segmentFilesOnDisk(ns: String, table: String): Int =
    Option(store.get(Identifier.of(Array(ns), table))).map { e =>
      val d = Paths.get(e.dir)
      if (!Files.isDirectory(d)) 0
      else {
        val s = Files.list(d)
        try s.iterator().asScala.size finally s.close()
      }
    }.getOrElse(0)

  /** One retained commit of a table: the snapshot a `VERSION AS OF v` /
    * `TIMESTAMP AS OF t` read pins to. `wallMs` resolves timestamp
    * queries; `mono` (nanoTime) drives retention expiry — wall clocks
    * can step, monotonic ones can't.
    */
  private[graft] case class CatalogSnapshot(
      version: Long, wallMs: Long, mono: Long,
      schema: StructType, segments: Vector[Segment],
      // Snapshotted ALONGSIDE schema/segments so RESTORE/CLONE re-pair
      // them: a rename rewrites partitionCols to the new name, and a
      // restore to a pre-rename version that kept CURRENT partitionCols
      // would reference columns absent from the restored schema —
      // bricking every subsequent load/write of the table.
      partitionCols: Seq[String] = Nil,
      constraints: Vector[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
        Vector.empty,
      // CDC provenance for copy-on-write UPDATE commits: added segment
      // path → the removed segment it REWROTE (recorded by the
      // row-level commit when the task↔segment correspondence is
      // provable). Lets the change feed emit paired
      // update_preimage/update_postimage rows instead of opaque
      // delete+insert — the Delta CDF `table_changes` update shape.
      rewrites: Map[String, String] = Map.empty,
      // False for commits that rearrange FILES but change no logical
      // row — compaction, Z-order, spec evolution (the Delta
      // `dataChange=false` flag): append streams ride through them
      // silently (re-emitting folded segments would duplicate rows;
      // failing would make auto-compaction stream-hostile) and the
      // CDC feed emits nothing for them.
      dataChange: Boolean = true,
      // Outstanding equality deletes AT this snapshot — time-travel
      // reads apply exactly the filters that were live then.
      eqDeletes: Vector[EqDelete] = Vector.empty)

  /** Snapshot retention IS the file-GC policy: a segment file is deleted
    * only when NO retained snapshot (current included) references it.
    * That serves both masters with one mechanism — a concurrently
    * executing scan planned against a just-replaced segment list keeps
    * its files (the snapshot it planned against is still retained), and
    * `VERSION AS OF` stays readable for the retention window after the
    * version is superseded — the Delta/Iceberg retain-until-vacuum
    * shape. Retention is time-bounded (`RetentionNanos`) with a
    * hard count cap (`MaxSnapshots`) so a rapid commit stream can't
    * grow metadata without bound; expiry runs at publish time, under
    * `mutationLock`.
    */
  private val RetentionNanos = java.util.concurrent.TimeUnit.SECONDS.toNanos(
    sys.props.getOrElse("graft.catalog.retention.seconds", "60").toLong)
  private val MaxSnapshots =
    sys.props.getOrElse("graft.catalog.retention.snapshots", "64").toInt

  /** PER-TABLE retention overrides (`'graft.retention.seconds'` /
    * `'graft.retention.snapshots'` TBLPROPERTIES — the Delta
    * logRetentionDuration / Iceberg history.expire.* shape): a hot
    * CDC-source table can pin a long window for slow stream consumers
    * while a churn-heavy staging table keeps metadata tight, without
    * either re-tuning the catalog-wide JVM default. Read at every
    * publish (expiry runs there), validated BOTH at SET TBLPROPERTIES
    * and at use — a malformed value fails the statement loudly rather
    * than silently falling back while the operator believes the
    * window changed. Tagged snapshots remain exempt from both axes.
    */
  private[sources] val RetentionSecondsProp = "graft.retention.seconds"
  private[sources] val RetentionSnapshotsProp = "graft.retention.snapshots"
  /** Streaming exactly-once EPOCH retention (the Delta
    * setTransactionRetentionDuration shape): how long an idle
    * (table, streaming-query) epoch entry keeps its replay-dedup
    * protection before checkpoint writes drop it. DELIBERATELY
    * independent of the file-retention window with a generous floor:
    * file retention defaults to 60 s, and coupling epoch dedup to it
    * would strip exactly-once from any stream with a trigger gap over
    * a minute — an ordinary low-frequency pipeline, not a
    * misconfiguration. Default: max(file retention, 24 h).
    */
  private[sources] val EpochRetentionProp = "graft.epochs.retention.seconds"

  private[sources] def epochRetentionMsOf(props: Map[String, String]): Long =
    props.get(EpochRetentionProp).map { v =>
      val n =
        try v.toLong
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$EpochRetentionProp must be an integer >= 0, got '$v'")
        }
      require(n >= 0, s"$EpochRetentionProp must be >= 0, got $n")
      // Saturating seconds→ms (TimeUnit saturates at Long.MaxValue): an
      // absurdly large retention must mean "keep forever", never
      // overflow to a NEGATIVE window that would expire every epoch —
      // including actively committing streams' — at the next
      // checkpoint, silently disabling exactly-once replay dedup.
      java.util.concurrent.TimeUnit.SECONDS.toMillis(n)
    }.getOrElse(
      math.max(retentionNanosOf(props) / 1000000L, 24L * 3600L * 1000L))

  private[sources] def retentionNanosOf(props: Map[String, String]): Long =
    props.get(RetentionSecondsProp).map { v =>
      val n =
        try v.toLong
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$RetentionSecondsProp must be an integer >= 0, got '$v'")
        }
      require(n >= 0, s"$RetentionSecondsProp must be >= 0, got $n")
      java.util.concurrent.TimeUnit.SECONDS.toNanos(n)
    }.getOrElse(RetentionNanos)

  private[sources] def maxSnapshotsOf(props: Map[String, String]): Int =
    props.get(RetentionSnapshotsProp).map { v =>
      val n =
        try v.toInt
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$RetentionSnapshotsProp must be an integer >= 1, got '$v'")
        }
      require(n >= 1, s"$RetentionSnapshotsProp must be >= 1, got $n")
      n
    }.getOrElse(MaxSnapshots)

  /** Publish the table's CURRENT state as its next numbered snapshot,
    * expire retention-aged snapshots, and delete segment files no
    * retained snapshot references. Call under `mutate {}` after the
    * metastore swap.
    *
    * `firstVersion`: the number the FIRST snapshot takes when the
    * table has no history yet (0 for created tables; the SOURCE
    * version for clones/branches — their inherited segment seqs and
    * eq-delete seqs are valued in the source's version domain, and a
    * history restarting at 0 would let the new table's commits stamp
    * seqs BELOW inherited ones: an insert into the clone could be
    * swallowed by an inherited equality delete, or an upsert fail to
    * shadow inherited rows).
    *
    * Returns true when the commit landed; false ONLY when
    * `casRetryable` is set and the cross-process ledger CAS was lost
    * (in-memory state has been reloaded to the winner's — the caller
    * re-applies its intent and retries). With `casRetryable = false`
    * a lost CAS reloads and throws (see [[persistTable]]).
    */
  private def publish(
      ident: Identifier, rewrites: Map[String, String] = Map.empty,
      dataChange: Boolean = true, firstVersion: Long = 0L,
      casRetryable: Boolean = false): Boolean = {
    assert(Thread.holdsLock(mutationLock))
    expireTrash() // drop-trash retention rides the same publish cadence
    val entry0 = store.get(ident)
    if (entry0 == null) return true
    // Equality-delete GC: once every live segment's seq is >= the
    // delete's, no row it could hit remains — drop it from the LIVE
    // entry (retained snapshots keep their own copies for time travel).
    val entry1 =
      if (entry0.eqDeletes.isEmpty) entry0
      else {
        val live = entry0.eqDeletes.filter(eq => entry0.segments.exists(eq.appliesTo))
        if (live.length == entry0.eqDeletes.length) entry0
        else { val e = entry0.copy(eqDeletes = live); store.put(ident, e); e }
      }
    val now = System.nanoTime()
    val hist = historyOf(ident)
    val version = hist.lastOption.map(_.version + 1).getOrElse(firstVersion)
    // ROW-LINEAGE assignment (see Segment.lineage): every segment this
    // snapshot publishes without id runs gets them HERE — the one
    // point every commit path flows through. A 1:1 rewrite (recorded
    // in `rewrites`, cardinality preserved, source undeleted) INHERITS
    // the source's id runs with lastUpdatedSeq re-stamped to this
    // version (the rows were just rewritten); everything else
    // allocates fresh ids from the table's monotonic counter.
    val entry = {
      val needs = entry1.segments.exists(s => s.lineage.isEmpty && s.rows > 0)
      if (!needs) entry1
      else {
        val srcByPath: Map[String, Segment] =
          hist.lastOption.map(_.segments.map(s => s.path -> s).toMap)
            .getOrElse(Map.empty)
        // Counter self-heal: a ledger hand-edit (or any bug) leaving
        // assigned runs above the counter must never double-allocate.
        var next = math.max(entry1.nextRowId,
          entry1.segments.iterator.flatMap(_.lineage.iterator)
            .map { case (first, count, _) => first + count }
            .foldLeft(0L)(math.max))
        val segs = entry1.segments.map { s =>
          if (s.lineage.nonEmpty || s.rows == 0) s
          else {
            val inherited = rewrites.get(s.path).flatMap(srcByPath.get)
              .filter(src => src.rows == s.rows && src.dv.isEmpty &&
                src.lineage.nonEmpty)
              .map(_.lineage.map { case (first, count, _) => (first, count, version) })
            inherited match {
              case Some(runs) => s.copy(lineage = runs)
              case None =>
                val fresh = Vector((next, s.rows, version))
                next += s.rows
                s.copy(lineage = fresh)
            }
          }
        }
        val e = entry1.copy(segments = segs, nextRowId = next)
        store.put(ident, e)
        e
      }
    }
    val snap = CatalogSnapshot(
      version,
      System.currentTimeMillis(), now, entry.schema, entry.segments,
      entry.partitionCols, entry.constraints, rewrites, dataChange,
      entry.eqDeletes)
    val all = hist :+ snap
    val cutoff = now - retentionNanosOf(entry.props)
    // Tagged snapshots are exempt from BOTH expiry axes (age and the
    // count cap): a tag is an explicit promise the version stays
    // readable — the cap still bounds the UNTAGGED churn.
    val taggedVersions: Set[Long] = entry.props.collect {
      case (k, v) if k.startsWith(TagPropPrefix) && v.forall(_.isDigit) => v.toLong
    }.toSet
    val (taggedSnaps, untagged) = all.partition(s => taggedVersions.contains(s.version))
    val keptUntagged = untagged.drop((untagged.length - maxSnapshotsOf(entry.props)).max(0))
      .dropWhile(s => s.mono < cutoff && s != all.last)
    val retained = (taggedSnaps ++ keptUntagged).sortBy(_.version)
    setHistory(ident, retained)
    // Publish's history change is append+expire-shaped by construction
    // (snapshots common to hist and retained are the same objects), so
    // the ledger write can be a DELTA document over `hist`: the new
    // snapshot + the versions this retention pass expired.
    val retainedVs = retained.map(_.version).toSet
    val deltaSpec = (hist, retained.filter(_.version == version),
      hist.map(_.version).filterNot(retainedVs.contains))
    // CAS the ledger BEFORE deleting any file: a lost CAS means another
    // PROCESS committed first and its snapshots — planned against
    // segment lists this process never saw — may reference exactly the
    // files this publish was about to expire. Durable-mode write is a
    // put-if-absent of the next numbered document; ephemeral mode is
    // always "won" (the JVM lock serializes everything).
    if (!persistTableCas(ident, Some(deltaSpec))) {
      dbg(s"publish($ident) CAS LOST at seq ${knownSeq(ident) + 1}")
      reloadFromDisk(ident) // adopt the winner; our snapshot never happened
      if (casRetryable) return false
      throw new java.util.ConcurrentModificationException(
        s"$ident: another process committed to this table's ledger while this " +
          "statement ran — its commit was kept, this one was NOT applied; retry " +
          "the statement")
    }
    val live = retained.flatMap(_.segments.map(_.path)).toSet ++
      entry.segments.map(_.path)
    // Hand EVERY expired snapshot's files to GC, not just the prefix
    // before the first retained one: with an old TAGGED snapshot
    // pinned at the head, count-capped untagged snapshots expire from
    // the MIDDLE of the list — a prefix scan would drop them from
    // history without ever GC'ing their exclusive files, and nothing
    // later reconsiders them.
    val retainedSet = retained.map(_.version).toSet
    val gcCandidates = all.filterNot(s => retainedSet.contains(s.version))
      .flatMap(_.segments).distinctBy(_.path)
      .filterNot(s => live.contains(s.path))
    if (gcCandidates.nonEmpty) {
      // About to delete files: the reference check must see tables
      // (clones, branches) other DRIVERS created — one warehouse
      // listing, paid only by commits that actually expire files, and
      // DEBOUNCED on this hot path (see refreshAllIfStale's doc: the
      // listing-to-delete race window exists regardless; a few seconds
      // of listing reuse against the 60 s retention floor doesn't
      // change its shape, and explicit maintenance procedures still
      // sync unconditionally).
      refreshAllIfStale(GcRefreshDebounceNanos)
      gcDeleteAll(ident, gcCandidates)
    }
    true
  }

  /** Every segment path referenced by any live table, retained history,
    * or trash generation — EXCEPT references recorded under an
    * identifier in `excluded` (the table(s) whose files are being
    * GC-judged; their own references never spare their own files) —
    * the shallow-CLONE GC guard: a clone shares the source's segment
    * files (zero-copy), so every published-file delete must first prove
    * no other table still serves reads from it. Built ONCE per GC batch
    * and probed per candidate: the per-candidate warehouse rescan this
    * replaces was O(candidates × warehouse segments) and the round-14
    * DDL-path regression (x5d 0.65 s → 3.7 s once the bench warehouse
    * accumulated tables). On a real cluster this is the metastore's
    * reference count, maintained incrementally instead of swept.
    */
  private def referencedPathsExcept(excluded: Set[Identifier]): java.util.HashSet[String] = {
    val refs = new java.util.HashSet[String]()
    store.asScala.foreach { case (id, e) =>
      if (!excluded.contains(id)) e.segments.foreach(s => refs.add(s.path))
    }
    ledgers.asScala.foreach { case (id, l) =>
      if (!excluded.contains(id)) l.history.foreach(_.segments.foreach(s => refs.add(s.path)))
    }
    trash.asScala.foreach { case (id, d) =>
      // Soft-dropped tables are UNDROP-able until retention purges
      // them — their references are as real as a live table's.
      if (!excluded.contains(id)) {
        d.entry.segments.foreach(s => refs.add(s.path))
        d.hist.foreach(_.segments.foreach(s => refs.add(s.path)))
      }
    }
    refs
  }

  /** GC `self`'s candidate segment files in one pass, sparing files a
    * clone (or clone source) still references.
    */
  private def gcDeleteAll(self: Identifier, segs: Seq[Segment]): Unit =
    if (segs.nonEmpty) {
      val refs = referencedPathsExcept(Set(self))
      segs.foreach(s => if (!refs.contains(s.path)) SegmentIO.delete(s))
    }

  /** RESTORE (`CALL graft.system.restore`): make the table's CURRENT
    * state the given retained snapshot's schema + segment list, as a
    * NEW commit — the Delta RESTORE shape: history moves forward (the
    * restore itself is a change commit, streams see it), nothing is
    * rewritten (the snapshot's files are still on disk, retention has
    * been protecting them). The undo button for a bad DML/overwrite.
    */
  private[sources] def restoreTable(ident: Identifier, version: Long): (Long, Int) = mutate {
    val entry = store.get(ident)
    if (entry == null) throw new NoSuchTableException(ident)
    val snap = snapshotByVersion(ident, version).getOrElse(
      throw new IllegalArgumentException(
        s"restore $ident: version $version is expired or never committed"))
    // A restore that UNDOES recorded rewrites is itself a rewrite in
    // reverse: if the chain restoredV→current rewrote S into S', this
    // commit replaces S' with S — record S → S' (re-added → the
    // segment it supersedes), so the change feed emits the undo as
    // paired reverse update_preimage/update_postimage rows instead of
    // a full delete+insert of both files. Same guards as any pairing
    // (cardinality, dv) decide per segment at read time.
    val curByPath = entry.segments.map(s => s.path -> s).toMap
    val curV = historyOf(ident)
      .lastOption.map(_.version).getOrElse(version)
    val reverseRewrites: Map[String, String] =
      GraftChangeScan.composedRewrites(ident, version, curV).collect {
        case (cur, orig) if curByPath.contains(cur) &&
            snap.segments.exists(_.path == orig) => orig -> cur
      }
    store.put(ident, entry.copy(schema = snap.schema, segments = snap.segments,
      partitionCols = snap.partitionCols, constraints = snap.constraints,
      eqDeletes = snap.eqDeletes))
    publish(ident, reverseRewrites)
    reseatIdentityAfterSchemaSwap(ident)
    (version, snap.segments.length)
  }

  /** After installing a SNAPSHOT's schema (restore/clone), identity
    * watermark props can be keyed under names the snapshot doesn't use
    * — a RENAME COLUMN between the snapshot and now migrated the
    * `graft.identity.<col>.next` key to the new name, and the restored
    * schema carries the old one. Any identity column of the installed
    * schema with NO watermark prop is re-seated from the DATA
    * (syncIdentity — never moves backward), so generation cannot
    * restart at k=0 and collide with the restored rows' ids.
    */
  private def reseatIdentityAfterSchemaSwap(ident: Identifier): Unit = {
    val entry = store.get(ident)
    if (entry != null) {
      val orphaned = entry.schema.fields.exists(f =>
        org.apache.spark.sql.catalyst.util.IdentityColumn.getIdentityInfo(f).isDefined &&
          !entry.props.contains(identityProp(f.name)))
      if (orphaned) syncIdentity(ident)
    }
  }

  /** PARTITION-SPEC EVOLUTION (`CALL graft.system.set_partitioning`):
    * change the table's identity-partition columns as a METADATA-ONLY
    * commit — the Iceberg `ALTER TABLE … ADD/DROP PARTITION FIELD`
    * shape. No byte is rewritten: existing segments keep the spec
    * (and key) they were written under, NEW writes route by the new
    * spec, and scans of the mixed-era table degrade from keyed splits
    * to per-segment splits (zone maps still prune on the new column —
    * see `uniformSpec`). `CALL graft.system.compact` migrates old-era
    * groups into the new spec, after which keyed layout (SPJ,
    * metadata group-bys, partition overwrite) re-engages.
    */
  private[sources] def setPartitioning(
      ident: Identifier, cols: Seq[String]): (Long, Seq[String]) = mutate {
    val entry = store.get(ident)
    if (entry == null) throw new NoSuchTableException(ident)
    // Fields parse through the same canonical grammar as PARTITIONED BY
    // — `set_partitioning(ns, t, 'days(ts),bucket(16,k)')` evolves to a
    // hidden-partition spec exactly like CREATE would declare it.
    val canonical = cols.map(c => PartField.validate(PartField.parse(c), entry.schema))
    val old = entry.partitionCols
    store.put(ident, entry.copy(partitionCols = canonical))
    publish(ident, dataChange = false) // metadata-only: no logical row changed
    (headVersion(ident), old)
  }

  /** Zero-copy CLONE (`CALL graft.system.clone`): create `dst` whose
    * initial state IS `src`'s state at `version` (default current) —
    * metadata only, the segment FILES are shared, no byte is copied
    * (the Delta shallow-clone shape: branch a 100 TB table in
    * milliseconds for an experiment). From then on the tables evolve
    * independently: writes land in the clone's own dir, and every GC
    * path consults [[referencedByOther]] so neither table's retention,
    * vacuum, or DROP can delete a shared file the other still reads.
    * Tags are NOT carried over — they pin versions of the SOURCE's
    * history, which the clone does not have.
    */
  private[sources] def cloneTable(
      src: Identifier, dst: Identifier, version: Option[Long],
      // true only for createBranch, the one legitimate '@' mint.
      allowBranchName: Boolean = false): (Long, Int) = mutate {
    val e = store.get(src)
    if (e == null) throw new NoSuchTableException(src)
    if (!allowBranchName) requireNotBranchName(dst)
    if (store.containsKey(dst))
      throw new TableAlreadyExistsException(dst.toString, dst.name())
    val snap = version match {
      case Some(v) => snapshotByVersion(src, v).getOrElse(
        throw new IllegalArgumentException(
          s"clone $src: version $v is expired or never committed"))
      case None => historyOf(src).lastOption.getOrElse(
        throw new IllegalArgumentException(s"clone $src: no committed snapshots"))
    }
    val dir = Files.createTempDirectory(segmentRoot, "tbl-").toString
    // Tags pin versions of the SOURCE's history (which the clone does
    // not have) and branch provenance describes the SOURCE's lineage —
    // neither is true of the new table, so neither is carried over.
    store.put(dst, TableEntry(snap.schema, snap.segments, dir, snap.partitionCols,
      snap.constraints, Map.empty, e.props.filterNot(p =>
        p._1.startsWith(TagPropPrefix) || p._1 == BranchOfProp || p._1 == BranchBaseProp),
      eqDeletes = snap.eqDeletes,
      // Row-id counter rides along (not the snapshot's — the SOURCE's
      // current one): the clone's future allocations must clear every
      // id the shared history ever handed out, or a clone taken at an
      // old version could re-mint ids of rows added-then-deleted since.
      nextRowId = e.nextRowId))
    // History CONTINUES the source's version numbering (first snapshot
    // = the cloned version, not 0): inherited segment/eq-delete
    // sequence numbers are valued in that domain, and the clone's own
    // commits must stamp ABOVE them (see publish's firstVersion doc).
    publish(dst, firstVersion = snap.version)
    reseatIdentityAfterSchemaSwap(dst)
    (snap.version, snap.segments.length)
  }

  /** The identifier a branch of `table` lives under: `<table>@<branch>`
    * in the same namespace — a real catalog identifier, so every
    * existing surface (SELECT with backticks, INSERT, DML, time travel,
    * streaming reads, DROP TABLE to abandon) works on a branch with no
    * new code paths. Plain CREATE/RENAME refuse '@' names, so the only
    * mint is [[createBranch]].
    */
  private[sources] def branchIdent(table: Identifier, branch: String): Identifier =
    Identifier.of(table.namespace, table.name + "@" + branch)

  /** RECOVERABLE DROP (the Delta UNDROP shape): `DROP TABLE` moves the
    * entry — data, snapshot history, streaming epochs — into a TRASH
    * registry instead of deleting anything; files stay on disk, every
    * GC path counts trash references, and `CALL graft.system.undrop`
    * restores the table wholesale until the retention window
    * (`RetentionNanos`, same knob as snapshot expiry) purges it.
    * `DROP TABLE ... PURGE` (and branch lifecycle drops, which publish
    * or abandon — their state lives on main) takes the immediate-GC
    * path. Re-dropping a name purges the older trash generation first
    * — latest drop wins.
    */
  private case class DroppedEntry(
      entry: TableEntry, hist: Vector[CatalogSnapshot],
      droppedMono: Long, droppedWallMs: Long)
  private val trash = new ConcurrentHashMap[Identifier, DroppedEntry]()

  private[sources] def dropEntry(ident: Identifier): Boolean = mutate {
    // Branch drops stay HARD: a dropped branch is either published
    // (state lives on main) or abandoned; resurrecting an '@' ident
    // outside create_branch would forge branch provenance.
    if (ident.name.contains("@")) purgeEntry(ident)
    else {
      expireTrash()
      val (entry, hist) = forget(ident)
      if (entry != null) {
        if (trash.containsKey(ident)) purgeTrashed(ident) // latest drop wins
        trash.put(ident,
          DroppedEntry(entry, hist, System.nanoTime(), System.currentTimeMillis()))
        persistDropped(ident)
      }
      // Tombstone CAS last — but if it LOSES to a concurrent driver, the
      // trash generation and dropped-dir document written above must be
      // rolled back: they alias the (still live) winner's segment files
      // under the SAME identifier, and since every GC reference scan
      // excludes id==self, a later retention expiry or re-drop would
      // delete files the live table still serves. reloadFromDisk (inside
      // persistTable's loss path) already restored the live in-memory
      // state; the trash/dropped-doc cleanup is on us.
      try persistTable(ident) // deletes the live ledger document
      catch { case e: java.util.ConcurrentModificationException =>
        trash.remove(ident)
        if (persistent)
          GraftLedger.delete(GraftLedger.droppedDir(segmentRoot), ident)
        throw e
      }
      entry != null
    }
  }

  /** Immediate, unrecoverable drop — the pre-trash semantics.
    *
    * ORDERING: the tombstone CAS commits FIRST, and only a WON CAS may
    * delete files — the same "CAS the ledger before touching any file"
    * discipline publish follows. Deleting first would mean a PURGE that
    * loses the CAS to another driver's concurrent commit refuses
    * honestly but has already erased segment files the winner's
    * committed snapshot references — the racer's data destroyed despite
    * the error. refreshIfStale narrows the loss window so the CAS is
    * judged against the current cross-process sequence.
    */
  private[sources] def purgeEntry(ident: Identifier): Boolean = mutate {
    refreshIfStale(ident)
    val (entry, hist) = forget(ident)
    persistTable(ident) // tombstone CAS — on loss: reload + throw, no file touched
    if (trash.containsKey(ident)) purgeTrashed(ident)
    if (entry != null) {
      val refs = referencedPathsExcept(Set(ident))
      val candidates = (entry.segments ++ hist.flatMap(_.segments)).distinctBy(_.path)
      candidates.filterNot(s => refs.contains(s.path)).foreach(SegmentIO.delete)
      purgeDirSparingShared(entry.dir, refs)
    }
    entry != null
  }

  /** GC one trash generation: files die only if NOTHING else — live
    * tables, their histories, or other trash entries — references
    * them (clones may outlive their dropped source). The reference
    * sweep runs once AFTER the entry leaves the trash map, so the
    * generation's own references never spare its own files.
    */
  private def purgeTrashed(ident: Identifier): Unit = {
    val d = trash.remove(ident)
    if (d != null) {
      val refs = referencedPathsExcept(Set(ident))
      purgeTrashedWith(ident, d, refs)
    }
  }

  /** The file-deletion half of [[purgeTrashed]], with the reference
    * sweep hoisted — [[expireTrash]] purges a whole aged BATCH against
    * one sweep instead of rescanning the warehouse per generation.
    * Caller must have removed the generation(s) from `trash` already.
    */
  private def purgeTrashedWith(
      ident: Identifier, d: DroppedEntry, refs: java.util.HashSet[String]): Unit = {
    val candidates =
      (d.entry.segments ++ d.hist.flatMap(_.segments)).distinctBy(_.path)
    candidates.filterNot(s => refs.contains(s.path)).foreach(SegmentIO.delete)
    purgeDirSparingShared(d.entry.dir, refs)
    if (persistent)
      GraftLedger.delete(GraftLedger.droppedDir(segmentRoot), ident)
  }

  /** Remove a purged table's directory without destroying files other
    * tables still reference. The spare set derives from the GLOBAL
    * reference sweep (every live table, history, and trash generation
    * except the purged one — `refs`), NOT from the purged entry's own
    * candidates: vacuum may already have expired a clone-shared file
    * from self's snapshot chain while [[gcDeleteAll]] spared it on disk
    * for the clone — such a file is in nobody's candidate list but must
    * survive the directory sweep.
    */
  private def purgeDirSparingShared(dir: String, refs: java.util.HashSet[String]): Unit = {
    // Separator-bounded compare: /x/tbl-1 must not claim /x/tbl-1234/seg.
    val dirPrefix = dir.stripSuffix(java.io.File.separator) + java.io.File.separator
    val spared: Set[String] =
      refs.asScala.iterator.filter(_.startsWith(dirPrefix)).toSet
    if (spared.isEmpty) deleteRecursively(Paths.get(dir))
    else deleteRecursivelyExcept(Paths.get(dir), spared)
  }

  /** Best-effort recursive delete that skips `spared` files and any
    * directory still holding one afterwards.
    */
  private def deleteRecursivelyExcept(p: Path, spared: Set[String]): Unit = {
    try {
      if (Files.isDirectory(p)) {
        val children = Files.list(p)
        try children.iterator().asScala.foreach(deleteRecursivelyExcept(_, spared))
        finally children.close()
        val remaining = Files.list(p)
        val empty = try !remaining.iterator().hasNext finally remaining.close()
        if (empty) Files.deleteIfExists(p)
      } else if (!spared.contains(p.toString)) Files.deleteIfExists(p)
    } catch { case _: java.io.IOException => () } // best-effort GC
  }

  /** Trash retention sweep — runs at publish/drop/undrop time, under
    * the mutation lock (same discipline as snapshot expiry).
    */
  private def expireTrash(): Unit = {
    val now = System.nanoTime()
    // A dropped table's own retention override rides into the trash
    // with its props: a table configured for a long window stays
    // UNDROP-able for that window, not the catalog default.
    val aged = trash.asScala.collect {
      case (id, d) if d.droppedMono < now - retentionNanosOf(d.entry.props) => id
    }.toSeq
    if (aged.nonEmpty) {
      // Whole batch leaves the trash FIRST, then one reference sweep
      // serves every generation's GC: references among batch members
      // don't spare each other's files (sequentially they'd die with
      // the last purger anyway — same end state, one sweep), while
      // anything a live table, retained history, or surviving trash
      // generation still references is spared as before.
      val dropped = aged.flatMap(id => Option(trash.remove(id)).map(id -> _))
      val refs = referencedPathsExcept(aged.toSet)
      dropped.foreach { case (id, d) => purgeTrashedWith(id, d, refs) }
    }
  }

  /** `CALL graft.system.undrop(ns, table)` — restore the most recent
    * trash generation of the name: data, history (time travel
    * included), streaming-epoch high-watermarks, properties, row-id
    * counter. Refuses if the name was re-taken or the generation
    * expired.
    */
  private[sources] def undropTable(ident: Identifier): (Long, Int) = mutate {
    ensureLoaded() // the trash may live only in the ledger (fresh JVM)
    // Learn the tombstone's sequence (a fresh JVM skips tombstones at
    // load): the restore must CAS ABOVE it — a knownSeq of -1 would
    // CAS at 0, potentially landing BELOW the tombstone and leaving
    // the restored table invisible behind it. Also surfaces a
    // concurrent recreate of the name as TableAlreadyExists below.
    refreshIfStale(ident)
    expireTrash()
    val d = trash.get(ident)
    if (d == null)
      throw new IllegalArgumentException(
        s"undrop $ident: not in the drop trash (never dropped, purged, or past retention)")
    if (store.containsKey(ident))
      throw new TableAlreadyExistsException(ident.toString, ident.name())
    trash.remove(ident)
    store.put(ident, d.entry)
    setHistory(ident, d.hist)
    if (persistent) GraftLedger.delete(GraftLedger.droppedDir(segmentRoot), ident)
    persistTable(ident)
    (d.hist.lastOption.map(_.version).getOrElse(-1L), d.entry.segments.length)
  }

  private def persistDropped(ident: Identifier): Unit = {
    if (!persistent) return
    val d = trash.get(ident)
    if (d != null)
      GraftLedger.write(GraftLedger.droppedDir(segmentRoot), ident,
        GraftLedger.encodeTable(
          ident, d.entry, d.hist, d.entry.epochs, Some(d.droppedWallMs)))
  }

  private[sources] def requireNotBranchName(ident: Identifier): Unit =
    if (ident.name.contains("@"))
      throw new IllegalArgumentException(
        s"'@' in $ident is reserved for branch identifiers — " +
          "use CALL graft.system.create_branch")

  /** BRANCH (`CALL graft.system.create_branch`) — the write-audit-
    * publish entry point (the Iceberg/Nessie WAP shape): a zero-copy
    * fork of `src` at `version` (default current) that takes its own
    * commits in isolation. Audit queries read the branch identifier;
    * `main` serves production reads untouched until
    * [[publishBranch]] fast-forwards it. Mechanically a [[cloneTable]]
    * (shared files, cross-table GC guard) plus recorded provenance:
    * which table it branches and the version it was cut at — the
    * fast-forward precondition.
    */
  private[sources] def createBranch(
      src: Identifier, branch: String, version: Option[Long]): (Long, Int) = mutate {
    if (!branch.matches("[A-Za-z0-9_][A-Za-z0-9_\\-]*"))
      throw new IllegalArgumentException(
        s"branch name '$branch' must be alphanumeric/underscore/dash")
    val (srcV, nSegs) =
      cloneTable(src, branchIdent(src, branch), version, allowBranchName = true)
    store.compute(branchIdent(src, branch), (_, e) => {
      require(e != null)
      e.copy(props = e.props +
        (BranchOfProp -> src.toString) + (BranchBaseProp -> srcV.toString))
    })
    persistTable(branchIdent(src, branch))
    (srcV, nSegs)
  }

  /** PUBLISH (`CALL graft.system.publish_branch`) — fast-forward `src`
    * to its branch's state by GRAFTING the branch's commit chain onto
    * main's history (the git fast-forward, not a squash), then drop
    * the branch. Atomic under the mutation lock; allowed only when
    * `src` has not logically moved since the branch was cut: every
    * commit after the recorded base must be retained and
    * `dataChange=false` (compaction/Z-order/spec evolution —
    * maintenance must not make a pending audit unpublishable), else
    * the publish refuses with a re-branch remedy — losing main's
    * concurrent commits by silent overwrite is never on the table.
    *
    * WHY replay, not squash: the branch's segments and equality
    * deletes carry data SEQUENCE NUMBERS valued per branch commit. A
    * squash would collapse them onto one main version — a branch that
    * inserted a key then upserted it would resurrect the shadowed row
    * (both at one seq), main's next upsert could fail to shadow
    * branch rows stamped ahead of its counter, and the CDC feed's
    * per-commit eq-delta planning would miss deletes. Replaying keeps
    * every ordering exact; streams over main see each branch commit
    * individually and CDC provenance (paired updates) rides each
    * replayed snapshot's own rewrite map. When maintenance drifted
    * main's counter past the base, replayed versions AND
    * branch-domain seqs shift together by the drift (a monotone shift
    * above the base preserves every seq comparison).
    */
  private[sources] def publishBranch(
      src: Identifier, branch: String): (Long, Long, Int) = mutate {
    val bIdent = branchIdent(src, branch)
    val main = store.get(src)
    if (main == null) throw new NoSuchTableException(src)
    val b = store.get(bIdent)
    if (b == null) throw new NoSuchTableException(bIdent)
    require(b.props.get(BranchOfProp).contains(src.toString),
      s"$bIdent is not a branch of $src")
    val base = b.props.getOrElse(BranchBaseProp,
      throw new IllegalStateException(s"$bIdent lost its branch-base property")).toLong
    val mainHist = historyOf(src)
    val mainV = mainHist.lastOption.map(_.version).getOrElse(-1L)
    val since = mainHist.filter(_.version > base)
    val allRetained = since.map(_.version).toSet == (base + 1 to mainV).toSet
    if (!(allRetained && since.forall(!_.dataChange)))
      throw new IllegalStateException(
        s"publish_branch '$branch': $src committed data after the branch was cut at " +
          s"version $base (now at $mainV) — fast-forward would lose those commits. " +
          s"Re-create the branch from the current version and re-apply the audit.")
    val bHist = historyOf(bIdent)
    val bV = bHist.lastOption.map(_.version).getOrElse(base)
    val offset = mainV - base // ≥ 0; > 0 only under dataChange=false drift
    // MAINTENANCE DRIFT: main's current segments are a post-compaction
    // LAYOUT of the same logical rows the branch seeded from. The
    // first grafted commit must not look like a data commit that
    // removed the compacted files (append streams would hard-fail or —
    // worse — skip the branch's rows under skipChangeCommits): insert
    // one synthetic `dataChange=false` commit reverting main to the
    // branch's SEED layout (logically identical rows — exactly what
    // the flag means), then replay the branch's data commits above it.
    val seed =
      if (offset == 0) None
      else Some(bHist.find(_.version == base).getOrElse(
        throw new IllegalStateException(
          s"publish_branch '$branch': the branch's seed snapshot (v$base) aged out " +
            "of retention while maintenance moved the parent — re-create the branch")))
    // Maintenance drift must not have EVOLVED main: compaction/zorder
    // relayout is logically-identical rows, but a set_partitioning on
    // main since the cut (also dataChange=false) is real metadata the
    // fast-forward would silently REVERT to the branch's stale spec —
    // refuse instead. The seed snapshot records the spec at the cut.
    seed.foreach { sd =>
      if (main.partitionCols != sd.partitionCols)
        throw new IllegalStateException(
          s"publish_branch '$branch': $src evolved its partition spec after the " +
            s"branch was cut (${sd.partitionCols.mkString(",")} -> " +
            s"${main.partitionCols.mkString(",")}) — fast-forward would revert it. " +
            "Re-create the branch from the current version and re-apply the audit.")
      // Same doctrine for SCHEMA evolution: ALTER migrations are
      // dataChange=false (logically-identical rows), so they pass the
      // data-commit gate above — but reverting main to the branch's
      // pre-ALTER schema would silently undo the evolution. Compared
      // COMMENT-STRIPPED: StructType equality includes field metadata,
      // and a comment-only facet change on main (ALTER COLUMN ...
      // COMMENT) loses nothing the data path — or any future write —
      // reads, so it must not block the publish (the branch head's
      // comments win, the same last-writer-wins as fast-forward
      // itself). CURRENT_DEFAULT and other metadata facets still
      // refuse: reverting a SET DEFAULT changes future INSERTs.
      def stripType(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
        dt match {
          case s: StructType => stripComments(s)
          // Structs nested in containers carry field comments too — an
          // ALTER on `items.element.f`'s comment must not block either.
          case a: org.apache.spark.sql.types.ArrayType =>
            a.copy(elementType = stripType(a.elementType))
          case m: org.apache.spark.sql.types.MapType =>
            m.copy(keyType = stripType(m.keyType), valueType = stripType(m.valueType))
          case other => other
        }
      def stripComments(st: StructType): StructType = StructType(st.fields.map { f =>
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove("comment").build()
        f.copy(dataType = stripType(f.dataType), metadata = mb)
      })
      if (stripComments(main.schema) != stripComments(sd.schema))
        throw new IllegalStateException(
          s"publish_branch '$branch': $src evolved its schema after the branch was " +
            s"cut (${sd.schema.simpleString} -> ${main.schema.simpleString}) — " +
            "fast-forward would revert it. Re-create the branch from the current " +
            "version and re-apply the audit.")
    }
    val shift = if (offset == 0) 0L else offset + 1L
    def shiftSeq(q: Long): Long = if (q > base) q + shift else q
    def shiftSegs(ss: Vector[Segment]): Vector[Segment] =
      // seq AND lineage lastUpdatedSeq are valued in the version
      // domain — both shift, or a published row would claim an update
      // version main never committed.
      ss.map { s =>
        val lin =
          if (s.lineage.forall(_._3 <= base)) s.lineage
          else s.lineage.map { case (f, c, q) => (f, c, shiftSeq(q)) }
        if (s.seq > base || (lin ne s.lineage))
          s.copy(seq = shiftSeq(s.seq), lineage = lin)
        else s
      }
    def shiftEqs(es: Vector[EqDelete]): Vector[EqDelete] =
      es.map(e => e.copy(seq = shiftSeq(e.seq)))
    val now = System.nanoTime()
    val revert = seed.map(sd => CatalogSnapshot(
      mainV + 1, System.currentTimeMillis(), now, sd.schema, sd.segments,
      sd.partitionCols, sd.constraints, Map.empty, dataChange = false,
      sd.eqDeletes))
    // Graft every branch commit after the clone seed except the last
    // (publish() below re-mints it as main's new head, with GC and
    // ledger persistence).
    val replayed = bHist.filter(s => s.version > base && s.version < bV)
      .map(s => s.copy(version = s.version + shift,
        segments = shiftSegs(s.segments), eqDeletes = shiftEqs(s.eqDeletes)))
    setHistory(src, mainHist ++ revert.toVector ++ replayed)
    store.put(src, main.copy(schema = b.schema,
      segments = shiftSegs(b.segments),
      partitionCols = b.partitionCols, constraints = b.constraints,
      eqDeletes = shiftEqs(b.eqDeletes),
      // Row-id domain is shared (the branch was cut with main's
      // counter): take the max so ids the branch allocated — even for
      // rows it later deleted — are never re-minted on main.
      nextRowId = math.max(main.nextRowId, b.nextRowId)))
    publish(src,
      rewrites = bHist.lastOption.map(_.rewrites).getOrElse(Map.empty),
      dataChange = bHist.lastOption.forall(_.dataChange))
    purgeEntry(bIdent) // cross-table GC guard spares files main now serves
    (headVersion(src), bV - base, b.segments.length)
  }

  /** Resolve a user-supplied version string — a numeric commit id or a
    * TAG name (`'graft.tag.<name>'='<v>'` table property). Shared by
    * `VERSION AS OF` loads and the change-feed reader options.
    */
  private[sources] def resolveVersionString(ident: Identifier, version: String): Long =
    try version.toLong
    catch { case _: NumberFormatException =>
      Option(store.get(ident)).flatMap(_.props.get(TagPropPrefix + version)) match {
        case Some(tv) =>
          try tv.toLong
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"tag '$version' has a malformed target version '$tv'")
          }
        case None => throw new IllegalArgumentException(
          s"graft catalog versions are numeric commit ids or tag names; " +
            s"'$version' is neither (no '$TagPropPrefix$version' property)")
      }
    }

  private[graft] def snapshotByVersion(
      ident: Identifier, v: Long): Option[CatalogSnapshot] =
    historyOf(ident).find(_.version == v)
  private[graft] def snapshotByTime(
      ident: Identifier, micros: Long): Option[CatalogSnapshot] =
    historyOf(ident)
      .takeWhile(_.wallMs * 1000L <= micros).lastOption
  /** Retained (time-travel-servable) snapshots of a table, oldest
    * first; empty for an unknown table.
    */
  private[sources] def retainedSnapshots(ident: Identifier): Vector[CatalogSnapshot] =
    historyOf(ident)

  /** Test observability: latest committed version of a table. */
  private[graft] def currentVersion(ns: String, table: String): Option[Long] =
    historyOf(Identifier.of(Array(ns), table))
      .lastOption.map(_.version)

  /** Test observability: segments referenced ONLY by non-current
    * retained snapshots — the retired-but-retained file count (the old
    * tombstone-queue metric, now derived from snapshot history).
    */
  private[graft] def tombstoneCount: Int = mutate {
    ledgers.asScala.map { case (ident, TableLedger(hist, _, _)) =>
      val current = Option(store.get(ident)).map(_.segments.map(_.path).toSet)
        .getOrElse(Set.empty)
      hist.flatMap(_.segments.map(_.path)).distinct.count(!current.contains(_))
    }.sum
  }
  /** Test hook (vacuum-now): drop every non-current snapshot and delete
    * the files only they referenced — `VACUUM t RETAIN 0` semantics.
    */
  /** Per-table VACUUM (`CALL graft.system.vacuum`): expire every
    * retained snapshot except the current one and delete the files only
    * they referenced — the manual override of the time-based retention
    * GC (the Delta VACUUM shape: after it, time travel to superseded
    * versions is gone by user choice). TAGGED snapshots are exempt,
    * exactly as in [[publish]]'s retention pass: a tag is an explicit
    * promise the version stays readable, and a manual vacuum must not
    * silently break it — drop the tag first if that's what you mean.
    * Returns (snapshotsExpired, filesDeleted).
    */
  private[sources] def vacuumTable(ident: Identifier): (Int, Int) = mutate {
    refreshIfStale(ident)
    refreshAllIfStale() // GC judges references against the whole warehouse
    val entry = store.get(ident)
    if (entry == null) throw new NoSuchTableException(ident)
    val hist = historyOf(ident)
    val taggedVersions: Set[Long] = entry.props.collect {
      case (k, v) if k.startsWith(TagPropPrefix) && v.forall(_.isDigit) => v.toLong
    }.toSet
    val kept = hist.filter(s =>
      taggedVersions.contains(s.version) || hist.lastOption.contains(s))
    val live = (entry.segments ++ kept.flatMap(_.segments)).map(_.path).toSet
    val dropped = hist.flatMap(_.segments).distinctBy(_.path)
      .filterNot(s => live.contains(s.path))
    gcDeleteAll(ident, dropped)
    val expired = hist.length - kept.length
    setHistory(ident,
      kept.map(s => if (hist.lastOption.contains(s)) s.copy(segments = entry.segments) else s))
    persistTable(ident)
    (expired, dropped.length)
  }

  /** `CALL graft.system.remove_orphan_files(ns, table, older_than_ms)`
    * — delete files in the table's directory that NO catalog state
    * references (the Iceberg remove_orphan_files shape): leftovers of
    * crashed/aborted writes, or stray files a tool dropped in the dir.
    * The referenced set is computed across the WHOLE catalog — every
    * table/branch's current segments plus every retained snapshot —
    * because zero-copy clones and branches legitimately reference
    * files living in another table's directory; deleting "this
    * table's" unreferenced file could break its clone. `olderThanMs`
    * is the in-flight-write guard (an uncommitted writer's segment is
    * on disk before its commit and MUST look orphaned-but-young):
    * only files last modified more than that many ms ago qualify.
    * Pass 0 only when nothing can be writing. Runs under the mutation
    * lock so no commit can land between the reference scan and the
    * deletes. Returns (filesDeleted, bytesDeleted).
    */
  private[sources] def removeOrphanFiles(
      ident: Identifier, olderThanMs: Long): (Int, Long) = mutate {
    refreshIfStale(ident)
    refreshAllIfStale() // clones/branches from other drivers reference files here
    val entry = store.get(ident)
    if (entry == null) throw new NoSuchTableException(ident)
    if (olderThanMs < 0L)
      throw new IllegalArgumentException(
        s"remove_orphan_files: older_than_ms must be >= 0, got $olderThanMs")
    val referenced: Set[String] =
      (store.asScala.valuesIterator.flatMap(_.segments.iterator.map(_.path)) ++
        ledgers.asScala.valuesIterator.flatMap(
          _.history.iterator.flatMap(_.segments.iterator.map(_.path))) ++
        trash.asScala.valuesIterator.flatMap(d =>
          d.entry.segments.iterator.map(_.path) ++
            d.hist.iterator.flatMap(_.segments.iterator.map(_.path)))).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    val dir = Paths.get(entry.dir)
    if (!Files.isDirectory(dir)) (0, 0L)
    else {
      var n = 0
      var bytes = 0L
      val walk = Files.walk(dir)
      try walk.iterator().asScala.foreach { p =>
        if (Files.isRegularFile(p) && !referenced.contains(p.toString) &&
            (try Files.getLastModifiedTime(p).toMillis <= cutoff
             catch { case _: java.io.IOException => false })) {
          val sz = try Files.size(p) catch { case _: java.io.IOException => 0L }
          try {
            if (Files.deleteIfExists(p)) { n += 1; bytes += sz }
          } catch { case _: java.io.IOException => () } // best-effort, like all GC
        }
      } finally walk.close()
      (n, bytes)
    }
  }

  private[graft] def vacuumTombstones(): Unit = mutate {
    refreshAllIfStale()
    // A table with history always has an entry: forget and a
    // tombstone adopt clear both together.
    store.asScala.toSeq.foreach { case (ident, entry) =>
      val hist = historyOf(ident)
      if (hist.nonEmpty) {
        val current = entry.segments.map(_.path).toSet
        gcDeleteAll(ident, hist.flatMap(_.segments).distinctBy(_.path)
          .filterNot(s => current.contains(s.path)))
        setHistory(ident, Vector(hist.last.copy(segments = entry.segments)))
        persistTable(ident)
      }
    }
  }

  /** Batch job commit: atomically publish `segs`, either appended or
    * replacing the current list (INSERT OVERWRITE / row-level rewrite),
    * as the table's next snapshot. Replaced segments stay on disk while
    * any retained snapshot references them — see `publish`.
    */
  /** Metastore swap for a STAGED (CTAS/RTAS) table: the staged entry —
    * data already on disk in its private dir — becomes visible in one
    * atomic step, or not at all. On Replace, the previous entry's
    * segment files retire through the usual snapshot retention (the
    * history continues under the same identifier, so time travel
    * crosses the REPLACE and a streaming read sees one change commit);
    * the old directory itself is GC'd with the last file that leaves
    * it.
    */
  /** Merge a staged RTAS entry onto the previous one. History (and
    * therefore tags, retention windows, and the row-id/identity
    * domains) CONTINUES across a REPLACE — but the staged entry's
    * props come only from the new statement, which would silently drop
    * the props that protect that continuing history:
    *   - `graft.tag.*` pins (a tagged snapshot's expiry exemption —
    *     and the promise that `VERSION AS OF 'tag'` stays readable);
    *   - `graft.retention.*` per-table windows (a slow CDC consumer's
    *     pinned horizon would snap back to the catalog default);
    *   - `graft.identity.<col>.next` watermarks (a reset would re-mint
    *     id values that retained pre-replace snapshots already serve
    *     for DIFFERENT rows — the same class of bug `nextRowId`'s
    *     max-merge prevents for `_row_id`).
    * Those carry forward; everything else (write order, autocompact,
    * user props) takes the new statement's word — the standard REPLACE
    * props reset. On conflict the staged statement wins, EXCEPT
    * identity watermarks, which take the max of both domains (either
    * side may have minted ids the other hasn't seen). Streaming epochs
    * carry forward too: a REPLACE does not reset a stream's dedup.
    */
  private def replaceEntry(prev: TableEntry, staged: TableEntry): TableEntry = {
    def isIdentityNext(k: String) =
      k.startsWith(IdentityPropPrefix) && k.endsWith(IdentityPropSuffix)
    val carried = prev.props.filter { case (k, _) =>
      k.startsWith(TagPropPrefix) || k == RetentionSecondsProp ||
        k == RetentionSnapshotsProp || isIdentityNext(k)
    }
    val maxed = carried.collect {
      case (k, p) if isIdentityNext(k) && staged.props.contains(k) =>
        k -> math.max(p.toLong, staged.props(k).toLong).toString
    }
    staged.copy(
      nextRowId = math.max(staged.nextRowId, prev.nextRowId),
      props = carried ++ staged.props ++ maxed,
      epochs = prev.epochs)
  }

  private[sources] def commitStaged(
      ident: Identifier, entry: TableEntry, mode: GraftStagedTable.Mode): Unit = mutate {
    refreshIfStale(ident)
    def discard(): Unit = {
      entry.segments.foreach(SegmentIO.delete)
      deleteRecursively(Paths.get(entry.dir))
    }
    mode match {
      case GraftStagedTable.Create =>
        if (store.putIfAbsent(ident, entry) != null) {
          discard()
          throw new TableAlreadyExistsException(ident.toString, ident.name())
        }
      case GraftStagedTable.Replace =>
        store.compute(ident, (_, prev) => {
          if (prev == null) { discard(); throw new NoSuchTableException(ident) }
          replaceEntry(prev, entry)
        })
      case GraftStagedTable.CreateOrReplace =>
        store.compute(ident, (_, prev) =>
          if (prev == null) entry else replaceEntry(prev, entry))
    }
    // Cross-process CAS loss: the loser's staged segments must not
    // leak as orphans, and a racing CTAS surfaces as TableAlreadyExists
    // (so IF NOT EXISTS no-ops) — same treatment as plain createTable.
    // A lost REPLACE stays a concurrency refusal: the interleaved
    // commit is real data the swap would have erased; retry replans.
    try publish(ident)
    catch { case e: java.util.ConcurrentModificationException =>
      discard()
      mode match {
        case GraftStagedTable.Create =>
          throw new TableAlreadyExistsException(ident.toString, ident.name())
        case _ => throw e
      }
    }
  }

  /** Append (or, with `truncate`, replace) the batch's segments. COPY
    * INTO exactly-once: `copyTokens` (the batch's source-file tokens)
    * join the ingestion registry IN THE SAME commit as its segments —
    * crash atomicity by construction. A token already present means a
    * concurrent copy_into loaded one of our files between our diff and
    * this commit: installing would double-load its rows, so refuse
    * (the caller re-diffs and retries with the remainder).
    */
  private[sources] def install(
      ident: Identifier, segs: Seq[Segment], truncate: Boolean,
      copyTokens: Seq[String] = Nil): Unit =
    commitSegments(ident) { (prev, _) =>
      val props =
        if (copyTokens.isEmpty) prev.props
        else {
          val loaded = prev.props.get(CopyIntoProp)
            .map(_.split(',').toSet).getOrElse(Set.empty)
          val dup = copyTokens.filter(loaded)
          if (dup.nonEmpty) throw new java.util.ConcurrentModificationException(
            s"$ident: ${dup.length} source file(s) were loaded by a concurrent " +
              "copy_into while this one ran; re-run to load only the remainder")
          prev.props.updated(CopyIntoProp, (loaded ++ copyTokens).toSeq.sorted.mkString(","))
        }
      Some(prev.copy(props = props,
        segments = if (truncate) segs.toVector else prev.segments ++ segs))
    }

  /** Version + (segments, eq) under the mutation lock — the row-level
    * planning read: the version is the optimistic-concurrency token
    * [[installRowLevel]] later checks, so it must be read atomically
    * WITH the state it describes.
    */
  private[sources] def versionedStateOf(
      ident: Identifier): (Long, Vector[Segment], Vector[EqDelete]) = mutate {
    refreshIfStale(ident) // the version token must reflect other drivers' commits
    val (s, e) = stateOf(ident)
    (headVersion(ident), s, e)
  }

  /** Row-level (UPDATE / MERGE / rewrite-DELETE) commit: the
    * replacement list was computed from the snapshot pinned at SCAN
    * BUILD, and the truncate-swap would silently ERASE any commit that
    * landed in between — so the commit carries the planned version and
    * refuses on mismatch (optimistic concurrency; Spark aborts the
    * write, its files are deleted, and a retry plans against the new
    * state). The token is checked inside [[commitSegments]]' loop,
    * after the cross-process staleness refresh, so a commit from
    * another driver JVM moves it just like a local one.
    */
  private[sources] def installRowLevel(
      ident: Identifier, segs: Seq[Segment], plannedVersion: Long,
      rewrites: Map[String, String] = Map.empty): Unit = {
    dbg(s"installRowLevel($ident) plannedV=$plannedVersion segs=${segs.length}")
    commitSegments(ident, rewrites, requireVersion = Some(plannedVersion)) { (prev, _) =>
      Some(prev.copy(segments = segs.toVector))
    }
  }

  /** AUTO-COMPACTION (`'graft.autocompact.segments'='N'` TBLPROPERTY —
    * the Delta autoCompact shape, opt-in): any data commit that leaves
    * the table with ≥ N segments immediately folds them (same
    * order-preserving compaction as `CALL graft.system.compact`) as a
    * follow-up commit, so a long-running append/streaming workload
    * keeps a bounded segment count without an external OPTIMIZE cron —
    * the operational answer to the small-files problem. The compaction
    * is its own commit in the history (time travel still sees the
    * pre-compact version) but carries `dataChange=false`, so append
    * streams ride through it silently and the CDC feed emits nothing
    * for it — auto-compaction is stream-safe.
    *
    * This parses and validates the threshold; [[commitSegments]] calls
    * it BEFORE the data commit, so a malformed property fails the
    * statement loudly without having landed rows, rather than silently
    * never compacting.
    */
  private def autoCompactThreshold(ident: Identifier): Option[Int] =
    Option(store.get(ident)).flatMap(_.props.get(AutoCompactProp)).map { v =>
      val n =
        try v.toInt
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$AutoCompactProp must be an integer >= 2, got '$v'")
        }
      require(n >= 2, s"$AutoCompactProp must be >= 2, got $n")
      n
    }

  /** Trigger only when compaction will actually REDUCE some partition
    * group: a group at/over the threshold whose segment count also
    * exceeds what the byte target would re-split it into. Without the
    * second condition a table with ≥ N partition groups — or more than
    * N × targetBytes of ordered data in one group — would re-run a
    * full-table rewrite on EVERY subsequent commit (under the global
    * mutation lock) while never getting below the threshold.
    * A compaction a concurrent commit refuses is only logged: the
    * triggering commit has landed, and the next one re-checks.
    */
  private def maybeAutoCompact(ident: Identifier, threshold: Option[Int]): Unit =
    threshold.foreach { n =>
      val entry = store.get(ident)
      if (entry != null) {
        val target = compactTargetBytes
        // Compact ONLY the partition groups that satisfy the reduce
        // predicate — this runs synchronously inside the committing
        // writer's mutation lock, and a single hot partition must not
        // make every commit pay an O(table) rewrite of all the cold
        // ones (nor block other catalog mutations for that long).
        val hotKeys = entry.segments.groupBy(s => (s.spec, s.key)).collect {
          case (key, g) if {
            val bytes = g.map(s =>
              if (s.bytes > 0) s.bytes else s.rows * 8L * (entry.schema.length + 1)).sum
            val post = math.max(1, math.ceil(bytes.toDouble / target).toInt)
            g.length >= n && g.length > post
          } => key
        }.toSet
        if (hotKeys.nonEmpty)
          try compact(ident, onlyKeys = Some(hotKeys)): Unit
          catch { case e: java.util.ConcurrentModificationException =>
            System.err.println(s"[graft-catalog] auto-compaction skipped: ${e.getMessage}") }
      }
    }

  /** ONE commit shell for every commit that writes segment files:
    * append and truncate ([[install]], COPY INTO included),
    * partition-scoped and dynamic overwrite ([[installOverwrite]]),
    * row-level rewrites ([[installRowLevel]]), batch upserts
    * ([[installUpsert]]), streaming epochs ([[installEpoch]]) and the
    * file rewrites of [[commitRewrite]] (compact, zorder, metadata
    * DELETE). `transform` maps the current entry and the version this
    * commit will publish to the next entry, or None for "nothing to
    * commit" (a replayed epoch); files are written before the shell
    * runs. The result is true when a commit landed.
    *
    * Each attempt syncs with the on-disk ledger, checks the row-level
    * version token, validates the auto-compaction threshold before
    * anything lands, applies `transform` to the refreshed state,
    * stamps segments NEW to this commit with the version being
    * published (DATA SEQUENCE: fresh appends by definition, rewrites
    * because they read through the applicable equality deletes — see
    * Segment.seq), and CASes the ledger with `dataChange`. A lost CAS
    * (another DRIVER committed the same sequence first) reloads the
    * winner and re-applies — so two processes' disjoint appends or
    * upserts BOTH land, in some serial order, which is exactly the
    * blind-write conflict class. Rewrites CHECK, THEN SWAP (the
    * Iceberg/Delta conflict taxonomy): the transform first checks that
    * every segment it replaces is still live, unchanged and under the
    * equality deletes it read, and refuses otherwise — a disjoint
    * foreign commit re-applies, an overlapping one refuses. Row-level
    * rewrites pass `requireVersion` instead: planned against a pinned
    * snapshot, they refuse on any moved table. A won `dataChange`
    * commit runs the auto-compaction check; a failure before anything
    * lands runs `abandon` (a rewrite's file cleanup), then rethrows.
    *
    * Outside on purpose: [[commitStaged]] (CTAS/RTAS, whose lost CAS
    * must refuse or surface as TableAlreadyExists).
    */
  private def commitSegments(ident: Identifier, rewrites: Map[String, String] = Map.empty,
      requireVersion: Option[Long] = None, dataChange: Boolean = true,
      abandon: () => Unit = () => ())(
      transform: (TableEntry, Long) => Option[TableEntry]): Boolean = mutate {
    var landed = false
    @annotation.tailrec
    def attempt(n: Int): Boolean = {
      refreshIfStale(ident)
      val nextV = headVersion(ident) + 1
      requireVersion.foreach { pv =>
        if (nextV - 1 != pv)
          throw new java.util.ConcurrentModificationException(
            s"$ident advanced v$pv -> v${nextV - 1} while a row-level rewrite " +
              "was running — its result would erase the interleaved commit; retry " +
              "the statement")
      }
      val threshold = if (dataChange) autoCompactThreshold(ident) else None
      var applied = false
      store.compute(ident, (_, prev) => {
        require(prev != null, s"table $ident dropped mid-write")
        transform(prev, nextV) match {
          case None => prev
          case Some(next) =>
            applied = true
            val prevPaths = prev.segments.map(_.path).toSet
            next.copy(segments = next.segments.map(s =>
              if (prevPaths.contains(s.path)) s else s.copy(seq = nextV)))
        }
      })
      val won = applied && publish(ident, rewrites, dataChange, casRetryable = true)
      dbg(s"commitSegments($ident) attempt=$n applied=$applied won=$won")
      if (won) { landed = true; maybeAutoCompact(ident, threshold); true }
      else if (!applied) false
      else if (n >= 20)
        throw new java.util.ConcurrentModificationException(
          s"$ident: lost the ledger CAS to concurrent drivers ${n + 1} times; " +
            "giving up — retry the statement")
      else attempt(n + 1)
    }
    try attempt(0)
    catch { case scala.util.control.NonFatal(e) if !landed => abandon(); throw e }
  }

  /** Commit `planned` — `base.segments` with some replaced by new
    * files, a wider dv on the same file, or nothing — through
    * [[commitSegments]]' check-then-swap: each replaced segment must
    * still be live with the same path and dv (a file never changes, so
    * that pair is its value) and under the same equality deletes (one
    * added was not read; one a RESTORE removed was applied anyway —
    * publish's GC never drops one that still applies), and the schema
    * and partition spec the files were written under must stand.
    * Untouched segments take their current value, foreign additions
    * stay. Until the commit lands, any failure deletes the new files no
    * live entry references (never a dv-only entry's live path).
    * Call under `mutate {}`; returns the published list.
    */
  private def commitRewrite(ident: Identifier, base: TableEntry,
      planned: Vector[Segment], dataChange: Boolean): Vector[Segment] = {
    def id(s: Segment) = (s.path, s.dv)
    val baseIds = base.segments.map(id).toSet
    val plannedIds = planned.map(id).toSet
    val replaced = base.segments.filterNot(s => plannedIds(id(s)))
    val basePaths = base.segments.map(_.path).toSet
    def eqOn(e: TableEntry) = e.eqDeletes.filter(eq => replaced.exists(eq.appliesTo)).toSet
    val readEq = eqOn(base)
    commitSegments(ident, dataChange = dataChange, abandon = () => {
      val inUse = Option(store.get(ident)).fold(Set.empty[String])(_.segments.map(_.path).toSet)
      planned.filterNot(s => basePaths(s.path) || inUse(s.path)).foreach(SegmentIO.delete)
    }) { (prev, _) =>
      val live = prev.segments.map(id).toSet
      if (prev.schema != base.schema || prev.partitionCols != base.partitionCols ||
          !replaced.forall(s => live(id(s))) || eqOn(prev) != readEq)
        throw new java.util.ConcurrentModificationException(
          s"$ident: a concurrent commit changed segments this rewrite replaces — " +
            "its result would erase that commit; it was NOT applied, retry the statement")
      val cur = prev.segments.map(s => s.path -> s).toMap
      Some(prev.copy(segments =
        planned.flatMap(s => if (baseIds(id(s))) cur.get(s.path) else Some(s)) ++
          prev.segments.filterNot(s => basePaths(s.path))))
    }: Unit
    store.get(ident).segments
  }

  /** Partition-scoped / dynamic INSERT OVERWRITE commit: replace only
    * the segments the filters (or the incoming keys) cover, atomically
    * with the append. Matching is on the segment's PARTITION KEY
    * VALUES, never zone maps: might-match is conservative toward
    * keeping segments on reads, which is the DELETING direction here —
    * an untracked-stats segment would match everything and an
    * unrelated partition would be wiped. Key equality is exact for
    * every admitted partition type (filter literals arrive coerced to
    * the column type, keys store the same boxed externals).
    */
  private[sources] def installOverwrite(
      ident: Identifier, segs: Seq[Segment],
      filters: Option[Seq[org.apache.spark.sql.sources.Filter]]): Unit = commitSegments(ident) { (prev, _) =>
    import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Filter}
    // Key matching is only meaningful against keys valued over the
    // CURRENT spec. After a partition-spec evolution, old-era segments'
    // keys name DIFFERENT columns: matching could wipe an unrelated
    // partition (or keep rows the overwrite semantics say must go).
    // Fail the statement with the remedy instead of either corruption.
    prev.segments.find(_.spec != prev.partitionCols).foreach { s =>
      throw new UnsupportedOperationException(
        s"partition-scoped overwrite of $ident: segment ${s.path} was written " +
          s"under partition spec (${s.spec.mkString(", ")}) but the table is now " +
          s"partitioned by (${prev.partitionCols.mkString(", ")}); run " +
          "CALL graft.system.compact to migrate, or use full INSERT OVERWRITE")
    }
    val kept = filters match {
      case Some(fs) =>
        val idx = prev.partitionCols.zipWithIndex.toMap
        def keyMatches(s: Segment, f: Filter): Boolean = f match {
          case EqualTo(c, v0) =>
            val v = keyLiteral(v0)
            val k = s.key(idx(c))
            k != null && k == v
          case EqualNullSafe(c, v0) =>
            val v = keyLiteral(v0)
            val k = s.key(idx(c))
            if (v == null) k == null else k != null && k == v
          case _ => throw new IllegalStateException(
            s"non-partition-equality filter $f reached overwrite commit")
        }
        prev.segments.filterNot(s => fs.forall(keyMatches(s, _)))
      case None => // dynamic: replace the partitions the write touched
        val newKeys = segs.map(_.key).toSet
        prev.segments.filterNot(s => newKeys.contains(s.key))
    }
    Some(prev.copy(segments = kept ++ segs))
  }

  /** Partition-overwrite literals arrive as EXTERNAL temporals
    * (java.sql.Date / LocalDate / Timestamp / Instant) while partition
    * KEYS store the internal encodings (epoch-day Int / micros Long) —
    * normalize the literal side so a `PARTITION (day = DATE'...')`
    * overwrite matches its segments instead of silently keeping them
    * (which would duplicate the partition's rows).
    */
  private[sources] def keyLiteral(v: Any): Any = v match {
    case d: java.sql.Date => Integer.valueOf(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d))
    case d: java.time.LocalDate => Integer.valueOf(d.toEpochDay.toInt)
    case t: java.sql.Timestamp => java.lang.Long.valueOf(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case t: java.time.Instant => java.lang.Long.valueOf(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t))
    case other => other
  }

  /** The table's latest published version (-1 before the first). */
  private def headVersion(ident: Identifier): Long =
    historyOf(ident).lastOption.map(_.version).getOrElse(-1L)

  private[sources] def segmentsOf(ident: Identifier): Vector[Segment] =
    Option(store.get(ident)).map(_.segments).getOrElse(Vector.empty)

  private[sources] def eqDeletesOf(ident: Identifier): Vector[EqDelete] =
    Option(store.get(ident)).map(_.eqDeletes).getOrElse(Vector.empty)

  /** Segments + outstanding equality deletes from ONE entry read —
    * commits swap the immutable entry atomically, so this pair is
    * always mutually consistent. Scan planning must use this (not two
    * separate reads): an upsert committing between a segments read and
    * an eqDeletes read would plan the ghost row's segment without the
    * delete that kills it.
    */
  private[sources] def stateOf(
      ident: Identifier): (Vector[Segment], Vector[EqDelete]) =
    Option(store.get(ident)).map(e => (e.segments, e.eqDeletes))
      .getOrElse((Vector.empty, Vector.empty))

  private[sources] def entryExists(ident: Identifier): Boolean =
    store.containsKey(ident)

  /** Open WAP branches of `base`: (branch name, base version,
    * segments, live rows) — the `branches` metadata table's rows.
    */
  private[sources] def branchesOf(base: Identifier): Seq[(String, Long, Int, Long)] =
    store.asScala.toSeq.collect {
      case (id, e) if id.namespace.sameElements(base.namespace) &&
          id.name.startsWith(base.name + "@") &&
          e.props.get(BranchOfProp).contains(base.toString) =>
        (id.name.drop(base.name.length + 1),
          e.props.get(BranchBaseProp).map(_.toLong).getOrElse(-1L),
          e.segments.length, e.segments.map(_.liveRows).sum)
    }.sortBy(_._1)

  /** Per-commit distinct-key cap for merge-on-read upserts — ONE parse
    * (task-side and commit-side caps must never diverge).
    */
  private[sources] def upsertMaxKeys: Int =
    sys.props.getOrElse("graft.upsert.maxKeys", "100000").toInt

  /** Byte size compaction splits an ordered group's output at — ONE
    * parse (auto-compaction's reduce predicate must agree with the
    * fold it triggers).
    */
  private def compactTargetBytes: Long =
    sys.props.getOrElse("graft.compact.targetBytes", (64L * 1024 * 1024).toString).toLong

  /** Upsert-key columns must exist and carry exact-equality-comparable
    * types (the external encodings the writer collects and the reader
    * compares; floats are excluded — NaN/−0.0 equality is a trap).
    */
  private[sources] def validateUpsertKeys(schema: StructType, keyCols: Seq[String]): Unit = {
    import org.apache.spark.sql.types._
    require(keyCols.nonEmpty, "graft.upsert.keys must name at least one column")
    keyCols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"upsert key column $c not in schema ${schema.simpleString}"))
      f.dataType match {
        case StringType | LongType | IntegerType | ShortType | ByteType |
             BooleanType | TimestampType | TimestampNTZType | DateType => ()
        case dt => throw new UnsupportedOperationException(
          s"upsert keys must be string/integral/boolean/timestamp/date, $c is $dt")
      }
    }
  }

  /** The equality delete an upsert commit registers at `seq`: one
    * delete over the batch's distinct key tuples (None for a batch with
    * no keys). ONE check for the batch and the streaming path: valid
    * key columns, the per-commit key cap that keeps the delete
    * metadata-sized, and the KEY-UNIQUE batch contract (the MERGE
    * cardinality rule's analogue) — two rows for one key in the SAME
    * commit share a sequence number, so neither shadows the other and
    * last-wins is undefined; refuse loudly instead of committing both.
    */
  private def upsertEqDelete(
      schema: StructType, keyCols: Seq[String], keys: Seq[IndexedSeq[Any]],
      segs: Seq[Segment], seq: Long): Option[EqDelete] = {
    validateUpsertKeys(schema, keyCols)
    val distinct = keys.distinct.toVector
    val maxKeys = upsertMaxKeys
    require(distinct.length <= maxKeys,
      s"upsert commit carries ${distinct.length} distinct keys (> $maxKeys) — " +
        "use MERGE INTO for bulk rewrites or raise -Dgraft.upsert.maxKeys")
    val written = segs.map(_.rows).sum
    require(written == distinct.length,
      s"upsert batch is not key-unique: $written rows over ${distinct.length} " +
        s"distinct (${keyCols.mkString(",")}) keys — dedup the batch first " +
        "(keep the last row per key)")
    if (distinct.isEmpty) None else Some(EqDelete(keyCols, distinct, seq))
  }

  /** UPSERT commit (merge-on-read, the Iceberg-v2 equality-delete
    * shape): append the batch's segments AND register one equality
    * delete over the batch's distinct key tuples — older rows with
    * those keys disappear at read time, no file is rewritten.
    * Compaction materializes and GCs the delete. An upsert is a blind
    * write, so a lost ledger CAS re-applies it onto the winner.
    */
  private[sources] def installUpsert(
      ident: Identifier, segs: Seq[Segment], keyCols: Seq[String],
      keys: Seq[IndexedSeq[Any]]): Unit =
    commitSegments(ident) { (prev, v) =>
      Some(prev.copy(
        segments = prev.segments ++ segs,
        eqDeletes = prev.eqDeletes ++ upsertEqDelete(prev.schema, keyCols, keys, segs, v)))
    }

  private[graft] def analyzedOf(ident: Identifier): Map[String, ColAnalysis] =
    Option(store.get(ident)).map(_.analyzed).getOrElse(Map.empty)

  /** Install ANALYZE results. Pure statistics metadata: updates the
    * entry (and the durable ledger) without publishing a snapshot —
    * stats are advisory to the planner, not part of the data's history.
    */
  private[sources] def installColStats(
      ident: Identifier, analysis: Map[String, ColAnalysis]): Unit = mutate {
    store.compute(ident, (_, prev) => {
      if (prev == null) throw new NoSuchTableException(ident)
      prev.copy(analyzed = analysis)
    })
    persistTable(ident)
  }

  /** Streaming epoch commit. `truncate` = Complete output mode: each
    * epoch REPLACES the table with the full recomputed result instead
    * of appending (the pre-round-7 bug was dropping this flag and
    * appending every epoch — duplicating rows). Goes through
    * [[commitSegments]]: a streaming epoch racing another DRIVER's
    * commit re-applies onto the reloaded winner instead of killing the
    * streaming query (which would burn a full checkpoint-restart per
    * lost CAS). The epochs ledger rides in the entry
    * ([[TableEntry]]`.epochs`), so the reload restores it with the rest
    * and the exactly-once replay check always judges against committed
    * truth. Truncate epochs re-applying over a concurrent append IS
    * the complete-mode contract: each epoch replaces the whole table.
    */
  private[sources] def installEpoch(
      ident: Identifier, queryId: String, epochId: Long,
      segs: Seq[Segment], truncate: Boolean,
      // Streaming UPSERT epoch: (key columns, this epoch's key tuples)
      // — appended segments + one equality delete, atomically; a
      // replayed epoch registers NEITHER (exactly-once covers both).
      upsert: Option[(Seq[String], Seq[IndexedSeq[Any]])] = None): Unit = {
    val applied = commitSegments(ident) { (prev, v) =>
      if (prev.epochs.get(queryId).exists(epochId <= _._1)) None // replayed: already visible
      else {
        val eq = upsert.flatMap { case (kc, ks) => upsertEqDelete(prev.schema, kc, ks, segs, v) }
        Some(prev.copy(
          segments = if (truncate) segs.toVector else prev.segments ++ segs,
          eqDeletes = prev.eqDeletes ++ eq,
          epochs = prev.epochs + (queryId -> (epochId, System.currentTimeMillis()))))
      }
    }
    // Replayed-epoch segments were NEVER visible to any scan — delete
    // immediately (no snapshot ever referenced them); an applied epoch
    // publishes a snapshot and retention protects what it replaced.
    if (!applied) segs.foreach(SegmentIO.delete)
  }

  /** Resolve a `compact(..., where)` predicate — comma-joined
    * `field=value` equalities on partition fields — to the partition
    * GROUPS it names (None = whole table). Identity columns coerce the
    * literal to the column type (exact key equality, dates accepted as
    * `yyyy-MM-dd` or epoch-day); transform fields (`days(ts)`,
    * `bucket(n, k)`, …) compare against the TRANSFORM VALUE's string
    * form — the same value `.partitions`/`.files` metadata tables
    * display, so "read the partitions dashboard, compact the hot key"
    * round-trips. Old-era segments written under a different spec
    * never match a field they weren't keyed on (conservative: a scoped
    * compact must not silently migrate eras; full compact does that).
    */
  private[sources] def compactKeysFor(
      ident: Identifier, where: String): Option[Set[(Seq[String], IndexedSeq[Any])]] = {
    // TOP-LEVEL commas only: 'bucket(16,k)=3,d=2024-01-01' is two
    // clauses and bucket's inner comma must not split it, nor a comma
    // inside a quoted value (k='a,b'); same splitter as set_partitioning.
    val clauses = GraftMvOps.splitTop(where)
    if (clauses.isEmpty) return None
    val entry = store.get(ident)
    if (entry == null) throw new NoSuchTableException(ident)
    val eqs = clauses.map { c =>
      val i = c.indexOf('=')
      require(i > 0, s"malformed compact where clause '$c' (want field=value)")
      c.substring(0, i).trim ->
        c.substring(i + 1).trim.stripPrefix("'").stripSuffix("'")
    }.toSeq
    eqs.foreach { case (f, _) =>
      require(entry.partitionCols.contains(f),
        s"'$f' is not a partition field of $ident " +
          s"(current spec: ${entry.partitionCols.mkString(", ")})")
    }
    import org.apache.spark.sql.types._
    def matches(spec: Seq[String], key: IndexedSeq[Any]): Boolean = eqs.forall {
      case (f, raw) =>
        val i = spec.indexOf(f)
        i >= 0 && {
          val k = key(i)
          entry.schema.fields.find(_.name == f).map(_.dataType) match {
            case Some(IntegerType) => k == Integer.valueOf(raw.toInt)
            case Some(LongType) => k == java.lang.Long.valueOf(raw.toLong)
            case Some(StringType) => k == raw
            case Some(DateType) =>
              val days = if (raw.contains("-")) java.time.LocalDate.parse(raw).toEpochDay.toInt
                         else raw.toInt
              k == Integer.valueOf(days) // keys store internal epoch-day
            case _ => String.valueOf(k) == raw // transform-valued field
          }
        }
    }
    val hit = entry.segments.map(s => (s.spec, s.key)).distinct.filter {
      case (spec, key) => matches(spec, key)
    }.toSet
    require(hit.nonEmpty,
      s"compact where '$where' matches no partition group of $ident")
    Some(hit)
  }

  /** OPTIMIZE-style segment compaction (`CALL graft.system.compact`):
    * within each partition-key group, segments beyond the first are
    * folded into ONE fresh segment (streamed, never materialized), the
    * list swaps atomically as the next snapshot, and the small files
    * retire through the usual retention GC; result and conflicts as
    * in [[rewriteGroups]]. The small-files answer for a long-running
    * append/stream workload — same protocol as Delta OPTIMIZE /
    * Iceberg rewrite_data_files at demo scale (a cluster deployment
    * would run the rewrites as tasks; the commit path is identical).
    *
    * `onlyKeys` restricts the fold to these partition-group keys
    * (auto-compaction's scoped path — groups outside the scope pass
    * through byte-identical); None = every group (the `CALL` path).
    */
  private[sources] def compact(
      ident: Identifier,
      onlyKeys: Option[Set[(Seq[String], IndexedSeq[Any])]] = None): (Int, Int, Long) =
    rewriteGroups(ident, onlyKeys) { entry =>
    // A declared write order obliges compaction to PRESERVE range
    // clustering: successive INSERTs are each internally range-disjoint
    // but overlap ACROSS inserts, so a naive fold-to-one would erase
    // the layout the order bought. Instead the group's rows are folded
    // in sorted order and split at a byte target — output segments are
    // globally range-DISJOINT on the order columns (compaction then
    // IMPROVES pruning rather than destroying it).
    val orderIdx: Array[Int] =
      writeOrderCols(entry.props, entry.schema).map(entry.schema.fieldIndex).toArray
    // The sorted-provenance stamp below is only honest when the fold's
    // comparator actually handles every order column's type — foldLt
    // falls back to 0 for anything else, which INTERLEAVES runs.
    val orderProvable = orderIdx.nonEmpty &&
      orderIdx.forall(i => sortProvableType(entry.schema.fields(i).dataType))
    // Compaction is the EQUALITY-DELETE materialization point too:
    // after a full compact no live segment predates any eq delete, so
    // publish-time GC drops them all.
    val compiledEq = EqFilter.compileAll(entry.schema, entry.eqDeletes)
    def liveOf(seg: Segment): GraftSegFile = GraftSegFile.of(seg, compiledEq)
    (spec, key, segs) =>
        if (spec != entry.partitionCols) {
          // PARTITION-SPEC MIGRATION: a group written under an older
          // spec re-routes its live rows into segments keyed by the
          // CURRENT spec — compaction is the era-migration point (the
          // Iceberg rewrite_data_files answer to spec evolution).
          // `sorted` stays false: re-routing may interleave runs.
          // Keys route through the write router's PartField.keyOf.
          val keyOf = PartField.keyOf(entry.partitionCols, entry.schema)
          val writers =
            new scala.collection.mutable.LinkedHashMap[IndexedSeq[Any], SegmentIO.Writer]()
          segs.foreach { seg =>
            SegmentIO.foreachRow(liveOf(seg), entry.schema.length) { r =>
              writers.getOrElseUpdate(keyOf(r),
                new SegmentIO.Writer(entry.dir, entry.schema)).add(r)
            }
          }
          writers.toSeq.flatMap { case (k, w) =>
            w.finish().map(_.copy(key = k, spec = entry.partitionCols))
          }
        }
        // A lone segment still rewrites when it carries a deletion
        // vector OR a pending equality delete — compaction is the
        // dv/eq materialization point.
        else if (segs.length <= 1 && segs.forall(_.dv.isEmpty) &&
          !segs.exists(s => entry.eqDeletes.exists(_.appliesTo(s)))) segs
        else if (orderIdx.isEmpty)
          // ROW-LINEAGE preservation: the unordered fold concatenates
          // sources in list order through the lineage-preserving copy.
          SegmentIO.rewrite(segs.map(liveOf), entry.dir, entry.schema.length, entry.schema)(
            Some(_)).map(_.copy(key = key, spec = spec)).toSeq
        else {
          val buf = new SegmentIO.RowBuffer(entry.schema.length)
          segs.foreach(seg => SegmentIO.foreachRow(liveOf(seg), entry.schema.length)(buf.add))
          val sorted = buf.sortedBy(foldLt(entry.schema, orderIdx))
          val totalBytes = segs.map(s =>
            if (s.bytes > 0) s.bytes else s.rows * 8L * (entry.schema.length + 1)).sum
          val outSegs = math.max(1, math.ceil(totalBytes.toDouble / compactTargetBytes).toInt)
          val perSeg = math.max(1, math.ceil(sorted.length.toDouble / outSegs).toInt)
          // The sorted fold provably orders output on the write-order
          // columns — carry the provenance flag (only for types the
          // comparator really compares).
          buf.write(sorted, perSeg, entry.dir, entry.schema).map(_.copy(
            key = key, sorted = orderProvable, spec = spec))
        }
  }

  /** The frame [[compact]] and [[zorder]] share: refresh once, rewrite
    * each in-scope (spec, key) group with the function `plan` derives
    * from the entry, and commit through [[commitRewrite]] as a logical
    * no-op (dataChange=false: streams ride through, CDC emits nothing)
    * — a concurrent commit that removed or dv-marked a rewritten
    * segment, or changed the equality deletes applying to one, refuses
    * it. Returns (segmentsBefore,
    * segmentsAfter, rows), `rows` summing `liveRows` over the published
    * list: exact whenever every group an equality delete applies to
    * was in scope (always, for a full rewrite).
    */
  private def rewriteGroups(ident: Identifier,
      onlyKeys: Option[Set[(Seq[String], IndexedSeq[Any])]])(
      plan: TableEntry => (Seq[String], IndexedSeq[Any], Vector[Segment]) => Seq[Segment])
      : (Int, Int, Long) = mutate {
    refreshIfStale(ident)
    val entry = store.get(ident)
    if (entry == null) throw new NoSuchTableException(ident)
    val rewrite = plan(entry)
    // Group by (spec, key): after a partition-spec evolution, equal key
    // VECTORS under different specs are different partitions. The
    // unambiguous separator keeps distinct groups from colliding and
    // ordering unstably across runs.
    val planned = entry.segments.groupBy(s => (s.spec, s.key)).toSeq
      .sortBy { case ((spec, key), _) => spec.mkString(" ") + "\u0000" + key.mkString(" ") }
      .flatMap { case ((spec, key), segs) =>
        if (onlyKeys.exists(!_.contains((spec, key)))) segs else rewrite(spec, key, segs)
      }.toVector
    val out = commitRewrite(ident, entry, planned, dataChange = false)
    (entry.segments.length, out.length, out.map(_.liveRows).sum)
  }

  /** OPTIMIZE ZORDER analogue (`CALL graft.system.zorder`): rewrite the
    * table's segments so rows are ordered by the bit-interleaved
    * Z-value of up to 4 numeric columns, then split into
    * `targetSegments` balanced files per partition group. Zone maps
    * collected on the rewrite (same writer as every commit) then give
    * MULTI-dimensional segment skipping: after clustering, each
    * segment's (min, max) hyper-rectangle on the Z columns is tight, so
    * a conjunctive range filter on ANY clustered column — not just a
    * sort prefix — prunes most files. This is the Delta
    * `OPTIMIZE ZORDER BY` / Iceberg `rewrite_data_files(sort_order =>
    * zorder(...))` move. Normalization is rank-free (min/max linear to
    * 16 bits/column): cheap, stable, and exact enough for locality —
    * clustering affects only pruning power, never results.
    *
    * Identity-partitioned tables cluster WITHIN each partition group
    * (the partition column already is the coarse layout dimension).
    * Driver-side streaming rewrite at demo scale, like compact(); on a
    * cluster the same commit protocol would wrap a range-partitioned
    * sort job. The swap publishes atomically as the next snapshot, so
    * time travel and concurrent scans stay correct — and a streaming
    * read sees it as a change commit (skip or fail, never duplicate).
    * Result and conflicts as in [[rewriteGroups]].
    */
  private[sources] def zorder(
      ident: Identifier, cols: Seq[String], targetSegments: Int,
      // Scoped re-clustering (see [[compactKeysFor]]): at 100 TB you
      // z-order the recent/hot partition groups, not the whole table.
      onlyKeys: Option[Set[(Seq[String], IndexedSeq[Any])]] = None): (Int, Int, Long) =
    rewriteGroups(ident, onlyKeys) { entry =>
    import org.apache.spark.sql.types._
    require(cols.nonEmpty && cols.length <= 4, "zorder takes 1..4 numeric columns")
    // Z-ordering interleaves bits: output segments are NOT sorted on
    // any single column, which would silently contradict the declared
    // write order (and the sort-elimination the scan reports from it).
    require(!entry.props.contains(WriteOrderProp),
      s"zorder conflicts with declared write order ('$WriteOrderProp'); UNSET it first")
    require(targetSegments >= 1, "target_segments must be >= 1")
    val schema = entry.schema
    val zIdx: Array[Int] = cols.map { c =>
      val i =
        try schema.fieldIndex(c)
        catch { case _: IllegalArgumentException => throw new IllegalArgumentException(
          s"zorder column $c not in ${schema.simpleString}") }
      if (entry.partitionCols.contains(c)) throw new IllegalArgumentException(
        s"zorder column $c is a partition column — already the coarse layout dimension")
      schema.fields(i).dataType match {
        case LongType | IntegerType | ShortType | ByteType | DoubleType | FloatType => i
        case dt => throw new UnsupportedOperationException(
          s"zorder supports numeric columns, $c is $dt")
      }
    }.toArray

    def numeric(row: UnsafeRow, i: Int): Double =
      if (row.isNullAt(i)) Double.NaN
      else schema.fields(i).dataType match {
        case LongType => row.getLong(i).toDouble
        case IntegerType => row.getInt(i).toDouble
        case ShortType => row.getShort(i).toDouble
        case ByteType => row.getByte(i).toDouble
        case DoubleType => row.getDouble(i)
        case FloatType => row.getFloat(i).toDouble
        case _ => Double.NaN
      }
    // MSB-first round-robin interleave of 16 normalized bits per column.
    def zvalue(norm: Array[Int]): Long = {
      var z = 0L
      var b = 15
      while (b >= 0) {
        var i = 0
        while (i < norm.length) {
          z = (z << 1) | ((norm(i) >> b) & 1); i += 1
        }
        b -= 1
      }
      z
    }

    // Like compact, the Z-order rewrite MATERIALIZES pending equality
    // deletes (filters matching rows while folding).
    val zCompiledEq = EqFilter.compileAll(schema, entry.eqDeletes)
    (spec, key, segs) => {
        // Pass 1 (buffered): the live rows + their z-column values.
        val buf = new SegmentIO.RowBuffer(schema.length)
        val vals = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        segs.foreach { seg =>
          SegmentIO.foreachRow(GraftSegFile.of(seg, zCompiledEq), schema.length) { r =>
            buf.add(r)
            vals += zIdx.map(numeric(r, _))
          }
        }
        val n = buf.length
        if (n == 0) Nil
        else {
          val mins = Array.fill(zIdx.length)(Double.PositiveInfinity)
          val maxs = Array.fill(zIdx.length)(Double.NegativeInfinity)
          vals.foreach { v =>
            var i = 0
            while (i < v.length) {
              if (!v(i).isNaN) {
                if (v(i) < mins(i)) mins(i) = v(i)
                if (v(i) > maxs(i)) maxs(i) = v(i)
              }
              i += 1
            }
          }
          def norm16(v: Double, i: Int): Int =
            if (v.isNaN || !(maxs(i) > mins(i))) 0
            else math.min(65535, ((v - mins(i)) / (maxs(i) - mins(i)) * 65535.0).toInt)
          val order = (0 until n).sortBy(r => zvalue(
            Array.tabulate(zIdx.length)(i => norm16(vals(r)(i), i))))
          val perSeg = math.max(1L, math.ceil(n.toDouble / targetSegments).toLong)
          buf.write(order, perSeg.toInt, entry.dir, schema)
            .map(_.copy(key = key, spec = spec))
        }
    }
  }

  /** Metadata-path DELETE, MERGE-ON-READ first. Per segment:
    *
    *  - zone maps prove no match → kept byte-for-byte (no I/O; on a
    *    partitioned table a partition-key DELETE touches only the
    *    matching partitions' files);
    *  - a MINORITY of live rows match → a DELETION VECTOR of their
    *    physical ordinals is attached (merged with any existing one).
    *    No data file is written — the 100 TB point-delete answer: a
    *    1-row delete in a 1 GB segment costs a bitmap entry, not a
    *    gigabyte rewrite. Readers skip dv ordinals; compact/Z-order
    *    materialize them later;
    *  - a MAJORITY match → copy-on-write rewrite of the survivors
    *    (an almost-empty file plus an almost-full bitmap serves reads
    *    worse than a small clean file), read through the equality
    *    deletes so the new sequence stamp cannot resurrect a row; every
    *    row matching → the segment simply leaves the list.
    *
    * The list swaps atomically as the next snapshot; a change stream
    * treats a dv change exactly like a segment removal (change
    * commit). Driver-side streaming I/O at demo scale — on a cluster
    * the per-segment work runs as tasks, same commit protocol.
    *
    * Conflicts ([[commitRewrite]]): a concurrent commit that changed
    * a touched segment, or the equality deletes applying to one,
    * refuses the DELETE; any other re-applies
    * (write-serializable: rows a concurrent append added survive).
    */
  private[sources] def deleteWhere(
      ident: Identifier,
      schema: StructType,
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = mutate {
    import org.apache.spark.sql.sources.{And, Filter}
    val cond: Option[Filter] = filters.reduceOption(And.apply)
    def hit(r: UnsafeRow): Boolean = filters.forall(GraftFilterEval.eval(_, schema, r))
    refreshIfStale(ident)
    val base = store.get(ident)
    require(base != null, s"table $ident dropped mid-delete")
    val compiledEq = EqFilter.compileAll(base.schema, base.eqDeletes)
    val planned = base.segments.flatMap { seg =>
      val file = GraftSegFile.of(seg, compiledEq)
      def survivors: Option[Segment] =
        SegmentIO.rewrite(Seq(file), base.dir, base.schema.length, base.schema)(
          r => if (hit(r)) None else Some(r)).map(_.copy(key = seg.key, spec = seg.spec))
      // mightMatch false ⇒ the conjunction provably matches no row of
      // this segment ⇒ the DELETE cannot touch it: keep the file.
      if (cond.exists(c => !ZoneMap.mightMatch(c, schema, seg))) Some(seg)
      else if (seg.rows > Int.MaxValue) survivors // not dv-addressable (ordinals are Int)
      else {
        val hits = scala.collection.immutable.BitSet.newBuilder
        var nHits = 0L
        SegmentIO.withCursor(file, base.schema.length) { cur =>
          while (cur.nextLive())
            if (hit(cur.row)) { hits += cur.ordinal.toInt; nHits += 1 }
        }
        val live = seg.liveRows
        if (nHits == 0) Some(seg)
        else if (nHits == live) None // whole segment deleted: file retires via retention
        else if (nHits * 2 > live) survivors
        else Some(seg.copy(dv =
          Some(seg.dv.getOrElse(scala.collection.immutable.BitSet.empty) ++ hits.result())))
      }
    }
    commitRewrite(ident, base, planned, dataChange = true): Unit
  }
}

/** A catalog table: batch-readable, batch-writable (append, truncate,
  * overwrite) with the same two-phase commit protocol as
  * GraftMemorySink, and DELETE-capable (`SupportsDelete`):
  * `DELETE FROM graft.ns.t WHERE …` ships the WHERE down as source
  * Filters, and the table mostly attaches DELETION VECTORS to the
  * matching segments instead of rewriting them (see
  * [[GraftCatalog.deleteWhere]]). A predicate the evaluator can't
  * prove (`canDeleteWhere` false) never takes that path, so it cannot
  * delete the wrong rows: Spark plans it — like every UPDATE / MERGE —
  * as a group-based row-level rewrite (`SupportsRowLevelOperations`).
  */
private[sources] class GraftCatalogTable(
    ident: Identifier, schema0: StructType, dir: String,
    pinned: Option[Vector[GraftCatalog.Segment]] = None,
    partitionCols: Seq[String] = Nil,
    tableConstraints: Vector[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
      Vector.empty,
    // Equality deletes pinned ALONGSIDE the segment list (time-travel
    // loads): a versioned read must subtract exactly the deletes that
    // were outstanding at that snapshot.
    pinnedEq: Vector[GraftCatalog.EqDelete] = Vector.empty)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations with SupportsMetadataColumns {

  override def metadataColumns(): Array[MetadataColumn] = GraftMetaCols.columns

  /** Live lookup, not a constructor snapshot: properties are catalog
    * metadata (SHOW TBLPROPERTIES must see a concurrent SET), and a
    * live read keeps every loadTable call site prop-agnostic.
    */
  override def properties(): util.Map[String, String] = {
    // The copy_into ingestion registry is internal bookkeeping — a
    // multi-thousand-token list would drown SHOW TBLPROPERTIES (and
    // SET of it is refused as reserved, so echoing it back invites a
    // confusing round-trip failure). UNSET still reaches it: Spark
    // sends RemoveProperty without consulting this map.
    val m = new util.HashMap[String, String](GraftCatalog.tablePropsJava(ident))
    m.remove(GraftCatalog.CopyIntoProp)
    util.Collections.unmodifiableMap(m)
  }

  /** Reported constraints drive Spark's own write-side enforcement of
    * ENFORCED CHECKs (the engine never has to re-implement the check).
    */
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    tableConstraints.toArray
  /** Whether this table instance reads a PINNED snapshot (time travel /
    * stale-delta scan) rather than the live segment list.
    */
  private[sources] def isPinned: Boolean = pinned.isDefined

  override def name(): String =
    if (pinned.isDefined) s"$ident (time travel)" else ident.toString
  override def schema(): StructType = schema0
  override def partitioning(): Array[Transform] =
    partitionCols.map(c => PartField.parse(c).toTransform).toArray
  // A time-travel (pinned-snapshot) table is READ-ONLY: snapshots are
  // immutable history, and advertising write capabilities would let
  // `INSERT INTO t VERSION AS OF 2` plan before failing confusingly.
  override def capabilities(): util.Set[TableCapability] =
    if (pinned.isDefined) util.EnumSet.of(TableCapability.BATCH_READ)
    else util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ,
      // `MERGE WITH SCHEMA EVOLUTION`: the analyzer may push the
      // source-vs-target schema delta (AddColumn / safe widening)
      // through alterTable and re-plan against the evolved table.
      // Safe to advertise unconditionally — the clause is explicit
      // opt-in per statement, and alterTable enforces its own guards
      // (partition/constraint columns, lossy retypes refuse).
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => GraftFilterEval.supported(f, schema0))

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    GraftCatalog.deleteWhere(ident, schema0, filters)

  /** GROUP-BASED row-level ops (UPDATE / MERGE INTO / complex DELETE):
    * Spark rewrites the statement into (scan the affected groups) ⋈
    * (source) → recomputed rows → replace those groups. The GROUPS here
    * are SEGMENTS: Spark's row-level scan planning pushes the
    * operation's condition into this scan, segments whose zone maps
    * prove the condition can't match are EXCLUDED from the rewrite and
    * re-attached untouched at commit, and only the segments that might
    * hold affected rows stream through the recompute — on a partitioned
    * table a partition-key UPDATE/MERGE rewrites just those partitions
    * (copy-on-write scoping, the Iceberg file-group shape). The scan is
    * PINNED to the segment list it partitioned (kept + scanned is one
    * consistent snapshot), and the commit swap is atomic under the same
    * two-phase protocol as INSERT OVERWRITE. Exclusion is sound because
    * zone-map pruning is conservative: a kept segment provably contains
    * NO row the operation could change.
    */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new RowLevelOperation {
      // Segments excluded from the rewrite, re-attached at commit.
      // Fed from two pruning stages: the STATIC condition pushdown at
      // scan build, and Spark's RUNTIME group filter (MERGE computes
      // the matching groups from the source side at execution) via the
      // scan's onRuntimeExclude callback. Deduped by path — both
      // stages may exclude, and planning may re-run.
      @volatile private var kept: Vector[GraftCatalog.Segment] = Vector.empty
      // Touched segments IN SCAN-PARTITION ORDER (the pinned vector the
      // rewrite scan planned one split per segment from) — the basis of
      // CDC rewrite provenance: with no exchange between the scan and
      // the replace-data write, writer task i's output segment IS the
      // rewrite of touched(i).
      @volatile private var touched: Vector[GraftCatalog.Segment] = Vector.empty
      // Table version the rewrite scan planned against — the
      // optimistic-concurrency token the commit checks (see
      // GraftCatalog.installRowLevel).
      @volatile private var plannedVersion: Long = -1L
      private def addKept(segs: Vector[GraftCatalog.Segment]): Unit = synchronized {
        kept = (kept ++ segs).distinctBy(_.path)
      }
      override def command(): RowLevelOperation.Command = info.command()
      override def description(): String = s"GraftRowLevel(${info.command()}, $ident)"
      // GENERATED ALWAYS identity enforcement inside a MERGE rewrite
      // needs row PROVENANCE: carried (pre-existing) rows and
      // NOT-MATCHED inserts reach the writer through one channel, and
      // only the _row_id metadata column separates them — non-null for
      // rows the target scan produced, null for insert-action rows
      // (Spark projects nulls for metadata attrs with no target row).
      // Requested only when the table actually has an ALWAYS identity
      // column, so every other rewrite keeps the plain write path.
      private val hasAlwaysIdentity = schema0.fields.exists(f =>
        org.apache.spark.sql.catalyst.util.IdentityColumn.getIdentityInfo(f)
          .exists(!_.isAllowExplicitInsert))
      override def requiredMetadataAttributes()
          : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
        if (hasAlwaysIdentity)
          Array(org.apache.spark.sql.connector.expressions.Expressions
            .column(GraftMetaCols.RowId))
        else Array.empty
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        new ScanBuilder with SupportsPushDownFilters
          with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
          import org.apache.spark.sql.sources.Filter
          private var pruning: Array[Filter] = Array.empty
          // Group-based rewrites never prune DATA columns (the write
          // needs full rows back) — this hook exists so the requested
          // _row_id METADATA column rides into the scan output.
          private var required0: StructType = schema0
          override def pruneColumns(requiredSchema: StructType): Unit =
            required0 = StructType(
              schema0.fields.filter(f => requiredSchema.fieldNames.contains(f.name)) ++
                requiredSchema.fields.filter(f => GraftMetaCols.names.contains(f.name)))
          override def pushFilters(filters: Array[Filter]): Array[Filter] = {
            pruning = filters.filter(ZoneMap.prunable(_, schema0))
            filters // all residual: the rewrite re-evaluates per row
          }
          override def pushedFilters(): Array[Filter] = pruning
          override def build(): Scan = {
            // ONE consistent (version, segments, eq) read — the
            // stateOf discipline: an upsert committing between two
            // separate reads would pin a pre-upsert segment list
            // against a post-upsert eq-delete set, and the rewrite
            // would both filter the upserted keys' old rows AND drop
            // the upsert's new segment at the truncate-install. The
            // version is the conflict token installRowLevel checks.
            val (vNow, segsNow, eqsNow) = GraftCatalog.versionedStateOf(ident)
            plannedVersion = vNow
            val (touch, keep) = segsNow.partition(seg =>
              pruning.forall(f => ZoneMap.mightMatch(f, schema0, seg)))
            addKept(keep)
            touched = touch
            GraftCatalogScan(ident, schema0, required = required0,
              pinned = Some(touch),
              partitionCols = partitionCols, onRuntimeExclude = Some(addKept),
              rowLevel = true,
              // Rewrites read eq-filtered rows (pinned with the live
              // deletes at plan time) — which is what makes stamping
              // the rewritten output at the NEW data sequence number
              // sound: the bytes written no longer contain them.
              pinnedEq = eqsNow)
          }
        }
      override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder =
        new WriteBuilder {
          override def build(): Write = new Write {
            override def toBatch: BatchWrite = new BatchWrite {
              private val inner = new GraftCatalogBatchWrite(
                ident, schema0, dir, truncateFirst = true, partCols = partitionCols,
                // Row-level rewrites re-write rows that already carry
                // their identity values — not user-supplied inserts.
                // Per-row provenance (the requested _row_id metadata)
                // re-enables the ALWAYS refusal for MERGE-inserted rows.
                identityStrict = false,
                identityFromMeta = hasAlwaysIdentity)
              override def createBatchWriterFactory(
                  pinfo: PhysicalWriteInfo): DataWriterFactory =
                inner.createBatchWriterFactory(pinfo)
              override def commit(messages: Array[WriterCommitMessage]): Unit = {
                val msgs = messages.collect { case m: GraftSegmentMessage => m }
                // MERGE NOT MATCHED inserts may have GENERATED identity
                // values — advance the watermark exactly like the plain
                // batch commit (before data; gap-not-collision;
                // concurrent-advance conflict fails the commit).
                GraftCatalog.advanceIdentityChecked(ident, msgs.toSeq, inner.identitySpecs)
                val rewritten = msgs.sortBy(_.partitionId).flatMap(_.segments)
                // CDC REWRITE PROVENANCE (UPDATE, unpartitioned scans
                // only — keyed scans group several segments per split,
                // so no per-segment correspondence exists): with no
                // exchange in the replace-data plan, writer task i
                // rewrote touched-after-runtime-exclusion segment i.
                // Record added→source pairs only where the task emitted
                // EXACTLY one segment whose row count equals the
                // source's live rows (UPDATE preserves cardinality; a
                // partition-column update that re-routes rows, or any
                // plan that broke the correspondence, fails the count
                // check and falls back to plain delete+insert CDC).
                val rewrites: Map[String, String] =
                  if (info.command() != RowLevelOperation.Command.UPDATE ||
                      partitionCols.nonEmpty) Map.empty
                  else {
                    val keptPaths = kept.map(_.path).toSet
                    val executed = touched.filterNot(s => keptPaths.contains(s.path))
                    val byTask = msgs.map(m => m.partitionId -> m.segments).toMap
                    executed.indices.flatMap { i =>
                      byTask.get(i) match {
                        case Some(segs) if segs.length == 1 &&
                            segs.head.rows == executed(i).liveRows =>
                          Some(segs.head.path -> executed(i).path)
                        case _ => None
                      }
                    }.toMap
                  }
                // Replace the table with kept (untouched) + rewritten —
                // refused if any commit landed since the scan pinned
                // its snapshot (the truncate-swap would erase it).
                GraftCatalog.installRowLevel(ident, kept ++ rewritten,
                  plannedVersion, rewrites = rewrites)
              }
              override def abort(messages: Array[WriterCommitMessage]): Unit =
                inner.abort(messages)
            }
          }
        }
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val sv = Option(options.get("startingVersion")).map(_.toLong)
    // `startingTimestamp` (the Delta option): replay from the FIRST
    // commit AT OR AFTER the instant — the "resume since yesterday"
    // spelling for users who don't track version numbers. Resolved
    // eagerly against retained history; a timestamp past the newest
    // commit refuses loudly (silently starting "from now" would skip
    // nothing visibly and surprise a replay consumer — Delta refuses
    // too). Mutually exclusive with startingVersion.
    val st = Option(options.get("startingTimestamp")).map { s =>
      val inst = GraftChangeScan.parseInstant(s).getOrElse(
        throw new IllegalArgumentException(
          s"startingTimestamp must be a timestamp (got '$s'); " +
            "use startingVersion for version numbers"))
      val micros = inst.getEpochSecond * 1000000L + inst.getNano / 1000L
      GraftCatalog.retainedSnapshots(ident)
        .find(_.wallMs * 1000L >= micros).map(_.version).getOrElse(
          throw new IllegalArgumentException(
            s"startingTimestamp '$s' is after $ident's newest commit — " +
              "nothing would replay; drop the option to start from now"))
    }
    require(sv.isEmpty || st.isEmpty,
      s"stream over $ident: startingVersion and startingTimestamp are mutually exclusive")
    new GraftCatalogScanBuilder(ident, schema0, pinned, partitionCols,
      maxSegmentsPerTrigger =
        Option(options.get("maxSegmentsPerTrigger")).map(_.toInt),
      skipChangeCommits = options.getBoolean("skipChangeCommits", false),
      startingVersion = sv.orElse(st),
      pinnedEq = pinnedEq)
  }

  /** Writes to a PARTITIONED table request a CLUSTERED distribution on
    * the partition columns (`RequiresDistributionAndOrdering`): Spark
    * shuffles the incoming rows so each partition value lands in one
    * task — one segment per value instead of one per (value × task),
    * the small-files story at scale.
    *
    * A DECLARED WRITE ORDER (`'graft.write.order'='c1,c2'`
    * TBLPROPERTY — the Iceberg `WRITE ORDERED BY` shape) makes an
    * unpartitioned table request a RANGE distribution + sort on those
    * columns instead: every INSERT range-partitions its rows, so each
    * segment lands with NARROW, DISJOINT [min,max] on the order
    * columns and zone-map pruning is selective from ingestion on — no
    * `CALL graft.system.zorder` rewrite needed to make point/range
    * predicates skip. (Partition clustering wins when both are set:
    * the order then sorts WITHIN each partition's segment, tightening
    * nothing across segments but keeping runs scan-friendly.)
    * Unpartitioned, unordered tables request nothing and keep the
    * incoming parallelism.
    */
  /** PARTITION-SCOPED and DYNAMIC `INSERT OVERWRITE` — the idempotent
    * backfill primitive: replace exactly one partition's (or the
    * incoming keys') data in one atomic commit, never the table.
    *  - `SupportsOverwrite`: accepts only conjunctions of EqualTo on
    *    partition columns (what `PARTITION (k='a')` compiles to) —
    *    segment granularity is EXACT there (identity partitions have
    *    min = max = the value, so the zone-map match is equality, not
    *    might-match). Anything else is refused loudly, and plain
    *    `INSERT OVERWRITE` without a clause degenerates to truncate.
    *  - `SupportsDynamicOverwrite` (`partitionOverwriteMode=dynamic`):
    *    at commit, segments whose partition key appears among the
    *    INCOMING segments' keys are replaced; untouched partitions
    *    survive. A failed job commits nothing either way.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate
        with org.apache.spark.sql.connector.write.SupportsOverwrite
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      import org.apache.spark.sql.sources.{AlwaysTrue, EqualTo, EqualNullSafe, Filter}
      private var truncateFirst = false
      private var overwriteFilters: Option[Seq[Filter]] = None
      private var dynamicOverwrite = false
      // UPSERT write (`df.writeTo(t).option("graft.upsert.keys", "k")`
      // or `writeStream.option(...)`): append + one equality delete
      // over the batch's keys, in one commit. Validated NOW — a bad
      // key column must fail before a byte is written.
      private val upsertKeys: Seq[String] =
        Option(info.options.get("graft.upsert.keys"))
          .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      if (upsertKeys.nonEmpty) GraftCatalog.validateUpsertKeys(schema0, upsertKeys)
      // copy_into's source-file tokens: committed atomically with the
      // batch's segments (exactly-once ingestion, see CopyIntoProp).
      private val copyTokens: Seq[String] =
        Option(info.options.get(GraftCatalog.CopyIntoTokensOption))
          .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      override def truncate(): WriteBuilder = { truncateFirst = true; this }
      private def partitionAligned(f: Filter): Boolean = f match {
        case EqualTo(c, _) => partitionCols.contains(c)
        case EqualNullSafe(c, _) => partitionCols.contains(c)
        case _: AlwaysTrue => true
        case _ => false
      }
      override def canOverwrite(filters: Array[Filter]): Boolean =
        filters.forall(partitionAligned)
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        require(filters.forall(partitionAligned),
          s"graft overwrite supports only partition-column equality filters, " +
            s"got [${filters.mkString(", ")}]")
        if (filters.forall(_.isInstanceOf[AlwaysTrue])) truncateFirst = true
        else overwriteFilters = Some(filters.toSeq.filterNot(_.isInstanceOf[AlwaysTrue]))
        this
      }
      override def overwriteDynamicPartitions(): WriteBuilder = {
        require(partitionCols.nonEmpty,
          "dynamic partition overwrite needs a partitioned table")
        dynamicOverwrite = true
        this
      }
      override def build(): Write = new Write with RequiresDistributionAndOrdering {
        import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
        import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
        // Resolved at write-build time (not cached): order columns a
        // later ALTER dropped are silently skipped — the write must
        // not fail for a stale layout hint.
        private def orderCols: Seq[String] =
          GraftCatalog.writeOrderCols(
            GraftCatalog.tablePropsJava(ident).asScala.toMap, schema0)
        private def sortOrders: Array[SortOrder] =
          orderCols.map(c => Expressions.sort(
            Expressions.column(c),
            org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
        override def requiredDistribution(): Distribution =
          // Transform fields cluster by the TRANSFORM expression — Spark
          // resolves days/bucket/truncate through this catalog's
          // loadFunction (empty namespace), so the shuffle routes rows
          // exactly like the per-task writer keys them and a
          // days-partitioned ingest lands one segment per day per key,
          // not per task.
          if (partitionCols.nonEmpty) Distributions.clustered(
            partitionCols.map(c => PartField.parse(c).toTransform: org.apache.spark.sql.connector.expressions.Expression).toArray)
          else if (orderCols.nonEmpty) Distributions.ordered(sortOrders)
          else Distributions.unspecified()
        override def requiredOrdering(): Array[SortOrder] = sortOrders
        if (upsertKeys.nonEmpty)
          require(!truncateFirst && overwriteFilters.isEmpty && !dynamicOverwrite,
            "graft.upsert.keys composes only with plain append — " +
              "truncate/overwrite modes already replace whole partitions")
        if (copyTokens.nonEmpty)
          require(!truncateFirst && overwriteFilters.isEmpty && !dynamicOverwrite &&
              upsertKeys.isEmpty,
            "copy_into tokens compose only with plain append")
        override def toBatch: BatchWrite =
          new GraftCatalogBatchWrite(ident, schema0, dir, truncateFirst, partitionCols,
            sortedWrite = orderCols.nonEmpty,
            overwriteFilters = overwriteFilters,
            dynamicOverwrite = dynamicOverwrite,
            upsertKeys = upsertKeys,
            copyTokens = copyTokens)
        // truncateFirst here = Complete output mode: replace-per-epoch.
        override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          new GraftCatalogStreamingWrite(ident, schema0, dir, info.queryId(), truncateFirst,
            partitionCols, upsertKeys = upsertKeys)
      }
    }
}


/** A stored catalog view: the definition-time query text + resolution
  * context, re-resolved on every read (late binding).
  */
private[sources] case class GraftView(
    ident: Identifier, query: String, currentCatalog: String,
    currentNamespace: Array[String], schema: StructType,
    queryColumnNames: Array[String], columnAliases: Array[String],
    columnComments: Array[String], props: util.Map[String, String]) extends View {
  override def name(): String = ident.toString
  override def properties(): util.Map[String, String] = props
}
