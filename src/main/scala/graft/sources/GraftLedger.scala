package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.constraints.{Check, Constraint}
import org.apache.spark.sql.types.{DataType, StructType}

/** Durable metastore ledger for [[GraftCatalog]] (the restart story —
  * the Delta `_delta_log` / Iceberg metadata-file role).
  *
  * Layout under the catalog root:
  * {{{
  *   <root>/_ledger/tables/<enc(ns)>~<enc(name)>.json.d/<%020d>.json
  *   <root>/_ledger/views/<enc(ns)>~<enc(name)>.json
  *   <root>/_ledger/dropped/<enc(ns)>~<enc(name)>.json
  * }}}
  * A table document holds what the catalog keeps per table in two
  * records: the CURRENT entry (schema, segment list, partition
  * columns, constraints, and the streaming EPOCH ledger, so
  * exactly-once survives a restart) and the retained snapshot HISTORY
  * (time travel survives a restart). The entry's epochs are written
  * under the `epochs` / `epochsTouchedMs` keys; the sequence and
  * checkpoint anchor the catalog records beside the history come from
  * the document's number, not its body. Documents are compact JSON.
  *
  * NUMBERED CAS DOCUMENTS (tables): a commit writes the table's next
  * sequence number, `<known+1>.json`, by write-temp + fsync + atomic
  * hardlink (put-if-absent; see `casWrite` for why rename is NOT the
  * primitive) — the Delta `_delta_log/N.json` shape. Of two driver
  * JVMs racing the same number exactly one wins; the loser reloads the
  * winner's state and retries (appends, upserts and streaming epochs
  * re-apply and both land) or refuses (row-level rewrites — see
  * GraftCatalog.commitSegments). A DROP is a tombstone document, so
  * sequences stay monotonic across drop / recreate. Documents are
  * sealed with a length + CRC trailer, so a torn one never validates.
  *
  * DELTA AND CHECKPOINT REPLAY: a CHECKPOINT document carries the whole
  * state ([[encodeTable]]); a DELTA document carries the current entry
  * plus only the history snapshots the commit added and the versions it
  * expired ([[encodeTableDelta]]). A reader walks down from the top
  * number to the nearest checkpoint (or a flat legacy `<fname>.json`,
  * which reads as sequence 0) and replays the deltas above it in order;
  * the CAS makes that replay exact. A checkpoint is forced every few
  * sequences, so replay stays short.
  *
  * BLOOM-ONCE RULE: a segment's bloom payload (its largest field) is
  * written inline at most once per document — at the first occurrence
  * of its path in a checkpoint, and in a delta only for a segment new
  * to the state the delta replays onto. Every other occurrence carries
  * `"bloomsRef": true`, which the decoder resolves by path from the
  * same document or the replayed base state (see `BloomPool`).
  * Documents written before the rule (blooms inline everywhere) decode
  * unchanged.
  *
  * Zone-map min/max values are persisted SELF-DESCRIBING
  * (`{"t":"i32","v":7}`) rather than relying on the current schema:
  * historical snapshots may carry schemas that later ALTERs widened,
  * and a stat decoded under the wrong type would silently mis-prune.
  *
  * Views and the drop-trash stay last-write-wins flat documents
  * (temp file + ATOMIC_MOVE, under the catalog's mutation lock) — they
  * are not data-commit surfaces.
  */
private[graft] object GraftLedger {
  import GraftCatalog.{CatalogSnapshot, ColStat, Segment, TableEntry}

  private val M = new ObjectMapper()

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def fileName(ident: Identifier): String =
    (ident.namespace().map(enc) :+ enc(ident.name())).mkString("~") + ".json"
  /** The ledger file name of a table — exposed so the catalog can match
    * directory listings back to identifiers it already knows without
    * decoding every document.
    */
  def fileNameOf(ident: Identifier): String = fileName(ident)

  def tablesDir(root: Path): Path = root.resolve("_ledger").resolve("tables")
  def viewsDir(root: Path): Path = root.resolve("_ledger").resolve("views")
  /** Soft-dropped (UNDROP-able) table documents — same encoding as a
    * live table doc plus a `droppedWallMs` stamp.
    */
  def droppedDir(root: Path): Path = root.resolve("_ledger").resolve("dropped")

  def droppedWallOf(json: String): Long =
    Option(M.readTree(json).get("droppedWallMs")).map(_.asLong()).getOrElse(0L)

  // ---- typed scalar codec (the zone-map / partition-key value types) ----

  private def valNode(v: Any): JsonNode = {
    val o = M.createObjectNode()
    v match {
      case null => return M.nullNode()
      case x: java.lang.Long => o.put("t", "i64").put("v", x.longValue())
      case x: java.lang.Integer => o.put("t", "i32").put("v", x.intValue())
      case x: java.lang.Short => o.put("t", "i16").put("v", x.intValue())
      case x: java.lang.Byte => o.put("t", "i8").put("v", x.intValue())
      case x: java.lang.Double => o.put("t", "f64").put("v", x.doubleValue())
      case x: java.lang.Float => o.put("t", "f32").put("v", x.floatValue())
      case x: java.lang.Boolean => o.put("t", "bool").put("v", x.booleanValue())
      case x: String => o.put("t", "str").put("v", x)
      case other => throw new IllegalArgumentException(
        s"unpersistable metastore value type: ${other.getClass.getName}")
    }
    o
  }

  private def valOf(n: JsonNode): Any =
    if (n == null || n.isNull) null
    else n.get("t").asText() match {
      case "i64" => java.lang.Long.valueOf(n.get("v").asLong())
      case "i32" => java.lang.Integer.valueOf(n.get("v").asInt())
      case "i16" => java.lang.Short.valueOf(n.get("v").asInt().toShort)
      case "i8" => java.lang.Byte.valueOf(n.get("v").asInt().toByte)
      case "f64" => java.lang.Double.valueOf(n.get("v").asDouble())
      case "f32" => java.lang.Float.valueOf(n.get("v").asDouble().toFloat)
      case "bool" => java.lang.Boolean.valueOf(n.get("v").asBoolean())
      case "str" => n.get("v").asText()
      case t => throw new IllegalArgumentException(s"unknown ledger value tag: $t")
    }

  // ---- segments ----

  /** Per-column bloom bit arrays of a segment (see `Segment.blooms`). */
  private type Blooms = IndexedSeq[Option[Array[Long]]]

  /** The bloom payloads a document has carried so far, by segment
    * path — the BLOOM-ONCE rule. A path names one immutable file whose
    * blooms the writer fixed when it wrote it, so every occurrence of
    * the path carries the same payload. A segment therefore writes its
    * blooms inline only where the path is not in the pool yet (or the
    * pool holds different bits); everywhere else it writes
    * `"bloomsRef": true`. Encoder and decoder fill the pool in the same
    * order: a checkpoint starts empty and adds each inline payload in
    * document order (the entry's segments, then history); a delta
    * starts from the state it replays onto. A reference the decoder
    * cannot resolve decodes as "no bloom" — never prunes, never a wrong
    * bloom — and an older decoder ignores the unknown key the same way.
    */
  private type BloomPool = scala.collection.mutable.HashMap[String, Blooms]

  private def sameBlooms(a: Blooms, b: Blooms): Boolean =
    a.length == b.length && a.indices.forall { i =>
      (a(i), b(i)) match {
        case (Some(x), Some(y)) => (x eq y) || java.util.Arrays.equals(x, y)
        case (x, y) => x.isEmpty && y.isEmpty
      }
    }

  /** A pool holding the blooms of `segs`. */
  private def poolOf(segs: Iterator[Segment]): BloomPool = {
    val pool: BloomPool = new scala.collection.mutable.HashMap
    segs.foreach(s => if (s.blooms.nonEmpty) pool.put(s.path, s.blooms))
    pool
  }

  private def segNode(s: Segment, pool: BloomPool): ObjectNode = {
    val o = M.createObjectNode()
    o.put("path", s.path).put("rows", s.rows).put("bytes", s.bytes)
    if (s.sorted) o.put("sorted", true)
    if (s.seq != 0L) o.put("seq", s.seq)
    if (s.lineage.nonEmpty) {
      // Row-lineage runs, flattened [firstId, count, lastUpdatedSeq]*.
      val ln = o.putArray("lin")
      s.lineage.foreach { case (f, c, q) => ln.add(f); ln.add(c); ln.add(q) }
    }
    if (s.spec.nonEmpty) {
      val sp = o.putArray("spec")
      s.spec.foreach(sp.add)
    }
    val st = o.putArray("stats")
    s.stats.foreach { cs =>
      val c = M.createObjectNode()
      c.set("min", valNode(cs.min)); c.set("max", valNode(cs.max))
      c.put("nulls", cs.nulls)
      st.add(c)
    }
    val k = o.putArray("key")
    s.key.foreach(v => k.add(valNode(v)))
    s.dv.foreach { bits =>
      val d = o.putArray("dv")
      bits.foreach(d.add)
    }
    if (s.blooms.nonEmpty && pool.get(s.path).exists(sameBlooms(_, s.blooms)))
      o.put("bloomsRef", true)
    else if (s.blooms.nonEmpty) {
      pool.put(s.path, s.blooms)
      // One entry per column, positionally aligned with "stats":
      // base64 of the little-endian long-array bits, or null for a
      // column without a bloom.
      val bl = o.putArray("blooms")
      s.blooms.foreach {
        case Some(bits) =>
          val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.asLongBuffer().put(bits)
          bl.add(java.util.Base64.getEncoder.encodeToString(bb.array()))
        case None => bl.add(M.nullNode())
      }
    }
    o
  }

  private def segOf(n: JsonNode, pool: BloomPool): Segment = {
    val path = n.get("path").asText()
    val stats = n.get("stats").elements().asScala.map { c =>
      ColStat(valOf(c.get("min")), valOf(c.get("max")), c.get("nulls").asLong())
    }.toVector
    val key = n.get("key").elements().asScala.map(valOf).toVector
    val dv = Option(n.get("dv")).map { d =>
      scala.collection.immutable.BitSet(d.elements().asScala.map(_.asInt()).toSeq: _*)
    }
    // Absent node (pre-bloom ledger) → empty: pruning just skips blooms.
    val blooms: Blooms = Option(n.get("blooms")).map { b =>
      val bl = b.elements().asScala.map { e =>
        if (e.isNull) None
        else {
          val bytes = java.util.Base64.getDecoder.decode(e.asText())
          val bits = new Array[Long](bytes.length / 8)
          java.nio.ByteBuffer.wrap(bytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).asLongBuffer().get(bits)
          Some(bits)
        }
      }.toVector
      pool.put(path, bl)
      bl
    }.getOrElse(
      if (n.path("bloomsRef").asBoolean(false)) pool.getOrElse(path, Vector.empty)
      else Vector.empty)
    Segment(path, n.get("rows").asLong(),
      n.get("bytes").asLong(), stats, key, dv, blooms,
      // Absent node (pre-sorted-flag ledger) => false: the scan just
      // reports no ordering, which is always safe.
      sorted = Option(n.get("sorted")).exists(_.asBoolean()),
      // Absent node (pre-spec ledger): a keyed segment was necessarily
      // written under the table's then-only spec — the caller patches
      // it to the entry's partitionCols (see decodeTable); Nil here.
      spec = Option(n.get("spec"))
        .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil),
      // Absent node (pre-eq ledger) => 0: every equality delete
      // re-applies, which is the safe direction.
      seq = Option(n.get("seq")).map(_.asLong()).getOrElse(0L),
      // Absent node (pre-lineage ledger) => empty: the reader serves
      // NULL _row_id until publish assigns fresh ids.
      lineage = Option(n.get("lin")).map { ln =>
        ln.elements().asScala.map(_.asLong()).grouped(3)
          .map { case Seq(f, c, q) => (f, c, q) }.toVector: IndexedSeq[(Long, Long, Long)]
      }.getOrElse(Vector.empty))
  }

  // ---- equality deletes (merge-on-read upserts) ----

  private[sources] def eqNode(eq: GraftCatalog.EqDelete): ObjectNode = {
    val o = M.createObjectNode()
    o.put("seq", eq.seq)
    val kc = o.putArray("keyCols")
    eq.keyCols.foreach(kc.add)
    val ks = o.putArray("keys")
    eq.keys.foreach { t =>
      val tn = ks.addArray()
      t.foreach(v => tn.add(valNode(v)))
    }
    o
  }

  private[sources] def eqOf(n: JsonNode): GraftCatalog.EqDelete =
    GraftCatalog.EqDelete(
      n.get("keyCols").elements().asScala.map(_.asText()).toSeq,
      n.get("keys").elements().asScala.map(t =>
        t.elements().asScala.map(valOf).toVector: IndexedSeq[Any]).toVector,
      n.get("seq").asLong())

  // ---- constraints (CHECK round-trips exactly; anything else is
  // informational-only here and recorded as DDL text) ----

  private def constraintNode(c: Constraint): ObjectNode = {
    val o = M.createObjectNode()
    c match {
      case ck: Check =>
        o.put("kind", "check").put("name", ck.name())
          .put("predicateSql", ck.predicateSql())
          .put("enforced", ck.enforced()).put("rely", ck.rely())
          .put("status", ck.validationStatus().name())
      case other =>
        o.put("kind", "ddl").put("name", other.name()).put("ddl", other.toDDL)
    }
    o
  }

  private def constraintOf(n: JsonNode): Option[Constraint] =
    n.get("kind").asText() match {
      case "check" =>
        Some(Constraint.check(n.get("name").asText())
          .predicateSql(n.get("predicateSql").asText())
          .enforced(n.get("enforced").asBoolean())
          .rely(n.get("rely").asBoolean())
          .validationStatus(
            Constraint.ValidationStatus.valueOf(n.get("status").asText()))
          .build())
      // Non-CHECK constraints are accepted NOT ENFORCED and carry no
      // enforcement state — dropping them on reload loses only their
      // SHOW DDL echo, never a correctness guarantee.
      case _ => None
    }

  // ---- table document ----

  /** One history snapshot. `segmentsRef`: the snapshot's segments are
    * the document entry's, written as `"segmentsRef": true` instead of
    * a second copy (see [[encodeTableDelta]]).
    */
  private def snapNode(
      snap: CatalogSnapshot, pool: BloomPool, segmentsRef: Boolean = false): ObjectNode = {
    val h = M.createObjectNode()
    h.put("version", snap.version).put("wallMs", snap.wallMs)
    h.put("schema", snap.schema.json)
    if (segmentsRef) h.put("segmentsRef", true)
    else {
      val hs = h.putArray("segments")
      snap.segments.foreach(s => hs.add(segNode(s, pool)))
    }
    val hpc = h.putArray("partitionCols")
    snap.partitionCols.foreach(hpc.add)
    val hcons = h.putArray("constraints")
    snap.constraints.foreach(c => hcons.add(constraintNode(c)))
    if (snap.rewrites.nonEmpty) {
      val hr = h.putObject("rewrites")
      snap.rewrites.foreach { case (a, s) => hr.put(a, s) }
    }
    if (!snap.dataChange) h.put("dataChange", false)
    if (snap.eqDeletes.nonEmpty) {
      val he = h.putArray("eqDeletes")
      snap.eqDeletes.foreach(eq => he.add(eqNode(eq)))
    }
    h
  }

  /** Everything a table document carries EXCEPT its history shape —
    * shared by checkpoint documents (full retained history) and delta
    * documents (added/expired only).
    */
  private def tableDocNode(
      ident: Identifier, entry: TableEntry, pool: BloomPool): ObjectNode = {
    val o = M.createObjectNode()
    val ns = o.putArray("namespace")
    ident.namespace().foreach(ns.add)
    o.put("name", ident.name())
    o.put("schema", entry.schema.json)
    o.put("dir", entry.dir)
    val pc = o.putArray("partitionCols")
    entry.partitionCols.foreach(pc.add)
    val segs = o.putArray("segments")
    entry.segments.foreach(s => segs.add(segNode(s, pool)))
    val cons = o.putArray("constraints")
    entry.constraints.foreach(c => cons.add(constraintNode(c)))
    if (entry.eqDeletes.nonEmpty) {
      val ee = o.putArray("eqDeletes")
      entry.eqDeletes.foreach(eq => ee.add(eqNode(eq)))
    }
    // Epoch values and their last-touched wall times ride as SIBLING
    // objects (not a combined record) so documents written before the
    // touched map existed decode unchanged — absent stamps default to
    // decode-time "now", erring toward keeping idempotence protection
    // (the same rebased-clock policy as snapshot-retention reload).
    val ep = o.putObject("epochs")
    entry.epochs.foreach { case (qid, (e, _)) => ep.put(qid, e) }
    if (entry.epochs.nonEmpty) {
      val et = o.putObject("epochsTouchedMs")
      entry.epochs.foreach { case (qid, (_, t)) => et.put(qid, t) }
    }
    val an = o.putObject("analyzed")
    entry.analyzed.foreach { case (c, a) =>
      val n = M.createObjectNode()
      n.put("ndv", a.ndv).put("nulls", a.nulls)
      an.set[com.fasterxml.jackson.databind.JsonNode](c, n): Unit
    }
    val pr = o.putObject("props")
    entry.props.foreach { case (k, v) => pr.put(k, v) }
    if (entry.nextRowId != 0L) o.put("nextRowId", entry.nextRowId)
    o
  }

  /** CHECKPOINT document: the entry, its full retained `history`, and
    * `epochs` as the document's epoch map (the catalog passes the
    * entry's own; decoding puts the map back into `TableEntry.epochs`).
    */
  def encodeTable(
      ident: Identifier, entry: TableEntry,
      history: Vector[CatalogSnapshot],
      epochs: Map[String, (Long, Long)],
      droppedWallMs: Option[Long] = None): String = {
    val pool = new BloomPool
    val o = tableDocNode(ident, entry.copy(epochs = epochs), pool)
    droppedWallMs.foreach(o.put("droppedWallMs", _))
    val hist = o.putArray("history")
    history.foreach(snap => hist.add(snapNode(snap, pool)))
    M.writeValueAsString(o)
  }

  /** DELTA document (log-structured commits): the full CURRENT entry
    * (small — O(table segments), not O(history)) plus only the
    * history snapshots ADDED by this commit and the versions EXPIRED by
    * it. A reader resolves state by replaying deltas upward from the
    * nearest lower CHECKPOINT (a plain [[encodeTable]] document). The
    * CAS protocol guarantees a delta at sequence N was computed against
    * the resolved state at N−1 — to win seq N a writer must have
    * observed (and reloaded) N−1 — so replay is exact, never a merge.
    * `base` is the history the delta replays onto: blooms of segments
    * it already holds ride as references (the bloom-once rule), so a
    * delta carries only the blooms of segments new in this commit.
    * An added snapshot whose segments are the entry's — the usual case,
    * as `publish` builds the snapshot from the entry — lists them once,
    * in the entry, and carries `"segmentsRef": true`.
    */
  def encodeTableDelta(
      ident: Identifier, entry: TableEntry, base: Vector[CatalogSnapshot],
      added: Vector[CatalogSnapshot], expiredVersions: Seq[Long]): String = {
    val pool = poolOf(base.iterator.flatMap(_.segments))
    val o = tableDocNode(ident, entry, pool)
    o.put("delta", true)
    val ad = o.putArray("added")
    added.foreach(snap => ad.add(snapNode(snap, pool, segmentsRef = snap.segments == entry.segments)))
    val ex = o.putArray("expired")
    expiredVersions.foreach(ex.add)
    M.writeValueAsString(o)
  }

  def isDelta(json: String): Boolean =
    try M.readTree(json).path("delta").asBoolean(false)
    catch { case _: com.fasterxml.jackson.core.JacksonException => false }

  /** One decoded history snapshot; `fallbackCols`/`fallbackCons` serve
    * pre-spec-snapshot ledgers that carry no per-snapshot partition or
    * constraint info — fall back to the entry's CURRENT values (the
    * old, weaker behavior) rather than silently un-partitioning.
    */
  private def snapOf(h: JsonNode, fallbackCols: Seq[String],
      fallbackCons: Vector[Constraint], monoNow: Long, pool: BloomPool,
      entrySegs: Vector[Segment]): CatalogSnapshot = {
    val snapCols = Option(h.get("partitionCols"))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(fallbackCols)
    def patchSpec(ss: Vector[Segment]): Vector[Segment] =
      ss.map(s => if (s.spec.isEmpty && s.key.nonEmpty) s.copy(spec = snapCols) else s)
    CatalogSnapshot(
      h.get("version").asLong(), h.get("wallMs").asLong(), monoNow,
      DataType.fromJson(h.get("schema").asText()).asInstanceOf[StructType],
      patchSpec(
        if (h.path("segmentsRef").asBoolean(false)) entrySegs
        else h.get("segments").elements().asScala.map(segOf(_, pool)).toVector),
      snapCols,
      Option(h.get("constraints"))
        .map(_.elements().asScala.flatMap(constraintOf).toVector).getOrElse(fallbackCons),
      Option(h.get("rewrites")).map { r =>
        r.properties().asScala.map(kv => kv.getKey -> kv.getValue.asText()).toMap
      }.getOrElse(Map.empty[String, String]),
      // Absent node (pre-flag ledger) => true: treating an old no-op
      // commit as a data commit is the conservative direction.
      dataChange = Option(h.get("dataChange")).forall(_.asBoolean()),
      eqDeletes = Option(h.get("eqDeletes"))
        .map(_.elements().asScala.map(eqOf).toVector).getOrElse(Vector.empty))
  }

  /** Decoded table document. Snapshot `mono` stamps are REBASED to the
    * loading JVM's clock (nanoTime bases differ across processes); every
    * reloaded snapshot gets a fresh retention window, which errs on the
    * side of keeping time travel alive after a restart.
    */
  /** The non-history half of a table/delta document, decoded; the last
    * element is the entry's segments as written (before the pre-spec
    * patch), which a `segmentsRef` snapshot resolves to.
    */
  private def decodeDocCommon(o: JsonNode, pool: BloomPool)
      : (Identifier, TableEntry, Seq[String], Vector[Constraint], Vector[Segment]) = {
    val ns = o.get("namespace").elements().asScala.map(_.asText()).toArray
    val ident = Identifier.of(ns, o.get("name").asText())
    val schema = DataType.fromJson(o.get("schema").asText()).asInstanceOf[StructType]
    val segs = o.get("segments").elements().asScala.map(segOf(_, pool)).toVector
    val partCols = o.get("partitionCols").elements().asScala.map(_.asText()).toSeq
    val cons = o.get("constraints").elements().asScala.flatMap(constraintOf).toVector
    val analyzed = Option(o.get("analyzed")).map { a =>
      a.properties().asScala.map { kv =>
        kv.getKey -> GraftCatalog.ColAnalysis(
          kv.getValue.get("ndv").asLong(), kv.getValue.get("nulls").asLong())
      }.toMap
    }.getOrElse(Map.empty[String, GraftCatalog.ColAnalysis])
    // Absent node (pre-props ledger) → empty map.
    val props = Option(o.get("props")).map { p =>
      p.properties().asScala.map(kv => kv.getKey -> kv.getValue.asText()).toMap
    }.getOrElse(Map.empty[String, String])
    // Pre-spec ledgers: a keyed segment was written under the only
    // spec the table then had — its snapshot's (or entry's) cols.
    def patchSpec(ss: Vector[Segment], spec: Seq[String]): Vector[Segment] =
      ss.map(s => if (s.spec.isEmpty && s.key.nonEmpty) s.copy(spec = spec) else s)
    val entry =
      TableEntry(schema, patchSpec(segs, partCols), o.get("dir").asText(),
        partCols, cons, analyzed, props,
        eqDeletes = Option(o.get("eqDeletes"))
          .map(_.elements().asScala.map(eqOf).toVector).getOrElse(Vector.empty),
        nextRowId = Option(o.get("nextRowId")).map(_.asLong()).getOrElse(0L),
        epochs = epochsOf(o))
    (ident, entry, partCols, cons, segs)
  }

  private def epochsOf(o: JsonNode): Map[String, (Long, Long)] = {
    val touched = Option(o.get("epochsTouchedMs")).map { t =>
      t.properties().asScala.map(kv => kv.getKey -> kv.getValue.asLong()).toMap
    }.getOrElse(Map.empty[String, Long])
    val nowMs = System.currentTimeMillis() // legacy docs: fresh window
    Option(o.get("epochs")).map { e =>
      e.properties().asScala.map(kv =>
        kv.getKey -> (kv.getValue.asLong(),
          touched.getOrElse(kv.getKey, nowMs))).toMap
    }.getOrElse(Map.empty[String, (Long, Long)])
  }

  def decodeTable(json: String, monoNow: Long)
      : (Identifier, TableEntry, Vector[CatalogSnapshot], Map[String, (Long, Long)]) = {
    val o = M.readTree(json)
    val pool = new BloomPool
    val (ident, entry, partCols, cons, segs) = decodeDocCommon(o, pool)
    val hist = o.get("history").elements().asScala
      .map(h => snapOf(h, partCols, cons, monoNow, pool, segs)).toVector
    (ident, entry, hist, entry.epochs)
  }

  /** Decoded delta document: (ident, entry, addedSnapshots,
    * expiredVersions). `pool` holds the blooms of the state it
    * replays onto; the delta's own inline blooms join it.
    */
  private def decodeTableDelta(json: String, monoNow: Long, pool: BloomPool)
      : (Identifier, TableEntry, Vector[CatalogSnapshot], Seq[Long]) = {
    val o = M.readTree(json)
    val (ident, entry, partCols, cons, segs) = decodeDocCommon(o, pool)
    val added = o.get("added").elements().asScala
      .map(h => snapOf(h, partCols, cons, monoNow, pool, segs)).toVector
    val expired = o.get("expired").elements().asScala.map(_.asLong()).toSeq
    (ident, entry, added, expired)
  }

  // ---- view document ----

  def encodeView(v: GraftView): String = {
    val o = M.createObjectNode()
    val ns = o.putArray("namespace")
    v.ident.namespace().foreach(ns.add)
    o.put("name", v.ident.name())
    o.put("query", v.query)
    o.put("currentCatalog", v.currentCatalog)
    val cns = o.putArray("currentNamespace")
    v.currentNamespace.foreach(cns.add)
    o.put("schema", v.schema.json)
    val qc = o.putArray("queryColumnNames"); v.queryColumnNames.foreach(qc.add)
    val ca = o.putArray("columnAliases"); v.columnAliases.foreach(ca.add)
    val cc = o.putArray("columnComments")
    v.columnComments.foreach(c => if (c == null) cc.addNull() else cc.add(c))
    val pr = o.putObject("props")
    v.props.asScala.foreach { case (k, vv) => pr.put(k, vv) }
    M.writeValueAsString(o)
  }

  def decodeView(json: String): GraftView = {
    val o = M.readTree(json)
    def strs(f: String): Array[String] =
      o.get(f).elements().asScala.map(n => if (n.isNull) null else n.asText()).toArray
    val ident = Identifier.of(strs("namespace"), o.get("name").asText())
    val props = new java.util.HashMap[String, String]()
    o.get("props").properties().asScala.foreach(kv => props.put(kv.getKey, kv.getValue.asText()))
    GraftView(ident, o.get("query").asText(), o.get("currentCatalog").asText(),
      strs("currentNamespace"),
      DataType.fromJson(o.get("schema").asText()).asInstanceOf[StructType],
      strs("queryColumnNames"), strs("columnAliases"), strs("columnComments"),
      java.util.Collections.unmodifiableMap(props))
  }

  // ---- atomic file IO ----

  /** Write the fsynced temp file all atomic publishes rename from.
    * Deletes its own temp on a failed write — the callers' finally
    * blocks only see the path once this returns.
    */
  private def writeTmp(dir: Path, json: String): Path = {
    val tmp = Files.createTempFile(dir, ".tmp-", ".json")
    try {
      // fsync BEFORE the publish: on delayed-allocation filesystems a
      // crash can otherwise persist the directory entry but not the
      // bytes, leaving a truncated document — exactly the torn state
      // the never-torn contract rules out. Data first, then the
      // directory entry (best-effort: some platforms refuse dir fds).
      val ch = java.nio.channels.FileChannel.open(tmp, java.nio.file.StandardOpenOption.WRITE)
      try {
        ch.write(java.nio.ByteBuffer.wrap(json.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        ch.force(true)
      } finally ch.close()
      tmp
    } catch { case t: Throwable =>
      try Files.deleteIfExists(tmp) catch { case _: java.io.IOException => () }
      throw t
    }
  }

  def write(dir: Path, ident: Identifier, json: String): Unit = {
    Files.createDirectories(dir)
    val target = dir.resolve(fileName(ident))
    val tmp = writeTmp(dir, json)
    try {
      Files.move(tmp, target,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      fsyncDir(dir)
    } finally Files.deleteIfExists(tmp)
  }

  // ---- numbered table documents (cross-process CAS commits) ----

  /** Per-table numbered-document directory: `<fname>.d/`. */
  private def docDir(dir: Path, ident: Identifier): Path = docDirByName(dir, fileName(ident))
  private def docDirByName(dir: Path, fname: String): Path = dir.resolve(fname + ".d")

  private def seqOf(p: Path): Option[Long] = {
    val n = p.getFileName.toString
    if (n.endsWith(".json") && !n.startsWith(".tmp-"))
      n.stripSuffix(".json").toLongOption.filter(_ >= 0)
    else None
  }

  /** DROP is a COMMIT, not a directory removal: the table's next
    * numbered document is this tombstone, so ledger sequences stay
    * MONOTONIC across drop / recreate / undrop. Removing the directory
    * instead would reset the sequence to 0 — a stale process whose
    * knownSeq predates the drop would then CAS knownSeq+1 ABOVE the new
    * incarnation's documents and silently shadow (or resurrect) the
    * table. Readers map a tombstone top-document to "table absent at
    * this sequence".
    */
  val Tombstone: String = "{\"tombstone\":true}"
  def isTombstone(json: String): Boolean = json.startsWith("{\"tombstone\"")

  /** Highest numbered sequence in a `.d` directory; -1 if none. */
  private def maxSeqIn(d: Path): Long =
    if (!Files.isDirectory(d)) -1L
    else {
      val s = Files.list(d)
      try s.iterator().asScala.flatMap(seqOf).foldLeft(-1L)(math.max)
      finally s.close()
    }

  /** Highest committed sequence of a table's ledger, or -1 if the table
    * has no document. A legacy flat document counts as sequence 0.
    * One directory listing — the cross-process staleness probe every
    * commit pays; metadata-scale, the same `ls _delta_log` Delta pays.
    */
  def latestSeq(dir: Path, ident: Identifier): Long =
    latestSeqByName(dir, fileName(ident))

  private def latestSeqByName(dir: Path, fname: String): Long = {
    val fromDir = maxSeqIn(docDirByName(dir, fname))
    if (fromDir >= 0) fromDir
    else if (Files.exists(dir.resolve(fname))) 0L
    else -1L
  }

  /** Latest committed document + its sequence. None ONLY when no
    * document exists; a persistent read failure WITH documents present
    * throws (masquerading as table-absence would let a transient I/O
    * error erase the table from a caller's metastore). Re-lists on a
    * read race (a concurrent writer's GC may delete an old doc between
    * listing and read). A trailing document that is not valid JSON is
    * SKIPPED in favor of the one below it: only the no-hardlink O_EXCL
    * fallback can produce a torn document, and a torn document means
    * its writer crashed BEFORE the fsync that precedes acknowledgement
    * — that commit never happened.
    */
  def readLatest(dir: Path, ident: Identifier): Option[(String, Long)] =
    readLatestByName(dir, fileName(ident))

  def readLatestByName(dir: Path, fname: String): Option[(String, Long)] = {
    var attempt = 0
    while (attempt < 3) {
      val d = docDirByName(dir, fname)
      val numbered: Seq[Long] =
        if (!Files.isDirectory(d)) Nil
        else {
          val s = Files.list(d)
          try s.iterator().asScala.flatMap(seqOf).toSeq.sorted.reverse
          finally s.close()
        }
      if (numbered.isEmpty) {
        val flat = dir.resolve(fname)
        if (!Files.exists(flat)) return None
        try return Some((Files.readString(flat), 0L))
        catch { case _: java.io.IOException => attempt += 1 }
      } else {
        var raced = false
        numbered.foreach { seq =>
          if (!raced) {
            try {
              val raw = Files.readString(d.resolve(f"$seq%020d.json"))
              validate(raw) match {
                case Some(json) => return Some((json, seq))
                case None => () // torn trailing doc (O_EXCL fallback crash): step down
              }
            } catch { case _: java.io.IOException =>
              raced = true // GC race — re-list rather than step down
            }
          }
        }
        attempt += 1
      }
    }
    throw new java.io.IOException(
      s"ledger read of $fname kept failing while documents exist — transient " +
        "I/O or a GC race storm; retry the statement")
  }

  /** Strict: FAIL_ON_TRAILING_TOKENS, so a torn write whose prefix
    * contains one complete small JSON value followed by garbage cannot
    * masquerade as a valid document (default readTree stops at the
    * first value and ignores the rest).
    */
  private val strictM = {
    val m = new ObjectMapper()
    m.enable(
      com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    m
  }

  private def parses(json: String): Boolean =
    try { strictM.readTree(json); true }
    catch { case _: com.fasterxml.jackson.core.JacksonException => false }

  // ---- resolved state (checkpoint + delta replay) ----

  /** A table's fully-RESOLVED ledger state: `state` None = the top
    * document is a tombstone (table dropped); its fourth element is the
    * entry's epoch map (`entry.epochs`), the shape [[encodeTable]] takes
    * back. `seq` is the top
    * committed sequence; `checkpointSeq` is the anchor the resolution
    * started from (== `seq` when the top document is itself a
    * checkpoint or tombstone) — callers feed it back as [[casWrite]]'s
    * GC floor so delta chains never lose their anchor.
    */
  case class LedgerState(
      state: Option[(Identifier, TableEntry, Vector[CatalogSnapshot], Map[String, (Long, Long)])],
      seq: Long, checkpointSeq: Long)

  /** Replay delta documents (ascending sequence) onto a resolved base
    * state; returns the final state and the top sequence reached.
    */
  private def replayDeltas(
      base: (Identifier, TableEntry, Vector[CatalogSnapshot], Map[String, (Long, Long)]),
      baseSeq: Long, deltas: Iterator[(Long, String)], monoNow: Long)
      : ((Identifier, TableEntry, Vector[CatalogSnapshot], Map[String, (Long, Long)]), Long) = {
    var (id, entry, hist, _) = base
    var top = baseSeq
    // Paths are never reused (a fresh UUID per file), so one pool
    // serves the whole chain: each delta adds its new segments' blooms.
    val pool = poolOf(entry.segments.iterator ++ hist.iterator.flatMap(_.segments))
    deltas.foreach { case (dseq, djson) =>
      val (did, dentry, added, expired) = decodeTableDelta(djson, monoNow, pool)
      val byV = scala.collection.mutable.LinkedHashMap.empty[Long, CatalogSnapshot]
      hist.foreach(s0 => byV.put(s0.version, s0))
      added.foreach(s0 => byV.put(s0.version, s0))
      expired.foreach(byV.remove)
      hist = byV.values.toVector.sortBy(_.version)
      id = did; entry = dentry; top = dseq
    }
    ((id, entry, hist, entry.epochs), top)
  }

  def readTableState(dir: Path, ident: Identifier, monoNow: Long): Option[LedgerState] =
    readTableStateByName(dir, fileName(ident), monoNow)

  /** Resolve the table's state at its latest committed sequence: walk
    * DOWN from the top numbered document to the nearest CHECKPOINT
    * (full document) or tombstone, then replay the collected DELTA
    * documents upward. The CAS protocol makes the replay exact: a delta
    * at sequence N was computed against the resolved state at N−1 (to
    * win N its writer had to observe N−1), so applying added/expired in
    * sequence order reconstructs the same history every process saw.
    * Torn documents are skippable only at the TOP (an unacknowledged
    * in-flight writer); below any committed document they mean
    * corruption. Same GC-race retry discipline as [[readLatestByName]].
    */
  def readTableStateByName(dir: Path, fname: String, monoNow: Long): Option[LedgerState] = {
    var attempt = 0
    while (attempt < 3) {
      val d = docDirByName(dir, fname)
      val numbered: Seq[Long] =
        if (!Files.isDirectory(d)) Nil
        else {
          val s = Files.list(d)
          try s.iterator().asScala.flatMap(seqOf).toSeq.sorted.reverse
          finally s.close()
        }
      if (numbered.isEmpty) {
        val flat = dir.resolve(fname)
        if (!Files.exists(flat)) return None
        try return Some(LedgerState(Some(decodeTable(Files.readString(flat), monoNow)), 0L, 0L))
        catch { case _: java.io.IOException => attempt += 1 }
      } else {
        var raced = false
        var acceptedAny = false
        val deltas = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
        val it = numbered.iterator
        while (!raced && it.hasNext) {
          val seq = it.next()
          val raw =
            try Some(Files.readString(d.resolve(f"$seq%020d.json")))
            catch { case _: java.io.IOException => raced = true; None }
          raw.foreach { r =>
            validate(r) match {
              case None =>
                if (acceptedAny)
                  throw new java.io.IOException(
                    s"ledger of $fname: torn document at sequence $seq BELOW " +
                      "committed documents — corruption, refusing to resolve")
                // torn TOP doc: its writer never acked — step down.
              case Some(json) if isTombstone(json) =>
                if (deltas.nonEmpty)
                  throw new java.io.IOException(
                    s"ledger of $fname: delta documents above the tombstone at " +
                      s"sequence $seq — protocol violation, refusing to resolve")
                return Some(LedgerState(None, seq, seq))
              case Some(json) if isDelta(json) =>
                acceptedAny = true
                deltas += ((seq, json))
              case Some(json) => // checkpoint: resolve and replay upward
                acceptedAny = true
                val (st, top) = replayDeltas(
                  decodeTable(json, monoNow), seq, deltas.reverseIterator, monoNow)
                return Some(LedgerState(Some(st), top, seq))
            }
          }
        }
        // Numbered docs exhausted without a checkpoint. A LEGACY FLAT
        // document is the sequence-0 state and a valid anchor: a table
        // loaded from one reports checkpoint seq 0, so its next commit
        // may legally be a delta at seq 1 with no numbered checkpoint
        // below it. The same fallback with NO deltas covers a numbered
        // dir holding only a torn doc (a first CAS that crashed before
        // acking on a no-hardlink filesystem) above a valid flat doc —
        // the flat state still serves.
        if (!raced) {
          val flat = dir.resolve(fname)
          if (Files.exists(flat)) {
            try {
              val (st, top) = replayDeltas(
                decodeTable(Files.readString(flat), monoNow), 0L,
                deltas.reverseIterator, monoNow)
              return Some(LedgerState(Some(st), top, 0L))
            } catch { case _: java.io.IOException => () } // fall through to retry
          }
        }
        // Otherwise: a GC race mid-walk — re-list and retry.
        attempt += 1
      }
    }
    throw new java.io.IOException(
      s"ledger state resolution of $fname kept failing while documents exist — " +
        "transient I/O or a GC race storm; retry the statement")
  }

  /** Every table's RESOLVED state (tombstones as `state = None`) —
    * the startup load. Numbered `.d` directories take precedence over
    * flat legacy documents for the same table; unreadable entries are
    * skipped (startup must not abort on one bad table).
    */
  def readAllTableStates(dir: Path, monoNow: Long): Seq[LedgerState] = {
    if (!Files.isDirectory(dir)) return Nil
    val s = Files.list(dir)
    val (flat, numbered) =
      try {
        val entries = s.iterator().asScala.toSeq
        (entries.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".json") &&
          !p.getFileName.toString.startsWith(".tmp-")),
          entries.filter(p => Files.isDirectory(p) &&
            p.getFileName.toString.endsWith(".json.d")))
      } finally s.close()
    val fromDirsNamed = numbered.flatMap { d =>
      val fname = d.getFileName.toString.stripSuffix(".d")
      try readTableStateByName(dir, fname, monoNow).map(fname -> _)
      catch { case _: java.io.IOException => None } // startup: skip, not abort
    }
    // Only dirs that actually yielded a document shadow a flat legacy
    // doc (an empty .d dir — a crashed delete — must not hide one).
    val covered = fromDirsNamed.map(_._1).toSet
    val fromFlat = flat
      .filterNot(p => covered.contains(p.getFileName.toString))
      .sortBy(_.getFileName.toString)
      .flatMap { p =>
        try Some(LedgerState(Some(decodeTable(Files.readString(p), monoNow)), 0L, 0L))
        catch { case _: java.io.IOException => None }
      }
    fromFlat ++ fromDirsNamed.map(_._2)
  }

  // ---- document seal (torn-write detection for numbered docs) ----

  /** Numbered documents are SEALED: `<json>\n#graft-seal:<len>:<crc32>`.
    * The trailer closes the last torn-write hole the parse check alone
    * leaves open on no-hardlink filesystems: an O_EXCL-fallback writer
    * crashed mid-write leaves a PREFIX of the document, and a prefix
    * that happens to parse as valid JSON would otherwise be served as a
    * committed document. No prefix of a sealed document can carry a
    * trailer whose length+crc match the bytes before it, so prefix-torn
    * docs can never validate. Pre-seal documents (no trailer) fall back
    * to the parse check — the old, slightly weaker acceptance.
    */
  private val SealPrefix = "\n#graft-seal:"

  private def crcHex(s: String): String = {
    val c = new java.util.zip.CRC32()
    c.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.toHexString(c.getValue)
  }

  private def seal(json: String): String =
    json + SealPrefix + json.length + ":" + crcHex(json)

  /** The document body iff `raw` validates: a sealed doc whose trailer
    * verifies (body returned WITHOUT the trailer), or a trailer-less
    * legacy doc that parses. None = torn/corrupt — the reader steps
    * down to the sequence below.
    */
  private def validate(raw: String): Option[String] = {
    val i = raw.lastIndexOf(SealPrefix)
    // A real trailer is the FINAL line; lastIndexOf also shields a
    // sealed body that itself contains the marker text in a data value.
    if (i >= 0 && raw.indexOf('\n', i + SealPrefix.length) < 0) {
      val body = raw.substring(0, i)
      raw.substring(i + SealPrefix.length).split(':') match {
        case Array(len, crc)
          if len.toIntOption.contains(body.length) && crcHex(body) == crc =>
          Some(body)
        case _ => None
      }
    } else if (isTombstone(raw) || parses(raw)) Some(raw) // pre-seal legacy doc
    else None
  }

  /** CAS-commit `json` as the table's sequence-`seq` document: atomic
    * put-if-absent. Returns false when some other process already
    * committed that sequence — the caller reloads and retries or
    * refuses. On success, documents at `seq - 3` and below are GC'd
    * (a couple stay behind so a reader between list and read never
    * loses its target), and the legacy flat document is removed once a
    * numbered one exists.
    *
    * The put-if-absent primitive is `Files.createLink` (hardlink from
    * the fsynced temp file), NOT a rename: POSIX `rename()` silently
    * REPLACES an existing target — `Files.move(ATOMIC_MOVE)` maps to
    * it on Linux and does not throw on collision, so of two racing
    * drivers BOTH would believe they won and the first commit would be
    * overwritten (observed in the two-driver gauntlet as a lost
    * UPDATE). `link()` is atomic and fails with EEXIST, and because it
    * links the COMPLETE temp file, no reader can ever observe a torn
    * document. Filesystems without hardlinks fall back to an O_EXCL
    * create (also atomic-exclusive; its torn-write window on crash is
    * closed by readers skipping undecodable trailing docs).
    */
  /** `minKeepSeq`: GC floor for DELTA writers — documents at or above
    * it survive the post-win sweep regardless of age, so a delta chain
    * never loses the checkpoint (and intermediate deltas) its readers
    * replay from. Checkpoint/tombstone writers use the default (their
    * document subsumes everything below).
    */
  def casWrite(dir: Path, ident: Identifier, rawJson: String, seq: Long,
      minKeepSeq: Long = Long.MaxValue): Boolean = {
    val d = docDir(dir, ident)
    Files.createDirectories(d)
    val target = d.resolve(f"$seq%020d.json")
    val json = seal(rawJson) // trailer: prefix-torn docs can never validate
    val tmp = writeTmp(d, json)
    val won =
      try {
        try {
          Files.createLink(target, tmp)
          fsyncDir(d)
          true
        } catch {
          case _: UnsupportedOperationException =>
            // No-hardlink filesystem: O_EXCL create is the fallback
            // atomic-exclusive primitive.
            val ch = java.nio.channels.FileChannel.open(target,
              java.nio.file.StandardOpenOption.WRITE,
              java.nio.file.StandardOpenOption.CREATE_NEW)
            try {
              ch.write(java.nio.ByteBuffer.wrap(
                json.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
              ch.force(true)
            } finally ch.close()
            fsyncDir(d)
            true
        }
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        // Some filesystems surface the exists-collision as a plain
        // FileSystemException; existence of the target disambiguates
        // CAS-lost from real I/O failure.
        case e: java.nio.file.FileSystemException =>
          if (Files.exists(target)) false else throw e
      } finally Files.deleteIfExists(tmp)
    if (won) {
      val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
      val s = Files.list(d)
      try s.iterator().asScala.toSeq.foreach { p =>
        val old = seqOf(p).exists(s0 => s0 <= seq - 3 && s0 < minKeepSeq)
        // Aged .tmp- leftovers of crashed writers sweep here too — the
        // flat-dir sweep in readAll never descends into .d directories.
        val staleTmp = p.getFileName.toString.startsWith(".tmp-") &&
          (try Files.getLastModifiedTime(p).toMillis < cutoff
           catch { case _: java.io.IOException => false })
        if (old || staleTmp)
          try Files.deleteIfExists(p) catch { case _: java.io.IOException => () }
      } finally s.close()
      // The legacy flat document is subsumed — and safe to delete —
      // only by a CHECKPOINT/tombstone write (minKeepSeq default). A
      // DELTA anchored on the flat doc (seq-0 state) must keep it: it
      // IS the base the replay resolves from.
      if (minKeepSeq > seq)
        try Files.deleteIfExists(dir.resolve(fileName(ident)))
        catch { case _: java.io.IOException => () }
    } else {
      // Lost to an EXISTING target: if that target is an AGED torn doc
      // (O_EXCL-fallback writer crashed mid-write — it never acked, so
      // nothing depends on it), reclaim the slot so the table doesn't
      // wedge on an occupied-but-garbage sequence. Age-gated: a young
      // unparseable target may be a live writer between CREATE_NEW and
      // its final write.
      try {
        val aged = Files.getLastModifiedTime(target).toMillis <
          System.currentTimeMillis() - 60L * 1000
        if (aged && validate(Files.readString(target)).isEmpty)
          Files.deleteIfExists(target): Unit
      } catch { case _: java.io.IOException => () }
    }
    won
  }

  /** Best-effort directory fsync — makes the rename durable on Linux;
    * platforms that refuse opening a directory channel just skip it.
    */
  private def fsyncDir(dir: Path): Unit =
    try {
      val ch = java.nio.channels.FileChannel.open(dir, java.nio.file.StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    } catch { case _: java.io.IOException => () }

  def delete(dir: Path, ident: Identifier): Unit = {
    val f = dir.resolve(fileName(ident))
    try {
      // Numbered-document directory first (tables), then the flat doc
      // (legacy tables, views, dropped entries).
      val d = docDir(dir, ident)
      if (Files.isDirectory(d)) {
        val s = Files.list(d)
        try s.iterator().asScala.foreach(p => Files.deleteIfExists(p))
        finally s.close()
        Files.deleteIfExists(d)
      }
      Files.deleteIfExists(f)
      fsyncDir(dir)
    } catch {
      case e: java.io.IOException =>
        // A silently-failed delete RESURRECTS the document on the next
        // restart (a dropped table reappears pointing at GC'd files) —
        // surface it loudly and retry at JVM exit as a last resort.
        System.err.println(
          s"graft ledger: failed to delete $f — the entry will reappear on " +
            s"restart unless removed manually ($e)")
        f.toFile.deleteOnExit()
    }
  }

  def readAll(dir: Path): Seq[String] = {
    if (!Files.isDirectory(dir)) return Nil
    val s = Files.list(dir)
    try {
      val (tmps, docs) = s.iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".json"))
        .partition(_.getFileName.toString.startsWith(".tmp-"))
      // Startup sweep: a writer killed between createTempFile and the
      // move leaks its temp file (the finally never ran) — reclaim
      // them rather than accumulating forever. Age-gated so a live
      // writer in another process can't lose its in-flight temp.
      val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
      tmps.foreach { p =>
        try {
          if (Files.getLastModifiedTime(p).toMillis < cutoff) Files.deleteIfExists(p)
        } catch { case _: java.io.IOException => () }
      }
      docs.sortBy(_.getFileName.toString).map(Files.readString)
    } finally s.close()
  }

  /** Every table present in the ledger, as (fileName, latestSeq) — a
    * LISTING only, no document reads: the warehouse-wide staleness
    * probe for GC paths (the catalog decodes only the entries it finds
    * stale or unknown).
    */
  def listTables(dir: Path): Seq[(String, Long)] = {
    if (!Files.isDirectory(dir)) return Nil
    val s = Files.list(dir)
    val entries = try s.iterator().asScala.toSeq finally s.close()
    val numbered = entries.filter(p => Files.isDirectory(p) &&
      p.getFileName.toString.endsWith(".json.d")).flatMap { d =>
      val best = maxSeqIn(d)
      if (best >= 0) Some(d.getFileName.toString.stripSuffix(".d") -> best) else None
    }
    val covered = numbered.map(_._1).toSet
    val flat = entries.filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".json") &&
      !p.getFileName.toString.startsWith(".tmp-") &&
      !covered.contains(p.getFileName.toString))
      .map(_.getFileName.toString -> 0L)
    flat ++ numbered
  }

}
