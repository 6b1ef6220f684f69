package graft.catalog

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}

/** One data file tracked by a snapshot. Column min/max (stringified) enable
  * metadata-level file pruning without opening parquet footers — at 100 TB
  * the difference between "plan touches 40 files" and "plan opens 400k
  * footers". Mirrors what the Iceberg spec keeps per manifest entry; the
  * reference stores this opaquely inside its metadata JSON
  * (reference: src/catalog/mod.rs:217-220).
  */
final case class DataFileMeta(
    path: String,
    rowCount: Long,
    sizeBytes: Long,
    minValues: Map[String, String] = Map.empty,
    maxValues: Map[String, String] = Map.empty,
    nullCounts: Map[String, Long] = Map.empty,
    addedAt: Long = 0L, // snapshot that added this file (0 = legacy doc)
    sortedBy: Seq[String] = Nil, // columns this file's rows are sorted by
    // per-column file-level bloom filters ("k:base64"), populated by the
    // writer for `write.bloom-columns`; ManifestIO strips them into a
    // sidecar at manifest-write time, so the manifest JSON (and every scan
    // that never point-looks-up) stays lean — see [[FileBloom]]
    blooms: Map[String, String] = Map.empty,
    // DELETION-VECTOR entries (Iceberg v3's positional-delete shape): a
    // roaring bitmap of tombstoned positions for ONE target data file,
    // stored as a byte slice [dvOffset, dvOffset+dvLength) of the shared
    // container at `path` (many targets share one container). dvLength > 0
    // marks the entry as a DV; 0 (the default every older document
    // deserializes to) means a parquet (file_path, pos) delete file.
    // rowCount = bitmap cardinality, min/maxValues carry the exact target.
    dvOffset: Long = 0L,
    dvLength: Long = 0L,
    // ROW LINEAGE (Iceberg v3): the base row id of this file's assigned
    // range — commits reserve [firstRowId, firstRowId + rowCount) per new
    // data file, so `_row_id = firstRowId + _pos` without reading
    // anything. 0 = file added before lineage existed (rows surface NULL
    // ids until a rewrite materializes them). When `lineageCols` is set
    // (rewrites that must PRESERVE identity: compaction, z-order, CoW
    // DELETE), the file carries materialized `_graft_rid`/`_graft_rseq`
    // columns whose non-NULL values win over the computed id; NULL
    // inherits (fresh id from the file's range / the file's own commit
    // sequence) — Iceberg v3's exact null-inherits contract.
    firstRowId: Long = 0L,
    lineageCols: Boolean = false) {
  /** Null-safe accessor (documents written before null tracking). */
  def nulls: Map[String, Long] = if (nullCounts == null) Map.empty else nullCounts
  /** Null-safe accessor (documents written before sort-order tracking). */
  def sortCols: Seq[String] = if (sortedBy == null) Nil else sortedBy
  /** Null-safe accessor (documents written before file-level blooms). */
  def bloomStats: Map[String, String] = if (blooms == null) Map.empty else blooms
  /** Is this delete entry a deletion vector (vs a parquet tombstone file)? */
  def isDv: Boolean = dvLength > 0L
}

/** Pointer to one immutable manifest file (a JSON array of
  * [[DataFileMeta]]) plus the summary the planner/history can use without
  * loading it. Manifests are SHARED across snapshots: an append commit
  * writes ONE new manifest for the new files and carries every previous
  * manifest by reference — Iceberg's manifest-list model, which keeps both
  * the metadata document and the per-commit write O(snapshots + new files),
  * never O(total files × snapshots).
  *
  * `content` distinguishes manifests of DATA files from manifests of
  * positional DELETE files (Iceberg v2's manifest-list `content` field):
  * a merge-on-read delete commit appends a "deletes" manifest whose
  * entries are parquet files of `(file_path, pos)` tombstones; scans
  * subtract them, compaction folds them away.
  */
final case class ManifestMeta(
    location: String,
    nFiles: Long,
    nRows: Long,
    nBytes: Long,
    content: String = "data",
    // Per-manifest FOLDED column bounds (Iceberg's manifest-list
    // `partitions` summaries, generalized to every stat column): min/max
    // in the writer's stat-string format under PHYSICAL keys, null counts
    // summed. A key is present only when EVERY entry in the manifest
    // carries both bounds (resp. a null count), so the summary is a valid
    // [[DataFileMeta]]-shaped description of the manifest's row union and
    // [[FilePruner.mayMatch]] can SKIP the whole manifest — a selective
    // partition predicate on an 800k-file table then opens a handful of
    // manifests instead of paying ~6.4 µs × every entry in the table.
    // Legacy documents deserialize these as null → never skipped.
    mins: Map[String, String] = Map.empty,
    maxs: Map[String, String] = Map.empty,
    nullCounts: Map[String, Long] = Map.empty) {
  /** Null-safe content (documents written before merge-on-read). */
  def kind: String = if (content == null) "data" else content
  def isData: Boolean = kind == "data"
  def boundMins: Map[String, String] = if (mins == null) Map.empty else mins
  def boundMaxs: Map[String, String] = if (maxs == null) Map.empty else maxs
  def boundNulls: Map[String, Long] = if (nullCounts == null) Map.empty else nullCounts
}

/** Folds per-file stats into a per-manifest summary at manifest-write
  * time. The fold order must match how [[FilePruner]] will COMPARE the
  * stat strings at planning — [[StatBounds.compare]]: numerically for
  * numeric/temporal keys, UTF8 binary order for strings — so each key
  * carries a comparison KIND ('n' | 's') derived from the table schema
  * ([[TableMeta.physicalStatKinds]]).
  * Any file missing a bound, or any unparseable value, drops the key
  * (absent summary = conservative keep, mirroring every other stat path).
  * String bounds may be [[StatBounds]]-truncated: widened bounds fold to
  * widened bounds, which stay sound for pruning.
  */
object ManifestSummary {
  def fold(files: Seq[DataFileMeta], kinds: Map[String, Char])
      : (Map[String, String], Map[String, String], Map[String, Long]) = {
    if (files.isEmpty || kinds.isEmpty) return (Map.empty, Map.empty, Map.empty)
    // 'n' orders as any numeric type does (every one compares by numCmp)
    def lt(a: String, b: String, kind: Char): Option[Boolean] =
      StatBounds.compare(if (kind == 's') StringType else LongType, a, b).map(_ < 0)
    val mins = Map.newBuilder[String, String]
    val maxs = Map.newBuilder[String, String]
    val nulls = Map.newBuilder[String, Long]
    kinds.foreach { case (k, kind) =>
      var lo: String = null
      var hi: String = null
      var ok = true
      var i = 0
      while (ok && i < files.length) {
        val f = files(i)
        (f.minValues.get(k), f.maxValues.get(k)) match {
          case (Some(mn), Some(mx)) =>
            if (lo == null) { lo = mn; hi = mx }
            else {
              (lt(mn, lo, kind), lt(hi, mx, kind)) match {
                case (Some(mnLt), Some(hiLt)) =>
                  if (mnLt) lo = mn
                  if (hiLt) hi = mx
                case _ => ok = false // unparseable value: drop the key
              }
            }
          case _ => ok = false // a file without bounds poisons the key
        }
        i += 1
      }
      if (ok && lo != null) { mins += k -> lo; maxs += k -> hi }
      // null counts: sum, present only when every entry reports the key
      if (files.forall(_.nulls.contains(k)))
        nulls += k -> files.map(_.nulls(k)).sum
    }
    (mins.result(), maxs.result(), nulls.result())
  }
}

/** A committed table version. Its file list lives behind TWO levels of
  * indirection (Iceberg's model): the snapshot points at one manifest-LIST
  * file, which holds [[ManifestMeta]] pointers to the manifest files with
  * the actual [[DataFileMeta]] entries. The metadata document therefore
  * carries ONE pointer + three summary counts per snapshot — O(snapshots),
  * regardless of file count. `manifest` is the legacy inline form, still
  * read for metadata documents written before the indirection.
  */
final case class SnapshotMeta(
    snapshotId: Long,
    timestampMs: Long,
    operation: String, // "append" | "overwrite" | "create" | ...
    manifest: Seq[DataFileMeta] = Nil, // legacy inline (pre-indirection docs)
    manifestListLocation: Option[String] = None,
    summaryFiles: Long = 0L,
    summaryRows: Long = 0L,
    summaryBytes: Long = 0L,
    parentId: Long = 0L, // 0 = unknown (pre-WAP docs); ids start at 1
    schemaId: Int = 0) { // schema AS OF this commit, in TableMeta.schemas (0 = legacy doc)

  def inlineFiles: Seq[DataFileMeta] = if (manifest == null) Nil else manifest
  def listLocation: Option[String] = Option(manifestListLocation).flatten
  /** Schema id as of this snapshot — time travel reads THIS shape (a
    * column dropped later resurrects, one added later doesn't appear yet).
    * Resolved through [[TableMeta.schemas]]; legacy documents (no stamp)
    * fall back to the table-level schema.
    */
  def schemaIdOpt: Option[Int] = if (schemaId > 0) Some(schemaId) else None

  /** Summary counts without opening any manifest. */
  def nFiles: Long = if (inlineFiles.nonEmpty) inlineFiles.size.toLong else summaryFiles
  def nRows: Long = if (inlineFiles.nonEmpty) inlineFiles.map(_.rowCount).sum else summaryRows
  def nBytes: Long = if (inlineFiles.nonEmpty) inlineFiles.map(_.sizeBytes).sum else summaryBytes
}

/** The table-metadata document our catalog stores in the warehouse — the
  * analog of the Iceberg TableMetadata JSON the reference deserializes
  * (reference: src/catalog/mod.rs:217-228). The current-version POINTER
  * lives in the JDBC store; this document is immutable once written, and
  * every commit writes a new one then CAS-swaps the pointer.
  */
final case class TableMeta(
    formatVersion: Int,
    location: String,
    schemaJson: String,
    partitionColumns: Seq[String],
    properties: Map[String, String],
    currentSnapshotId: Long, // -1 = empty table, no snapshot yet
    snapshots: Seq[SnapshotMeta],
    // schema EVOLUTION history, deduplicated Iceberg-style: id -> schema
    // JSON, one entry per DISTINCT schema ever committed under (commits
    // stamp their snapshot with the current id; ALTERs that change the
    // schema bump it). O(alters), never O(snapshots).
    schemas: Map[String, String] = Map.empty,
    currentSchemaId: Int = 0, // 0 = legacy doc (treated as id 1)
    // ROW LINEAGE high-water mark: the next unassigned row id. Every
    // commit that adds data files reserves contiguous per-file ranges
    // from here (CAS rebase re-stamps against the fresh base, so racing
    // writers can never overlap). 0 = pre-lineage doc; ids start at 1.
    nextRowId: Long = 0L,
    // PARTITION-SPEC EVOLUTION history, deduplicated like `schemas`:
    // id -> spec strings, one entry per distinct spec ever set
    // (set_partition_spec bumps the id; `partitionColumns` stays the
    // CURRENT spec so every current-spec consumer — writer clustering,
    // SPJ key parsing — is untouched). The history's one planning job is
    // [[allPartitionFields]]: pruning under the UNION of specs, so files
    // written before an evolution keep pruning under THEIR OWN transform
    // keys (a `bucket(8,k)` file still skips on `_bucket_8_k` after the
    // table moved to bucket(16)) — at 100 TB the difference between a
    // point lookup reading 1/8 of the history and reading all of it
    // until compaction catches up. O(evolutions), never O(snapshots).
    specs: Map[String, Seq[String]] = Map.empty,
    currentSpecId: Int = 0) { // 0 = legacy doc (treated as id 1)

  def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]

  /** Null-safe schema table (documents written before schema history). */
  def schemaTable: Map[String, String] = if (schemas == null) Map.empty else schemas
  /** Current schema id, normalizing legacy docs (0) to 1. */
  def schemaIdNow: Int = if (currentSchemaId <= 0) 1 else currentSchemaId
  /** The schema JSON a snapshot committed under, when recorded. */
  def schemaJsonOf(s: SnapshotMeta): Option[String] =
    s.schemaIdOpt.flatMap(id => schemaTable.get(id.toString))

  // ── column mapping (field identity) ────────────────────────────────────
  // Delta-style logical→physical name mapping: a field reads/writes the
  // parquet column named by its `graft.phys` metadata (default: its own
  // name). CREATE-time columns keep plain physical names; every column
  // ADDED later gets a fresh "_c<id>_<name>" physical name from a
  // monotonic per-table counter, so DROP COLUMN then ADD COLUMNS of the
  // same name can never resurrect old files' values, and RENAME COLUMN
  // just relabels the logical name while the physical column — and all
  // existing data — stays connected (Iceberg's field-id contract,
  // realized as stable physical names; ref mod.rs:437-450 builds field
  // ids for exactly this reason).

  /** logical → physical name for every column (identity for most). */
  def l2pMap: Map[String, String] =
    schema.fields.map(f => f.name -> ColumnMapping.physicalName(f)).toMap

  /** Table schema with physical column names (same order and types). */
  def physicalSchema: StructType = ColumnMapping.toPhysical(schema, l2pMap)

  /** Parsed partition spec: identity columns and bucket(n, col) transforms. */
  def partitionFields: Seq[PartField] = partitionColumns.map(PartField.parse)

  // ── partition-spec evolution ────────────────────────────────────────────

  /** Current spec id, normalizing legacy docs (0) to 1. */
  def specIdNow: Int = if (currentSpecId <= 0) 1 else currentSpecId

  /** Spec history incl. the current spec (legacy docs synthesize it). */
  def specTable: Map[String, Seq[String]] =
    if (specs == null || specs.isEmpty) Map(specIdNow.toString -> partitionColumns)
    else specs

  /** The UNION of every spec's strings, current first, deduplicated —
    * what pruning runs under (each file self-describes via its own
    * transform stat keys; a field whose key a file lacks keeps it).
    */
  def allPartitionColumns: Seq[String] =
    (partitionColumns ++ specTable.toSeq.sortBy(-_._1.toInt).flatMap(_._2)).distinct

  def allPartitionFields: Seq[PartField] = allPartitionColumns.map(PartField.parse)

  /** Metadata-only partition evolution: `partitionColumns` becomes the
    * new spec (new writes cluster and stamp keys under it), the old spec
    * is archived under its id. Existing files are untouched — they keep
    * pruning by their own stat keys via [[allPartitionFields]], and SPJ
    * self-disables on mixed tables until compaction re-clusters
    * (the key parser finds no current-spec key on old files).
    */
  def evolveSpec(spec: Seq[String]): TableMeta =
    if (spec == partitionColumns) this
    else {
      val base = specTable
      // dedup for real: a revert to a spec already in history REUSES its
      // id (same contents ⇒ same transform stat keys, so old files keep
      // matching), instead of growing the map on every flip-flop
      val id = base.collectFirst { case (k, v) if v == spec => k.toInt }
        .getOrElse(base.keys.map(_.toInt).max + 1)
      copy(partitionColumns = spec,
        specs = base + (id.toString -> spec),
        currentSpecId = id)
    }

  /** Partition spec strings with PHYSICAL source column names (what the
    * writer clusters/stats by).
    */
  def physicalPartitionColumns: Seq[String] = {
    val m = l2pMap
    partitionFields.map(f => f.copy(source = m.getOrElse(f.source, f.source)).spec)
  }

  /** `write.sort-order` columns as the user declared them (LOGICAL names).
    * Validated against the current schema: ALTER TABLE RENAME COLUMN
    * rewrites the property, but a table written before that fix (or by a
    * foreign writer) may carry stale names — those are dropped rather than
    * poisoning write ordering resolution.
    */
  def sortOrderColumns: Seq[String] = {
    val names = schema.fieldNames.toSet
    properties.get("write.sort-order")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      .filter(names.contains)
  }

  /** `write.sort-order` columns under PHYSICAL names (what writers stamp). */
  def physicalSortOrder: Seq[String] = {
    val m = l2pMap
    sortOrderColumns.map(c => m.getOrElse(c, c))
  }

  /** Manifest entries with min/max stats re-keyed to LOGICAL names, for
    * pruning against predicates (which reference logical columns). Paths
    * and counts are untouched, so these remain commit-comparable.
    */
  def logicalStatFiles(files: Seq[DataFileMeta]): Seq[DataFileMeta] = {
    val p2l = l2pMap.map(_.swap)
    if (p2l.forall(kv => kv._1 == kv._2)) files
    else {
      def remap(k: String): String = ColumnMapping.logicalStatKey(k, p2l)
      files.map(f => f.copy(
        minValues = f.minValues.map { case (k, v) => (remap(k), v) },
        maxValues = f.maxValues.map { case (k, v) => (remap(k), v) },
        nullCounts = f.nulls.map { case (k, v) => (remap(k), v) },
        sortedBy = f.sortCols.map(remap)))
    }
  }

  def snapshot(id: Long): Option[SnapshotMeta] = snapshots.find(_.snapshotId == id)

  /** Hadoop conf for lazily loading manifest files; set by [[TableMeta.read]]
    * and by the commit helpers (not a constructor field — it is IO context,
    * not table state, and must never serialize).
    */
  @transient private[catalog] var ioConf: Configuration = _

  /** A snapshot's manifest pointers, via its manifest-list file (cached). */
  private[catalog] def manifestsOf(s: SnapshotMeta): Seq[ManifestMeta] =
    s.listLocation.map(l => ManifestIO.readList(l, ioConf)).getOrElse(Nil)

  /** Resolve a snapshot's DATA file list: referenced data manifests
    * (cached, immutable) plus any legacy inline entries.
    */
  def filesOf(s: SnapshotMeta): Seq[DataFileMeta] =
    ManifestIO.readAll(manifestsOf(s).filter(_.isData).map(_.location), ioConf) ++
      s.inlineFiles

  /** PHYSICAL stat keys a SLIM (bounded-memory) scan plan must retain:
    * partition sources + transform keys (SPJ key groups, bucket/runtime
    * pruning), sort-order columns (top-N file pruning, ordered-scan
    * eligibility), and upsert key columns (eq-delete applicability
    * ranges). Everything else is planning-optional: dropping a stat only
    * costs an optimization (file pruning on that column, metadata-agg
    * pushdown, CBO min/max), never correctness — the same contract as a
    * file that simply didn't record the stat.
    */
  def planningStatKeys: Set[String] = {
    val m = l2pMap
    val pf = allPartitionFields
    val parts = pf.flatMap { f =>
      val phys = f.copy(source = m.getOrElse(f.source, f.source))
      Seq(phys.source, phys.statKey)
    }
    val sorts = sortOrderColumns.map(c => m.getOrElse(c, c))
    val eqKeys = upsertKeySchema.toSeq.flatMap(_.fieldNames)
    (parts ++ sorts ++ eqKeys).toSet
  }

  /** One entry, stat maps cut to `keep` — the slim projection bounded-
    * memory planning holds instead of the full-width manifest entry.
    */
  private def slimEntry(keep: Set[String])(f: DataFileMeta): DataFileMeta =
    f.copy(
      minValues = f.minValues.filter(kv => keep(kv._1)),
      maxValues = f.maxValues.filter(kv => keep(kv._1)),
      nullCounts = f.nullCounts.filter(kv => keep(kv._1)),
      blooms = Map.empty)

  /** [[filesOf]] at SLIM width, streamed manifest-by-manifest: each
    * manifest's full-width batch is projected down to the planning stat
    * keys (plus `extraKeys` — e.g. pushed-predicate columns, so file-level
    * pruning still works on the slim path) and released before the next
    * manifest is consumed. Driver residency for a filterless scan of an
    * ~1M-file table is O(read window × largest manifest) full-width +
    * O(files) slim — not O(files) full-width.
    */
  def filesOfSlim(s: SnapshotMeta, extraKeys: Set[String] = Set.empty): Seq[DataFileMeta] = {
    val slim = slimEntry(planningStatKeys ++ extraKeys) _
    ManifestIO.readIterator(manifestsOf(s).filter(_.isData).map(_.location), ioConf)
      .flatMap(_.iterator.map(slim)).toVector ++ s.inlineFiles.map(slim)
  }

  /** Comparison kind per PHYSICAL stat key for [[ManifestSummary.fold]]:
    * 'n' = numeric stat strings ([[StatBounds.compare]] order), 's' = UTF8
    * binary order. Covers schema columns, transform stat keys
    * (`_bucket_N_c` / `_days_c` / `_truncate_W_c`), and shredded variant
    * keys; anything else (booleans, binary, nested) is omitted — absent
    * from the summary, conservatively unskippable.
    */
  def physicalStatKinds: Map[String, Char] = {
    import org.apache.spark.sql.types.{NumericType, StringType, DateType,
      TimestampType, TimestampNTZType}
    def kindOf(dt: DataType): Option[Char] = dt match {
      case StringType => Some('s')
      case _: NumericType | DateType | TimestampType | TimestampNTZType => Some('n')
      case _ => None
    }
    val m = l2pMap
    val fields = schema.fields.flatMap(f =>
      kindOf(f.dataType).map(k => m.getOrElse(f.name, f.name) -> k)).toMap
    val parts = allPartitionFields.flatMap { pf =>
      val physKey = pf.copy(source = m.getOrElse(pf.source, pf.source)).statKey
      if (pf.isIdentity) None // plain column: covered by `fields`
      else if (pf.buckets.isDefined || pf.time.isDefined) Some(physKey -> 'n')
      else schema.fields.find(_.name == pf.source) // truncate: source's order
        .flatMap(f => kindOf(f.dataType)).map(physKey -> _)
    }.toMap
    val shreds = properties.get(VariantShred.Prop).toSeq.flatMap { spec =>
      VariantShred.parse(spec).flatMap { case (c, p, t) =>
        try {
          val dt = DataType.fromDDL(t)
          kindOf(dt).map(k => VariantShred.statKey(m.getOrElse(c, c), p, dt) -> k)
        } catch { case _: Exception => None }
      }
    }.toMap
    // `write.manifest-summary.columns` bounds the MANIFEST-LIST payload on
    // wide tables: summaries are per-manifest but cover every stat column
    // by default, so a 500-column table pays ~O(columns) bytes per
    // manifest-list entry, read by the driver on every scan. Listing
    // logical column names here folds only those (plus their transform
    // keys and shred keys — a shred key's prefix is its column); columns
    // not listed simply lose manifest-level skip (per-file pruning still
    // applies once the manifest is open), never correctness. Iceberg's
    // manifest-list `partitions` field is the restricted-to-partition
    // special case of this knob; '*' (default) keeps every column.
    val restrict = properties.getOrElse("write.manifest-summary.columns", "*").trim
    if (restrict == "*") fields ++ parts ++ shreds
    else {
      val keepLogical = restrict.split(',').map(_.trim).filter(_.nonEmpty).toSet
      val keepPhysical = keepLogical.map(n => m.getOrElse(n, n))
      (fields.view.filterKeys(keepPhysical) ++
        parts.view.filter { case (k, _) =>
          // a transform key folds iff its SOURCE column is listed
          allPartitionFields.exists(pf => !pf.isIdentity && keepLogical(pf.source) &&
            pf.copy(source = m.getOrElse(pf.source, pf.source)).statKey == k)
        } ++
        shreds.view.filter { case (k, _) =>
          keepPhysical.exists(p => k.startsWith(s"$p#"))
        }).toMap
    }
  }

  /** Manifests' summaries viewed as [[DataFileMeta]]s describing each
    * one's whole row union, stat keys re-mapped to logical names in ONE
    * batched pass (the remap table builds once, not once per manifest) —
    * evaluated by the same pruners as per-file stats.
    */
  private[catalog] def summaryEntries(ms: Seq[ManifestMeta]): Seq[DataFileMeta] =
    logicalStatFiles(ms.map(m => DataFileMeta(m.location, m.nRows, m.nBytes,
      m.boundMins, m.boundMaxs, m.boundNulls)))

  /** The shared manifest-skip core: open only manifests whose summary
    * pseudo-entry `mayKeep` accepts; both the data-side and the
    * eq-delete-side skip route through here so the pruning contract
    * (counter semantics, legacy-summary conservatism, remap) can't drift
    * between them.
    */
  private def matchingEntries(ms: Seq[ManifestMeta],
      mayKeep: DataFileMeta => Boolean,
      xform: Option[DataFileMeta => DataFileMeta] = None): Seq[DataFileMeta] = {
    val kept = ms.zip(summaryEntries(ms)).collect { case (m, p) if mayKeep(p) => m }
    ManifestIO.manifestsSkipped.addAndGet((ms.size - kept.size).toLong)
    xform match {
      case None => ManifestIO.readAll(kept.map(_.location), ioConf)
      // slim path: stream manifest-by-manifest and project each batch
      // down before the next is consumed (bounded full-width residency)
      case Some(f) => ManifestIO.readIterator(kept.map(_.location), ioConf)
        .flatMap(_.iterator.map(f)).toVector
    }
  }

  /** Data files of `s` from manifests that MAY hold rows matching `exprs`
    * — manifest-LEVEL planning skip via the per-manifest summaries. A
    * manifest whose folded bounds provably exclude every pushed predicate
    * is never opened: planning IO/CPU scales with MATCHING manifests, not
    * table size. Manifests without summaries (legacy docs, poisoned keys)
    * are always read — sound by refusal, like every stat path.
    */
  def filesMatching(s: SnapshotMeta,
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      slim: Boolean = false): Seq[DataFileMeta] = {
    val pf = allPartitionFields
    // slim planning keeps the PREDICATE columns' stats on top of the
    // planning keys, so per-file pruning on the pushed filters still runs
    // at full strength — only stats no pruner will consult are dropped
    val xform = if (!slim) None else {
      val m = l2pMap
      val predCols = exprs.flatMap(_.references.toSeq.map(a => m.getOrElse(a.name, a.name)))
      Some(slimEntry(planningStatKeys ++ predCols) _)
    }
    matchingEntries(manifestsOf(s).filter(_.isData),
      pseudo => exprs.forall(FilePruner.mayMatch(_, pseudo, partFields = pf)), xform) ++
      s.inlineFiles.map(f => xform.fold(f)(_(f)))
  }

  /** A snapshot's positional-delete files (merge-on-read tombstones). */
  def deleteFilesOf(s: SnapshotMeta): Seq[DataFileMeta] =
    ManifestIO.readAll(
      manifestsOf(s).filter(_.kind == "deletes").map(_.location), ioConf)

  /** Positional-delete entries that can matter for a scan with pushed
    * filters `exprs` — possible because delta commits stamp tombstone
    * files with their TARGETS' partition-value bounds
    * ([[TableMeta.withTargetPartitionBounds]]): a delete manifest whose
    * folded target-partition bounds provably exclude the predicate can
    * only kill rows the scan would filter out anyway (same two soundness
    * legs as [[eqDeleteFilesMatching]] — excluded rows fail the
    * predicate, and every pushed filter stays a post-scan Filter).
    * Legacy/unstamped delete manifests have no partition keys in their
    * summary and are always read.
    */
  def deleteFilesMatching(s: SnapshotMeta,
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[DataFileMeta] = {
    val pf = allPartitionFields
    matchingEntries(manifestsOf(s).filter(_.kind == "deletes"),
      pseudo => exprs.forall(FilePruner.mayMatch(_, pseudo, partFields = pf)))
  }

  /** A snapshot's EQUALITY-delete files (streaming-upsert key tombstones):
    * parquet of key tuples; each applies to data files added STRICTLY
    * before it (per-file `addedAt` sequence numbers).
    */
  def eqDeleteFilesOf(s: SnapshotMeta): Seq[DataFileMeta] =
    ManifestIO.readAll(
      manifestsOf(s).filter(_.kind == "eq-deletes").map(_.location), ioConf)

  /** Equality-delete entries that can matter for a scan with pushed
    * filters `exprs` — the eq-delete twin of [[filesMatching]]: an
    * eq-delete manifest whose folded KEY bounds provably exclude every
    * pushed predicate is never opened. Soundness has two independent
    * legs: (1) a delete whose keys cannot satisfy the predicate only
    * kills rows that fail the predicate, which the scan would not return
    * anyway, and (2) the scan's pushdown contract keeps EVERY filter as
    * a post-scan Filter (LakeScanBuilder.pushFilters returns all), so
    * even a leaked undeleted row is re-filtered above the scan. On a
    * streaming-CDC table with many per-epoch eq manifests, a key point
    * lookup plans O(matching epochs), not O(all epochs).
    */
  def eqDeleteFilesMatching(s: SnapshotMeta,
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[DataFileMeta] =
    matchingEntries(manifestsOf(s).filter(_.kind == "eq-deletes"),
      pseudo => exprs.forall(e => FilePruner.mayMatch(e, pseudo)))

  def currentEqDeleteFiles: Seq[DataFileMeta] =
    snapshot(currentSnapshotId).map(eqDeleteFilesOf).getOrElse(Nil)

  /** Physical names of the `write.bloom-columns` columns (comma-separated
    * logical names): writers emit a parquet BLOOM FILTER per listed column,
    * so selective point predicates (`WHERE id = x` on a non-partition,
    * non-sorted column) skip row groups the min/max range check cannot —
    * the 100 TB needle-in-haystack scan path.
    */
  /** `write.bloom-columns` under LOGICAL names (as declared). */
  def bloomColumns: Seq[String] =
    properties.get("write.bloom-columns").toSeq
      .flatMap(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))

  def physicalBloomColumns: Seq[String] = {
    val m = l2pMap
    bloomColumns.map(c => m.getOrElse(c, c))
  }

  /** Bits per FILE-level bloom per column (`write.bloom-bits`); the knob
    * that trades sidecar bytes for saturation headroom (~bits/13 distinct
    * values per file before fpp passes 1%).
    */
  def fileBloomBits: Int =
    properties.get("write.bloom-bits").map(_.toInt).getOrElse(FileBloom.DefaultBits)

  /** A snapshot's file-level bloom index, re-keyed to LOGICAL column
    * names: file path → column → encoded bloom. Reads one sidecar per
    * data manifest (absent sidecars negative-cache as empty) — called
    * lazily, only when an eq/IN predicate on a bloom-indexed table
    * survives min/max pruning.
    */
  def bloomIndexOf(s: SnapshotMeta): Map[String, Map[String, String]] = {
    val p2l = l2pMap.map(_.swap)
    manifestsOf(s).filter(_.isData).flatMap { m =>
      ManifestIO.readBlooms(m.location, ioConf).map { case (path, cols) =>
        path -> cols.map { case (c, e) => (p2l.getOrElse(c, c), e) }
      }
    }.toMap
  }

  /** Hadoop conf for WRITE jobs with the table's codec choice stamped in
    * (`write.parquet.compression-codec`: snappy default, zstd/gzip/lz4/
    * uncompressed accepted — zstd is the 100 TB archival default, ~30-40%
    * smaller at similar scan speed). Carried through the conf so every
    * writer path (batch, streaming, compaction, z-order, staged) honors it
    * without threading another parameter.
    */
  def writeConf(base: Configuration): Configuration = {
    val c = new Configuration(base)
    c.set("graft.write.compression",
      properties.getOrElse("write.parquet.compression-codec", "snappy"))
    // Iceberg's write.parquet.row-group-size-bytes: row-group granularity
    // bounds both the vectorized reader's batch memory and the unit a
    // parquet split reads (a split reads the row groups it holds the
    // midpoint of)
    properties.get("write.parquet.row-group-size-bytes")
      .foreach(v => c.set("graft.write.rowgroup-bytes", v))
    // SHREDDED VARIANT STATS ([[VariantShred]]): resolve logical column
    // names to PHYSICAL here, so every writer path (append, CTAS, delta,
    // compaction, CoW) tracks typed per-file min/max for the configured
    // variant paths and scans can FILE-PRUNE variant_get predicates
    // (see [[FilePruner]]).
    properties.get(VariantShred.Prop).foreach { spec =>
      val m = l2pMap
      val phys = VariantShred.render(VariantShred.parse(spec).map {
        case (col, path, t) => (m.getOrElse(col, col), path, t) })
      if (phys.nonEmpty) c.set("graft.write.variant-shred", phys)
    }
    c
  }

  /** `write.target-file-bytes`: writers ROLL to a new file when the open
    * one reaches this size (0 = no size rolling). Bounds the largest file
    * a single task can produce — at 100 TB an unbounded per-task file
    * defeats balanced scheduling and retries.
    */
  def targetFileBytes: Long =
    properties.get("write.target-file-bytes").map(_.toLong).getOrElse(0L)

  /** Manifest string-bound prefix length ([[StatBounds]]); 0 disables. */
  def statTruncateLen: Int =
    properties.get("write.metadata.truncate-length").map(_.toInt)
      .getOrElse(StatBounds.DefaultLen)

  /** Head snapshot id of a named branch (`branch.<name>` property). */
  def branchHead(name: String): Option[Long] =
    properties.get(s"branch.$name").map(_.toLong)

  /** Physical-named key schema of the upsert keys, if the table has any
    * (`upsert.keys` property, set by the first upsert epoch).
    */
  def upsertKeySchema: Option[StructType] =
    properties.get("upsert.keys").map { csv =>
      val m = l2pMap
      StructType(csv.split(',').map(_.trim).filter(_.nonEmpty).map { c =>
        val f = schema.fields(schema.fieldIndex(c))
        StructField(m.getOrElse(c, c), f.dataType, f.nullable)
      })
    }

  /** Data + delete files — liveness accounting (expiration/vacuum). */
  def allFilesOf(s: SnapshotMeta): Seq[DataFileMeta] =
    ManifestIO.readAll(manifestsOf(s).map(_.location), ioConf) ++ s.inlineFiles

  def currentFiles: Seq[DataFileMeta] =
    snapshot(currentSnapshotId).map(filesOf).getOrElse(Nil)

  def currentDeleteFiles: Seq[DataFileMeta] =
    snapshot(currentSnapshotId).map(deleteFilesOf).getOrElse(Nil)

  def nextSnapshotId: Long = if (snapshots.isEmpty) 1L else snapshots.map(_.snapshotId).max + 1
}

/** Reads/writes immutable manifest files (JSON arrays of [[DataFileMeta]])
  * with a global cache — a manifest is written once, uuid-named, and never
  * mutated, so cache entries can never go stale.
  */
object ManifestIO {
  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  private val maxCached = 256
  private[catalog] def lru[V](bound: Int = maxCached): java.util.LinkedHashMap[String, V] =
    new java.util.LinkedHashMap[String, V](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean =
        size() > bound
    }
  /** Total FULL-WIDTH entries the manifest cache may hold (settable via
    * `graft.manifest-cache.max-entries`, default 131072). The manifest-
    * COUNT LRU alone under-bounds memory: 256 manifests × 4096 entries ×
    * a wide table's stat maps is gigabytes of driver heap. The entry
    * bound makes the cache O(bound × entry width); a hot small table
    * still caches fully.
    */
  private val maxCachedEntries: Long =
    java.lang.Long.getLong("graft.manifest-cache.max-entries", 131072L)
  /** Key-count bound alongside the entry bound: entries alone don't bound
    * the cache when manifests are tiny (a delete-churn table can
    * accumulate thousands of near-empty manifests whose Seq sizes sum
    * below the entry bound while the key strings grow without limit).
    */
  private def maxCachedManifests: Int = // def: tests lower it at runtime
    Integer.getInteger("graft.manifest-cache.max-manifests", 16384)
  private val fileCache = new java.util.LinkedHashMap[String, Seq[DataFileMeta]](64, 0.75f, true)
  private var fileCacheEntries = 0L
  /** High-water mark of [[cachedEntryCount]] — residency instrumentation
    * for the bounded-planning tests (an 800k-entry sweep must never hold
    * more than the bound in cache).
    */
  val cachedEntriesHighWater = new java.util.concurrent.atomic.AtomicLong()
  def cachedEntryCount: Long = fileCache.synchronized(fileCacheEntries)
  def cachedManifestCount: Int = fileCache.synchronized(fileCache.size())
  private def fileCachePut(loc: String, files: Seq[DataFileMeta]): Unit =
    fileCache.synchronized {
      val prev = fileCache.put(loc, files)
      fileCacheEntries += files.size - (if (prev == null) 0 else prev.size)
      if (prev == null &&
          (fileCacheEntries > maxCachedEntries || fileCache.size() > maxCachedManifests)) {
        val it = fileCache.entrySet().iterator()
        while ((fileCacheEntries > maxCachedEntries || fileCache.size() > maxCachedManifests)
            && fileCache.size() > 1 && it.hasNext) {
          val e = it.next()
          if (e.getKey != loc) { fileCacheEntries -= e.getValue.size; it.remove() }
        }
      }
      cachedEntriesHighWater.getAndAccumulate(fileCacheEntries, math.max(_, _))
    }
  private val listCache = lru[Seq[ManifestMeta]]()
  private val bloomCache = lru[Map[String, Map[String, String]]]()

  /** Sidecar lookups (cached or not) — instrumentation for tests asserting
    * bloom laziness: a scan without a point predicate must never ASK for a
    * sidecar (the writer pre-caches its own, so cache misses alone would
    * under-count).
    */
  val bloomSidecarReads = new java.util.concurrent.atomic.AtomicLong()

  /** Manifest-document resolutions (cached or not) — instrumentation for
    * the manifest-skip tests: a one-partition scan over a many-manifest
    * table must resolve only the matching manifests. Counted at [[read]]
    * entry, BEFORE the cache, so write-time pre-caching can't hide reads.
    */
  val manifestReads = new java.util.concurrent.atomic.AtomicLong()

  /** Manifests skipped by summary pruning ([[TableMeta.filesMatching]]). */
  val manifestsSkipped = new java.util.concurrent.atomic.AtomicLong()

  private def writeDoc(loc: String, json: String, conf: Configuration): Unit = {
    val p = new Path(loc)
    val out = p.getFileSystem(conf).create(p, false)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readDoc(loc: String, conf: Configuration): String = {
    require(conf != null, s"manifest $loc: no IO configuration attached")
    val p = new Path(loc)
    val in = p.getFileSystem(conf).open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  def write(tableLocation: String, snapshotId: Long, files0: Seq[DataFileMeta],
      conf: Configuration, content: String = "data",
      statKinds: Map[String, Char] = Map.empty): ManifestMeta = {
    // stamp the adding snapshot: the SEQUENCE NUMBER equality deletes
    // compare against (a delete applies only to files added strictly
    // before it). Shared manifests keep their original stamps.
    val files1 = files0.map(f => if (f.addedAt > 0) f else f.copy(addedAt = snapshotId))
    val loc = s"$tableLocation/metadata/manifest-$snapshotId-${java.util.UUID.randomUUID()}.json"
    // file-level blooms ride in a SIDECAR (`<manifest>.bloom`), not the
    // manifest itself: every scan reads manifests, only point-lookup scans
    // on bloom-indexed tables read sidecars — a 16 KiB/col/file payload
    // inline would dominate manifest size and every plan's metadata IO
    val blooms = files1.collect {
      case f if f.bloomStats.nonEmpty => f.path -> f.bloomStats }.toMap
    val files =
      if (blooms.isEmpty) files1
      else files1.map(f => if (f.bloomStats.isEmpty) f else f.copy(blooms = Map.empty))
    writeDoc(loc, mapper.writeValueAsString(files), conf)
    if (blooms.nonEmpty) writeDoc(s"$loc.bloom", mapper.writeValueAsString(blooms), conf)
    fileCachePut(loc, files)
    bloomCache.synchronized(bloomCache.put(loc, blooms))
    // fold the per-manifest summary bounds so scan planning can skip this
    // manifest without opening it ([[TableMeta.filesMatching]]); delete
    // manifests fold too (their stamped target-partition / eq-key bounds
    // drive the delete-side skip). NON-data manifests must NOT fold the
    // tombstone schema's reserved stat keys: a table column physically
    // named `file_path`/`pos` puts those keys in statKinds, and folding
    // them here would populate the summary from the tombstones' TARGET
    // path/position stats — [[TableMeta.deleteFilesMatching]] would then
    // compare user-column predicates against target-path bounds and
    // unsoundly skip a manifest whose tombstones kill matching rows
    // (silent row resurrection). Mirrors targetBoundsStamper's guard.
    val foldKinds =
      if (content == "data") statKinds
      else statKinds - DeleteFiles.FilePathCol - DeleteFiles.PosCol
    val (mins, maxs, nulls) = ManifestSummary.fold(files, foldKinds)
    ManifestMeta(loc, files.size.toLong, files.map(_.rowCount).sum, files.map(_.sizeBytes).sum,
      content, mins, maxs, nulls)
  }

  /** The bloom sidecar of a manifest: file path → column → encoded bloom.
    * Empty (and negative-cached) when the manifest has none. Read ONLY
    * when a point predicate on a bloom-indexed column reaches pruning.
    */
  def readBlooms(location: String, conf: Configuration): Map[String, Map[String, String]] = {
    bloomSidecarReads.incrementAndGet()
    val cached = bloomCache.synchronized(bloomCache.get(location))
    if (cached != null) return cached
    val blooms = try {
      mapper.readValue(readDoc(s"$location.bloom", conf),
        new com.fasterxml.jackson.core.`type`.TypeReference[Map[String, Map[String, String]]] {})
    } catch { case _: java.io.FileNotFoundException => Map.empty[String, Map[String, String]] }
    bloomCache.synchronized(bloomCache.put(location, blooms))
    blooms
  }

  /** Manifest entries with their sidecar blooms re-attached — for paths
    * that REWRITE manifests (merge, partial rewrite, clone): `write` will
    * re-strip them into the new manifest's sidecar, so blooms survive
    * metadata reshuffles.
    */
  def readWithBlooms(location: String, conf: Configuration): Seq[DataFileMeta] = {
    val blooms = readBlooms(location, conf)
    if (blooms.isEmpty) read(location, conf)
    else read(location, conf).map(f =>
      blooms.get(f.path).map(b => f.copy(blooms = b)).getOrElse(f))
  }

  /** Bounded daemon pool for PARALLEL manifest-document reads at planning
    * time. One manifest read is one small-object GET + JSON parse — pure
    * latency — and a wide scan of a many-manifest table used to pay them
    * SERIALLY on the driver. Eight concurrent reads cover the metadata
    * store's round-trip latency without turning planning into a DoS on it.
    */
  private lazy val planningPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(8, (r: Runnable) => {
        val t = new Thread(r, "graft-manifest-read")
        t.setDaemon(true)
        t
      }))

  /** Planning-read deadline for [[readAll]] (seconds; settable via system
    * property `graft.planning.read-timeout-sec`, default 300). One hung
    * metadata-store GET must not wedge driver planning forever — an
    * `Await.result(_, Inf)` against the fixed pool would. The deadline is
    * per readAll CALL (shared across that call's futures), so a batch of
    * N reads can't stretch it to N × timeout.
    */
  private def planningReadTimeout: scala.concurrent.duration.FiniteDuration =
    scala.concurrent.duration.Duration(
      java.lang.Long.getLong("graft.planning.read-timeout-sec", 300L),
      java.util.concurrent.TimeUnit.SECONDS)

  /** Read many manifests, cache misses fetched in parallel; the
    * concatenated result preserves `locations` order, so downstream
    * file-list ordering (split planning, stats folds) is byte-identical
    * to the serial path. The FIRST failure propagates as-is (via
    * `firstCompletedOf` on a failure-watching promise, so a failed read
    * surfaces immediately instead of after every earlier straggler
    * drains); a read exceeding the shared planning deadline raises
    * `TimeoutException` rather than hanging the driver.
    */
  def readAll(locations: Seq[String], conf: Configuration): Seq[DataFileMeta] =
    if (locations.lengthCompare(2) < 0) locations.flatMap(read(_, conf))
    else {
      import scala.concurrent.{Await, Future, Promise}
      implicit val ec: scala.concurrent.ExecutionContext = planningPool
      val deadline = planningReadTimeout.fromNow
      // any failure completes this promise immediately — awaiting
      // (sequence OR firstFailure) turns "wait for each in order" into
      // "fail as soon as anything fails"; in-flight siblings finish into
      // the bounded cache and are simply never consumed
      val firstFailure = Promise[Seq[Seq[DataFileMeta]]]()
      val futures = locations.map(l => Future(read(l, conf)))
      futures.foreach(_.failed.foreach(firstFailure.tryFailure))
      val all = Future.firstCompletedOf(Seq(Future.sequence(futures), firstFailure.future))
      try Await.result(all, deadline.timeLeft).flatten
      catch {
        case _: java.util.concurrent.TimeoutException =>
          throw new java.util.concurrent.TimeoutException(
            s"manifest planning read exceeded ${planningReadTimeout.toSeconds}s " +
              s"(${locations.size} manifests; set -Dgraft.planning.read-timeout-sec to raise)")
      }
    }

  /** Manifest-by-manifest STREAMED reads for bounded-memory planning: a
    * window of `window` fetches stays in flight (same pool and deadline
    * as [[readAll]]), results are yielded strictly in `locations` order,
    * and each manifest's full-width entry batch is released to GC as soon
    * as the consumer moves on — peak full-width transit residency is
    * O(window × largest manifest), never O(all files). The entry-bounded
    * cache caps the only other full-width holder.
    */
  def readIterator(locations: Seq[String], conf: Configuration,
      window: Int = 8): Iterator[Seq[DataFileMeta]] =
    new Iterator[Seq[DataFileMeta]] {
      import scala.concurrent.{Await, Future}
      private val locs = locations.iterator
      private val inFlight = scala.collection.mutable.Queue.empty[Future[Seq[DataFileMeta]]]
      private def fill(): Unit =
        while (inFlight.size < window && locs.hasNext) {
          val l = locs.next() // eager: the Future body must not race on the iterator
          inFlight.enqueue(Future(read(l, conf))(planningPool))
        }
      fill()
      override def hasNext: Boolean = inFlight.nonEmpty
      override def next(): Seq[DataFileMeta] = {
        val f = inFlight.dequeue()
        fill()
        try Await.result(f, planningReadTimeout)
        catch {
          case _: java.util.concurrent.TimeoutException =>
            throw new java.util.concurrent.TimeoutException(
              s"manifest planning read exceeded ${planningReadTimeout.toSeconds}s " +
                "(set -Dgraft.planning.read-timeout-sec to raise)")
        }
      }
    }

  def read(location: String, conf: Configuration): Seq[DataFileMeta] = {
    manifestReads.incrementAndGet()
    val cached = fileCache.synchronized(fileCache.get(location))
    if (cached != null) return cached
    val files = mapper.readValue(readDoc(location, conf),
      new com.fasterxml.jackson.core.`type`.TypeReference[Seq[DataFileMeta]] {})
    fileCachePut(location, files)
    files
  }

  def writeList(tableLocation: String, snapshotId: Long, manifests: Seq[ManifestMeta],
      conf: Configuration): String = {
    val loc = s"$tableLocation/metadata/manifest-list-$snapshotId-${java.util.UUID.randomUUID()}.json"
    writeDoc(loc, mapper.writeValueAsString(manifests), conf)
    listCache.synchronized(listCache.put(loc, manifests))
    loc
  }

  def readList(location: String, conf: Configuration): Seq[ManifestMeta] = {
    val cached = listCache.synchronized(listCache.get(location))
    if (cached != null) return cached
    val ms = mapper.readValue(readDoc(location, conf),
      new com.fasterxml.jackson.core.`type`.TypeReference[Seq[ManifestMeta]] {})
    listCache.synchronized(listCache.put(location, ms))
    ms
  }
}

/** Commit-retry policy: exponential backoff with FULL JITTER (the AWS
  * architecture-blog scheme) — under a thundering herd of writers, linear
  * fixed-step backoff keeps the herd in lockstep and a 20-attempt budget
  * exhausts on a loaded box; uniform-random sleeps in a doubling window
  * decorrelate the herd so the expected total wait stays low while the
  * p99 commit still lands. Timing-only randomness: commit CONTENT is
  * unaffected, so engine determinism guarantees hold.
  */
object CasRetry {
  val maxAttempts = 32
  /** Lost this many CASes in one commit → claim the starvation lease. */
  val starveLeaseAfter = 8
  /** A lease older than this is a crashed holder — stealable. */
  val leaseTtlMs = 10000L
  /** A commit that has YIELDED to lease holders is queued, not livelocked:
    * it is bounded by this wall-clock deadline instead of the attempt
    * count (each holder rotation costs every waiter one CAS loss, so deep
    * queues exhaust any reasonable attempt budget while progressing).
    */
  val queueDeadlineMs = 120000L
  private val rnd = new java.util.Random()
  def backoff(attempt: Int): Unit = {
    val window = math.min(250L, 4L << math.min(attempt, 6)) // 8,16,...,256 -> cap 250ms
    Thread.sleep(1L + rnd.nextInt(window.toInt))
  }
  /** A losing writer saw someone else's starvation lease: wait out roughly
    * one of the holder's rebase cycles before competing again.
    */
  def yieldToLease(): Unit = Thread.sleep(40L + rnd.nextInt(40))
}

/** Two concurrent commits rewrote the same data file (DELETE ∥ compact,
  * UPDATE ∥ UPDATE, …). Blindly rebasing would re-add rows the winner
  * removed, so the loser must fail: rewrites are serializable-or-fail,
  * only pure appends rebase automatically (Iceberg's validation model).
  */
final class CommitConflictException(msg: String) extends IllegalStateException(msg)

/** The pointer-swap's outcome could not be determined: the JDBC CAS call
  * threw (connection died mid-statement — with remote Postgres this is a
  * fact of life: the UPDATE may have applied server-side with the ack lost
  * on the wire), and the probes that usually resolve the ambiguity
  * ([[CasCommit.guardedCas]]) kept failing or the commit shape carries no
  * discriminating snapshot. The files this commit references MAY be table
  * state — abort paths MUST NOT delete them (they become plain orphans for
  * `remove_orphan_files` in the worst case; deleting a committed file is
  * data loss). Iceberg's CommitStateUnknownException draws the same line.
  */
final class CommitStateUnknownException(msg: String, cause: Throwable = null)
  extends IllegalStateException(msg, cause)

/** The table's pointer row vanished while a commit was rebasing onto it
  * (a concurrent DROP): the commit did not land. A staged REPLACE falls
  * back to registering the table anew.
  */
final class TableDroppedException(msg: String) extends IllegalStateException(msg)

object CasCommit {
  /** Iceberg-style rebase precondition for file-replacing commits: every
    * file this commit replaces (or targets with tombstones) must still be
    * live in the (possibly concurrently-advanced) base snapshot — data and
    * delete files both count. Appends pass trivially (`replaced` empty).
    */
  def requireReplacedLive(
      base: TableMeta, replacedPaths: Set[String], operation: String, ident: String): Unit = {
    if (replacedPaths.nonEmpty) {
      val live = (base.currentFiles ++ base.currentDeleteFiles ++
        base.currentEqDeleteFiles).map(_.path).toSet
      val gone = replacedPaths -- live
      if (gone.nonEmpty)
        throw new CommitConflictException(
          s"$operation on $ident: ${gone.size} file(s) this commit rewrites were " +
            s"concurrently removed or rewritten (e.g. ${gone.head}); " +
            "rewrites are serializable-or-fail — retry the whole operation")
    }
  }

  /** The mirror-image validation for copy-on-write/compaction commits in
    * the presence of merge-on-read writers: if a delete file landed AFTER
    * this rewrite's scan and its tombstones may target a file the rewrite
    * replaces, the rewrite was computed from stale rows (it would resurrect
    * the concurrently-deleted ones) — fail, don't rebase. Coverage is
    * judged by the delete file's `file_path` min/max range (conservative:
    * overlap = conflict).
    */
  def requireNoNewDeletes(
      scanBaseDeletePaths: Set[String], base: TableMeta, replacedPaths: Set[String],
      operation: String, ident: String): Unit = {
    if (replacedPaths.isEmpty) return
    // equality deletes carry no file_path stats, so a fresh one always
    // "may target" a rewrite — conservative-correct
    val fresh = (base.currentDeleteFiles ++ base.currentEqDeleteFiles)
      .filterNot(d => scanBaseDeletePaths(d.path))
    val clash = fresh.find(d => DeleteFiles.coversAny(d, replacedPaths))
    clash.foreach { d =>
      throw new CommitConflictException(
        s"$operation on $ident: delete file ${d.path} committed concurrently may target " +
          "a file this commit rewrites; rewrites are serializable-or-fail — retry")
    }
  }

  /** THE commit loop, the only code that moves a table pointer (row-level
    * ops, batch and streaming appends, the CoW fold, ALTER TABLE, staged
    * REPLACE, maintenance rewrites and expiry): re-`validate` against the
    * CURRENT base, `transform` it, write the new metadata document, CAS the
    * pointer; on a lost race reload the fresh pointer and retry with jittered
    * backoff, loud after maxAttempts. `validate` throwing (conflict) aborts
    * the whole commit — validations are re-run on EVERY retry because the
    * base they guard against moves. The CAS itself goes through
    * [[guardedCas]], so a torn JDBC call resolves to a definite outcome (or
    * a loud [[CommitStateUnknownException]]) instead of a silent maybe; a
    * vanished pointer row throws [[TableDroppedException]].
    */
  def retryLoop(
      store: PointerStore,
      namespace: String,
      tableName: String,
      startLoc: String,
      startMeta: TableMeta,
      operation: String,
      ident: String,
      hadoopConf: org.apache.hadoop.conf.Configuration,
      // a commit lease the CALLER already holds (an op-starving compactor
      // claims one before re-planning so no conflicting delete can land in
      // its plan→commit window) — the loop then neither yields to it nor
      // releases it; ownership stays with the caller
      heldLease: Option[String] = None)(
      validate: TableMeta => Unit)(
      transform: TableMeta => TableMeta)(
      onSuccess: => Unit): Unit = {
    var prevLoc = startLoc
    var base = startMeta
    var attempts = 0
    // STARVATION ESCAPE (r11, found by CommitContentionBench): a challenger
    // that rebases after losing runs in LOCKSTEP with the incumbent — its
    // reload+rewrite cycle is the same length as the incumbent's commit
    // cycle, so its CAS lands a few ms after every one of the incumbent's
    // commits and the 1-8 ms jitter never breaks phase (measured: 33
    // consecutive losses at TWO writers; full 32-attempt exhaustion at 8).
    // A writer that has lost `starveLeaseAfter` CASes claims an ADVISORY
    // TTL'd lease, and EVERY writer peeks the lease before each commit
    // attempt (one indexed-PK SELECT on a path that already does several
    // round trips plus file IO), yielding while a foreign lease is live —
    // that includes current winners, which is what actually breaks the
    // lockstep. The lease is never REQUIRED for the CAS — every
    // correctness property of the pure optimistic protocol is unchanged,
    // and all lease traffic degrades to plain backoff on SQLException.
    var lease: Option[String] = heldLease
    val leaseIsCallers = heldLease.isDefined
    // QUEUE accounting (r11, found at 32 writers): the attempt bound
    // exists to detect LIVELOCK, but under deep contention the lease
    // serializes starving writers into a queue, and every holder rotation
    // costs each waiter one real CAS loss — 31 writers ahead exhausts a
    // 32-attempt budget while the system is making steady progress. So:
    // yielding to a foreign lease marks the loop QUEUED, queued loops are
    // bounded by TIME (deadline below) instead of attempts, and acquiring
    // the lease resets the attempt budget (the holder now has priority —
    // its losses are bounded by the in-flight stragglers, not the queue).
    val deadlineAt = System.currentTimeMillis() + CasRetry.queueDeadlineMs
    var queued = false
    def leaseSafe[T](default: T)(f: => T): T =
      try f catch { case _: java.sql.SQLException => default }
    def reload(): Unit = {
      prevLoc = store.load(namespace, tableName).getOrElse(
        throw new TableDroppedException(s"table $ident dropped during $operation"))
      base = TableMeta.read(prevLoc, hadoopConf)
    }
    try {
      while (attempts < CasRetry.maxAttempts ||
          (queued && System.currentTimeMillis() < deadlineAt)) {
        if (lease.isEmpty) {
          var waitedMs = 0L
          while (waitedMs < CasRetry.leaseTtlMs && leaseSafe(Option.empty[String])(
              store.peekLease(namespace, tableName, System.currentTimeMillis(),
                CasRetry.leaseTtlMs)).isDefined) {
            CasRetry.yieldToLease() // a starving writer goes first
            queued = true
            waitedMs += 60
          }
          if (waitedMs > 0) reload() // the holder landed: rebase on its result
        }
        validate(base)
        val next = transform(base)
        val newLoc = TableMeta.write(next, hadoopConf)
        // the snapshot(s) THIS attempt added — unique manifest-list UUIDs, so
        // a torn CAS can be resolved by looking for them in the live history
        val newHead = next.snapshots.drop(base.snapshots.size).lastOption
        if (guardedCas(store, namespace, tableName, newLoc, prevLoc, newHead,
            hadoopConf, operation, ident) == 1) {
          onSuccess
          return
        }
        attempts += 1
        if (attempts >= CasRetry.starveLeaseAfter && lease.isEmpty) {
          val id = java.util.UUID.randomUUID().toString
          if (leaseSafe(false)(store.tryAcquireLease(namespace, tableName, id,
              System.currentTimeMillis(), CasRetry.leaseTtlMs))) {
            lease = Some(id)
            attempts = 0 // priority window: the queue is behind us now
          }
        }
        if (lease.isDefined) CasRetry.backoff(1) // the row is ours to win now
        else if (leaseSafe(Option.empty[String])(store.peekLease(namespace,
            tableName, System.currentTimeMillis(), CasRetry.leaseTtlMs)).isDefined) {
          CasRetry.yieldToLease() // someone else is starving: let them land
          queued = true
        } else CasRetry.backoff(attempts)
        reload()
      }
      throw new IllegalStateException(s"$operation on $ident: CAS lost $attempts times" +
        (if (queued) s" (lease-queued past the ${CasRetry.queueDeadlineMs} ms deadline)"
         else ""))
    } finally if (!leaseIsCallers) lease.foreach(id =>
      leaseSafe(())(store.releaseLease(namespace, tableName, id)))
  }

  /** CAS with COMMIT-STATE-AMBIGUITY resolution. A clean return from
    * `casUpdate` is already definite (1 = ours, 0 = lost the race). The
    * hard case is the call THROWING — with a remote store the statement may
    * have applied server-side and only the ack was lost. Probing resolves
    * it, because pointer locations are UUID-unique and never reused:
    *
    *   - pointer == newLoc   → our update landed: COMMITTED.
    *   - pointer == prevLoc  → maybe still in flight: re-issue the SAME
    *     CAS. Idempotent under the guard — if the torn original lands
    *     concurrently, the re-issue matches 0 rows and the next probe sees
    *     newLoc. Either instance applying is the same commit (same doc).
    *   - pointer == other    → someone CASed prevLoc→other, so our guard
    *     (`metadata_location = prevLoc`) can NEVER match again: the torn
    *     call either landed before (then `other` built ON TOP of us and our
    *     added snapshot — unique manifest-list UUID — is in its history) or
    *     is dead. Read `other` and look for `newHead`: found = COMMITTED,
    *     absent = NOT APPLIED (safe to rebase + retry).
    *
    * A commit that adds no discriminating snapshot (property-only ALTERs,
    * or an empty-table overwrite with no manifest list) and keeps failing
    * its probes escalates to [[CommitStateUnknownException]] — the caller's
    * abort path must then leave the written files alone.
    * (Snapshot expiry racing the probe window could in principle erase
    * `newHead` before we look — that needs a retention-aged expiry inside a
    * ~seconds-wide window, and the failure mode is a duplicate append, not
    * loss; accepted.)
    */
  def guardedCas(
      store: PointerStore,
      namespace: String,
      tableName: String,
      newLoc: String,
      prevLoc: String,
      newHead: Option[SnapshotMeta],
      hadoopConf: org.apache.hadoop.conf.Configuration,
      operation: String,
      ident: String): Int = {
    val torn = try return store.casUpdate(namespace, tableName, newLoc, prevLoc)
    catch { case e: java.sql.SQLException => e }
    var probes = 0
    while (probes < CasRetry.maxAttempts) {
      probes += 1
      val cur = try store.load(namespace, tableName)
      catch { case _: java.sql.SQLException => None } // None arm backs off
      cur match {
        case Some(l) if l == newLoc => return 1
        case Some(l) if l == prevLoc =>
          // NB: a 0 here is NOT a definite loss — the torn original may
          // have landed between the load and this re-issue (pointer now
          // newLoc, which fails the guard too). Only a 1 is terminal;
          // anything else goes back to probing.
          try { if (store.casUpdate(namespace, tableName, newLoc, prevLoc) == 1) return 1 }
          catch { case _: java.sql.SQLException => CasRetry.backoff(probes) }
        case Some(other) =>
          newHead match {
            case Some(h) if h.listLocation.isDefined =>
              // the read of the interloper's metadata doc is itself
              // fallible (transient object-store error) — while it fails,
              // the outcome stays AMBIGUOUS: back off and re-probe within
              // the remaining budget (the failure may be one throttled
              // GET), and only when the budget is spent escalate as
              // CommitStateUnknownException, which keeps every abort
              // path's no-cleanup guard engaged; a bare IOException here
              // would let abort() delete files a landed commit references
              val curMeta =
                try TableMeta.read(other, hadoopConf)
                catch {
                  case e: Exception =>
                    if (probes >= CasRetry.maxAttempts)
                      throw new CommitStateUnknownException(
                        s"$operation on $ident: CAS outcome unknown (probe of " +
                          s"current pointer $other failed: ${e.getMessage}) — " +
                          "files were NOT cleaned up", torn)
                    CasRetry.backoff(probes)
                    null
                }
              if (curMeta != null)
                return if (curMeta.snapshots.exists(s =>
                  s.snapshotId == h.snapshotId && s.listLocation == h.listLocation)) 1
                else 0
            case _ =>
              throw new CommitStateUnknownException(
                s"$operation on $ident: CAS outcome unknown (store call failed, " +
                  s"pointer moved to $other, and this commit carries no " +
                  "discriminating snapshot) — files were NOT cleaned up", torn)
          }
        case None => // no row: the load failed (its catch defers here) or
          // the row is genuinely absent (concurrent DROP) — this arm owns
          // the single backoff for both, then re-probes
          if (probes >= CasRetry.maxAttempts)
            throw new CommitStateUnknownException(
              s"$operation on $ident: CAS outcome unknown (no pointer row " +
                s"after $probes probes — store unreachable or table " +
                "concurrently dropped) — files were NOT cleaned up", torn)
          CasRetry.backoff(probes)
      }
    }
    throw new CommitStateUnknownException(
      s"$operation on $ident: CAS outcome unknown after $probes probes — " +
        "files were NOT cleaned up", torn)
  }
}

/** One partition-spec field: an identity column (`region`) or a hash
  * bucket transform (`bucket(16,user_id)`). Bucketing gives clustered
  * writes + storage-partitioned joins on HIGH-cardinality keys — at 100 TB
  * two tables bucketed the same way join with no shuffle on either side,
  * which identity partitioning can't offer for keys like user_id.
  * Serialized into `TableMeta.partitionColumns` as its `spec` string.
  */
final case class PartField(source: String, buckets: Option[Int],
    time: Option[String] = None, trunc: Option[Int] = None) {
  /** Key under which the writer records this field's per-file stats. */
  def statKey: String = buckets.map(n => s"_bucket_${n}_$source")
    .orElse(time.map(u => s"_${u}_$source"))
    .orElse(trunc.map(w => s"_truncate_${w}_$source")).getOrElse(source)
  def spec: String = buckets.map(n => s"bucket($n,$source)")
    .orElse(time.map(u => s"$u($source)"))
    .orElse(trunc.map(w => s"truncate($w,$source)")).getOrElse(source)
  /** True for a plain column (no transform). */
  def isIdentity: Boolean = buckets.isEmpty && time.isEmpty && trunc.isEmpty
  /** Type of this field's stat values: bucket and time keys are ints,
    * identity and truncate keys keep the source column's type.
    */
  def statType(sourceType: DataType): DataType =
    if (buckets.isDefined || time.isDefined) IntegerType else sourceType
  def rename(from: String, to: String): PartField =
    if (source == from) copy(source = to) else this
}

object PartField {
  private val Bucket = """bucket\((\d+),(.+)\)""".r
  private val Time = """(years|months|days|hours)\((.+)\)""".r
  private val Trunc = """truncate\((\d+),(.+)\)""".r
  val BucketKey = """_bucket_(\d+)_(.+)""".r
  val TimeKey = """_(years|months|days|hours)_(.+)""".r
  val TruncKey = """_truncate_(\d+)_(.+)""".r
  def parse(s: String): PartField = s match {
    case Bucket(n, c) => PartField(c, Some(n.toInt))
    case Time(u, c) => PartField(c, None, Some(u))
    case Trunc(w, c) => PartField(c, None, None, Some(w.toInt))
    case c => PartField(c, None)
  }
}

/** Helpers for the logical→physical column mapping (see TableMeta). */
object ColumnMapping {
  import org.apache.spark.sql.types.{MetadataBuilder, StructField}

  /** StructField metadata key holding the physical (parquet) column name. */
  val PhysKey = "graft.phys"
  /** Table property: next id for generating fresh physical names. */
  val CounterProp = "graft.next-col-id"

  def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey) else f.name

  def withPhysical(f: StructField, phys: String): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putString(PhysKey, phys).build())

  /** Rename a projection of the table schema logical→physical. Names not in
    * the map (e.g. row-operation marker columns) pass through.
    *
    * A field carrying an INITIAL DEFAULT relaxes to nullable on the
    * physical side: files written before the column existed lack it, and
    * Spark's parquet readers refuse a missing REQUIRED column outright
    * ("Required column is missing in data file") before the
    * existence-default fill can run. Values still never surface as NULL —
    * readers synthesize the folded literal for old files and the analyzer
    * fills writes — so the LOGICAL schema's NOT NULL contract holds.
    */
  def toPhysical(s: StructType, l2p: Map[String, String]): StructType =
    StructType(s.fields.map { f0 =>
      val f = f0.copy(name = l2p.getOrElse(f0.name, f0.name))
      if (!f.nullable && ColumnDefaults.hasInitial(f)) f.copy(nullable = true) else f
    })

  def toLogical(s: StructType, l2p: Map[String, String]): StructType = {
    val p2l = l2p.map(_.swap)
    StructType(s.fields.map(f => f.copy(name = p2l.getOrElse(f.name, f.name))))
  }

  /** One stat key physical→logical: transform keys rewrite their source
    * name, shredded-variant keys their column prefix, plain columns map
    * directly. Shared by [[TableMeta.logicalStatFiles]] and the runtime
    * delete-narrowing view in the scan.
    */
  def logicalStatKey(k: String, p2l: Map[String, String]): String = k match {
    case PartField.BucketKey(n, src) => s"_bucket_${n}_${p2l.getOrElse(src, src)}"
    case PartField.TimeKey(u, src) => s"_${u}_${p2l.getOrElse(src, src)}"
    case PartField.TruncKey(w, src) => s"_truncate_${w}_${p2l.getOrElse(src, src)}"
    // shredded-variant stat keys: "<col>#<path>" — the prefix follows
    // the column's logical name (rename-safe, like every other stat)
    case _ if k.contains('#') =>
      val i = k.indexOf('#')
      s"${p2l.getOrElse(k.substring(0, i), k.substring(0, i))}${k.substring(i)}"
    case _ => p2l.getOrElse(k, k)
  }

  /** Rewrite attribute references in pushed-down predicates logical→physical
    * so the delegated parquet scan resolves them against file schemas.
    */
  def toPhysicalExprs(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      l2p: Map[String, String]): Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    if (l2p.forall(kv => kv._1 == kv._2)) exprs
    else exprs.map(_.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
        if l2p.getOrElse(a.name, a.name) != a.name => a.withName(l2p(a.name))
    })
}

/** `write.variant.shred-paths` spec handling — shared by the property
  * rewrite in [[TableMeta.writeConf]], the RENAME follow-through in
  * LakeCatalog, and the writer's stat tracker. Entries are separated by
  * `;` (or `,` when no `;` appears — but parameterized types like
  * `decimal(10,2)` contain commas, so `;` is the robust form); each
  * entry is `col:$.path:type` where col is the FIRST `:`-segment and
  * type the LAST (paths may contain `:`). Malformed entries are skipped,
  * never fail a write.
  */
object VariantShred extends org.apache.spark.internal.Logging {
  val Prop = "write.variant.shred-paths"

  def parse(spec: String): Seq[(String, String, String)] = {
    // `;` is authoritative. The legacy `,` fallback splits at top level
    // only (never inside a parameterized type's parentheses), and each
    // piece succeeds or is warned+skipped independently.
    def entriesOf(pieces: Array[String]): Seq[(String, String, String)] =
      pieces.map(_.trim).filter(_.nonEmpty).toSeq.flatMap { e =>
        val i = e.indexOf(':')
        val j = e.lastIndexOf(':')
        if (i <= 0 || j <= i + 1 || j == e.length - 1) {
          logWarning(s"$Prop: skipping malformed entry '$e' (want col:$$.path:type)")
          None
        } else {
          val (c, p, t) = (e.substring(0, i), e.substring(i + 1, j), e.substring(j + 1))
          if (typeOk(t)) Some((c, p, t))
          else { logWarning(s"$Prop: skipping entry '$e' — unparseable type '$t'"); None }
        }
      }
    if (spec.contains(';')) entriesOf(spec.split(';'))
    else {
      // legacy comma separation, split OUTSIDE parentheses only — so
      // "a:$.x:int,b:$.y:decimal(10,2)" parses to BOTH entries (the comma
      // inside the type never separates); a piece that still fails is
      // warned and skipped individually, never disabling the valid rest
      entriesOf(splitTopLevel(spec, ',').toArray)
    }
  }

  /** Split on `sep` ignoring occurrences inside parentheses (the type
    * grammar's only nesting); unbalanced input degrades to one piece.
    */
  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth = math.max(0, depth - 1); cur.append(')')
      case c if c == sep && depth == 0 => out += cur.toString; cur.clear()
      case c => cur.append(c)
    }
    out += cur.toString
    out.result()
  }

  private def typeOk(t: String): Boolean =
    try { DataType.fromDDL(t); true } catch { case _: Exception => false }

  def render(entries: Seq[(String, String, String)]): String =
    entries.map { case (c, p, t) => s"$c:$p:$t" }.mkString(";")

  /** The stat key a shredded path records under: the extraction TYPE is
    * part of the key (via the parsed DataType's typeName), so a
    * predicate extracting the same path AS A DIFFERENT TYPE never
    * compares against stats ordered by the wrong type — it just finds no
    * stats and keeps the file.
    */
  def statKey(col: String, path: String, dt: DataType): String =
    s"$col#$path#${dt.typeName}"
}

/** Column DEFAULT values, Iceberg v3's two-default model carried in
  * Spark's own StructField metadata keys:
  *
  *  - CURRENT_DEFAULT (the "write default", SQL text): what an INSERT
  *    that omits the column writes. Mutable via `ALTER COLUMN ... SET /
  *    DROP DEFAULT`. The analyzer fills it in BEFORE rows reach the
  *    writer, so data files always materialize the value.
  *  - EXISTS_DEFAULT (the "initial default", a folded literal): what rows
  *    in files written BEFORE the column existed read back. Set once at
  *    ADD COLUMN, IMMUTABLE forever after — already-written files must
  *    never change meaning retroactively.
  *
  * Using Spark's keys means ZERO custom read-path code at any scale:
  * every reader in the engine — the delegated vectorized/row parquet
  * scans, the merge-on-read readers over them, and the V1 reads
  * inside CoW rewrites — consumes the requested schema's metadata and
  * fills missing columns with the folded literal natively
  * (`ParquetRowConverter.applyExistenceDefaultValuesToRow`, the
  * vectorized reader's missing-column vectors). ADD COLUMN with DEFAULT
  * on a 100 TB table is therefore a pure metadata commit: no backfill,
  * no rewrite, old files keep serving with the default synthesized at
  * read time. Stats-based pruning/aggregation stays sound because every
  * consumer treats a file with NO stats for the column as
  * unknown-conservative (keep / refuse pushdown).
  */
object ColumnDefaults {
  import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
  import org.apache.spark.sql.connector.catalog.{ColumnDefaultValue, DefaultValue}
  import org.apache.spark.sql.types.{MetadataBuilder, StructField}

  val CurrentKey: String = ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY
  val ExistsKey: String = ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY

  /** The default's constant-folded literal as parseable SQL (what the
    * readers re-evaluate when filling a column absent from a file).
    */
  private def literalSql(dv: ColumnDefaultValue): String = {
    val lv = dv.getValue
    org.apache.spark.sql.catalyst.expressions.Literal(lv.value, lv.dataType).sql
  }

  def hasInitial(f: StructField): Boolean = f.metadata.contains(ExistsKey)

  /** ADD COLUMN ... DEFAULT: write default = the user's SQL text, initial
    * default = the folded literal, pinned immutably.
    */
  def withDefaults(f: StructField, dv: ColumnDefaultValue): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putString(CurrentKey, Option(dv.getSql).getOrElse(literalSql(dv)))
      .putString(ExistsKey, literalSql(dv)).build())

  /** ALTER COLUMN SET/DROP DEFAULT: only the WRITE default moves; the
    * initial default (if any) is untouched — files written before the
    * column existed keep reading the value that was promised when the
    * column was added.
    */
  def withCurrent(f: StructField, dv: DefaultValue): StructField = {
    val b = new MetadataBuilder().withMetadata(f.metadata)
    if (dv == null || (dv.getSql != null && dv.getSql.isEmpty)) b.remove(CurrentKey)
    else b.putString(CurrentKey, Option(dv.getSql).getOrElse(dv match {
      case c: ColumnDefaultValue => literalSql(c)
      case _ => throw new UnsupportedOperationException(
        "SET DEFAULT requires a SQL-renderable constant expression")
    }))
    f.copy(metadata = b.build())
  }
}

object TableMeta {
  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  def empty(location: String, schema: StructType, partitionColumns: Seq[String],
      properties: Map[String, String]): TableMeta =
    TableMeta(1, location, schema.json, partitionColumns, properties, -1L, Nil)

  def toJson(m: TableMeta): String = mapper.writeValueAsString(m)
  def fromJson(s: String): TableMeta = mapper.readValue(s, classOf[TableMeta])

  /** Parsed metadata documents by location, written through by [[write]].
    * A document is UUID-named and never changed once written, so a rebase
    * or a catalog load of a version this JVM wrote or read a moment ago
    * parses nothing. Bounded like [[ManifestIO]]'s list cache; entries hold
    * no IO conf. The delete sites (a purging DROP, remove_orphan_files)
    * evict through [[forgetDocs]].
    */
  private[catalog] val DocCacheBound = 64
  private val docCache = ManifestIO.lru[TableMeta](DocCacheBound)
  private[catalog] def cachedDocs: Int = docCache.synchronized(docCache.size())

  /** Drops every cached document whose location starts with `prefix`. */
  private[catalog] def forgetDocs(prefix: String): Unit = docCache.synchronized {
    docCache.keySet().removeIf(_.startsWith(prefix))
  }

  /** Read a metadata document from the warehouse (Hadoop FS: local in tests,
    * S3A/HDFS in prod — same code path as the reference's object_store.get,
    * reference: src/catalog/mod.rs:209-216). Each call returns its own
    * instance carrying `conf`.
    */
  def read(metadataLocation: String, conf: Configuration): TableMeta = {
    val cached = docCache.synchronized(docCache.get(metadataLocation))
    val m =
      if (cached != null) cached.copy()
      else {
        val p = new Path(metadataLocation)
        val in = p.getFileSystem(conf).open(p)
        val parsed =
          try fromJson(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
          finally in.close()
        docCache.synchronized(docCache.put(metadataLocation, parsed.copy()))
        parsed
      }
    m.ioConf = conf
    m
  }

  // ── commit-shape helpers (manifest-list indirection) ───────────────────
  // Every commit produces a new snapshot whose file list is a list of
  // MANIFEST POINTERS: appends carry all previous manifests by reference
  // and write one new manifest for the new files; rewrites rewrite only the
  // manifests that contain a replaced file. The metadata document itself
  // stays O(snapshots × manifests-per-snapshot) — never O(total files).

  /** Stamp positional-delete entries with the PARTITION-VALUE bounds of
    * their target files (Iceberg's partition-scoped delete files,
    * recovered here from stats): the union of the targets' partition
    * source/transform bounds is a sound description of every row the
    * tombstones can kill (a killed row lives in a target, so its
    * partition value sits inside that target's bounds). The folded
    * bounds ride the delete manifest's summary, letting a
    * partition-predicated scan SKIP whole delete manifests
    * ([[TableMeta.deleteFilesMatching]]) — where file-path ranges can't
    * help (UUID names). Null counts are deliberately NOT stamped: target
    * stats describe whole files, not the killed subset, so IsNull
    * pruning stays conservative. Unpartitioned tables stamp nothing.
    */
  def withTargetPartitionBounds(deletes: Seq[DataFileMeta],
      targetPaths: Set[String], meta: TableMeta): Seq[DataFileMeta] =
    targetBoundsStamper(meta)(deletes, targetPaths)

  /** Precomputed per-COMMIT stamper for [[withTargetPartitionBounds]]:
    * schema-derived state (partition fields, stat kinds, the path→file
    * map over the current snapshot) resolves ONCE; the returned closure
    * is then applied per task message, so a wide MoR write's commit does
    * O(messages × its-targets) work, never O(messages × table-files).
    */
  def targetBoundsStamper(meta: TableMeta)
      : (Seq[DataFileMeta], Set[String]) => Seq[DataFileMeta] = {
    val pf = meta.partitionFields
    if (pf.isEmpty) return (deletes, _) => deletes
    val m = meta.l2pMap
    val physSrc = pf.map(f => m.getOrElse(f.source, f.source)).toSet
    val transformKeys = pf.filter(!_.isIdentity)
      .map(f => f.copy(source = m.getOrElse(f.source, f.source)).statKey).toSet
    // NEVER stamp over the tombstone schema's own reserved stat keys: a
    // partition source physically named `file_path`/`pos` would otherwise
    // overwrite the entry's target-path range — which covering-delete
    // resolution and DV target lookup key on — and deleted rows would
    // silently resurrect. Such columns simply don't participate in the
    // skip (conservative), like every other refused stat.
    val reserved = Set(DeleteFiles.FilePathCol, DeleteFiles.PosCol)
    val kinds = meta.physicalStatKinds.filter { case (k, _) =>
      (physSrc(k) || transformKeys(k)) && !reserved(k) }
    if (kinds.isEmpty) return (deletes, _) => deletes
    lazy val byPath: Map[String, DataFileMeta] =
      meta.currentFiles.map(f => f.path -> f).toMap
    (deletes, targetPaths) => {
      if (deletes.isEmpty || targetPaths.isEmpty) deletes
      else {
        val targets = targetPaths.toSeq.map(byPath.get)
        // ANY unresolved target => stamp nothing (conservative, same as the
        // unpartitioned path): bounds folded over a PARTIAL target set
        // under-cover the tombstones' kill range, and a scan could then
        // skip a delete manifest whose tombstones kill rows in the
        // unresolved target — row resurrection. Unreachable today (targets
        // come from a scan of the same meta), but a future caller passing
        // targets from another snapshot (branch/WAP/time travel) must fail
        // safe, not fold what happens to resolve.
        if (targets.exists(_.isEmpty)) deletes
        else {
          val (mins, maxs, _) = ManifestSummary.fold(targets.flatten, kinds)
          if (mins.isEmpty) deletes
          else deletes.map(d => d.copy(minValues = d.minValues ++ mins,
            maxValues = d.maxValues ++ maxs))
        }
      }
    }
  }

  /** ROW-LINEAGE stamping: reserve a contiguous id range per new DATA
    * file from the table's high-water mark. Runs inside every commit
    * builder — and commit builders run inside the CAS rebase-retry loop,
    * so a racing writer re-stamps against the fresh base and ranges can
    * never overlap. O(new files) driver work, nothing read or written.
    */
  private def stampRowIds(base: TableMeta,
      files: Seq[DataFileMeta]): (TableMeta, Seq[DataFileMeta]) = {
    if (files.isEmpty) return (base, files)
    var next = math.max(base.nextRowId, 1L)
    val stamped = files.map { f =>
      val s = f.copy(firstRowId = next)
      next += f.rowCount
      s
    }
    (base.copy(nextRowId = next), stamped)
  }

  /** Append commit: O(new files) written, everything else by reference.
    * `advance = false` stages the snapshot without moving the current
    * pointer (write-audit-publish).
    */
  def withAppend(base0: TableMeta, operation: String, newFiles0: Seq[DataFileMeta],
      conf: Configuration, extraProps: Map[String, String] = Map.empty,
      advance: Boolean = true): TableMeta = {
    val (base, newFiles) = stampRowIds(base0, newFiles0)
    val snapId = base.nextSnapshotId
    val prev = base.snapshot(base.currentSnapshotId)
      .map(normalized(base, _, conf)).getOrElse(Nil)
    val ms =
      if (newFiles.isEmpty) prev
      else prev :+ ManifestIO.write(base.location, snapId, newFiles, conf,
        statKinds = base.physicalStatKinds)
    finish(base, snapId, operation, ms, extraProps, conf, advance)
  }

  /** Overwrite / create / replace: exactly the new files, fresh manifest. */
  def withOverwrite(base0: TableMeta, operation: String, newFiles0: Seq[DataFileMeta],
      conf: Configuration): TableMeta = {
    val (base, newFiles) = stampRowIds(base0, newFiles0)
    val snapId = base.nextSnapshotId
    val ms =
      if (newFiles.isEmpty) Nil
      else Seq(ManifestIO.write(base.location, snapId, newFiles, conf,
        statKinds = base.physicalStatKinds))
    finish(base, snapId, operation, ms, Map.empty, conf)
  }

  /** File-replacing commit (DELETE/UPDATE/MERGE/compact): manifests holding
    * a replaced file are rewritten without it; untouched manifests are
    * carried by reference. `replacedPaths` may name DELETE files too (a
    * compaction that folded their tombstones in drops them the same way).
    * Callers validate replaced-still-live first
    * ([[CasCommit.requireReplacedLive]]).
    */
  def withRewrite(base0: TableMeta, operation: String, replacedPaths: Set[String],
      newFiles0: Seq[DataFileMeta], conf: Configuration,
      newContent: String = "data"): TableMeta = {
    // delete-manifest rewrites (consolidation) must not consume id space
    val (base, newFiles) =
      if (newContent == "data") stampRowIds(base0, newFiles0) else (base0, newFiles0)
    val snapId = base.nextSnapshotId
    // one kinds computation for the whole rewrite — the per-manifest loop
    // below would otherwise re-derive it (partition parsing + shred-type
    // DataType.fromDDL) once per kept manifest
    val statKinds = base.physicalStatKinds
    val kept = base.snapshot(base.currentSnapshotId)
      .map(normalized(base, _, conf)).getOrElse(Nil)
      .flatMap { mm =>
        val entries = ManifestIO.read(mm.location, conf)
        if (!entries.exists(e => replacedPaths(e.path))) Some(mm)
        else {
          // rewriting this manifest: re-read WITH blooms so the surviving
          // entries carry their sidecar payloads into the new manifest
          val rest = ManifestIO.readWithBlooms(mm.location, conf)
            .filterNot(e => replacedPaths(e.path))
          if (rest.isEmpty) None
          else Some(ManifestIO.write(base.location, snapId, rest, conf, mm.kind,
            statKinds = statKinds))
        }
      }
    val ms =
      if (newFiles.isEmpty) kept
      else kept :+ ManifestIO.write(base.location, snapId, newFiles, conf, newContent,
        statKinds = statKinds)
    finish(base, snapId, operation, ms, Map.empty, conf)
  }

  /** Merge-on-read delta commit: data files (row-level inserts) and
    * positional-delete files are APPENDED as new manifests; every existing
    * manifest is carried by reference — no data file is rewritten, which is
    * the whole point: a point DELETE on a 100 TB table commits O(tombstones)
    * bytes, not O(rewritten gigabytes). Callers validate that the delete
    * targets are still live first.
    */
  def withDelta(base0: TableMeta, operation: String, newDataFiles0: Seq[DataFileMeta],
      newDeleteFiles: Seq[DataFileMeta], conf: Configuration,
      deleteContent: String = "deletes",
      extraProps: Map[String, String] = Map.empty): TableMeta = {
    val (base, newDataFiles) = stampRowIds(base0, newDataFiles0)
    val snapId = base.nextSnapshotId
    val prev = base.snapshot(base.currentSnapshotId)
      .map(normalized(base, _, conf)).getOrElse(Nil)
    val withData =
      if (newDataFiles.isEmpty) prev
      else prev :+ ManifestIO.write(base.location, snapId, newDataFiles, conf,
        statKinds = base.physicalStatKinds)
    val ms =
      if (newDeleteFiles.isEmpty) withData
      else withData :+ ManifestIO.write(base.location, snapId, newDeleteFiles, conf,
        deleteContent, statKinds = base.physicalStatKinds)
    finish(base, snapId, operation, ms, extraProps, conf)
  }

  /** A snapshot's manifest pointers; legacy inline snapshots page out to a
    * manifest file on first reuse.
    */
  private def normalized(base: TableMeta, s: SnapshotMeta,
      conf: Configuration): Seq[ManifestMeta] = {
    val listed = s.listLocation.map(l => ManifestIO.readList(l, conf)).getOrElse(Nil)
    if (s.inlineFiles.isEmpty) listed
    else listed :+ ManifestIO.write(base.location, s.snapshotId, s.inlineFiles, conf,
      statKinds = base.physicalStatKinds)
  }

  /** Bin-pack small manifests (fewer than `targetEntries` entries) of each
    * content kind into ~`targetEntries`-entry ones. Entries are carried
    * over verbatim — stats and `addedAt` sequence numbers included — so
    * nothing about scan planning or eq-delete applicability changes; only
    * the number of metadata reads per plan does. Manifests holding
    * pre-sequence-number entries (`addedAt` 0) are left untouched: a
    * rewrite would restamp them with this snapshot's id.
    */
  private[catalog] def packManifests(location: String, snapId: Long,
      ms: Seq[ManifestMeta], conf: Configuration, targetEntries: Int,
      statKinds: Map[String, Char] = Map.empty): Seq[ManifestMeta] =
    ms.map(_.kind).distinct.flatMap { kind =>
      val ofKind = ms.filter(_.kind == kind)
      val (small, big) = ofKind.partition(_.nFiles < targetEntries)
      if (small.size < 2) ofKind
      else {
        val entries = small.flatMap(m => ManifestIO.readWithBlooms(m.location, conf))
        if (entries.exists(_.addedAt == 0L)) ofKind
        else big ++ entries.grouped(targetEntries).map(g =>
          ManifestIO.write(location, snapId, g, conf, kind, statKinds)).toSeq
      }
    }

  /** Opportunistic manifest merging every commit applies once the manifest
    * count reaches `commit.manifest-merge.min-count` (default 100;
    * `commit.manifest-merge.enabled=false` opts out) — Iceberg's
    * ManifestMergeManager behavior. A streaming sink committing one
    * manifest per epoch would otherwise grow planning cost without bound;
    * with the merge, metadata stays O(min-count) forever with amortized
    * O(1) extra work per commit (each entry is rewritten only when the
    * small-manifest population has doubled back past the threshold).
    */
  private def maybeMergeManifests(base: TableMeta, snapId: Long,
      ms: Seq[ManifestMeta], conf: Configuration): Seq[ManifestMeta] = {
    if (!base.properties.getOrElse("commit.manifest-merge.enabled", "true").toBoolean)
      return ms
    val minCount = base.properties.getOrElse("commit.manifest-merge.min-count", "100").toInt
    if (ms.size < minCount) return ms
    packManifests(base.location, snapId, ms, conf,
      base.properties.getOrElse("commit.manifest-merge.target-entries", "4096").toInt,
      base.physicalStatKinds)
  }

  private[catalog] def finish(base: TableMeta, snapId: Long, operation: String,
      ms0: Seq[ManifestMeta], extraProps: Map[String, String],
      conf: Configuration, advance: Boolean = true,
      parentOverride: Option[Long] = None): TableMeta = {
    val ms = maybeMergeManifests(base, snapId, ms0, conf)
    val listLoc =
      if (ms.isEmpty) None
      else Some(ManifestIO.writeList(base.location, snapId, ms, conf))
    // summary counts describe DATA only (history/stats); delete manifests
    // are subtracted at scan time, not here
    val data = ms.filter(_.isData)
    val next = base.copy(
      // a STAGED (write-audit-publish) commit records the snapshot without
      // moving the current pointer — readers keep the audited version until
      // publish/cherry-pick advances it
      currentSnapshotId = if (advance) snapId else base.currentSnapshotId,
      properties = base.properties ++ extraProps,
      // materialize the current schema under its id (dedup: one entry per
      // distinct schema) and stamp the snapshot with that id — time travel
      // reads the shape the table had at this commit
      schemas = base.schemaTable + (base.schemaIdNow.toString -> base.schemaJson),
      currentSchemaId = base.schemaIdNow,
      snapshots = base.snapshots :+ SnapshotMeta(snapId, System.currentTimeMillis(),
        operation, Nil, listLoc,
        data.map(_.nFiles).sum, data.map(_.nRows).sum, data.map(_.nBytes).sum,
        // branch commits chain from the BRANCH head, not the main pointer
        parentId = parentOverride.getOrElse(base.currentSnapshotId),
        schemaId = base.schemaIdNow))
    next.ioConf = conf
    next
  }

  /** Append commit onto a BRANCH (Iceberg named-ref semantics): the new
    * snapshot's file list builds on the branch HEAD (not the main pointer),
    * its parent is the branch head, the main pointer does not move, and the
    * `branch.<name>` ref advances — all in the same atomic document swap.
    */
  def withBranchAppend(base0: TableMeta, branch: String, newFiles0: Seq[DataFileMeta],
      conf: Configuration): TableMeta = {
    // id space is TABLE-global (one high-water mark across refs), so
    // branch rows keep their ids through cherry-pick/fast-forward
    val (base, newFiles) = stampRowIds(base0, newFiles0)
    val headId = base.properties.get(s"branch.$branch").map(_.toLong).getOrElse(
      throw new IllegalArgumentException(s"no branch '$branch' on this table"))
    val snapId = base.nextSnapshotId
    val prev = base.snapshot(headId)
      .map(normalized(base, _, conf)).getOrElse(Nil)
    val ms =
      if (newFiles.isEmpty) prev
      else prev :+ ManifestIO.write(base.location, snapId, newFiles, conf,
        statKinds = base.physicalStatKinds)
    finish(base, snapId, "branch-append", ms,
      Map(s"branch.$branch" -> snapId.toString), conf,
      advance = false, parentOverride = Some(headId))
  }

  /** Write a new immutable metadata document; returns its location. Name
    * carries a UUID so two racing committers never collide on the file even
    * before the CAS decides the winner.
    */
  def write(meta: TableMeta, conf: Configuration): String = {
    val loc = s"${meta.location}/metadata/v${meta.currentSnapshotId}-${java.util.UUID.randomUUID()}.metadata.json"
    val p = new Path(loc)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, false)
    try out.write(toJson(meta).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    docCache.synchronized(docCache.put(loc, meta.copy()))
    loc
  }
}
