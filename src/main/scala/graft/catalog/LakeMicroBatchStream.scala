package graft.catalog

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, ReadMaxRows, ReadMinRows, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.graft.PlanShim
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Stream offset: position in the table's append lineage.
  *
  * `pos = -1` means snapshot `snapshotId`'s delta is FULLY consumed (the
  * legacy single-number form — a pre-admission-control checkpoint "123"
  * deserializes to exactly this, so old checkpoints resume unchanged);
  * `pos >= 0` means only the first `pos` files of the snapshot's delta
  * (path-ordered, deterministic) have been consumed — the form rate-limited
  * triggers leave behind mid-snapshot. Fully-consumed offsets always
  * serialize in the legacy form so "same position" is always "same json"
  * (Spark decides "no new data" by offset equality).
  */
final case class LakeOffset(snapshotId: Long, pos: Int = -1) extends Offset {
  override def json(): String =
    if (pos < 0) snapshotId.toString else s"$snapshotId:$pos"
}

object LakeOffset {
  def parse(json: String): LakeOffset = json.split(':') match {
    case Array(s) => LakeOffset(s.toLong)
    case Array(s, p) => LakeOffset(s.toLong, p.toInt)
    case _ => throw new IllegalArgumentException(s"bad LakeOffset: $json")
  }
}

/** Incremental read of a lake table as a micro-batch stream
  * (`spark.readStream.table("lake.ns.t")`): each trigger consumes the data
  * files added between the last committed offset and the current pointer
  * — the metadata IS the changelog, so there is no directory polling and no
  * file-listing anywhere, and a batch is exactly "what the CAS committed
  * since last time". First batch replays the table from the beginning
  * (snapshot 0 → current), matching file-source semantics.
  *
  * Admission control ([[SupportsAdmissionControl]]): `max-files-per-trigger`
  * / `max-rows-per-trigger` / `max-bytes-per-trigger` bound each
  * micro-batch — at 100 TB one bulk backfill commit must not become one
  * giant batch; a rate-limited stream chews through it in bounded,
  * retryable pieces, leaving mid-snapshot offsets (`snapshot:pos`) in the
  * checkpoint. `Trigger.AvailableNow`
  * ([[SupportsTriggerAvailableNow]]) pins the head at query start and
  * drains up to it in rate-limited batches, then stops — the scheduled
  * catch-up pattern.
  *
  * Deltas are resolved per snapshot against its PARENT (falling back to the
  * id-ordered predecessor for legacy documents without parent stamps), so a
  * WAP publish delivers its staged files exactly once, at publish time.
  *
  * Restriction: append-only consumption. Snapshots produced by overwrite /
  * replace-rows / delete / upsert rewrite or tombstone history rather than
  * appending; a stream positioned before one fails fast rather than
  * emitting wrong deltas.
  */
final class LakeMicroBatchStream(
    ident: String,
    tableSchema: StructType,
    refresh: () => TableMeta,
    options: CaseInsensitiveStringMap)
  extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow
  with ReportsSourceMetrics {

  /** Head pinned by `Trigger.AvailableNow` at query start. */
  @volatile private var availableNowCap: Option[Long] = None
  /** Last time a rate-limited trigger admitted files (ReadMinRows gate). */
  @volatile private var lastTriggerMs: Long = System.currentTimeMillis()

  /** `readStream.option("branch", b)`: the stream follows the BRANCH ref
    * instead of main — tail an audit branch while main moves independently
    * (the streaming twin of the batch branch read).
    */
  private val branch: Option[String] = Option(options.get("branch"))

  /** `readStream.option("upsert-as-append", true)`: deliver an upsert
    * snapshot's APPENDED files — the epoch's new row versions — and skip
    * its equality deletes: the new-image changefeed a downstream
    * incremental consumer of a CDC-ingest table wants. Every row VERSION
    * streams exactly once (a from-scratch replay re-delivers superseded
    * versions too, like an uncompacted log), and a key's disappearance is
    * NOT observable — consumers needing retractions use the batch CDC
    * changelog. Off by default: a stream crossing an upsert snapshot
    * without opting in still fails fast.
    */
  private val upsertAsAppend: Boolean =
    Option(options.get("upsert-as-append")).exists(_.toBoolean)

  /** The ref this stream tails: main's pointer, or the branch head. */
  private def headOf(meta: TableMeta): Long = branch match {
    case None => math.max(meta.currentSnapshotId, 0L)
    case Some(b) => meta.branchHead(b).getOrElse(throw new IllegalStateException(
      s"stream over $ident: branch '$b' no longer exists"))
  }

  /** Where a NEW stream (no checkpoint) starts: snapshot 0 = replay the
    * whole table (file-source semantics); "latest" = only data committed
    * after the stream starts; an explicit snapshot id = resume point
    * (consume strictly after it). `starting-timestamp` (epoch millis)
    * starts at the last snapshot committed AT OR BEFORE the timestamp —
    * data of later snapshots streams, the history before it doesn't.
    */
  override def initialOffset(): Offset =
    (Option(options.get("starting-snapshot-id")), Option(options.get("starting-timestamp"))) match {
      case (Some(_), Some(_)) =>
        throw new IllegalArgumentException(
          "set either starting-snapshot-id or starting-timestamp, not both")
      case (Some("latest"), None) => LakeOffset(headOf(refresh()))
      case (Some(id), None) =>
        val n = id.toLong
        require(n >= 0, s"starting-snapshot-id must be >= 0 or 'latest', got $id")
        LakeOffset(n)
      case (None, Some(ts)) =>
        val t = ts.toLong
        val upTo = refresh().snapshots.filter(_.timestampMs <= t)
        LakeOffset(upTo.map(_.snapshotId).maxOption.getOrElse(0L))
      case (None, None) => LakeOffset(0L)
    }

  override def latestOffset(): Offset = LakeOffset(headOf(refresh()))

  override def reportLatestOffset(): Offset = latestOffset()

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(headOf(refresh()))

  override def getDefaultReadLimit: ReadLimit = {
    def opt(keys: String*): Option[Long] =
      keys.flatMap(k => Option(options.get(k))).headOption.map(_.toLong)
    val limits = Seq(
      opt("max-files-per-trigger", "maxFilesPerTrigger").map(f => ReadLimit.maxFiles(f.toInt)),
      opt("max-rows-per-trigger", "maxRowsPerTrigger").map(ReadLimit.maxRows),
      opt("max-bytes-per-trigger", "maxBytesPerTrigger").map(ReadLimit.maxBytes)).flatten
    limits match {
      case Nil => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[LakeOffset]
    val meta = refresh()
    val headId = availableNowCap.getOrElse(headOf(meta))
    val pending = pendingFiles(meta, s, headId)
    if (pending.isEmpty) {
      // nothing to admit; still advance through empty-delta snapshots
      // (rewrite-manifests) so the offset tracks the head
      return if (headId > s.snapshotId) LakeOffset(headId) else s
    }
    var maxFiles = Int.MaxValue
    var maxRows = Long.MaxValue
    var maxBytes = Long.MaxValue
    var minRows = 0L
    var minDelayMs = 0L
    flatten(limit).foreach {
      case f: ReadMaxFiles => maxFiles = f.maxFiles()
      case r: ReadMaxRows => maxRows = r.maxRows()
      case b: ReadMaxBytes => maxBytes = b.maxBytes()
      case m: ReadMinRows => minRows = m.minRows(); minDelayMs = m.maxTriggerDelayMs()
      case _: ReadAllAvailable => ()
      case _ => ()
    }
    if (minRows > 0) {
      val available = pending.iterator.map(_.file.rowCount).sum
      if (available < minRows && System.currentTimeMillis() - lastTriggerMs < minDelayMs)
        return s // below the minimum and the max delay hasn't elapsed: hold
    }
    // admit files in lineage order until a limit trips (always at least one,
    // so a single file larger than max-rows/bytes still makes progress)
    var i = 0
    var rows = 0L
    var bytes = 0L
    while (i < pending.size &&
      (i == 0 || (i < maxFiles && rows + pending(i).file.rowCount <= maxRows &&
        bytes + pending(i).file.sizeBytes <= maxBytes))) {
      rows += pending(i).file.rowCount
      bytes += pending(i).file.sizeBytes
      i += 1
    }
    lastTriggerMs = System.currentTimeMillis()
    if (i == pending.size) LakeOffset(headId) // drained: land on the head, canonical form
    else {
      val last = pending(i - 1)
      if (last.idx + 1 == last.deltaLen) LakeOffset(last.snapshotId) // snapshot boundary
      else LakeOffset(last.snapshotId, last.idx + 1) // mid-snapshot
    }
  }

  override def deserializeOffset(json: String): Offset = LakeOffset.parse(json)

  /** One not-yet-consumed data file, annotated with its position in its
    * snapshot's path-ordered delta.
    */
  private case class PendingFile(snapshotId: Long, idx: Int, deltaLen: Int, file: DataFileMeta)

  // branch-append is an append: a branch stream walks it directly, and a
  // MAIN stream inherits branch commits into its lineage after fast_forward.
  // "upsert" appends new row versions (its eq-deletes only tombstone older
  // files), so with the opt-in its delta of ADDED data files is exact.
  // "rewrite-deletes" bin-packs equality-delete FILES without changing any
  // data file or live row — its data-file delta is empty by construction
  private val appendOps = Set("append", "stream-append", "branch-append", "create",
    "stage-append", "publish", "rewrite-manifests", "rewrite-deletes", "add_files") ++
    (if (upsertAsAppend) Set("upsert") else Set.empty)

  /** The snapshots in `(startId, endId]` along `endId`'s parent chain,
    * oldest first, each paired with its parent id. Falls back to the flat
    * id-ordered walk for legacy documents without parent stamps. Fails
    * fast on any non-append snapshot (its delta would lie).
    */
  private def lineageBetween(meta: TableMeta, startId: Long, endId: Long): Seq[(SnapshotMeta, Long)] = {
    if (endId <= startId) return Nil
    var chain = List.empty[(SnapshotMeta, Long)]
    var curId = endId
    var legacy = false
    while (curId > startId && !legacy) {
      val snap = meta.snapshot(curId).getOrElse(throw new IllegalStateException(
        s"stream over $ident: snapshot $curId no longer exists"))
      if (snap.parentId <= 0) legacy = true
      else {
        chain = (snap, snap.parentId) :: chain
        curId = snap.parentId
      }
    }
    val resolved =
      if (!legacy) chain
      else {
        // pre-WAP documents: lineage is the id order, parent = predecessor
        val flat = meta.snapshots.filter(x => x.snapshotId > startId && x.snapshotId <= endId)
          .sortBy(_.snapshotId)
        val below = meta.snapshots.filter(_.snapshotId <= startId)
          .sortBy(_.snapshotId).lastOption.map(_.snapshotId).getOrElse(0L)
        flat.zip(below +: flat.map(_.snapshotId)).map { case (s, p) => (s, p) }
      }
    resolved.foreach { case (snap, _) =>
      if (!appendOps(snap.operation))
        throw new IllegalStateException(
          s"stream over $ident: snapshot ${snap.snapshotId} is '${snap.operation}' — " +
            "incremental reads support append-only history")
    }
    resolved
  }

  /** A snapshot's added files vs its parent, in deterministic path order. */
  private def deltaOf(meta: TableMeta, snap: SnapshotMeta, parentId: Long): Seq[DataFileMeta] = {
    val before =
      if (parentId <= 0) Set.empty[String]
      else meta.snapshot(parentId) match {
        case Some(p) => meta.filesOf(p).map(_.path).toSet
        case None => throw new IllegalStateException(
          s"stream over $ident: snapshot $parentId no longer exists")
      }
    meta.filesOf(snap).filterNot(f => before.contains(f.path)).sortBy(_.path)
  }

  /** Every file past `start` up to `headId`, in consumption order. */
  private def pendingFiles(meta: TableMeta, start: LakeOffset, headId: Long): Seq[PendingFile] = {
    val tail: Seq[PendingFile] =
      if (start.pos < 0) Nil // start snapshot fully consumed
      else {
        val snap = meta.snapshot(start.snapshotId).getOrElse(throw new IllegalStateException(
          s"stream over $ident: snapshot ${start.snapshotId} no longer exists"))
        val d = deltaOf(meta, snap, snap.parentId)
        d.zipWithIndex.drop(start.pos).map { case (f, i) => PendingFile(snap.snapshotId, i, d.size, f) }
      }
    tail ++ lineageBetween(meta, start.snapshotId, headId).flatMap { case (snap, parent) =>
      val d = deltaOf(meta, snap, parent)
      d.zipWithIndex.map { case (f, i) => PendingFile(snap.snapshotId, i, d.size, f) }
    }
  }

  private def flatten(limit: ReadLimit): Seq[ReadLimit] = limit match {
    case c: CompositeReadLimit => c.getReadLimits.toSeq
    case x => Seq(x)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LakeOffset]
    val e = end.asInstanceOf[LakeOffset]
    // order offsets as (snapshot, pos) with pos = -1 meaning "past the end"
    def rank(o: LakeOffset): (Long, Long) =
      (o.snapshotId, if (o.pos < 0) Long.MaxValue else o.pos.toLong)
    if (Ordering[(Long, Long)].lteq(rank(e), rank(s))) return Array.empty
    val meta = refresh()
    val files = pendingFiles(meta, s, e.snapshotId).filter { p =>
      p.snapshotId < e.snapshotId || e.pos < 0 || p.idx < e.pos
    }.map(_.file)
    ParquetDelegate.partitions(files).toArray[InputPartition]
  }

  // the parquet reader factory is file-independent (schema + conf): every
  // column, no pushed filters
  override def createReaderFactory(): PartitionReaderFactory =
    ParquetDelegate.read(options, tableSchema, Array.empty, PlanShim.asNullable(tableSchema)).factory

  /** Backlog metrics surfaced in StreamingQueryProgress.sources[i].metrics
    * — a rate-limited stream's lag is files/rows/bytes committed to the
    * table but not yet consumed, straight from the manifests (no I/O
    * beyond the cached metadata). The operator's "is my stream keeping
    * up" signal.
    */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset]): java.util.Map[String, String] =
    try {
      val consumed = if (latestConsumedOffset.isPresent)
        latestConsumedOffset.get().asInstanceOf[LakeOffset] else LakeOffset(0L)
      val meta = refresh()
      val pending = pendingFiles(meta, consumed, headOf(meta))
      java.util.Map.of(
        "pendingFiles", pending.size.toString,
        "pendingRows", pending.iterator.map(_.file.rowCount).sum.toString,
        "pendingBytes", pending.iterator.map(_.file.sizeBytes).sum.toString)
    } catch {
      // observability must never kill the query: Spark also asks for
      // metrics during teardown, when the interrupted stream thread can't
      // touch JDBC (and a non-append tail has no backlog estimate)
      case _: Exception => java.util.Map.of()
    }

  override def commit(end: Offset): Unit = () // progress lives in the checkpoint

  override def stop(): Unit = ()
}
