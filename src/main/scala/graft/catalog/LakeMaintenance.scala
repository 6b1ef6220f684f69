package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Table-maintenance procedures the reference leaves entirely to operators
  * (its drop_table never even deletes files — mod.rs:164 TODO). Both are
  * ordinary CAS commits: readers never block, concurrent appends rebase.
  *
  * At 100 TB these are not optional: a streaming sink writes one file per
  * epoch per task, and scan cost is proportional to file count until
  * compaction folds the small files back into scan-sized ones.
  */
/** Property keys for analyze-maintained table statistics. Sketches are
  * keyed by PHYSICAL column name, so stats survive RENAME COLUMN exactly
  * like data files do.
  */
object StatsKeys {
  val lastSnapshot = "stats.last-snapshot"
  def ndv(physicalCol: String): String = s"stats.ndv.$physicalCol"
  def kll(physicalCol: String): String = s"stats.kll.$physicalCol"
  def estimate(b64: String): Long = Math.round(
    org.apache.datasketches.hll.HllSketch.heapify(
      java.util.Base64.getDecoder.decode(b64)).getEstimate)
}

object LakeMaintenance {

  private[graft] def resolve(spark: SparkSession, table: String): (LakeCatalog, Identifier, LakeTable) = {
    val parts = table.split('.')
    require(parts.length == 3, s"expected catalog.namespace.table, got $table")
    val cat = spark.sessionState.catalogManager.catalog(parts(0))
      .asInstanceOf[TableCatalog].asInstanceOf[LakeCatalog]
    val ident = Identifier.of(Array(parts(1)), parts(2))
    (cat, ident, cat.loadTable(ident).asInstanceOf[LakeTable])
  }

  /** Read `files` with the SAME row-liveness semantics the table scan
    * applies — minus positional tombstones, minus rows whose key appears in
    * an APPLICABLE equality delete (strictly newer sequence than the file)
    * — reproduced for rewrite/CDC jobs that read raw parquet directly.
    * A rewrite that skipped this would give rows a NEW sequence number and
    * resurrect every version an upsert had overwritten.
    *
    * The plan is ONE scan of the data files (file → sequence number joined
    * in from a broadcast manifest lookup) plus ONE scan of the delete
    * files, anti-joined with `row.seq < delete.seq` alongside the key
    * equality — CONSTANT width no matter how many epochs a long-running
    * stream has committed (a per-eq-set union would grow one parquet
    * branch per epoch until compaction).
    */
  private[catalog] def readLive(
      spark: SparkSession,
      meta: TableMeta,
      files: Seq[DataFileMeta],
      posDeletes: Seq[DataFileMeta],
      eqDeletes: Seq[DataFileMeta],
      hadoopConf: org.apache.hadoop.conf.Configuration,
      // identity-preserving rewrites (compaction/z-order) set this: the
      // result carries two extra trailing [[RowLineage]] columns holding
      // every surviving row's CURRENT _row_id/_last_updated_seq (already-
      // materialized values win, else computed from the file's reserved
      // range) so the rewrite can write them through and rows keep their
      // identity across the file shuffle
      lineage: Boolean = false): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, input_file_name, lit, substring_index, when}
    val phys0 = meta.physicalSchema
    val phys = if (!lineage) phys0
      else StructType(phys0.fields ++ Seq(RowLineage.RidField, RowLineage.RseqField))
    if (lineage) require(
      !phys0.fieldNames.contains(RowLineage.Rid) &&
        !phys0.fieldNames.contains(RowLineage.Rseq),
      s"table column collides with a reserved lineage column " +
        s"(${RowLineage.Rid}/${RowLineage.Rseq})")
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], phys)
    def nameOf(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    // file NAMES carry task UUIDs (globally unique), sidestepping URI-form
    // mismatches between _metadata.file_path and manifest paths
    val withId = spark.read.schema(phys).parquet(files.map(_.path): _*)
      .withColumn("__fname", substring_index(col("_metadata.file_path"), "/", -1))
      .withColumn("__fpos", col("_metadata.row_index"))
    // positional tombstones: anti-join on (file name, row index)
    val cov = TombstoneRewrite.covering(posDeletes, files.map(_.path))
    val posSubtracted =
      if (cov.isEmpty) withId
      else {
        val dels = DeletionVectors.tombstonesDf(spark, cov, hadoopConf)
          .select(substring_index(col(DeleteFiles.FilePathCol), "/", -1).as("__dname"),
            col(DeleteFiles.PosCol).as("__dpos"))
        withId.join(dels,
          withId("__fname") === dels("__dname") && withId("__fpos") === dels("__dpos"),
          "left_anti")
      }
    val applicable = eqDeletes.filter(d => files.exists(_.addedAt < d.addedAt))
    val live =
      if (applicable.isEmpty) posSubtracted
      else {
        val ks = meta.upsertKeySchema.getOrElse(throw new IllegalStateException(
          s"eq-delete files present but no upsert.keys property on ${meta.location}"))
        // every row carries its file's sequence number (broadcast manifest
        // lookup), every delete key its delete file's — applicability
        // becomes a per-row comparison instead of a per-group plan branch
        val seqDf = spark.createDataFrame(
          files.map(f => (nameOf(f.path), f.addedAt))).toDF("__fname", "__seq")
        val eqSeqDf = spark.createDataFrame(
          applicable.map(d => (nameOf(d.path), d.addedAt))).toDF("__ename", "__eqseq")
        val base = posSubtracted.join(broadcast(seqDf), "__fname")
        val keys = spark.read.schema(ks).parquet(applicable.map(_.path): _*)
          .withColumn("__ename", substring_index(input_file_name(), "/", -1))
          .join(broadcast(eqSeqDf), "__ename")
        // null-safe: Iceberg equality deletes match null keys to null
        val cond = ks.fieldNames.map(c => base(c) <=> keys(c)).reduce(_ && _) &&
          base("__seq") < keys("__eqseq")
        base.join(keys, cond, "left_anti").drop("__seq")
      }
    val lineaged =
      if (!lineage) live
      else RowLineage.inherit(spark, live, files, "__fname", "__fpos")
    lineaged.drop("__fname", "__fpos")
  }

  /** Distributed identity-preserving rewrite shared by compaction and the
    * lineage-preserving copy-on-write fold ([[LakeDeltaBatchWrite]]): reads
    * `files`' LIVE rows (the given positional/equality tombstones
    * subtracted, each survivor's CURRENT lineage materialized), re-clusters
    * by the partition spec and re-applies `write.sort-order`, and writes
    * new data files sized toward `targetFileBytes`. Pure write — the
    * caller owns the commit (and so the validation + fold bookkeeping).
    *
    * The whole rewrite happens under PHYSICAL column names (what the files
    * carry); no logical relabeling is needed since no user predicate runs.
    * Cluster keys use the SAME transforms the writer/stats use (bucket =
    * SQL `pmod(hash(c), n)` == BucketHash by construction — both Spark
    * murmur3, seed 42), so partition pruning keeps working on the output.
    */
  private[catalog] def rewriteLive(
      spark: SparkSession,
      meta: TableMeta,
      files: Seq[DataFileMeta],
      posDeletes: Seq[DataFileMeta],
      eqDeletes: Seq[DataFileMeta],
      targetFileBytes: Long,
      hadoopConf: org.apache.hadoop.conf.Configuration): Seq[DataFileMeta] = {
    if (files.isEmpty) return Nil
    // requesting coalesce to the target count keeps output near the target
    // (a caller passing the table's unset property — 0 — gets one output
    // partition per 128 MB, never a degenerate partition count)
    val target = if (targetFileBytes > 0) targetFileBytes else 128L * 1024 * 1024
    val totalBytes = files.map(_.sizeBytes).sum
    val outParts = math.max(1, math.ceil(totalBytes.toDouble / target).toInt)
    val physCols = meta.physicalPartitionColumns
    val df = readLive(spark, meta, files, posDeletes, eqDeletes, hadoopConf,
      lineage = true)
    val clusterCols = physCols.map(s => PartField.parse(s)).map { pf =>
      val c = pf.source
      (pf.buckets, pf.time, pf.trunc) match {
        case (Some(n), _, _) =>
          org.apache.spark.sql.functions.expr(s"pmod(hash(`$c`), $n)")
        case (_, Some(u), _) =>
          TimeTransform.column(u, df.col(c), meta.physicalSchema(c).dataType)
        case (_, _, Some(w)) =>
          TruncateTransform.column(w, df.col(c), meta.physicalSchema(c).dataType)
        case _ => df.col(c)
      }
    }
    val sortColNames = meta.physicalSortOrder
    val sortCols = sortColNames.map(df.col)
    val clustered =
      if (clusterCols.nonEmpty)
        df.repartition(outParts, clusterCols: _*)
          .sortWithinPartitions(clusterCols ++ sortCols: _*)
      else if (sortCols.nonEmpty)
        df.repartitionByRange(outParts, sortCols: _*).sortWithinPartitions(sortCols: _*)
      else df.coalesce(outParts)
    val factory = LakeWriterFactory(
      StructType(meta.physicalSchema.fields ++
        Seq(RowLineage.RidField, RowLineage.RseqField)).json,
      s"${meta.location}/data",
      physCols, new SerializableConfiguration(meta.writeConf(hadoopConf)),
      meta.physicalBloomColumns, meta.targetFileBytes, bloomBits = meta.fileBloomBits,
      // the sort order is re-applied above, so output files carry the
      // sorted-by provenance (restores SupportsReportOrdering after
      // unsorted history is rewritten)
      sortedBy = sortColNames, statTruncateLen = meta.statTruncateLen)
    clustered.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      val w = factory.createWriter(pid, org.apache.spark.TaskContext.get().taskAttemptId())
      rows.foreach(w.write)
      Iterator.single(w.commit())
    }.collect().toSeq.collect { case LakeCommitMessage(fs) => fs }
      .flatten.map(_.copy(lineageCols = true))
  }

  /** Bin-pack data files smaller than `smallFileBytes` into files of
    * roughly `targetFileBytes`, one compaction group per partition-column
    * value set (so partition pruning keeps working on the rewritten
    * files). The rewrite is a DISTRIBUTED read of only the small files;
    * large files are untouched. Returns (filesBefore, filesAfter).
    *
    * PARTIAL PROGRESS (`maxFilesPerCommit`, Iceberg's
    * partial-progress.enabled): at 100 TB a backlog compaction can touch
    * tens of thousands of files — one giant commit holds every rewritten
    * file hostage to a single CAS conflict window, and a failure late in
    * the job loses ALL the work. With a cap, each round rewrites up to
    * `maxFilesPerCommit` small files and commits INDEPENDENTLY: a lost
    * race or crash forfeits one round, committed rounds stand, and
    * concurrent writers conflict with one bounded batch at a time.
    * Delete-file folding stays correct across rounds by conservatism:
    * a delete file folds only once the last file it can apply to is
    * rewritten (the not-yet-compacted remainder counts as "kept").
    */
  def compact(
      spark: SparkSession,
      table: String,
      smallFileBytes: Long = 32L * 1024 * 1024,
      targetFileBytes: Long = 128L * 1024 * 1024,
      where: Option[String] = None,
      maxFilesPerCommit: Int = Int.MaxValue): (Int, Int) = {
    require(maxFilesPerCommit >= 2, s"maxFilesPerCommit must be >= 2, got $maxFilesPerCommit")
    var first = -1
    var last = -1
    var more = true
    // outputs of earlier rounds are DONE — without the exclusion a later
    // round would re-select a small round-output and churn on its own work
    var written = Set.empty[String]
    // RE-PLAN UNDER TRAFFIC (r11, validated by CommitContentionBench): a
    // delete landing between this round's scan and its commit fails the
    // rewrite validations (serializable-or-fail — committing would
    // resurrect the concurrently-deleted rows), which previously surfaced
    // as a user-visible CommitConflictException on the FIRST conflict.
    // Now each conflicted round re-plans from the fresh base, bounded; and
    // when conflicts persist AND the round's rewrite is fast enough for
    // the lease TTL to cover rewrite+commit, the compactor claims the
    // advisory commit lease BEFORE re-planning — every writer yields
    // pre-commit, so nothing can land inside the plan→commit window. Slow
    // rewrites never take the lease (holding it past the TTL guards
    // nothing and stalls writers for nothing).
    var conflicts = 0
    var lease: Option[String] = None
    var lastRoundMs = Long.MaxValue
    // LIVELOCK vs QUEUE (same distinction as CasRetry.retryLoop): a fixed
    // conflict count alone gives up while the system is making progress —
    // on a loaded box each re-planned round is slow, the TTL heuristic
    // below refuses the lease, and 20 writer epochs exhaust the budget
    // even though the writer is steadily landing and will finish. Bound by
    // count AND wall-clock, like the queued CAS loop.
    val conflictDeadline = System.currentTimeMillis() + CasRetry.queueDeadlineMs
    val (cat0, ident0, _) = resolve(spark, table)
    try {
      while (more) {
        val t0 = System.currentTimeMillis()
        try {
          val (b, a, rest, outs) = compactOnce(spark, table, smallFileBytes,
            targetFileBytes, where, maxFilesPerCommit, written, lease)
          if (first < 0) first = b
          last = a
          more = rest
          written ++= outs
        } catch {
          case e: CommitConflictException =>
            conflicts += 1
            // persistent conflict: surface it — but only once BOTH bounds
            // trip (count catches a tight livelock, the deadline keeps a
            // slow-round loaded box from giving up mid-queue)
            if (conflicts >= 20 &&
                System.currentTimeMillis() > conflictDeadline) throw e
            lastRoundMs = System.currentTimeMillis() - t0
            // fast rounds claim the lease early (TTL covers rewrite+commit
            // whole); after persistent conflicts claim it even for slow
            // rounds — partial coverage of the plan→commit window still
            // shrinks the race, and the lease stays advisory/stealable
            if (conflicts >= 3 && lease.isEmpty &&
                (lastRoundMs < CasRetry.leaseTtlMs / 2 || conflicts >= 8)) {
              val id = java.util.UUID.randomUUID().toString
              val deadline = System.currentTimeMillis() + CasRetry.leaseTtlMs
              // the lease is ADVISORY (see PointerStore): a lease-table
              // SQLException degrades to "no lease acquired" and the
              // compaction keeps retrying unleased — it must never fail
              // the rewrite itself
              var leaseBroken = false
              while (lease.isEmpty && !leaseBroken &&
                  System.currentTimeMillis() < deadline) {
                try {
                  if (cat0.pointerStore.tryAcquireLease(ident0.namespace()(0),
                      ident0.name(), id, System.currentTimeMillis(),
                      CasRetry.leaseTtlMs)) lease = Some(id)
                  else Thread.sleep(20)
                } catch { case _: java.sql.SQLException => leaseBroken = true }
              }
            }
        }
      }
      (first, last)
    } finally lease.foreach { id =>
      // swallow lease-table failures: an advisory release that throws in a
      // finally would mask the real exception (the lease expires by TTL)
      try cat0.pointerStore.releaseLease(ident0.namespace()(0), ident0.name(), id)
      catch { case _: java.sql.SQLException => () }
    }
  }

  private def compactOnce(
      spark: SparkSession,
      table: String,
      smallFileBytes: Long,
      targetFileBytes: Long,
      where: Option[String],
      maxFilesPerCommit: Int,
      exclude: Set[String],
      heldLease: Option[String] = None): (Int, Int, Boolean, Seq[String]) = {
    val (cat, ident, t) = resolve(spark, table)
    val current = t.meta.currentFiles
    val deletes = t.meta.currentDeleteFiles
    val eqDeletes = t.meta.currentEqDeleteFiles
    // `where` scopes maintenance to the files that MAY hold matching rows
    // (stats-level test over logical column names — the hot-partition
    // pattern: compact today's partition hourly without touching 5 years
    // of cold files). File SELECTION only; selected files always rewrite
    // whole, so rows never drop. Conservative on non-stat columns.
    val scopePred = where.filter(_.trim.nonEmpty).map(scopePredicate(spark, _, t.meta.schema))
    val pf = t.meta.allPartitionFields
    def inScope(f: DataFileMeta): Boolean = scopePred.forall { e =>
      FilePruner.mayMatch(e, t.meta.logicalStatFiles(Seq(f)).head, partFields = pf)
    }
    // merge-on-read tombstoned files compact regardless of size: folding
    // their tombstones away is what puts them back on the vectorized path;
    // same for files an equality delete applies to (strictly older sequence)
    val allSmall = current.filter(f => inScope(f) && !exclude(f.path) &&
      (f.sizeBytes < smallFileBytes ||
        TombstoneRewrite.covering(deletes, Seq(f.path)).nonEmpty ||
        eqDeletes.exists(_.addedAt > f.addedAt)))
    if (allSmall.size < 2 && !(allSmall.size == 1 && (deletes.nonEmpty || eqDeletes.nonEmpty)))
      return (current.size, current.size, false, Nil)
    // partial progress: this round rewrites a deterministic (path-ordered)
    // prefix; the remainder compacts in later rounds against the re-read
    // table, so each commit's conflict window covers only its own batch
    val small = allSmall.sortBy(_.path).take(maxFilesPerCommit)
    val keep = current.filterNot(small.toSet)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val covering = TombstoneRewrite.covering(deletes, small.map(_.path))
    // lineage rides: compaction must never change a row's identity
    val newFiles = rewriteLive(spark, t.meta, small, deletes, eqDeletes,
      targetFileBytes, hadoopConf)

    val replaced = small.map(_.path).toSet
    val foldedDeletes = TombstoneRewrite.foldable(spark, covering, replaced,
      hadoopConf, allDeletes = deletes)
    // an eq-delete file folds when no surviving OLD file is strictly older
    // than it (rewritten files carry the commit's new sequence number, so
    // the delete can no longer apply to anything)
    val foldedEq = eqDeletes.filter(d => keep.forall(_.addedAt >= d.addedAt)).map(_.path)
    commitManifest(cat, ident, t, hadoopConf, "compact",
      replacedPaths = replaced ++ foldedDeletes ++ foldedEq, newFiles = newFiles,
      scanDeletePaths = (deletes ++ eqDeletes).map(_.path).toSet,
      rewrittenDataPaths = replaced, heldLease = heldLease)
    (current.size, keep.size + newFiles.size, allSmall.size > small.size,
      newFiles.map(_.path))
  }

  /** A maintenance `where` as a stats predicate over `schema`: analyzed
    * against the table's columns, with each literal the analyzer casts to
    * its column's type folded to a literal of that type — so a point
    * predicate on a bucket source can prune by bucket.
    */
  private def scopePredicate(spark: SparkSession, where: String,
      schema: StructType): org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val empty = java.util.Collections.emptyList[org.apache.spark.sql.Row]()
    val analyzed = spark.createDataFrame(empty, schema).where(where).queryExecution.analyzed
    analyzed.collectFirst { case f: Filter => f.condition }.get.transformUp {
      case c: Cast if c.child.isInstanceOf[Literal] =>
        try Literal.create(c.eval(), c.dataType)
        catch { case scala.util.control.NonFatal(_) => c }
    }
  }

  /** Batch upsert via equality deletes: appends the source rows plus one
    * equality-delete file of their keys per task — the commit is O(batch)
    * (new files + a metadata swap), never a scan-and-rewrite of the target
    * the way a copy-on-write MERGE is. On a 100 TB table a CDC backfill
    * batch lands in seconds regardless of how many target files its keys
    * touch; compaction folds the deletes later. Duplicate keys IN the
    * source are rejected (SQL MERGE's cardinality rule — an unordered
    * batch has no "last" writer; streaming epochs resolve by arrival order
    * instead). Returns (rows upserted, committing snapshot id).
    */
  def upsert(spark: SparkSession, table: String,
      source: org.apache.spark.sql.DataFrame, keys: Seq[String],
      extraProps: Map[String, String] = Map.empty,
      requireProps: Map[String, String] = Map.empty): (Long, Long) = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val (cat, ident, t) = resolve(spark, table)
    require(keys.nonEmpty, "upsert requires at least one key column")
    val logical = t.meta.schema
    keys.foreach(k => require(logical.fieldNames.contains(k),
      s"upsert key '$k' not a column of ${t.ident}"))
    val keyCsv = keys.mkString(",")
    val hadoopConf = spark.sessionState.newHadoopConf()
    // align to the table's logical column order, then rename to physical
    val aligned = source.select(logical.fieldNames.toIndexedSeq.map(source.col): _*)
    val dup = aligned.groupBy(keys.map(aligned.col): _*)
      .agg(count(lit(1)).as("__cnt")).where(col("__cnt") > 1).limit(1).collect()
    if (dup.nonEmpty) throw new IllegalArgumentException(
      s"upsert into ${t.ident}: source has multiple rows for key " +
        s"${dup(0).toSeq.dropRight(1).mkString("(", ",", ")")} — MERGE cardinality violated")
    val l2p = t.meta.l2pMap
    val phys = aligned.toDF(logical.fieldNames.toIndexedSeq.map(n => l2p.getOrElse(n, n)): _*)
    val physSchema = t.meta.physicalSchema
    val physCols = t.meta.physicalPartitionColumns
    val clusterCols = physCols.map(s => PartField.parse(s)).map { pf =>
      val c = pf.source
      (pf.buckets, pf.time, pf.trunc) match {
        case (Some(n), _, _) =>
          org.apache.spark.sql.functions.expr(s"pmod(hash(`$c`), $n)")
        case (_, Some(u), _) =>
          TimeTransform.column(u, phys.col(c), physSchema(c).dataType)
        case (_, _, Some(w)) =>
          TruncateTransform.column(w, phys.col(c), physSchema(c).dataType)
        case _ => phys.col(c)
      }
    }
    val clustered =
      if (clusterCols.nonEmpty)
        phys.repartition(clusterCols: _*).sortWithinPartitions(clusterCols: _*)
      else phys
    val factory = LakeWriterFactory(physSchema.json, s"${t.meta.location}/data",
      physCols, new SerializableConfiguration(t.meta.writeConf(hadoopConf)),
      t.meta.physicalBloomColumns, t.meta.targetFileBytes,
      bloomBits = t.meta.fileBloomBits,
      statTruncateLen = t.meta.statTruncateLen)
    val keyIdx = keys.map(k => physSchema.fieldIndex(l2p.getOrElse(k, k))).toArray
    val keySchemaJson = StructType(keyIdx.map(physSchema.fields)).json
    val schemaJson = physSchema.json
    val deleteDir = s"${t.meta.location}/deletes"
    val sconf = new SerializableConfiguration(hadoopConf)
    val msgs = clustered.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
      val ps = DataType.fromJson(schemaJson).asInstanceOf[StructType]
      val ks = DataType.fromJson(keySchemaJson).asInstanceOf[StructType]
      val w = factory.createWriter(pid, org.apache.spark.TaskContext.get().taskAttemptId())
      val keyProj = UnsafeProjection.create(keyIdx.map(i =>
        BoundReference(i, ps.fields(i).dataType, ps.fields(i).nullable)
          : org.apache.spark.sql.catalyst.expressions.Expression))
      val seen = new java.util.LinkedHashSet[UnsafeRow]()
      rows.foreach { r => seen.add(keyProj(r).copy()); w.write(r) }
      val dataFiles = w.commit() match { case LakeCommitMessage(fs) => fs; case _ => Nil }
      val kw = new LakeDataWriter(ks,
        s"$deleteDir/eq-$pid-${java.util.UUID.randomUUID()}", Nil, sconf.value,
        statTruncateLen = 0) // eq keys: full precision
      seen.forEach(k => kw.write(k))
      val eqFiles = kw.commit() match { case LakeCommitMessage(fs) => fs; case _ => Nil }
      Iterator.single((dataFiles, eqFiles))
    }.collect()
    val dataFiles = msgs.flatMap(_._1).toSeq
    val eqFiles = msgs.flatMap(_._2).toSeq
    val nRows = dataFiles.map(_.rowCount).sum
    // CAS commit with rebase — an append-shaped delta: concurrent appends
    // union cleanly, and the rewrite side's requireNoNewDeletes treats our
    // fresh eq-deletes as conflicting (it retries/aborts, we never do)
    var committedSnap = 0L
    CasCommit.retryLoop(cat.pointerStore, ident.namespace()(0), ident.name(),
      t.metadataLocation, t.meta, "upsert", t.ident, hadoopConf)(
      base => {
        base.properties.get("upsert.keys").foreach(prev => require(prev == keyCsv,
          s"upsert keys '$prev' already fixed for ${t.ident}"))
        // optimistic-concurrency guard: the caller's precondition properties
        // must still hold on the REBASED base — two racing MV refreshes both
        // fold the same delta; without this the loser rebases as a clean
        // append and double-counts. The loser gets a conflict, retries from
        // the new watermark, and no-ops.
        requireProps.foreach { case (k, v) =>
          val got = base.properties.getOrElse(k, "0")
          if (got != v) throw new CommitConflictException(
            s"upsert into ${t.ident}: precondition $k='$v' no longer holds (now '$got') — " +
              "a concurrent commit changed the state this write was computed from")
        }
      })(
      base => {
        val next = TableMeta.withDelta(base, "upsert", dataFiles, eqFiles, hadoopConf,
          deleteContent = "eq-deletes",
          // caller-supplied properties ride the SAME commit (atomic with the
          // rows — the MV refresh watermark's exactly-once guarantee)
          extraProps = extraProps + ("upsert.keys" -> keyCsv))
        committedSnap = next.currentSnapshotId
        next
      })(
      cat.invalidateTable(ident))
    (nRows, committedSnap)
  }

  /** Register existing parquet files into the table BY REFERENCE — a
    * metadata-only commit (Iceberg's add_files import path; the onboarding
    * step the reference's create_table has no answer for). No data is read
    * or rewritten: footers are opened ONCE, distributed across the cluster,
    * to harvest exact row counts and min/max pruning stats, then one CAS
    * swap appends the entries. Importing 100 TB of pre-existing parquet
    * costs one footer pass — seconds — instead of a full rewrite.
    *
    * The files keep their external paths; snapshot expiration never
    * deletes files outside the table location, so expiring or rewriting
    * history leaves the imported source data untouched (it was never ours
    * to delete). Added entries get THIS commit's sequence number, so
    * pre-existing equality deletes do not apply to them — imported rows
    * are new as of the commit, exactly like an INSERT of the same data.
    *
    * Limitation: files must carry the table's PHYSICAL column names. After
    * a RENAME COLUMN, external files written under the new (logical) names
    * are rejected by the schema gate rather than silently read as nulls —
    * per-file name mapping (Iceberg's schema.name-mapping.default) is the
    * eventual fix; rejecting loudly is the safe behavior today.
    *
    * Returns (files added, committing snapshot id).
    */
  def addFiles(spark: SparkSession, table: String, source: String): (Int, Long) = {
    val (cat, ident, t) = resolve(spark, table)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val src = new Path(source)
    val srcFs = src.getFileSystem(hadoopConf)
    val matched = Option(srcFs.globStatus(src)).map(_.toSeq).getOrElse(Nil)
    require(matched.nonEmpty, s"add_files into ${t.ident}: nothing matches $source")
    val paths = matched.flatMap { st =>
      if (st.isDirectory) srcFs.listStatus(st.getPath).toSeq.filter(_.isFile) else Seq(st)
    }.map(_.getPath.toString).filter { p =>
      val n = p.substring(p.lastIndexOf('/') + 1)
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }.distinct
    require(paths.nonEmpty, s"add_files into ${t.ident}: no parquet files under $source")

    // schema gate: every file column must exist in the table with the same
    // type (table columns absent from a file read as null, Spark's standard
    // by-name parquet resolution). mergeSchema unions ALL files' schemas so
    // a lone divergent file cannot hide behind the others.
    val physSchema = t.meta.physicalSchema
    val fileSchema = spark.read.option("mergeSchema", "true").parquet(paths: _*).schema
    fileSchema.fields.foreach { f =>
      require(physSchema.fieldNames.contains(f.name),
        s"add_files into ${t.ident}: file column '${f.name}' is not a table column " +
          s"(table: ${physSchema.fieldNames.mkString(", ")})")
      val tf = physSchema.fields(physSchema.fieldIndex(f.name))
      require(org.apache.spark.sql.types.DataType.equalsIgnoreNullability(
        tf.dataType, f.dataType),
        s"add_files into ${t.ident}: column '${f.name}' is ${f.dataType.simpleString} " +
          s"in the files but ${tf.dataType.simpleString} in the table")
    }

    // footer pass, distributed: exact per-file row counts + min/max/null
    // stats in the writer's own stat format, so imported files prune and
    // SPJ-degrade exactly like native ones (missing stats are always
    // conservative — the file is scanned, never skipped)
    val sconf = new SerializableConfiguration(hadoopConf)
    val schemaJson = physSchema.json
    val truncLen = t.meta.statTruncateLen
    val exempt = t.meta.partitionFields.collect {
      case f if f.isIdentity => t.meta.l2pMap.getOrElse(f.source, f.source)
    }.toSet
    val entries = spark.sparkContext
      .parallelize(paths, math.max(1, math.min(paths.size, 64)))
      .map(p => FooterStats.entry(p, schemaJson, sconf.value, truncLen, exempt))
      .collect().toSeq.sortBy(_.path)

    var committedSnap = 0L
    CasCommit.retryLoop(cat.pointerStore, ident.namespace()(0), ident.name(),
      t.metadataLocation, t.meta, "add_files", t.ident, hadoopConf)(
      base => {
        val already = base.currentFiles.map(_.path).toSet
        val clash = entries.map(_.path).filter(already.contains)
        require(clash.isEmpty, s"add_files into ${t.ident}: already tracked: " +
          clash.take(3).mkString(", "))
      })(
      base => {
        val next = TableMeta.withAppend(base, "add_files", entries, hadoopConf)
        committedSnap = next.currentSnapshotId
        next
      })(
      cat.invalidateTable(ident))
    (entries.size, committedSnap)
  }

  /** Compact equality-delete files WITHOUT touching data files (the
    * eq-delete analog of Iceberg's rewrite_position_delete_files). A
    * long-running upsert stream commits one eq-delete file per task per
    * epoch; every scan then loads keys from all of them. This rewrite:
    *
    *  1. drops delete files that no longer apply to any live data file
    *     (every survivor is at/above the delete's sequence number);
    *  2. drops DEAD keys — a key re-upserted later appears in a newer
    *     delete file whose coverage strictly contains the older one's, so
    *     only each key's NEWEST entry survives (`groupBy(key).max(seq)` —
    *     one shuffle of keys, no data files read);
    *  3. bin-packs the survivors into ONE file per sequence number.
    *
    * Sequence numbers are PRESERVED on the merged files (a merge across
    * seqs would widen old deletes' coverage onto rows they must not kill —
    * the reason this is not a plain concat). Scan results are identical
    * before/after: for a data file at seq s, key k applied iff k's newest
    * delete seq > s — exactly the entry the rewrite keeps. Returns
    * (delete files before, after).
    */
  def rewriteDeleteFiles(spark: SparkSession, table: String): (Int, Int) = {
    import org.apache.spark.sql.functions.{broadcast, col, input_file_name, max, substring_index}
    val (cat, ident, t) = resolve(spark, table)
    val meta = t.meta
    val eq = meta.currentEqDeleteFiles
    if (eq.isEmpty) return (0, 0)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val dataFiles = meta.currentFiles
    val (dead, applicable) = eq.partition(d => dataFiles.forall(_.addedAt >= d.addedAt))
    if (applicable.isEmpty) {
      if (dead.nonEmpty)
        commitManifest(cat, ident, t, hadoopConf, "rewrite-deletes",
          replacedPaths = dead.map(_.path).toSet, newFiles = Nil)
      return (eq.size, 0)
    }
    val keySchema = meta.upsertKeySchema.getOrElse(throw new IllegalStateException(
      s"rewrite_delete_files: ${t.ident} has equality deletes but no upsert.keys"))
    val keyCols = keySchema.fieldNames.toSeq
    def nameOf(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    // (file name → sequence) is tiny; broadcast-join it onto the key rows.
    // File NAMES are UUID-unique, dodging scheme-qualification mismatches
    // between stored paths and input_file_name's URIs.
    val seqDf = spark.createDataFrame(
      applicable.map(f => (nameOf(f.path), f.addedAt))).toDF("__name", "__seq")
    val keyed = spark.read.schema(keySchema).parquet(applicable.map(_.path): _*)
      .withColumn("__name", substring_index(input_file_name(), "/", -1))
      .join(broadcast(seqDf), "__name")
    // each key survives only at its newest sequence (older entries cover a
    // strict subset of the newer one's files)
    val latest = keyed.groupBy(keyCols.map(col): _*).agg(max(col("__seq")).as("__seq"))
    val seqs = applicable.map(_.addedAt).distinct.sorted
    val deleteDir = s"${meta.location}/deletes"
    val sconf = new SerializableConfiguration(hadoopConf)
    val keyJson = keySchema.json
    // ONE distributed job for every sequence group: hash-partition the
    // surviving keys by __seq, sort within partitions, and ROLL to a new
    // file whenever __seq changes. A driver loop of one job per epoch
    // would be O(epochs) job launches — exactly wrong for the
    // long-running-stream table this maintenance targets. __seq rides as
    // a LEADING extra column; LakeDataWriter's aligner projects it away.
    val numParts = math.max(1, math.min(seqs.size, 200))
    val projected = latest.select(col("__seq") +: keyCols.map(col): _*)
    val msgs = projected
      .repartition(numParts, col("__seq"))
      .sortWithinPartitions(col("__seq"))
      .queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
        val ks = DataType.fromJson(keyJson).asInstanceOf[StructType]
        val out = Seq.newBuilder[(Long, Seq[DataFileMeta])]
        var cur = Long.MinValue
        var w: LakeDataWriter = null
        def flush(): Unit = if (w != null) {
          w.commit() match {
            case LakeCommitMessage(fs) => out += ((cur, fs))
            case _ => ()
          }
          w = null
        }
        rows.foreach { r =>
          val s = r.getLong(0)
          if (s != cur) {
            flush()
            cur = s
            w = new LakeDataWriter(ks,
              s"$deleteDir/eqc-$pid-${java.util.UUID.randomUUID()}", Nil, sconf.value,
              statTruncateLen = 0) // eq keys: full precision
          }
          w.write(r)
        }
        flush()
        out.result().iterator
      }.collect()
    val merged = msgs.toSeq.flatMap { case (s, fs) =>
      fs.map(_.copy(addedAt = s)) // PRESERVE the original sequence number
    }
    // no-op detection: nothing died and nothing merged — drop the
    // just-written copies instead of committing a pointless snapshot
    if (dead.isEmpty && merged.size == eq.size &&
        merged.map(_.rowCount).sum == applicable.map(_.rowCount).sum) {
      val fs = new Path(deleteDir).getFileSystem(hadoopConf)
      merged.foreach(f => fs.delete(new Path(f.path), false))
      return (eq.size, eq.size)
    }
    commitManifest(cat, ident, t, hadoopConf, "rewrite-deletes",
      replacedPaths = eq.map(_.path).toSet, newFiles = merged,
      newContent = "eq-deletes")
    (eq.size, merged.size)
  }

  /** Compact POSITIONAL delete files WITHOUT rewriting data (Iceberg's
    * `rewrite_position_delete_files`; the positional sibling of
    * [[rewriteDeleteFiles]]). A long-lived merge-on-read table accumulates
    * one tombstone file per DELETE task; every positionally-dirtied scan
    * then opens all of them. This rewrite:
    *
    *  1. drops whole delete files whose `[min,max]` file-path range covers
    *     no live data file (metadata-only — zero reads);
    *  2. drops DEAD entries — tombstones aimed at data files that
    *     compaction or rewrite has since removed (the rows they killed are
    *     already gone from the fold) — and duplicate `(file, pos)` entries
    *     from repeated DELETEs;
    *  3. bin-packs survivors into ~`targetRowsPerFile` files, range-
    *     partitioned and sorted by `(file_path, pos)`, so each output
    *     file's min/max file-path stats keep per-data-file coverage
    *     pruning tight.
    *
    * Unlike equality deletes, positional tombstones name their victim
    * file explicitly, so merging across commit sequence numbers is
    * lossless — a tombstone can never apply to a file written after it
    * (file names are UUID-unique). Scans are bit-identical before/after;
    * a re-run with nothing to do commits nothing. The commit uses the
    * same `rewrite-deletes` operation as the eq variant: the CDC
    * changelog skips it (zero live-row change). Returns (delete files
    * before, after).
    */
  def rewritePositionDeleteFiles(spark: SparkSession, table: String,
      targetRowsPerFile: Long = 4L * 1024 * 1024): (Int, Int) = {
    import org.apache.spark.sql.functions.{broadcast, col, substring_index}
    val (cat, ident, t) = resolve(spark, table)
    val meta = t.meta
    val dels = meta.currentDeleteFiles
    if (dels.isEmpty) return (0, 0)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val livePaths = meta.currentFiles.map(_.path)
    def nameOf(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val (applicable, deadWhole) = dels.partition(d => DeleteFiles.coversAny(d, livePaths))
    if (applicable.isEmpty) {
      commitManifest(cat, ident, t, hadoopConf, "rewrite-deletes",
        replacedPaths = deadWhole.map(_.path).toSet, newFiles = Nil)
      return (dels.size, 0)
    }
    // live-file names (UUID-unique, scheme-agnostic) broadcast against the
    // tombstone rows (parquet AND deletion-vector entries through the one
    // mixed loader): only entries aimed at a LIVE file survive
    val liveNameDf = spark.createDataFrame(
      livePaths.map(p => Tuple1(nameOf(p)))).toDF("__lname")
    val kept = DeletionVectors.tombstonesDf(spark, applicable, hadoopConf)
      .withColumn("__name", substring_index(col(DeleteFiles.FilePathCol), "/", -1))
      .join(broadcast(liveNameDf), col("__name") === col("__lname"), "left_semi")
      .drop("__name")
      .distinct()
    val totalRows = applicable.map(_.rowCount).sum
    val numParts = math.max(1, math.min(
      ((totalRows + targetRowsPerFile - 1) / targetRowsPerFile).toInt, 200))
    val deleteDir = s"${meta.location}/deletes"
    val sconf = new SerializableConfiguration(hadoopConf)
    val dvOut = DeletionVectors.enabled(meta.properties)
    val shuffled = kept
      .repartitionByRange(numParts, col(DeleteFiles.FilePathCol), col(DeleteFiles.PosCol))
      .sortWithinPartitions(col(DeleteFiles.FilePathCol), col(DeleteFiles.PosCol))
      .queryExecution.toRdd
    // output format follows write.delete.format: parquet tombstone files,
    // or one DV container per partition (targets arrive grouped by the
    // range partitioning, so one streaming bitmap per target suffices —
    // and this path CONVERTS legacy parquet tombstones into DVs)
    val merged = shuffled.mapPartitionsWithIndex { (pid, rows) =>
        if (rows.isEmpty) Iterator.empty
        else if (dvOut) {
          val w = new DvContainerWriter(deleteDir, s"posc-$pid", sconf.value)
          rows.foreach(r => w.record(r.getUTF8String(0).toString, r.getLong(1)))
          w.commit().iterator
        } else {
          val w = new LakeDataWriter(DeleteFiles.schema,
            s"$deleteDir/posc-$pid-${java.util.UUID.randomUUID()}", Nil, sconf.value,
            statTruncateLen = 0) // file_path ranges: full precision
          rows.foreach(w.write)
          w.commit() match {
            case LakeCommitMessage(fs) => fs.iterator
            case _ => Iterator.empty
          }
        }
      }.collect().toSeq
    // no-op detection: nothing died (whole-file or row-level), no FILE
    // count reduction (DV entries share containers — compare distinct
    // paths), and no representation change requested — drop the
    // just-written copies instead of committing a pointless snapshot
    val formatChange = applicable.exists(_.isDv != dvOut)
    if (!formatChange && deadWhole.isEmpty &&
        merged.map(_.rowCount).sum == totalRows &&
        merged.map(_.path).distinct.size >= dels.map(_.path).distinct.size) {
      val fs = new Path(deleteDir).getFileSystem(hadoopConf)
      merged.map(_.path).distinct.foreach(f => fs.delete(new Path(f), false))
      return (dels.size, dels.size)
    }
    commitManifest(cat, ident, t, hadoopConf, "rewrite-deletes",
      replacedPaths = dels.map(_.path).toSet, newFiles = merged,
      newContent = "deletes")
    (dels.size, merged.size)
  }

  /** Zero-copy clone (Iceberg's `snapshot` procedure / Delta's SHALLOW
    * CLONE): create `dest` whose initial snapshot references the source's
    * CURRENT live data and delete files — no data moves, the commit is
    * O(metadata). Manifest pointer files (tiny) are COPIED into the
    * clone's own metadata tree so metadata maintenance on the source
    * cannot strand the clone; data files are shared by reference. The
    * clone's first snapshot keeps the source's current snapshot id, so
    * every carried `addedAt` sequence number stays below the clone's next
    * commit id and equality-delete applicability is preserved exactly.
    * Writes to either table never affect the other (clone commits rewrite
    * under the clone's location; expiration never deletes files outside a
    * table's own location). Caveat shared with Delta/Iceberg: physically
    * deleting source data (expire/purge on the SOURCE) breaks clones that
    * still reference it.
    *
    * Returns (files referenced, clone snapshot id).
    */
  def snapshotTable(spark: SparkSession, source: String, dest: String,
      atSnapshotId: Option[Long] = None): (Long, Long) = {
    val (cat, _, src) = resolve(spark, source)
    val dparts = dest.split('.')
    require(dparts.length == 2, s"snapshot: expected namespace.table for dest, got $dest")
    val destIdent = Identifier.of(Array(dparts(0)), dparts(1))
    val hadoopConf = spark.sessionState.newHadoopConf()
    val meta0 = src.meta
    val destLoc = cat.defaultLocation(destIdent)
    // refs (tags/branches) name source snapshots the clone does not carry
    val props = meta0.properties.filterNot { case (k, _) =>
      k.startsWith("tag.") || k.startsWith("branch.") } +
      ("snapshot.source-table" -> source)
    // clone-at-version: reproduce a historical state (e.g. a tagged
    // experiment input) as a writable table of its own
    val atId = atSnapshotId.getOrElse(meta0.currentSnapshotId)
    if (atSnapshotId.isDefined)
      require(meta0.snapshot(atId).isDefined,
        s"snapshot: no snapshot $atId on $source")
    val destMeta = meta0.snapshot(atId) match {
      case None =>
        TableMeta.empty(destLoc, meta0.schema, meta0.partitionColumns, props)
          // the clone carries the SPEC HISTORY too: carried manifests were
          // stamped under whatever spec their files committed with, and
          // pre-evolution files only keep bucket pruning if the clone's
          // planning union still knows those transform keys
          .copy(specs = meta0.specs, currentSpecId = meta0.currentSpecId)
      case Some(s) =>
        val statKinds = meta0.physicalStatKinds // once, not per manifest
        val copied = meta0.manifestsOf(s).map { m =>
          // readWithBlooms: the clone's manifests get their own bloom
          // sidecars, so point-lookup pruning survives the copy
          ManifestIO.write(destLoc, s.snapshotId,
            ManifestIO.readWithBlooms(m.location, hadoopConf), hadoopConf, m.kind,
            statKinds = statKinds)
        }
        val listLoc = ManifestIO.writeList(destLoc, s.snapshotId, copied, hadoopConf)
        // the clone speaks the schema AS OF the cloned snapshot (matters
        // for clone-at-version across schema evolution)
        val schemaId = s.schemaIdOpt.getOrElse(meta0.schemaIdNow)
        val schemaJson = meta0.schemaJsonOf(s).getOrElse(meta0.schemaJson)
        val snap = SnapshotMeta(s.snapshotId, System.currentTimeMillis(), "snapshot",
          Nil, Some(listLoc), copied.map(_.nFiles).sum, copied.map(_.nRows).sum,
          copied.map(_.nBytes).sum, parentId = 0L, schemaId = schemaId)
        TableMeta(meta0.formatVersion, destLoc, schemaJson,
          meta0.partitionColumns, props, s.snapshotId, Seq(snap),
          meta0.schemas, schemaId,
          // the carried files keep their stamped firstRowId ranges, so the
          // clone MUST inherit the source's row-id high-water mark — a
          // reset would hand the clone's first insert an overlapping range
          // (duplicate _row_id values)
          nextRowId = meta0.nextRowId,
          // spec history rides along for the same reason as nextRowId: the
          // carried files stamped THEIR spec's transform keys, and only the
          // history keeps those keys in the clone's planning union (and
          // keeps later evolveSpec ids from colliding with archived ones)
          specs = meta0.specs, currentSpecId = meta0.currentSpecId)
    }
    val loc = TableMeta.write(destMeta, hadoopConf)
    if (!cat.pointerStore.registerResolving(dparts(0), dparts(1), loc))
      throw new IllegalStateException(s"snapshot: table $dest already exists")
    (destMeta.snapshots.headOption.map(_.nFiles).getOrElse(0L),
      destMeta.currentSnapshotId)
  }

  /** Drop all snapshots except the most recent `keepLast`, then delete any
    * data file no retained snapshot references (the reference's missing
    * vacuum). Time travel to expired snapshots stops working, by design.
    * Returns the number of orphaned files deleted.
    */
  def expireSnapshots(spark: SparkSession, table: String, keepLast: Int = 1,
      olderThanMs: Long = Long.MaxValue): Int = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    val (cat, ident, t) = resolve(spark, table)
    val hadoopConf = spark.sessionState.newHadoopConf()
    // what the landing attempt orphaned: computed from the base the CAS
    // actually moves off, deleted only once it has moved
    var orphaned = Seq.empty[String]
    var orphanedManifests = Seq.empty[String]
    CasCommit.retryLoop(cat.pointerStore, ident.namespace()(0), ident.name(),
      t.metadataLocation, t.meta, "expire-snapshots", t.ident, hadoopConf)(_ => ())(
      base => {
        // TAGGED snapshots never expire — a tag is a promise that
        // `VERSION AS OF 'name'` keeps resolving. STAGED snapshots ahead of
        // the current pointer are awaiting audit/publish and survive too;
        // staged ones the pointer has passed are published-or-abandoned and
        // expire normally (that is the cleanup path for abandoned stages).
        val tagged = base.properties.collect {
          case (k, v) if k.startsWith("tag.") || k.startsWith("branch.") => v.toLong }.toSet
        val pendingStaged = base.snapshots.collect {
          case s if s.operation == "stage-append" && s.snapshotId > base.currentSnapshotId =>
            s.snapshotId
        }.toSet
        // age guard (Iceberg's expire_snapshots(older_than)): snapshots AT
        // or after the cutoff are retained regardless of keepLast counting
        val young = base.snapshots.collect {
          case s if s.timestampMs >= olderThanMs => s.snapshotId }.toSet
        val retainedIds = base.snapshots.sortBy(_.snapshotId).takeRight(keepLast)
          .map(_.snapshotId).toSet + base.currentSnapshotId ++ tagged ++ pendingStaged ++ young
        val (retained, expired) =
          base.snapshots.partition(s => retainedIds.contains(s.snapshotId))
        // data AND delete files: orphaned when no retained snapshot
        // references them. Files OUTSIDE the table location were imported by
        // reference (add_files) — drop the metadata entry but never delete
        // the source data; it was never ours to delete.
        val live = retained.flatMap(base.allFilesOf).map(_.path).toSet
        orphaned = expired.flatMap(base.allFilesOf).map(_.path).distinct
          .filterNot(live.contains).filter(_.startsWith(s"${base.location}/"))
        // manifest files: shared across snapshots, orphaned the same way;
        // the expired snapshots' manifest-LIST files always die with them
        val liveManifests = retained.flatMap(s => base.manifestsOf(s)).map(_.location).toSet
        orphanedManifests = (expired.flatMap(s => base.manifestsOf(s)).map(_.location)
          .distinct.filterNot(liveManifests.contains)
          ++ expired.flatMap(_.listLocation))
        base.copy(snapshots = retained)
      })({
      cat.invalidateTable(ident)
      val fs = new Path(t.meta.location).getFileSystem(hadoopConf)
      orphaned.foreach(p => fs.delete(new Path(p), false))
      orphanedManifests.foreach { p =>
        fs.delete(new Path(p), false)
        fs.delete(new Path(s"$p.bloom"), false) // sidecar dies with its manifest
      }
    })
    orphaned.size
  }

  /** Bin-pack the current snapshot's small manifests into ~`targetEntries`-
    * entry ones, per content kind — a METADATA-ONLY commit (operation
    * `rewrite-manifests`): every [[DataFileMeta]] entry, including its
    * min/max stats and `addedAt` sequence number, is carried over
    * unchanged, so scans, file pruning, equality-delete applicability and
    * time travel are all unaffected. Returns (manifests before, after).
    *
    * Why it matters at 100 TB: every commit appends one manifest, so a
    * long-running streaming sink accretes one manifest PER EPOCH, and
    * planning reads every manifest before it can prune a single file —
    * 10k epochs is 10k small metadata reads per query. Bin-packing them
    * back to a handful keeps planning cost constant forever (Iceberg's
    * rewrite_manifests procedure exists for exactly this).
    */
  def rewriteManifests(spark: SparkSession, table: String,
      targetEntries: Int = 4096): (Int, Int) = {
    require(targetEntries >= 2, s"targetEntries must be >= 2, got $targetEntries")
    val (cat, ident, t) = resolve(spark, table)
    val hadoopConf = spark.sessionState.newHadoopConf()
    if (t.meta.currentSnapshotId < 0) return (0, 0)

    def rebuilt(base: TableMeta, snapId: Long): Seq[ManifestMeta] = {
      val cur = base.snapshot(base.currentSnapshotId).get
      val listed = base.manifestsOf(cur)
      // legacy inline file lists page out into a real manifest first (their
      // own snapshot id stamps addedAt, same as any other commit path)
      val ms =
        if (cur.inlineFiles.isEmpty) listed
        else listed :+ ManifestIO.write(base.location, cur.snapshotId,
          cur.inlineFiles, hadoopConf, statKinds = base.physicalStatKinds)
      TableMeta.packManifests(base.location, snapId, ms, hadoopConf, targetEntries,
        base.physicalStatKinds)
    }

    // pre-check on the loaded version: nothing to merge → no commit at all
    val before = {
      val cur = t.meta.snapshot(t.meta.currentSnapshotId).get
      t.meta.manifestsOf(cur).size + (if (cur.inlineFiles.isEmpty) 0 else 1)
    }
    if (rebuilt(t.meta, t.meta.nextSnapshotId).size == before) return (before, before)

    var result = (before, before)
    commitMeta(cat, ident, t, hadoopConf, { base =>
      val snapId = base.nextSnapshotId
      val ms = rebuilt(base, snapId)
      result = (base.snapshot(base.currentSnapshotId).map(s =>
        base.manifestsOf(s).size + (if (s.inlineFiles.isEmpty) 0 else 1)).getOrElse(0),
        ms.size)
      TableMeta.finish(base, snapId, "rewrite-manifests", ms, Map.empty, hadoopConf)
    })
    result
  }

  /** Delete files under the table location that no snapshot of the CURRENT
    * metadata document references and that are older than `olderThanMs`
    * (the reference's missing vacuum, file-level half: [[expireSnapshots]]
    * removes expired HISTORY, this removes never-committed debris — files
    * written by failed/abandoned jobs whose commit lost the CAS or died
    * before it). Returns (files deleted, unreferenced files found); with
    * `dryRun` nothing is deleted and the first count is what WOULD be.
    *
    * The age cutoff is the correctness guard: a write job that has produced
    * files but not yet CAS-committed looks exactly like an orphan, so only
    * files comfortably older than any plausible in-flight job are touched
    * (Iceberg's remove_orphan_files has the same contract; default 3 days).
    *
    * Scale shape: listing fans out per first-level directory on executors,
    * the listing is anti-joined against the referenced set as DataFrames
    * (no driver-side set of all listed files), and deletion runs on
    * executors — the driver never holds more than the counts. Matching is
    * by file NAME: every file a commit writes carries a task/commit UUID,
    * so names are globally unique within a table and immune to URI-scheme
    * differences between listings and manifest entries.
    */
  def removeOrphanFiles(spark: SparkSession, table: String,
      olderThanMs: Long = 3L * 24 * 3600 * 1000, dryRun: Boolean = false): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    val (_, _, t) = resolve(spark, table)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val meta = t.meta
    def nameOf(p: String): String = p.substring(p.lastIndexOf('/') + 1)

    // everything reachable from the current metadata document: every
    // snapshot's manifest list, manifests, and data/delete files — plus the
    // document itself (the store's pointer target)
    val referenced: Set[String] = (meta.snapshots.flatMap { s =>
      val mms = meta.manifestsOf(s)
      s.listLocation.toSeq ++ mms.map(_.location) ++
        mms.map(m => s"${m.location}.bloom") ++ // live bloom sidecars
        mms.flatMap(m => ManifestIO.read(m.location, hadoopConf).map(_.path)) ++
        s.inlineFiles.map(_.path)
    } :+ t.metadataLocation).map(nameOf).toSet

    val cutoff = System.currentTimeMillis() - olderThanMs
    val root = new Path(meta.location)
    val fs = root.getFileSystem(hadoopConf)
    if (!fs.exists(root)) return (0L, 0L)
    val top = fs.listStatus(root)
    val dirs = top.filter(_.isDirectory).map(_.getPath.toString).toSeq
    val rootFiles = top.filter(_.isFile)
      .map(s => (s.getPath.toString, s.getModificationTime)).toSeq
    val sconf = new SerializableConfiguration(hadoopConf)
    val listedRdd = spark.sparkContext
      .parallelize(dirs, math.max(1, dirs.size))
      .flatMap { d =>
        val p = new Path(d)
        val dfs = p.getFileSystem(sconf.value)
        val it = dfs.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        while (it.hasNext) {
          val st = it.next()
          buf += ((st.getPath.toString, st.getModificationTime))
        }
        buf
      } ++ spark.sparkContext.parallelize(rootFiles, 1)
    val listed = spark.createDataFrame(listedRdd).toDF("path", "mtime")
    val refDf = spark.createDataFrame(referenced.toSeq.map(Tuple1(_))).toDF("ref_name")
    val nameUdf = org.apache.spark.sql.functions.substring_index(col("path"), "/", -1)
    val examined = spark.sparkContext.longAccumulator("orphan_examined")
    val deleted = spark.sparkContext.longAccumulator("orphan_deleted")
    val doDelete = !dryRun
    listed.withColumn("name", nameUdf)
      .join(refDf, col("name") === col("ref_name"), "left_anti")
      .select("path", "mtime").as(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaLong))
      .foreachPartition { (it: Iterator[(String, Long)]) =>
        var lfs: org.apache.hadoop.fs.FileSystem = null
        it.foreach { case (p, mtime) =>
          examined.add(1)
          if (mtime < cutoff) {
            if (doDelete) {
              val hp = new Path(p)
              if (lfs == null) lfs = hp.getFileSystem(sconf.value)
              lfs.delete(hp, false)
            }
            deleted.add(1)
          }
        }
      }
    // deleted documents must not be served from the parse cache; live ones
    // merely re-parse once
    if (doDelete) TableMeta.forgetDocs(s"${meta.location}/")
    (deleted.value, examined.value)
  }

  /** Tag a snapshot with a stable name: `VERSION AS OF 'name'` resolves it
    * and [[expireSnapshots]] retains it until the tag is removed
    * (Iceberg's tag semantics). Defaults to the current snapshot. A
    * metadata-only CAS commit — no snapshot is added.
    */
  def createTag(spark: SparkSession, table: String, tag: String,
      snapshotId: Option[Long] = None): Long = {
    require(tag.nonEmpty && !tag.forall(_.isDigit),
      s"tag '$tag' must be non-numeric (numeric versions are snapshot ids)")
    val (cat, ident, t) = resolve(spark, table)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val id = snapshotId.getOrElse(t.meta.currentSnapshotId)
    require(t.meta.snapshot(id).isDefined, s"no snapshot $id on $table to tag")
    require(!t.meta.properties.contains(s"tag.$tag"), s"tag '$tag' already exists on $table")
    require(!t.meta.properties.contains(s"branch.$tag"),
      s"'$tag' is already a branch on $table (refs share one namespace)")
    commitProperties(cat, ident, t, hadoopConf, _ + (s"tag.$tag" -> id.toString))
    id
  }

  def removeTag(spark: SparkSession, table: String, tag: String): Unit = {
    val (cat, ident, t) = resolve(spark, table)
    val hadoopConf = spark.sessionState.newHadoopConf()
    require(t.meta.properties.contains(s"tag.$tag"), s"no tag '$tag' on $table")
    commitProperties(cat, ident, t, hadoopConf, _ - s"tag.$tag")
  }

  /** Create a BRANCH: a named, writable ref (Iceberg's branch semantics).
    * `df.writeTo(t).option("branch", name).append()` advances it without
    * moving the main pointer; reads follow it via `VERSION AS OF 'name'`
    * or `spark.read.option("branch", name)`; [[expireSnapshots]] retains
    * its head; [[fastForward]] promotes it to current. Metadata-only.
    */
  def createBranch(spark: SparkSession, table: String, branch: String,
      snapshotId: Option[Long] = None): Long = {
    require(branch.nonEmpty && !branch.forall(_.isDigit),
      s"branch '$branch' must be non-numeric (numeric versions are snapshot ids)")
    val (cat, ident, t) = resolve(spark, table)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val id = snapshotId.getOrElse(t.meta.currentSnapshotId)
    require(t.meta.snapshot(id).isDefined, s"no snapshot $id on $table to branch from")
    require(!t.meta.properties.contains(s"branch.$branch"),
      s"branch '$branch' already exists on $table")
    require(!t.meta.properties.contains(s"tag.$branch"),
      s"'$branch' is already a tag on $table (refs share one namespace)")
    commitProperties(cat, ident, t, hadoopConf, _ + (s"branch.$branch" -> id.toString))
    id
  }

  def removeBranch(spark: SparkSession, table: String, branch: String): Unit = {
    val (cat, ident, t) = resolve(spark, table)
    val hadoopConf = spark.sessionState.newHadoopConf()
    require(t.meta.properties.contains(s"branch.$branch"), s"no branch '$branch' on $table")
    commitProperties(cat, ident, t, hadoopConf, _ - s"branch.$branch")
  }

  /** Fast-forward the MAIN pointer to a branch head — the merge-a-branch
    * operation (Iceberg's `fast_forward`). Requires the current snapshot to
    * be an ancestor of the branch head (pure pointer move, no merge commit);
    * a diverged main must rollback or cherry-pick instead. Returns the new
    * current snapshot id.
    */
  def fastForward(spark: SparkSession, table: String, branch: String): Long = {
    val (cat, ident, t0) = resolve(spark, table)
    val hadoopConf = spark.sessionState.newHadoopConf()
    var result = -1L
    commitMeta(cat, ident, t0, hadoopConf, m => {
      val head = m.branchHead(branch).getOrElse(
        throw new IllegalArgumentException(s"no branch '$branch' on $table"))
      // walk the parent chain from the branch head back to current
      var cursor = head
      var isAncestor = cursor == m.currentSnapshotId
      while (!isAncestor && cursor > 0) {
        cursor = m.snapshot(cursor).map(_.parentId).getOrElse(0L)
        isAncestor = cursor == m.currentSnapshotId
      }
      if (!isAncestor) throw new IllegalStateException(
        s"cannot fast-forward $table to branch '$branch': current snapshot " +
          s"${m.currentSnapshotId} is not an ancestor of branch head $head")
      result = head
      m.copy(currentSnapshotId = head)
    })
    result
  }

  /** Change the table's partition spec going forward — Iceberg's partition
    * EVOLUTION. Because partitioning here is pure metadata (clustered
    * writes + per-file stats; no directory layout), evolution is a
    * metadata-only commit: files written under the old spec stay exactly
    * as they are and keep pruning by their min/max stats; files written
    * after cluster by the new spec. Mixed-spec tables simply lose
    * storage-partitioned joins until rewritten (the SPJ key-parser detects
    * non-clustered files and falls back to normal planning); a compaction
    * re-clusters everything under the new spec.
    */
  def setPartitionSpec(spark: SparkSession, table: String, spec: Seq[String]): Unit = {
    val (cat, ident, t) = resolve(spark, table)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fields = spec.map(PartField.parse)
    val cols = t.meta.schema.fieldNames.toSet
    fields.foreach { f =>
      require(cols.contains(f.source),
        s"partition source column '${f.source}' not in ${table}'s schema")
      f.buckets.foreach(n => require(n > 0, s"bucket count must be positive, got $n"))
    }
    require(fields.map(_.source).distinct.size == fields.size,
      "duplicate partition source columns")
    // evolveSpec archives the outgoing spec under its id: pruning keeps
    // running under the UNION of historical specs, so pre-evolution files
    // still skip on their own transform keys (TableMeta.allPartitionFields)
    commitMeta(cat, ident, t, hadoopConf, m => m.evolveSpec(spec))
  }

  /** Z-ORDER compaction: rewrite the table clustered along a space-filling
    * curve over `cols`, so per-file min/max BOXES are tight in every
    * dimension and a multi-column range query prunes files on ALL its
    * predicates (a linear sort order only serves its leading column).
    *
    * Each column is normalized to a 16-bit rank by its CURRENT value range
    * (known from manifest stats — no extra pass), ranks are bit-interleaved
    * into the curve key with plain codegen'd bit ops (no UDF), and the
    * rewrite range-partitions + sorts by that key. Same CAS commit and
    * conflict validation as [[compact]]; pending merge-on-read tombstones
    * fold in.
    */
  def zorderCompact(spark: SparkSession, table: String, cols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    require(cols.size >= 2, "z-order needs at least two columns")
    val (cat, ident, t) = resolve(spark, table)
    require(t.meta.partitionColumns.isEmpty,
      s"z-order compaction of a PARTITIONED table would break partition " +
        s"clustering on $table; drop the spec first (setPartitionSpec(Nil))")
    val current = t.meta.currentFiles
    if (current.isEmpty) return (0, 0)
    val deletes = t.meta.currentDeleteFiles
    val eqDeletes = t.meta.currentEqDeleteFiles
    val hadoopConf = spark.sessionState.newHadoopConf()
    val l2p = t.meta.l2pMap
    // per-column [min,max] over the whole table, from stats (logical keys)
    val statFiles = t.meta.logicalStatFiles(current)
    val ranges = cols.map { c =>
      // non-finite float/double tokens (NaN/±Infinity) skip the range:
      // the z-rank projection below clamps out-of-range values anyway,
      // and BigDecimal cannot represent them
      val mins = statFiles.flatMap(_.minValues.get(c))
        .filterNot(StatBounds.isNonFinite).map(BigDecimal(_))
      val maxs = statFiles.flatMap(_.maxValues.get(c))
        .filterNot(StatBounds.isNonFinite).map(BigDecimal(_))
      require(mins.nonEmpty && maxs.nonEmpty,
        s"z-order column '$c' has no numeric min/max stats on $table")
      (c, mins.min, maxs.max)
    }
    val covering = TombstoneRewrite.covering(deletes, current.map(_.path))
    val df = readLive(spark, t.meta, current, deletes, eqDeletes, hadoopConf,
      lineage = true)
    // 16-bit range rank per column, bit-interleaved into one curve key:
    // z = Σ_bits Σ_cols ((rank_c >> b) & 1) << (b * nCols + c)
    val nCols = ranges.size
    val rankCols: Seq[Column] = ranges.map { case (c, lo, hi) =>
      val span = (hi - lo).max(BigDecimal(1))
      val phys = l2p.getOrElse(c, c)
      ((col(phys).cast("double") - lit(lo.toDouble)) / lit(span.toDouble) * lit(65535.0))
        .cast("long")
    }
    val zcol: Column = (0 until 16).flatMap { b =>
      rankCols.zipWithIndex.map { case (r, ci) =>
        shiftleft(shiftrightunsigned(r, b).bitwiseAND(lit(1L)), b * nCols + ci)
      }
    }.reduce(_.bitwiseOR(_))
    val totalBytes = current.map(_.sizeBytes).sum
    val outParts = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val clustered = df.repartitionByRange(outParts, zcol)
      .sortWithinPartitions(zcol)
    val factory = LakeWriterFactory(
      StructType(t.meta.physicalSchema.fields ++
        Seq(RowLineage.RidField, RowLineage.RseqField)).json,
      s"${t.meta.location}/data",
      Nil, new SerializableConfiguration(t.meta.writeConf(hadoopConf)),
      t.meta.physicalBloomColumns, t.meta.targetFileBytes,
      bloomBits = t.meta.fileBloomBits,
      statTruncateLen = t.meta.statTruncateLen)
    val newFiles = clustered.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      val w = factory.createWriter(pid, org.apache.spark.TaskContext.get().taskAttemptId())
      rows.foreach(w.write)
      Iterator.single(w.commit())
    }.collect().toSeq.collect { case LakeCommitMessage(fs) => fs }
      .flatten.map(_.copy(lineageCols = true))
    val replaced = current.map(_.path).toSet
    val foldedDeletes = TombstoneRewrite.foldable(spark, covering, replaced,
      hadoopConf, allDeletes = deletes)
    // whole-table rewrite: every eq delete folds (nothing older survives)
    commitManifest(cat, ident, t, hadoopConf, "zorder",
      replacedPaths = replaced ++ foldedDeletes ++ eqDeletes.map(_.path), newFiles = newFiles,
      scanDeletePaths = (deletes ++ eqDeletes).map(_.path).toSet,
      rewrittenDataPaths = replaced)
    (current.size, newFiles.size)
  }

  /** Roll the table back to an earlier snapshot (Iceberg's
    * rollback_to_snapshot): a metadata-only CAS commit moving the current
    * pointer — nothing is rewritten or deleted, the abandoned snapshots
    * stay readable (and expirable) history, and rolling FORWARD again is
    * the same one-pointer move.
    */
  def rollback(spark: SparkSession, table: String, snapshotId: Long): Unit = {
    val (cat, ident, t) = resolve(spark, table)
    val hadoopConf = spark.sessionState.newHadoopConf()
    require(t.meta.snapshot(snapshotId).isDefined, s"no snapshot $snapshotId on $table")
    commitMeta(cat, ident, t, hadoopConf, m => {
      require(m.snapshot(snapshotId).isDefined,
        s"snapshot $snapshotId expired during rollback of $table")
      m.copy(currentSnapshotId = snapshotId)
    })
  }

  /** Publish a STAGED (write-audit-publish) snapshot: if the table hasn't
    * moved since staging, a pure fast-forward of the pointer; if other
    * commits landed meanwhile, an Iceberg-style CHERRY-PICK — the staged
    * append's NEW manifests (staged list minus its parent's list) are
    * re-applied on top of the current snapshot. Only staged APPENDS are
    * publishable, which is exactly what makes the re-apply safe at any
    * later state. Returns the published snapshot id.
    */
  def publish(spark: SparkSession, table: String, snapshotId: Long): Long =
    applyAppendSnapshot(spark, table, snapshotId, Set("stage-append"), "a staged append")

  /** Cherry-pick ONE append-family commit onto the current head — the
    * diverged-branch workflow `fast_forward` refuses: the commit's added
    * manifests re-apply on top of main as a new `publish` snapshot while
    * the source lineage (the branch) stays untouched. Only pure appends
    * are eligible; overwrite/rewrite/upsert deltas are not additive (an
    * upsert's equality deletes would retroactively kill MAIN's rows, not
    * just its own lineage's), so they are refused.
    */
  def cherrypick(spark: SparkSession, table: String, snapshotId: Long): Long =
    applyAppendSnapshot(spark, table, snapshotId,
      Set("stage-append", "append", "branch-append", "stream-append", "publish"), "an append")

  private def applyAppendSnapshot(spark: SparkSession, table: String, snapshotId: Long,
      allowedOps: Set[String], opDescription: String): Long = {
    val (cat, ident, t0) = resolve(spark, table)
    val hadoopConf = spark.sessionState.newHadoopConf()
    var committedSnap = 0L
    CasCommit.retryLoop(cat.pointerStore, ident.namespace()(0), ident.name(),
      t0.metadataLocation, t0.meta, "publish", t0.ident, hadoopConf)(
      base => {
        val staged = base.snapshot(snapshotId).getOrElse(
          throw new IllegalArgumentException(s"no snapshot $snapshotId on $table"))
        require(allowedOps(staged.operation),
          s"snapshot $snapshotId is '${staged.operation}', not $opDescription")
      })(
      base => {
        val staged = base.snapshot(snapshotId).get
        val next =
          if (base.currentSnapshotId == staged.parentId) {
            // fast-forward: the audited snapshot already contains current
            val n = base.copy(currentSnapshotId = snapshotId)
            n.ioConf = hadoopConf
            n
          } else {
            // cherry-pick: added = staged manifests not in its parent's list
            val parentMs = base.snapshot(staged.parentId)
              .map(s => base.manifestsOf(s).map(_.location).toSet).getOrElse(Set.empty)
            val added = base.manifestsOf(staged).filterNot(m => parentMs(m.location))
            val currentMs = base.snapshot(base.currentSnapshotId)
              .map(base.manifestsOf).getOrElse(Nil)
            TableMeta.finish(base, base.nextSnapshotId, "publish",
              currentMs ++ added, Map.empty, hadoopConf)
          }
        committedSnap = next.currentSnapshotId
        next
      })(
      cat.invalidateTable(ident))
    committedSnap
  }

  private def commitProperties(cat: LakeCatalog, ident: Identifier, t0: LakeTable,
      hadoopConf: org.apache.hadoop.conf.Configuration,
      f: Map[String, String] => Map[String, String]): Unit =
    commitMeta(cat, ident, t0, hadoopConf, m => m.copy(properties = f(m.properties)))

  /** Metadata-only CAS commit (no new snapshot), with rebase-retry. */
  private def commitMeta(cat: LakeCatalog, ident: Identifier, t0: LakeTable,
      hadoopConf: org.apache.hadoop.conf.Configuration,
      f: TableMeta => TableMeta): Unit =
    CasCommit.retryLoop(cat.pointerStore, ident.namespace()(0), ident.name(),
      t0.metadataLocation, t0.meta, "metadata commit", t0.ident, hadoopConf)(
      _ => ())(
      base => { val next = f(base); next.ioConf = hadoopConf; next })(
      cat.invalidateTable(ident))

  /** Row-level CDC changelog between two snapshots (exclusive start,
    * inclusive end): every row change as (table columns, `_change_type`
    * 'insert'|'delete', `_commit_snapshot_id`). An UPDATE surfaces as a
    * delete + an insert — exactly how merge-on-read represents it.
    *
    * Supported over append, delta (merge-on-read) and upsert history:
    * appends contribute inserts (their new files' rows), delta commits
    * contribute inserts (new data files) and deletes (their tombstones'
    * target rows, fetched positionally from the still-live data files),
    * upsert commits contribute inserts plus the parent-live rows their
    * equality deletes overwrote. Rewrite
    * commits (copy-on-write DELETE/UPDATE, compaction, overwrite) are
    * rejected — a rewrite's file diff does not express its row-level
    * changes (compaction changes NO rows while replacing every file), the
    * same honesty rule as the incremental batch/stream readers.
    */
  /** Current main-head snapshot id — the default end of a changelog read. */
  def currentSnapshotId(spark: SparkSession, table: String): Long =
    resolve(spark, table)._3.meta.currentSnapshotId

  def changelog(spark: SparkSession, table: String, startId: Long, endId: Long):
      org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.lit
    val (_, _, t) = resolve(spark, table)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val meta = t.meta
    require(endId >= startId, s"end $endId precedes start $startId")
    val logicalNames = meta.schema.fieldNames.toIndexedSeq
    def filesAt(id: Long): Seq[DataFileMeta] =
      if (id <= 0) Nil else meta.snapshot(id).map(meta.filesOf).getOrElse(
        throw new IllegalArgumentException(s"no snapshot $id on $table"))
    def deletesAt(id: Long): Seq[DataFileMeta] =
      if (id <= 0) Nil else meta.snapshot(id).map(meta.deleteFilesOf).getOrElse(Nil)
    // walk the PARENT lineage from end back to start (not id order): a
    // staged-then-cherry-picked snapshot sits in the id sequence but not in
    // the lineage — its rows enter history at the publish commit, and
    // emitting both would double-count them
    def parentOf(s: SnapshotMeta): Long =
      // -1 = committed on an EMPTY table (a true root); 0 = pre-WAP doc
      // with no parent recorded → fall back to id order
      if (s.parentId != 0) s.parentId
      else meta.snapshots.filter(_.snapshotId < s.snapshotId)
        .map(_.snapshotId).maxOption.getOrElse(0L)
    val lineage = Iterator.iterate(meta.snapshot(endId).getOrElse(
        throw new IllegalArgumentException(s"no snapshot $endId on $table")).snapshotId) { id =>
        meta.snapshot(id).map(parentOf).getOrElse(0L)
      }.takeWhile(id => id > startId && id > 0)
      .flatMap(meta.snapshot).toSeq.sortBy(_.snapshotId)
    lineage.foreach { s =>
      // rewrite-manifests repackages metadata without changing any file:
      // it contributes zero rows below (added/new-delete diffs are empty).
      // rewrite-deletes swaps eq-delete FILES without changing live rows —
      // whitelisted here, explicitly skipped in the diff loop (its new eq
      // files would otherwise read as fresh deletes).
      if (!Set("append", "stream-append", "create", "stage-append", "publish", "delta",
        "upsert", "rewrite-manifests", "rewrite-deletes", "add_files",
        "snapshot")(s.operation))
        throw new IllegalArgumentException(
          s"changelog over $table: snapshot ${s.snapshotId} is '${s.operation}' — " +
            "row-level changes of rewrite commits are not expressible; " +
            "read the snapshots on either side instead")
    }
    // rewrite-deletes snapshots change zero rows — skip them entirely (the
    // next snapshot diffs against them via parentOf, data files unchanged)
    val parts = lineage.filterNot(_.operation == "rewrite-deletes").flatMap { s =>
      if (s.operation == "snapshot") {
        // a zero-copy clone's first snapshot collapses the source's history:
        // honestly, it introduces exactly its LIVE rows (raw file contents
        // would overcount versions the carried eq-deletes had superseded)
        Seq(readLive(spark, meta, meta.filesOf(s), meta.deleteFilesOf(s),
            meta.eqDeleteFilesOf(s), hadoopConf)
          .toDF(logicalNames: _*)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_snapshot_id", lit(s.snapshotId)))
      } else {
      val prevId = parentOf(s)
      val prevPaths = filesAt(prevId).map(_.path).toSet
      val added = filesAt(s.snapshotId).filterNot(f => prevPaths(f.path))
      val inserts =
        if (added.isEmpty) None
        else Some(spark.read.schema(meta.physicalSchema).parquet(added.map(_.path): _*)
          .toDF(logicalNames: _*)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_snapshot_id", lit(s.snapshotId)))
      val prevDel = deletesAt(prevId).map(_.path).toSet
      val newDeletes = deletesAt(s.snapshotId).filterNot(d => prevDel(d.path))
      val deletes =
        if (newDeletes.isEmpty) None
        else {
          // targets are still live at s (delta commits validate that)
          val targets = filesAt(s.snapshotId)
            .filter(f => TombstoneRewrite.covering(newDeletes, Seq(f.path)).nonEmpty)
          val raw = spark.read.schema(meta.physicalSchema).parquet(targets.map(_.path): _*)
          Some(TombstoneRewrite.select(spark, raw, targets.map(_.path), newDeletes, hadoopConf)
            .toDF(logicalNames: _*)
            .withColumn("_change_type", lit("delete"))
            .withColumn("_commit_snapshot_id", lit(s.snapshotId)))
        }
      // an upsert commit's implicit deletes: the rows LIVE at the parent
      // whose key the new equality-delete files name (the overwritten
      // versions) — the -D half of the CDC pair, the +I half is `inserts`
      def eqDeletesAt(id: Long): Seq[DataFileMeta] =
        if (id <= 0) Nil else meta.snapshot(id).map(meta.eqDeleteFilesOf).getOrElse(Nil)
      val prevEq = eqDeletesAt(prevId).map(_.path).toSet
      val newEq = eqDeletesAt(s.snapshotId).filterNot(d => prevEq(d.path))
      val eqDeletes =
        if (newEq.isEmpty) None
        else {
          val ks = meta.upsertKeySchema.get
          val liveBefore = readLive(spark, meta, filesAt(prevId), deletesAt(prevId),
            eqDeletesAt(prevId), hadoopConf)
          val keys = spark.read.schema(ks).parquet(newEq.map(_.path): _*).distinct()
          val cond = ks.fieldNames.map(c => liveBefore(c) <=> keys(c)).reduce(_ && _)
          Some(liveBefore.join(keys, cond, "left_semi")
            .toDF(logicalNames: _*)
            .withColumn("_change_type", lit("delete"))
            .withColumn("_commit_snapshot_id", lit(s.snapshotId)))
        }
      inserts.toSeq ++ deletes.toSeq ++ eqDeletes.toSeq
      }
    }
    parts.reduceOption(_ unionAll _).getOrElse {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(meta.schema.fields ++ Seq(
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_commit_snapshot_id",
            org.apache.spark.sql.types.LongType))))
    }
  }

  /** Snapshot history as a DataFrame (the `table$snapshots` metadata view of
    * other lakehouses): one row per committed snapshot with file/row/byte
    * counts — driver-side metadata only, no data files touched.
    */
  def history(spark: SparkSession, table: String): org.apache.spark.sql.DataFrame = {
    val (_, _, t) = resolve(spark, table)
    import spark.implicits._
    // summary counts come straight from the manifest POINTERS — no manifest
    // file is opened to answer history()
    t.meta.snapshots.map(s => (s.snapshotId, s.timestampMs, s.operation,
      s.nFiles, s.nRows, s.nBytes,
      s.snapshotId == t.meta.currentSnapshotId))
      .toDF("snapshot_id", "committed_at_ms", "operation", "n_files", "n_rows",
        "total_bytes", "is_current")
  }

  /** CAS commit helper with rebase: the target manifest is recomputed
    * against whatever is current when the CAS is attempted, after
    * validating that every replaced file is still live (a concurrent
    * rewrite of a file this commit also rewrites must fail, not re-add
    * its rows).
    */
  private def commitManifest(
      cat: LakeCatalog,
      ident: Identifier,
      t0: LakeTable,
      hadoopConf: org.apache.hadoop.conf.Configuration,
      operation: String,
      replacedPaths: Set[String],
      newFiles: Seq[DataFileMeta],
      scanDeletePaths: Set[String] = Set.empty,
      rewrittenDataPaths: Set[String] = Set.empty,
      newContent: String = "data",
      heldLease: Option[String] = None): Unit =
    CasCommit.retryLoop(cat.pointerStore, ident.namespace()(0), ident.name(),
      t0.metadataLocation, t0.meta, operation, t0.ident, hadoopConf,
      heldLease = heldLease)(
      base => {
        CasCommit.requireReplacedLive(base, replacedPaths, operation, t0.ident)
        CasCommit.requireNoNewDeletes(scanDeletePaths, base, rewrittenDataPaths,
          operation, t0.ident)
      })(
      base => TableMeta.withRewrite(base, operation, replacedPaths, newFiles,
        hadoopConf, newContent))(
      cat.invalidateTable(ident))
  // ── table statistics: incremental per-column NDV sketches ────────────────

  /** `CALL lake.system.analyze(table[, columns])` — per-column
    * distinct-count statistics via MERGEABLE HLL sketches (DataSketches —
    * the same library behind Spark's `hll_sketch_agg`), stored base64 in
    * table properties and surfaced to Catalyst through the scan's
    * `columnStats()` (→ `transformV2Stats` → per-attribute
    * `distinctCount`, the number CBO join-ordering and sizing feed on).
    *
    * The 100 TB contract is INCREMENTAL maintenance: because HLL sketches
    * union losslessly, an analyze after appends sketches ONLY the files
    * added since the recorded watermark snapshot (one aggregate pass over
    * the delta — same incremental-read machinery as MV refresh) and unions
    * into the stored sketches; re-analyzing a 100 TB table after a 1 GB
    * load costs 1 GB. Ranges the file diff cannot express as inserts
    * (row-level deletes, upserts, compaction... anything non-append-family)
    * fall back to one full recompute over the live rows — NDV cannot be
    * "un-counted" from a sketch. Union idempotence also makes replays and
    * racing analyzers harmless to correctness; a watermark precondition
    * (the MV-refresh pattern) still rejects the race loudly rather than
    * letting the loser silently regress the watermark.
    *
    * Nulls are ignored (the SQL `count(DISTINCT)` convention, and what
    * Catalyst's `ColumnStat.distinctCount` means); null counts themselves
    * reach Catalyst exactly from the manifests' per-file stats, selected-
    * files-aware, with no analyze needed.
    *
    * Returns (mode, per-column (logicalName, ndvEstimate)).
    */
  def analyze(spark: SparkSession, table: String, columns: Seq[String] = Nil,
      lgK: Int = 14): (String, Seq[(String, Long)]) = {
    import org.apache.spark.sql.functions.{call_function, col, hll_sketch_agg, unix_date, unix_micros}
    import org.apache.spark.sql.types._
    val (cat, ident, t) = resolve(spark, table)
    val meta = t.meta
    val head = meta.currentSnapshotId
    val props = meta.properties
    val last = props.get(StatsKeys.lastSnapshot).map(_.toLong)
    val logical = meta.schema
    val l2p = meta.l2pMap

    def sketchable(dt: DataType): Boolean = dt match {
      case _: ArrayType | _: MapType | _: StructType => false
      case _ => true
    }
    val cols: Seq[StructField] =
      if (columns.isEmpty) logical.fields.toIndexedSeq.filter(f => sketchable(f.dataType))
      else columns.map { c =>
        val f = logical.fields.find(_.name == c).getOrElse(throw new IllegalArgumentException(
          s"analyze: '$c' is not a column of ${t.ident}"))
        require(sketchable(f.dataType), s"analyze: ${f.dataType.simpleString} column '$c' not supported")
        f
      }
    require(cols.nonEmpty, s"analyze: no sketchable columns on ${t.ident}")

    if (head <= 0) return ("empty", cols.map(f => f.name -> 0L))
    if (last.contains(head)) // watermark current: report stored estimates
      return ("current", cols.map(f => f.name ->
        props.get(StatsKeys.ndv(l2p.getOrElse(f.name, f.name)))
          .map(s => StatsKeys.estimate(s)).getOrElse(0L)))

    // hll_sketch_agg accepts int/bigint/string/binary natively; everything
    // else sketches its canonical string form (injective per value)
    def input(f: StructField) = f.dataType match {
      case IntegerType | LongType | StringType | BinaryType => col(f.name)
      case ByteType | ShortType => col(f.name).cast(IntegerType)
      case _ => col(f.name).cast(StringType)
    }

    // histogram sketches ride the same pass, in Catalyst's own estimation
    // domain (EstimationUtils.toDouble): numeric as-is, DATE as epoch
    // days, TIMESTAMP as epoch micros — the planner's filter literals then
    // land in the same coordinate system as the histogram bins
    def histInput(f: StructField): Option[org.apache.spark.sql.Column] = f.dataType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType =>
        Some(col(f.name).cast(DoubleType))
      case _: DecimalType => Some(col(f.name).cast(DoubleType))
      case DateType => Some(unix_date(col(f.name)).cast(DoubleType))
      case TimestampType => Some(unix_micros(col(f.name)).cast(DoubleType))
      case _ => None
    }
    val histCols: Seq[StructField] = cols.filter(f => histInput(f).isDefined)

    def sketchOf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Row = {
      val aggs = cols.map(f => hll_sketch_agg(input(f), lgK).as(f.name)) ++
        histCols.map(f => call_function("kll_build", histInput(f).get).as(s"__kll_${f.name}"))
      df.agg(aggs.head, aggs.tail: _*).head()
    }
    // append-family ranges validate inside the incremental scan's planning
    // (same walk as streaming/MV refresh); a range it refuses — row-level
    // deletes, upserts, rewrites — falls back to one full recompute, since
    // removed values cannot be un-counted from a sketch
    val (mode, sketchRow) = last match {
      case Some(l) =>
        try ("incremental", sketchOf(spark.read
          .option("start-snapshot-id", l.toString)
          .option("end-snapshot-id", head.toString)
          .table(table)))
        catch { case _: IllegalArgumentException =>
          ("full", sketchOf(spark.table(table)))
        }
      case None => ("full", sketchOf(spark.table(table)))
    }

    import org.apache.datasketches.hll.{HllSketch, Union}
    val merged: Seq[(String, Array[Byte])] = cols.zipWithIndex.map { case (f, i) =>
      val phys = l2p.getOrElse(f.name, f.name)
      val deltaBytes = if (sketchRow.isNullAt(i)) null else sketchRow.getAs[Array[Byte]](i)
      val storedB64 = if (mode == "incremental") props.get(StatsKeys.ndv(phys)) else None
      val u = new Union(lgK)
      storedB64.foreach(s => u.update(HllSketch.heapify(
        java.util.Base64.getDecoder.decode(s))))
      if (deltaBytes != null) u.update(HllSketch.heapify(deltaBytes))
      phys -> u.getResult.toCompactByteArray
    }
    val estimates = cols.zip(merged).map { case (f, (_, bytes)) =>
      f.name -> Math.round(HllSketch.heapify(bytes).getEstimate)
    }

    // KLL quantile sketches (histogram backbone) union the same way; an
    // incremental pass whose column has no stored sketch yet stores
    // NOTHING for it (a delta-only histogram would misdescribe the table —
    // no histogram beats a wrong one; the next full analyze backfills it)
    import graft.functions.KllOps
    val kllMerged: Seq[(String, Array[Byte])] = histCols.zipWithIndex.flatMap { case (f, j) =>
      val idx = cols.length + j
      val phys = l2p.getOrElse(f.name, f.name)
      val delta = if (sketchRow.isNullAt(idx)) None else Some(sketchRow.getAs[Array[Byte]](idx))
      val stored =
        if (mode == "incremental")
          props.get(StatsKeys.kll(phys)).map(java.util.Base64.getDecoder.decode(_))
        else None
      ((delta, stored) match {
        case (Some(d), Some(s)) => Some(KllOps.union(s, d))
        case (Some(d), None) if mode != "incremental" => Some(d)
        case (None, s) => s
        case _ => None
      }).map(phys -> _)
    }

    val hadoopConf = spark.sessionState.newHadoopConf()
    commitProperties(cat, ident, t, hadoopConf, { base =>
      val baseLast = base.get(StatsKeys.lastSnapshot).map(_.toLong)
      if (baseLast != last) throw new java.util.ConcurrentModificationException(
        s"analyze ${t.ident}: statistics advanced concurrently " +
          s"($last -> $baseLast) — re-run analyze")
      base ++ merged.map { case (phys, bytes) =>
        StatsKeys.ndv(phys) -> java.util.Base64.getEncoder.encodeToString(bytes)
      } ++ kllMerged.map { case (phys, bytes) =>
        StatsKeys.kll(phys) -> java.util.Base64.getEncoder.encodeToString(bytes)
      } + (StatsKeys.lastSnapshot -> head.toString)
    })
    (mode, estimates)
  }

}

/** Parquet-footer stat harvesting for [[LakeMaintenance.addFiles]]: builds
  * a [[DataFileMeta]] for a foreign parquet file from its footer alone, in
  * the exact stringified stat format [[LakeDataWriter]] records at write
  * time (ints/longs/doubles via toString, strings in UTF8-binary order —
  * parquet's own unsigned-lexicographic binary order — decimals as plain
  * strings), so [[FilePruner]] treats imported and native files
  * identically. Any column whose stats are absent or not convertible is
  * simply omitted — missing stats mean "always scan", never wrong pruning.
  */
private[catalog] object FooterStats {
  import org.apache.parquet.column.statistics.Statistics
  import org.apache.parquet.io.api.Binary
  import org.apache.spark.sql.types._
  import scala.jdk.CollectionConverters._

  def entry(path: String, schemaJson: String,
      conf: org.apache.hadoop.conf.Configuration,
      statTruncateLen: Int = StatBounds.DefaultLen,
      exemptCols: Set[String] = Set.empty): DataFileMeta = {
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val p = new Path(path)
    val size = p.getFileSystem(conf).getFileStatus(p).getLen
    val reader = PositionalParquet.openFooter(p, conf)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // per top-level column: fold the row groups' chunk stats; one block
      // with unusable stats poisons that column (conservative)
      val mins = scala.collection.mutable.Map.empty[String, String]
      val maxs = scala.collection.mutable.Map.empty[String, String]
      val nulls = scala.collection.mutable.Map.empty[String, Long]
      val broken = scala.collection.mutable.Set.empty[String]
      val nullsBroken = scala.collection.mutable.Set.empty[String]
      for (b <- blocks; c <- b.getColumns.asScala) {
        val name = c.getPath.toDotString
        if (!name.contains('.') && schema.fieldNames.contains(name)) {
          val dt = schema.fields(schema.fieldIndex(name)).dataType
          // a foreign file may annotate its timestamps MILLIS/NANOS while
          // the table declares TimestampType: raw INT64 bounds would then
          // be in the wrong unit vs the pruner's micros literals — treat
          // any non-MICROS annotation as unusable stats (always-scan)
          val unitOk = dt match {
            case TimestampType | TimestampNTZType =>
              c.getPrimitiveType.getLogicalTypeAnnotation match {
                case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                  t.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS
                case _ => false
              }
            case _ => true
          }
          val st = c.getStatistics
          if (!unitOk) { broken += name; nullsBroken += name }
          else if (st == null || st.isEmpty) { broken += name; nullsBroken += name }
          else {
            if (st.isNumNullsSet)
              nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
            else nullsBroken += name
            if (!st.hasNonNullValue) {
              // all-null chunk: no min/max contribution, and that is fine
            } else (statString(st.genericGetMin, dt), statString(st.genericGetMax, dt)) match {
              // in the stat order; a bound it cannot order poisons the column
              case (Some(lo), Some(hi)) => (
                StatBounds.compare(dt, lo, mins.getOrElse(name, lo)),
                StatBounds.compare(dt, maxs.getOrElse(name, hi), hi)) match {
                  case (Some(a), Some(b)) =>
                    if (a <= 0) mins(name) = lo
                    if (b <= 0) maxs(name) = hi
                  case _ => broken += name
                }
              case _ => broken += name
            }
          }
        }
      }
      broken.foreach { n => mins.remove(n); maxs.remove(n) }
      nullsBroken.foreach(nulls.remove)
      // imported string bounds truncate like the writer's ([[StatBounds]]);
      // identity-partition sources stay exact for attribution
      if (statTruncateLen > 0) schema.fields.foreach { f =>
        if (f.dataType == StringType && !exemptCols(f.name)) {
          mins.get(f.name).foreach(v =>
            mins(f.name) = StatBounds.truncateMin(v, statTruncateLen))
          maxs.get(f.name).foreach(v =>
            StatBounds.truncateMax(v, statTruncateLen) match {
              case Some(t) => maxs(f.name) = t
              case None => maxs.remove(f.name)
            })
        }
      }
      DataFileMeta(path, rows, size, mins.toMap, maxs.toMap, nulls.toMap)
    } finally reader.close()
  }

  /** One footer stat value → the writer's stat-string format, or None when
    * the (parquet physical, table logical) combination is not one we can
    * convert faithfully.
    */
  private def statString(v: Any, dt: DataType): Option[String] = (v, dt) match {
    case (i: java.lang.Integer, IntegerType | DateType | ShortType) => Some(i.toString)
    case (l: java.lang.Long, LongType | TimestampType | TimestampNTZType) => Some(l.toString)
    case (f: java.lang.Float, FloatType) => Some(f.toString)
    case (d: java.lang.Double, DoubleType) => Some(d.toString)
    case (b: java.lang.Boolean, BooleanType) => Some(b.toString)
    case (bin: Binary, StringType) => Some(bin.toStringUsingUTF8)
    case (i: java.lang.Integer, d: DecimalType) =>
      Some(java.math.BigDecimal.valueOf(i.longValue, d.scale).toPlainString)
    case (l: java.lang.Long, d: DecimalType) =>
      Some(java.math.BigDecimal.valueOf(l.longValue, d.scale).toPlainString)
    case (bin: Binary, d: DecimalType) =>
      Some(new java.math.BigDecimal(
        new java.math.BigInteger(bin.getBytes), d.scale).toPlainString)
    case _ => None
  }
}
