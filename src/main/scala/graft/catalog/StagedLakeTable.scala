package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException
import org.apache.spark.sql.connector.catalog.{Identifier, StagedTable, SupportsWrite, TableCapability}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** How a staged table lands when its CTAS/RTAS query finishes. */
sealed trait StageMode
object StageMode {
  case object Create extends StageMode // INSERT the pointer; conflict = already exists
  case object Replace extends StageMode // CAS the pointer over the existing one
  case object CreateOrReplace extends StageMode // whichever applies at commit time
}

/** The staged-create/replace handle behind `StagingTableCatalog`
  * (SURVEY §2a #6 — the reference's `build_table`, mod.rs:349-357: "staged
  * create / create-or-replace transaction"). The CTAS/RTAS query writes
  * data files into the table location, but NOTHING becomes visible until
  * `commitStagedChanges` lands the pointer in the JDBC store — one atomic
  * INSERT (create) or CAS UPDATE (replace), the same single-row commit
  * protocol as every other write (mod.rs:296-347). A failed query calls
  * `abortStagedChanges`, which deletes the written files; concurrent
  * readers can never observe a half-written table.
  */
final class StagedLakeTable(
    ident: Identifier,
    displayName: String,
    namespace: String,
    tableName: String,
    baseMeta: TableMeta,
    mode: StageMode,
    store: PointerStore,
    hadoopConf: Configuration,
    onCommit: () => Unit)
  extends StagedTable with SupportsWrite {

  @volatile private var stagedFiles: Seq[DataFileMeta] = Nil

  override def name(): String = displayName
  override def schema(): StructType = baseMeta.schema
  override def properties(): util.Map[String, String] = baseMeta.properties.asJava
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder
      with SupportsTruncate {
    // truncate on a not-yet-visible table is a no-op: the manifest is
    // exactly what this query writes either way
    override def truncate(): WriteBuilder = this
    override def build(): Write = new Write
        with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
      import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

      // the SAME clustering contract as LakeWrite: a CTAS into a
      // partitioned table must cluster rows by the partition transform or
      // the roll-on-key-change task writer mints a file per key FLIP —
      // a bucket/truncate CTAS without this degenerated to one parquet
      // open/close per row (found when q106's truncate CTAS benched 7 s)
      private def pfields = baseMeta.partitionFields
      private def sortCols = baseMeta.sortOrderColumns
      private def orderOf(ts: Seq[org.apache.spark.sql.connector.expressions.Expression]) =
        ts.map(t => Expressions.sort(t, SortDirection.ASCENDING)).toArray

      override def requiredDistribution(): Distribution =
        if (pfields.nonEmpty)
          Distributions.clustered(pfields.map(LakeTransforms.clusterExpr(_):
            org.apache.spark.sql.connector.expressions.Expression).toArray)
        else if (sortCols.nonEmpty)
          Distributions.ordered(orderOf(sortCols.map(Expressions.column)))
        else Distributions.unspecified()
      override def requiredOrdering(): Array[SortOrder] =
        orderOf(pfields.map(LakeTransforms.clusterExpr) ++ sortCols.map(Expressions.column))

      // same AQE-rebalance stance as LakeWrite: non-strict clustering
      // (skewed CTAS partitions split, small ones coalesce; Spark's default
      // is strict), advisory size from the Iceberg property
      override def distributionStrictlyRequired(): Boolean = false
      override def advisoryPartitionSizeInBytes(): Long =
        baseMeta.properties.get("write.spark.advisory-partition-size-bytes")
          .map(_.toLong).getOrElse(0L)

      override def toBatch: BatchWrite = new BatchWrite {
        override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
          LakeWriterFactory(info.schema().json, s"${baseMeta.location}/data",
            baseMeta.partitionColumns, new SerializableConfiguration(baseMeta.writeConf(hadoopConf)),
            baseMeta.physicalBloomColumns, baseMeta.targetFileBytes,
            bloomBits = baseMeta.fileBloomBits,
            statTruncateLen = baseMeta.statTruncateLen)
        override def commit(messages: Array[WriterCommitMessage]): Unit =
          // buffer only — visibility is commitStagedChanges' job
          stagedFiles = messages.collect { case LakeCommitMessage(fs) => fs }.flatten.toSeq
        override def abort(messages: Array[WriterCommitMessage]): Unit = {
          val fs = new Path(baseMeta.location).getFileSystem(hadoopConf)
          messages.collect { case LakeCommitMessage(files) =>
            files.foreach(f => fs.delete(new Path(f.path), false))
          }
        }
      }
    }
  }

  // set once a pointer write lands or its outcome turns unknown: the staged
  // files may be live table state and abortStagedChanges must keep them
  @volatile private var filesMayBeCommitted = false

  override def commitStagedChanges(): Unit = try {
    // Fresh-create metadata: snapshot 1, no history.
    lazy val newLoc =
      TableMeta.write(TableMeta.withOverwrite(baseMeta, "create", stagedFiles, hadoopConf),
        hadoopConf)
    // a torn INSERT resolves by its row; an undecidable one escalates as
    // CommitStateUnknownException, which keeps the staged files
    def register(): Boolean = store.registerResolving(namespace, tableName, newLoc)

    // false = the table vanished: the caller falls through to register
    def casReplace(): Boolean = store.load(namespace, tableName) match {
      case None => false
      case Some(prev) =>
        try {
          CasCommit.retryLoop(store, namespace, tableName, prev,
            TableMeta.read(prev, hadoopConf), "staged replace", displayName, hadoopConf)(
            _ => ())(
            // REPLACE is a new snapshot on the EXISTING timeline — prior
            // snapshots survive, so VERSION AS OF a pre-replace snapshot
            // still answers (with the staged schema; old files read
            // by-name). Prior snapshots stay time-travelable, so the row-id
            // high-water mark must carry too — restarting it would reuse
            // ids that still name rows on the retained timeline
            base => TableMeta.withOverwrite(
              baseMeta.copy(snapshots = base.snapshots, nextRowId = base.nextRowId),
              "replace", stagedFiles, hadoopConf))(())
          true
        } catch { case _: TableDroppedException => false }
    }

    mode match {
      case StageMode.Create =>
        if (!register())
          throw new TableAlreadyExistsException(ident)
      case StageMode.Replace =>
        if (!casReplace())
          // table was dropped between stageReplace and commit: land the new
          // version anyway (same outcome as replace-after-concurrent-drop)
          if (!register())
            throw new TableAlreadyExistsException(ident)
      case StageMode.CreateOrReplace =>
        if (!register())
          if (!casReplace())
            if (!register())
              throw new IllegalStateException(
                s"create-or-replace of $displayName: lost both register and CAS races")
    }
    filesMayBeCommitted = true // before onCommit: a cache-evict throw is post-commit
    onCommit()
  } catch {
    case e: CommitStateUnknownException => filesMayBeCommitted = true; throw e
    case e: java.sql.SQLException =>
      // a store call outside the torn-call resolvers failed (a pointer
      // read around the replace): undecidable — keep the files
      filesMayBeCommitted = true
      throw new CommitStateUnknownException(
        s"staged commit of $displayName: outcome unknown (store unreachable)", e)
  }

  override def abortStagedChanges(): Unit = {
    if (filesMayBeCommitted) return // committed-or-unknown: orphans at worst
    val fs = new Path(baseMeta.location).getFileSystem(hadoopConf)
    stagedFiles.foreach(f => fs.delete(new Path(f.path), false))
  }
}
