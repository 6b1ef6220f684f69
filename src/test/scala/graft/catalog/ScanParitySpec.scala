package graft.catalog

import org.apache.spark.sql.catalyst.{expressions => ce}
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.connector.read.{HasPartitionKey, InputPartition, Scan}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetTable}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.UpsRow

/** Lake scans plan their parquet reads from the manifest. What they plan
  * must equal what Spark's own `ParquetTable` plans over the same files
  * (which lists and stats every file to get there): the same
  * (path, start, length) splits packed into the same partitions, the same
  * read schema and the same pushed filters. Every table lives under a
  * directory whose name holds a space and a `%`.
  */
class ScanParitySpec extends AnyFunSuite {
  import graft.TestSpark._

  private lazy val base = java.nio.file.Files.createTempDirectory("graft parity%").toString
  private val noOptions = CaseInsensitiveStringMap.empty()

  private def uniq(p: String) = s"$p${System.nanoTime() % 1000000}"

  private def load(t: String): LakeTable = {
    val Array(cat, ns, name) = t.split('.')
    spark.sessionState.catalogManager.catalog(cat).asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array(ns), name)).asInstanceOf[LakeTable]
  }

  private def create(ddl: String, props: String = ""): String = {
    val t = s"lake.parity.${uniq("t")}"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.parity")
    spark.sql(s"CREATE TABLE $t $ddl LOCATION '$base/${t.split('.').last} x'" +
      (if (props.isEmpty) "" else s" TBLPROPERTIES ($props)"))
    t
  }

  /** The lake scan Spark would build for `required` columns under `exprs`. */
  private def lakeScan(t: LakeTable, required: StructType,
      exprs: Seq[ce.Expression] = Nil): LakeScan = {
    val b = t.newScanBuilder(noOptions).asInstanceOf[LakeScanBuilder]
    b.pushFilters(exprs)
    b.pruneColumns(required)
    b.build().asInstanceOf[LakeScan]
  }

  /** Spark's own parquet scan over `files`, handed the lake scan's physical
    * schemas and filters. `required` holds data columns only.
    */
  private def parquetTableScan(t: LakeTable, files: Seq[DataFileMeta], required: StructType,
      exprs: Seq[ce.Expression] = Nil): Scan = {
    val l2p = t.meta.l2pMap
    val pt = ParquetTable(t.name(), spark, noOptions, files.map(_.path),
      Some(ColumnMapping.toPhysical(t.schema(), l2p)), classOf[ParquetFileFormat])
    val b = pt.newScanBuilder(noOptions)
    b.pushFilters(ColumnMapping.toPhysicalExprs(exprs, l2p))
    b.pruneColumns(ColumnMapping.toPhysical(required, l2p))
    b.build()
  }

  private type Splits = Seq[Seq[(String, Long, Long)]]

  /** Each partition's (file, start, length) splits. The file is the one the
    * reader opens: Spark's file index spells local files `file:///…` and
    * the manifest `file:/…`, so the decoded path of the URL is compared.
    */
  private def splits(parts: Seq[InputPartition]): Splits = parts.map {
    case fp: FilePartition => fp.files.map { f =>
      val uri = f.toPath.toUri
      (s"${uri.getScheme}:${uri.getPath}", f.start, f.length)
    }.toSeq
    case other => fail(s"not a file partition: $other")
  }

  private def planned(s: Scan): Splits = splits(s.toBatch.planInputPartitions().toSeq)

  private def col(n: String, dt: DataType) = ce.AttributeReference(n, dt)()

  /** Small splits and a small open cost, so files split and several splits
    * pack into one partition.
    */
  private def withSmallSplits[T](body: => T): T = {
    val keys = Seq("spark.sql.files.maxPartitionBytes" -> "8192",
      "spark.sql.files.openCostInBytes" -> "1024")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("clean scan: splits of native and multi-row-group add_files files match ParquetTable") {
    val t = create("(id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(0, 300)")
    spark.sql(s"INSERT INTO $t SELECT id, concat('w', id) FROM range(300, 400)")
    val ext = s"$base/ext ${uniq("d")}%"
    spark.sql("SELECT id + 1000 AS id, concat('x', id, repeat('y', 20)) AS v FROM range(0, 20000)")
      .coalesce(1).write.option("parquet.block.size", "16384").parquet(ext)
    spark.sql(s"CALL lake.system.add_files('${t.stripPrefix("lake.")}', '$ext')")
    val lt = load(t)
    val files = lt.meta.currentFiles
    val imported = files.filter(_.path.contains("ext ")).map(_.path)
    assert(imported.size == 1)
    val footer = PositionalParquet.openFooter(new org.apache.hadoop.fs.Path(imported.head),
      spark.sessionState.newHadoopConf())
    try assert(footer.getRowGroups.size > 1, "the imported file needs several row groups")
    finally footer.close()

    withSmallSplits {
      val exprs = Seq(ce.IsNotNull(col("id", LongType)),
        ce.GreaterThan(col("id", LongType), ce.Literal(-1L)))
      val scan = lakeScan(lt, lt.schema(), exprs)
      val old = parquetTableScan(lt, files, lt.schema(), exprs)
      val ours = planned(scan)
      assert(ours == planned(old))
      assert(ours.flatten.count(_._1.contains("/ext ")) > 1, "the imported file must split")
      assert(ours.exists(_.size > 1), "small files must pack together")
      val urls = scan.toBatch.planInputPartitions().flatMap(_.asInstanceOf[FilePartition].files)
        .map(_.urlEncodedPath)
      assert(urls.forall(u => u.contains("parity%25") && u.contains("%20")), urls.toSeq)
      assert(scan.readSchema() == old.readSchema())
      val pushed = old.asInstanceOf[ParquetScan].pushedFilters
      assert(pushed.nonEmpty)
      assert(scan.description().contains(s"PushedFilters: ${pushed.mkString("[", ", ", "]")}"),
        scan.description())
    }
    assert(spark.table(t).count() == 20400L)
    spark.sql(s"DROP TABLE $t")
  }

  test("key-grouped and mixed scans: per-group and clean-file splits match ParquetTable") {
    val t = create("(id BIGINT, v STRING) PARTITIONED BY (bucket(8, id))",
      "'write.delete.mode'='merge-on-read'")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, concat('v', id) FROM range(0, 2000)")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, concat('w', id) FROM range(2000, 3000)")
    withSmallSplits {
      val lt = load(t)
      val statKey = lt.meta.partitionFields.head.statKey
      val byBucket = lt.meta.currentFiles.groupBy(_.minValues(statKey).toInt)
      val keyed = lakeScan(lt, lt.schema()).toBatch
      assert(keyed.isInstanceOf[LakeKeyGroupedBatch])
      val groups = keyed.planInputPartitions().toSeq.groupBy(
        _.asInstanceOf[HasPartitionKey].partitionKey().getInt(0))
      assert(groups.keySet == byBucket.keySet && groups.size == 8)
      groups.foreach { case (bucket, parts) =>
        val inner = parts.map(_.asInstanceOf[KeyedInputPartition].inner)
        assert(splits(inner) == planned(parquetTableScan(lt, byBucket(bucket), lt.schema())),
          s"bucket $bucket")
      }
    }

    val target = spark.sql(s"SELECT _file FROM $t WHERE id = 17").collect().head.getString(0)
    spark.sql(s"DELETE FROM $t WHERE id = 17")
    withSmallSplits {
      val lt = load(t)
      val clean = lt.meta.currentFiles.filterNot(_.path == target)
      val mixed = lakeScan(lt, lt.schema()).toBatch
      assert(mixed.isInstanceOf[LakeMixedBatch])
      val parts = mixed.planInputPartitions().toSeq.map(_.asInstanceOf[MorInputPartition])
      val (positional, delegated) = parts.partition(_.dataPath.nonEmpty)
      assert(positional.map(_.dataPath).distinct == Seq(target))
      assert(splits(delegated.map(_.inner)) == planned(parquetTableScan(lt, clean, lt.schema())))
    }
    assert(spark.table(t).count() == 2999L)
    spark.sql(s"DROP TABLE $t")
  }

  test("equality-delete-only scan: clean and eq-group splits match ParquetTable") {
    val t = create("(k BIGINT, v STRING, n INT)")
    ScanPlanningSpec.upsert(t, Seq((1L to 2000L).map(i => UpsRow(i, s"a$i", 1)),
      (1L to 2000L by 10L).map(i => UpsRow(i, s"b$i", 2))))
    withSmallSplits {
      val lt = load(t)
      // every epoch writes equality deletes for its keys; the second
      // epoch's apply to the first epoch's files only
      val eqAt = lt.meta.currentEqDeleteFiles.map(_.addedAt).max
      val (older, newer) = lt.meta.currentFiles.partition(_.addedAt < eqAt)
      val required = StructType(lt.schema().filter(_.name == "v"))
      val batch = lakeScan(lt, required).toBatch
      assert(batch.isInstanceOf[LakeMixedBatch])
      val (eq, clean) = batch.planInputPartitions().toSeq
        .partition(_.isInstanceOf[MorInputPartition])
      assert(eq.map(_.asInstanceOf[MorInputPartition].eqDeletePaths).distinct.size == 1,
        "one upsert epoch makes one equality-delete group")
      assert(splits(clean) == planned(parquetTableScan(lt, newer, required)))
      // the eq group reads requested ∪ key columns; splits don't depend on them
      assert(splits(eq.map(_.asInstanceOf[MorInputPartition].inner)) ==
        planned(parquetTableScan(lt, older, StructType(lt.schema().filter(_.name != "n")))))
    }
    assert(spark.table(t).count() == 2000L)
    spark.sql(s"DROP TABLE $t")
  }

  test("read schema matches ParquetTable's for nested-pruned, column-mapped and _file/_pos scans") {
    val t = create("(id BIGINT, s STRUCT<a: BIGINT, b: STRING>, v STRING)")
    spark.sql(s"INSERT INTO $t SELECT id, named_struct('a', id, 'b', 'x'), 'v' FROM range(0, 10)")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO w")
    spark.sql(s"ALTER TABLE $t ADD COLUMN d INT NOT NULL DEFAULT 5")
    val lt = load(t)
    assert(lt.meta.l2pMap.exists { case (l, p) => l != p }, "the rename must map w to v")
    val files = lt.meta.currentFiles
    def field(n: String) = lt.schema()(n)
    val nested = StructType(Seq(field("s").copy(dataType =
      StructType(Seq(StructField("a", LongType))))))
    val mapped = StructType(Seq(field("id"), field("w"), field("d")))
    val meta = Seq(LakeMetaCols.File, LakeMetaCols.Pos).map(LakeMetaCols.fieldOf)
    Seq(nested, mapped, StructType(mapped.fields ++ meta)).foreach { required =>
      val data = StructType(required.filterNot(f => LakeMetaCols.isMeta(f.name)))
      val old = parquetTableScan(lt, files, data)
      val expected = StructType(ColumnMapping.toLogical(old.readSchema(), lt.meta.l2pMap).fields ++
        required.filter(f => LakeMetaCols.isMeta(f.name)).map(f => LakeMetaCols.fieldOf(f.name)))
      assert(lakeScan(lt, required).readSchema() == expected, required)
    }
    assert(spark.sql(s"SELECT s.a, w, d FROM $t WHERE id = 3").collect().head.toSeq ==
      Seq(3L, "v", 5))
    spark.sql(s"DROP TABLE $t")
  }
}
