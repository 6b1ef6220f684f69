package graft

import org.apache.spark.sql.types._
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{DataFileMeta, SnapshotMeta, TableMeta}

/** Property tests for the metadata core (SURVEY §5 test-plan item 3):
  * metadata documents survive JSON round-trips for arbitrary schemas /
  * manifests / properties, and metadata-level file pruning is SOUND — it
  * may keep too much, never drop a file that could hold a matching row.
  * (Plain ScalaCheck generators driven by fixed seeds — scalatestplus is
  * not in the offline cache; determinism is a feature here anyway.)
  */
class PropertySpec extends AnyFunSuite {

  private def forAll[A](gen: Gen[A], n: Int = 300)(f: A => Unit): Unit =
    (1 to n).foreach(i => f(gen.pureApply(Gen.Parameters.default, Seed(i.toLong))))

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    (1 to 300).foreach { i =>
      f(ga.pureApply(Gen.Parameters.default, Seed(i.toLong)),
        gb.pureApply(Gen.Parameters.default, Seed((i + 7919).toLong)))
    }

  private val genFieldType: Gen[DataType] = Gen.oneOf(
    IntegerType, LongType, DoubleType, FloatType, StringType, BooleanType,
    DateType, TimestampType, DecimalType(18, 6), BinaryType,
    ArrayType(FloatType), MapType(StringType, LongType))

  private val genField: Gen[StructField] = for {
    name <- Gen.identifier.map(_.take(20))
    dt <- genFieldType
    nullable <- Arbitrary.arbitrary[Boolean]
  } yield StructField(name, dt, nullable)

  private val genSchema: Gen[StructType] = for {
    n <- Gen.choose(1, 12)
    fields <- Gen.listOfN(n, genField)
  } yield StructType(fields.distinctBy(_.name))

  private val genFile: Gen[DataFileMeta] = for {
    path <- Gen.identifier.map(s => s"/w/$s.parquet")
    rows <- Gen.choose(0L, 1000000L)
    size <- Gen.choose(1L, Long.MaxValue / 2)
    lo <- Gen.choose(-1000000L, 1000000L)
    span <- Gen.choose(0L, 100000L)
  } yield DataFileMeta(path, rows, size,
    Map("k" -> lo.toString), Map("k" -> (lo + span).toString))

  private val genMeta: Gen[TableMeta] = for {
    schema <- genSchema
    nFiles <- Gen.choose(0, 8)
    files <- Gen.listOfN(nFiles, genFile)
    props <- Gen.mapOf(Gen.zip(Gen.identifier.map(_.take(10)), Gen.alphaNumStr.map(_.take(30))))
    parts <- Gen.someOf(schema.fieldNames.take(2))
  } yield TableMeta(1, "/w/t", schema.json, parts.toSeq, props, 1L,
    Seq(SnapshotMeta(1L, 12345L, "append", files)))

  test("TableMeta JSON round-trip preserves every field for arbitrary documents") {
    forAll(genMeta) { m =>
      val back = TableMeta.fromJson(TableMeta.toJson(m))
      assert(back == m)
      assert(back.schema == m.schema) // schemaJson parses to the same StructType
    }
  }

  test("file pruning is sound: a pruned file provably contains no matching value") {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    val schema = StructType(Seq(StructField("k", LongType)))
    val attr = ce.AttributeReference("k", LongType)()
    val genCmp: Gen[(Long, ce.Expression)] = for {
      v <- Gen.choose(-1100000L, 1100000L)
      op <- Gen.choose(0, 4)
    } yield (v, op match {
      case 0 => ce.EqualTo(attr, ce.Literal(v))
      case 1 => ce.GreaterThan(attr, ce.Literal(v))
      case 2 => ce.GreaterThanOrEqual(attr, ce.Literal(v))
      case 3 => ce.LessThan(attr, ce.Literal(v))
      case 4 => ce.LessThanOrEqual(attr, ce.Literal(v))
    })
    def sat(x: Long, e: ce.Expression): Boolean = e match {
      case ce.EqualTo(_, ce.Literal(v, _)) => x == v.asInstanceOf[Long]
      case ce.GreaterThan(_, ce.Literal(v, _)) => x > v.asInstanceOf[Long]
      case ce.GreaterThanOrEqual(_, ce.Literal(v, _)) => x >= v.asInstanceOf[Long]
      case ce.LessThan(_, ce.Literal(v, _)) => x < v.asInstanceOf[Long]
      case ce.LessThanOrEqual(_, ce.Literal(v, _)) => x <= v.asInstanceOf[Long]
      case ce.And(a, b) => sat(x, a) && sat(x, b)
      case ce.Or(a, b) => sat(x, a) || sat(x, b)
      case _ => true
    }
    val genExpr: Gen[ce.Expression] = for {
      (_, a) <- genCmp
      (_, b) <- genCmp
      shape <- Gen.choose(0, 2)
    } yield shape match {
      case 0 => a
      case 1 => ce.And(a, b)
      case 2 => ce.Or(a, b)
    }
    forAll(genFile, genExpr) { (file, e) =>
      if (!graft.catalog.FilePruner.mayMatch(e, file)) {
        // soundness: NO value inside the file's [min, max] satisfies e
        val lo = file.minValues("k").toLong
        val hi = file.maxValues("k").toLong
        val probes = Seq(lo, hi, (lo + hi) / 2) ++
          Seq(lo + 1, hi - 1).filter(x => x >= lo && x <= hi)
        probes.foreach(x => assert(!sat(x, e),
          s"pruned file [$lo,$hi] contains matching value $x for $e"))
      }
    }
  }

  test("manifest summary fold is sound: a skipped manifest holds no may-matching file") {
    // The manifest-skip inductive step ([[TableMeta.filesMatching]]): when
    // FilePruner prunes the FOLDED pseudo-entry, it must be the case that
    // it would prune EVERY member file — otherwise skipping the manifest
    // silently drops live rows at planning time (unrecoverable, unlike a
    // false keep). Together with the per-file soundness property above,
    // this makes the whole skip row-sound by transitivity. Covers both
    // comparison kinds ('n' long, 's' UTF8 string), missing bounds
    // (all-null files poison the key → conservative), and null counts.
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.unsafe.types.UTF8String
    import graft.catalog.{FilePruner, ManifestSummary}
    val schema = StructType(Seq(StructField("k", LongType), StructField("s", StringType)))
    val kinds = Map("k" -> 'n', "s" -> 's')
    val kAttr = ce.AttributeReference("k", LongType)()
    val sAttr = ce.AttributeReference("s", StringType)()
    def u8lt(a: String, b: String) =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
    val genStr: Gen[String] = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)), Gen.oneOf("", "a", "z", "é", "￿", "m0"))
    val genOneFile: Gen[DataFileMeta] = for {
      rows <- Gen.choose(1L, 10000L)
      lo <- Gen.choose(-1000L, 1000L)
      span <- Gen.choose(0L, 500L)
      s1 <- genStr
      s2 <- genStr
      kNulls <- Gen.choose(0L, rows)
      sNulls <- Gen.choose(0L, rows)
      dropK <- Gen.prob(0.15)
      dropS <- Gen.prob(0.15)
    } yield {
      val (sLo, sHi) = if (u8lt(s2, s1)) (s2, s1) else (s1, s2)
      val mins = (if (dropK) Map.empty[String, String] else Map("k" -> lo.toString)) ++
        (if (dropS) Map.empty[String, String] else Map("s" -> sLo))
      val maxs = (if (dropK) Map.empty[String, String] else Map("k" -> (lo + span).toString)) ++
        (if (dropS) Map.empty[String, String] else Map("s" -> sHi))
      DataFileMeta("f", rows, 1L, mins, maxs, Map("k" -> kNulls, "s" -> sNulls))
    }
    val genFiles: Gen[List[DataFileMeta]] =
      Gen.choose(1, 8).flatMap(Gen.listOfN(_, genOneFile))
    val genLeaf: Gen[ce.Expression] = for {
      v <- Gen.choose(-1200L, 1200L)
      sv <- genStr
      shape <- Gen.choose(0, 9)
    } yield shape match {
      case 0 => ce.EqualTo(kAttr, ce.Literal(v))
      case 1 => ce.GreaterThan(kAttr, ce.Literal(v))
      case 2 => ce.LessThan(kAttr, ce.Literal(v))
      case 3 => ce.GreaterThanOrEqual(kAttr, ce.Literal(v))
      case 4 => ce.LessThanOrEqual(kAttr, ce.Literal(v))
      case 5 => ce.EqualTo(sAttr, ce.Literal(UTF8String.fromString(sv), StringType))
      case 6 => ce.GreaterThan(sAttr, ce.Literal(UTF8String.fromString(sv), StringType))
      case 7 => ce.LessThan(sAttr, ce.Literal(UTF8String.fromString(sv), StringType))
      case 8 => ce.IsNull(kAttr)
      case 9 => ce.IsNotNull(sAttr)
    }
    val genExpr: Gen[ce.Expression] = for {
      a <- genLeaf
      b <- genLeaf
      shape <- Gen.choose(0, 2)
    } yield shape match {
      case 0 => a
      case 1 => ce.And(a, b)
      case 2 => ce.Or(a, b)
    }
    var skips = 0
    forAll(genFiles, genExpr) { (files, e) =>
      val (mins, maxs, nulls) = ManifestSummary.fold(files, kinds)
      val pseudo = DataFileMeta("m", files.map(_.rowCount).sum, 1L, mins, maxs, nulls)
      if (!FilePruner.mayMatch(e, pseudo)) {
        skips += 1
        files.foreach(f => assert(!FilePruner.mayMatch(e, f),
          s"manifest skipped by $e but member file may match: " +
            s"file=[${f.minValues}..${f.maxValues}, nulls=${f.nullCounts}, rows=${f.rowCount}] " +
            s"summary=[$mins..$maxs, nulls=$nulls]"))
      }
    }
    assert(skips >= 20, s"vacuous run: only $skips of 300 trials skipped the manifest")
  }

  test("bloom pruning is sound end-to-end: a present value's file is never pruned") {
    // the full writer→canonical→pruner path: values inserted through
    // FileBloom.add with the WRITER's rendering, probed through
    // FilePruner.mayMatch with the PRUNER's literal shapes — any
    // canonicalization divergence would surface as a false negative here
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.unsafe.types.UTF8String
    import graft.catalog.{DataFileMeta, FileBloom, FilePruner}
    val genVals: Gen[List[Long]] = Gen.nonEmptyListOf(Gen.choose(-100000L, 100000L))
    val schema = StructType(Seq(StructField("k", LongType), StructField("s", StringType)))
    val kAttr = ce.AttributeReference("k", LongType)()
    val sAttr = ce.AttributeReference("s", StringType)()
    forAll(genVals, 150) { vals =>
      val bloomK = FileBloom(4096)
      val bloomS = FileBloom(4096)
      vals.foreach { v =>
        bloomK.add(FileBloom.canonical(java.lang.Long.valueOf(v)).get)
        bloomS.add(s"v-$v")
      }
      // decode from the ENCODED form — the sidecar round-trip included
      val lookup: (String, String) => Option[FileBloom] = {
        case (_, "k") => FileBloom.decode(bloomK.encode)
        case (_, "s") => FileBloom.decode(bloomS.encode)
        case _ => None
      }
      val f = DataFileMeta("p", vals.size.toLong, 1L,
        Map("k" -> vals.min.toString, "s" -> ("v-")),
        Map("k" -> vals.max.toString, "s" -> "v-￿"),
        Map("k" -> 0L, "s" -> 0L))
      vals.foreach { v =>
        val eqK = ce.EqualTo(kAttr, ce.Literal(v))
        assert(FilePruner.mayMatch(eqK, f, lookup),
          s"present long $v was bloom-pruned")
        val eqS = ce.EqualTo(sAttr, ce.Literal(UTF8String.fromString(s"v-$v"), StringType))
        assert(FilePruner.mayMatch(eqS, f, lookup),
          s"present string v-$v was bloom-pruned")
        val in = ce.In(kAttr, Seq(ce.Literal(v), ce.Literal(200001L)))
        assert(FilePruner.mayMatch(in, f, lookup),
          s"IN-list containing present $v was bloom-pruned")
      }
    }
  }

  test("StatBounds.compare orders stat strings as Spark orders the typed values") {
    // each value rendered the way the writer records it; the sign of the
    // stat comparison must equal Spark's SQL ordering of the values
    import org.apache.spark.sql.catalyst.util.TypeUtils
    import org.apache.spark.unsafe.types.UTF8String
    import graft.catalog.StatBounds
    // code points from ASCII, U+E000..U+FFFF and the supplementary planes:
    // UTF-16 order puts surrogate pairs below U+E000, UTF-8 order above
    val genCp: Gen[Int] = Gen.frequency(
      3 -> Gen.choose(0x61, 0x63), 3 -> Gen.choose(0xE000, 0xFFFF),
      3 -> Gen.choose(0x10000, 0x10FFFF))
    val genStr: Gen[UTF8String] = Gen.choose(0, 4).flatMap(Gen.listOfN(_, genCp))
      .map(cps => UTF8String.fromString(new String(cps.toArray, 0, cps.length)))
    val genDouble: Gen[Double] = Gen.frequency(
      4 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
        -0.0, 0.0, Double.MinValue, Double.MaxValue, Double.MinPositiveValue, 1e300, -1e-300),
      4 -> Gen.choose(-1e6, 1e6), 2 -> Arbitrary.arbitrary[Double])
    val genDecimal: Gen[Decimal] = Gen.choose(-1000000000000L, 1000000000000L)
      .map(u => Decimal(BigDecimal(u, 6), 18, 6))
    def check[A](dt: DataType, gen: Gen[A], render: A => String): Unit = {
      val ord = TypeUtils.getInterpretedOrdering(dt)
      forAll(gen, gen) { (a, b) =>
        val got = StatBounds.compare(dt, render(a), render(b))
        assert(got.map(Integer.signum) == Some(Integer.signum(ord.compare(a, b))),
          s"$dt: compare(${render(a)}, ${render(b)}) = $got")
      }
    }
    check[UTF8String](StringType, genStr, _.toString)
    check[Double](DoubleType, genDouble, _.toString)
    check[Float](FloatType, genDouble.map(_.toFloat), _.toString)
    check[Decimal](DecimalType(18, 6), genDecimal, _.toJavaBigDecimal.toString)
    check[Long](LongType, Arbitrary.arbitrary[Long], _.toString)
    check[Boolean](BooleanType, Arbitrary.arbitrary[Boolean], _.toString)
    assert(StatBounds.compare(BinaryType, "a", "b").isEmpty)
  }

  test("a translated runtime IN prunes by the bucket of the column's type") {
    // a DSv2 `k IN (…)` on an INT column keeps exactly the files whose
    // bucket stat is the bucket of one listed value (hashed as INT, as
    // the writer bucketed it); a BIGINT literal hashes differently, so a
    // literal of another type keeps every file
    import org.apache.spark.sql.connector.expressions.{Expressions, Expression => V2Expr}
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import graft.catalog.{BucketHash, FilePruner, PartField}
    val schema = StructType(Seq(StructField("k", IntegerType)))
    val pf = Seq(PartField("k", Some(8)))
    // min/max span every key, so only the bucket stat can prune
    val files = (0 until 8).map(b => DataFileMeta(s"/w/b$b.parquet", 10L, 1L,
      Map("k" -> "-1000000", "_bucket_8_k" -> b.toString),
      Map("k" -> "1000000", "_bucket_8_k" -> b.toString)))
    def in(vs: Seq[Any]): Predicate = new Predicate("IN",
      (Expressions.column("k") +: vs.map(v => Expressions.literal(v): V2Expr)).toArray)
    forAll(Gen.nonEmptyListOf(Gen.choose(-1000000, 1000000)).map(_.take(3))) { ks =>
      val e = FilePruner.fromV2(in(ks), schema).get
      val kept = files.filter(FilePruner.mayMatch(e, _, partFields = pf))
      assert(kept.map(_.path).toSet ==
        ks.map(k => s"/w/b${BucketHash(8, k, IntegerType)}.parquet").toSet, s"IN $ks")
      val longs = FilePruner.fromV2(in(ks.map(_.toLong)), schema).get
      assert(files.forall(FilePruner.mayMatch(longs, _, partFields = pf)),
        s"BIGINT literals IN $ks must keep every file")
    }
  }

  test("top-N file pruning is sound under adversarial row placement") {
    // any placement of each file's rows consistent with its stats (min and
    // max attained, rowCount rows in [min,max]) must have its true top-n
    // rows inside the selected files. The adversary stacks every row at
    // the extreme end (plus one at the other to attain the max stat).
    val genFiles: Gen[List[DataFileMeta]] = for {
      nf <- Gen.choose(1, 10)
      fs <- Gen.listOfN(nf, for {
        lo <- Gen.choose(-1000L, 1000L)
        span <- Gen.choose(0L, 500L)
        rows <- Gen.choose(1L, 50L)
      } yield (lo, lo + span, rows))
    } yield fs.zipWithIndex.map { case ((lo, hi, rows), i) =>
      DataFileMeta(s"/w/f$i.parquet", rows, 100L,
        Map("k" -> lo.toString), Map("k" -> hi.toString), Map("k" -> 0L))
    }
    forAll(genFiles, Gen.choose(1, 20)) { (files, n) =>
      for (desc <- Seq(false, true)) {
        val selected = graft.catalog.TopNPrune.prune(files, "k", LongType, desc, n)
          .map(_.path).toSet
        // worst-case placement AGAINST the selection: excluded files put
        // every row at their most competitive end, selected files at
        // their least competitive end (one row at the opposite end keeps
        // both stats attained). Soundness = the n extreme VALUES of the
        // full corpus equal those computable from selected files alone
        // (ties by value are interchangeable for LIMIT semantics).
        val rows: Seq[(Long, String)] = files.flatMap { f =>
          val lo = f.minValues("k").toLong
          val hi = f.maxValues("k").toLong
          val competitive = if (desc) hi else lo
          val anti = if (desc) lo else hi
          val stack = if (selected(f.path)) anti else competitive
          val other = if (selected(f.path)) competitive else anti
          Seq.fill((f.rowCount - 1).toInt)((stack, f.path)) :+ ((other, f.path))
        }
        def topVals(rs: Seq[(Long, String)]): Seq[Long] =
          (if (desc) rs.map(_._1).sorted(Ordering[Long].reverse)
           else rs.map(_._1).sorted).take(n)
        val full = topVals(rows)
        val fromSelected = topVals(rows.filter(r => selected(r._2)))
        assert(full == fromSelected,
          s"desc=$desc n=$n: full-corpus top values $full != selected-only $fromSelected " +
            s"(selected=$selected, files=${files.map(f => (f.path, f.minValues("k"), f.maxValues("k"), f.rowCount))})")
      }
    }
  }

  test("commit algebra: random append/delta/rewrite/overwrite sequences keep the model") {
    commitAlgebra(Map.empty)
  }

  test("commit algebra holds under aggressive commit-time manifest merging") {
    // same model, but every third commit triggers the opportunistic
    // manifest merge — file sets, sequence numbers, summaries and
    // time travel must be indistinguishable from the unmerged run
    commitAlgebra(Map("commit.manifest-merge.min-count" -> "3"))
  }

  private def commitAlgebra(tableProps: Map[String, String]): Unit = {
    // model-based property: after ANY sequence of commit shapes, the
    // metadata's data/delete file sets (through a full write+read
    // round-trip, manifest lists and all) equal a trivial in-memory model
    import graft.catalog.{ManifestIO, TableMeta => TM}
    val conf = new org.apache.hadoop.conf.Configuration()
    val schema = StructType(Seq(StructField("k", LongType)))
    var fileNo = 0
    def mkFile(delete: Boolean): DataFileMeta = {
      fileNo += 1
      val p = if (delete) f"/w/del-$fileNo%05d.parquet" else f"/w/data-$fileNo%05d.parquet"
      DataFileMeta(p, 10L, 100L,
        if (delete) Map("file_path" -> "/w/data-00000.parquet") else Map("k" -> "1"),
        if (delete) Map("file_path" -> "/w/data-99999.parquet") else Map("k" -> "9"))
    }
    var eqNo = 0
    def mkEqFile(): DataFileMeta = {
      eqNo += 1
      DataFileMeta(f"/w/eq-$eqNo%05d.parquet", 5L, 50L,
        Map("k" -> "1"), Map("k" -> "9"))
    }
    val genOp: Gen[Int] = Gen.choose(0, 6)
    (1 to 30).foreach { seed =>
      val dir = java.nio.file.Files.createTempDirectory(s"prop-meta-$seed").toString
      var meta = TM.empty(dir, schema, Nil, tableProps) // commit helpers attach ioConf
      var modelData = Set.empty[String]
      var modelDeletes = Set.empty[String]
      var modelEq = Set.empty[String]
      var modelBranch: Option[Set[String]] = None // file set at the head of branch "b"
      val nOps = 12
      (1 to nOps).foreach { i =>
        val op = genOp.pureApply(Gen.Parameters.default, Seed((seed * 1000 + i).toLong))
        op match {
          case 0 => // append 1-2 data files
            val fs = Seq(mkFile(false), mkFile(false))
            meta = TM.withAppend(meta, "append", fs, conf)
            modelData ++= fs.map(_.path)
          case 1 => // delta: one insert file + one delete file
            val d = mkFile(false); val t = mkFile(true)
            meta = TM.withDelta(meta, "delta", Seq(d), Seq(t), conf)
            modelData += d.path; modelDeletes += t.path
          case 2 if modelData.nonEmpty => // rewrite half the data + fold deletes
            val replaced = modelData.toSeq.sorted.take(math.max(1, modelData.size / 2)).toSet
            val folded = modelDeletes.toSeq.sorted.headOption.toSet
            val foldedEq = modelEq.toSeq.sorted.headOption.toSet
            val nf = mkFile(false)
            meta = TM.withRewrite(meta, "compact", replaced ++ folded ++ foldedEq, Seq(nf), conf)
            modelData = modelData -- replaced + nf.path
            modelDeletes --= folded
            modelEq --= foldedEq
          case 3 => // overwrite drops everything
            val nf = mkFile(false)
            meta = TM.withOverwrite(meta, "overwrite", Seq(nf), conf)
            modelData = Set(nf.path); modelDeletes = Set.empty; modelEq = Set.empty
          case 4 => // upsert epoch: data + equality-delete keys
            val d = mkFile(false); val e = mkEqFile()
            meta = TM.withDelta(meta, "upsert", Seq(d), Seq(e), conf,
              deleteContent = "eq-deletes", extraProps = Map("upsert.keys" -> "k"))
            modelData += d.path; modelEq += e.path
          case 5 if meta.currentSnapshotId > 0 => // branch: create once, then append
            modelBranch match {
              case None => // create the branch at the current snapshot
                meta = meta.copy(properties =
                  meta.properties + ("branch.b" -> meta.currentSnapshotId.toString))
                modelBranch = Some(modelData)
              case Some(bd) => // branch append: ref advances, main untouched
                val f = mkFile(false)
                meta = TM.withBranchAppend(meta, "b", Seq(f), conf)
                modelBranch = Some(bd + f.path)
            }
          case 6 if modelEq.nonEmpty => // delete-file rewrite: bin-pack the
            // eq files into one, ORIGINAL sequence number preserved
            // (metadata-only — data files untouched)
            val preserved = meta.currentEqDeleteFiles.map(_.addedAt).min
            val merged = mkEqFile().copy(addedAt = preserved)
            meta = TM.withRewrite(meta, "rewrite-deletes", modelEq, Seq(merged), conf,
              newContent = "eq-deletes")
            modelEq = Set(merged.path)
            // the carried stamp must survive the commit + round-trip below
            assert(meta.currentEqDeleteFiles.forall(_.addedAt == preserved))
          case _ => ()
        }
        // full durability round-trip every step
        val loc = TM.write(meta, conf)
        meta = TM.read(loc, conf)
        assert(meta.currentFiles.map(_.path).toSet == modelData,
          s"seed=$seed step=$i op=$op data files diverge")
        assert(meta.currentDeleteFiles.map(_.path).toSet == modelDeletes,
          s"seed=$seed step=$i op=$op delete files diverge")
        assert(meta.currentEqDeleteFiles.map(_.path).toSet == modelEq,
          s"seed=$seed step=$i op=$op eq-delete files diverge")
        // branch head resolves its own file set regardless of main's
        // appends/rewrites/overwrites (manifests are shared immutably)
        modelBranch.foreach { bd =>
          val head = meta.branchHead("b").getOrElse(
            fail(s"seed=$seed step=$i branch ref lost"))
          val bs = meta.snapshot(head).getOrElse(
            fail(s"seed=$seed step=$i branch head snapshot lost"))
          assert(meta.filesOf(bs).map(_.path).toSet == bd,
            s"seed=$seed step=$i op=$op branch head diverges")
        }
        // sequence numbers: every eq-delete file carries its adding snapshot
        assert(meta.currentEqDeleteFiles.forall(_.addedAt > 0),
          s"seed=$seed step=$i eq-delete without a sequence number")
        // with merging on, the manifest count stays bounded by the threshold
        tableProps.get("commit.manifest-merge.min-count").map(_.toInt).foreach { mc =>
          meta.snapshot(meta.currentSnapshotId).flatMap(_.listLocation).foreach { ll =>
            val n = ManifestIO.readList(ll, conf).size
            assert(n <= mc + 3, s"seed=$seed step=$i manifest count $n unbounded")
          }
        }
        // summaries describe data only (no snapshot yet if the first ops
        // were skipped rewrites on an empty table)
        meta.snapshot(meta.currentSnapshotId).foreach { snap =>
          assert(snap.nFiles == modelData.size && snap.nRows == modelData.size * 10L,
            s"seed=$seed step=$i op=$op summary diverges")
        }
      }
      // time travel: EVERY historical snapshot still resolves its file sets
      meta.snapshots.foreach { s =>
        assert(meta.filesOf(s).forall(f => f.path.contains("/data-")))
        assert(meta.deleteFilesOf(s).forall(f => f.path.contains("/del-")))
        assert(meta.eqDeleteFilesOf(s).forall(f => f.path.contains("/eq-")))
      }
    }
  }
}
