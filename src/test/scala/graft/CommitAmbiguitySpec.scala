package graft

import java.sql.SQLException

import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._

/** Commit-state ambiguity (VERDICT r9): with a REMOTE pointer store the
  * CAS UPDATE can throw with the statement already applied server-side
  * (ack lost on the wire). [[CasCommit.guardedCas]] must resolve every
  * torn call to a definite outcome — never double-commit, never let an
  * abort path delete files a landed commit references. Pointer locations
  * are UUID-unique and never reused, which is what makes each probe
  * decisive; these tests tear the JDBC call at exact points via a store
  * subclass.
  */
class CommitAmbiguitySpec extends AnyFunSuite {

  private val conf = new org.apache.hadoop.conf.Configuration()
  private val schema = StructType(Seq(StructField("k", LongType)))

  private def freshUrl(tag: String): String =
    s"jdbc:derby:memory:ambig$tag${System.nanoTime()};create=true"

  private def baseMetaIn(dir: String): TableMeta =
    TableMeta(1, dir, schema.json, Nil, Map.empty, 1L,
      Seq(SnapshotMeta(1L, 1000L, "append", Nil)))

  private def file(dir: String, n: String): DataFileMeta =
    DataFileMeta(s"$dir/data/$n.parquet", 10L, 100L,
      Map("k" -> "0"), Map("k" -> "9"), Map("k" -> 0L))

  private def setup(tag: String): (PointerStore, String, TableMeta, String, String) = {
    val dir = java.nio.file.Files.createTempDirectory(s"ambig$tag").toString
    val url = freshUrl(tag)
    val store = new PointerStore(url, "c")
    store.initialize()
    val base = baseMetaIn(dir)
    val prevLoc = TableMeta.write(base, conf)
    assert(store.register("ns", "t", prevLoc))
    (store, url, base, prevLoc, dir)
  }

  /** Our attempt: appended one file on top of `base`. */
  private def attempt(base: TableMeta, dir: String, n: String)
      : (String, Option[SnapshotMeta]) = {
    val next = TableMeta.withAppend(base, "append", Seq(file(dir, n)), conf)
    (TableMeta.write(next, conf), next.snapshots.drop(base.snapshots.size).lastOption)
  }

  test("torn CAS that APPLIED resolves to committed (no retry, no double-commit)") {
    val (store, url, base, prevLoc, dir) = setup("a")
    val (newLoc, newHead) = attempt(base, dir, "f1")
    var casCalls = 0
    val tearing = new PointerStore(url, "c") {
      override def casUpdate(ns: String, name: String, nl: String, pl: String): Int = {
        casCalls += 1
        super.casUpdate(ns, name, nl, pl) // APPLIES
        throw new SQLException("connection reset by peer (after apply)")
      }
    }
    assert(CasCommit.guardedCas(tearing, "ns", "t", newLoc, prevLoc, newHead,
      conf, "test", "ns.t") == 1)
    assert(casCalls == 1, "resolution must come from the probe, not a blind retry")
    assert(store.load("ns", "t").contains(newLoc))
  }

  test("torn CAS that did NOT apply is re-issued and lands exactly once") {
    val (store, url, base, prevLoc, dir) = setup("b")
    val (newLoc, newHead) = attempt(base, dir, "f1")
    var first = true
    val tearing = new PointerStore(url, "c") {
      override def casUpdate(ns: String, name: String, nl: String, pl: String): Int = {
        if (first) { first = false; throw new SQLException("write timeout (never applied)") }
        super.casUpdate(ns, name, nl, pl)
      }
    }
    assert(CasCommit.guardedCas(tearing, "ns", "t", newLoc, prevLoc, newHead,
      conf, "test", "ns.t") == 1)
    assert(store.load("ns", "t").contains(newLoc))
  }

  test("torn CAS overtaken by another writer resolves to a definite loss") {
    val (store, url, base, prevLoc, dir) = setup("c")
    val (newLoc, newHead) = attempt(base, dir, "ours")
    val (interloperLoc, _) = attempt(base, dir, "theirs")
    val tearing = new PointerStore(url, "c") {
      override def casUpdate(ns: String, name: String, nl: String, pl: String): Int = {
        // model: our statement dies on the wire, a concurrent writer's CAS
        // (built on the same base) lands instead
        super.casUpdate(ns, name, interloperLoc, pl)
        throw new SQLException("connection reset (ours never applied)")
      }
    }
    assert(CasCommit.guardedCas(tearing, "ns", "t", newLoc, prevLoc, newHead,
      conf, "test", "ns.t") == 0,
      "pointer moved through prevLoc -> other: our guard can never match again")
    assert(store.load("ns", "t").contains(interloperLoc))
  }

  test("torn CAS that applied AND was built on by a later commit still resolves to committed") {
    val (store, url, base, prevLoc, dir) = setup("d")
    val (newLoc, newHead) = attempt(base, dir, "ours")
    val tearing = new PointerStore(url, "c") {
      override def casUpdate(ns: String, name: String, nl: String, pl: String): Int = {
        super.casUpdate(ns, name, nl, pl) // ours APPLIES...
        // ...and before our probe runs, a later writer commits on top
        val buried = TableMeta.read(nl, conf)
        val (laterLoc, _) = attempt(buried, dir, "later")
        super.casUpdate(ns, name, laterLoc, nl)
        throw new SQLException("ack lost after apply")
      }
    }
    assert(CasCommit.guardedCas(tearing, "ns", "t", newLoc, prevLoc, newHead,
      conf, "test", "ns.t") == 1,
      "our snapshot (unique manifest-list) is in the live history: committed")
  }

  test("unreadable interloper metadata keeps the outcome AMBIGUOUS, never a bare IO error") {
    // torn CAS + pointer moved to a location whose metadata doc cannot be
    // read (modeled as a nonexistent path — persistent store throttling
    // looks the same to the probe): the probe must retry within the
    // CasRetry budget and then escalate as CommitStateUnknownException.
    // A bare IOException here would miss every abort path's
    // `catch CommitStateUnknown` and let cleanup delete files a possibly
    // LANDED commit references.
    val (store, url, base, prevLoc, dir) = setup("g")
    val (newLoc, newHead) = attempt(base, dir, "ours")
    val unreadable = s"$dir/metadata/does-not-exist.metadata.json"
    val tearing = new PointerStore(url, "c") {
      override def casUpdate(ns: String, name: String, nl: String, pl: String): Int = {
        super.casUpdate(ns, name, unreadable, pl) // interloper wins...
        throw new SQLException("connection reset (ours never applied)")
      }
    }
    val e = intercept[CommitStateUnknownException] {
      CasCommit.guardedCas(tearing, "ns", "t", newLoc, prevLoc, newHead,
        conf, "test", "ns.t")
    }
    assert(e.getMessage.contains("probe of current pointer"),
      s"escalation must say the probe read failed: ${e.getMessage}")
    assert(store.load("ns", "t").contains(unreadable))
  }

  test("CREATE TABLE with a torn register resolves to success, not a spurious failure") {
    // needs an active session for the catalog's hadoopConf
    TestSpark.spark
    val wh = java.nio.file.Files.createTempDirectory("ambigcat").toString
    val url = freshUrl("f")
    val cat = new LakeCatalog()
    cat.initialize("ambig", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", wh, "jdbc.url", url)))
    // swap in a store whose register INSERT applies and then throws
    val tearing = new PointerStore(url, "ambig") {
      override def register(ns: String, name: String, loc: String): Boolean = {
        super.register(ns, name, loc)
        throw new SQLException("ack lost after insert")
      }
    }
    val f = classOf[LakeCatalog].getDeclaredField("store")
    f.setAccessible(true)
    f.set(cat, tearing)
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("d"), "t")
    val cols = Array(org.apache.spark.sql.connector.catalog.Column.create("k",
      org.apache.spark.sql.types.LongType))
    val t = cat.createTable(ident, cols,
      Array.empty[org.apache.spark.sql.connector.expressions.Transform],
      new java.util.HashMap[String, String]())
    assert(t != null)
    assert(cat.tableExists(ident), "the torn-but-applied register IS the table")
  }

  test("undecidable torn CAS (no discriminating snapshot) escalates, never guesses") {
    val (store, url, base, prevLoc, dir) = setup("e")
    // a property-only commit: same snapshots, nothing to find in history
    val next = base.copy(properties = Map("k" -> "v"))
    val newLoc = TableMeta.write(next, conf)
    val (interloperLoc, _) = attempt(base, dir, "theirs")
    val tearing = new PointerStore(url, "c") {
      override def casUpdate(ns: String, name: String, nl: String, pl: String): Int = {
        super.casUpdate(ns, name, interloperLoc, pl)
        throw new SQLException("torn")
      }
    }
    intercept[CommitStateUnknownException] {
      CasCommit.guardedCas(tearing, "ns", "t", newLoc, prevLoc, None,
        conf, "test", "ns.t")
    }
  }

  // ── the three formerly separate retry loops (VERDICT r9 #5) ────────────
  // ALTER's reload-and-reapply, staged CREATE/REPLACE's register-fallback,
  // and the streaming-epoch replay now share CasCommit.retryLoop and the
  // store's register resolution; tear the JDBC call inside each one.

  test("ALTER: torn CAS that APPLIED resolves to committed — applied exactly once") {
    TestSpark.spark
    val wh = java.nio.file.Files.createTempDirectory("ambalter").toString
    val url = freshUrl("h")
    val cat = new LakeCatalog()
    cat.initialize("ambig", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", wh, "jdbc.url", url)))
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("d"), "t")
    val cols = Array(org.apache.spark.sql.connector.catalog.Column.create("k",
      org.apache.spark.sql.types.LongType))
    cat.createTable(ident, cols,
      Array.empty[org.apache.spark.sql.connector.expressions.Transform],
      new java.util.HashMap[String, String]())
    var casCalls = 0
    cat.store = new PointerStore(url, "ambig") {
      override def casUpdate(ns: String, name: String, nl: String, pl: String): Int = {
        casCalls += 1
        super.casUpdate(ns, name, nl, pl) // APPLIES
        throw new SQLException("connection reset after apply")
      }
    }
    import org.apache.spark.sql.connector.catalog.TableChange
    // AddColumn is the reapply-hostile change: a blind retry of the
    // reload-and-reapply loop would see our own landed ALTER and fail
    // "column already exists"; a bare SQLException would fail an ALTER
    // that landed. The guarded resolution returns success.
    val altered = cat.alterTable(ident,
      TableChange.setProperty("flag", "on"),
      TableChange.addColumn(Array("extra"), org.apache.spark.sql.types.LongType))
    assert(casCalls == 1, "resolution must come from the probe, not a blind retry")
    assert(altered.schema().fieldNames.count(_ == "extra") == 1, "applied exactly once")
    assert(altered.properties().get("flag") == "on")
    // overtaken mid-tear: no discriminating snapshot -> explicit unknown,
    // never a silent reapply
    val (interloperLoc, _) = {
      val cur = TableMeta.read(cat.store.load("d", "t").get, conf)
      attempt(cur, cur.location, "thief")
    }
    cat.store = new PointerStore(url, "ambig") {
      override def casUpdate(ns: String, name: String, nl: String, pl: String): Int = {
        super.casUpdate(ns, name, interloperLoc, pl)
        throw new SQLException("torn, interloper landed")
      }
    }
    intercept[CommitStateUnknownException] {
      cat.alterTable(ident, TableChange.setProperty("x", "y"))
    }
  }

  test("staged CREATE: torn register that APPLIED commits; abort never deletes staged files") {
    val dir = java.nio.file.Files.createTempDirectory("ambstage").toString
    val url = freshUrl("i")
    val store = new PointerStore(url, "c")
    store.initialize()
    // round-trip through disk so the meta carries its IO conf
    val base = TableMeta.read(
      TableMeta.write(TableMeta.empty(dir, schema, Nil, Map.empty), conf), conf)
    val tearing = new PointerStore(url, "c") {
      override def register(ns: String, name: String, loc: String): Boolean = {
        super.register(ns, name, loc) // APPLIES
        throw new SQLException("ack lost after insert")
      }
    }
    val staged = new StagedLakeTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("ns"), "t"),
      "c.ns.t", "ns", "t", base, StageMode.Create, tearing, conf, () => ())
    // stage one real file through the write path
    val fpath = s"$dir/data/staged.parquet"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/data"))
    java.nio.file.Files.write(java.nio.file.Paths.get(fpath), Array[Byte](1, 2, 3))
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = "q"
      override def schema(): StructType = base.schema
      override def options() = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of())
    }
    staged.newWriteBuilder(info).build().toBatch
      .commit(Array(LakeCommitMessage(Seq(file(dir, "staged")))))
    staged.commitStagedChanges() // torn register resolves via the row probe
    assert(store.load("ns", "t").isDefined, "the torn-but-applied register IS the table")
    staged.abortStagedChanges()
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(fpath)),
      "abort after a committed-or-unknown outcome must keep the staged files")
    // undecidable: register AND the probe load both fail -> escalate, keep files
    val url2 = freshUrl("j")
    new PointerStore(url2, "c").initialize()
    val dead = new PointerStore(url2, "c") {
      override def register(ns: String, name: String, loc: String): Boolean =
        throw new SQLException("write timeout")
      override def load(ns: String, name: String): Option[String] =
        throw new SQLException("store unreachable")
    }
    val staged2 = new StagedLakeTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("ns"), "t2"),
      "c.ns.t2", "ns", "t2", base, StageMode.Create, dead, conf, () => ())
    staged2.newWriteBuilder(info).build().toBatch
      .commit(Array(LakeCommitMessage(Seq(file(dir, "staged")))))
    intercept[CommitStateUnknownException] { staged2.commitStagedChanges() }
    staged2.abortStagedChanges()
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(fpath)),
      "an undecidable staged commit must never clean up")
  }

  test("streaming epoch: torn CAS that APPLIED commits once; replay no-ops; abort keeps files") {
    val (store, url, base0, prevLoc, dir) = setup("k")
    val base = TableMeta.read(prevLoc, conf)
    val table = new LakeTable("c.ns.t", "ns", "t", base, prevLoc, store, conf)
    var casCalls = 0
    val tearing = new PointerStore(url, "c") {
      override def casUpdate(ns: String, name: String, nl: String, pl: String): Int = {
        casCalls += 1
        super.casUpdate(ns, name, nl, pl) // APPLIES
        throw new SQLException("ack lost after apply")
      }
    }
    val f5 = file(dir, "e5")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/data"))
    java.nio.file.Files.write(java.nio.file.Paths.get(f5.path), Array[Byte](5))
    val sw = new org.apache.spark.sql.types.StructType(Array(
      org.apache.spark.sql.types.StructField("k", LongType)))
    val writer = new LakeStreamingWrite(table, sw, "q1", tearing, conf)
    writer.commit(5L, Array(LakeCommitMessage(Seq(f5))))
    assert(casCalls == 1, "resolution must come from the probe, not a blind retry")
    val committed = TableMeta.read(store.load("ns", "t").get, conf)
    assert(committed.properties.get("stream.q1.last-epoch").contains("5"))
    assert(committed.currentFiles.map(_.path).contains(f5.path))
    // Spark may still abort a committed epoch (death before the checkpoint
    // marker): the watermark must keep the snapshot's files
    writer.abort(5L, Array(LakeCommitMessage(Seq(f5))))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(f5.path)),
      "abort of a committed epoch must not delete the snapshot's files")
    // restart replays the epoch through a FRESH writer: exactly-once means
    // the replayed duplicate files are dropped and no snapshot is added
    val dup = file(dir, "e5dup")
    java.nio.file.Files.write(java.nio.file.Paths.get(dup.path), Array[Byte](5))
    val snapCount = committed.snapshots.size
    new LakeStreamingWrite(table, sw, "q1", store, conf)
      .commit(5L, Array(LakeCommitMessage(Seq(dup))))
    val after = TableMeta.read(store.load("ns", "t").get, conf)
    assert(after.snapshots.size == snapCount, "replayed epoch must not re-append")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dup.path)),
      "the replay's duplicate files are dropped")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(f5.path)))
  }
}
