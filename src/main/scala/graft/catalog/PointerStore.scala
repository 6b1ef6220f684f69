package graft.catalog

import java.sql.{Connection, DriverManager, PreparedStatement, ResultSet, SQLException,
  SQLIntegrityConstraintViolationException}

/** JDBC pointer store — the exact `iceberg_tables` contract of the
  * reference's Postgres catalog (reference: src/catalog/mod.rs:365-385; the
  * same DDL as Apache Iceberg's public JdbcCatalog). One row per table,
  * holding the current metadata-file pointer; commits move the pointer with
  * a guarded compare-and-swap UPDATE (reference: src/catalog/mod.rs:309-335).
  *
  * Differences from the reference, on purpose:
  *   - every statement is a PreparedStatement (the reference concatenates
  *     SQL strings, e.g. mod.rs:60-80 — an injection anti-pattern);
  *   - ANSI SQL + a tiny dialect shim so embedded Derby (tests) and
  *     Postgres (prod) both work: Derby has no `CREATE TABLE IF NOT EXISTS`
  *     or `ON CONFLICT DO NOTHING`, so bootstrap catches "already exists"
  *     and register catches duplicate-key — same 0/1-row semantics as the
  *     reference's ON CONFLICT insert (mod.rs:252-288);
  *   - a `graft_namespaces` side table backs explicit CREATE/DROP NAMESPACE
  *     (the reference keeps namespaces implicit in table rows only).
  *
  * All access is driver-side and serialized on the single connection —
  * executors never touch JDBC.
  */
// not `final`: crash-recovery tests subclass it to tear the JDBC call at
// exact points (apply-then-throw) — the only sanctioned way to exercise
// CasCommit.guardedCas's ambiguity resolution without a real network
class PointerStore(jdbcUrl: String, catalogName: String,
    connProps: java.util.Properties = new java.util.Properties) extends AutoCloseable {

  // Not a val: Derby (and real JDBC drivers) close the connection when a
  // thread is INTERRUPTED mid-call — e.g. a streaming query's stop()
  // interrupts its micro-batch thread while a trigger's refresh() is inside
  // store.load(). One killed connection must not brick the catalog for
  // every other caller, so each entry point revalidates and reopens. The
  // failing call itself still throws (its thread is being torn down); the
  // NEXT caller heals.
  private var conn: Connection = DriverManager.getConnection(jdbcUrl, connProps)

  private def connection: Connection = {
    if (conn == null || conn.isClosed)
      conn = DriverManager.getConnection(jdbcUrl, connProps)
    conn
  }

  /** Dialect by URL: a `jdbc:postgresql:` store speaks native Postgres
    * (`ON CONFLICT DO NOTHING`, `IF NOT EXISTS` — the reference's exact
    * statements, mod.rs:252-279); everything else gets the ANSI
    * Derby∩Postgres subset with the SQLState dance. Both statement sets
    * are golden-frozen (PointerStoreGoldenSpec), so the prod swap is
    * byte-proven without a live server.
    */
  private val sql: PointerStore.Dialect =
    if (jdbcUrl.startsWith("jdbc:postgresql")) PointerStore.PgSql else PointerStore.Sql

  /** Injected per-statement RTT — emulates a REMOTE catalog database
    * (VERDICT r11 #4: the contention math changes when every CAS costs a
    * network round trip; embedded Derby answers in microseconds). Sleeps
    * while holding the store's monitor, which matches the real shape: one
    * JDBC connection processes one statement at a time anyway.
    */
  private def rtt(): Unit = {
    val ms = PointerStore.injectedLatencyMs.get()
    if (ms > 0L) Thread.sleep(ms)
  }

  /** Idempotent bootstrap, the reference's `initialize` (mod.rs:362-391). */
  def initialize(): Unit = synchronized {
    createIfMissing(sql.CreateIcebergTables)
    createIfMissing(sql.CreateNamespacesTable)
    createIfMissing(sql.CreateLeasesTable)
    createIfMissing(sql.CreateViewsTable)
  }

  private def createIfMissing(ddl: String): Unit = {
    val st = connection.createStatement()
    try st.execute(ddl)
    catch {
      // Derby: X0Y32 "already exists"; Postgres: 42P07 duplicate_table.
      case e: SQLException if e.getSQLState == "X0Y32" || e.getSQLState == "42P07" => ()
    } finally st.close()
  }

  // ── the statement runner ───────────────────────────────────────────────
  // Every statement below goes through `run`: prepare, bind the arguments
  // in order (String or Long), pay the injected RTT, execute, close — under
  // the store's monitor, one statement at a time on the one connection.

  private def run[T](text: String, args: Any*)(execute: PreparedStatement => T): T =
    synchronized {
      val ps = connection.prepareStatement(text)
      try {
        args.zipWithIndex.foreach {
          case (v: String, i) => ps.setString(i + 1, v)
          case (v: Long, i) => ps.setLong(i + 1, v)
          case (v, _) => throw new IllegalArgumentException(s"unbindable argument $v")
        }
        rtt()
        execute(ps)
      } finally ps.close()
    }

  private def update(text: String, args: Any*): Int = run(text, args: _*)(_.executeUpdate())

  private def query[T](text: String, args: Any*)(row: ResultSet => T): Seq[T] =
    run(text, args: _*) { ps =>
      val rs = ps.executeQuery()
      val b = Seq.newBuilder[T]
      while (rs.next()) b += row(rs)
      b.result()
    }

  /** The first row only — a point lookup under the primary key. */
  private def first[T](text: String, args: Any*)(row: ResultSet => T): Option[T] =
    run(text, args: _*) { ps =>
      val rs = ps.executeQuery()
      if (rs.next()) Some(row(rs)) else None
    }

  /** `body`, or `onDuplicate` when the statement hit the primary key —
    * Derby's integrity violation, Postgres' 23505 unique_violation.
    */
  private def unlessDuplicate[T](onDuplicate: T)(body: => T): T =
    try body catch {
      case _: SQLIntegrityConstraintViolationException => onDuplicate
      case e: SQLException if e.getSQLState == "23505" => onDuplicate
    }

  // The table and view statements share one shape per verb (same PK, same
  // CAS guard, same 0/1-row semantics); each verb binds it once here.

  private def names(text: String, namespace: String): Seq[String] =
    query(text, catalogName, namespace)(_.getString(1))

  private def pointer(text: String, namespace: String, name: String): Option[String] =
    first(text, catalogName, namespace, name)(rs => Option(rs.getString(1))).flatten

  private def insertPointer(text: String, namespace: String, name: String, loc: String): Boolean =
    unlessDuplicate(false)(update(text, catalogName, namespace, name, loc) == 1)

  private def casPointer(text: String, namespace: String, name: String, newLocation: String,
      expectedLocation: String): Int =
    update(text, newLocation, expectedLocation, catalogName, namespace, name, expectedLocation)

  private def deletePointer(text: String, namespace: String, name: String): Boolean =
    update(text, catalogName, namespace, name) == 1

  private def renamePointer(text: String, fromNs: String, fromName: String, toNs: String,
      toName: String): PointerStore.RenameResult =
    unlessDuplicate[PointerStore.RenameResult](PointerStore.TargetExists) {
      if (update(text, toNs, toName, catalogName, fromNs, fromName) == 1) PointerStore.Renamed
      else PointerStore.SourceMissing
    }

  /** reference list_tables (mod.rs:56-96). */
  def listTables(namespace: String): Seq[String] = names(sql.ListTables, namespace)

  /** reference table_exists (mod.rs:107-136). */
  def tableExists(namespace: String, name: String): Boolean =
    first(sql.TableExists, catalogName, namespace, name)(_ => ()).isDefined

  /** reference register_table (mod.rs:242-294): conditional INSERT; returns
    * false when the row already exists (the reference's 0-rows ⇒
    * "already exists" path, mod.rs:285-288).
    */
  def register(namespace: String, name: String, metadataLocation: String): Boolean =
    insertPointer(sql.Register, namespace, name, metadataLocation)

  /** reference load_table's pointer lookup (mod.rs:180-235): exactly one row
    * or None — the >1 case is impossible under the PK, matching the
    * reference's invariant check (mod.rs:229-235).
    */
  def load(namespace: String, name: String): Option[String] = pointer(sql.Load, namespace, name)

  /** The commit primitive — reference update_table (mod.rs:296-347), "the
    * single most important 52 lines in the reference": a guarded CAS UPDATE.
    * Returns the updated row count: 1 = committed, 0 = a concurrent commit
    * moved the pointer first (caller refreshes and retries or fails).
    */
  def casUpdate(namespace: String, name: String, newLocation: String,
      expectedLocation: String): Int =
    casPointer(sql.CasUpdate, namespace, name, newLocation, expectedLocation)

  /** reference drop_table (mod.rs:138-175): point DELETE, exactly-one check
    * surfaced as the boolean (0 rows = table didn't exist).
    */
  def drop(namespace: String, name: String): Boolean = deletePointer(sql.Drop, namespace, name)

  /** Not in the reference (listed as a gap in SURVEY §2a): atomic rename.
    * ONE statement — the PK violation, not a check-then-act exists probe,
    * decides "target already exists", so two racing renames to the same
    * target can never both succeed.
    */
  def rename(fromNs: String, fromName: String, toNs: String, toName: String): PointerStore.RenameResult =
    renamePointer(sql.Rename, fromNs, fromName, toNs, toName)

  // ── namespace CRUD (SupportsNamespaces backing) ────────────────────────

  def createNamespace(namespace: String): Boolean =
    unlessDuplicate(false)(update(sql.CreateNamespace, catalogName, namespace) == 1)

  def dropNamespace(namespace: String): Boolean =
    update(sql.DropNamespace, catalogName, namespace) == 1

  /** Namespaces = explicitly created ∪ implied by existing tables (the
    * reference knows only the implied kind).
    */
  def listNamespaces(): Seq[String] =
    query(sql.ListNamespaces, catalogName, catalogName)(_.getString(1)).sorted

  def namespaceExists(namespace: String): Boolean =
    listNamespaces().contains(namespace)

  // ── torn-call resolution for register, rename + namespace CRUD (r11) ───
  // The same ambiguity guardedCas resolves for the pointer CAS exists for
  // every other mutating statement: the JDBC call can throw with the
  // statement already applied server-side. Each resolver probes current
  // state to a DEFINITE outcome within the CasRetry budget. Pointer
  // locations are UUID-unique and never reused, which makes the register
  // and rename probes decisive: a row holding the location only this call
  // could have written can only mean our statement landed.

  /** `call`; if it throws (it may have applied server-side), `probe` decides
    * the outcome instead. A probe that throws [[SQLException]] is retried
    * with backoff; when the budget is spent the outcome is unknown.
    */
  private def resolving[T](what: String)(call: => T)(probe: => T): T = {
    val torn = try return call
    catch { case e: SQLException => e }
    var probes = 0
    while (probes < CasRetry.maxAttempts) {
      probes += 1
      try return probe
      catch { case _: SQLException => CasRetry.backoff(probes) }
    }
    throw new CommitStateUnknownException(
      s"$what: outcome unknown after $probes probes", torn)
  }

  /** [[register]] with torn-call resolution: the row is the discriminator.
    * Present with OUR location = landed; present with another = the
    * ordinary lost race; absent = undecidable (the insert may still be in
    * flight) — escalate rather than let an abort path delete files a
    * landed pointer may reference.
    */
  def registerResolving(namespace: String, name: String, metadataLocation: String): Boolean =
    resolving(s"register $namespace.$name")(register(namespace, name, metadataLocation)) {
      load(namespace, name) match {
        case Some(l) => l == metadataLocation
        case None => throw new CommitStateUnknownException(
          s"register $namespace.$name: outcome unknown (no row after a failed insert)")
      }
    }

  /** [[rename]] with torn-call resolution. Probe ladder on a thrown CAS:
    * target holds the source's old pointer → ours LANDED; target holds
    * anything else → a real conflict (TargetExists — a concurrent ALTER on
    * the just-renamed table inside the probe window, OR an ALTER on the
    * SOURCE between the srcLoc capture and the rename landing, would
    * misread as this, accepted: the failure mode in both windows is a
    * spurious already-exists error after a rename that actually applied,
    * never state corruption; a rename-intent journal row would close both
    * if spurious errors show up in practice); target absent + source
    * present → not applied,
    * re-issue (the PK guard makes the re-issue exactly-once); both absent
    * → the source went away some other way (SourceMissing).
    */
  def renameResolving(fromNs: String, fromName: String,
      toNs: String, toName: String): PointerStore.RenameResult = {
    val srcLoc = load(fromNs, fromName)
    resolving(s"rename $fromNs.$fromName -> $toNs.$toName")(
        rename(fromNs, fromName, toNs, toName)) {
      load(toNs, toName) match {
        case Some(l) if srcLoc.contains(l) => PointerStore.Renamed
        case Some(_) => PointerStore.TargetExists
        case None =>
          if (load(fromNs, fromName).isDefined) rename(fromNs, fromName, toNs, toName)
          else PointerStore.SourceMissing
      }
    }
  }

  /** [[createNamespace]] with torn-call resolution: if the namespace exists
    * when probed, the create is treated as SUCCEEDED — the torn INSERT may
    * well be the row we see, the post-state is identical either way, and
    * erroring "already exists" on one logical create would be wrong more
    * often than this is (documented optimistic resolution). Absent → the
    * INSERT never applied → re-issue (PK-guarded, exactly-once).
    */
  def createNamespaceResolving(namespace: String): Boolean =
    resolving(s"create namespace $namespace")(createNamespace(namespace)) {
      namespaceExists(namespace) || createNamespace(namespace)
    }

  /** [[dropNamespace]] with torn-call resolution: gone when probed →
    * dropped (ours or equivalent), still there → the DELETE never applied,
    * re-issue.
    */
  def dropNamespaceResolving(namespace: String): Boolean = {
    // pre-capture: "gone when probed" only means OUR delete landed if it
    // existed at call start (callers have already emptied the namespace,
    // so the implied-by-tables arm of listNamespaces is quiet here)
    val existedBefore = listNamespaces().contains(namespace)
    resolving(s"drop namespace $namespace")(dropNamespace(namespace)) {
      if (!listNamespaces().contains(namespace)) existedBefore
      else dropNamespace(namespace)
    }
  }

  // ── starvation-escape commit lease (r11; advisory, see CasCommit) ──────
  // The optimistic CAS livelocks once a writer's rebase cycle (reload +
  // metadata rewrite + CAS) exceeds the mean gap between competitors'
  // commits — measured by CommitContentionBench: at 8 sustained writers,
  // commits exhausted all 32 retry attempts. The escape is a TTL'd lease
  // row a starving writer claims; OTHER LOSING writers yield while it is
  // held (winners on their first attempt never look, so the uncontended
  // fast path pays nothing). The lease is ADVISORY — it is never required
  // for the CAS, so every correctness property of the pure-CAS protocol is
  // untouched, and all three methods degrade to a no-op on SQLException
  // (e.g. a store bootstrapped before the lease table existed).

  /** Claim the table's commit lease: fresh INSERT, else steal one whose
    * `acquired_at_ms` is older than the TTL (crashed holder). True = ours.
    */
  def tryAcquireLease(namespace: String, name: String, holder: String,
      nowMs: Long, ttlMs: Long): Boolean =
    unlessDuplicate(false)(
      update(sql.LeaseInsert, catalogName, namespace, name, holder, nowMs) == 1) ||
      update(sql.LeaseSteal, holder, nowMs, catalogName, namespace, name, nowMs - ttlMs) == 1

  /** The current UNEXPIRED lease holder, if any. */
  def peekLease(namespace: String, name: String,
      nowMs: Long, ttlMs: Long): Option[String] =
    first(sql.LeasePeek, catalogName, namespace, name)(rs => (rs.getString(1), rs.getLong(2)))
      .collect { case (holder, at) if at >= nowMs - ttlMs => holder }

  /** Release — guarded by holder id, so a stolen lease is never deleted by
    * the crashed original when it comes back.
    */
  def releaseLease(namespace: String, name: String, holder: String): Unit =
    update(sql.LeaseRelease, catalogName, namespace, name, holder)

  // ── V2 views (r12): the table pointer pattern, verbatim, on
  // iceberg_views — same PK guard, same CAS, same 0/1-row semantics ───────

  def viewList(namespace: String): Seq[String] = names(sql.ViewList, namespace)

  def viewLoad(namespace: String, name: String): Option[String] =
    pointer(sql.ViewLoad, namespace, name)

  def viewRegister(namespace: String, name: String, metadataLocation: String): Boolean =
    insertPointer(sql.ViewRegister, namespace, name, metadataLocation)

  def viewCasUpdate(namespace: String, name: String, newLocation: String,
      expectedLocation: String): Int =
    casPointer(sql.ViewCasUpdate, namespace, name, newLocation, expectedLocation)

  def viewDrop(namespace: String, name: String): Boolean =
    deletePointer(sql.ViewDrop, namespace, name)

  def viewRename(fromNs: String, fromName: String,
      toNs: String, toName: String): PointerStore.RenameResult =
    renamePointer(sql.ViewRename, fromNs, fromName, toNs, toName)

  override def close(): Unit = synchronized { if (conn != null) conn.close() }
}

object PointerStore {
  /** Outcome of the single-statement atomic rename. */
  sealed trait RenameResult
  case object Renamed extends RenameResult
  case object SourceMissing extends RenameResult
  case object TargetExists extends RenameResult

  /** Per-statement injected RTT in ms (0 = off). Set via
    * `GRAFT_JDBC_LATENCY_MS` or directly by benches — emulates a remote
    * Postgres where every statement costs a network round trip.
    */
  val injectedLatencyMs = new java.util.concurrent.atomic.AtomicLong(
    // lenient parse: a malformed value in a static initializer would
    // surface as ExceptionInInitializerError far from the env var — warn
    // and run without injection instead
    sys.env.get("GRAFT_JDBC_LATENCY_MS").map { v =>
      scala.util.Try(v.toLong).getOrElse {
        System.err.println(
          s"[graft] ignoring non-numeric GRAFT_JDBC_LATENCY_MS='$v'")
        0L
      }
    }.getOrElse(0L))

  /** A complete statement set for one SQL dialect. The members hold the
    * ANSI Derby∩Postgres subset ([[Sql]]); [[PgSql]] overrides only the
    * statements where Postgres has a first-class primitive.
    *
    * EVERY SQL string this store ever sends, as named constants — the
    * catalog's complete wire contract (reference: src/catalog/mod.rs §2a).
    * Frozen verbatim in `src/test/resources/pointer_store_sql.golden` and
    * grammar-linted for Postgres compatibility by `PointerStoreGoldenSpec`,
    * so the Derby-only test environment cannot silently drift from the
    * "Postgres in prod" contract. Change a statement ⇒ change the golden
    * file in the same commit, consciously.
    */
  sealed abstract class Dialect {
    val CreateIcebergTables: String =
      """CREATE TABLE iceberg_tables (
        |  catalog_name VARCHAR(255) NOT NULL,
        |  table_namespace VARCHAR(255) NOT NULL,
        |  table_name VARCHAR(255) NOT NULL,
        |  metadata_location VARCHAR(5500),
        |  previous_metadata_location VARCHAR(5500),
        |  PRIMARY KEY (catalog_name, table_namespace, table_name)
        |)""".stripMargin
    val CreateNamespacesTable: String =
      """CREATE TABLE graft_namespaces (
        |  catalog_name VARCHAR(255) NOT NULL,
        |  namespace VARCHAR(255) NOT NULL,
        |  PRIMARY KEY (catalog_name, namespace)
        |)""".stripMargin
    val ListTables: String =
      "SELECT table_name FROM iceberg_tables WHERE catalog_name = ? AND table_namespace = ?"
    val TableExists: String =
      "SELECT 1 FROM iceberg_tables WHERE catalog_name = ? AND table_namespace = ? AND table_name = ?"
    val Register: String =
      """INSERT INTO iceberg_tables
        |  (catalog_name, table_namespace, table_name, metadata_location, previous_metadata_location)
        |  VALUES (?, ?, ?, ?, NULL)""".stripMargin
    val Load: String =
      "SELECT metadata_location FROM iceberg_tables WHERE catalog_name = ? AND table_namespace = ? AND table_name = ?"
    val CasUpdate: String =
      """UPDATE iceberg_tables
        |  SET metadata_location = ?, previous_metadata_location = ?
        |  WHERE catalog_name = ? AND table_namespace = ? AND table_name = ?
        |    AND metadata_location = ?""".stripMargin
    val Drop: String =
      "DELETE FROM iceberg_tables WHERE catalog_name = ? AND table_namespace = ? AND table_name = ?"
    val Rename: String =
      """UPDATE iceberg_tables SET table_namespace = ?, table_name = ?
        |  WHERE catalog_name = ? AND table_namespace = ? AND table_name = ?""".stripMargin
    val CreateNamespace: String =
      "INSERT INTO graft_namespaces (catalog_name, namespace) VALUES (?, ?)"
    val DropNamespace: String =
      "DELETE FROM graft_namespaces WHERE catalog_name = ? AND namespace = ?"
    val ListNamespaces: String =
      """SELECT namespace FROM graft_namespaces WHERE catalog_name = ?
        |UNION
        |SELECT table_namespace FROM iceberg_tables WHERE catalog_name = ?""".stripMargin
    // advisory starvation-escape lease (r11) — BIGINT is deliberate: ANSI,
    // identical semantics in Derby and Postgres, needed for the numeric
    // TTL-expiry guard in lease_steal
    val CreateLeasesTable: String =
      """CREATE TABLE graft_commit_leases (
        |  catalog_name VARCHAR(255) NOT NULL,
        |  table_namespace VARCHAR(255) NOT NULL,
        |  table_name VARCHAR(255) NOT NULL,
        |  holder VARCHAR(255) NOT NULL,
        |  acquired_at_ms BIGINT NOT NULL,
        |  PRIMARY KEY (catalog_name, table_namespace, table_name)
        |)""".stripMargin
    val LeaseInsert: String =
      """INSERT INTO graft_commit_leases
        |  (catalog_name, table_namespace, table_name, holder, acquired_at_ms)
        |  VALUES (?, ?, ?, ?, ?)""".stripMargin
    val LeaseSteal: String =
      """UPDATE graft_commit_leases SET holder = ?, acquired_at_ms = ?
        |  WHERE catalog_name = ? AND table_namespace = ? AND table_name = ?
        |    AND acquired_at_ms < ?""".stripMargin
    val LeasePeek: String =
      """SELECT holder, acquired_at_ms FROM graft_commit_leases
        |  WHERE catalog_name = ? AND table_namespace = ? AND table_name = ?""".stripMargin
    val LeaseRelease: String =
      """DELETE FROM graft_commit_leases
        |  WHERE catalog_name = ? AND table_namespace = ? AND table_name = ? AND holder = ?""".stripMargin
    // V2 views (r12) — the same pointer pattern as tables, on the public
    // iceberg_views schema (Apache Iceberg JdbcCatalog's view table)
    val CreateViewsTable: String =
      """CREATE TABLE iceberg_views (
        |  catalog_name VARCHAR(255) NOT NULL,
        |  view_namespace VARCHAR(255) NOT NULL,
        |  view_name VARCHAR(255) NOT NULL,
        |  metadata_location VARCHAR(5500),
        |  previous_metadata_location VARCHAR(5500),
        |  PRIMARY KEY (catalog_name, view_namespace, view_name)
        |)""".stripMargin
    val ViewList: String =
      "SELECT view_name FROM iceberg_views WHERE catalog_name = ? AND view_namespace = ?"
    val ViewLoad: String =
      "SELECT metadata_location FROM iceberg_views WHERE catalog_name = ? AND view_namespace = ? AND view_name = ?"
    val ViewRegister: String =
      """INSERT INTO iceberg_views
        |  (catalog_name, view_namespace, view_name, metadata_location, previous_metadata_location)
        |  VALUES (?, ?, ?, ?, NULL)""".stripMargin
    val ViewCasUpdate: String =
      """UPDATE iceberg_views
        |  SET metadata_location = ?, previous_metadata_location = ?
        |  WHERE catalog_name = ? AND view_namespace = ? AND view_name = ?
        |    AND metadata_location = ?""".stripMargin
    val ViewDrop: String =
      "DELETE FROM iceberg_views WHERE catalog_name = ? AND view_namespace = ? AND view_name = ?"
    val ViewRename: String =
      """UPDATE iceberg_views SET view_namespace = ?, view_name = ?
        |  WHERE catalog_name = ? AND view_namespace = ? AND view_name = ?""".stripMargin

    /** Name → statement, the golden file's iteration order. */
    final def All: Seq[(String, String)] = Seq(
      "create_iceberg_tables" -> CreateIcebergTables,
      "create_namespaces_table" -> CreateNamespacesTable,
      "list_tables" -> ListTables,
      "table_exists" -> TableExists,
      "register" -> Register,
      "load" -> Load,
      "cas_update" -> CasUpdate,
      "drop" -> Drop,
      "rename" -> Rename,
      "create_namespace" -> CreateNamespace,
      "drop_namespace" -> DropNamespace,
      "list_namespaces" -> ListNamespaces,
      "create_leases_table" -> CreateLeasesTable,
      "lease_insert" -> LeaseInsert,
      "lease_steal" -> LeaseSteal,
      "lease_peek" -> LeasePeek,
      "lease_release" -> LeaseRelease,
      "create_views_table" -> CreateViewsTable,
      "view_list" -> ViewList,
      "view_load" -> ViewLoad,
      "view_register" -> ViewRegister,
      "view_cas_update" -> ViewCasUpdate,
      "view_drop" -> ViewDrop,
      "view_rename" -> ViewRename)
  }

  /** The ANSI Derby∩Postgres statement set, frozen in
    * `pointer_store_sql.golden`.
    */
  object Sql extends Dialect

  /** Native-Postgres statement set (reference: src/catalog/mod.rs:252-279
    * uses `ON CONFLICT DO NOTHING`; mod.rs:365-385 creates with
    * `IF NOT EXISTS`). Only the eight statements where Postgres has a
    * first-class primitive differ — everything else is byte-identical to
    * the ANSI set, so the Derby-tested behavior transfers statement for
    * statement. Frozen in `pointer_store_sql_pg.golden`.
    */
  object PgSql extends Dialect {
    private def ifNotExists(ddl: String): String =
      ddl.replace("CREATE TABLE", "CREATE TABLE IF NOT EXISTS")
    // 0-rows-on-conflict natively — the exact semantics the ANSI set
    // recovers via the 23505 SQLState catch (mod.rs:285-288)
    private def onConflictDoNothing(insert: String): String = insert + " ON CONFLICT DO NOTHING"

    override val CreateIcebergTables: String = ifNotExists(Sql.CreateIcebergTables)
    override val CreateNamespacesTable: String = ifNotExists(Sql.CreateNamespacesTable)
    override val CreateLeasesTable: String = ifNotExists(Sql.CreateLeasesTable)
    override val CreateViewsTable: String = ifNotExists(Sql.CreateViewsTable)
    override val Register: String = onConflictDoNothing(Sql.Register)
    override val CreateNamespace: String = onConflictDoNothing(Sql.CreateNamespace)
    override val LeaseInsert: String = onConflictDoNothing(Sql.LeaseInsert)
    override val ViewRegister: String = onConflictDoNothing(Sql.ViewRegister)
  }
}
