package graft.lake

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The Graft catalog: Spark-native replacement for the reference's
  * Polaris REST catalog + Iceberg metadata + MinIO object store
  * (SURVEY.md §0, §3.1 step 2). The three network hops (Spark→Polaris
  * OAuth2, Polaris→PostgreSQL, Spark→MinIO S3A) collapse into one
  * in-process `TableCatalog` over a warehouse directory:
  *
  * {{{
  *   <warehouse>/<namespace>/<table>/{data/, metadata/}
  * }}}
  *
  * Register with:
  * {{{
  *   spark.sql.catalog.graft           = graft.lake.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  *   spark.sql.defaultCatalog          = graft   // for 2-part names (S2)
  * }}}
  *
  * Covers SURVEY.md §2.2 D1-D15: namespaces (create/list/drop CASCADE),
  * tables (create with identity/days/months/years/bucket partitioning,
  * drop, rename, describe, properties), schema evolution (ADD/DROP COLUMN,
  * property changes) as metadata-only commits, time travel
  * (`VERSION AS OF` → loadTable(ident, version), `TIMESTAMP AS OF` →
  * loadTable(ident, micros)), and `history`/`snapshots`/`files` metadata
  * tables resolved as a 4th name part.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with ProcedureCatalog with FunctionCatalog with ViewCatalog {

  private var catalogName: String = "graft"
  private var warehouse: Path = _

  // ---------- procedures (D13): CALL graft.system.compact('ns.t') ----------

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    Procedures.load(catalogName, warehouse, ident, io)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Procedures.Namespace))
      Procedures.names.map(Identifier.of(Procedures.Namespace, _)).toArray
    else Array.empty

  // ---------- persistent views (ViewCatalog): CREATE VIEW graft.ns.v ----------

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    Views.list(nsPath(ns)).map(Identifier.of(ns, _)).toArray
  }

  override def viewExists(ident: Identifier): Boolean =
    Views.exists(nsPath(ident.namespace()), ident.name())

  override def loadView(ident: Identifier): View = {
    if (!viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    Views.toView(fullName(ident),
      Views.read(nsPath(ident.namespace()), ident.name()))
  }

  private def defOf(info: ViewInfo): ViewDef = ViewDef(
    sql = info.sql(),
    currentCatalog = info.currentCatalog(),
    currentNamespace = info.currentNamespace().toSeq,
    schemaJson = info.schema().json,
    queryColumnNames = info.queryColumnNames().toSeq,
    columnAliases = info.columnAliases().toSeq,
    columnComments = info.columnComments().toSeq,
    properties = {
      import scala.jdk.CollectionConverters._
      info.properties().asScala.toMap
    })

  override def createView(info: ViewInfo): View = {
    val ident = info.ident()
    if (!namespaceExists(ident.namespace()))
      throw new NoSuchNamespaceException(ident.namespace())
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    try Views.write(nsPath(ident.namespace()), ident.name(), defOf(info),
      replace = false)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    }
    loadView(ident)
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    val ident = info.ident()
    if (!orCreate && !viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    Views.write(nsPath(ident.namespace()), ident.name(), defOf(info),
      replace = true)
    loadView(ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    if (!viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    val nsDir = nsPath(ident.namespace())
    var d = Views.read(nsDir, ident.name())
    changes.foreach {
      case sp: ViewChange.SetProperty =>
        d = d.copy(properties = d.properties + (sp.property() -> sp.value()))
      case rp: ViewChange.RemoveProperty =>
        d = d.copy(properties = d.properties - rp.property())
    }
    Views.write(nsDir, ident.name(), d, replace = true)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    Views.drop(nsPath(ident.namespace()), ident.name())

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!viewExists(oldIdent))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent)
    if (viewExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(newIdent)
    Files.move(Views.path(nsPath(oldIdent.namespace()), oldIdent.name()),
      Views.path(nsPath(newIdent.namespace()), newIdent.name()))
  }

  // ---------- SQL functions (§2.10): SELECT graft.system.cosine(a, b) ----------

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    SqlFunctions.load(ident)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Procedures.Namespace))
      SqlFunctions.names.map(Identifier.of(Procedures.Namespace, _)).toArray
    else Array.empty

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Paths.get(
      Option(options.get("warehouse")).getOrElse("/tmp/graft-warehouse"))
    Files.createDirectories(warehouse)
  }

  override def name(): String = catalogName

  // ---------- helpers ----------

  private def nsPath(ns: Array[String]): Path =
    ns.foldLeft(warehouse)((p, e) => p.resolve(e))

  private def tablePath(ident: Identifier): Path =
    nsPath(ident.namespace()).resolve(ident.name())

  /** Storage backend for all catalog + store file operations (the MetaIO
    * seam) — local now; an object-store catalog overrides this one member. */
  protected val io: MetaIO = LocalMetaIO

  private def isTableDir(p: Path): Boolean =
    io.isDirectory(p.resolve("metadata")) ||
      io.isFile(p.resolve(SnapshotStore.ExternalPointer))

  private def store(ident: Identifier): SnapshotStore =
    new SnapshotStore(SnapshotStore.resolveTableDir(tablePath(ident), io),
      io = io)

  /** Store handle for direct metadata operations (frame-sized retraction,
    * probes) — uses this catalog's `io` seam, so object-store subclasses
    * resolve through the same backend as their tables. */
  private[graft] def storeForName(ns: String, table: String): SnapshotStore =
    store(Identifier.of(Array(ns), table))

  // ---------- namespaces (D2-D4) ----------

  // every Files.list/walk below materializes inside try/finally: the
  // returned stream holds an open directory fd until closed (the r12
  // fd-exhaustion fix — see LocalMetaIO.list)
  override def listNamespaces(): Array[Array[String]] =
    if (!Files.isDirectory(warehouse)) Array.empty
    else {
      val s = Files.list(warehouse)
      try s.iterator().asScala
        .filter(p => Files.isDirectory(p) && !isTableDir(p))
        .map(p => Array(p.getFileName.toString))
        .toArray
      finally s.close()
    }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) listNamespaces()
    else {
      if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
      Array.empty // single-level namespaces (like the reference's)
    }
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      (Files.isDirectory(nsPath(namespace)) && !isTableDir(nsPath(namespace)))

  override def loadNamespaceMetadata(
      namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map("location" -> nsPath(namespace).toString).asJava
  }

  override def createNamespace(
      namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    val p = nsPath(namespace)
    if (Files.exists(p)) throw new NamespaceAlreadyExistsException(namespace)
    Files.createDirectories(p)
  }

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    // namespace properties are not persisted beyond location; accept no-ops
  }

  override def dropNamespace(
      namespace: Array[String], cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    if (!namespaceExists(namespace)) return false
    val tables = listTables(namespace)
    if ((tables.nonEmpty || Views.list(p).nonEmpty) && !cascade)
      throw new NonEmptyNamespaceException(namespace)
    tables.foreach(dropTable)
    val s = Files.walk(p)
    val all = try s.iterator().asScala.toSeq finally s.close()
    all.reverse.foreach(Files.deleteIfExists(_))
    true
  }

  // ---------- tables ----------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = nsPath(namespace)
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    if (!Files.isDirectory(p)) Array.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala
        .filter(isTableDir)
        .map(d => Identifier.of(namespace, d.getFileName.toString))
        .toArray
      finally s.close()
    }
  }

  override def tableExists(ident: Identifier): Boolean =
    isTableDir(tablePath(ident))

  /** Resolves real tables AND `t.history` / `t.snapshots` / `t.files`
    * metadata tables (extra trailing name part, SURVEY.md §2 S4-S5). */
  /** Column DEFAULT values (D12 family): Spark encodes them as
    * CURRENT_DEFAULT / EXISTS_DEFAULT field metadata, which rides the
    * snapshot's schema JSON unchanged; readers fill EXISTS_DEFAULT for
    * files written before the column existed (instead of null). */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_TABLE_CONSTRAINT,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  override def loadTable(ident: Identifier): Table = {
    if (tableExists(ident)) {
      new GraftTable(fullName(ident), store(ident))
    } else if (ident.namespace().length >= 1 &&
        MetadataTables.names.contains(ident.name())) {
      val base = Identifier.of(
        ident.namespace().dropRight(1), ident.namespace().last)
      if (tableExists(base))
        MetadataTables.build(fullName(base), ident.name(), store(base))
      else throw new NoSuchTableException(ident)
    } else if (ident.namespace().length >= 1 &&
        ident.name().startsWith("branch_")) {
      // `t.branch_<name>`: reads AND writes against the branch's chain
      // (Iceberg's branch identifier spelling). Data dir is shared; only
      // metadata forks.
      val base = Identifier.of(
        ident.namespace().dropRight(1), ident.namespace().last)
      val bname = ident.name().stripPrefix("branch_")
      if (tableExists(base)) {
        val bst = store(base).branchStore(bname)
        if (!bst.exists) throw new NoSuchTableException(ident)
        new GraftTable(s"${fullName(base)}.branch_$bname", bst)
      } else throw new NoSuchTableException(ident)
    } else throw new NoSuchTableException(ident)
  }

  /** Time travel: `VERSION AS OF <n>` (S6); strings resolve tags first,
    * then branch heads (`VERSION AS OF 'audit'` reads branch `audit`
    * pinned at its current head). */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val st = store(ident)
    scala.util.Try(version.toLong).toOption.orElse(st.refs().get(version)) match {
      case None if st.listBranches().contains(version) =>
        val bst = st.branchStore(version)
        return new GraftTable(s"${fullName(ident)}@$version", bst,
          pinned = bst.head())
      case _ =>
    }
    // numeric → snapshot version; anything else → named ref (tag)
    val v = scala.util.Try(version.toLong).toOption
      .orElse(st.refs().get(version))
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot version, tag, or branch '$version' for ${fullName(ident)}"))
    if (!st.listVersions().contains(v))
      throw new IllegalArgumentException(
        s"no snapshot v$v for ${fullName(ident)}")
    new GraftTable(fullName(ident), st, pinned = Some(st.read(v)))
  }

  /** Time travel: `TIMESTAMP AS OF <ts>` (S7, micros since epoch). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val st = store(ident)
    val snap = st.asOfTimestamp(timestamp / 1000).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot at or before timestamp $timestamp for ${fullName(ident)}"))
    new GraftTable(fullName(ident), st, pinned = Some(snap))
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    createTableImpl(ident, schema, partitions, properties, Map.empty)

  /** GENERATED ALWAYS AS columns arrive only on the v2 `Column[]` create
    * path — capture the generation expressions, then share the normal
    * create. `CREATE TABLE (..., y INT GENERATED ALWAYS AS (year(day)))
    * PARTITIONED BY (y)` is the clean spelling of the reference's
    * derived-partitioning intent (`warehouse_helpers.py:48`,
    * SURVEY.md §2.11.2). */
  override def createTable(
      ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val generated = columns.collect {
      case c if c.generationExpression() != null =>
        c.name() -> c.generationExpression()
    }.toMap
    val identity = columns.collect {
      case c if c.identityColumnSpec() != null =>
        val s = c.identityColumnSpec()
        c.name() -> IdentityCol(s.getStart, s.getStep, s.isAllowExplicitInsert)
    }.toMap
    val schema = org.apache.spark.sql.graftbridge.ColumnBridge
      .columnsToStructType(columns)
    createTableImpl(ident, schema, partitions, properties, generated, identity)
  }

  private def createTableImpl(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String],
      generated: Map[String, String],
      identity: Map[String, IdentityCol] = Map.empty): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (viewExists(ident)) throw new TableAlreadyExistsException(ident)
    if (ident.namespace().nonEmpty && !namespaceExists(ident.namespace()))
      throw new NoSuchNamespaceException(ident.namespace())
    val spec = PartitionTransforms.fromTransforms(partitions)
    spec.foreach { f =>
      require(schema.fieldNames.contains(f.source),
        s"partition source column ${f.source} not in schema")
    }
    // Path-addressed EXTERNAL table (`LOCATION '...'` / a `path` option —
    // the reference writes with .option("path", "s3a://...") in
    // warehouse_helpers.py:110; SURVEY §2.11.4): data+metadata live at the
    // given directory, and the warehouse home holds only a pointer file so
    // listing/rename keep working. DROP unregisters and leaves the
    // external tree in place (EXTERNAL-table semantics).
    val SchemePat = "^([a-zA-Z][a-zA-Z0-9+.-]*)://.*".r
    val external: Option[Path] = Seq("location", "path", "option.path")
      .flatMap(k => Option(properties.get(k))).headOption
      .map { loc =>
        val raw = loc match {
          case l if l.startsWith("file:") =>
            scala.util.Try(new java.net.URI(l).getPath).toOption
              .filter(_ != null)
              .getOrElse(l.stripPrefix("file://").stripPrefix("file:"))
          case SchemePat(scheme) =>
            // Paths.get("s3a://b/t") would silently become a LOCAL dir
            // named "s3a:" — refuse anything this backend can't serve
            throw new UnsupportedOperationException(
              s"LOCATION scheme '$scheme://' is not supported by this " +
                "catalog's storage backend (local filesystem); use a " +
                "plain or file:// path, or configure an object-store MetaIO")
          case l => l
        }
        Paths.get(raw).toAbsolutePath
      }
    val st = external match {
      case Some(dir) =>
        require(!new SnapshotStore(dir, io = io).exists,
          s"external location $dir already holds a graft table " +
            "(drop it or point at an empty directory)")
        val home = tablePath(ident)
        io.mkdirs(home)
        io.replaceAtomic(home.resolve(SnapshotStore.ExternalPointer),
          dir.toString)
        new SnapshotStore(dir, io = io)
      case None => store(ident)
    }
    st.init()
    val props = properties.asScala.toMap --
      Seq("provider", "owner", "location", "path", "option.path") ++
      external.map(d => "location" -> d.toString)
    st.commit { _ =>
      Snapshot(
        version = 1L, parentVersion = None,
        timestampMs = System.currentTimeMillis(),
        operation = "create",
        schemaJson = schema.json,
        partitionSpec = spec,
        properties = props,
        files = Seq.empty,
        summary = Map("total-records" -> "0", "total-files" -> "0"),
        generated = generated,
        identity = identity)
    }
    new GraftTable(fullName(ident), st)
  }

  /** Schema evolution as metadata-only snapshot commits (D12,
    * `README.md:132-133`: add/drop columns without rewriting files; old
    * files null-fill on read). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val st = store(ident)
    st.commit { prevOpt =>
      val prev = prevOpt.getOrElse(throw new NoSuchTableException(ident))
      var schema = prev.schema
      var props = prev.properties
      var checks = prev.checks
      var identity = prev.identity
      var generated = prev.generated
      changes.foreach {
        case ac: TableChange.AddConstraint =>
          ac.constraint() match {
            case ch: org.apache.spark.sql.connector.catalog.constraints.Check =>
              require(!checks.contains(ch.name()),
                s"constraint '${ch.name()}' already exists")
              // validate EXISTING data: a row where the predicate is
              // FALSE violates (NULL passes, per SQL CHECK semantics)
              val spark = org.apache.spark.sql.SparkSession.active
              if (prev.files.nonEmpty) {
                val bad = GraftTable.liveRows(spark, st, prev, prev.files)
                  .filter(org.apache.spark.sql.functions.not(
                    org.apache.spark.sql.functions.coalesce(
                      org.apache.spark.sql.functions.expr(ch.predicateSql()),
                      org.apache.spark.sql.functions.lit(true))))
                require(bad.isEmpty,
                  s"cannot add CHECK constraint '${ch.name()}': existing " +
                    s"rows violate (${ch.predicateSql()})")
              }
              checks = checks + (ch.name() -> ch.predicateSql())
            case other => throw new UnsupportedOperationException(
              s"only CHECK constraints are enforced; ${other.toDDL} is not " +
                "(UNIQUE/PK/FK need global state a single write cannot see)")
          }
        case dc: TableChange.DropConstraint =>
          if (!checks.contains(dc.name()) && !dc.ifExists())
            throw new IllegalArgumentException(s"no constraint '${dc.name()}'")
          checks = checks - dc.name()
        case add: TableChange.AddColumn =>
          val path = add.fieldNames().toSeq
          if (path.length > 1) {
            // nested fields have no physical-name indirection: re-adding a
            // dropped subfield would resurrect its old values from
            // existing files (or crash on a type change) — reject
            val headPhys = schema.fields.find(_.name == path.head)
              .map(SchemaNames.physicalName).getOrElse(path.head)
            val key = (headPhys +: path.tail).mkString(".")
            require(!retiredSet(props).contains(key),
              s"cannot re-add dropped nested field ${path.mkString(".")}: " +
                "old files still hold its values (requires a table rewrite)")
          }
          schema = editStructAt(schema, path.init) { st =>
            require(!st.fieldNames.contains(path.last),
              s"column ${path.mkString(".")} already exists")
            var grown = st.add(path.last, add.dataType(), nullable = true,
              Option(add.comment()).getOrElse(""))
            // ADD COLUMN ... DEFAULT <expr>: stamp Spark's default-value
            // metadata keys; EXISTS_DEFAULT makes readers fill this value
            // (not null) for rows in files that predate the column
            Option(add.defaultValue()).foreach { dv =>
              val idx = grown.length - 1
              val f = grown.fields(idx)
              // EXISTS_DEFAULT must be the value FOLDED AT ALTER TIME (the
              // analyzer ships it as the V2 literal): stamping the raw SQL
              // would re-evaluate e.g. current_date() on every later read,
              // so pre-column rows would drift day by day
              val existsSql = Option(dv.getValue)
                .map(lv => org.apache.spark.sql.catalyst.expressions
                  .Literal(lv.value, lv.dataType).sql)
                .getOrElse(dv.getSql)
              val m = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putString("CURRENT_DEFAULT", dv.getSql)
                .putString("EXISTS_DEFAULT", existsSql)
                .build()
              grown = StructType(grown.fields.updated(idx, f.copy(metadata = m)))
            }
            // a retired physical name — renamed away OR dropped earlier —
            // may equal the new logical name; the new column must get a
            // FRESH physical name or old files would leak values into it
            val taken = st.fields.map(SchemaNames.physicalName).toSet ++
              retiredSet(props)
            if (path.init.isEmpty && taken.contains(path.last)) {
              val idx = grown.length - 1
              StructType(grown.fields.updated(idx,
                SchemaNames.withPhysical(grown.fields(idx),
                  s"${path.last}_${java.util.UUID.randomUUID().toString.take(8)}")))
            } else grown
          }
        case rn: TableChange.RenameColumn =>
          val path = rn.fieldNames().toSeq
          require(path.length == 1,
            "nested column rename not supported")
          // generation expressions and CHECK predicates are stored as SQL
          // over LOGICAL names — a rename would silently break them (the
          // next write/validation would fail analysis); refuse instead.
          // Identity specs are just keyed by name, so the key renames.
          // Guards read the ACCUMULATED vars, not `prev`: a batched
          // rename+drop in one alterTable call must see its own effects.
          require(!sqlReferences(path.head,
              generated.values ++ checks.values),
            s"cannot rename ${path.head}: referenced by a GENERATED " +
              "column expression or CHECK constraint — drop those first")
          require(!generated.contains(path.head),
            s"cannot rename GENERATED column ${path.head} " +
              "(stored generation expressions are keyed by name)")
          if (identity.contains(path.head))
            identity = identity - path.head +
              (rn.newName() -> identity(path.head))
          schema = editStructAt(schema, Seq.empty) { st =>
            require(st.fieldNames.contains(path.head), s"no column ${path.head}")
            require(!st.fieldNames.contains(rn.newName()),
              s"column ${rn.newName()} already exists")
            val idx = st.fieldIndex(path.head)
            val f = st.fields(idx)
            // logical rename only: pin the current physical name (the one
            // every data file uses) into metadata, swap the visible name
            StructType(st.fields.updated(idx,
              SchemaNames.withPhysical(f, SchemaNames.physicalName(f))
                .copy(name = rn.newName())))
          }
        case del: TableChange.DeleteColumn =>
          val path = del.fieldNames().toSeq
          // spec.source holds the PHYSICAL name; the user addresses the
          // logical one — resolve before guarding, or a rename would let
          // the partition source be dropped
          val delPhys = schema.fields.find(_.name == path.head)
            .map(SchemaNames.physicalName).getOrElse(path.head)
          require(!prev.partitionSpec.exists(_.source == delPhys),
            s"cannot drop partition source column ${path.head}")
          // pending equality deletes are keyed by this physical name —
          // dropping it would make EVERY read (and rewrite_deletes itself)
          // throw, bricking the table; refuse up front instead
          require(!prev.deleteFiles.exists(d =>
              d.kind == "equality" && d.equalityColumns.contains(delPhys)),
            s"cannot drop column ${path.head}: pending equality deletes " +
              "are keyed by it — run CALL <cat>.system.rewrite_deletes " +
              "first")
          // same bricking class for the write-time machinery: a stale
          // identity/generated entry or a CHECK referencing a dropped
          // column (top-level OR nested, by its dotted path) fails EVERY
          // later insert at analysis. Accumulated vars, not `prev` —
          // see the rename guard.
          require(path.length > 1 || !identity.contains(path.head),
            s"cannot drop IDENTITY column ${path.head}")
          require(path.length > 1 || !generated.contains(path.head),
            s"cannot drop GENERATED column ${path.head}")
          require(!sqlReferences(path.mkString("."),
              generated.values ++ checks.values),
            s"cannot drop ${path.mkString(".")}: referenced by a GENERATED " +
              "column expression or CHECK constraint — drop those first")
          schema = editStructAt(schema, path.init) { st =>
            require(st.fieldNames.contains(path.last),
              s"no column ${path.mkString(".")}")
            StructType(st.fields.filterNot(_.name == path.last))
          }
          // remember the dropped column's file-level name: old data files
          // still carry its values, so that name must never be re-issued
          // (top level gets a fresh physical name; nested re-adds are
          // rejected — see AddColumn)
          val retiredKey = (delPhys +: path.tail).mkString(".")
          props = props + (RetiredKey ->
            (retiredSet(props) + retiredKey).toSeq.sorted.mkString(","))
        case un: TableChange.UpdateColumnNullability =>
          // relaxing to nullable is metadata-only; SET NOT NULL would
          // need a full-table scan to prove no existing nulls — rejected
          require(un.nullable(), "SET NOT NULL is not supported " +
            "(existing data cannot be proven null-free without a scan)")
          val path = un.fieldNames().toSeq
          schema = editStructAt(schema, path.init) { st =>
            val idx = st.fieldIndex(path.last)
            StructType(st.fields.updated(idx,
              st.fields(idx).copy(nullable = true)))
          }
        case ut: TableChange.UpdateColumnType =>
          val path = ut.fieldNames().toSeq
          // bucket hashes differ between int and long inputs; identity
          // string forms can drift too — never retype a partition source
          // (resolved to its physical name: that is what spec.source holds)
          val utPhys = schema.fields.find(_.name == path.head)
            .map(SchemaNames.physicalName).getOrElse(path.head)
          require(!prev.partitionSpec.exists(_.source == utPhys),
            s"cannot retype partition source column ${path.head}")
          schema = editStructAt(schema, path.init) { st =>
            val idx = st.fieldIndex(path.last)
            val f = st.fields(idx)
            require(isWidening(f.dataType, ut.newDataType()),
              s"only widening type changes are supported: " +
                s"${f.dataType.simpleString} -> ${ut.newDataType().simpleString}")
            StructType(st.fields.updated(idx,
              f.copy(dataType = ut.newDataType())))
          }
        case sp: TableChange.SetProperty =>
          props = props + (sp.property() -> sp.value())
        case rp: TableChange.RemoveProperty =>
          props = props - rp.property()
        case c: TableChange.UpdateColumnComment => // metadata-only, accept
        case other =>
          throw new UnsupportedOperationException(
            s"table change ${other.getClass.getSimpleName} not supported " +
              "(column rename/retype requires field-id tracking)")
      }
      prev.copy(
        timestampMs = System.currentTimeMillis(),
        operation = "evolve",
        schemaJson = schema.json,
        properties = props,
        checks = checks,
        identity = identity,
        summary = Map("changes" -> changes.size.toString))
    }
    new GraftTable(fullName(ident), st)
  }

  /** Conservative word-boundary test: does any stored SQL fragment
    * (generation expression, CHECK predicate) mention `col`? Used to
    * refuse DROP/RENAME that would break stored SQL — a false positive
    * only forces the user to drop the constraint first, never data loss. */
  private def sqlReferences(col: String, sqls: Iterable[String]): Boolean = {
    val p = ("(?i)\\b" + java.util.regex.Pattern.quote(col) + "\\b").r
    sqls.exists(s => p.findFirstIn(s).isDefined)
  }

  /** Apply `edit` to the struct at `parent` (a TableChange field path:
    * struct fields by name, plus Spark's `element` / `key` / `value`
    * markers through arrays and maps). Old files null-fill the added
    * nested fields on read — both the vectorized path (Spark's nested
    * schema clipping) and the COW rewrite reader (name-based struct field
    * lookup) already handle absent subfields. */
  private def editStructAt(dt: DataType, parent: Seq[String])(
      edit: StructType => StructType): StructType =
    editAt(dt, parent)(edit).asInstanceOf[StructType]

  /** Table property holding file-level column names that must never be
    * re-issued (dropped or renamed-away columns whose values still exist
    * in data files). */
  private val RetiredKey = "graft.retired-columns"

  private def retiredSet(props: Map[String, String]): Set[String] =
    props.get(RetiredKey).map(_.split(',').filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** Type changes old files can serve without rewrite: every value of the
    * old type is exactly representable in the new one, and the readers
    * up-convert from the file's physical type (vectorized reader via
    * Spark's widening support; COW reader via physical-type dispatch). */
  private def isWidening(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (a, b) if a == b => true
      case (org.apache.spark.sql.types.ByteType |
            org.apache.spark.sql.types.ShortType,
            org.apache.spark.sql.types.IntegerType) => true
      case (org.apache.spark.sql.types.ByteType |
            org.apache.spark.sql.types.ShortType |
            org.apache.spark.sql.types.IntegerType,
            org.apache.spark.sql.types.LongType) => true
      case (org.apache.spark.sql.types.FloatType,
            org.apache.spark.sql.types.DoubleType) => true
      case (a: org.apache.spark.sql.types.DecimalType,
            b: org.apache.spark.sql.types.DecimalType) =>
        b.scale == a.scale && b.precision >= a.precision
      case _ => false
    }

  private def editAt(dt: DataType, parent: Seq[String])(
      edit: StructType => StructType): DataType =
    (dt, parent.headOption) match {
      case (st: StructType, None) => edit(st)
      case (st: StructType, Some(name)) if st.fieldNames.contains(name) =>
        val idx = st.fieldIndex(name)
        val f = st.fields(idx)
        StructType(st.fields.updated(idx,
          f.copy(dataType = editAt(f.dataType, parent.tail)(edit))))
      case (ar: ArrayType, Some("element")) =>
        ar.copy(elementType = editAt(ar.elementType, parent.tail)(edit))
      case (mp: MapType, Some("key")) =>
        mp.copy(keyType = editAt(mp.keyType, parent.tail)(edit))
      case (mp: MapType, Some("value")) =>
        mp.copy(valueType = editAt(mp.valueType, parent.tail)(edit))
      case _ =>
        throw new IllegalArgumentException(
          s"no struct at ${parent.mkString(".")} in ${dt.simpleString}")
    }

  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) false
    else {
      val home = tablePath(ident)
      if (io.isFile(home.resolve(SnapshotStore.ExternalPointer))) {
        // external table: unregister only — the external tree is
        // user-managed (standard EXTERNAL semantics)
        io.deleteTree(home)
      } else store(ident).drop()
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    Files.move(tablePath(oldIdent), tablePath(newIdent))
  }

  private def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace() :+ ident.name()).mkString(".")
}
