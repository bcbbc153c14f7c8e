package graft.lake

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.functions.{coalesce, lit, not => fnot}
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A snapshot-versioned, hidden-partitioned lakehouse table on Spark's
  * DSv2 connector surface (SURVEY.md §2 S1-S11, D6-D13, §3).
  *
  * Read path: DSv2 `ScanBuilder` performs filter+column pushdown, then
  * [[LakeScan]] prunes files by snapshot stats and reads them with
  * Spark's parquet reader — packed and vectorized when no delete applies
  * to a planned file, whole files with deletes applied inside the reader
  * otherwise. Schema evolution null-fill falls out of reading with the
  * snapshot's explicit schema.
  *
  * Write path: `V1Write` → staged parquet + stats + atomic snapshot commit
  * (GraftWriter). DELETE is copy-on-write over only the files whose stats
  * say they might match (SupportsDelete).
  *
  * @param pinned for time travel: the snapshot this handle is fixed at
  *               (None = always read the current head at scan time)
  * @param fileSubset `pinned` holds only some of its version's files
  *               ([[GraftTable.liveRows]]): nothing is answered from
  *               whole-table metadata
  */
class GraftTable(
    tableName: String,
    val store: SnapshotStore,
    pinned: Option[Snapshot] = None,
    fileSubset: Boolean = false)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with SupportsRowLevelOperations with SupportsMetadataColumns {

  /** Iceberg-style `_file` / `_pos` metadata columns: `SELECT _file, t.*
    * FROM t` exposes data-file provenance (debugging, targeted
    * compaction); `_pos` is the row's 0-based position in that file, the
    * identity a merge-on-read DELETE records. */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    GraftTable.FileCol -> org.apache.spark.sql.types.StringType,
    GraftTable.PosCol -> org.apache.spark.sql.types.LongType).map {
    case (n, t) => new MetadataColumn {
      override def name(): String = n
      override def dataType(): org.apache.spark.sql.types.DataType = t
      override def isNullable: Boolean = false
      override def comment(): String =
        if (n == GraftTable.FileCol) "path of the data file the row lives in"
        else "0-based position of the row within its data file"
    }
  }

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new GraftRowLevelOperationBuilder(store, info)

  /** Enforced CHECK constraints — Spark's analyzer wraps every write to
    * this table (INSERT, UPDATE, MERGE) with validation from these. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    snapshot.checks.toSeq.sortBy(_._1).map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(sql).build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  def snapshot: Snapshot = pinned.orElse(store.head()).getOrElse(
    throw new IllegalStateException(s"no snapshot for $tableName"))

  override def name(): String = tableName
  override def schema(): StructType = snapshot.schema
  override def partitioning(): Array[Transform] =
    PartitionTransforms.toTransforms(snapshot.partitionSpec)
  override def properties(): java.util.Map[String, String] = {
    val s = snapshot
    val base = Map(
      "provider" -> "graft",
      "format" -> "parquet",
      "current-version" -> s.version.toString,
      "total-files" -> s.fileCount.toString,
      "total-records" -> s.totalRows.toString) ++ s.properties
    base.asJava
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      // BATCH_WRITE satisfies the analyzer's capability check for
      // OverwritePartitionsDynamic (which has no V1 fallback exec);
      // append/truncate/filter-overwrite still route through the V1
      // bridge because build() returns a V1Write for those.
      TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(snapshot, store, StreamReadLimits.fromOptions(options),
      fileSubset)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(store)

  // ---- DELETE FROM t WHERE ... (copy-on-write, stats-scoped) ----
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    FilterTranslate.conjunction(filters.toSeq).isDefined || filters.isEmpty

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    val s = snapshot
    val renameM = SchemaNames.renameMap(s.schema)
    val physFilters = filters.map(SchemaNames.renameFilter(_, renameM))
    val (touched, untouched) = s.files.partition(f =>
      physFilters.forall(StatsPruner.mightMatch(f, _, s.partitionSpec)))
    val cond = FilterTranslate.conjunction(filters.toSeq)
      .getOrElse(throw new UnsupportedOperationException(
        s"untranslatable delete condition: ${filters.mkString(", ")}"))
    if (s.properties.getOrElse("graft.delete-mode", "copy-on-write")
        == "merge-on-read") {
      // Fastest path: a pure-equality condition (k = v [AND ...] or
      // k IN (...)) commits as an EQUALITY delete file — key values only,
      // NO scan of any data file. O(keys) regardless of table size; the
      // read side resolves matches under sequence ordering.
      equalityDeleteKeys(filters, s.schema) match {
        case Some((physCols, keysDf)) =>
          val newDeletes = PositionDeletes.writeEqualityDeleteFiles(
            spark, store, keysDf, physCols)
          val fp = Conflicts.Footprint(s, deletesAdded = newDeletes,
            filter = Some(physFilters.toSeq))
          store.commit { prev =>
            Conflicts.rebase(store, "DELETE", prev.getOrElse(s), fp).copy(
              operation = "delete",
              summary = Map(
                "delete-mode" -> "merge-on-read",
                "delete-kind" -> "equality",
                "added-delete-files" -> newDeletes.size.toString,
                "equality-delete-keys" ->
                  newDeletes.map(_.rowCount).sum.toString))
          }
          return
        case None => // fall through to the positional path
      }
      // Merge-on-read: OR the positions of the matching rows into each hit
      // file's deletion vector; data files stay untouched. Cost scales
      // with the MATCHES, not the table — the 100 TB DELETE shape.
      val live = PositionDeletes.vectors(s)
      val newDeletes: Seq[DeleteFile] =
        if (touched.isEmpty) Seq.empty
        else {
          // only LIVE rows match, so a new position is never one the file's
          // vector already holds (keeps totalRows exact). MOR records rows
          // where cond IS TRUE (the complement of COW's keep-set):
          // NULL-evaluating rows are not deleted.
          val hits = GraftTable.liveRows(spark, store, s, touched,
              provenance = true)
            .filter(coalesce(cond, lit(false)))
          DeletionVectors.write(spark, store, touched, hits, live)
        }
      // each new vector replaces its file's previous one; the vectors name
      // rows of `touched`: those files must stay live, and no concurrent
      // delete may have reached them first
      val replaced = newDeletes.flatMap(d => live.get(d.referencedDataFile.get))
      val fp = Conflicts.Footprint(s, read = touched, deletesRemoved = replaced,
        deletesAdded = newDeletes, filter = Some(physFilters.toSeq))
      store.commit { prev =>
        val next = Conflicts.rebase(store, "DELETE", prev.getOrElse(s), fp)
        next.copy(
          operation = "delete",
          summary = Map(
            "delete-mode" -> "merge-on-read",
            "added-delete-files" -> newDeletes.size.toString,
            "added-position-deletes" ->
              (newDeletes.map(_.rowCount).sum - replaced.map(_.rowCount).sum).toString,
            "total-records" -> next.totalRows.toString))
      }
      return
    }
    val rewritten: Seq[DataFile] =
      if (touched.isEmpty) Seq.empty
      else {
        // SQL DELETE removes only rows where cond IS TRUE; rows where it
        // evaluates NULL (e.g. `c = 5` on a NULL c) must be KEPT. Pending
        // MOR deletes on the touched files are folded into the rewrite
        // (the kept rows are the LIVE complement of the condition).
        val kept = GraftTable.liveRows(spark, store, s, touched)
          .filter(fnot(coalesce(cond, lit(false))))
        GraftWriter.writeFiles(spark, store, s, kept)
      }
    // drop vectors of the rewritten files (folded in above)
    val fp = Conflicts.Footprint(s, read = touched, replaced = touched,
        added = rewritten, filter = Some(physFilters.toSeq))
      .retaining(PositionDeletes.retain(s.deleteFiles, untouched, touched))
    store.commit { prev =>
      val next = Conflicts.rebase(store, "DELETE", prev.getOrElse(s), fp)
      next.copy(
        operation = "delete",
        summary = Map(
          "deleted-candidate-files" -> touched.size.toString,
          "rewritten-files" -> rewritten.size.toString,
          "total-records" -> next.totalRows.toString))
    }
  }

  /** Translate a DELETE condition into equality-delete keys when it is a
    * conjunction of `col = literal` (one row over several columns) or a
    * single `col IN (literals)` (one row per value). Nulls disqualify:
    * `c = NULL` matches nothing in SQL, and equality tuples are non-null
    * by contract. Returns (physical column names, key rows). */
  private def equalityDeleteKeys(
      filters: Array[Filter],
      schema: StructType): Option[(Seq[String], DataFrame)] = {
    import org.apache.spark.sql.{Row => SRow}
    import scala.jdk.CollectionConverters._
    def fieldOf(name: String) = schema.fields.find(_.name == name)
    val flat = filters.flatMap {
      case org.apache.spark.sql.sources.And(l, r) => Seq(l, r)
      case f => Seq(f)
    }
    // single IN: one row per value
    flat match {
      case Array(org.apache.spark.sql.sources.In(a, vs))
          if vs.nonEmpty && vs.forall(_ != null) && fieldOf(a).isDefined =>
        val f = fieldOf(a).get
        val phys = SchemaNames.physicalName(f)
        val rows: Seq[SRow] = vs.toIndexedSeq.map(v => SRow(v))
        val df = SparkSession.active.createDataFrame(rows.asJava,
          StructType(Seq(f.copy(name = phys))))
        return Some(Seq(phys) -> df)
      case _ =>
    }
    // conjunction of EqualTo over distinct columns: one multi-column row
    val eqs = flat.collect {
      case org.apache.spark.sql.sources.EqualTo(a, v)
          if v != null && fieldOf(a).isDefined => (a, v)
    }
    if (eqs.length != flat.length || eqs.isEmpty ||
        eqs.map(_._1).distinct.length != eqs.length) return None
    val fields = eqs.map { case (a, _) =>
      val f = fieldOf(a).get
      f.copy(name = SchemaNames.physicalName(f))
    }
    val df = SparkSession.active.createDataFrame(
      Seq(SRow(eqs.map(_._2).toIndexedSeq: _*)).asJava,
      StructType(fields.toIndexedSeq))
    Some(fields.map(_.name).toSeq -> df)
  }

  override def toString: String = s"GraftTable($tableName)"
}

object GraftTable {

  /** Metadata columns a scan synthesizes per row. */
  val FileCol = "_file"
  val PosCol = "_pos"
  val Synthetic: Set[String] = Set(FileCol, PosCol)

  /** LIVE rows of `files` (taken from `snap`) under `snap`'s deletes: a
    * DataFrame over the one table scan ([[LakeScan]]) on `snap` pinned to
    * that file subset — the one way engine code (row-level rewrites,
    * maintenance, constraint checks, incremental views, streaming dedup,
    * CDC) reads which rows are live. `schema` overrides the read schema
    * (CDC reads every version under the range's end schema);
    * `provenance` adds `_file` (absolute data-file path) and `_pos` (the
    * row's position in it). */
  def liveRows(spark: SparkSession, store: SnapshotStore, snap: Snapshot,
      files: Seq[DataFile], schema: StructType = null,
      provenance: Boolean = false): DataFrame = {
    // manifests cleared: the refs describe the FULL list (Snapshot
    // invariant), and every refs-aware consumer must see only the subset
    val pinned = snap.copy(files = files, manifests = Seq.empty,
      schemaJson = Option(schema).fold(snap.schemaJson)(_.json))
    org.apache.spark.sql.graftbridge.RddFrameBridge.tableFrame(spark,
      new GraftTable(store.tableDir.toString, store, Some(pinned),
        fileSubset = true),
      withMetadata = provenance)
  }
}

/** DSv2 pushdown: collects filters (for file pruning + re-push into the
  * parquet read) and the required column subset. Only exact identity
  * filters are reported as fully pushed, so Spark keeps the Filter node
  * for the rest — pruning stays a pure optimization there. With
  * `fileSubset` (a snapshot pinned to some of its files) LIMIT and
  * aggregates are never answered from metadata: file row counts and
  * delete counts describe the whole version. */
class GraftScanBuilder(snapshot: Snapshot, store: SnapshotStore,
    streamLimits: StreamReadLimits = StreamReadLimits(),
    fileSubset: Boolean = false)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  private var required: StructType = snapshot.schema
  private var filters: Array[Filter] = Array.empty
  private var aggPushed: Option[(StructType, Array[Array[Any]])] = None
  private var limit: Option[Int] = None

  /** LIMIT pushdown as FILE-LIST truncation: an unfiltered `LIMIT n`
    * needs only a prefix of files whose row counts reach n — on a
    * 10k-file table, `SELECT * LIMIT 10` opens one file. Always
    * "partially pushed" (Spark re-applies the limit; we only shrink the
    * scan), so correctness never depends on it. Refused under pending
    * deletes: file row counts overstate live rows there, and a too-short
    * prefix would lose rows. Spark only offers the pushdown when nothing
    * but projections sit between LIMIT and the scan, so the
    * filters-empty guard is belt-and-suspenders. */
  override def pushLimit(l: Int): Boolean = {
    // allowed with no filters, or when EVERY filter is an exact
    // identity-partition predicate (pushFilters already vetted them):
    // all rows of every exactly-selected file match, so a row-count
    // prefix of the MATCHING files covers the limit
    val exactOnly = exactIdx.size == filters.length
    if (exactOnly && snapshot.deleteFiles.isEmpty && l >= 0 && !fileSubset) {
      limit = Some(l)
      true
    } else false
  }
  override def isPartiallyPushed(): Boolean = true

  /** Prefix of `files` whose cumulative row count covers `n` rows. */
  private def limitPrefix(files: Seq[DataFile], n: Int): Seq[DataFile] = {
    var acc = 0L
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFile]
    val it = files.iterator
    while (acc < n && it.hasNext) {
      val f = it.next()
      out += f
      acc += f.rowCount
    }
    out.toSeq
  }

  /** Filters over identity partition columns that are EXACTLY decidable
    * per file (IdentityFilters) are claimed as fully pushed: Spark drops
    * its re-apply Filter node — the scan enforces them by exact file
    * selection — and, with no residual filter left in the plan, the
    * aggregate pushdown below can answer filtered aggregates from
    * metadata. Everything else stays residual (Spark re-applies). */
  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    val rename = SchemaNames.renameMap(snapshot.schema)
    val phys = fs.toIndexedSeq.map(SchemaNames.renameFilter(_, rename))
    exactIdx = IdentityFilters.exactIndices(phys, snapshot)
    fs.zipWithIndex.filterNot(p => exactIdx.contains(p._2)).map(_._1)
  }
  private var exactIdx: Set[Int] = Set.empty
  override def pushedFilters(): Array[Filter] =
    filters.zipWithIndex.filter(p => exactIdx.contains(p._2)).map(_._1)

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
  }

  // ---- metadata-only aggregates (SELECT count(*)/min/max FROM t) ----
  //
  // A full-table COUNT/MIN/MAX is answered from the snapshot — row counts,
  // null counts, and per-file min/max collected at write time — with ZERO
  // data files opened. On a 100 TB table that turns a full scan into a
  // metadata lookup, the same trick Iceberg manifests enable. Only taken
  // when provably exact:
  //  - no residual filters (Spark keeps our filters in-plan, so it only
  //    attempts the pushdown on unfiltered scans; guarded anyway),
  //  - COUNT(*): exact under deletion vectors (cardinalities are exact),
  //    refused under pending equality deletes (matched count unknown),
  //  - COUNT(col)/MIN/MAX: refused under ANY pending delete, and need
  //    every file to carry the stat. MIN/MAX limited to numeric/date/
  //    timestamp columns — parquet string stats may be truncated, and
  //    these types' stat domain is exact by construction.
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = tryPushAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    aggPushed = tryPushAgg(agg)
    aggPushed.isDefined
  }

  private def tryPushAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[Array[Any]])] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.types._
    if (fileSubset) return None
    val s = snapshot
    val hasEq = s.deleteFiles.exists(_.kind == "equality")
    val hasAny = s.deleteFiles.nonEmpty
    val rename = SchemaNames.renameMap(s.schema)
    // Filters are allowed ONLY when every one is an exactly-decidable
    // identity-partition predicate (then the matching file subset is
    // exact and per-file stats aggregate over it); any residual filter
    // refuses — rows inside files would need scanning.
    val physAll = filters.toIndexedSeq.map(SchemaNames.renameFilter(_, rename))
    val exactSet = IdentityFilters.exactIndices(physAll, s)
    if (exactSet.size != filters.length) return None
    val unfiltered = filters.isEmpty
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames.length == 1 =>
        s.schema.fields.find(_.name == nr.fieldNames.head)
      case _ => None
    }
    def statVal(stat: String, dt: DataType): Option[Any] = dt match {
      case IntegerType => Some(stat.toInt)
      case LongType => Some(stat.toLong)
      case ShortType => Some(stat.toShort)
      case ByteType => Some(stat.toByte)
      case FloatType => Some(stat.toFloat)
      case DoubleType => Some(stat.toDouble)
      case d: DecimalType =>
        Some(org.apache.spark.sql.types.Decimal(BigDecimal(stat), d.precision, d.scale))
      case DateType => Some(stat.toInt)      // epoch days
      case TimestampType => Some(stat.toLong) // epoch micros
      case _ => None // strings (truncation risk), booleans, nested: refuse
    }
    /** MIN/MAX over `files`; `global` additionally unlocks the sharded
      * manifest-rollup fast path (whole-table only — chunk bounds span
      * partition values, so per-group subsets must read per-file stats). */
    def extremum(files: Seq[DataFile], f: StructField, isMin: Boolean,
        global: Boolean): Option[Any] = {
      if (hasAny) return None // a delete may have removed the extreme row
      val phys = rename.getOrElse(f.name, f.name)
      // floating types get IEEE-total orderings (NaN largest, matching
      // Spark's sort order): BigDecimal("Infinity") would throw at plan
      // time instead of falling back to a scan
      val ord = f.dataType match {
        case _: DecimalType => Ordering.by((a: Any) =>
          a.asInstanceOf[org.apache.spark.sql.types.Decimal].toBigDecimal)
        case FloatType =>
          Ordering.by[Any, Float](_.asInstanceOf[Float])(
            Ordering.Float.TotalOrdering)
        case DoubleType =>
          Ordering.by[Any, Double](_.asInstanceOf[Double])(
            Ordering.Double.TotalOrdering)
        case _ => Ordering.by((a: Any) => BigDecimal(a.toString))
      }
      def extremeOf(stats: Seq[String]): Option[Any] = {
        val vals = stats.flatMap(v => statVal(v, f.dataType))
        if (vals.length != stats.length) None
        else Some(if (isMin) vals.min(ord) else vals.max(ord))
      }
      // sharded fast path: COMPLETE chunk bounds (every ref bounds the
      // column both ways — which also proves no file is all-null in it)
      // answer from the manifest list with zero chunks loaded
      if (global && s.manifests.nonEmpty &&
          s.manifests.forall(_.bounds.get(phys).exists(st =>
            st.min.isDefined && st.max.isDefined))) {
        extremeOf(s.manifests.map(r =>
            (if (isMin) r.bounds(phys).min else r.bounds(phys).max).get)) match {
          case some @ Some(_) => return some
          case None => // type refused the stat form: per-file path decides
        }
      }
      // files that are all-null in the column contribute nothing; any other
      // file missing the stat makes the answer unprovable
      val contributing = files.filter(df =>
        !df.stats.get(phys).flatMap(_.nullCount).contains(df.rowCount))
      val stats = contributing.map(df =>
        df.stats.get(phys).flatMap(st => if (isMin) st.min else st.max))
      if (stats.exists(_.isEmpty)) return None
      if (stats.isEmpty) Some(null) // empty group / all nulls -> NULL
      else extremeOf(stats.flatten)
    }
    /** One output row's agg column cells over a file subset, or None when
      * any aggregate is not provable from metadata. Also returns the
      * schema cells (computed once; identical across groups). */
    def aggCells(files: Seq[DataFile], global: Boolean)
        : Option[Seq[(String, DataType, Boolean, Any)]] = Some(
      agg.aggregateExpressions.toIndexedSeq.map {
        case _: CountStar =>
          if (hasEq) return None
          // subset counts (grouped or filtered) are refused under any
          // pending delete: only the whole-table total subtracts vectors
          if (!global && hasAny) return None
          val rows =
            if (global) s.totalRows else files.map(_.rowCount).sum
          ("count(*)", LongType: DataType, false, rows: Any)
        case c: Count if !c.isDistinct =>
          if (hasAny) return None
          colOf(c.column) match {
            case Some(f) =>
              val phys = rename.getOrElse(f.name, f.name)
              // sharded fast path: null counts from the chunk bounds
              val nullSum: Option[Long] =
                if (global && s.manifests.nonEmpty &&
                    s.manifests.forall(_.bounds.get(phys).exists(_.nullCount.isDefined)))
                  Some(s.manifests.map(_.bounds(phys).nullCount.get).sum)
                else {
                  val nulls = files.map(df => df.stats.get(phys).flatMap(_.nullCount))
                  if (nulls.exists(_.isEmpty)) None else Some(nulls.flatten.sum)
                }
              nullSum match {
                case Some(n) => ("count(" + f.name + ")", LongType: DataType, false,
                  (files.map(_.rowCount).sum - n): Any)
                case None => return None
              }
            case None => return None
          }
        case m: Min =>
          colOf(m.column) match {
            case Some(f) => extremum(files, f, isMin = true, global) match {
              case Some(v) => ("min(" + f.name + ")", f.dataType, true, v: Any)
              case None => return None
            }
            case None => return None
          }
        case m: Max =>
          colOf(m.column) match {
            case Some(f) => extremum(files, f, isMin = false, global) match {
              case Some(v) => ("max(" + f.name + ")", f.dataType, true, v: Any)
              case None => return None
            }
            case None => return None
          }
        case _ => return None
      })

    lazy val baseFiles: Seq[DataFile] =
      if (unfiltered) s.files
      // chunk-bounds pruning first: the filtered metadata agg on a
      // sharded table loads only the chunks the filters can touch
      else store.filesForScan(s, physAll)
        .filter(df => IdentityFilters.matchesAll(df, physAll, s))

    if (agg.groupByExpressions.isEmpty) {
      aggCells(baseFiles, global = unfiltered).map { out =>
        val schema = StructType(out.map { case (n, dt, nullable, _) =>
          StructField(n, dt, nullable) }.toIndexedSeq)
        schema -> Array(out.map(_._4).toArray)
      }
    } else {
      // ---- GROUP BY identity partition columns, from metadata alone ----
      // `SELECT day, count(*) FROM t GROUP BY day` on a day-partitioned
      // table: every file belongs to exactly one group (its partition
      // value), so per-group COUNT/MIN/MAX follow from per-file stats
      // with zero data files opened. Group keys parse from the stored
      // partition-value strings with the same inverse the SPJ key
      // derivation uses; anything unparseable refuses the pushdown.
      val groupCols: Seq[(StructField, PartitionField, String => Any)] =
        agg.groupByExpressions.toIndexedSeq.map { e =>
          (colOf(e), e) match {
            case (Some(f), _) =>
              val pf = s.partitionSpec.find(p =>
                p.transform == "identity" && p.source == f.name)
                .getOrElse(return None)
              val parse = Spj.identityParser(f.dataType).getOrElse(return None)
              (f, pf, parse)
            case _ => return None
          }
        }
      val grouped: Map[Seq[Any], Seq[DataFile]] =
        baseFiles.groupBy { df =>
          groupCols.map { case (f, pf, parse) =>
            df.partitionValues.get(pf.name) match {
              case Some(Spj.NullSentinel) => null
              case Some(v) =>
                // a real string equal to the sentinel is indistinguishable
                if (f.dataType == StringType && v == Spj.NullSentinel)
                  return None
                try parse(v) catch {
                  case scala.util.control.NonFatal(_) => return None }
              case None => return None // pre-evolution file: no value
            }
          }
        }
      val aggSchema = aggCells(Seq.empty[DataFile], global = false)
        .getOrElse(return None) // shape probe on the empty subset
      val schema = StructType(
        groupCols.map { case (f, _, _) =>
          StructField(f.name, f.dataType, nullable = true) } ++
        aggSchema.map { case (n, dt, nullable, _) =>
          StructField(n, dt, nullable) })
      val rows = grouped.toSeq.map { case (key, fs) =>
        val cells = aggCells(fs, global = false).getOrElse(return None)
        (key ++ cells.map(_._4)).toArray
      }
      Some(schema -> rows.toArray)
    }
  }

  override def build(): Scan = {
    aggPushed match {
      case Some((aggSchema, rows)) =>
        return new GraftMetadataAggScan(aggSchema, rows, snapshot)
      case None =>
    }
    // pushed LIMIT: truncate the file list before planning. The guard is
    // re-checked HERE, after every pushdown phase ran — Spark has been
    // observed offering pushLimit before/despite residual filters, and a
    // prefix under a filter would DROP matching rows in later files.
    val snapshot0 = limit match {
      case Some(l) if filters.isEmpty && snapshot.deleteFiles.isEmpty =>
        // chunk-prefix first (sharded tables load only the chunks the
        // rollups say can be needed), then the exact file prefix.
        // manifests cleared: the refs describe the FULL list, and every
        // refs-aware consumer (fileCount, filesForScan) must see only
        // the truncated files (Snapshot invariant)
        snapshot.copy(files = limitPrefix(store.filesForLimit(snapshot, l), l),
          manifests = Seq.empty)
      case Some(l) if exactIdx.size == filters.length &&
          snapshot.deleteFiles.isEmpty =>
        // exact-partition-filtered LIMIT: prefix over the MATCHING files
        // (every row in them satisfies the claimed filters). Chunk-bounds
        // pruning first — a sharded table loads only the chunks the
        // filters can touch, never the full lazy list
        val rename = SchemaNames.renameMap(snapshot.schema)
        val exact = filters.toIndexedSeq
          .map(SchemaNames.renameFilter(_, rename))
        snapshot.copy(
          files = limitPrefix(
            store.filesForScan(snapshot, exact).filter(df =>
              IdentityFilters.matchesAll(df, exact, snapshot)), l),
          manifests = Seq.empty)
      case _ => snapshot
    }
    new LakeScan(snapshot0, store, required, filters,
      streamLimits = streamLimits)
  }
}

/** Metadata-only aggregate result: rows computed on the DRIVER from
  * snapshot statistics, emitted through a single-partition Batch. One row
  * for a full-table aggregate; one row per partition value for a pushed
  * GROUP BY over identity partition columns. No data file is opened —
  * `description` carries the values so plans show what was answered from
  * metadata. */
final class GraftMetadataAggScan(
    aggSchema: StructType,
    rows: Array[Array[Any]],
    snapshot: Snapshot)
  extends Scan with org.apache.spark.sql.connector.read.Batch {

  override def readSchema(): StructType = aggSchema
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this

  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] =
    Array(GraftAggPartition(rows))

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new GraftAggReaderFactory

  override def description(): String = {
    val shown = rows.take(3).map(r =>
      aggSchema.fieldNames.zip(r).map { case (n, v) => s"$n=$v" }
        .mkString("(", ", ", ")")).mkString(" ")
    s"GraftMetadataAggScan[v${snapshot.version}, rows=${rows.length}, $shown]"
  }
}

final case class GraftAggPartition(rows: Array[Array[Any]])
  extends org.apache.spark.sql.connector.read.InputPartition

final class GraftAggReaderFactory
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  override def createReader(
      partition: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] =
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] {
      private val rows = partition.asInstanceOf[GraftAggPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): org.apache.spark.sql.catalyst.InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(rows(i))
      override def close(): Unit = ()
    }
}

/** V1 write bridge: the driver-side InsertableRelation stages parquet and
  * commits a snapshot. Handles INSERT INTO (append), INSERT OVERWRITE /
  * truncate (replace). */
final class GraftWriteBuilder(store: SnapshotStore)
  extends WriteBuilder with SupportsTruncate with SupportsOverwrite
  with SupportsDynamicOverwrite {

  private var overwriteAll = false
  private var overwriteDynamic = false
  private var overwriteFilters: Option[Array[Filter]] = None

  override def truncate(): WriteBuilder = { overwriteAll = true; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.isEmpty ||
        filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
      overwriteAll = true
    else overwriteFilters = Some(filters)
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    overwriteDynamic = true
    this
  }

  override def build(): Write =
    if (overwriteDynamic) {
      // OverwritePartitionsDynamic has no V1 fallback exec — serve it from
      // the native BatchWrite (the same executor-side writer the
      // MERGE/UPDATE rewrites use); the commit swaps whole partitions.
      val head = store.head().getOrElse(
        throw new IllegalStateException("no snapshot to overwrite"))
      // this writer has no identity assignment and no generation
      // recompute (both live in GraftWriter.writeFiles) — rows would land
      // with NULL ids / NULL generated values and the hwm would go stale
      require(head.identity.isEmpty,
        "dynamic partition overwrite on tables with IDENTITY columns is " +
          "not supported; use a full INSERT OVERWRITE or plain INSERT")
      require(head.generated.isEmpty,
        "dynamic partition overwrite on tables with GENERATED columns is " +
          "not supported; use a full INSERT OVERWRITE or plain INSERT")
      new GraftBatchWrite(store.tableDir.toString, head.schema.json,
        head.partitionSpec, "dynamic-overwrite",
        added => commitDynamic(head, added))
    } else new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          val spark = data.sparkSession
          overwriteFilters match {
            case Some(fs) =>
              // INSERT OVERWRITE t WHERE-style static partition overwrite:
              // delete matching rows (COW) then append the new data.
              val head = store.head().get
              // identity fill + hwm advancement live in GraftWriter.insert
              // (the append/full-overwrite path) — this branch would write
              // NULL ids and leave the mark stale
              require(head.identity.isEmpty,
                "partition-filtered INSERT OVERWRITE on tables with " +
                  "IDENTITY columns is not supported; use a full " +
                  "INSERT OVERWRITE or plain INSERT")
              val cond = FilterTranslate.conjunction(fs.toSeq).getOrElse(
                throw new UnsupportedOperationException(
                  s"untranslatable overwrite filter"))
              val renameM = SchemaNames.renameMap(head.schema)
              val physFs = fs.map(SchemaNames.renameFilter(_, renameM))
              val (touched, untouched) = head.files.partition(f =>
                physFs.forall(StatsPruner.mightMatch(f, _, head.partitionSpec)))
              val keptFiles =
                if (touched.isEmpty) Seq.empty
                else {
                  // NULL-evaluating rows are outside the overwritten region
                  // and must survive (same NULL semantics as DELETE).
                  // Pending MOR deletes fold into the rewrite.
                  val kept = GraftTable.liveRows(spark, store, head, touched)
                    .filter(fnot(coalesce(cond, lit(false))))
                  GraftWriter.writeFiles(spark, store, head, kept)
                }
              // same CHECK enforcement as plain INSERT — this branch
              // writes through writeFiles directly, bypassing insert();
              // generated columns recompute BEFORE the check wrap so a
              // CHECK referencing one sees the real value (ADVICE r2)
              val added = GraftWriter.writeFiles(spark, store, head,
                GraftWriter.enforceChecks(
                  GraftWriter.applyGenerated(data, head.generated),
                  head.checks))
              // rows a concurrent commit adds inside the filter would
              // survive an overwrite that never read them: rule 4 aborts
              val fp = Conflicts.Footprint(head, read = touched,
                  replaced = touched, added = keptFiles ++ added,
                  filter = Some(physFs.toSeq))
                .retaining(PositionDeletes.retain(head.deleteFiles,
                  untouched, touched))
              store.commit { prev =>
                Conflicts.rebase(store, "INSERT OVERWRITE",
                    prev.getOrElse(head), fp).copy(
                  operation = "overwrite",
                  summary = Map(
                    "replaced-files" -> touched.size.toString,
                    "added-files" -> added.size.toString))
              }
            case None =>
              GraftWriter.insert(spark, store, data,
                overwrite = overwrite || overwriteAll)
          }
        }
      }
  }

  /** Dynamic partition overwrite (`INSERT OVERWRITE` under
    * `partitionOverwriteMode=dynamic`): replace exactly the partitions the
    * incoming data lands in, leave every other partition untouched. Each
    * new file carries its full partition-value tuple, so the replaced set
    * is `prev.files` whose tuple equals some new file's tuple — no read of
    * the previous table data at all, just a metadata swap (the
    * 100 TB-friendly property: cost scales with the data WRITTEN, not the
    * table size). An unpartitioned table degenerates to a full replace,
    * matching Spark/Iceberg semantics. */
  private def commitDynamic(head: Snapshot, added: Seq[DataFile]): Unit = {
    val newTuples = added.map(_.partitionValues).toSet
    store.commit { prev =>
      val p = prev.getOrElse(head)
      // Exact COMPLETE-tuple match only: new files always carry a value
      // per spec field (RowPartitionEval is total), but files from older
      // writer versions may not — an incomplete tuple on either side must
      // never match (two incomplete maps comparing equal would replace
      // files across unrelated partitions), so such files are KEPT —
      // conservative in the no-data-loss direction.
      val nSpec = head.partitionSpec.size
      val completeNew = newTuples.filter(_.size == nSpec)
      val (replaced, kept) =
        if (head.partitionSpec.isEmpty) (p.files, Seq.empty[DataFile])
        else p.files.partition(f => f.partitionValues.size == nSpec &&
          completeNew.contains(f.partitionValues))
      // vectors of replaced partitions' files die with them
      val keptDeletes = PositionDeletes.retain(p.deleteFiles, kept, replaced)
      p.copy(
        timestampMs = System.currentTimeMillis(),
        operation = "overwrite",
        files = kept ++ added,
        deleteFiles = keptDeletes,
        summary = Map(
          "replaced-files" -> replaced.size.toString,
          "added-files" -> added.size.toString,
          "replaced-partitions" -> newTuples.size.toString))
    }
  }
}
