package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Copy-on-write MERGE / UPDATE / DELETE via Spark's row-level operation
  * API (SURVEY.md §2.11.3 — the reference prescribes MERGE as the remedy
  * for duplicate appends; §7.2 phase 3).
  *
  * Group-based (file-granularity) copy-on-write:
  *  1. Spark plans the operation's SCAN over the target; our scan builder
  *     receives the pushable predicates of the ON/WHERE condition and
  *     prunes to the files that MIGHT contain matches (stats + partition
  *     pruning) — those files become the replacement group set.
  *  2. Spark computes the replacement rows (surviving rows of scanned
  *     files, merged/updated/inserted rows) and hands them to the WRITE;
  *     the commit atomically swaps `scanned files → new files` in one
  *     snapshot.
  *
  * The scan and write share this operation instance — the scan's pruning
  * result IS the write's removal set, so a file is only rewritten if the
  * scan could have produced matches from it. At 100 TB the same structure
  * holds per partition; adding SupportsRuntimeV2Filtering would narrow the
  * group set further using the join's actual keys (round-2 path).
  */
final class GraftRowLevelOperation(
    store: SnapshotStore,
    cmd: Command) extends RowLevelOperation {

  /** Snapshot the operation plans against (fixed once for scan+commit). */
  private val base: Snapshot = store.head().getOrElse(
    throw new IllegalStateException(s"no table at ${store.tableDir}"))

  /** Files selected by the operation's scan — the replacement group set.
    * Defaults to all files (correct, if maximally conservative) until the
    * scan builder narrows it. */
  @volatile private[lake] var scannedFiles: Seq[DataFile] = base.files

  override def command(): Command = cmd

  /** Ask the rewrite plan to carry `_file` per row: resolved against the
    * table's metadata columns at analysis, kept through column pruning by
    * GroupBasedRowLevelOperationScanPlanning, emitted by the COW reader,
    * and consumed by runtime group filtering (filterAttributes = _file) to
    * narrow the replaced-file set to files that CONTAIN matches. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"))

  /** The rewrite scan must be a real DSv2 Batch (Spark's ReplaceData
    * planning calls toBatch directly — the V1 fallback is not applied on
    * this path), so it uses the native executor-side GraftBatchScan. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new org.apache.spark.sql.connector.read.ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownFilters
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

      private var required: StructType = base.schema
      private var filters: Array[Filter] = Array.empty

      override def pushFilters(fs: Array[Filter]): Array[Filter] = {
        filters = fs; fs
      }
      override def pushedFilters(): Array[Filter] = Array.empty
      override def pruneColumns(requiredSchema: StructType): Unit = {
        required = requiredSchema
      }
      override def build(): org.apache.spark.sql.connector.read.Scan = {
        val scan = new GraftBatchScan(base, store, required, filters,
          // runtime group filtering narrows the replaced-file set too:
          // commit swaps exactly the files the rewrite scan read
          onRuntimePrune = narrowed => scannedFiles = narrowed)
        scannedFiles = scan.prunedFiles
        scan
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new GraftBatchWrite(
        store.tableDir.toString,
        base.schema.json,
        base.partitionSpec,
        cmd.name().toLowerCase,
        commitFiles = { newFiles =>
          val replaced = scannedFiles
          val replacedSet = replaced.map(_.path).toSet
          val surviving = base.files.filterNot(f => replacedSet.contains(f.path))
          // MOR tuples for replaced files were applied by the rewrite scan
          // (GraftPartitionReader skips them); keep only tuples that still
          // reference a surviving file
          val keptDeletes = PositionDeletes.retain(
            org.apache.spark.sql.SparkSession.active, store,
            base.deleteFiles, surviving)
          store.commit { prev =>
            val p = prev.getOrElse(base)
            require(p.version == base.version,
              s"concurrent commit during ${cmd.name()} on ${store.tableDir}")
            p.copy(
              timestampMs = System.currentTimeMillis(),
              operation = cmd.name().toLowerCase,
              files = p.files.filterNot(f => replacedSet.contains(f.path)) ++ newFiles,
              deleteFiles = keptDeletes,
              summary = Map(
                "replaced-files" -> replaced.size.toString,
                "added-files" -> newFiles.size.toString))
          }
        })
    }

  override def description(): String =
    s"GraftRowLevelOperation(${cmd.name()}, ${store.tableDir})"
}

final class GraftRowLevelOperationBuilder(store: SnapshotStore, info: RowLevelOperationInfo)
  extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation = {
    // DELETE rewrites carry surviving rows unchanged (generated values
    // stay correct), but the COW writer cannot recompute generation
    // expressions, so an UPDATE/MERGE of a base column would leave its
    // generated column stale — fail loudly instead.
    if (info.command() != Command.DELETE) {
      val h = store.head() // one snapshot read for both guards
      require(h.forall(_.generated.isEmpty),
        "UPDATE/MERGE on tables with GENERATED columns is not supported " +
          "yet (the rewrite would not recompute generation expressions); " +
          "use INSERT OVERWRITE or DELETE + INSERT")
      // MERGE-inserted rows flow through the COW writer, which has no
      // identity assignment — they would get NULL/arbitrary ids and the
      // high-water mark would not advance (later duplicates)
      require(h.forall(_.identity.isEmpty),
        "UPDATE/MERGE on tables with IDENTITY columns is not supported " +
          "yet (inserted rows would bypass identity assignment); " +
          "use plain INSERT")
    }
    new GraftRowLevelOperation(store, info.command())
  }
}
