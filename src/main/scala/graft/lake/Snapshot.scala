package graft.lake

import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.Serialization

/** Snapshot-log data model for Graft tables.
  *
  * Mirrors the metadata tree the reference documents for its Iceberg tables
  * (`README.md:166-176`: `metadata/v1.metadata.json`, `v2.metadata.json`,
  * manifest lists, parquet files under `data/`): `v<N>.json` is the
  * manifest LIST — above [[SnapshotStore.InlineMaxFiles]] the `files` seq
  * pages out to immutable manifest chunks under `metadata/manifests/`,
  * grouped by the commit sequence that added the files. An append commit
  * therefore writes ONE new chunk and re-points the parent's others
  * (commit cost O(added files + chunk count), not O(table files)), and
  * loading streams the chunks in parallel through a process-wide cache.
  * Below the threshold the list stays inline — single read, single atomic
  * swap, simplest for small tables.
  */
final case class ColumnStats(
    min: Option[String],
    max: Option[String],
    nullCount: Option[Long])

/** One immutable data file. Stats are stringified in a type-normalized form
  * (timestamps → epoch micros, dates → epoch days, numerics → plain decimal,
  * strings raw) so pruning compares without re-parsing parquet footers.
  *
  * `blooms` (optional, per `graft.bloom-columns`): base64 of a
  * spark.util.sketch BloomFilter over xxhash64 of the column's values —
  * point-lookup file skipping for high-cardinality STRING columns whose
  * min/max span everything (the Iceberg puffin-sidecar idea, inlined).
  * Default keeps old snapshots readable (json4s fills missing fields from
  * case-class defaults). */
final case class DataFile(
    path: String,
    rowCount: Long,
    sizeBytes: Long,
    partitionValues: Map[String, String],
    stats: Map[String, ColumnStats],
    blooms: Map[String, String] = Map.empty,
    ndv: Map[String, String] = Map.empty,
    seq: Long = 0L,
    // physical columns the file's rows are KNOWN to be sorted by
    // (ascending, nulls first) — stamped only by the clustered append
    // writer; rewrite paths that do not re-sort leave it empty, so a
    // sort-order claim (SupportsReportOrdering) never survives an
    // unsorted rewrite. Old snapshots default to empty = no claim.
    sortedBy: Seq[String] = Seq.empty)

/** One delete entry of a snapshot (merge-on-read). Two kinds:
  *  - `dv` — a deletion vector: the deleted row positions of ONE data
  *    file, `referencedDataFile` (its snapshot-relative path), as a
  *    bitmap stored at bytes `[contentOffset, contentOffset + sizeBytes)`
  *    of the blob at `path` ([[DeletionVectors]]). A table keeps at most
  *    one vector per data file: a DELETE that hits a file with one writes
  *    the union and replaces the entry (Iceberg v3 deletion vectors). Data
  *    files themselves are untouched. One blob holds the vectors of every
  *    file one DELETE hit, so an entry is identified by [[id]], not by
  *    `path`; a blob lives while any entry names it.
  *  - `equality` — rows hold key VALUES over `equalityColumns` (physical
  *    names); a data row is deleted iff its key equals some tuple AND its
  *    file's commit sequence is strictly below `seq` (rows appended after
  *    the delete are new rows, not deleted ones). Writing one costs no
  *    scan at all — the O(1) DELETE/upsert primitive for streaming CDC.
  *
  * `rowCount` is the vector's cardinality (a row count) or the equality
  * file's key count (each key kills 0..N rows). `seq` is the commit
  * sequence (== snapshot version) the entry entered the table at;
  * [[SnapshotStore.commit]] stamps [[Snapshot.UnassignedSeq]] placeholders
  * with the final version, so writers never guess it. */
final case class DeleteFile(
    path: String,      // relative to tableDir, e.g. "data/<uuid>-dv.bin"
    rowCount: Long,
    sizeBytes: Long,   // a vector's slice length; an equality file's size
    kind: String,      // dv | equality
    equalityColumns: Seq[String] = Seq.empty, // physical names (equality kind)
    seq: Long = 0L,
    referencedDataFile: Option[String] = None, // dv kind
    contentOffset: Long = 0L) {                // dv kind
  /** Position-shaped: each deleted position is exactly one row, so
    * rowCount IS a row count. */
  def positional: Boolean = kind == DeletionVectors.Kind

  /** Identity of the entry: vectors of one blob share `path`. */
  def id: (String, Option[String]) = (path, referencedDataFile)
}

/** GENERATED ... AS IDENTITY column: values assigned at ingest from a
  * per-table high-water mark. `lastValue` is the largest (or smallest,
  * for negative step) value any committed insert assigned — the next
  * insert continues from it. Gaps are expected (the assignment uses
  * sparse per-partition ids to stay shuffle-free), matching every
  * warehouse's identity semantics. */
final case class IdentityCol(
    start: Long,
    step: Long,
    allowExplicit: Boolean,        // BY DEFAULT (true) vs ALWAYS (false)
    lastValue: Option[Long] = None)

/** One immutable manifest chunk reference (the `v<N>.json` side of the
  * two-level tree): `path` is tableDir-relative
  * (`metadata/manifests/m-<seq>-<uuid>.json`), `seq` the commit sequence
  * of every file inside, and the rollups let metadata queries answer
  * counts without opening the chunk. Chunks are content-immutable and
  * UUID-named, so refs are shared freely across snapshots, branches, and
  * process-wide caches.
  *
  * `bounds` — per-column stats merged over the chunk's files (the
  * manifest-list partition/column summaries of Iceberg's design): a
  * filtered scan consults them FIRST and loads only the chunks whose
  * bounds overlap the predicate, so plan-time metadata IO scales with
  * the data the query touches, not the table. Merging is conservative
  * (see [[StatsPruner.mergeBounds]]); an empty map — including every
  * ref written before this field existed — means "no information, load
  * the chunk". */
final case class ManifestRef(
    path: String,
    seq: Long,
    fileCount: Long,
    rowCount: Long,
    sizeBytes: Long,
    bounds: Map[String, ColumnStats] = Map.empty,
    // partition fields EVERY file in the chunk carries a value for
    // (intersection of partitionValues key sets) — lets exactness claims
    // (IdentityFilters) hold without materializing the chunk. Refs
    // written before this field default to empty = "unknown, refuse".
    partFields: Seq[String] = Seq.empty)

/** On-disk payload of one manifest chunk. */
final case class ManifestChunk(files: Seq[DataFile])

final case class PartitionField(
    name: String,      // partition field name, e.g. "created_date" or "days(created_at)"
    transform: String, // identity | days | months | years | bucket[N]
    source: String)    // source column name

final case class Snapshot(
    version: Long,
    parentVersion: Option[Long],
    timestampMs: Long,
    operation: String, // append | overwrite | delete | replace | create | evolve
    schemaJson: String,
    partitionSpec: Seq[PartitionField],
    properties: Map[String, String],
    files: Seq[DataFile],
    summary: Map[String, String],
    deleteFiles: Seq[DeleteFile] = Seq.empty,
    checks: Map[String, String] = Map.empty, // CHECK constraints: name -> predicate SQL
    generated: Map[String, String] = Map.empty, // GENERATED ALWAYS: col -> expr SQL
    identity: Map[String, IdentityCol] = Map.empty, // IDENTITY columns
    // Manifest chunks backing `files` when the list is paged out. In
    // memory a READ sharded snapshot carries a lazily-materializing
    // `files` seq (first touch loads the chunks; `fileCount`/`totalRows`
    // answer from the ref rollups without forcing); on DISK it stores
    // `manifests` with an empty `files`. Kept on the case class so
    // expiry/GC can see which chunks a snapshot pins without re-reading
    // them. INVARIANT: refs and files describe the same list — a copy
    // that edits `files` outside SnapshotStore.commit must clear
    // `manifests` (commit re-derives them centrally).
    manifests: Seq[ManifestRef] = Seq.empty) {

  lazy val schema: StructType =
    DataType.fromJson(schemaJson).asInstanceOf[StructType]

  /** Live row count: data-file rows minus deletion-vector cardinalities.
    * A table keeps one vector per data file, and commits that remove a
    * data file drop its vector, so the subtraction is exact for them.
    * Pending EQUALITY deletes are written without a scan, so their
    * matched-row count is unknown — they are not subtracted, making this
    * an upper bound until `rewrite_deletes` folds them in (same caveat as
    * Iceberg's record_count with eq-deletes). */
  def totalRows: Long =
    dataFileRows - deleteFiles.filter(_.positional).map(_.rowCount).sum
  def totalBytes: Long =
    if (manifests.nonEmpty) manifests.map(_.sizeBytes).sum
    else files.map(_.sizeBytes).sum

  /** Data-file row count (no delete subtraction), answered from the
    * manifest-ref rollups when the snapshot is sharded — a COUNT(*) on a
    * million-file table never materializes the file list. */
  def dataFileRows: Long =
    if (manifests.nonEmpty) manifests.map(_.rowCount).sum
    else files.map(_.rowCount).sum

  /** Number of data files, from the ref rollups when sharded (does not
    * force a lazy `files`). */
  def fileCount: Long =
    if (manifests.nonEmpty) manifests.map(_.fileCount).sum
    else files.size.toLong
}

object Snapshot {
  implicit val formats: Formats = DefaultFormats

  /** Placeholder commit sequence: files created during a write carry this
    * until [[SnapshotStore.commit]] stamps the final version (the builder
    * can retry on a new head, so the true version isn't known earlier). */
  val UnassignedSeq: Long = -1L

  def toJson(s: Snapshot): String = Serialization.writePretty(s)
  def fromJson(json: String): Snapshot = Serialization.read[Snapshot](json)

  def chunkToJson(c: ManifestChunk): String = Serialization.write(c)
  def chunkFromJson(json: String): ManifestChunk =
    Serialization.read[ManifestChunk](json)
}
