package graft.lake

import scala.util.control.NonFatal

import org.apache.spark.sql.sources.Filter

/** The one commit-time conflict check for statements that plan on one
  * snapshot (`base`) and commit on whatever head the commit loop finds —
  * row-level DELETE / UPDATE / MERGE, partition-filtered overwrite,
  * compaction and the delete rewrites. Iceberg's optimistic commits work
  * the same way: a statement is validated against what it read, and
  * fails only when a concurrent commit could change its result
  * (iceberg.apache.org/docs/latest/reliability/). A statement planned on
  * `base` commits on a newer head unless one of these rules fires:
  *
  *  1. schema, partition spec, CHECKs, generated or identity columns
  *     changed;
  *  2. a data file the statement read or replaces, or a delete entry it
  *     replaces, is no longer live;
  *  3. a delete entry added or removed since `base` may apply to a data
  *     file the statement read — a deletion vector when it refers to that
  *     file, an equality file by its key values against the file's stats.
  *     So two merge-on-read DELETEs of one data file serialize (each
  *     writes the union of that file's vector) and DELETEs of different
  *     files rebase;
  *  4. a data file added since `base` might match the statement's pushed
  *     filter (any added file, when it pushed none — a MERGE whose only
  *     target predicate is its join stays serializable). Compaction and
  *     the delete rewrites do not change which rows exist, so they skip it.
  *
  * A rule that fires aborts with "concurrent commit ..." (callers re-run
  * the statement, which re-plans on the new head). Otherwise the commit
  * is `head` with the statement's own edits: head's files minus the
  * replaced ones plus the new ones, head's delete entries minus the ones
  * the statement replaced plus the ones it wrote. Delete entries are
  * matched by [[DeleteFile.id]]: the vectors of one blob share its path.
  */
object Conflicts {

  /** What one statement did, relative to the snapshot it planned on.
    *
    * @param read           data files whose rows the statement read
    * @param replaced       data files the commit removes
    * @param added          data files the commit adds
    * @param deletesRemoved delete entries the commit removes
    * @param deletesAdded   delete entries the commit adds
    * @param filter         the statement's pushed filters over PHYSICAL
    *                       column names, for rule 4; None skips rule 4 */
  final case class Footprint(
      base: Snapshot,
      read: Seq[DataFile] = Seq.empty,
      replaced: Seq[DataFile] = Seq.empty,
      added: Seq[DataFile] = Seq.empty,
      deletesRemoved: Seq[DeleteFile] = Seq.empty,
      deletesAdded: Seq[DeleteFile] = Seq.empty,
      filter: Option[Seq[Filter]] = None) {

    /** This footprint with `base`'s delete entries narrowed to `kept`
      * (the output of [[PositionDeletes.retain]]): entries of `base`
      * missing from `kept` are removed. */
    def retaining(kept: Seq[DeleteFile]): Footprint = {
      val after = kept.map(_.id).toSet
      copy(deletesRemoved = deletesRemoved ++
        base.deleteFiles.filterNot(d => after.contains(d.id)))
    }
  }

  /** `head` with the statement applied, or an abort when a rule fires.
    * Called inside the commit closure, so a lost race re-validates
    * against the next head. */
  def rebase(store: SnapshotStore, op: String, head: Snapshot,
      fp: Footprint): Snapshot = {
    if (head.version != fp.base.version)
      conflict(store, head, fp).foreach { why =>
        throw new IllegalStateException(
          s"concurrent commit during $op on ${store.tableDir}: $why " +
            s"(planned on v${fp.base.version}, head is v${head.version}); retry")
      }
    val gone = fp.replaced.map(_.path).toSet
    val goneDeletes = fp.deletesRemoved.map(_.id).toSet
    head.copy(
      timestampMs = System.currentTimeMillis(),
      // an edit-free commit passes head's list through by reference, so a
      // sharded table's lazy file list is never materialized
      files =
        if (gone.isEmpty && fp.added.isEmpty) head.files
        else head.files.filterNot(f => gone.contains(f.path)) ++ fp.added,
      deleteFiles =
        head.deleteFiles.filterNot(d => goneDeletes.contains(d.id)) ++
          fp.deletesAdded)
  }

  /** The first rule `head` breaks for `fp`, described; None = no conflict. */
  private def conflict(store: SnapshotStore, head: Snapshot,
      fp: Footprint): Option[String] = {
    val base = fp.base
    def unversioned(s: Snapshot) = s.identity.map { case (c, id) =>
      c -> id.copy(lastValue = None) }
    val live = head.files.iterator.map(_.path).toSet
    val liveDeletes = head.deleteFiles.map(_.id).toSet
    val baseDeletes = base.deleteFiles.map(_.id).toSet
    def rule1 = Option.when(head.schemaJson != base.schemaJson ||
        head.partitionSpec != base.partitionSpec || head.checks != base.checks ||
        head.generated != base.generated || unversioned(head) != unversioned(base))(
      "rule 1: the table's schema, partition spec or constraints changed")
    def rule2 =
      (fp.read ++ fp.replaced).find(f => !live.contains(f.path))
        .map(f => s"rule 2: data file ${f.path} is no longer live")
        .orElse(fp.deletesRemoved.find(d => !liveDeletes.contains(d.id))
          .map(d => s"rule 2: delete file ${d.path} is no longer live"))
    def rule3 = {
      val changed =
        head.deleteFiles.filterNot(d => baseDeletes.contains(d.id)) ++
          base.deleteFiles.filterNot(d => liveDeletes.contains(d.id))
      if (fp.read.isEmpty) None
      else changed.iterator.flatMap(d => fp.read.find(mayApply(store, head, d))
          .map(f => s"rule 3: delete file ${d.path} may apply to ${f.path}"))
        .nextOption()
    }
    def rule4 = fp.filter.flatMap { fs =>
      val before = base.files.iterator.map(_.path).toSet
      head.files.find(f => !before.contains(f.path) &&
          fs.forall(StatsPruner.mightMatch(f, _, head.partitionSpec)))
        .map(f => s"rule 4: added data file ${f.path} may match the statement's filter")
    }
    rule1.orElse(rule2).orElse(rule3).orElse(rule4)
  }

  /** Which data files can delete entry `d` remove rows of? The scan's own
    * answer ([[PositionDeletes.applicable]]); no IO for a vector.
    * Conservative: metadata that cannot be read answers "every file". */
  private def mayApply(store: SnapshotStore, head: Snapshot,
      d: DeleteFile): DataFile => Boolean =
    try {
      val applies = PositionDeletes.applicable(store, head, d)
      f => applies(f).isDefined
    } catch { case NonFatal(_) => _ => true }
}
