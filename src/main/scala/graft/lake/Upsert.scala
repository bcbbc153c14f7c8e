package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Merge-on-read UPSERT: one commit appends the incoming rows as new data
  * files AND equality-deletes their keys from everything older — the
  * Flink/Iceberg streaming-CDC ingestion pattern (the reference stack's
  * Iceberg 1.4 supports exactly this via equality deletes; the reference
  * itself prescribes MERGE for the same need, `SETUP_GUIDE_WIN.md:362-371`).
  *
  * Cost is O(incoming batch): no scan, no join, no rewrite of existing
  * data — where a MERGE INTO would read and rewrite every file that might
  * contain a matching key. Sequence ordering makes it correct: the delete
  * and the new files commit with the same sequence `v`, and equality
  * deletes apply only to files with seq strictly below `v`, so the batch's
  * own rows survive while every older row with a matching key dies.
  * Accumulated deletes fold back into data via `rewrite_deletes`.
  *
  * Within-batch duplicates are NOT collapsed (both rows land; SQL MERGE
  * would raise instead) — dedupe the batch first if keys can repeat.
  */
object Upsert {

  /** Upsert `df` into the table at `store` keyed by `keys` (logical
    * column names). Returns the committed snapshot. */
  def into(spark: SparkSession, store: SnapshotStore, df: DataFrame,
      keys: Seq[String]): Snapshot = {
    val head = store.head().getOrElse(
      throw new IllegalStateException(s"table not initialized: ${store.tableDir}"))
    val schema = head.schema
    require(keys.nonEmpty, "upsert needs at least one key column")
    // this path calls writeFiles directly — it has no identity assignment
    // and would neither fill BY DEFAULT values nor advance the high-water
    // mark; upserts address rows by NATURAL keys anyway
    require(head.identity.isEmpty,
      "upsert into tables with IDENTITY columns is not supported")
    val fields = keys.map(k => schema.fields.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(s"upsert key '$k' not in table schema")))
    val physKeys = fields.map(SchemaNames.physicalName)

    // A NULL key value can never match the equality-delete join on read,
    // so the row would append as a duplicate that no later upsert can ever
    // replace, alongside a delete tuple that matches nothing. Fail the
    // batch instead — inline like enforceChecks, no extra pass.
    import org.apache.spark.sql.functions._
    val nullGuarded = keys.foldLeft(df) { (d, k) =>
      d.filter(
        when(col(k).isNull,
          raise_error(lit(s"upsert key '$k' is NULL: NULL keys cannot " +
            "match an equality delete, so the row could never be " +
            "updated again; filter or fill NULL keys before upserting"))
            .cast("boolean"))
          .otherwise(lit(true)))
    }
    // generated columns recompute BEFORE the check wrap so a CHECK
    // referencing one sees the real value (ADVICE r2)
    val prepared = GraftWriter.applyGenerated(nullGuarded, head.generated)
    val newFiles = GraftWriter.writeFiles(spark, store, head,
      GraftWriter.enforceChecks(prepared, head.checks))
    // key tuples under PHYSICAL names (what delete files store)
    val keyDf = nullGuarded.select(keys.zip(physKeys).map { case (l, p) =>
      col(l).as(p)
    }: _*)
    val eqDeletes = PositionDeletes.writeEqualityDeleteFiles(
      spark, store, keyDf, physKeys)

    // O(batch) end to end: the commit, too, reuses every parent manifest
    // chunk by reference instead of re-grouping the full file list
    store.commitAppend(newFiles, eqDeletes) { (p, stamped) =>
      p.copy(
        timestampMs = System.currentTimeMillis(),
        operation = "upsert",
        summary = Map(
          "added-files" -> stamped.size.toString,
          "added-records" -> stamped.map(_.rowCount).sum.toString,
          "upsert-keys" -> eqDeletes.map(_.rowCount).sum.toString,
          "upsert-key-columns" -> physKeys.mkString(",")))
    }
  }
}
