package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental materialized-aggregate maintenance on top of the CDC
  * changelog: keep a `GROUP BY keys → (count, sum(value))` table current
  * by applying only the rows that CHANGED since the last refresh, never
  * re-reading the source.
  *
  * Counts and sums are ABELIAN (inserts add, deletes subtract), so the
  * delta is a small aggregation over `Changes.between(last, head)` —
  * metadata-planned, touching only changed files — merged into the
  * existing aggregate with a full-outer join keyed on the group. At
  * 100 TB this is the difference between "refresh reads the changed
  * partition" and "refresh recomputes the table". Max/min-style
  * NON-subtractable aggregates can't merge a signed delta (a delete may
  * retract the current max); [[refreshGroups]] maintains them with the
  * affected-GROUPS merge — same changelog, different merge: only groups
  * whose keys appear in the delta are re-aggregated from the live table,
  * every other MV row is carried over untouched.
  *
  * Null semantics: `n` counts rows (like count(*)); null values simply
  * don't contribute to `s`, and a group whose values are all null holds
  * s = 0.0 where a direct sum(v) would yield NULL — the stable choice for
  * an incrementally-maintained accumulator.
  *
  * The refresh watermark (`graft.mv.source-version`) commits WITH the
  * materialized rows in the same snapshot, so a crashed refresh leaves
  * either the old state+watermark or the new state+watermark — never a
  * half-applied delta (the changelog replay is idempotent per version
  * range, so re-running a lost race is safe).
  */
object IncrementalAgg {

  val WatermarkKey = "graft.mv.source-version"

  /** Create-or-refresh the materialized aggregate of `srcStore` grouped by
    * `keys` summing `valueCol`, stored at `mvStore`. Returns the source
    * version the view is now current through. */
  def refresh(
      spark: SparkSession,
      srcStore: SnapshotStore,
      mvStore: SnapshotStore,
      keys: Seq[String],
      valueCol: String): Long = {
    val srcHead = srcStore.head().getOrElse(
      throw new IllegalStateException(s"no source table at ${srcStore.tableDir}"))
    val mvSchema = org.apache.spark.sql.types.StructType(
      keys.map(k => srcHead.schema(k)) ++ Seq(
        org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.DoubleType)))

    val lastVersion: Long = mvStore.head() match {
      case Some(h) => h.properties.getOrElse(WatermarkKey, "0").toLong
      case None =>
        mvStore.init()
        mvStore.commit { _ =>
          Snapshot(1L, None, System.currentTimeMillis(), "create",
            mvSchema.json, Nil, Map(WatermarkKey -> "0"), Nil, Map.empty)
        }
        0L
    }
    if (srcHead.version <= lastVersion) return lastVersion // already current

    // signed delta from the changelog: inserts count +1, deletes -1.
    // First refresh starts at 0 so a v1-with-data source (CTAS) is not
    // skipped — v1's changelog is its full file set as inserts.
    val ch = Changes.between(spark, srcStore, lastVersion, srcHead.version)
    val sign = when(col(Changes.ChangeType) === "insert", lit(1L))
      .otherwise(lit(-1L))
    val delta = ch.groupBy(keys.map(col): _*)
      .agg(sum(sign).as("dn"),
        sum(sign.cast("double") * col(valueCol)).as("ds"))

    val mvHead = mvStore.head().get
    val existing: DataFrame =
      if (mvHead.files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], mvSchema)
      else SchemaNames.readLogical(spark, mvHead.schema,
        mvHead.files.map(f => mvStore.tableDir.resolve(f.path).toString))

    val merged = existing.join(delta, keys, "full_outer")
      .select(keys.map(col) ++ Seq(
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("s"), lit(0.0)) + coalesce(col("ds"), lit(0.0))).as("s")): _*)
      .filter(col("n") > 0) // fully-deleted groups drop out

    val newFiles = GraftWriter.writeFiles(spark, mvStore, mvHead, merged)
    mvStore.commit { prev =>
      val p = prev.getOrElse(mvHead)
      require(p.properties.getOrElse(WatermarkKey, "0").toLong == lastVersion,
        "concurrent refresh; retry")
      p.copy(
        timestampMs = System.currentTimeMillis(),
        operation = "overwrite",
        files = newFiles,
        properties = p.properties + (WatermarkKey -> srcHead.version.toString),
        summary = Map("mv-refreshed-through" -> srcHead.version.toString))
    }
    srcHead.version
  }

  /** Create-or-refresh a materialized `GROUP BY keys → (n, s, mx, mn)`
    * including the NON-subtractable max/min, via the affected-groups
    * merge promised in the header: the changelog between the watermark
    * and head names the keys whose groups changed; ONLY those groups are
    * re-aggregated from the live table (semi join on the delta's distinct
    * keys — with the group key aligned to the partition spec that filter
    * partition-prunes the recompute to the changed partitions), and the
    * untouched groups' MV rows carry over via an anti join on the same
    * key set. Aggregate columns keep native SQL semantics (an all-NULL
    * group holds NULL s/mx/mn), so a refresh is row-identical to the full
    * recompute — the law IncrementalAggSpec pins. Commit protocol
    * (watermark-with-data, race-guarded, idempotent replay) is shared
    * with [[refresh]]. */
  def refreshGroups(
      spark: SparkSession,
      srcStore: SnapshotStore,
      mvStore: SnapshotStore,
      keys: Seq[String],
      valueCol: String): Long = {
    import org.apache.spark.sql.types._
    val srcHead = srcStore.head().getOrElse(
      throw new IllegalStateException(s"no source table at ${srcStore.tableDir}"))
    val srcSchema = srcHead.schema
    val vType = srcSchema(valueCol).dataType
    val mvSchema = StructType(
      keys.map(k => srcSchema(k)) ++ Seq(
        StructField("n", LongType),
        StructField("s", DoubleType),
        StructField("mx", vType),
        StructField("mn", vType)))

    val lastVersion: Long = mvStore.head() match {
      case Some(h) => h.properties.getOrElse(WatermarkKey, "0").toLong
      case None =>
        mvStore.init()
        mvStore.commit { _ =>
          Snapshot(1L, None, System.currentTimeMillis(), "create",
            mvSchema.json, Nil, Map(WatermarkKey -> "0"), Nil, Map.empty)
        }
        0L
    }
    if (srcHead.version <= lastVersion) return lastVersion

    val ch = Changes.between(spark, srcStore, lastVersion, srcHead.version)
    val affected = ch.select(keys.map(col): _*).distinct()

    // live rows of the AFFECTED groups only: current files under current
    // MOR deletes, filtered by the delta's key set before aggregating
    val live =
      if (srcHead.files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], srcSchema)
      else PositionDeletes.applySnapshotDeletes(spark, srcStore,
          SchemaNames.readLogicalWithProvenance(spark, srcSchema,
            srcHead.files.map(f => srcStore.tableDir.resolve(f.path).toString)),
          srcHead, readSchema = srcSchema)
        .drop(PositionDeletes.NameCol, PositionDeletes.RowPosCol)
    val recomputed = live.join(affected, keys, "left_semi")
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("double")).as("s"),
        max(col(valueCol)).as("mx"),
        min(col(valueCol)).as("mn"))

    val mvHead = mvStore.head().get
    val existing: DataFrame =
      if (mvHead.files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], mvSchema)
      else SchemaNames.readLogical(spark, mvHead.schema,
        mvHead.files.map(f => mvStore.tableDir.resolve(f.path).toString))
    val merged = existing.join(affected, keys, "left_anti")
      .unionByName(recomputed)

    val newFiles = GraftWriter.writeFiles(spark, mvStore, mvHead, merged)
    mvStore.commit { prev =>
      val p = prev.getOrElse(mvHead)
      require(p.properties.getOrElse(WatermarkKey, "0").toLong == lastVersion,
        "concurrent refresh; retry")
      p.copy(
        timestampMs = System.currentTimeMillis(),
        operation = "overwrite",
        files = newFiles,
        properties = p.properties + (WatermarkKey -> srcHead.version.toString),
        summary = Map("mv-refreshed-through" -> srcHead.version.toString))
    }
    srcHead.version
  }
}
