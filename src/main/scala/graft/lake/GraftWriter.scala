package graft.lake

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Physical write path: write parquet into a staging dir with
  * [[LakeFileWriter]] → move the files into `data/` → atomic snapshot
  * commit (SURVEY.md §3.3).
  *
  * Partitioned tables: the partition VALUE is computed into synthetic
  * `__gp<i>` STRING columns and rows are sorted within tasks on them, so
  * each task writes one file per partition tuple. Small driver-held
  * inputs (INSERT ... VALUES, local frames) are written by ONE task, so
  * such an append adds exactly one file per tuple. Tuple value strings are
  * recorded as they are (an empty string stays ''). The synthetic columns
  * are not written; all ORIGINAL columns (including the transform's
  * source column) stay in the data file, so reads need no
  * partition-value reconstruction.
  *
  * Row counts and stats come from the footer each task has just written
  * ([[FooterStats]]) — constant work per file, no data re-read, the same
  * source Iceberg manifests are built from.
  */
object GraftWriter {

  private val PartColPrefix = "__gp"

  /** Write `df` as new data files of the table whose current snapshot is
    * `head` (schema, partition spec, generated columns and write
    * properties all come from it); returns the DataFile entries (paths
    * relative to the table dir). */
  def writeFiles(
      spark: SparkSession,
      store: SnapshotStore,
      head: Snapshot,
      df: DataFrame): Seq[DataFile] = {

    val schema = head.schema
    val spec = head.partitionSpec
    val staging = store.tableDir.resolve(s".staging-${UUID.randomUUID()}")
    try {
      // GENERATED ALWAYS AS columns are (re)computed here — the single
      // choke point every batch write passes through — overriding whatever
      // the incoming rows carried (that IS the ALWAYS semantics; the
      // analyzer hands us NULL for them on INSERT).
      val genApplied = applyGenerated(df, head.generated)
      // Align to table schema by name (Spark has already resolved/ordered
      // for SQL inserts; this also covers direct API writes) + cast, and
      // rename to PHYSICAL column names — data files always carry the
      // physical name, so files from before/after a column rename are
      // interchangeable. Partition-spec sources are physical too.
      val aligned = genApplied.select(schema.fields.map(f =>
        col(f.name).cast(f.dataType).as(SchemaNames.physicalName(f)))
        .toIndexedSeq: _*)

      val partCols = spec.zipWithIndex.map { case (f, i) => s"$PartColPrefix$i" }
      // Driver-held rows are split into defaultParallelism slices by
      // LocalTableScanExec, and each slice would write its own file per
      // tuple: a small local write goes through one task instead.
      val input = if (smallLocalInput(spark, df)) aligned.coalesce(1) else aligned
      val withParts = spec.zipWithIndex.foldLeft(input) { case (d, (f, i)) =>
        d.withColumn(s"$PartColPrefix$i",
          coalesce(PartitionTransforms.valueColumn(f), lit("__null__")))
      }
      // Write-time clustering: a `graft.sort-order` table property (comma
      // list of logical column names) range-repartitions on (partition
      // tuple, sort keys) and sorts within tasks before writing. Each
      // data file then covers a NARROW range of the sort keys, so the
      // min/max stats actually prune — the difference between "stats
      // exist" and "stats work" at 100 TB. Range partitioning samples the
      // data to pick balanced boundaries (Spark's RangePartitioner), the
      // standard ingest-clustering shape.
      // `zorder(a,b,...)` instead of a plain column list interleaves the
      // columns' bits into one Morton key (graft.functions.ZOrderKey) and
      // clusters on that: every file then covers a narrow range of EVERY
      // z-column, so min/max pruning works on all of them — the
      // multi-dimensional analogue of the linear sort below (Iceberg/Delta
      // OPTIMIZE ZORDER).
      val orderSpec = head.properties.get("graft.sort-order")
        .map(_.trim).getOrElse("")
      def physical(logical: String): String =
        schema.fields.find(_.name == logical) match {
          case Some(f) => SchemaNames.physicalName(f)
          case None => throw new IllegalArgumentException(
            s"graft.sort-order column '$logical' not in table schema")
        }
      val ZOrderPat = """(?i)zorder\s*\(([^)]*)\)""".r
      val sortKeys: Seq[org.apache.spark.sql.Column] = orderSpec match {
        case "" => Seq.empty
        case ZOrderPat(cols) =>
          import org.apache.spark.sql.graftbridge.ColumnBridge
          val zcols = cols.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          Seq(ColumnBridge.column(graft.functions.ZOrderKey(
            zcols.map(c => ColumnBridge.expression(col(physical(c)))))))
        case list =>
          list.split(',').map(_.trim).filter(_.nonEmpty).toSeq
            .map(c => col(physical(c)))
      }
      // physical sort columns when the order is a PLAIN list — these get
      // stamped on the written files (DataFile.sortedBy): rows are sorted
      // by (partition cols, sort keys) and the partition tuple is
      // constant within a file, so each file is sorted by the keys.
      // zorder files are clustered on the Morton key, not column-sorted.
      val plainSortCols: Seq[String] = orderSpec match {
        case "" => Seq.empty
        case ZOrderPat(_) => Seq.empty
        case list => list.split(',').map(_.trim).filter(_.nonEmpty)
          .toSeq.map(physical)
      }
      // Write distribution (`graft.write.distribution-mode`, Iceberg's
      // write.distribution-mode): without it, every task writes a file per
      // partition value it happens to hold — T tasks × P values small
      // files per append, the classic 100 TB small-file explosion. `hash`
      // shuffles rows so each partition tuple lands in one task (one file
      // per tuple per append); `range` orders tuples across tasks, which
      // also bounds skew when one partition dominates. A sort-order table
      // clusters by (partition, sort keys) already — strictly stronger —
      // so the mode only applies when no sort order is set. Either way
      // rows are sorted within tasks on the partition tuple, so a task
      // writes one tuple at a time: one open file, one file per tuple.
      val distMode =
        head.properties.getOrElse("graft.write.distribution-mode", "none")
      val clustered =
        if (sortKeys.nonEmpty) {
          val keys = partCols.map(col) ++ sortKeys
          withParts.repartitionByRange(keys: _*).sortWithinPartitions(keys: _*)
        } else if (spec.isEmpty) withParts
        else (distMode match {
          case "hash" => withParts.repartition(partCols.map(col): _*)
          case "range" => withParts.repartitionByRange(partCols.map(col): _*)
          case _ => withParts
        }).sortWithinPartitions(partCols.map(col): _*)

      val written = LakeFileWriter(spark, SchemaNames.toPhysical(schema))
        .writeFrame(clustered, staging, spec.map(_.name))

      // Per-file bloom filters for `graft.bloom-columns` (STRING columns
      // only — the hash inserted must be byte-identical to the hash probed,
      // and only strings have one unambiguous literal type at prune time).
      // One column-pruned pass over the staged files, grouped by file, via
      // Spark's own BloomFilterAggregate (the runtime-filter sketch), so
      // lookup uses the same xxhash64 domain. Opt-in per table because the
      // extra read pass is only worth it for point-lookup-heavy columns.
      val bloomCols: Seq[String] = head.properties.get("graft.bloom-columns")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
        .map { logical =>
          schema.fields.find(_.name == logical) match {
            case Some(f) =>
              require(f.dataType == StringType,
                s"graft.bloom-columns supports STRING columns only; " +
                  s"'$logical' is ${f.dataType.simpleString}")
              SchemaNames.physicalName(f)
            case None => throw new IllegalArgumentException(
              s"graft.bloom-columns column '$logical' not in table schema")
          }
        }
      // Per-file NDV sketches (`graft.ndv-columns`): mergeable HLL sketches
      // (datasketches, via Spark's hll_sketch_agg) — unioned across files
      // they answer "how many distinct values" from METADATA ONLY, feeding
      // the `t.stats` table and the optimizer's columnStats (join
      // reordering / broadcast decisions under CBO).
      val ndvCols: Seq[String] = head.properties.get("graft.ndv-columns")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
        .map { logical =>
          schema.fields.find(_.name == logical) match {
            case Some(f) =>
              require(Seq(IntegerType, LongType, StringType).contains(f.dataType),
                s"graft.ndv-columns supports INT/BIGINT/STRING columns; " +
                  s"'$logical' is ${f.dataType.simpleString}")
              SchemaNames.physicalName(f)
            case None => throw new IllegalArgumentException(
              s"graft.ndv-columns column '$logical' not in table schema")
          }
        }
      // One column-pruned pass over the staged files computes BOTH sketch
      // families, grouped by file name.
      val (bloomsByFile, ndvByFile): (Map[String, Map[String, String]],
          Map[String, Map[String, String]]) =
        if ((bloomCols.isEmpty && ndvCols.isEmpty) || written.isEmpty)
          (Map.empty, Map.empty)
        else {
          import org.apache.spark.sql.graftbridge.ColumnBridge
          import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
          import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
          val numBits = bloomBits(head.properties)
          val bloomAggs = bloomCols.map { c =>
            ColumnBridge.column(new BloomFilterAggregate(
              new XxHash64(Seq(ColumnBridge.expression(col(c)))),
              Literal(math.max(numBits / 10, 64L)), Literal(numBits))
              .toAggregateExpression()).as(s"__bf_$c")
          }
          val ndvAggs = ndvCols.map(c => hll_sketch_agg(col(c), 12).as(s"__ndv_$c"))
          val aggs = bloomAggs ++ ndvAggs
          val rows = spark.read.parquet(staging.toString)
            .groupBy(input_file_name().as("__f"))
            .agg(aggs.head, aggs.tail: _*)
            .collect()
          def sliceOf(offset: Int, cols: Seq[String]) = rows.map { r =>
            val fname = r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1)
            fname -> cols.zipWithIndex.flatMap { case (c, i) =>
              Option(r.getAs[Array[Byte]](offset + i)).map(b =>
                c -> java.util.Base64.getEncoder.encodeToString(b))
            }.toMap
          }.toMap
          (sliceOf(1, bloomCols), sliceOf(1 + bloomCols.size, ndvCols))
        }

      written.map { f =>
        store.io.publish(staging.resolve(f.name), store.dataDir.resolve(f.name))
        DataFile(s"data/${f.name}", f.rowCount, f.sizeBytes, f.partitionValues,
          f.stats,
          blooms = bloomsByFile.getOrElse(f.name, Map.empty),
          ndv = ndvByFile.getOrElse(f.name, Map.empty),
          seq = Snapshot.UnassignedSeq,
          sortedBy = plainSortCols)
      }
    } finally store.io.deleteTree(staging)
  }

  /** True when `df` holds only driver-side rows — every leaf of its
    * optimized plan is a `LocalRelation` (INSERT ... VALUES, a local Seq
    * frame) — of at most one read split (`spark.sql.files.maxPartitionBytes`)
    * in estimated size. The analyzed plan's leaves rule out scans before
    * anything is optimized; a VALUES list becomes a `LocalRelation` only
    * in the optimizer. */
  private def smallLocalInput(spark: SparkSession, df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.analysis.ResolvedInlineTable
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    df.queryExecution.analyzed.collectLeaves().forall {
      case _: LocalRelation | _: ResolvedInlineTable => true
      case _ => false
    } && {
      val opt = df.queryExecution.optimizedPlan
      opt.collectLeaves().forall(_.isInstanceOf[LocalRelation]) &&
        opt.stats.sizeInBytes <= spark.sessionState.conf.filesMaxPartitionBytes
    }
  }

  /** Parse a whole-number `graft.*` setting (a table property or a
    * session conf), naming the key and the bad value when it does not
    * parse. */
  private[graft] def longSetting(key: String, value: String): Long =
    try value.trim.toLong
    catch {
      case e: NumberFormatException => throw new IllegalArgumentException(
        s"$key must be a whole number, got '$value'", e)
    }

  /** Bits per bloom filter: the `graft.bloom-bits` table property, 65536
    * when unset. Written by appends and backfilled by `analyze`. */
  private[graft] def bloomBits(props: Map[String, String]): Long =
    props.get("graft.bloom-bits").map(longSetting("graft.bloom-bits", _))
      .getOrElse(65536L)

  /** (Re)compute GENERATED ALWAYS AS columns over `df`. Deterministic
    * expressions over unchanged source columns make re-application
    * idempotent, so `writeFiles` re-running it after a call site already
    * did is harmless (Catalyst collapses the projections). Every call site
    * that wraps a write in [[enforceChecks]] MUST run this first: the
    * analyzer hands the connector NULL for generated columns, and a CHECK
    * referencing one would otherwise evaluate NULL → pass, letting a
    * violating generated value commit silently. */
  def applyGenerated(df: DataFrame, generated: Map[String, String]): DataFrame =
    generated.foldLeft(df) { case (d, (c, sql)) => d.withColumn(c, expr(sql)) }

  /** Fail the write when a row violates an enforced CHECK constraint
    * (predicate FALSE; NULL passes, per SQL CHECK semantics). Evaluated
    * inline as a filter wrapping `raise_error` — no extra pass over the
    * data, and a `filter` cannot be pruned away like an unused column.
    * Belt-and-suspenders under Spark's own analyzer-side enforcement
    * (which covers SQL writes but not direct API ingest like Upsert). */
  def enforceChecks(df: DataFrame, checks: Map[String, String]): DataFrame =
    checks.toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, sql)) =>
      d.filter(
        when(not(coalesce(expr(sql), lit(true))),
          raise_error(concat(
            lit(s"CHECK constraint '$n' ($sql) violated by row: "),
            to_json(struct(d.columns.map(col).toIndexedSeq: _*))))
            .cast("boolean"))
          .otherwise(lit(true)))
    }

  /** Fill IDENTITY columns at ingest: value = lastValue + step × (sparse
    * per-partition id + 1). `monotonically_increasing_id` is unique and
    * shuffle-free but NOT dense (partition ordinal lives in the high
    * bits), so identity values have gaps — the standard warehouse
    * semantics; what matters is uniqueness and step direction, and the
    * committed high-water mark comes from the written files' own column
    * stats, so it is exact whatever the gaps. */
  private def fillIdentity(df: DataFrame, head: Snapshot): DataFrame =
    head.identity.foldLeft(df) { case (d, (c, ic)) =>
      val last = ic.lastValue.getOrElse(ic.start - ic.step)
      val assigned = lit(last) +
        lit(ic.step) * (monotonically_increasing_id() + lit(1L))
      if (ic.allowExplicit) // BY DEFAULT: only fill rows that omitted it
        d.withColumn(c, coalesce(col(c).cast("long"), assigned))
      else // ALWAYS: an explicit value is an error (enforced here — the
           // analyzer leaves v2 identity enforcement to the connector)
        d.withColumn(c,
          when(col(c).isNotNull,
            raise_error(lit(s"cannot INSERT an explicit value into " +
              s"'$c': it is GENERATED ALWAYS AS IDENTITY")).cast("long"))
            .otherwise(assigned))
    }

  /** Append or replace the table content with `df`. */
  def insert(
      spark: SparkSession,
      store: SnapshotStore,
      df: DataFrame,
      overwrite: Boolean): Snapshot = {
    val head = store.head().getOrElse(
      throw new IllegalStateException(s"table not initialized: ${store.tableDir}"))
    val newFiles = writeFiles(spark, store, head,
      enforceChecks(
        applyGenerated(fillIdentity(df, head), head.generated), head.checks))
    // advance each identity column's high-water mark from the WRITTEN
    // files' column stats (exact, independent of assignment gaps)
    def advanceIdentity(p: Snapshot): Map[String, IdentityCol] = {
      // identity assignment read the high-water mark at plan time: a
      // concurrent insert that advanced it would make our values collide
      if (head.identity.nonEmpty)
        require(p.version == head.version,
          s"concurrent insert into identity table ${store.tableDir}; retry")
      p.identity.map { case (c, ic) =>
        val phys = p.schema.fields.find(_.name == c)
          .map(SchemaNames.physicalName).getOrElse(c)
        val extremes = newFiles.flatMap(f => f.stats.get(phys)
          .flatMap(st => if (ic.step > 0) st.max else st.min)
          .flatMap(s => scala.util.Try(BigDecimal(s).toLongExact).toOption))
        val batchEdge =
          if (extremes.isEmpty) None
          else Some(if (ic.step > 0) extremes.max else extremes.min)
        val merged = (ic.lastValue, batchEdge) match {
          case (Some(a), Some(b)) => Some(if (ic.step > 0) a.max(b) else a.min(b))
          case (a, b) => b.orElse(a)
        }
        c -> ic.copy(lastValue = merged)
      }
    }
    if (overwrite)
      store.commit { prev =>
        val p = prev.getOrElse(head)
        // full overwrite discards every previous row — pending MOR deletes
        // apply only to discarded files, so they go too
        p.copy(
          identity = advanceIdentity(p),
          timestampMs = System.currentTimeMillis(),
          operation = "overwrite",
          files = newFiles,
          deleteFiles = Seq.empty,
          summary = Map(
            "added-files" -> newFiles.size.toString,
            "added-records" -> newFiles.map(_.rowCount).sum.toString,
            "total-files" -> newFiles.size.toString,
            "total-records" -> newFiles.map(_.rowCount).sum.toString))
      }
    else
      // O(added) metadata: parent chunks reused by reference, totals from
      // the ref rollups — a streaming sink appends to a million-file
      // table at per-batch cost, not per-table
      store.commitAppend(newFiles) { (p, stamped) =>
        val addedRows = stamped.map(_.rowCount).sum
        p.copy(
          identity = advanceIdentity(p),
          timestampMs = System.currentTimeMillis(),
          operation = "append",
          summary = Map(
            "added-files" -> stamped.size.toString,
            "added-records" -> addedRows.toString,
            "total-files" -> (p.fileCount + stamped.size).toString,
            // deletion-vector cardinalities only: an equality tuple kills
            // 0..N rows, so its rowCount is not a row count — matching
            // Snapshot.totalRows and the overwrite path
            "total-records" -> (p.dataFileRows + addedRows -
              p.deleteFiles.filter(_.positional)
                .map(_.rowCount).sum).toString))
      }
  }
}
