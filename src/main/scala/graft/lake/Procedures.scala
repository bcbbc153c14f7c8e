package graft.lake

import java.nio.file.Path
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{Scan, V1Scan}
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types._

/** Maintenance procedures exposed through Spark SQL `CALL` (SURVEY.md
  * §2.2 D13, §2.11.1): the reference wraps compaction in invalid
  * `ALTER TABLE … COMPACT` SQL (`warehouse_helpers.py:142-146`); the real
  * Iceberg surface is `CALL cat.system.rewrite_data_files(...)` — mirrored
  * here:
  *
  * {{{
  *   CALL graft.system.compact(`table` => 'ns.t')
  *   CALL graft.system.expire_snapshots(`table` => 'ns.t', keep_last => 3)
  *   CALL graft.system.remove_orphan_files(`table` => 'ns.t')
  * }}}
  */
object Procedures {

  val Namespace: Array[String] = Array("system")
  val names: Seq[String] = Seq("compact", "rewrite_deletes",
    "expire_snapshots", "remove_orphan_files", "create_tag", "drop_tag",
    "rollback_to_version", "refresh_mv", "refresh_mv_groups",
    "set_partition_spec", "analyze",
    "create_branch", "drop_branch", "fast_forward", "changelog",
    "register_table", "retrain_semantic_index")

  /** Parse a comma list of partition-field specs: `col` (identity),
    * `days(col)` / `months(col)` / `years(col)`, `bucket[N](col)`. */
  private[lake] def parsePartitionSpec(s: String): Seq[PartitionField] = {
    val Fn = """(days|months|years)\(([^)]+)\)""".r
    val Bucket = """bucket\[(\d+)\]\(([^)]+)\)""".r
    s.split(',').map(_.trim).filter(_.nonEmpty).toSeq.map {
      case Fn(fn, c) => PartitionField(s"$fn($c)", fn, c.trim)
      case Bucket(n, c) => PartitionField(s"bucket[$n]($c)", s"bucket[$n]", c.trim)
      case c => PartitionField(c, "identity", c)
    }
  }

  def load(catalogName: String, warehouse: Path, ident: Identifier,
      io: MetaIO = LocalMetaIO): UnboundProcedure = {
    require(ident.namespace().sameElements(Namespace),
      s"unknown procedure namespace ${ident.namespace().mkString(".")}")
    def storeFor(tblRef: String): SnapshotStore = {
      // `ns.t@branch` addresses a branch's chain: maintenance (compact,
      // rewrite_deletes, changelog, ...) then operates on the staged
      // state — e.g. folding a branch's upsert deletes BEFORE publishing
      // split with -1: a trailing '@' must error, not silently mean main
      val (tbl, branch) = tblRef.split("@", -1) match {
        case Array(t) => (t, None)
        case Array(t, b) => (t, Some(b))
        case _ => throw new IllegalArgumentException(
          s"bad table reference '$tblRef' (want <ns>.<table>[@branch])")
      }
      // same charset rule as create_branch: anything else ('..', '/',
      // empty) is at best a typo and at worst path traversal into another
      // chain's metadata
      branch.foreach(b => require(b.matches("[A-Za-z][A-Za-z0-9._-]*"),
        s"invalid branch name '$b' in '$tblRef'"))
      val parts = tbl.split('.')
      // follow the external-location pointer so maintenance procedures
      // work on path-addressed tables too
      val main = new SnapshotStore(SnapshotStore.resolveTableDir(
        parts.foldLeft(warehouse)((p, e) => p.resolve(e)), io), io = io)
      if (!main.exists)
        throw new IllegalArgumentException(
          s"table '$tbl' not found in catalog '$catalogName' " +
            s"(expected <namespace>.<table>)")
      branch match {
        case None => main
        case Some(b) =>
          val bst = main.branchStore(b)
          if (!bst.exists)
            throw new IllegalArgumentException(s"no branch '$b' on '$tbl'")
          bst
      }
    }
    ident.name() match {
      case "compact" =>
        simple(ident.name(), "rewrite small data files into larger ones",
          Seq(ProcedureParameter.in("table", StringType).build())) { args =>
          val tbl = args.getUTF8String(0).toString
          val snap = Maintenance.compact(SparkSession.active, storeFor(tbl))
          Seq(Row(tbl, snap.version, snap.fileCount))
        }
      case "rewrite_deletes" =>
        simple(ident.name(),
          "fold merge-on-read deletes back into the data files",
          Seq(ProcedureParameter.in("table", StringType).build())) { args =>
          val tbl = args.getUTF8String(0).toString
          val snap = Maintenance.rewriteDeletes(SparkSession.active, storeFor(tbl))
          Seq(Row(tbl, snap.version, snap.deleteFiles.size.toLong))
        }
      case "changelog" =>
        simple(ident.name(),
          "register a temp view with the row-level changelog between two versions",
          Seq(ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("from_version", LongType).build(),
            ProcedureParameter.in("to_version", LongType).build(),
            ProcedureParameter.in("view", StringType).build())) { args =>
          val tbl = args.getUTF8String(0).toString
          val from = args.getLong(1)
          val to = args.getLong(2)
          val view = args.getUTF8String(3).toString
          val df = Changes.between(SparkSession.active, storeFor(tbl), from, to)
          df.createOrReplaceTempView(view)
          Seq(Row(s"$tbl->$view", to, 0L))
        }
      case "create_branch" =>
        simple(ident.name(),
          "fork a writable branch at the current head (write-audit-publish)",
          Seq(ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("branch", StringType).build())) { args =>
          val tbl = args.getUTF8String(0).toString
          val b = args.getUTF8String(1).toString
          Maintenance.createBranch(storeFor(tbl), b)
          Seq(Row(s"$tbl@$b", 0L, 0L))
        }
      case "drop_branch" =>
        simple(ident.name(), "delete a branch's snapshot chain",
          Seq(ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("branch", StringType).build())) { args =>
          val tbl = args.getUTF8String(0).toString
          val b = args.getUTF8String(1).toString
          Maintenance.dropBranch(storeFor(tbl), b)
          Seq(Row(s"$tbl@$b", 0L, 0L))
        }
      case "fast_forward" =>
        simple(ident.name(),
          "publish a branch head as one atomic main-chain commit",
          Seq(ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("branch", StringType).build())) { args =>
          val tbl = args.getUTF8String(0).toString
          val b = args.getUTF8String(1).toString
          val snap = Maintenance.fastForward(SparkSession.active, storeFor(tbl), b)
          Seq(Row(s"$tbl@$b", snap.version, snap.fileCount))
        }
      case "register_table" =>
        // the adoption inverse of DROP on an external table (which
        // unregisters and leaves the tree): point a catalog name at an
        // existing table directory — e.g. re-attach after a drop, or
        // share one external tree with a second warehouse (Iceberg's
        // register_table)
        simple(ident.name(),
          "adopt an existing graft table tree at an external location",
          Seq(ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("location", StringType).build())) { args =>
          val tbl = args.getUTF8String(0).toString
          val loc = args.getUTF8String(1).toString
          val parts = tbl.split('.')
          require(parts.length >= 2, s"want <namespace>.<table>, got '$tbl'")
          val home = parts.foldLeft(warehouse)((p, e) => p.resolve(e))
          require(io.isDirectory(home.getParent),
            s"namespace '${parts.dropRight(1).mkString(".")}' does not exist")
          require(
            !new SnapshotStore(SnapshotStore.resolveTableDir(home, io),
              io = io).exists,
            s"table '$tbl' already exists")
          val dir = java.nio.file.Paths.get(loc).toAbsolutePath
          val st = new SnapshotStore(dir, io = io)
          val head = st.head().getOrElse(throw new IllegalArgumentException(
            s"no graft table metadata at $dir"))
          io.mkdirs(home)
          io.replaceAtomic(
            home.resolve(SnapshotStore.ExternalPointer), dir.toString)
          Seq(Row(tbl, head.version, head.fileCount))
        }
      case "expire_snapshots" =>
        simple(ident.name(), "drop old snapshot versions and unreferenced files",
          Seq(ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("keep_last", IntegerType).build())) { args =>
          val tbl = args.getUTF8String(0).toString
          val keep = args.getInt(1)
          val expired = Maintenance.expireSnapshots(storeFor(tbl), keep)
          Seq(Row(tbl, expired.size.toLong, expired.size.toLong))
        }
      case "remove_orphan_files" =>
        simple(ident.name(), "delete data files referenced by no snapshot",
          Seq(ProcedureParameter.in("table", StringType).build(),
            // same shape as Iceberg's older_than: the age guard below
            // which unreferenced files are presumed in-flight, not orphaned
            ProcedureParameter.in("older_than_ms", LongType)
              .defaultValue("3600000")
              .comment("only unreferenced files older than this are collected")
              .build())) { args =>
          val tbl = args.getUTF8String(0).toString
          val removed = Maintenance.removeOrphanFiles(storeFor(tbl),
            args.getLong(1))
          Seq(Row(tbl, removed.size.toLong, 0L))
        }
      case "create_tag" =>
        simple(ident.name(), "pin a named tag to a snapshot version",
          Seq(ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("tag", StringType).build(),
            ProcedureParameter.in("version", LongType).build())) { args =>
          val tbl = args.getUTF8String(0).toString
          val tag = args.getUTF8String(1).toString
          val v = args.getLong(2)
          storeFor(tbl).setRef(tag, v)
          Seq(Row(tbl, v, 0L))
        }
      case "drop_tag" =>
        simple(ident.name(), "remove a named tag",
          Seq(ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("tag", StringType).build())) { args =>
          val tbl = args.getUTF8String(0).toString
          storeFor(tbl).dropRef(args.getUTF8String(1).toString)
          Seq(Row(tbl, 0L, 0L))
        }
      case "rollback_to_version" =>
        simple(ident.name(),
          "make the table's head a copy of an earlier snapshot",
          Seq(ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("version", LongType).build())) { args =>
          val tbl = args.getUTF8String(0).toString
          val v = args.getLong(1)
          val st = storeFor(tbl)
          require(st.listVersions().contains(v), s"no snapshot v$v")
          // a NEW snapshot with the old content — history stays intact,
          // the rollback itself is an auditable commit
          val snap = st.commit { _ =>
            st.read(v).copy(
              timestampMs = System.currentTimeMillis(),
              operation = "rollback",
              summary = Map("rolled-back-to" -> v.toString))
          }
          Seq(Row(tbl, snap.version, v))
        }
      case "refresh_mv" =>
        simple(ident.name(),
          "incrementally refresh a materialized count/sum aggregate",
          Seq(ProcedureParameter.in("source", StringType).build(),
            ProcedureParameter.in("mv", StringType).build(),
            ProcedureParameter.in("keys", StringType).build(), // comma list
            ProcedureParameter.in("value_col", StringType).build())) { args =>
          val src = args.getUTF8String(0).toString
          val mv = args.getUTF8String(1).toString
          val keys = args.getUTF8String(2).toString
            .split(',').map(_.trim).filter(_.nonEmpty).toSeq
          val valueCol = args.getUTF8String(3).toString
          // the MV table may not exist yet (first refresh creates it)
          val mvStore = new SnapshotStore(
            mv.split('.').foldLeft(warehouse)((p, e) => p.resolve(e)))
          val through = IncrementalAgg.refresh(SparkSession.active,
            storeFor(src), mvStore, keys, valueCol)
          Seq(Row(mv, through, 0L))
        }
      case "refresh_mv_groups" =>
        simple(ident.name(),
          "incrementally refresh a count/sum/max/min aggregate " +
            "(affected-groups merge for the non-subtractable max/min)",
          Seq(ProcedureParameter.in("source", StringType).build(),
            ProcedureParameter.in("mv", StringType).build(),
            ProcedureParameter.in("keys", StringType).build(), // comma list
            ProcedureParameter.in("value_col", StringType).build())) { args =>
          val src = args.getUTF8String(0).toString
          val mv = args.getUTF8String(1).toString
          val keys = args.getUTF8String(2).toString
            .split(',').map(_.trim).filter(_.nonEmpty).toSeq
          val valueCol = args.getUTF8String(3).toString
          val mvStore = new SnapshotStore(
            mv.split('.').foldLeft(warehouse)((p, e) => p.resolve(e)))
          val through = IncrementalAgg.refreshGroups(SparkSession.active,
            storeFor(src), mvStore, keys, valueCol)
          Seq(Row(mv, through, 0L))
        }
      case "retrain_semantic_index" =>
        // the drift response for SemanticIngest (VERDICT r9 #4): retrain
        // centroids on a fresh bounded sample of the CURRENT corpus, then
        // rebuild the cluster index in one map-only pass — run when the
        // ingest reports' low_affinity share rises
        simple(ident.name(),
          "retrain semantic-ingest centroids and rebuild the cluster index",
          Seq(ProcedureParameter.in("corpus", StringType).build(),
            ProcedureParameter.in("centroids", StringType).build(),
            ProcedureParameter.in("index", StringType).build())) { args =>
          val corpus = args.getUTF8String(0).toString
          val cents = args.getUTF8String(1).toString
          val index = args.getUTF8String(2).toString
          val r = graft.operators.SemanticIngest.retrainSemanticIndex(
            SparkSession.active, s"$catalogName.$corpus",
            s"$catalogName.$cents", s"$catalogName.$index")
          Seq(Row(corpus, r.indexedVectors, r.centroids.toLong))
        }
      case "analyze" =>
        simple(ident.name(),
          "backfill bloom/NDV sketches for files missing them",
          Seq(ProcedureParameter.in("table", StringType).build())) { args =>
          val tbl = args.getUTF8String(0).toString
          val snap = Maintenance.analyze(SparkSession.active, storeFor(tbl))
          Seq(Row(tbl, snap.version,
            snap.summary.getOrElse("analyzed-files", "0").toLong))
        }
      case "set_partition_spec" =>
        simple(ident.name(),
          "evolve the partition spec without rewriting data (Iceberg " +
            "partition evolution: old files keep their layout and prune " +
            "conservatively; new writes use the new spec)",
          Seq(ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("spec", StringType).build())) { args =>
          val tbl = args.getUTF8String(0).toString
          val specStr = args.getUTF8String(1).toString
          val st = storeFor(tbl)
          val snap = st.commit { prev =>
            val p = prev.getOrElse(
              throw new IllegalArgumentException(s"empty table $tbl"))
            val spec = parsePartitionSpec(specStr)
            // sources must resolve against the CURRENT schema (physical)
            spec.foreach { f =>
              val known = p.schema.fields.map(SchemaNames.physicalName).toSet
              require(known.contains(f.source),
                s"partition source column '${f.source}' not in table schema")
            }
            p.copy(
              timestampMs = System.currentTimeMillis(),
              operation = "evolve-partition",
              partitionSpec = spec,
              summary = Map("new-spec" -> specStr))
          }
          Seq(Row(tbl, snap.version, snap.partitionSpec.size.toLong))
        }
      case other =>
        throw new IllegalArgumentException(s"unknown procedure $other")
    }
  }

  private val resultSchema = StructType(Seq(
    StructField("table", StringType),
    StructField("result_version_or_count", LongType),
    StructField("detail", LongType)))

  private def simple(
      procName: String,
      desc: String,
      params: Seq[ProcedureParameter])(
      body: InternalRow => Seq[Row]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = desc
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = procName
          override def description(): String = desc
          override def parameters(): Array[ProcedureParameter] = params.toArray
          override def isDeterministic: Boolean = false
          override def call(input: InternalRow): java.util.Iterator[Scan] = {
            val rows = body(input)
            java.util.List.of[Scan](new LocalRowsScan(resultSchema, rows))
              .iterator()
          }
        }
    }
}

/** Driver-local procedure result scan. Spark's CALL execution requires a
  * `LocalScan` (InternalRow[] on the driver) for procedure output. */
final class LocalRowsScan(outSchema: StructType, resultRows: Seq[Row])
  extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = outSchema
  override def rows(): Array[InternalRow] = {
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(outSchema)
    resultRows.map(r => conv(r).asInstanceOf[InternalRow]).toArray
  }
}
