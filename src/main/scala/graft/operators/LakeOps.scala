package graft.operators

import org.apache.spark.sql.SparkSession
import graft.lake.GraftCatalog
import graft.{Q, Tables}

/** Catalog-backed queries for the driver's oracle gate: each pushes fixture
  * data through the FULL lakehouse path — CREATE TABLE → INSERT (staged
  * parquet + stats + snapshot commit) → catalog scan (pruning + LakeScan)
  * — and returns rows that must hash-match DuckDB reading the ORIGINAL
  * parquet. Any corruption anywhere in the write/commit/read pipeline
  * breaks the match.
  */
object LakeOps {

  private val Cat = "graft"

  private def ensureCatalog(s: SparkSession): Unit = {
    if (s.conf.getOption(s"spark.sql.catalog.$Cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$Cat", classOf[GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$Cat.warehouse",
        java.nio.file.Files.createTempDirectory("graft-wh-verify").toString)
    }
  }

  /** Full write→commit→scan roundtrip of the nation table. */
  val qLakeRoundtrip: Q = Q(
    "q_lake_roundtrip",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
       ORDER BY n_nationkey""") { (s, d) =>
    ensureCatalog(s)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.verify")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.nation")
    s.sql(s"""CREATE TABLE $Cat.verify.nation
              (n_nationkey INT, n_name STRING, n_regionkey INT)
              USING graft""")
    Tables.nation(s, d).createOrReplaceTempView("graft_src_nation")
    s.sql(s"INSERT INTO $Cat.verify.nation SELECT * FROM graft_src_nation")
    s.sql(s"""SELECT n_nationkey, n_name, n_regionkey
              FROM $Cat.verify.nation ORDER BY n_nationkey""")
  }

  /** Time travel correctness: append region twice, read VERSION AS OF the
    * first append — must equal the original region exactly. */
  val qLakeTimeTravel: Q = Q(
    "q_lake_timetravel",
    "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey") { (s, d) =>
    ensureCatalog(s)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.verify")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.region")
    s.sql(s"""CREATE TABLE $Cat.verify.region
              (r_regionkey INT, r_name STRING) USING graft""")
    Tables.region(s, d).createOrReplaceTempView("graft_src_region")
    s.sql(s"INSERT INTO $Cat.verify.region SELECT * FROM graft_src_region")
    s.sql(s"INSERT INTO $Cat.verify.region SELECT * FROM graft_src_region")
    // v1=create, v2=first append, v3=duplicate append
    s.sql(s"""SELECT r_regionkey, r_name
              FROM $Cat.verify.region VERSION AS OF 2 ORDER BY r_regionkey""")
  }

  /** Hidden-partition pruning correctness on a partitioned lake table:
    * supplier partitioned by bucket + filter must equal the plain filter on
    * the source parquet. */
  val qLakePartitioned: Q = Q(
    "q_lake_partitioned",
    """SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 2) AS bal
       FROM supplier WHERE s_nationkey >= 10
       ORDER BY s_suppkey""") { (s, d) =>
    ensureCatalog(s)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.verify")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.supplier")
    s.sql(s"""CREATE TABLE $Cat.verify.supplier
              (s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE)
              USING graft PARTITIONED BY (s_nationkey)""")
    Tables.supplier(s, d).createOrReplaceTempView("graft_src_supplier")
    s.sql(s"INSERT INTO $Cat.verify.supplier SELECT * FROM graft_src_supplier")
    s.sql(s"""SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 2) AS bal
              FROM $Cat.verify.supplier WHERE s_nationkey >= 10
              ORDER BY s_suppkey""")
  }

  /** Schema evolution: ADD COLUMN then read old rows (null-fill) plus new
    * rows — oracle reproduces with a UNION. */
  val qLakeEvolution: Q = Q(
    "q_lake_evolution",
    """SELECT r_regionkey, r_name, CAST(NULL AS INTEGER) AS extra
       FROM region
       UNION ALL
       SELECT 99, 'NEWLAND', 7
       ORDER BY r_regionkey""") { (s, d) =>
    ensureCatalog(s)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.verify")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.region_evo")
    s.sql(s"""CREATE TABLE $Cat.verify.region_evo
              (r_regionkey INT, r_name STRING) USING graft""")
    Tables.region(s, d).createOrReplaceTempView("graft_src_region_evo")
    s.sql(s"INSERT INTO $Cat.verify.region_evo SELECT * FROM graft_src_region_evo")
    s.sql(s"ALTER TABLE $Cat.verify.region_evo ADD COLUMN extra INT")
    s.sql(s"INSERT INTO $Cat.verify.region_evo VALUES (99, 'NEWLAND', 7)")
    s.sql(s"""SELECT r_regionkey, r_name, extra
              FROM $Cat.verify.region_evo ORDER BY r_regionkey""")
  }

  /** Dynamic partition overwrite: rewrite the partitions the new data
    * lands in (regions 0 and 2 get lower-cased names), leave the rest
    * untouched — oracle reproduces with a CASE over the source table. */
  val qLakeDynOverwrite: Q = Q(
    "q_lake_dyn_overwrite",
    """SELECT n_nationkey,
              CASE WHEN n_regionkey IN (0, 2) THEN lower(n_name)
                   ELSE n_name END AS n_name,
              n_regionkey
       FROM nation ORDER BY n_nationkey""") { (s, d) =>
    ensureCatalog(s)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.verify")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.nation_dyn")
    s.sql(s"""CREATE TABLE $Cat.verify.nation_dyn
              (n_nationkey INT, n_name STRING, n_regionkey INT)
              USING graft PARTITIONED BY (n_regionkey)""")
    Tables.nation(s, d).createOrReplaceTempView("graft_src_nation_dyn")
    s.sql(s"INSERT INTO $Cat.verify.nation_dyn SELECT * FROM graft_src_nation_dyn")
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = s.conf.get(key)
    s.conf.set(key, "dynamic")
    try s.sql(s"""INSERT OVERWRITE $Cat.verify.nation_dyn
                  SELECT n_nationkey, lower(n_name), n_regionkey
                  FROM graft_src_nation_dyn WHERE n_regionkey IN (0, 2)""")
    finally s.conf.set(key, prev)
    s.sql(s"""SELECT n_nationkey, n_name, n_regionkey
              FROM $Cat.verify.nation_dyn ORDER BY n_nationkey""")
  }

  /** Batch CDC correctness: two appends then a row-level DELETE; the
    * changelog over (v1, v4] must be exactly insert-batch-1, insert-batch-2,
    * and the deleted rows as deletes — COW carryover rows (survivors
    * re-materialized by the delete's file rewrite) must cancel out. */
  val qLakeChanges: Q = Q(
    "q_lake_changes",
    """SELECT n_nationkey, n_name, n_regionkey,
              'insert' AS change_type, CAST(2 AS BIGINT) AS commit_version
       FROM nation WHERE n_regionkey < 2
       UNION ALL
       SELECT n_nationkey, n_name, n_regionkey, 'insert', 3
       FROM nation WHERE n_regionkey >= 2
       UNION ALL
       SELECT n_nationkey, n_name, n_regionkey, 'delete', 4
       FROM nation WHERE n_nationkey % 5 = 0
       ORDER BY commit_version, change_type, n_nationkey""") { (s, d) =>
    ensureCatalog(s)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.verify")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.nation_cdc")
    s.sql(s"""CREATE TABLE $Cat.verify.nation_cdc
              (n_nationkey INT, n_name STRING, n_regionkey INT)
              USING graft""")
    Tables.nation(s, d).createOrReplaceTempView("graft_src_nation_cdc")
    s.sql(s"""INSERT INTO $Cat.verify.nation_cdc
              SELECT * FROM graft_src_nation_cdc WHERE n_regionkey < 2""")
    s.sql(s"""INSERT INTO $Cat.verify.nation_cdc
              SELECT * FROM graft_src_nation_cdc WHERE n_regionkey >= 2""")
    s.sql(s"DELETE FROM $Cat.verify.nation_cdc WHERE n_nationkey % 5 = 0")
    val wh = s.conf.get(s"spark.sql.catalog.$Cat.warehouse")
    val store = new graft.lake.SnapshotStore(
      java.nio.file.Paths.get(wh, "verify", "nation_cdc"))
    graft.lake.Changes.between(s, store, 1L, 4L)
      .select(org.apache.spark.sql.functions.col("n_nationkey"),
        org.apache.spark.sql.functions.col("n_name"),
        org.apache.spark.sql.functions.col("n_regionkey"),
        org.apache.spark.sql.functions.col(graft.lake.Changes.ChangeType)
          .as("change_type"),
        org.apache.spark.sql.functions.col(graft.lake.Changes.CommitVersion)
          .as("commit_version"))
      .orderBy("commit_version", "change_type", "n_nationkey")
  }

  /** SQL-function path: graft.system.cosine called from plain SQL over
    * consecutive embedding pairs, hash-matched against DuckDB's
    * list_cosine_similarity — proving the FunctionCatalog binding computes
    * exactly what the DataFrame kernels do. */
  val qSqlCosine: Q = Q(
    "q_sql_cosine",
    """SELECT a.vec_id AS id_a,
              round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 6) AS sim
       FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
       ORDER BY id_a""") { (s, d) =>
    ensureCatalog(s)
    Tables.embeddings(s, d).createOrReplaceTempView("graft_src_emb")
    s.sql("""SELECT a.vec_id AS id_a,
                    round(graft.system.cosine(CAST(a.embedding AS ARRAY<DOUBLE>),
                                              CAST(b.embedding AS ARRAY<DOUBLE>)), 6) AS sim
             FROM graft_src_emb a JOIN graft_src_emb b ON b.vec_id = a.vec_id + 1
             ORDER BY id_a""")
  }

  /** Clustered-write correctness: lineitem pushed through a table with
    * z-order clustering, bloom AND NDV sketches all active, then read back
    * through every pruning path (stats + bloom) — must exactly match the
    * plain filter on the source parquet. Any wrong prune loses rows; any
    * clustering bug reorders or corrupts them. */
  val qLakeClustered: Q = Q(
    "q_lake_clustered",
    """SELECT l_orderkey, l_partkey, l_suppkey, round(l_quantity, 2) AS qty
       FROM lineitem
       WHERE l_orderkey BETWEEN 1000 AND 2000 AND l_returnflag = 'R'
       ORDER BY l_orderkey, l_partkey, l_suppkey, qty""") { (s, d) =>
    ensureCatalog(s)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.verify")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.li_clustered")
    s.sql(s"""CREATE TABLE $Cat.verify.li_clustered
              (l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT,
               l_quantity DOUBLE, l_returnflag STRING)
              USING graft
              TBLPROPERTIES ('graft.sort-order' = 'zorder(l_orderkey, l_partkey)',
                             'graft.bloom-columns' = 'l_returnflag',
                             'graft.ndv-columns' = 'l_suppkey')""")
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_returnflag")
      .createOrReplaceTempView("graft_src_li")
    s.sql(s"INSERT INTO $Cat.verify.li_clustered SELECT * FROM graft_src_li")
    s.sql(s"""SELECT l_orderkey, l_partkey, l_suppkey, round(l_quantity, 2) AS qty
              FROM $Cat.verify.li_clustered
              WHERE l_orderkey BETWEEN 1000 AND 2000 AND l_returnflag = 'R'
              ORDER BY l_orderkey, l_partkey, l_suppkey, qty""")
  }

  /** Merge-on-read DELETE correctness end to end: customers loaded into a
    * MOR table, two stacked DELETEs recorded as deletion vectors (data
    * files untouched), then a full scan + aggregation — must hash-match
    * DuckDB computing the same deletes as WHERE complements. Exercises the
    * vector write path, the in-reader delete path, and their NULL semantics. */
  val qLakeMorDelete: Q = Q(
    "q_lake_mor_delete",
    """SELECT c_nationkey, count(*) AS n, CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS bal
       FROM customer
       WHERE NOT (c_mktsegment = 'BUILDING')
         AND NOT (c_custkey % 7 = 0)
       GROUP BY c_nationkey ORDER BY c_nationkey""") { (s, d) =>
    ensureCatalog(s)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.verify")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.customer_mor")
    s.sql(s"""CREATE TABLE $Cat.verify.customer_mor
              (c_custkey BIGINT, c_nationkey INT, c_acctbal DOUBLE,
               c_mktsegment STRING)
              USING graft
              TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    Tables.customer(s, d)
      .select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
      .createOrReplaceTempView("graft_src_customer_mor")
    s.sql(s"INSERT INTO $Cat.verify.customer_mor SELECT * FROM graft_src_customer_mor")
    s.sql(s"DELETE FROM $Cat.verify.customer_mor WHERE c_mktsegment = 'BUILDING'")
    s.sql(s"DELETE FROM $Cat.verify.customer_mor WHERE c_custkey % 7 = 0")
    s.sql(s"""SELECT c_nationkey, count(*) AS n,
                     CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS bal
              FROM $Cat.verify.customer_mor
              GROUP BY c_nationkey ORDER BY c_nationkey""")
  }

  /** Merge-on-read UPSERT correctness end to end: orders loaded, then an
    * O(batch) upsert (append + equality-delete of the batch keys, one
    * commit, no scan of existing data) — the full-table read must equal
    * DuckDB's UNION of untouched rows and the replacement batch. Proves
    * sequence ordering: the batch's own rows survive the equality delete
    * committed alongside them. */
  val qLakeUpsert: Q = Q(
    "q_lake_upsert",
    """SELECT o_orderkey, o_custkey, o_orderstatus, round(price, 2) AS price
       FROM (
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice AS price
         FROM orders WHERE NOT (o_orderkey % 10 = 3)
         UNION ALL
         SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
                o_totalprice * 2 AS price
         FROM orders WHERE o_orderkey % 10 = 3
       ) ORDER BY o_orderkey""") { (s, d) =>
    ensureCatalog(s)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.verify")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.orders_upsert")
    s.sql(s"""CREATE TABLE $Cat.verify.orders_upsert
              (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
               o_totalprice DOUBLE)
              USING graft
              TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("graft_src_orders_upsert")
    s.sql(s"""INSERT INTO $Cat.verify.orders_upsert
              SELECT * FROM graft_src_orders_upsert""")
    val batch = s.sql("""SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
                                o_totalprice * 2 AS o_totalprice
                         FROM graft_src_orders_upsert
                         WHERE o_orderkey % 10 = 3""")
    val wh = s.conf.get(s"spark.sql.catalog.$Cat.warehouse")
    graft.lake.Upsert.into(s,
      new graft.lake.SnapshotStore(
        java.nio.file.Paths.get(wh, "verify", "orders_upsert")),
      batch, Seq("o_orderkey"))
    s.sql(s"""SELECT o_orderkey, o_custkey, o_orderstatus,
                     round(o_totalprice, 2) AS price
              FROM $Cat.verify.orders_upsert ORDER BY o_orderkey""")
  }

  /** Column DEFAULTs through the full evolution path: rows written BEFORE
    * an ADD COLUMN ... DEFAULT read the frozen default (not null), rows
    * after carry their own values — oracle reproduces with a UNION. */
  val qLakeDefaults: Q = Q(
    "q_lake_defaults",
    """SELECT r_regionkey, r_name, 'unreviewed' AS status FROM region
       UNION ALL
       SELECT 77, 'NOVA', 'approved'
       ORDER BY r_regionkey""") { (s, d) =>
    ensureCatalog(s)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.verify")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.region_dflt")
    s.sql(s"""CREATE TABLE $Cat.verify.region_dflt
              (r_regionkey INT, r_name STRING) USING graft""")
    Tables.region(s, d).createOrReplaceTempView("graft_src_region_dflt")
    s.sql(s"INSERT INTO $Cat.verify.region_dflt SELECT * FROM graft_src_region_dflt")
    s.sql(s"""ALTER TABLE $Cat.verify.region_dflt
              ADD COLUMN status STRING DEFAULT 'unreviewed'""")
    s.sql(s"INSERT INTO $Cat.verify.region_dflt VALUES (77, 'NOVA', 'approved')")
    s.sql(s"""SELECT r_regionkey, r_name, status
              FROM $Cat.verify.region_dflt ORDER BY r_regionkey""")
  }

  /** GENERATED ALWAYS AS columns end to end: the write path computes the
    * expression (overriding analyzer-provided NULLs), and grouping by the
    * generated column matches DuckDB computing it inline. */
  val qLakeGenerated: Q = Q(
    "q_lake_generated",
    """SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
              count(*) AS n, CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
       FROM orders
       GROUP BY 1 ORDER BY o_year""") { (s, d) =>
    ensureCatalog(s)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.verify")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.orders_gen")
    s.sql(s"""CREATE TABLE $Cat.verify.orders_gen
              (o_orderkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE,
               o_year INT GENERATED ALWAYS AS (year(o_orderdate)))
              USING graft""")
    Tables.orders(s, d)
      .selectExpr("o_orderkey", "CAST(o_orderdate AS DATE) AS o_orderdate",
        "o_totalprice")
      .createOrReplaceTempView("graft_src_orders_gen")
    s.sql(s"""INSERT INTO $Cat.verify.orders_gen (o_orderkey, o_orderdate, o_totalprice)
              SELECT * FROM graft_src_orders_gen""")
    s.sql(s"""SELECT o_year, count(*) AS n, CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
              FROM $Cat.verify.orders_gen
              GROUP BY o_year ORDER BY o_year""")
  }

  /** Path-addressed EXTERNAL table (SURVEY §2.11.4; the reference writes
    * with `.option("path", "s3a://...")` — warehouse_helpers.py:110):
    * CREATE ... LOCATION, write through the full lake path, read back.
    * The location points OUTSIDE the warehouse dir, so this breaks if the
    * catalog ever stops honoring it. */
  val qLakeExternal: Q = Q(
    "q_lake_external",
    """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""") { (s, d) =>
    ensureCatalog(s)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.verify")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.region_ext")
    // FIXED location, cleared up front: DROP leaves external trees in
    // place (by design), so a fresh temp dir per run would accumulate
    // orphaned table trees across bench/verify invocations
    val locPath = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-external-verify")
    if (java.nio.file.Files.exists(locPath)) {
      import scala.jdk.CollectionConverters._
      // close the walk stream — it holds a directory fd (r12 fd fix)
      val st = java.nio.file.Files.walk(locPath)
      val all = try st.iterator().asScala.toSeq finally st.close()
      all.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
    val loc = locPath.toString
    s.sql(s"""CREATE TABLE $Cat.verify.region_ext
              (r_regionkey INT, r_name STRING)
              USING graft LOCATION '$loc'""")
    Tables.region(s, d).createOrReplaceTempView("graft_src_region_ext")
    s.sql(s"INSERT INTO $Cat.verify.region_ext SELECT * FROM graft_src_region_ext")
    s.sql(s"""SELECT r_regionkey, r_name
              FROM $Cat.verify.region_ext ORDER BY r_regionkey""")
  }

  /** Storage-partitioned join: customer and orders bucketed on the join
    * key join + aggregate WITHOUT any shuffle (Spj.scala reports the
    * bucket layout as a KeyGroupedPartitioning). The body EXECUTES under
    * the SPJ confs, fails loudly if an exchange appears in the final
    * plan, then restores the confs and returns the materialized rows —
    * so the oracle hash certifies the shuffle-free plan computed the
    * same answer as DuckDB's ordinary hash join. */
  val qSpjJoin: Q = Q(
    "q_spj_join",
    """SELECT c_custkey, CAST(count(*) AS BIGINT) AS order_cnt,
              CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_price
       FROM customer JOIN orders ON c_custkey = o_custkey
       GROUP BY c_custkey ORDER BY c_custkey""") { (s, d) =>
    ensureCatalog(s)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.verify")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.cust_b")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.ord_b")
    s.sql(s"""CREATE TABLE $Cat.verify.cust_b (c_custkey BIGINT)
              USING graft PARTITIONED BY (bucket(8, c_custkey))""")
    s.sql(s"""CREATE TABLE $Cat.verify.ord_b
              (o_custkey BIGINT, o_totalprice DOUBLE)
              USING graft PARTITIONED BY (bucket(8, o_custkey))""")
    Tables.customer(s, d).createOrReplaceTempView("graft_src_cust")
    Tables.orders(s, d).createOrReplaceTempView("graft_src_ord")
    s.sql(s"INSERT INTO $Cat.verify.cust_b SELECT c_custkey FROM graft_src_cust")
    s.sql(s"""INSERT INTO $Cat.verify.ord_b
              SELECT o_custkey, o_totalprice FROM graft_src_ord""")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prior = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val df = s.sql(
        s"""SELECT c_custkey, count(*) AS order_cnt,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_price
            FROM $Cat.verify.cust_b JOIN $Cat.verify.ord_b
              ON c_custkey = o_custkey
            GROUP BY c_custkey ORDER BY c_custkey""")
      val rows = df.collect() // execute while the SPJ confs hold
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      var exchanges = 0
      plan.foreach {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
          exchanges += 1
        case _ => ()
      }
      if (exchanges != 0) throw new IllegalStateException(
        s"q_spj_join expected a shuffle-free plan, found $exchanges:\n$plan")
      s.createDataFrame(
        java.util.Arrays.asList(rows: _*), df.schema)
    } finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Metadata-only GROUP BY: per-partition COUNT/MIN/MAX on an
    * identity-partitioned table answer from snapshot statistics with
    * zero data files opened. The body fails loudly if the plan did NOT
    * use the metadata scan, so the oracle hash certifies that the
    * file-stat arithmetic equals DuckDB aggregating the raw rows. */
  val qMetaGroupAgg: Q = Q(
    "q_meta_group_agg",
    """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS cnt,
              round(min(s_acctbal), 2) AS lo, round(max(s_acctbal), 2) AS hi
       FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""") { (s, d) =>
    ensureCatalog(s)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.verify")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.supplier_meta")
    s.sql(s"""CREATE TABLE $Cat.verify.supplier_meta
              (s_suppkey BIGINT, s_nationkey INT, s_acctbal DOUBLE)
              USING graft PARTITIONED BY (s_nationkey)""")
    Tables.supplier(s, d).createOrReplaceTempView("graft_src_supplier_meta")
    s.sql(s"""INSERT INTO $Cat.verify.supplier_meta
              SELECT s_suppkey, s_nationkey, s_acctbal
              FROM graft_src_supplier_meta""")
    val df = s.sql(
      s"""SELECT s_nationkey, count(*) AS cnt,
                 round(min(s_acctbal), 2) AS lo, round(max(s_acctbal), 2) AS hi
          FROM $Cat.verify.supplier_meta
          GROUP BY s_nationkey ORDER BY s_nationkey""")
    val shape = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    if (!shape.contains("GraftMetadataAggScan"))
      throw new IllegalStateException(
        s"q_meta_group_agg expected a metadata-only plan:\n$shape")
    df
  }

  /** Filtered metadata aggregates: an exact identity-partition predicate
    * is claimed as fully pushed, so the filtered+grouped COUNT/MIN/MAX
    * still answers from file stats with zero data files opened. Fails
    * loudly unless the plan is metadata-only. */
  val qMetaFilteredAgg: Q = Q(
    "q_meta_filtered_agg",
    """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS cnt,
              round(min(s_acctbal), 2) AS lo
       FROM supplier WHERE s_nationkey BETWEEN 5 AND 15
       GROUP BY s_nationkey ORDER BY s_nationkey""") { (s, d) =>
    ensureCatalog(s)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.verify")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.supplier_meta2")
    s.sql(s"""CREATE TABLE $Cat.verify.supplier_meta2
              (s_suppkey BIGINT, s_nationkey INT, s_acctbal DOUBLE)
              USING graft PARTITIONED BY (s_nationkey)""")
    Tables.supplier(s, d).createOrReplaceTempView("graft_src_supplier_m2")
    s.sql(s"""INSERT INTO $Cat.verify.supplier_meta2
              SELECT s_suppkey, s_nationkey, s_acctbal
              FROM graft_src_supplier_m2""")
    val df = s.sql(
      s"""SELECT s_nationkey, count(*) AS cnt,
                 round(min(s_acctbal), 2) AS lo
          FROM $Cat.verify.supplier_meta2
          WHERE s_nationkey BETWEEN 5 AND 15
          GROUP BY s_nationkey ORDER BY s_nationkey""")
    val shape = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    if (!shape.contains("GraftMetadataAggScan"))
      throw new IllegalStateException(
        s"q_meta_filtered_agg expected a metadata-only plan:\n$shape")
    df
  }

  /** Incremental ingest dedup against a lake-resident fingerprint index —
    * the cross-batch exact-dedup structure of a continuously-fed corpus
    * (a new crawl batch must not re-admit documents any PAST batch already
    * contains; per-batch self-dedup can't see history).
    *
    * The corpus partition (doc_id % 5 != 0) seeds the index table — 16 B
    * of md5 + an id per document, persisted through the full lake write
    * path; the batch partition (doc_id % 5 == 0) is checked against the
    * index READ BACK from the table, so the oracle hash also covers the
    * index roundtrip. Join shape is the one that scales: the huge index
    * never shuffles — the batch's fingerprints broadcast to a semi-join
    * that streams over the index scan, and the surviving duplicate fps
    * (bounded by the batch size) join back to flag each batch document.
    * At 100 TB the index table is fp-bucketed so re-checks are
    * storage-partitioned; admitted fingerprints append as one more
    * O(batch) commit. */
  val qLakeIngestDedup: Q = Q(
    "q_lake_ingest_dedup",
    """WITH f AS (SELECT doc_id,
                         coalesce(md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')),
                                  '__null__') AS fp
                  FROM documents),
            batch AS (SELECT * FROM f WHERE doc_id % 5 = 0),
            corpus AS (SELECT * FROM f WHERE doc_id % 5 <> 0)
       SELECT b.doc_id, b.fp,
              (NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)) AS is_new
       FROM batch b ORDER BY b.doc_id""") { (s, d) =>
    import org.apache.spark.sql.functions._
    ensureCatalog(s)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.verify")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.fp_index")
    s.sql(s"""CREATE TABLE $Cat.verify.fp_index
              (fp STRING, doc_id BIGINT) USING graft""")
    val fps = Tables.documents(s, d).select(
      TextOps.normalizedFp(col("text")).as("fp"),
      col("doc_id"))
    fps.filter(col("doc_id") % 5 =!= 0)
      .writeTo(s"$Cat.verify.fp_index").append()
    val index = s.table(s"$Cat.verify.fp_index")
    val batch = fps.filter(col("doc_id") % 5 === 0)
    // huge side streams, small side broadcasts: index ⋉ broadcast(batch)
    val dupFps = index
      .join(broadcast(batch.select("fp")), Seq("fp"), "left_semi")
      .select("fp").distinct()
    batch
      .join(broadcast(dupFps.withColumn("__dup", lit(true))), Seq("fp"), "left")
      .select(col("doc_id"), col("fp"), col("__dup").isNull.as("is_new"))
      .orderBy("doc_id")
  }

  /** Incremental NEAR-dup ingest against a lake-resident LSH band index
    * (VERDICT r7 #2) — the near-duplicate analogue of q_lake_ingest_dedup:
    * the corpus partition (doc_id % 5 != 0) ingests first (seeding the
    * corpus table and its (band_idx, band_hash, doc_id) MinHash band
    * index through the full write path), then the batch partition
    * (doc_id % 5 == 0) ingests against the index READ BACK from the lake,
    * so the output covers the index roundtrip. Per-batch corpus-side work
    * is O(batch): the index scan streams against the broadcast batch
    * bands, candidates broadcast-prune the corpus scan, verification is
    * exact Jaccard at 1/2 (Ingest.ingestBatchNearDup's contract;
    * IngestNearDupSpec pins the laws, NearDupIngestProbe the recall).
    * No DuckDB twin (xxhash64 MinHash has no oracle form); output is the
    * deterministic per-stage accounting of both ingests. */
  val qLakeIngestNearDup: Q = Q.noOracle("q_lake_ingest_neardup") { (s, d) =>
    import org.apache.spark.sql.functions._
    ensureCatalog(s)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.verify")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.nd_corpus")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.nd_bands")
    s.sql(s"""CREATE TABLE $Cat.verify.nd_corpus
              (doc_id BIGINT, text STRING) USING graft""")
    s.sql(s"""CREATE TABLE $Cat.verify.nd_bands
              (band_idx INT, band_hash BIGINT, doc_id BIGINT) USING graft""")
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val seed = Ingest.ingestBatchNearDup(s, docs.filter(col("doc_id") % 5 =!= 0),
      s"$Cat.verify.nd_corpus", s"$Cat.verify.nd_bands")
    val batch = Ingest.ingestBatchNearDup(s, docs.filter(col("doc_id") % 5 === 0),
      s"$Cat.verify.nd_corpus", s"$Cat.verify.nd_bands")
    import s.implicits._
    Seq(
      ("1_seed", seed.batchRows, seed.qualityRejected, seed.intraBatchDups,
        seed.corpusNearDups, seed.intraBatchNearDups, seed.admitted),
      ("2_batch", batch.batchRows, batch.qualityRejected,
        batch.intraBatchDups, batch.corpusNearDups,
        batch.intraBatchNearDups, batch.admitted))
      .toDF("stage", "batch_rows", "quality_rejected", "intra_exact_dups",
        "corpus_neardups", "intra_neardups", "admitted")
      .orderBy("stage")
  }

  /** One batch's LSH candidate→verify→component-min collapse as oracle
    * CTEs (all MATERIALIZED — DuckDB re-evaluates per reference): over
    * the doc-id set `docsCte`, band-collision candidates verify at the
    * engine's rounded exact-Jaccard threshold (20000·i ≥ 9999·union —
    * ExactSum.intRatio's half-up ≥ 0.5) and `admCte` keeps component
    * minima via the recursive reach. Requires `sh`/`bands`/`msz` in
    * scope (XxhashSqlTwin.smallSigBandCtes + a size CTE). */
  private def lshCollapseSql(docsCte: String, p: String,
      admCte: String): String =
    s"""${p}cand AS MATERIALIZED (
         SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         FROM bands x JOIN bands y
           ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
          AND x.doc_id < y.doc_id
         WHERE x.doc_id IN (SELECT doc_id FROM $docsCte)
           AND y.doc_id IN (SELECT doc_id FROM $docsCte)),
       ${p}ver AS MATERIALIZED (
         SELECT id_a, id_b FROM (
           SELECT c.id_a, c.id_b, count(*) AS i
           FROM ${p}cand c
           JOIN sh x ON x.doc_id = c.id_a
           JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
           GROUP BY 1, 2) j
         JOIN msz sa ON sa.doc_id = id_a
         JOIN msz sb ON sb.doc_id = id_b
         WHERE 20000 * i >= 9999 * (sa.n + sb.n - i)),
       ${p}e AS MATERIALIZED (
         SELECT id_a AS src, id_b AS dst FROM ${p}ver
         UNION ALL SELECT id_b, id_a FROM ${p}ver),
       ${p}reach(id, root) AS (
         SELECT doc_id, doc_id FROM $docsCte
         UNION
         SELECT e.dst, r.root FROM ${p}reach r JOIN ${p}e e ON e.src = r.id),
       $admCte AS MATERIALIZED (
         SELECT id AS doc_id FROM ${p}reach GROUP BY id
         HAVING min(root) = id)"""

  /** Budget-sized ORACLED near-dup ingest (VERDICT r9 #3 — the accounting
    * twin the 32-seed q_lake_ingest_neardup's gate budget forbids): the
    * SAME Ingest.ingestBatchNearDup code path at 4 hashes / 2 bands, with
    * a DuckDB twin that recomputes every signature and band hash
    * bit-for-bit (XxhashSqlTwin hashLong chains), replays both batches'
    * greedy admission — quality gate → intra-batch exact dedup → corpus
    * band-index rejection → recursive-CTE component-min collapse — and
    * hash-compares the full per-stage accounting: the
    * q_lake_ingest_media pattern on the text leg. */
  val qLakeIngestNearDupSmall: Q = Q(
    "q_lake_ingest_neardup_small",
    s"""WITH RECURSIVE
       g AS MATERIALIZED (
         SELECT doc_id, text, doc_id % 5 <> 0 AS is_seed,
                md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
         FROM documents
         WHERE text IS NOT NULL
           AND len(regexp_split_to_array(trim(lower(text)), '\\s+'))
               BETWEEN 10 AND 100000
           AND CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE)
               / length(text) < 0.1),
       f1 AS MATERIALIZED (
         SELECT min(doc_id) AS doc_id FROM g WHERE is_seed GROUP BY fp),
       f2 AS MATERIALIZED (
         SELECT min(doc_id) AS doc_id FROM g WHERE NOT is_seed GROUP BY fp),
       fdocs AS (SELECT g.doc_id, g.text FROM g
                 JOIN (SELECT doc_id FROM f1
                       UNION ALL SELECT doc_id FROM f2) f USING (doc_id)),
       ${XxhashSqlTwin.smallSigBandCtes("fdocs")},
       msz AS MATERIALIZED (
         SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       ${lshCollapseSql("f1", "s1", "a1")},
       rejp AS MATERIALIZED (
         SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         FROM bands x JOIN bands y
           ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
         WHERE x.doc_id IN (SELECT doc_id FROM a1)
           AND y.doc_id IN (SELECT doc_id FROM f2)),
       rej2 AS MATERIALIZED (
         SELECT DISTINCT id_b AS doc_id FROM (
           SELECT c.id_a, c.id_b, count(*) AS i
           FROM rejp c
           JOIN sh x ON x.doc_id = c.id_a
           JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
           GROUP BY 1, 2) j
         JOIN msz sa ON sa.doc_id = id_a
         JOIN msz sb ON sb.doc_id = id_b
         WHERE 20000 * i >= 9999 * (sa.n + sb.n - i)),
       c2 AS MATERIALIZED (
         SELECT doc_id FROM f2
         WHERE doc_id NOT IN (SELECT doc_id FROM rej2)),
       ${lshCollapseSql("c2", "s2", "a2")}
       SELECT '1_seed' AS stage,
              (SELECT count(*) FROM documents WHERE doc_id % 5 <> 0) AS batch_rows,
              (SELECT count(*) FROM documents WHERE doc_id % 5 <> 0)
                - (SELECT count(*) FROM g WHERE is_seed) AS quality_rejected,
              (SELECT count(*) FROM g WHERE is_seed)
                - (SELECT count(*) FROM f1) AS intra_exact_dups,
              CAST(0 AS BIGINT) AS corpus_neardups,
              (SELECT count(*) FROM f1)
                - (SELECT count(*) FROM a1) AS intra_neardups,
              (SELECT count(*) FROM a1) AS admitted
       UNION ALL
       SELECT '2_batch',
              (SELECT count(*) FROM documents WHERE doc_id % 5 = 0),
              (SELECT count(*) FROM documents WHERE doc_id % 5 = 0)
                - (SELECT count(*) FROM g WHERE NOT is_seed),
              (SELECT count(*) FROM g WHERE NOT is_seed)
                - (SELECT count(*) FROM f2),
              (SELECT count(*) FROM f2) - (SELECT count(*) FROM c2),
              (SELECT count(*) FROM c2) - (SELECT count(*) FROM a2),
              (SELECT count(*) FROM a2)
       ORDER BY stage""") { (s, d) =>
    import org.apache.spark.sql.functions._
    ensureCatalog(s)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.verify")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.nds_corpus")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.nds_bands")
    s.sql(s"""CREATE TABLE $Cat.verify.nds_corpus
              (doc_id BIGINT, text STRING) USING graft""")
    s.sql(s"""CREATE TABLE $Cat.verify.nds_bands
              (band_idx INT, band_hash BIGINT, doc_id BIGINT) USING graft""")
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val seed = Ingest.ingestBatchNearDup(s,
      docs.filter(col("doc_id") % 5 =!= 0),
      s"$Cat.verify.nds_corpus", s"$Cat.verify.nds_bands", 4, 2)
    val batch = Ingest.ingestBatchNearDup(s,
      docs.filter(col("doc_id") % 5 === 0),
      s"$Cat.verify.nds_corpus", s"$Cat.verify.nds_bands", 4, 2)
    import s.implicits._
    Seq(
      ("1_seed", seed.batchRows, seed.qualityRejected, seed.intraBatchDups,
        seed.corpusNearDups, seed.intraBatchNearDups, seed.admitted),
      ("2_batch", batch.batchRows, batch.qualityRejected,
        batch.intraBatchDups, batch.corpusNearDups,
        batch.intraBatchNearDups, batch.admitted))
      .toDF("stage", "batch_rows", "quality_rejected", "intra_exact_dups",
        "corpus_neardups", "intra_neardups", "admitted")
      .orderBy("stage")
  }

  /** Incremental EMBEDDING-space ingest against lake-resident k-means
    * state (VERDICT r8 #1 — the semantic twin of q_lake_ingest_neardup):
    * centroids train once on the seed batch's bounded driver sample and
    * persist; every later batch assigns map-only against the broadcast
    * centroids and joins ONLY its own clusters' index rows, exact-cosine
    * verified at τ = 0.35 (SemanticIngest's contract; IngestSemanticSpec
    * pins the laws, SemanticIngestProbe the recall vs global SemDeDup).
    * No DuckDB twin (float k-means training); output is the deterministic
    * per-stage accounting of both ingests. */
  val qLakeIngestSemantic: Q = Q.noOracle("q_lake_ingest_semantic") { (s, d) =>
    import org.apache.spark.sql.functions._
    ensureCatalog(s)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.verify")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.sem_corpus")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.sem_centroids")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.sem_index")
    s.sql(s"""CREATE TABLE $Cat.verify.sem_corpus
              (vec_id BIGINT, embedding ARRAY<FLOAT>) USING graft""")
    s.sql(s"""CREATE TABLE $Cat.verify.sem_centroids
              (cluster_id BIGINT, centroid ARRAY<DOUBLE>) USING graft""")
    s.sql(s"""CREATE TABLE $Cat.verify.sem_index
              (cluster_id BIGINT, vec_id BIGINT, v ARRAY<DOUBLE>, nv DOUBLE)
              USING graft""")
    val vecs = Tables.embeddings(s, d).select("vec_id", "embedding")
    val seed = SemanticIngest.ingestBatchSemantic(s,
      vecs.filter(col("vec_id") % 5 =!= 0), s"$Cat.verify.sem_corpus",
      s"$Cat.verify.sem_centroids", s"$Cat.verify.sem_index")
    val batch = SemanticIngest.ingestBatchSemantic(s,
      vecs.filter(col("vec_id") % 5 === 0), s"$Cat.verify.sem_corpus",
      s"$Cat.verify.sem_centroids", s"$Cat.verify.sem_index")
    import s.implicits._
    Seq(
      ("1_seed", seed.batchRows, seed.corpusNearDups,
        seed.intraBatchNearDups, seed.admitted, seed.zeroNorm,
        seed.lowAffinity, seed.centroidsTrained),
      ("2_batch", batch.batchRows, batch.corpusNearDups,
        batch.intraBatchNearDups, batch.admitted, batch.zeroNorm,
        batch.lowAffinity, batch.centroidsTrained))
      .toDF("stage", "batch_rows", "corpus_neardups", "intra_neardups",
        "admitted", "zero_norm", "low_affinity", "centroids_trained")
      .orderBy("stage")
  }

  /** Bands + Hamming-≤3 edges over a `(media_id, phash)` CTE — both
    * directions (the component propagation consumes src→dst). */
  private def mediaEdgesSql(sigCte: String, bandsName: String,
      edgesName: String): String =
    s"""$bandsName AS (
         SELECT media_id, phash, b.b AS band_idx,
                (phash >> (b.b * 16)) & 65535 AS band_val
         FROM $sigCte, (VALUES (0), (1), (2), (3)) b(b)),
       $edgesName AS (
         SELECT DISTINCT x.media_id AS src, y.media_id AS dst
         FROM $bandsName x JOIN $bandsName y
           ON x.band_idx = y.band_idx AND x.band_val = y.band_val
          AND x.media_id <> y.media_id
         WHERE bit_count(xor(x.phash, y.phash)) <= 3)"""

  /** Incremental MEDIA ingest against the lake-resident DHash64 band
    * index (MediaIngest — the perceptual third leg of the ingest
    * triptych). Unlike the MinHash and embedding twins, this ingest's
    * END-TO-END ADMISSION DECISIONS are oracle-checked: dHash is pure
    * integer math, pigeonhole banding is lossless at Hamming ≤ 3, and
    * the component-min collapse is a recursive CTE — so the DuckDB twin
    * recomputes every signature, replays both batches' greedy admission
    * (batch 1 into empty tables, batch 2 against batch 1's admissions)
    * and the driver hash-compares the full per-stage accounting. */
  val qLakeIngestMedia: Q = Q(
    "q_lake_ingest_media",
    s"""WITH RECURSIVE
       m AS (SELECT doc_id AS media_id, text FROM documents),
       ${Multimodal.dhashSqlOver("m")},
       b1 AS (SELECT * FROM m WHERE media_id % 5 <> 0),
       g1 AS (SELECT * FROM b1 WHERE text IS NOT NULL AND strlen(text) > 0),
       r1 AS (SELECT min(media_id) AS media_id FROM g1 GROUP BY text),
       s1 AS (SELECT r.media_id, msig.phash FROM r1 r JOIN msig USING (media_id)),
       ${mediaEdgesSql("s1", "bands1", "e1")},
       reach1(id, root) AS (
         SELECT media_id, media_id FROM s1
         UNION
         SELECT e.dst, r.root FROM reach1 r JOIN e1 e ON e.src = r.id),
       a1 AS (SELECT id AS media_id FROM reach1 GROUP BY id
              HAVING min(root) = id),
       b2 AS (SELECT * FROM m WHERE media_id % 5 = 0),
       g2 AS (SELECT * FROM b2 WHERE text IS NOT NULL AND strlen(text) > 0),
       r2 AS (SELECT min(media_id) AS media_id FROM g2 GROUP BY text),
       s2 AS (SELECT r.media_id, msig.phash FROM r2 r JOIN msig USING (media_id)),
       sA AS (SELECT a.media_id, msig.phash FROM a1 a JOIN msig USING (media_id)),
       bandsA AS (
         SELECT media_id, phash, b.b AS band_idx,
                (phash >> (b.b * 16)) & 65535 AS band_val
         FROM sA, (VALUES (0), (1), (2), (3)) b(b)),
       bands2 AS (
         SELECT media_id, phash, b.b AS band_idx,
                (phash >> (b.b * 16)) & 65535 AS band_val
         FROM s2, (VALUES (0), (1), (2), (3)) b(b)),
       rej2 AS (SELECT DISTINCT y.media_id
                FROM bandsA x JOIN bands2 y
                  ON x.band_idx = y.band_idx AND x.band_val = y.band_val
                WHERE bit_count(xor(x.phash, y.phash)) <= 3),
       c2 AS (SELECT media_id, phash FROM s2
              WHERE media_id NOT IN (SELECT media_id FROM rej2)),
       ${mediaEdgesSql("c2", "bandsC", "e2")},
       reach2(id, root) AS (
         SELECT media_id, media_id FROM c2
         UNION
         SELECT e.dst, r.root FROM reach2 r JOIN e2 e ON e.src = r.id),
       a2 AS (SELECT id AS media_id FROM reach2 GROUP BY id
              HAVING min(root) = id)
       SELECT '1_seed' AS stage,
              (SELECT count(*) FROM b1) AS batch_rows,
              (SELECT count(*) FROM b1) - (SELECT count(*) FROM g1) AS gate_rejected,
              (SELECT count(*) FROM g1) - (SELECT count(*) FROM r1) AS intra_exact_dups,
              CAST(0 AS BIGINT) AS corpus_neardups,
              (SELECT count(*) FROM r1) - (SELECT count(*) FROM a1) AS intra_neardups,
              (SELECT count(*) FROM a1) AS admitted
       UNION ALL
       SELECT '2_batch',
              (SELECT count(*) FROM b2),
              (SELECT count(*) FROM b2) - (SELECT count(*) FROM g2),
              (SELECT count(*) FROM g2) - (SELECT count(*) FROM r2),
              (SELECT count(*) FROM r2) - (SELECT count(*) FROM c2),
              (SELECT count(*) FROM c2) - (SELECT count(*) FROM a2),
              (SELECT count(*) FROM a2)
       ORDER BY stage""") { (s, d) =>
    import org.apache.spark.sql.functions._
    ensureCatalog(s)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.verify")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.media_corpus")
    s.sql(s"DROP TABLE IF EXISTS $Cat.verify.media_index")
    s.sql(s"""CREATE TABLE $Cat.verify.media_corpus
              (media_id BIGINT, payload BINARY) USING graft""")
    s.sql(s"""CREATE TABLE $Cat.verify.media_index
              (band_idx INT, band_val BIGINT, media_id BIGINT, phash BIGINT)
              USING graft""")
    val media = Multimodal.mediaTable(s, d).select("media_id", "payload")
    val seed = MediaIngest.ingestBatchMedia(s,
      media.filter(col("media_id") % 5 =!= 0),
      s"$Cat.verify.media_corpus", s"$Cat.verify.media_index")
    val batch = MediaIngest.ingestBatchMedia(s,
      media.filter(col("media_id") % 5 === 0),
      s"$Cat.verify.media_corpus", s"$Cat.verify.media_index")
    import s.implicits._
    Seq(
      ("1_seed", seed.batchRows, seed.gateRejected, seed.intraBatchExactDups,
        seed.corpusNearDups, seed.intraBatchNearDups, seed.admitted),
      ("2_batch", batch.batchRows, batch.gateRejected,
        batch.intraBatchExactDups, batch.corpusNearDups,
        batch.intraBatchNearDups, batch.admitted))
      .toDF("stage", "batch_rows", "gate_rejected", "intra_exact_dups",
        "corpus_neardups", "intra_neardups", "admitted")
      .orderBy("stage")
  }

  val all: Seq[Q] = Seq(
    qLakeRoundtrip, qLakeTimeTravel, qLakePartitioned, qLakeEvolution,
    qLakeDynOverwrite, qLakeChanges, qSqlCosine, qLakeClustered,
    qLakeMorDelete, qLakeUpsert, qLakeDefaults, qLakeGenerated,
    qLakeExternal, qSpjJoin, qMetaGroupAgg, qMetaFilteredAgg,
    qLakeIngestDedup, qLakeIngestNearDup, qLakeIngestNearDupSmall,
    qLakeIngestSemantic, qLakeIngestMedia)
}
