package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** `lake_query`: one client, closed loop, read-only, over graft tables
  * loaded from the generated TPC-H-shaped data. `lineitem` is partitioned
  * by `l_returnflag`, built from key-ordered appends (so manifest-chunk
  * bounds can prune point reads) and then given a merge-on-read delete
  * backlog: range deletes (position delete files) and an IN-list delete
  * (an equality delete file). Every op's result is checked against the
  * same SQL run by Spark on the generated parquet, with the deletes
  * applied as WHERE complements.
  * `orders` and `customer` are one commit each.
  *
  * Classes: `lookup` (point and narrow-range reads on `l_orderkey`),
  * `scan` (partition-filtered aggregate, q1-shape aggregate, q3-shape
  * 3-way join, `VERSION AS OF` read) and `meta` (`t.snapshots`,
  * `t.history`, `t.files`). */
final class LakeQuery(spark: SparkSession, a: Args) extends Workload {
  override val clients = 1
  // one set-up takes ~6 s warm
  override val setupReps = 1
  private val dir = a.work.resolve("input").toString
  private val size = Gen.tpch(spark, a.seed, a.scale, dir)
  private val rnd = new java.util.SplittableRandom(a.seed)

  /** Appends that build `lineitem`, each written by six tasks into three
    * partitions: enough files (72) that the file list pages out to
    * manifest chunks, one per append, whose key bounds prune lookups. */
  private val Appends = 4
  private val bounds: IndexedSeq[Long] =
    (0 to Appends).map(i => size.orders.toLong * i / Appends)

  // the delete backlog: two key ranges (position deletes) and one key list
  // (an equality delete), drawn from the seed
  private val ranges: Seq[(Long, Long)] = Seq.fill(2) {
    val lo = 1L + rnd.nextLong(size.orders.toLong - 200)
    (lo, lo + size.orders / 200 + 1)
  }
  private val inList: Seq[Long] = Seq.fill(40)(1L + rnd.nextLong(size.orders.toLong)).distinct

  private var ns = ""
  private var versions: Seq[Long] = Nil
  private var asOf = 0L
  private var asOfBound = 0L
  private var liveDeleteFiles = 0L

  spark.read.parquet(s"$dir/lineitem.parquet").createOrReplaceTempView("li_raw")
  spark.read.parquet(s"$dir/orders.parquet").createOrReplaceTempView("ord_raw")
  spark.read.parquet(s"$dir/customer.parquet").createOrReplaceTempView("cust_raw")
  private val complement =
    (ranges.map { case (lo, hi) => s"NOT (l_orderkey >= $lo AND l_orderkey < $hi)" } :+
      s"l_orderkey NOT IN (${inList.mkString(", ")})").mkString(" AND ")
  spark.sql(s"SELECT * FROM li_raw WHERE $complement").createOrReplaceTempView("li_ref")

  override def setup(rep: Int): Unit = {
    ns = s"graft.q$rep"
    val li = s"$ns.lineitem"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
    spark.sql(s"""CREATE TABLE $li (${Gen.ddl(Gen.LineitemSchema)}) USING graft
      PARTITIONED BY (l_returnflag)
      TBLPROPERTIES ('graft.delete-mode' = 'merge-on-read')""")
    spark.sql(s"CREATE TABLE $ns.orders (${Gen.ddl(Gen.OrdersSchema)}) USING graft")
    spark.sql(s"INSERT INTO $ns.orders SELECT * FROM ord_raw")
    spark.sql(s"CREATE TABLE $ns.customer (${Gen.ddl(Gen.CustomerSchema)}) USING graft")
    spark.sql(s"INSERT INTO $ns.customer SELECT * FROM cust_raw")
    (0 until Appends).foreach { i =>
      spark.sql(s"""INSERT INTO $li SELECT /*+ REPARTITION(6) */ * FROM li_raw
        WHERE l_orderkey > ${bounds(i)} AND l_orderkey <= ${bounds(i + 1)}""")
    }
    ranges.foreach { case (lo, hi) =>
      spark.sql(s"DELETE FROM $li WHERE l_orderkey >= $lo AND l_orderkey < $hi")
    }
    spark.sql(s"DELETE FROM $li WHERE l_orderkey IN (${inList.mkString(", ")})")
    liveDeleteFiles = spark.sql(s"SELECT count(*) FROM $li.delete_files").head().getLong(0)
    require(liveDeleteFiles > 0, s"setup left no delete files on $li")
    versions = spark.sql(s"SELECT snapshot_id FROM $li.snapshots ORDER BY 1")
      .collect().map(_.getLong(0)).toSeq
    // versions: 1 = create, 2.. = the appends, then the three deletes
    require(versions == (1L to (Appends + 4).toLong),
      s"unexpected version chain $versions on $li")
    val files = spark.sql(s"SELECT count(*) FROM $li.files").head().getLong(0)
    require(files > graft.lake.SnapshotStore.InlineMaxFiles,
      s"$li has $files files; its file list would not page out to manifest chunks")
    asOf = 1 + Appends / 2
    asOfBound = bounds(Appends / 2)
  }

  /** Expected result per check key: SQL on the generated parquet, or a
    * literal for the metadata tables. */
  private val expected = new ConcurrentHashMap[String, Either[String, String]]()

  private def step(cls: String, lake: String, ref: Either[String, String]): Step = {
    expected.putIfAbsent(lake, ref)
    Step(cls, () => Outcome(ok = true, checkKey = lake,
      result = Main.canon(Main.query(spark, lake))))
  }

  private def lookup(): Step = {
    val k = 1L + rnd.nextLong(size.orders.toLong)
    def sql(li: String) =
      if (rnd.nextInt(10) < 6)
        s"""SELECT l_linenumber, l_quantity, l_extendedprice, l_returnflag,
          l_shipdate FROM $li WHERE l_orderkey = $k ORDER BY l_linenumber"""
      else
        s"""SELECT count(*) AS n, sum(l_quantity) AS q, sum(l_extendedprice) AS p
          FROM $li WHERE l_orderkey BETWEEN $k AND ${k + 10 + (k % 91)}"""
    val lake = sql(s"$ns.lineitem")
    step("lookup", lake, Left(lake.replace(s"$ns.lineitem", "li_ref")))
  }

  private def scan(kind: Int): Step = {
    val li = s"$ns.lineitem"
    val lake = kind match {
      case 0 =>
        val f = Seq("A", "N", "R")(rnd.nextInt(3))
        s"""SELECT l_linestatus, count(*) AS n, sum(l_quantity) AS q,
          sum(l_extendedprice) AS p FROM $li WHERE l_returnflag = '$f'
          GROUP BY l_linestatus ORDER BY l_linestatus"""
      case 1 =>
        val d = Gen.Cutoff.plusDays(rnd.nextInt(1000) - 500)
        s"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
          sum(l_extendedprice) AS sum_base,
          sum(l_extendedprice * (1 - l_discount)) AS sum_disc,
          sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
          avg(l_quantity) AS avg_qty, count(*) AS n
          FROM $li WHERE l_shipdate <= DATE '$d'
          GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""
      case 2 =>
        val seg = Gen.Segments(rnd.nextInt(Gen.Segments.size))
        val d = Gen.Cutoff.plusDays(rnd.nextInt(60) - 30)
        s"""SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue,
          o_orderdate, o_shippriority
          FROM $ns.customer JOIN $ns.orders ON c_custkey = o_custkey
          JOIN $li ON l_orderkey = o_orderkey
          WHERE c_mktsegment = '$seg' AND o_orderdate < DATE '$d'
            AND l_shipdate > DATE '$d'
          GROUP BY l_orderkey, o_orderdate, o_shippriority
          ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"""
      case _ =>
        s"""SELECT count(*) AS n, sum(l_quantity) AS q, max(l_orderkey) AS k
          FROM $li VERSION AS OF $asOf"""
    }
    val ref = lake.replace(s"$li VERSION AS OF $asOf", s"li_raw WHERE l_orderkey <= $asOfBound")
      .replace(li, "li_ref").replace(s"$ns.orders", "ord_raw")
      .replace(s"$ns.customer", "cust_raw")
    step("scan", lake, Left(ref))
  }

  private def meta(kind: Int): Step = {
    val li = s"$ns.lineitem"
    val n = versions.size
    kind match {
      case 0 => step("meta",
        s"SELECT count(*), max(snapshot_id), count(parent_id) FROM $li.snapshots",
        Right(s"$n|${versions.last}|${n - 1}"))
      case 1 => step("meta",
        s"SELECT count(*), sum(CAST(is_current_ancestor AS INT)) FROM $li.history",
        Right(s"$n|$n"))
      case _ => step("meta",
        s"SELECT sum(record_count), count(*) > 0 FROM $li.files",
        Right(s"${size.lineitems}|true"))
    }
  }

  /** The op mix, in blocks of six (three lookups, two scans, one metadata
    * read; scan and metadata kinds take turns across blocks) shuffled
    * within the block. The client stops only at a block boundary, so every
    * run holds the same shares of each class and kind. */
  private var order: List[() => Step] = Nil
  private var blocks = 0

  override def atBoundary(client: Int): Boolean = order.isEmpty

  override def next(client: Int): Step = {
    if (order.isEmpty) {
      val b = blocks
      blocks += 1
      order = Mix.shuffled(rnd, Seq[() => Step](() => lookup(), () => lookup(), () => lookup(),
        () => scan(2 * b % 4), () => scan((2 * b + 1) % 4), () => meta(b % 3))).toList
    }
    val step = order.head
    order = order.tail
    step()
  }

  override def verify(ops: Seq[Done]): Verdict = {
    val want = scala.collection.mutable.HashMap.empty[String, String]
    val bad = ops.filter(_.outcome.ok).filter { d =>
      val key = d.outcome.checkKey
      val exp = want.getOrElseUpdate(key, expected.get(key) match {
        case Left(sql) => Main.canon(spark.sql(sql).collect())
        case Right(lit) => lit
      })
      val exp2 = if (a.corruptExpected && d.op.id == ops.head.op.id) exp + "#" else exp
      d.outcome.result != exp2
    }.map(_.op.id).toSet
    Verdict(bad, Nil)
  }

  override def facts(): Map[String, Double] = Map(
    "delete_files_live" -> liveDeleteFiles.toDouble,
    "lineitem_rows" -> size.lineitems.toDouble,
    "distinct_checks" -> expected.size.toDouble)
}
