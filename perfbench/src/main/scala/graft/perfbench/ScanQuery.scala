package graft.perfbench

import scala.util.Random

import graft.spark.GraftTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.functions._

/** `scan_query`: one closed-loop client issuing analytic reads over a
  * seeded TPC-H-shaped schema in local storage. Statement templates take
  * parameters from a finite seeded pool, so set-up can compute every
  * answer once with plain Spark over the raw parquet.
  */
final class ScanQuery(env: Env) extends Workload {
  import ScanQuery._

  override val clients = 1
  private val raw = env.work.resolve("raw").toString
  private var sess: SparkSession = _
  private var snaps = Vector.empty[Long]
  private val rnd0 = new Random(env.seed)
  private val posMod = 2 + rnd0.nextInt(5)
  private val eqMod = 7 + rnd0.nextInt(5)

  TpchGen.write(env.spark, raw, env.seed, Orders)
  TpchGen.views(env.spark, raw)

  private def t(name: String) = s"${Catalogs.Name}.tpch.$name"

  override def setup(rep: Int): Unit = {
    val s = env.newSession()
    Catalogs.attach(s, env.work.resolve(s"scan-$rep").toString, objectStore = false,
      0, env.traced)
    s.sql(s"CREATE NAMESPACE ${Catalogs.Name}.tpch")
    Seq("region", "nation", "supplier", "customer", "orders").foreach { n =>
      s.sql(s"CREATE TABLE ${t(n)} AS SELECT * FROM parquet.`$raw/$n`")
    }
    s.sql(s"CREATE TABLE ${t("lineitem")} (${TpchGen.lineitemDdl}) " +
      "TBLPROPERTIES ('graft.file-bloom.columns' = 'l_orderkey')")
    val cat = s.sessionState.catalogManager.catalog(Catalogs.Name)
      .asInstanceOf[graft.spark.GraftCatalog]
    snaps = TpchGen.shipBounds.sliding(2).map { case Seq(lo, hi) =>
      s.sql(s"INSERT INTO ${t("lineitem")} SELECT * FROM parquet.`$raw/lineitem` " +
        s"WHERE l_shipdate >= DATE'$lo' AND l_shipdate < DATE'$hi'")
      cat.loadTable(Identifier.of(Array("tpch"), "lineitem"))
        .asInstanceOf[GraftTable].meta.currentSnapshotId
    }.toVector
    s.sql(s"""CREATE TABLE ${t("orders_pos")} TBLPROPERTIES (
      'graft.update.mode' = 'merge-on-read', 'graft.merge.mode' = 'merge-on-read')
      AS SELECT * FROM parquet.`$raw/orders`""")
    s.sql(s"""CREATE TABLE ${t("orders_eq")} (${TpchGen.ordersDdl}) TBLPROPERTIES (
      'graft.write.upsert-keys' = 'o_orderkey', 'graft.merge.mode' = 'merge-on-read-eq')""")
    s.sql(s"INSERT INTO ${t("orders_eq")} SELECT * FROM parquet.`$raw/orders`")
    Seq("orders_pos" -> posMod, "orders_eq" -> eqMod).foreach { case (n, m) =>
      s.sql(s"""MERGE INTO ${t(n)} d USING (SELECT o_orderkey FROM parquet.`$raw/orders`
        WHERE o_orderkey % $m = 1) u ON d.o_orderkey = u.o_orderkey
        WHEN MATCHED THEN UPDATE SET o_totalprice = -1.0""")
    }
    sess = s
  }

  /** (class, graft SQL, truth SQL over the raw views), seeded. */
  private lazy val pool: Vector[(String, String, Vector[Row])] = {
    val r = new Random(env.seed * 31 + 7)
    def days(d: Int) = java.time.LocalDate.of(1992, 1, 1).plusDays(d).toString
    val stmts = Seq.fill(Pool) {
      val k = 1 + r.nextInt(Orders)
      ("point", s"SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM %s " +
        s"WHERE l_orderkey = $k ORDER BY l_linenumber", "lineitem")
    } ++ Seq.fill(Pool) {
      val d = r.nextInt(2300); val w = 7 + r.nextInt(60)
      ("range", s"SELECT count(*), sum(l_quantity), sum(l_extendedprice * (1 - l_discount)) " +
        s"FROM %s WHERE l_shipdate >= DATE'${days(d)}' AND l_shipdate < DATE'${days(d + w)}'",
        "lineitem")
    } ++ Seq.fill(Pool) {
      val seg = TpchGen.segments(r.nextInt(5)); val d = days(1000 + r.nextInt(400))
      ("q3", s"""SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue,
        o_orderdate, o_shippriority FROM %s, %s, %s
        WHERE c_mktsegment = '$seg' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate < DATE'$d' AND l_shipdate > DATE'$d'
        GROUP BY l_orderkey, o_orderdate, o_shippriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""",
        "customer,orders,lineitem")
    } ++ Seq.fill(Pool) {
      val reg = TpchGen.regions(r.nextInt(5)); val y = 1993 + r.nextInt(5)
      ("q5", s"""SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
        FROM %s, %s, %s, %s, %s, %s
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
          AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
          AND n_regionkey = r_regionkey AND r_name = '$reg'
          AND o_orderdate >= DATE'$y-01-01' AND o_orderdate < DATE'${y + 1}-01-01'
        GROUP BY n_name ORDER BY revenue DESC, n_name""",
        "customer,orders,lineitem,supplier,nation,region")
    } ++ Seq.fill(Pool) {
      val y = 1992 + r.nextInt(7)
      val (n, m) = if (r.nextBoolean()) ("orders_pos", posMod) else ("orders_eq", eqMod)
      (s"mor", s"SELECT o_orderstatus, count(*), sum(o_totalprice) FROM %s " +
        s"WHERE year(o_orderdate) = $y GROUP BY o_orderstatus ORDER BY o_orderstatus",
        s"$n:$m")
    } ++ Seq.fill(Pool) {
      ("meta", "SELECT count(*) FROM %s", Seq("lineitem", "orders", "customer",
        s"orders_pos:$posMod")(r.nextInt(4)))
    }
    val travel = snaps.indices.take(Pool).map { i =>
      val hi = TpchGen.shipBounds(i + 1)
      (s"travel", i, s"SELECT count(*), sum(l_quantity) FROM %s WHERE l_shipdate < DATE'$hi'")
    }
    val base = stmts.map { case (cls, sql, tables) =>
      val names = tables.split(',').toSeq
      val graft = sql.format(names.map(n => t(n.split(':')(0))): _*)
      val truthSql = sql.format(names.map { n =>
        n.split(':') match {
          case Array(o, m) => s"(SELECT o_orderkey, o_orderstatus, o_orderdate, " +
            s"CASE WHEN o_orderkey % $m = 1 THEN -1.0 ELSE o_totalprice END AS o_totalprice " +
            s"FROM raw_orders)"
          case Array(x) => s"raw_$x"
        }
      }: _*)
      (cls, graft, env.spark.sql(truthSql).collect().toVector)
    }
    base.toVector ++ travel.map { case (cls, i, sql) =>
      (cls, s"SELECT count(*), sum(l_quantity) FROM ${t("lineitem")} " +
        s"VERSION AS OF 'snap:${snaps(i)}'",
        env.spark.sql(sql.format("raw_lineitem")).collect().toVector)
    }
  }

  override def prepare(): Unit = pool

  override def session(client: Int): SparkSession = sess

  private val deck = Deck("point" -> 6, "range" -> 4, "meta" -> 2, "travel" -> 3,
    "mor" -> 3, "q3" -> 1, "q5" -> 1)
  private lazy val byCls = pool.groupBy(_._1)

  override def next(client: Int, rnd: Random): Op = {
    val cands = byCls(deck.draw(rnd))
    val (c, sql, truth) = cands(rnd.nextInt(cands.size))
    Op(c, write = false, s => {
      val got = s.sql(sql).collect().toVector
      Check(Rows.same(got, truth), s"$c: got ${got.take(3)} want ${truth.take(3)} for $sql")
      got.size.toLong
    })
  }

  override def warmupStmts: Int = 20
  override def layerStmts: Int = 30
  override def treeDepth: Int = Fs.treeDepth(env.work.resolve(s"scan-${Main.SetupReps - 1}").toString)
}

object ScanQuery {
  /** Orders rows; lineitem has about four per order. */
  val Orders = 20000
  /** Parameters per template. */
  val Pool = 4
}

/** Row comparison that tolerates floating-point summation order. */
object Rows {
  def same(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && (0 until x.size).forall(i => cell(x.get(i), y.get(i)))
    }

  private def cell(x: Any, y: Any): Boolean = (x, y) match {
    case (p: java.lang.Number, q: java.lang.Number)
        if !x.isInstanceOf[java.lang.Long] || !y.isInstanceOf[java.lang.Long] =>
      val (u, v) = (p.doubleValue(), q.doubleValue())
      math.abs(u - v) <= 1e-6 * math.max(1.0, math.max(math.abs(u), math.abs(v)))
    case _ => x == y
  }
}

/** Seeded TPC-H-shaped generator: the same seed gives the same rows. */
object TpchGen {
  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  /** Disjoint `l_shipdate` ranges, one lineitem append each. */
  val shipBounds: Seq[String] = (1992 to 2000 by 2).map(y => s"$y-01-01")

  val ordersDdl = "o_orderkey BIGINT NOT NULL, o_custkey BIGINT, o_orderstatus STRING, " +
    "o_totalprice DOUBLE, o_orderdate DATE, o_shippriority INT"
  val lineitemDdl = "l_orderkey BIGINT, l_linenumber INT, l_suppkey BIGINT, " +
    "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_shipdate DATE, " +
    "l_returnflag STRING"

  private def h(seed: Long, c: String, cols: org.apache.spark.sql.Column*) =
    pmod(xxhash64((lit(seed) +: lit(c) +: cols): _*), lit(1L << 40))

  def write(s: SparkSession, dir: String, seed: Long, orders: Int,
      withLineitem: Boolean = true): Unit = {
    val customers = math.max(100, orders / 10)
    val suppliers = math.max(20, orders / 150)
    def save(df: DataFrame, n: String, parts: Int = 1): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$dir/$n")
    save(s.range(5).select(col("id").as("r_regionkey"),
      element_at(typedLit(regions), col("id").cast("int") + 1).as("r_name")), "region")
    save(s.range(25).select(col("id").as("n_nationkey"), concat(lit("NATION_"), col("id"))
      .as("n_name"), (col("id") % 5).as("n_regionkey")), "nation")
    save(s.range(1, suppliers + 1).select(col("id").as("s_suppkey"),
      (h(seed, "sn", col("id")) % 25).as("s_nationkey")), "supplier")
    save(s.range(1, customers + 1).select(col("id").as("c_custkey"),
      (h(seed, "cn", col("id")) % 25).as("c_nationkey"),
      element_at(typedLit(segments), (h(seed, "cs", col("id")) % 5).cast("int") + 1)
        .as("c_mktsegment")), "customer")
    val o = s.range(1, orders + 1).select(
      col("id").as("o_orderkey"),
      (h(seed, "oc", col("id")) % customers + 1).as("o_custkey"),
      element_at(typedLit(Seq("F", "O", "P")), (h(seed, "os", col("id")) % 3).cast("int") + 1)
        .as("o_orderstatus"),
      (h(seed, "op", col("id")) % 50000000 / 100.0 + 1000).as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"), (h(seed, "od", col("id")) % 2400).cast("int"))
        .as("o_orderdate"),
      (h(seed, "ox", col("id")) % 5).cast("int").as("o_shippriority"))
    save(o, "orders", 2)
    if (!withLineitem) return
    val li = s.read.parquet(s"$dir/orders")
      .select(col("o_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), (h(seed, "ln", col("o_orderkey")) % 7 + 1).cast("int")))
          .as("l_linenumber"))
      .select(
        col("o_orderkey").as("l_orderkey"), col("l_linenumber"),
        (h(seed, "ls", col("o_orderkey"), col("l_linenumber")) % suppliers + 1).as("l_suppkey"),
        (h(seed, "lq", col("o_orderkey"), col("l_linenumber")) % 50 + 1).cast("double")
          .as("l_quantity"),
        (h(seed, "le", col("o_orderkey"), col("l_linenumber")) % 10000000 / 100.0 + 900)
          .as("l_extendedprice"),
        ((h(seed, "ld", col("o_orderkey"), col("l_linenumber")) % 11) / 100.0).as("l_discount"),
        date_add(col("o_orderdate"),
          (h(seed, "lt", col("o_orderkey"), col("l_linenumber")) % 121 + 1).cast("int"))
          .as("l_shipdate"),
        element_at(typedLit(Seq("A", "N", "R")),
          (h(seed, "lr", col("o_orderkey"), col("l_linenumber")) % 3).cast("int") + 1)
          .as("l_returnflag"))
    save(li, "lineitem", 2)
  }

  /** Raw parquet as cached temp views `raw_<table>` of the base session. */
  def views(s: SparkSession, dir: String): Unit =
    Seq("region", "nation", "supplier", "customer", "orders", "lineitem").foreach(n =>
      s.read.parquet(s"$dir/$n").cache().createOrReplaceTempView(s"raw_$n"))
}
