package graft.perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.util.Random

import graft.catalog.Graft
import graft.format.TableMetadata
import graft.objects.{CatalogDef, NamespaceDef, TableDef}
import graft.storage.LocalStorageOps
import graft.tree.TreeOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}

/** `catalog_ops`: four closed-loop clients, each with its own session
  * and catalog instance, over one object-store warehouse whose every
  * client call costs a fixed round trip. About four reads per write,
  * on tables drawn Zipf-skewed, so hot tables see concurrent commits.
  */
final class CatalogOps(env: Env) extends Workload {
  import CatalogOps._

  override val clients: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  private val rnd0 = new Random(env.seed)
  /** Table index by Zipf rank: the hot set differs per seed. */
  private val byRank: Array[Int] = rnd0.shuffle((0 until Tables).toVector).toArray
  private val cdf: Array[Double] = {
    val w = (1 to Tables).map(r => 1.0 / r).scanLeft(0.0)(_ + _).tail
    w.map(_ / w.last).toArray
  }
  private var warehouse: String = _
  private var setupVersion = 0L
  private val sessions = new Array[SparkSession](clients)

  // driver-side model of committed rows: table -> ids
  private val rows = Array.fill(Tables)(mutable.ArrayBuffer.empty[Int])
  private val started = Array.fill(Tables)(new AtomicInteger())
  private val nextId = new AtomicInteger()
  private val tmpSeq = new AtomicLong()
  /** About four reads per write; a CREATE is always followed by its
    * DROP. SHOW TABLES walks the whole tree, so it stays under 5 % of
    * the reads, off the read p95.
    */
  private val decks = Array.fill(clients)(Deck("describe" -> 10, "show" -> 1,
    "count" -> 10, "point" -> 10, "version" -> 9, "insert" -> 4, "alter" -> 2,
    "create" -> 2, "txn" -> 2))
  private val pendingDrop = new Array[Option[String]](clients)
  java.util.Arrays.fill(pendingDrop.asInstanceOf[Array[AnyRef]], None)

  private def ns(t: Int) = nsName(t / PerNs)
  private def nsName(i: Int) = f"ns$i%03d"
  private def name(t: Int) = f"t$t%06d"
  private def fq(t: Int) = s"${Catalogs.Name}.${ns(t)}.${name(t)}"

  /** Kernel-API population with latency off: the table definitions go
    * straight into the warehouse layout in batched transactions, four
    * loader threads over disjoint namespaces (their commits race and
    * rebase like any concurrent writers). Each table gets its own first
    * metadata document, but in one directory per namespace: the layout
    * `CREATE TABLE` uses costs two directories per table, which on a
    * slow filesystem would double the set-up and its clean-up. The
    * catalog reads a document by its key, wherever it lies, and a
    * table's later documents go to the usual place.
    */
  override def setup(rep: Int): Unit = {
    warehouse = env.work.resolve(s"catalog-ops-$rep").toString
    val st = new LocalStorageOps(warehouse)
    Graft.createCatalog(st, CatalogDef())
    def inTxn(f: graft.txn.Transaction => Unit): Unit = {
      val txn = Graft.beginTransaction(st)
      try { f(txn); Graft.commitTransaction(st, txn) } finally txn.close()
    }
    inTxn(txn => (0 until Namespaces).foreach(i =>
      Graft.createNamespace(st, txn, NamespaceDef(nsName(i)))))
    val schema = new StructType().add("id", IntegerType).add("v", StringType).json
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val loaders = (0 until Loaders).map { k =>
      new Thread(() =>
        try (k until Namespaces by Loaders).flatMap(i => i * PerNs until (i + 1) * PerNs)
          .grouped(Batch)
          .foreach(batch => inTxn { txn =>
            batch.foreach { t =>
              val meta = s"data/${ns(t)}/_setup/${name(t)}.metadata.json"
              TableMetadata.write(st, meta, TableMetadata.empty(schema))
              Graft.createTable(st, txn, TableDef(name(t), ns(t), metadataLocation = meta))
            }
          })
        catch { case e: Throwable => errors.add(e) })
    }
    loaders.foreach(_.start())
    loaders.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    val root = TreeOps.findLatestRoot(st).get
    setupVersion = root.version
    root.close()
  }

  override def prepare(): Unit = (0 until clients).foreach { c =>
    val s = env.newSession()
    Catalogs.attach(s, warehouse, objectStore = true, RoundTripMs, env.traced)
    s.sql(s"USE ${Catalogs.Name}")
    sessions(c) = s
  }

  override def session(client: Int): SparkSession = sessions(client)

  private def zipf(rnd: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    byRank(math.min(Tables - 1, if (i >= 0) i else -i - 1))
  }

  private def committed(t: Int): Vector[Int] = rows(t).synchronized(rows(t).toVector)

  private def insertRows(t: Int, n: Int): (Seq[Int], String) = {
    val ids = Seq.fill(n)(nextId.incrementAndGet())
    started(t).addAndGet(n)
    (ids, ids.map(i => s"($i, 'v$i')").mkString(", "))
  }

  private def commitRows(t: Int, ids: Seq[Int]): Unit =
    rows(t).synchronized(rows(t) ++= ids)

  override def next(client: Int, rnd: Random): Op = pendingDrop(client) match {
    case Some(tmp) =>
      pendingDrop(client) = None
      Op("drop", write = true, s => { s.sql(s"DROP TABLE $tmp"); 0L })
    case None =>
      val t = zipf(rnd)
      decks(client).draw(rnd) match {
      case "describe" => Op("describe", write = false, s => {
        val cols = s.sql(s"DESCRIBE TABLE ${fq(t)}").collect().map(_.getString(0))
        Check(cols.take(2).sameElements(Seq("id", "v")), s"describe ${fq(t)}: ${cols.mkString(",")}")
        cols.length.toLong
      })
      case "show" => Op("show", write = false, s => {
        val names = s.sql(s"SHOW TABLES IN ${Catalogs.Name}.${ns(t)}").collect()
          .map(_.getString(1)).toSet
        val first = t / PerNs * PerNs
        val expect = (first until first + PerNs).map(name)
        Check(expect.forall(names), s"show ${ns(t)}: missing tables")
        Check(names.size == expect.size ||
          names.forall(n => n.startsWith("tmp_") || expect.contains(n)),
          s"show ${ns(t)}: unexpected tables")
        names.size.toLong
      })
      case "count" => Op("count", write = false, s => {
        val lo = committed(t).size
        val n = s.sql(s"SELECT count(*) FROM ${fq(t)}").collect()(0).getLong(0)
        val hi = started(t).get
        Check(n >= lo && n <= hi, s"count ${fq(t)} = $n, expected [$lo, $hi]")
        1L
      })
      case "point" => Op("point", write = false, s => {
        val have = committed(t)
        val id = if (have.isEmpty) -1 else have(rnd.nextInt(have.size))
        val got = s.sql(s"SELECT v FROM ${fq(t)} WHERE id = $id").collect().map(_.getString(0))
        Check(if (id < 0) got.isEmpty else got.sameElements(Seq(s"v$id")),
          s"point ${fq(t)} id=$id: ${got.mkString(",")}")
        got.length.toLong
      })
      case "version" => Op("version", write = false, s => {
        val n = s.sql(s"SELECT count(*) FROM ${fq(t)} VERSION AS OF $setupVersion")
          .collect()(0).getLong(0)
        Check(n == 0L, s"version $setupVersion of ${fq(t)}: $n rows")
        1L
      })
      case "insert" =>
        val (ids, values) = insertRows(t, 2)
        Op("insert", write = true, s => {
          s.sql(s"INSERT INTO ${fq(t)} VALUES $values")
          commitRows(t, ids); 0L
        })
      case "alter" => Op("alter", write = true, s => {
        s.sql(s"ALTER TABLE ${fq(t)} SET TBLPROPERTIES ('bench.touch' = '${rnd.nextInt(1000)}')")
        0L
      })
      case "create" =>
        val tmp = s"${Catalogs.Name}.${ns(t)}.tmp_${client}_${tmpSeq.incrementAndGet()}"
        Op("create", write = true, s => {
          s.sql(s"CREATE TABLE $tmp (id INT, v STRING)")
          pendingDrop(client) = Some(tmp); 0L
        })
      case "txn" =>
        val u = zipf(rnd)
        val (a, va) = insertRows(t, 1)
        val (b, vb) = if (u == t) (Seq.empty[Int], "") else insertRows(u, 1)
        Op("txn", write = true, s => {
          try {
            s.sql("BEGIN TRANSACTION")
            s.sql(s"INSERT INTO ${fq(t)} VALUES $va")
            if (b.nonEmpty) s.sql(s"INSERT INTO ${fq(u)} VALUES $vb")
            s.sql("COMMIT")
          } catch {
            case e: Throwable =>
              val cat = s.sessionState.catalogManager.catalog(Catalogs.Name)
                .asInstanceOf[graft.spark.GraftCatalog]
              if (cat.transactionActive) cat.rollbackTransaction()
              throw e
          }
          commitRows(t, a); if (b.nonEmpty) commitRows(u, b); 0L
        })
      }
  }

  /** Restart check: a fresh catalog instance on plain local storage
    * must list every namespace and return the model's row counts.
    */
  override def finish(): Unit = {
    val s = env.spark.newSession()
    Catalogs.attach(s, warehouse, objectStore = false, 0, traced = false)
    val nss = s.sql(s"SHOW NAMESPACES IN ${Catalogs.Name}").collect().map(_.getString(0)).toSet
    Check((0 until Namespaces).map(nsName).forall(nss), "restart: namespaces missing")
    val touched = (0 until Tables).filter(started(_).get > 0)
      .sortBy(t => -started(t).get).take(24)
    touched.foreach { t =>
      val n = s.sql(s"SELECT count(*) FROM ${fq(t)}").collect()(0).getLong(0)
      Check(n == committed(t).size, s"restart: ${fq(t)} has $n rows, model ${committed(t).size}")
    }
    pendingDrop.flatten.foreach(tmp => s.sql(s"DROP TABLE $tmp"))
  }

  override def treeDepth: Int = Fs.treeDepth(warehouse)
  override def warmupStmts: Int = 45
  override def objectStore: Boolean = true
}

object CatalogOps {
  /** 10^4 tables, created in key order: enough for a tree three levels
    * deep at order 128 (key-ordered splits leave leaves half full), and
    * a set-up that fits three times into one run.
    */
  val Tables = 10000
  val Namespaces = 100
  val PerNs: Int = Tables / Namespaces
  val Batch = 500
  val Loaders = 4
  val RoundTripMs = 2L
}
