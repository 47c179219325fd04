package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** `dml_mix`: one closed-loop client rotating row-level writes over
  * three `orders` tables, one per write mode, with read-backs and a
  * periodic compaction in between. A driver-side model of each table
  * checks every read-back; the run ends with a restart check through a
  * fresh catalog instance.
  */
final class DmlMix(env: Env) extends Workload {
  import DmlMix._

  override val clients = 1
  private val raw = env.work.resolve("raw").toString
  private var sess: SparkSession = _
  private var warehouse: String = _
  /** Per table: key -> (status, price), as the program must hold it. */
  private val model = Modes.map(_._1 -> mutable.HashMap.empty[Long, (String, Double)]).toMap
  private var nextKey = 0L
  private var spaceAmp = Double.NaN

  TpchGen.write(env.spark, raw, env.seed, Rows0, withLineitem = false)

  private def t(n: String) = s"${Catalogs.Name}.dml.$n"

  override def setup(rep: Int): Unit = {
    warehouse = env.work.resolve(s"dml-$rep").toString
    val s = env.newSession()
    Catalogs.attach(s, warehouse, objectStore = false, 0, env.traced)
    s.sql(s"CREATE NAMESPACE ${Catalogs.Name}.dml")
    Modes.foreach { case (n, props) =>
      s.sql(s"CREATE TABLE ${t(n)} (o_orderkey BIGINT NOT NULL, o_orderstatus STRING, " +
        s"o_totalprice DOUBLE) TBLPROPERTIES ($props)")
      s.sql(s"INSERT INTO ${t(n)} SELECT o_orderkey, o_orderstatus, o_totalprice " +
        s"FROM parquet.`$raw/orders`")
    }
    s.sql(s"USE ${Catalogs.Name}")
    sess = s
  }

  override def prepare(): Unit = {
    val rows = env.spark.read.parquet(s"$raw/orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice").collect()
    model.values.foreach { m =>
      m.clear()
      rows.foreach(r => m(r.getLong(0)) = (r.getString(1), r.getDouble(2)))
    }
    nextKey = Rows0 + 1L
  }

  override def session(client: Int): SparkSession = sess

  private def values(rows: Seq[(Long, String, Double)]): String =
    rows.map { case (k, st, p) => s"($k, '$st', $p)" }.mkString(", ")

  private def newRows(rnd: Random, n: Int): Seq[(Long, String, Double)] =
    Seq.fill(n) {
      nextKey += 1
      (nextKey, Seq("F", "O", "P")(rnd.nextInt(3)), (100000 + rnd.nextInt(9000000)) / 100.0)
    }

  /** A key range of about `Span` keys somewhere in the table. */
  private def range(rnd: Random): (Long, Long) = {
    val lo = 1L + rnd.nextInt(nextKey.toInt)
    (lo, lo + Span)
  }

  private def expectRange(n: String, lo: Long, hi: Long): Seq[(Long, String, Double)] =
    model(n).iterator.filter { case (k, _) => k >= lo && k <= hi }
      .map { case (k, (st, p)) => (k, st, p) }.toSeq.sortBy(_._1)

  /** Fourteen writes and fifteen read-backs. Each table is compacted
    * once per deck, so the pending deltas a read-back must apply stay
    * within one deck's worth of writes instead of depending on where the
    * window falls. The cheap classes (inserts, read-backs, ~130-200 ms)
    * make up 62 % of the deck, so the median falls inside their cluster
    * rather than on the step up to the 300-600 ms row-level writes.
    */
  private val deck = Deck("insert" -> 3, "merge" -> 3, "delete" -> 2, "update" -> 2,
    "txn" -> 1, "compact" -> 3, "read_range" -> 12, "read_agg" -> 3)

  /** Per class, how many statements of it have run: each class rotates
    * over the three tables on its own, so every run of every seed sends
    * each class to each write mode equally often.
    */
  private val turns = mutable.HashMap.empty[String, Int].withDefaultValue(0)

  override def next(client: Int, rnd: Random): Op = {
    val cls = deck.draw(rnd)
    val turn = turns(cls)
    turns(cls) = turn + 1
    val n = Modes(turn % Modes.size)._1
    val m = model(n)
    cls match {
    case "compact" => Op("compact", write = true, s => {
      s.sql(s"CALL ${Catalogs.Name}.system.compact_table('dml', '$n')").collect()
      0L
    })
    case "insert" =>
      val rows = newRows(rnd, 20)
      Op("insert", write = true, s => {
        s.sql(s"INSERT INTO ${t(n)} VALUES ${values(rows)}")
        rows.foreach { case (k, st, pr) => m(k) = (st, pr) }; 0L
      })
    case "merge" =>
      val (lo, hi) = range(rnd)
      val upd = expectRange(n, lo, hi).take(10).map { case (k, st, _) =>
        (k, st, (100000 + rnd.nextInt(9000000)) / 100.0)
      } ++ newRows(rnd, 10)
      Op("merge", write = true, s => {
        s.sql(s"""MERGE INTO ${t(n)} d USING (SELECT * FROM VALUES ${values(upd)}
          AS u(o_orderkey, o_orderstatus, o_totalprice)) u ON d.o_orderkey = u.o_orderkey
          WHEN MATCHED THEN UPDATE SET o_totalprice = u.o_totalprice
          WHEN NOT MATCHED THEN INSERT *""")
        upd.foreach { case (k, st, pr) => m(k) = (st, pr) }; 0L
      })
    case "delete" =>
      val (lo, hi) = range(rnd)
      Op("delete", write = true, s => {
        s.sql(s"DELETE FROM ${t(n)} WHERE o_orderkey BETWEEN $lo AND $hi")
        expectRange(n, lo, hi).foreach(r => m.remove(r._1)); 0L
      })
    case "update" =>
      val (lo, hi) = range(rnd)
      Op("update", write = true, s => {
        s.sql(s"UPDATE ${t(n)} SET o_totalprice = o_totalprice + 1.0 " +
          s"WHERE o_orderkey BETWEEN $lo AND $hi")
        expectRange(n, lo, hi).foreach { case (k, st, pr) => m(k) = (st, pr + 1.0) }; 0L
      })
    case "txn" =>
      val other = Modes((turn + 1) % Modes.size)._1
      val rows = newRows(rnd, 5)
      val (lo, hi) = range(rnd)
      Op("txn", write = true, s => {
        try {
          s.sql("BEGIN TRANSACTION")
          s.sql(s"INSERT INTO ${t(n)} VALUES ${values(rows)}")
          s.sql(s"DELETE FROM ${t(other)} WHERE o_orderkey BETWEEN $lo AND $hi")
          s.sql("COMMIT")
        } catch {
          case e: Throwable =>
            val cat = s.sessionState.catalogManager.catalog(Catalogs.Name)
              .asInstanceOf[graft.spark.GraftCatalog]
            if (cat.transactionActive) cat.rollbackTransaction()
            throw e
        }
        rows.foreach { case (k, st, pr) => m(k) = (st, pr) }
        expectRange(other, lo, hi).foreach(r => model(other).remove(r._1)); 0L
      })
    case "read_range" =>
      val (lo, hi) = range(rnd)
      Op("read_range", write = false, s => {
        val got = s.sql(s"SELECT o_orderkey, o_orderstatus, o_totalprice FROM ${t(n)} " +
          s"WHERE o_orderkey BETWEEN $lo AND $hi ORDER BY o_orderkey").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
        Check(got == expectRange(n, lo, hi), s"read_range $n [$lo, $hi]")
        got.size.toLong
      })
    case _ => Op("read_agg", write = false, s => {
      val r = s.sql(s"SELECT count(*), sum(o_totalprice) FROM ${t(n)}").collect()(0)
      Check(r.getLong(0) == m.size, s"read_agg $n: count ${r.getLong(0)} model ${m.size}")
      val want = m.valuesIterator.map(_._2).sum
      Check(math.abs(r.getDouble(1) - want) <= 1e-6 * math.abs(want),
        s"read_agg $n: sum ${r.getDouble(1)} model $want")
      1L
    })
    }
  }

  /** Restart check: every table read back in full through a fresh
    * catalog instance must equal the model. Then `space_amp`: warehouse
    * bytes over one compacted parquet copy of the live rows.
    */
  override def finish(): Unit = {
    val s = env.spark.newSession()
    Catalogs.attach(s, warehouse, objectStore = false, 0, traced = false)
    val fresh = env.work.resolve("dml-fresh")
    Modes.foreach { case (n, _) =>
      val df = s.table(t(n)).select("o_orderkey", "o_orderstatus", "o_totalprice")
      val got = df.collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
      Check(got.size == df.count() && got == model(n).toMap,
        s"restart: $n differs from the model (${got.size} rows, model ${model(n).size})")
      df.coalesce(1).write.mode("overwrite").parquet(fresh.resolve(n).toString)
    }
    spaceAmp = Fs.sizeOf(java.nio.file.Paths.get(warehouse)).toDouble / Fs.sizeOf(fresh)
  }

  override def extra: Map[String, Double] = Map("space_amp" -> spaceAmp)

  override def treeDepth: Int = Fs.treeDepth(warehouse)

  override def warmupStmts: Int = 40
  override def layerStmts: Int = 40
}

object DmlMix {
  /** Rows loaded into each table at set-up. */
  val Rows0 = 20000
  /** Keys per DELETE / UPDATE / read-back range. */
  val Span = 40L
  val Modes: Seq[(String, String)] = Seq(
    "orders_cow" -> "'graft.delete.mode' = 'copy-on-write'",
    "orders_pos" -> ("'graft.update.mode' = 'merge-on-read', " +
      "'graft.merge.mode' = 'merge-on-read'"),
    "orders_eq" -> ("'graft.write.upsert-keys' = 'o_orderkey', " +
      "'graft.merge.mode' = 'merge-on-read-eq'"))
}
