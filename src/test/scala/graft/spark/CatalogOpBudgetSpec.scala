package graft.spark

import java.nio.file.Files

import graft.storage.{CountingClient, DirectoryObjectStoreClient, ObjectStoreOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

/** Object-store round trips of the catalog's hot read path, held to
  * fixed budgets. Each operation runs once to warm the handle's read
  * cache; the budget applies to its second run, when every write-once
  * object is local and only the latest-root resolution reaches the
  * store: one GET of the `vn/latest` hint and two existence checks
  * (the hinted version and the one past it).
  */
class CatalogOpBudgetSpec extends AnyFunSuite {

  private val TableExistsBudget = 3
  private val LoadTableBudget = 3
  private val ScanBuildBudget = 0

  private lazy val warehouse = Files.createTempDirectory("graft-budget").toString

  lazy val spark: SparkSession = graft.Verify.sessionBuilder("2")
    .config("spark.sql.catalog.bud", classOf[GraftCatalog].getName)
    .config("spark.sql.catalog.bud.warehouse", warehouse)
    .config("spark.sql.catalog.bud.storage", "object")
    .getOrCreate()

  private lazy val (cat, client) = {
    spark.sql("CREATE NAMESPACE bud.ns1")
    spark.sql("CREATE TABLE bud.ns1.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO bud.ns1.t VALUES (1, 'a'), (2, 'b')")
    val c = spark.sessionState.catalogManager.catalog("bud").asInstanceOf[GraftCatalog]
    val counting = new CountingClient(new DirectoryObjectStoreClient(warehouse))
    c.storage = new ObjectStoreOps(counting)
    (c, counting)
  }

  private val ident = Identifier.of(Array("ns1"), "t")

  /** Client calls of `op`'s second run. */
  private def warmCalls(op: => Unit): Long = {
    op
    client.reset()
    op
    client.calls
  }

  test("warm tableExists stays within its budget of client calls") {
    val n = warmCalls(assert(cat.tableExists(ident)))
    assert(n <= TableExistsBudget, s"tableExists made $n client calls")
  }

  test("warm loadTable stays within its budget of client calls") {
    val n = warmCalls(cat.loadTable(ident))
    assert(n <= LoadTableBudget, s"loadTable made $n client calls")
  }

  test("a scan build on a loaded table stays within its budget of client calls") {
    val table = cat.loadTable(ident).asInstanceOf[GraftTable]
    val n = warmCalls(
      table.newScanBuilder(CaseInsensitiveStringMap.empty()).build())
    assert(n <= ScanBuildBudget, s"scan build made $n client calls")
  }
}
