package graft.maintain

import java.nio.file.Files

import graft.spark.GraftCatalog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier
import org.scalatest.funsuite.AnyFunSuite

class MaintenanceSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("graft-mwh").toString

  lazy val spark: SparkSession = graft.Verify.sessionBuilder("4")
    .config("spark.sql.catalog.mcat", classOf[GraftCatalog].getName)
    .config("spark.sql.catalog.mcat.warehouse", warehouse)
    .getOrCreate()

  private def cat: GraftCatalog =
    spark.sessionState.catalogManager.catalog("mcat").asInstanceOf[GraftCatalog]

  private def currentFiles(ident: Identifier): Int = {
    val txn = graft.catalog.Graft.beginTransaction(cat.storage)
    val td = graft.catalog.Graft.describeTable(cat.storage, txn,
      ident.namespace()(0), ident.name())
    graft.format.TableMetadata.read(cat.storage, td.metadataLocation)
      .currentFiles(cat.storage).size
  }

  test("compaction bin-packs files and preserves content") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mcat.ns1")
    spark.sql("CREATE TABLE mcat.ns1.c (k BIGINT, v DOUBLE)")
    (1 to 4).foreach { i =>
      spark.sql(s"INSERT INTO mcat.ns1.c SELECT id + ${i * 100}, rand(42) FROM range(50)")
    }
    val ident = Identifier.of(Array("ns1"), "c")
    val before = spark.table("mcat.ns1.c").groupBy().sum("k").collect()(0).getLong(0)
    assert(currentFiles(ident) >= 4)
    val res = Maintenance.compactDataFiles(spark, cat, ident, targetFiles = 1)
    assert(res.filesAfter == 1 && res.filesBefore >= 4)
    assert(currentFiles(ident) == 1)
    val after = spark.table("mcat.ns1.c").groupBy().sum("k").collect()(0).getLong(0)
    assert(before == after)
    assert(spark.table("mcat.ns1.c").count() == 200)
  }

  test("snapshot expiration + orphan cleanup") {
    spark.sql("CREATE TABLE mcat.ns1.e (k BIGINT)")
    (1 to 3).foreach(_ => spark.sql("INSERT INTO mcat.ns1.e VALUES (1), (2)"))
    val ident = Identifier.of(Array("ns1"), "e")
    // overwrite makes the older files unreferenced by the current snapshot
    spark.sql("INSERT OVERWRITE mcat.ns1.e VALUES (9)")
    val expired = Maintenance.expireSnapshots(cat, ident, keepLast = 1)
    assert(expired == 3)
    val orphans = Maintenance.removeOrphanFiles(cat, ident)
    assert(orphans.nonEmpty)
    // table still reads correctly after cleanup
    assert(spark.table("mcat.ns1.e").collect().map(_.getLong(0)).sameElements(Array(9L)))
  }

  test("expiration keeps snapshots pinned by tags") {
    spark.sql("""CREATE TABLE mcat.ns1.tg (k BIGINT)
      TBLPROPERTIES ('graft.snapshot-log.inline-max'='2')""")
    spark.sql("INSERT INTO mcat.ns1.tg VALUES (1)")
    val ident = Identifier.of(Array("ns1"), "tg")
    // tag the FIRST snapshot, then bury it under enough history that
    // the retention window (and even its spilled log segment) drops it
    Maintenance.createTag(cat, ident, "first")
    (0 until 6).foreach(i => spark.sql(s"INSERT INTO mcat.ns1.tg VALUES ($i + 10)"))
    val expired = Maintenance.expireSnapshots(cat, ident, keepLast = 2)
    assert(expired > 0)
    assert(spark.sql("SELECT k FROM mcat.ns1.tg VERSION AS OF 'first'")
      .collect().map(_.getLong(0)).toSeq == Seq(1L),
      "a tagged snapshot must survive expiration")
    // orphan cleanup must also keep the pinned snapshot's files
    Maintenance.removeOrphanFiles(cat, ident)
    assert(spark.sql("SELECT k FROM mcat.ns1.tg VERSION AS OF 'first'")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(spark.table("mcat.ns1.tg").count() == 7)
  }

  test("rollback_to_snapshot restores an earlier state, history stays") {
    spark.sql("CREATE TABLE mcat.ns1.rb (k BIGINT)")
    spark.sql("INSERT INTO mcat.ns1.rb VALUES (1), (2)")
    val ident = Identifier.of(Array("ns1"), "rb")
    val goodSnap = {
      val txn = graft.catalog.Graft.beginTransaction(cat.storage)
      val td = graft.catalog.Graft.describeTable(cat.storage, txn, "ns1", "rb")
      graft.format.TableMetadata.read(cat.storage, td.metadataLocation)
        .currentSnapshotId
    }
    spark.sql("INSERT OVERWRITE mcat.ns1.rb VALUES (999)") // the mistake
    assert(spark.table("mcat.ns1.rb").count() == 1)
    val restored = Maintenance.rollbackToSnapshot(cat, ident, goodSnap)
    assert(restored == goodSnap)
    assert(spark.table("mcat.ns1.rb").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L)))
    // linear history: the mistake snapshot is still there (id order),
    // and a rollback of the rollback re-restores it
    val mistakes = spark.sql(
      "SELECT snapshot_id FROM mcat.ns1.`rb$snapshots` ORDER BY snapshot_id")
      .collect().map(_.getLong(0))
    assert(mistakes.length == 3,
      s"append, overwrite, rollback: ${mistakes.toSeq}")
    Maintenance.rollbackToSnapshot(cat, ident, mistakes(1))
    assert(spark.table("mcat.ns1.rb").collect().map(_.getLong(0))
      .sameElements(Array(999L)))
  }

  test("expire_snapshots older_than keeps everything newer than cutoff") {
    spark.sql("CREATE TABLE mcat.ns1.ag (k BIGINT)")
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO mcat.ns1.ag VALUES ($i)"))
    val ident = Identifier.of(Array("ns1"), "ag")
    // cutoff before every commit: nothing expires even with keep_last 1
    val expired0 = Maintenance.expireSnapshots(cat, ident, keepLast = 1,
      olderThanMillis = System.currentTimeMillis() - 3600_000L)
    assert(expired0 == 0)
    // cutoff after every commit: age policy expires down to the floor
    val expired1 = Maintenance.expireSnapshots(cat, ident, keepLast = 2,
      olderThanMillis = System.currentTimeMillis() + 1000L)
    assert(expired1 == 1)
    assert(spark.table("mcat.ns1.ag").count() == 3)
  }

  test("cherry-pick publishes one branch commit onto a diverged main") {
    spark.sql("CREATE TABLE mcat.ns1.cp (k BIGINT)")
    spark.sql("INSERT INTO mcat.ns1.cp VALUES (1)")
    val ident = Identifier.of(Array("ns1"), "cp")
    Maintenance.createBranch(cat, ident, "audit")
    spark.sql("INSERT INTO mcat.ns1.`cp$branch_audit` VALUES (100)")
    // main diverges — fast_forward would refuse; cherry-pick applies
    // just the audited commit
    spark.sql("INSERT INTO mcat.ns1.cp VALUES (2)")
    val branchHead = {
      val txn = graft.catalog.Graft.beginTransaction(cat.storage)
      val td = graft.catalog.Graft.describeTable(cat.storage, txn, "ns1", "cp")
      graft.format.TableMetadata.read(cat.storage, td.metadataLocation)
        .branches("audit")
    }
    Maintenance.cherryPickSnapshot(cat, ident, branchHead)
    assert(spark.table("mcat.ns1.cp").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 100L)))
    // picking the same snapshot twice must refuse (files already live)
    assertThrows[IllegalArgumentException](
      Maintenance.cherryPickSnapshot(cat, ident, branchHead))
    // $history: the branch commit is not a main ancestor
    val hist = spark.sql(
      """SELECT snapshot_id, is_current_ancestor FROM mcat.ns1.`cp$history`
         ORDER BY snapshot_id""").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(!hist(branchHead), "branch-only commit is not a main ancestor")
    assert(hist.count(_._2) == 3, "two main appends + the cherry-pick")
  }

  test("metadata-only import of pre-existing parquet files") {
    // files written OUTSIDE the catalog's commit path
    val ext = "external/imported"
    spark.range(0, 77).selectExpr("id AS k")
      .write.parquet(cat.storage.absolute(ext))
    val rels = cat.storage.listPrefix(ext).filter(_.endsWith(".parquet"))
    spark.sql("CREATE TABLE mcat.ns1.imp (k BIGINT)")
    val ident = Identifier.of(Array("ns1"), "imp")
    val n = Maintenance.importFiles(cat, ident, rels)
    assert(n == rels.size)
    assert(spark.table("mcat.ns1.imp").count() == 77)
    // imported files carry footer stats → prunable
    val none = spark.sql("SELECT * FROM mcat.ns1.imp WHERE k > 1000")
    assert(none.count() == 0)
  }

  test("catalog snapshot export: standalone copy opens as a fresh catalog") {
    spark.sql("CREATE TABLE mcat.ns1.exp (k BIGINT)")
    spark.sql("INSERT INTO mcat.ns1.exp VALUES (7), (8)")
    val version = graft.tree.TreeOps.findLatestRoot(cat.storage).get.version
    val destDir = Files.createTempDirectory("graft-export").toString
    val dest = new graft.storage.LocalStorageOps(destDir)
    val copied = Maintenance.exportSnapshot(cat, version, dest)
    assert(copied > 0)
    // the export is a standalone catalog at version 0
    val exported = graft.tree.TreeOps.findLatestRoot(dest).get
    assert(exported.version == 0L)
    assert(graft.catalog.Graft.catalogExists(dest))
    val txn = graft.catalog.Graft.beginTransaction(dest)
    assert(graft.catalog.Graft.tableExists(dest, txn, "ns1", "exp"))
    // and readable through a catalog registered on the export
    spark.conf.set("spark.sql.catalog.expcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.expcat.warehouse", destDir)
    assert(spark.table("expcat.ns1.exp").collect().map(_.getLong(0)).sorted
      .sameElements(Array(7L, 8L)))
  }

  test("named export records in the catalog def; VERSION AS OF resolves it") {
    spark.sql("CREATE TABLE mcat.ns1.nexp (k BIGINT)")
    spark.sql("INSERT INTO mcat.ns1.nexp VALUES (1), (2)")
    val v = graft.tree.TreeOps.findLatestRoot(cat.storage).get.version
    val dest = new graft.storage.LocalStorageOps(
      Files.createTempDirectory("graft-nexp").toString)
    Maintenance.exportSnapshot(cat, v, dest, copyData = false,
      name = Some("release-1"))
    // the name is recorded in the source catalog definition
    val latest = graft.tree.TreeOps.findLatestRoot(cat.storage).get
    val cd = graft.catalog.Graft.catalogDef(cat.storage, latest)
    assert(cd.exportedSnapshots.contains("release-1"))
    // later commits do not leak into the pinned read
    spark.sql("INSERT INTO mcat.ns1.nexp VALUES (3)")
    val pinned = spark.sql(
      "SELECT k FROM mcat.ns1.nexp VERSION AS OF 'release-1' ORDER BY k")
      .collect().map(_.getLong(0))
    assert(pinned.sameElements(Array(1L, 2L)))
    assert(spark.table("mcat.ns1.nexp").count() == 3)
    // an unknown string still fails loudly
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM mcat.ns1.nexp VERSION AS OF 'nope'").collect()
    }
    assert(e.getMessage.contains("nope"))
  }

  test("rewrite_manifests re-chunks the inventory, content untouched") {
    spark.sql("""CREATE TABLE mcat.ns1.rm (k BIGINT)
                 TBLPROPERTIES ('graft.manifest.inline-max' = '2')""")
    // 8 appends past the inline threshold: one delta segment each
    (1 to 8).foreach(i => spark.sql(
      s"INSERT INTO mcat.ns1.rm SELECT id + ${i * 10} FROM range(2)"))
    val ident = Identifier.of(Array("ns1"), "rm")
    def meta() = {
      val txn = graft.catalog.Graft.beginTransaction(cat.storage)
      val td = graft.catalog.Graft.describeTable(cat.storage, txn, "ns1", "rm")
      graft.format.TableMetadata.read(cat.storage, td.metadataLocation)
    }
    val before = meta().currentSnapshot.get
    assert(before.manifests.size >= 6, s"expected many delta segments, " +
      s"got ${before.manifests.size}")
    val sumBefore = spark.table("mcat.ns1.rm").groupBy().sum("k")
      .collect()(0).getLong(0)
    val segments = spark.sql(
      "CALL mcat.system.rewrite_manifests('ns1', 'rm', 6)")
      .collect()(0).getLong(0)
    val after = meta().currentSnapshot.get
    assert(segments == after.manifests.size.toLong)
    val expected = ((before.totalFiles + 5) / 6).toInt // ceil(files / 6)
    assert(after.manifests.size == expected,
      s"expected $expected chunks for ${before.totalFiles} entries, " +
        s"got ${after.manifests.size}")
    assert(after.manifests.size < before.manifests.size)
    assert(after.totalFiles == before.totalFiles &&
      after.totalRows == before.totalRows)
    assert(spark.table("mcat.ns1.rm").groupBy().sum("k")
      .collect()(0).getLong(0) == sumBefore)
    // old segments stay referenced by history until expiration — the
    // orphan scan must not claim them while snapshots can read them
    val orphans = Maintenance.removeOrphanFiles(cat, ident, dryRun = true)
    assert(!orphans.exists(o => before.manifests.contains(o)),
      s"live historical segments claimed as orphans: $orphans")
  }

  test("catalog survives history expiration with a stale latest hint") {
    val before = graft.tree.TreeOps.findLatestRoot(cat.storage).get.version
    Maintenance.expireCatalogVersions(cat, keepLast = 2)
    // poison the hint to a deleted version
    cat.storage.overwrite("vn/latest", "0".getBytes)
    val latest = graft.tree.TreeOps.findLatestRoot(cat.storage)
    assert(latest.isDefined && latest.get.version == before)
    assert(graft.catalog.Graft.catalogExists(cat.storage))
  }

  test("stale latest hint on the object store: a cached expired root is never the latest") {
    val wh = Files.createTempDirectory("graft-mwh-os").toString
    spark.conf.set("spark.sql.catalog.mos", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.mos.warehouse", wh)
    spark.conf.set("spark.sql.catalog.mos.storage", "object")
    spark.sql("CREATE NAMESPACE mos.ns1")
    spark.sql("CREATE TABLE mos.ns1.h (k BIGINT)")
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO mos.ns1.h VALUES ($i)"))
    val ocat = spark.sessionState.catalogManager.catalog("mos")
      .asInstanceOf[GraftCatalog]
    // a second handle on the bucket reads every root version, the one
    // the hint names included, before expiration deletes the old ones
    val reader = new graft.storage.ObjectStoreOps(
      new graft.storage.DirectoryObjectStoreClient(wh))
    val before = graft.tree.TreeOps.latestVersion(reader).get
    (0L to before).foreach(v =>
      reader.read(graft.objects.FileLocations.rootNodePath(v)))
    assert(Maintenance.expireCatalogVersions(ocat, keepLast = 2) > 0)
    // poison the hint to an expired version the reader still holds
    ocat.storage.overwrite("vn/latest", "1".getBytes)
    assert(reader.read(graft.objects.FileLocations.rootNodePath(1L)).nonEmpty,
      "premise: the reader's cache still serves the expired root")
    val latest = graft.tree.TreeOps.findLatestRoot(reader).get
    try {
      assert(latest.version == before)
      assert(graft.catalog.Graft.catalogExists(reader))
      val e = intercept[IllegalArgumentException] {
        graft.tree.TreeOps.findRootForVersion(reader, latest, 1L)
      }
      assert(e.getMessage.contains("oldest retained"), e.getMessage)
    } finally latest.close()
  }

  test("catalog version expiration bounds time travel, keeps latest") {
    spark.sql("CREATE TABLE mcat.ns1.h (k BIGINT)")
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO mcat.ns1.h VALUES ($i)"))
    val latestBefore = graft.tree.TreeOps.findLatestRoot(cat.storage).get.version
    val removed = Maintenance.expireCatalogVersions(cat, keepLast = 2)
    assert(removed > 0)
    val latest = graft.tree.TreeOps.findLatestRoot(cat.storage).get
    assert(latest.version == latestBefore)
    // full current state still readable
    assert(spark.table("mcat.ns1.h").count() == 3)
    // expiration wrote the spec's guaranteed-oldest hint (vn/oldest,
    // docs/format.md:213-216) = the oldest RETAINED version
    val oldest = graft.tree.TreeOps.oldestVersionHint(cat.storage)
    assert(oldest.contains(latestBefore - 1),
      s"oldest hint: $oldest, latest: $latestBefore")
    // a retained version loads DIRECTLY (O(1) file-name mapping);
    // an expired one fails fast naming the floor
    val ok = graft.tree.TreeOps.findRootForVersion(
      cat.storage, latest, latestBefore - 1)
    assert(ok.version == latestBefore - 1)
    val e = intercept[IllegalArgumentException] {
      graft.tree.TreeOps.findRootForVersion(cat.storage, latest, 0L)
    }
    assert(e.getMessage.contains("oldest retained"), e.getMessage)
  }

  test("history expiration keeps roots pinned by named exports") {
    spark.sql("CREATE TABLE mcat.ns1.pin (k BIGINT)")
    spark.sql("INSERT INTO mcat.ns1.pin VALUES (1), (2)")
    val v = graft.tree.TreeOps.latestVersion(cat.storage).get
    val dest = new graft.storage.LocalStorageOps(
      Files.createTempDirectory("graft-pin").toString)
    // minimal export: shared metadata/node files stay in the source,
    // so retention MUST NOT reclaim the pinned root's subtree
    Maintenance.exportSnapshot(cat, v, dest, copyData = false,
      name = Some("cut-1"))
    (3 to 6).foreach(i => spark.sql(s"INSERT INTO mcat.ns1.pin VALUES ($i)"))
    val removed = Maintenance.expireCatalogVersions(cat, keepLast = 2)
    assert(removed > 0)
    // the pinned root survived the horizon: the named read still
    // resolves to the exported content
    val pinned = spark.sql(
      "SELECT k FROM mcat.ns1.pin VERSION AS OF 'cut-1' ORDER BY k")
      .collect().map(_.getLong(0))
    assert(pinned.sameElements(Array(1L, 2L)),
      s"pinned read returned ${pinned.toSeq}")
    // and the root FILE itself was kept (reachable by direct path)
    val latest = graft.tree.TreeOps.findLatestRoot(cat.storage).get
    try {
      val r = graft.tree.TreeOps.findRootForVersion(cat.storage, latest, v)
      assert(r.version == v)
      if (r ne latest) r.close()
    } finally latest.close()
    // current state unaffected
    assert(spark.table("mcat.ns1.pin").count() == 6)
  }

  test("orphan scan distributes by prefix: Spark job, not a driver walk") {
    spark.sql("""CREATE TABLE mcat.ns1.od (k BIGINT, region STRING)
                 PARTITIONED BY (region)""")
    spark.sql("INSERT INTO mcat.ns1.od VALUES " +
      "(1, 'r1'), (2, 'r2'), (3, 'r3'), (4, 'r4')")
    val ident = Identifier.of(Array("ns1"), "od")
    // plant orphans across several prefixes — including one whose
    // entire directory no retained snapshot ever referenced
    val dataDir = "data/ns1/od/files"
    cat.storage.writeAtomic(s"$dataDir/region=r1/orphan-a.parquet",
      Array[Byte](1, 2, 3))
    cat.storage.writeAtomic(s"$dataDir/region=zz/orphan-b.parquet",
      Array[Byte](4, 5, 6))
    cat.storage.writeAtomic(s"$dataDir/orphan-top.parquet",
      Array[Byte](7))
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // distributeOver = 0 forces the prefix-parallel path at any size
      val removed = Maintenance.removeOrphanFiles(cat, ident,
        distributeOver = 0L)
      val removedData = removed.filter(_.endsWith(".parquet"))
      assert(removedData.toSet == Set(
        s"$dataDir/region=r1/orphan-a.parquet",
        s"$dataDir/region=zz/orphan-b.parquet",
        s"$dataDir/orphan-top.parquet"), s"removed: $removedData")
      // the anti-join ran as Spark work (listener bus is async — poll)
      val deadline = System.currentTimeMillis() + 10000
      while (jobs == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(jobs > 0, "expected a listener-observed Spark job")
      // every live row survives the cleanup
      assert(spark.table("mcat.ns1.od").count() == 4)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
