package graft.perfbench

import java.nio.file.Path
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.{Map => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.spark.GraftCatalog
import graft.storage._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` indexes the
  * enclosing span of the same statement (-1 for the statement itself).
  */
final case class Span(layer: String, name: String, startNs: Long,
    var endNs: Long, parent: Int)

/** Per-statement trace context: spans and counters recorded on the
  * statement's own thread. Spark events (phases, jobs, tasks) arrive on
  * other threads and are joined in afterwards by statement id.
  */
final class StmtTrace(val id: Long, val cls: String, val write: Boolean,
    val startNs: Long, val startMs: Long) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private val open = mutable.ArrayStack.empty[Int]
  var endNs = 0L
  var rowsReturned = 0L
  var session: SparkSession = null

  def add(name: String, v: Double = 1.0): Unit = counts(name) += v

  def push(layer: String, name: String): Int = {
    spans += Span(layer, name, System.nanoTime(), 0L,
      if (open.isEmpty) -1 else open.top)
    open.push(spans.size - 1)
    spans.size - 1
  }

  def pop(i: Int): Unit = { spans(i).endNs = System.nanoTime(); open.pop() }

  /** Is a span of `layer` open? */
  def within(layer: String): Boolean = open.exists(spans(_).layer == layer)
}

/** The bench's in-memory tracer. Everything here is a no-op unless a
  * statement is active on the calling thread, which only happens in a
  * traced run's timed window.
  */
object Trace {
  private val cur = new ThreadLocal[StmtTrace]
  val done = new ConcurrentLinkedQueue[StmtTrace]()

  def begin(id: Long, cls: String, write: Boolean): StmtTrace = {
    val t = new StmtTrace(id, cls, write, System.nanoTime(),
      System.currentTimeMillis())
    cur.set(t)
    t
  }

  def end(t: StmtTrace, keep: Boolean): Unit = {
    t.endNs = System.nanoTime()
    cur.remove()
    if (keep) done.add(t)
  }

  def current: StmtTrace = cur.get

  def count(name: String, v: Double = 1.0): Unit = {
    val t = cur.get
    if (t != null) t.add(name, v)
  }

  @inline def span[T](layer: String, name: String)(f: => T): T = {
    val t = cur.get
    if (t == null) f
    else {
      val i = t.push(layer, name)
      try f finally t.pop(i)
    }
  }
}

/** Keys of the catalog layout (`graft.objects.FileLocations`). */
object Keys {
  def isRootVersion(k: String): Boolean =
    k.startsWith("vn/") && k != "vn/latest" && k != "vn/oldest"
  def isNode(k: String): Boolean = k.startsWith("node/") || isRootVersion(k)
  def isDef(k: String): Boolean = k.startsWith("def/")
  def isTableMeta(k: String): Boolean =
    k.startsWith("data/") && (k.contains("/meta/") || k.contains("/manifests/"))
}

/** Fixed-latency object-store client: every call sleeps one round trip
  * before doing its work. It IS a [[DirectoryObjectStoreClient]], so
  * `ObjectStoreOps` keeps its native delimiter listing and a reopenable
  * `StorageConf` (the sleep sits below the read cache, so a cache hit
  * pays nothing). It also counts client calls per kind for the tracer.
  */
final class LatencyClient(dir: String, roundTripMs: Long)
    extends DirectoryObjectStoreClient(dir) {

  private def rt[T](kind: String)(f: => T): T = {
    if (roundTripMs > 0) Thread.sleep(roundTripMs)
    Trace.count("storage.calls")
    Trace.count(s"storage.$kind")
    f
  }

  override def head(key: String): Option[String] = rt("head")(super.head(key))
  override def size(key: String): Option[Long] = rt("head")(super.size(key))
  override def get(key: String): Option[(Array[Byte], String)] = rt("get") {
    val r = super.get(key)
    r.foreach(b => Trace.count("storage.read_bytes", b._1.length))
    r
  }
  override def putIfNoneMatch(key: String, data: Array[Byte]): Boolean =
    rt("cas")(super.putIfNoneMatch(key, data))
  override def put(key: String, data: Array[Byte]): Unit =
    rt("put")(super.put(key, data))
  override def delete(keys: Seq[String]): Unit = rt("delete")(super.delete(keys))
  override def list(prefix: String): Seq[String] = rt("list")(super.list(prefix))
  override def listDirectories(prefix: String): Seq[String] =
    rt("list")(super.listDirectories(prefix))
  override def listDeep(prefix: String): Seq[String] =
    rt("list")(super.listDeep(prefix))
  override def copy(srcKey: String, dstKey: String): Unit =
    rt("put")(super.copy(srcKey, dstKey))
}

/** Counting decorator at the `StorageOps` seam. It forwards every
  * method, `listCommonPrefixes` and `reopenConf` included, so the
  * program takes the same paths it takes undecorated. On local storage
  * it also counts calls per kind; on the object store the client counts
  * them ([[LatencyClient]]) and this layer adds the read-cache hits.
  */
final class TracedStorage(inner: StorageOps, countKinds: Boolean)
    extends StorageOps {

  private def call[T](kind: String)(f: => T): T =
    Trace.span("storage", kind) {
      if (countKinds) { Trace.count("storage.calls"); Trace.count(s"storage.$kind") }
      f
    }

  override def root: String = inner.root
  override def absolute(rel: String): String = inner.absolute(rel)
  override def reopenConf: StorageConf = inner.reopenConf

  override def exists(rel: String): Boolean = call("head") {
    if (Keys.isRootVersion(rel)) Trace.count("tree.root_probes")
    inner.exists(rel)
  }

  override def read(rel: String): Array[Byte] = call("get") {
    val t = Trace.current
    val getsBefore = if (t == null) 0.0 else t.counts("storage.get")
    val b = inner.read(rel)
    if (t != null) {
      t.add("storage.reads")
      if (!countKinds && t.counts("storage.get") == getsBefore) t.add("storage.read_hits")
      if (countKinds) t.add("storage.read_bytes", b.length)
      if (Keys.isNode(rel)) {
        t.add("tree.node_reads")
        if (t.within("lookup")) t.add("tree.lookup_node_reads")
      }
      if (Keys.isDef(rel)) t.add("catalog.def_reads")
      if (Keys.isTableMeta(rel)) {
        t.add("format.meta_reads"); t.add("format.meta_read_bytes", b.length)
      }
    }
    b
  }

  override def sizeOf(rel: String): Long = call("head")(inner.sizeOf(rel))

  override def prepareToReadLocal(rel: String): Path = call("get") {
    val p = inner.prepareToReadLocal(rel)
    if (countKinds) Trace.count("storage.read_bytes", java.nio.file.Files.size(p))
    p
  }

  private def written(rel: String, data: Array[Byte]): Unit = {
    Trace.count("storage.write_bytes", data.length)
    if (Keys.isNode(rel)) Trace.count("tree.node_writes")
    if (Keys.isTableMeta(rel)) Trace.count("format.meta_write_bytes", data.length)
  }

  override def writeAtomic(rel: String, data: Array[Byte]): Unit = call("cas") {
    written(rel, data)
    val root = Keys.isRootVersion(rel)
    if (root) Trace.count("txn.root_cas")
    try inner.writeAtomic(rel, data)
    catch {
      case e: AtomicSealFailureException =>
        if (root) Trace.count("txn.root_cas_lost")
        throw e
    }
  }

  override def overwrite(rel: String, data: Array[Byte]): Unit = call("put") {
    written(rel, data)
    inner.overwrite(rel, data)
  }

  override def deleteBatch(rels: Seq[String]): Unit = call("delete")(inner.deleteBatch(rels))
  override def listPrefix(prefix: String): Seq[String] = call("list")(inner.listPrefix(prefix))
  override def listDeep(prefix: String): Seq[String] = call("list")(inner.listDeep(prefix))
  override def listCommonPrefixes(prefix: String): Seq[String] =
    call("list")(inner.listCommonPrefixes(prefix))
  override def move(srcRel: String, dstRel: String): Unit = call("put")(inner.move(srcRel, dstRel))
  override def deleteTree(prefix: String): Unit = call("delete")(inner.deleteTree(prefix))
}

/** Times every public catalog entry point, then calls `super`. Only
  * installed in traced runs ([[Catalogs.attach]]).
  */
class TracedCatalog extends GraftCatalog {
  private def entry[T](name: String, lookup: Boolean = false)(f: => T): T = {
    Trace.count("catalog.entry_calls")
    if (name.startsWith("loadTable")) Trace.count("catalog.load_table")
    Trace.span("catalog", name) {
      if (lookup) Trace.span("lookup", name)(f) else f
    }
  }

  override def listNamespaces(): Array[Array[String]] =
    entry("listNamespaces")(super.listNamespaces())
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    entry("listNamespaces")(super.listNamespaces(namespace))
  override def namespaceExists(namespace: Array[String]): Boolean =
    entry("namespaceExists")(super.namespaceExists(namespace))
  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] =
    entry("loadNamespaceMetadata")(super.loadNamespaceMetadata(namespace))
  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit =
    entry("createNamespace")(super.createNamespace(namespace, metadata))
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    entry("alterNamespace")(super.alterNamespace(namespace, changes: _*))
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    entry("dropNamespace")(super.dropNamespace(namespace, cascade))
  override def listTables(namespace: Array[String]): Array[Identifier] =
    entry("listTables")(super.listTables(namespace))
  override def tableExists(ident: Identifier): Boolean =
    entry("tableExists", lookup = true)(super.tableExists(ident))
  override def loadTable(ident: Identifier): Table =
    entry("loadTable", lookup = true)(super.loadTable(ident))
  override def loadTable(ident: Identifier, version: String): Table =
    entry("loadTableVersion")(super.loadTable(ident, version))
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    entry("loadTableTimestamp")(super.loadTable(ident, timestamp))
  override def createTable(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: JMap[String, String]): Table =
    entry("createTable")(super.createTable(ident, columns, partitions, properties))
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table =
    entry("createTable")(super.createTable(ident, schema, partitions, properties))
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    entry("alterTable")(super.alterTable(ident, changes: _*))
  override def dropTable(ident: Identifier): Boolean =
    entry("dropTable")(super.dropTable(ident))
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    entry("renameTable")(super.renameTable(oldIdent, newIdent))
  override def listViews(namespace: String*): Array[Identifier] =
    entry("listViews")(super.listViews(namespace: _*))
  override def viewExists(ident: Identifier): Boolean =
    entry("viewExists")(super.viewExists(ident))
  override def loadView(ident: Identifier): View = entry("loadView")(super.loadView(ident))
  override def createView(info: ViewInfo): View = entry("createView")(super.createView(info))
  override def replaceView(info: ViewInfo, orCreate: Boolean): View =
    entry("replaceView")(super.replaceView(info, orCreate))
  override def dropView(ident: Identifier): Boolean = entry("dropView")(super.dropView(ident))
  override def alterView(ident: Identifier, changes: ViewChange*): View =
    entry("alterView")(super.alterView(ident, changes: _*))
  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit =
    entry("renameView")(super.renameView(oldIdent, newIdent))
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    entry("listFunctions")(super.listFunctions(namespace))
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    entry("loadFunction")(super.loadFunction(ident))
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    entry("listProcedures")(super.listProcedures(namespace))
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    entry("loadProcedure")(super.loadProcedure(ident))
  override def beginTransaction(isolation: Option[String]): Unit =
    entry("beginTransaction")(super.beginTransaction(isolation))
  override def commitTransaction(): Unit = entry("commitTransaction")(super.commitTransaction())
  override def rollbackTransaction(): Unit =
    entry("rollbackTransaction")(super.rollbackTransaction())
}

/** Installs the bench's catalog and storage seams into a session. */
object Catalogs {
  val Name = "bench"

  /** Register catalog `bench` over `warehouse` in `s`, load it, and swap
    * in the bench's storage: a [[LatencyClient]]-backed object store
    * when `roundTripMs` is set, and the counting decorator when traced.
    *
    * The conf must name `GraftCatalog` itself — the parser extension
    * recognises graft catalogs by that exact class name — so a traced
    * run instantiates [[TracedCatalog]] under a temporary conf value and
    * restores the real one; the catalog manager keeps the instance.
    */
  def attach(s: SparkSession, warehouse: String, objectStore: Boolean,
      roundTripMs: Long, traced: Boolean): GraftCatalog = {
    // the catalog manager reads the thread's active session conf
    SparkSession.setActiveSession(s)
    val key = s"spark.sql.catalog.$Name"
    s.conf.set(s"$key.warehouse", warehouse)
    s.conf.set(s"$key.storage", if (objectStore) "object" else "local")
    s.conf.set(key,
      if (traced) classOf[TracedCatalog].getName else classOf[GraftCatalog].getName)
    val cat = s.sessionState.catalogManager.catalog(Name).asInstanceOf[GraftCatalog]
    s.conf.set(key, classOf[GraftCatalog].getName)
    val base: StorageOps =
      if (objectStore) new ObjectStoreOps(new LatencyClient(warehouse, roundTripMs))
      else cat.storage
    cat.storage = if (traced) new TracedStorage(base, countKinds = !objectStore) else base
    cat
  }
}

/** Files each scan node of an executed plan reads. */
object ScanFiles extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): Seq[Long] =
    collectWithSubqueries(plan) {
      case b: BatchScanExec => b.inputPartitions.map {
        case fp: FilePartition => fp.files.length.toLong
        case _ => 1L
      }.sum
      case f: FileSourceScanExec =>
        f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }
}

/** Spark-side collectors for traced runs: job/task figures keyed by the
  * statement's job group, and planning phases of every query execution.
  */
final class SparkCollector extends SparkListener with QueryExecutionListener {
  final class Agg {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var shuffleBytes = 0L
    var inputBytes = 0L; var inputRecords = 0L; var outputBytes = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  }
  val byGroup = new ConcurrentHashMap[String, Agg]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  /** Planning phases and scanned files of each finished execution. */
  final case class Exec(session: SparkSession, phases: Seq[(String, Long, Long)],
      scans: Int, files: Long)
  val execs = new ConcurrentLinkedQueue[Exec]()
  @volatile var events = 0L

  private def agg(g: String): Agg = byGroup.computeIfAbsent(g, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).orNull
    if (g != null) {
      jobStart.put(e.jobId, (g, e.time))
      e.stageIds.foreach(stageGroup.put(_, g))
      agg(g).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      agg(g).jobSpans += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val g = stageGroup.get(e.stageId)
    if (g != null && e.taskMetrics != null) {
      val a = agg(g); val m = e.taskMetrics
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
      a.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  private def record(qe: QueryExecution): Unit = {
    events += 1
    val ph = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
    val files = ScanFiles.of(qe.executedPlan)
    execs.add(Exec(qe.sparkSession, ph, files.size, files.sum))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  /** Wait until the asynchronous buses have gone quiet. */
  def drain(): Unit = {
    var last = -1L; var quiet = 0; var waited = 0
    while (quiet < 3 && waited < 100) {
      Thread.sleep(50); waited += 1
      if (events == last) quiet += 1 else { quiet = 0; last = events }
    }
  }
}
