package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Turns a traced window's spans, counters and Spark events into the
  * per-layer metrics. Ratios that have no base in a workload (per
  * commit without commits, hit fraction without a read cache) are
  * left out rather than reported as 0.
  */
object Report {
  private type Iv = (Long, Long)

  final case class Layers(metrics: Map[String, Double],
      selfMsByClass: Map[String, Map[String, Double]])

  def layers(traces: Seq[StmtTrace], col: SparkCollector, objectStore: Boolean,
      depth: Int, gcMs: Double, samples: Seq[Sample]): Layers = {
    val n = traces.size.toDouble
    def sum(k: String, ts: Seq[StmtTrace] = traces) = ts.map(_.counts(k)).sum
    def toNs(t: StmtTrace, ms: Long): Long = t.startNs + (ms - t.startMs) * 1000000L

    // join Spark events to statements: executions by session and time,
    // jobs and tasks by the job group the client set
    val bySession = traces.groupBy(_.session)
    val execsOf = mutable.HashMap.empty[Long, mutable.ArrayBuffer[SparkCollector#Exec]]
    col.execs.asScala.foreach { e =>
      val start = e.phases.map(_._2).minOption.getOrElse(Long.MaxValue)
      bySession.getOrElse(e.session, Nil).find { t =>
        val endMs = t.startMs + (t.endNs - t.startNs) / 1000000L
        start >= t.startMs && start <= endMs + 1
      }.foreach(t => execsOf.getOrElseUpdate(t.id, mutable.ArrayBuffer.empty) += e)
    }
    def agg(t: StmtTrace) = Option(col.byGroup.get(s"s${t.id}"))

    val m = mutable.LinkedHashMap.empty[String, Double]
    val self = mutable.HashMap.empty[String, mutable.Map[String, Double]]
    var storageNs, catalogSelfNs, gapNs = 0.0
    val phaseNs = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var planStorageCalls, jobNs = 0.0
    var commitNs, commitCalls = 0.0
    var files, scans = 0.0
    traces.foreach { t =>
      val storage = t.spans.filter(_.layer == "storage").map(s => (s.startNs, s.endNs): Iv)
      val catalog = t.spans.filter(s => s.layer == "catalog" &&
        (s.parent < 0 || !isUnder(t, s.parent, "catalog"))).map(s => (s.startNs, s.endNs): Iv)
      val ex = execsOf.getOrElse(t.id, mutable.ArrayBuffer.empty)
      val phases = ex.flatMap(_.phases.map { case (p, s, e) => (p, (toNs(t, s), toNs(t, e))) })
      val phaseIv = phases.map(_._2)
      val jobs = agg(t).map(_.jobSpans.toSeq.map { case (s, e) => (toNs(t, s), toNs(t, e)) })
        .getOrElse(Nil)
      files += ex.map(_.files).sum; scans += ex.map(_.scans).sum
      val stNs = Intervals.length(storage)
      val catNs = Intervals.length(catalog) - Intervals.overlap(catalog, storage)
      val planNs = Intervals.length(phaseIv) - Intervals.overlap(phaseIv, catalog ++ storage)
      val execNs = Intervals.length(jobs) - Intervals.overlap(jobs, catalog ++ storage ++ phaseIv)
      val wall = t.endNs - t.startNs
      val other = wall - Intervals.length(catalog ++ storage ++ phaseIv ++ jobs)
      storageNs += stNs; catalogSelfNs += catNs
      phases.foreach { case (p, (s, e)) => phaseNs(p) += e - s }
      planStorageCalls += storage.count(s => Intervals.contains(phaseIv, s._1))
      jobNs += Intervals.length(jobs)
      gapNs += wall - Intervals.length(phaseIv ++ jobs)
      if (t.write) {
        val from = (jobs.map(_._2) ++ phaseIv.map(_._2)).maxOption.getOrElse(t.startNs)
        commitNs += math.max(0L, t.endNs - from)
        commitCalls += storage.count(_._1 >= from)
      }
      val c = self.getOrElseUpdate(t.cls, mutable.HashMap.empty[String, Double]
        .withDefaultValue(0.0))
      c("n") += 1
      c("storage") += stNs / 1e6; c("catalog") += catNs / 1e6
      c("spark.plan") += planNs / 1e6; c("spark.exec") += execNs / 1e6
      c("other") += other / 1e6; c("wall") += wall / 1e6
    }
    val writes = traces.filter(_.write)
    val commits = sum("txn.root_cas") - sum("txn.root_cas_lost")
    def per(k: String, v: Double, base: Double): Unit = if (base > 0) m(k) = v / base

    per("storage.calls_per_stmt", sum("storage.calls"), n)
    Seq("head", "get", "put", "cas", "list", "delete").foreach(k =>
      per(s"storage.${k}_per_stmt", sum(s"storage.$k"), n))
    per("storage.ms_per_stmt", storageNs / 1e6, n)
    per("storage.read_bytes_per_stmt", sum("storage.read_bytes"), n)
    per("storage.write_bytes_per_stmt", sum("storage.write_bytes"), n)
    if (objectStore) per("storage.cache_hit_frac", sum("storage.read_hits"), sum("storage.reads"))

    m("tree.depth") = depth
    per("tree.node_reads_per_stmt", sum("tree.node_reads"), n)
    per("tree.node_reads_per_lookup", sum("tree.lookup_node_reads"), lookupCount(traces))
    per("tree.root_probes_per_stmt", sum("tree.root_probes"), n)
    per("tree.node_writes_per_commit", sum("tree.node_writes"), commits)

    per("catalog.entry_calls_per_stmt", sum("catalog.entry_calls"), n)
    per("catalog.load_table_per_stmt", sum("catalog.load_table"), n)
    per("catalog.self_ms_per_stmt", catalogSelfNs / 1e6, n)
    per("catalog.def_reads_per_stmt", sum("catalog.def_reads"), n)

    per("txn.root_cas_per_commit", sum("txn.root_cas"), commits)
    per("txn.root_cas_lost_frac", sum("txn.root_cas_lost"), sum("txn.root_cas"))
    per("txn.client_retries_per_commit", sum("bench.retries", writes), writes.size)

    per("format.meta_reads_per_stmt", sum("format.meta_reads"), n)
    per("format.meta_read_bytes_per_stmt", sum("format.meta_read_bytes"), n)
    per("format.meta_write_bytes_per_commit", sum("format.meta_write_bytes"), commits)
    per("format.files_planned_per_scan", files, scans)

    per("spark.plan.analysis_ms_per_stmt", phaseNs("analysis") / 1e6, n)
    per("spark.plan.optimize_ms_per_stmt", phaseNs("optimization") / 1e6, n)
    per("spark.plan.physical_ms_per_stmt", phaseNs("planning") / 1e6, n)
    per("spark.plan.storage_calls_per_stmt", planStorageCalls, n)

    val aggs = traces.flatMap(agg)
    per("spark.exec.jobs_per_stmt", aggs.map(_.jobs).sum.toDouble, n)
    per("spark.exec.tasks_per_stmt", aggs.map(_.tasks).sum.toDouble, n)
    per("spark.exec.job_ms_per_stmt", jobNs / 1e6, n)
    per("spark.exec.task_cpu_ms_per_stmt", aggs.map(_.cpuNs).sum / 1e6, n)
    per("spark.exec.shuffle_bytes_per_stmt", aggs.map(_.shuffleBytes).sum.toDouble, n)
    per("spark.exec.input_bytes_per_stmt", aggs.map(_.inputBytes).sum.toDouble, n)
    val reads = traces.filterNot(_.write)
    per("spark.exec.rows_examined_per_row_returned",
      reads.flatMap(agg).map(_.inputRecords).sum.toDouble,
      reads.map(_.rowsReturned).sum.toDouble)
    per("spark.exec.output_bytes_per_write",
      writes.flatMap(agg).map(_.outputBytes).sum.toDouble, writes.size)
    per("spark.exec.driver_gap_ms_per_stmt", gapNs / 1e6, n)

    per("spark.commit.ms_per_write", commitNs / 1e6, writes.size)
    per("spark.commit.storage_calls_per_write", commitCalls, writes.size)

    val compacts = traces.filter(_.cls == "compact")
    per("maintain.compact_ms_per_call",
      compacts.map(t => (t.endNs - t.startNs) / 1e6).sum, compacts.size)
    per("maintain.bytes_rewritten_per_call",
      compacts.flatMap(agg).map(_.outputBytes).sum.toDouble, compacts.size)

    per("jvm.gc_ms_per_stmt", gcMs, samples.size)

    val selfOut = self.map { case (cls, c) =>
      val k = c("n")
      cls -> c.collect { case (l, v) if l != "n" => l -> v / k }.toMap.updated("n", k)
    }.toMap
    Layers(m.toMap, selfOut)
  }

  /** Outermost `lookup` spans: lookups that no other lookup encloses. */
  private def lookupCount(traces: Seq[StmtTrace]): Double =
    traces.map(t => t.spans.count(s => s.layer == "lookup" &&
      (s.parent < 0 || !isUnder(t, s.parent, "lookup")))).sum.toDouble

  /** Is span `i` (or an ancestor) of `layer`? */
  private def isUnder(t: StmtTrace, i: Int, layer: String): Boolean = {
    var j = i
    while (j >= 0) {
      if (t.spans(j).layer == layer) return true
      j = t.spans(j).parent
    }
    false
  }
}
