package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.objects.Json
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (see perfbench/README.md).
  *
  * {{{
  *   Main --workload <catalog_ops|scan_query|dml_mix> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir> --out <dir>
  * }}}
  *
  * Prints human-readable lines, then the full result as one JSON line
  * prefixed `PERFBENCH_RESULT `, and writes the same JSON (plus spans
  * in a traced run) under `--out`.
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", "perfbench/work")).toAbsolutePath
    val out = Paths.get(opts.getOrElse("out", "perfbench/results")).toAbsolutePath
    Files.createDirectories(out)

    val t0 = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"perfbench: $what at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = graft.Verify.sessionBuilder(cpus)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val collector = if (traced) {
      val c = new SparkCollector
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
    phase("spark started")
    val env = Env(spark, work, seed, traced, collector)
    if (workload == "counts") {
      val rows = Seq(10, 400).flatMap(n => Counts.run(env, n).map((n, _)))
      rows.foreach { case (n, (what, c, ref)) =>
        val kinds = Seq("head", "get", "put", "cas", "list", "delete")
          .map(k => s"$k=${c.getOrElse(s"storage.$k", 0.0).toInt}").mkString(" ")
        println(f"counts $what%-18s tables=$n%-4d calls=${c.getOrElse("storage.calls", 0.0).toInt}%-4d " +
          s"($kinds; tree.root_probes=${c.getOrElse("tree.root_probes", 0.0).toInt}, " +
          s"tree.node_reads=${c.getOrElse("tree.node_reads", 0.0).toInt}, " +
          s"catalog.def_reads=${c.getOrElse("catalog.def_reads", 0.0).toInt}) reference $ref")
      }
      spark.stop()
      sys.exit(0)
    }
    val w: Workload = workload match {
      case "catalog_ops" => new CatalogOps(env)
      case "scan_query" => new ScanQuery(env)
      case "dml_mix" => new DmlMix(env)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    phase("inputs generated")
    try {
      val setups = (0 until SetupReps).map { r =>
        val t0 = System.nanoTime()
        w.setup(r)
        val s = (System.nanoTime() - t0) / 1e9
        System.err.println(f"perfbench: set-up $r took $s%.3f s")
        s
      }
      w.prepare()
      phase("prepared")
      val win = Loop.run(w, seed, seconds, traced)
      val heap = Loop.heapLiveMb()
      phase("loop done")
      val checkFailures = try { w.finish(); Seq.empty[String] }
        catch { case e: Throwable => Seq(s"final check: $e") }
      phase("checked")
      report(workload, seed, traced, out, w, win, setups, heap, checkFailures,
        collector)
      val ok = win.failures.isEmpty && checkFailures.isEmpty
      phase("reported")
      spark.stop()
      sys.exit(if (ok) 0 else 1)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        sys.exit(2)
    }
  }

  /** Traced over untraced end-to-end figures, against the untraced
    * result of the same seed if there is one, else the newest untraced
    * result of the workload.
    */
  private def traceOverhead(out: java.nio.file.Path, workload: String, seed: Long,
      traced: Map[String, Double]): Map[String, Double] = {
    val same = out.resolve(s"$workload-seed$seed-trace0.json")
    val base = if (Files.exists(same)) Some(same) else {
      val s = Files.list(out)
      try s.iterator().asScala.filter(p => p.getFileName.toString.startsWith(workload + "-seed") &&
        p.getFileName.toString.endsWith("-trace0.json"))
        .toSeq.sortBy(p => Files.getLastModifiedTime(p).toMillis).lastOption
      finally s.close()
    }
    base.toSeq.flatMap { p =>
      val untraced = Json.mapper.readTree(Files.readAllBytes(p)).get("end_to_end")
      Seq("lat_p50_ms", "lat_p95_ms", "ops_per_s").flatMap { k =>
        Option(untraced.get(k)).filter(_.isNumber).map(_.asDouble)
          .filter(_ > 0).flatMap(u => traced.get(k).map(t => k -> (t / u - 1)))
      }
    }.toMap
  }

  private def unitOf(k: String): String =
    if (k.split('.').last.split('_').contains("ms")) "ms"
    else if (k == "ops_per_s") "1/s"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_frac") || k == "space_amp") "ratio"
    else if (k.contains("bytes")) "bytes"
    else "count"

  private def report(workload: String, seed: Long, traced: Boolean,
      out: java.nio.file.Path, w: Workload, win: Loop.Window, setups: Seq[Double],
      heap: Double, checkFailures: Seq[String],
      collector: Option[SparkCollector]): Unit = {
    val ok = win.samples.filter(_.ok)
    def lat(xs: Seq[Sample]) = xs.map(_.latNs / 1e6)
    val reads = ok.filterNot(_.write)
    val writes = ok.filter(_.write)
    val e2e = scala.collection.mutable.LinkedHashMap[String, Double](
      "setup_s" -> Loop.median(setups),
      "ops_per_s" -> ok.size / win.seconds,
      "lat_p50_ms" -> Loop.quantile(lat(ok), 0.5),
      "lat_p95_ms" -> Loop.quantile(lat(ok), 0.95))
    if (reads.nonEmpty) {
      e2e("read_p50_ms") = Loop.quantile(lat(reads), 0.5)
      e2e("read_p95_ms") = Loop.quantile(lat(reads), 0.95)
    }
    if (writes.nonEmpty) {
      e2e("write_p50_ms") = Loop.quantile(lat(writes), 0.5)
      e2e("write_p95_ms") = Loop.quantile(lat(writes), 0.95)
    }
    val attempted = win.samples.size
    val failed = win.samples.count(!_.ok) + checkFailures.size
    e2e("failed_frac") = failed.toDouble / math.max(1, attempted)
    e2e ++= w.extra
    e2e("heap_live_mb") = heap
    val samplesOf = Map("lat" -> ok.size, "read" -> reads.size, "write" -> writes.size)

    val layers = collector.map { c =>
      c.drain()
      val traces = Trace.done.asScala.toSeq.groupBy(_.session).values
        .flatMap(_.sortBy(_.id).take(w.layerStmts)).toSeq
      Report.layers(traces, c, w.objectStore, w.treeDepth, win.gcMs, win.samples)
    }
    val byClass = win.samples.groupBy(_.cls).map { case (cls, xs) =>
      cls -> Map("n" -> xs.size.toDouble,
        "p50_ms" -> Loop.quantile(lat(xs), 0.5), "p95_ms" -> Loop.quantile(lat(xs), 0.95))
    }

    // human-readable summary
    println(f"perfbench $workload seed=$seed trace=${if (traced) 1 else 0} " +
      f"window=${win.seconds}%.2fs attempted=$attempted failed=$failed")
    println(f"  setup_s=${e2e("setup_s")}%.3f (median of ${setups.size}: " +
      setups.map(s => f"$s%.3f").mkString(", ") + ")")
    e2e.foreach { case (k, v) if k != "setup_s" =>
      val n = if (k.startsWith("lat_")) s" (n=${samplesOf("lat")})"
        else if (k.startsWith("read_")) s" (n=${samplesOf("read")})"
        else if (k.startsWith("write_")) s" (n=${samplesOf("write")})" else ""
      println(f"  $k%-28s $v%.4f ${unitOf(k)}$n")
    case _ => }
    byClass.toSeq.sortBy(_._1).foreach { case (cls, m) =>
      println(f"  class $cls%-14s n=${m("n").toInt}%5d p50=${m("p50_ms")}%.2fms " +
        f"p95=${m("p95_ms")}%.2fms")
    }
    (win.failures ++ checkFailures).take(10).foreach(f => println(s"  FAILED: $f"))
    layers.foreach { l =>
      l.metrics.toSeq.sortBy(_._1).foreach { case (k, v) =>
        println(f"  $k%-44s $v%.4f ${unitOf(k)}")
      }
      val d = l.metrics("tree.depth")
      println(f"  cost shape: tree.node_reads_per_lookup=" +
        l.metrics.get("tree.node_reads_per_lookup").map(v => f"$v%.2f").getOrElse("-") +
        f" (bound <= depth = $d%.0f); tree.node_writes_per_commit=" +
        l.metrics.get("tree.node_writes_per_commit").map(v => f"$v%.2f").getOrElse("-") +
        f" (bound <= depth + 1 root create = ${d + 1}%.0f)")
      println("  blind spot: storage that Spark tasks reopen from StorageConf " +
        "(commit-stats harvesting, distributed listings) bypasses the counting seam")
    }

    val metrics = (if (traced) layers.get.metrics else e2e.toMap)
      .map { case (k, v) => k -> Map("value" -> v, "unit" -> unitOf(k)) }
    val full = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> (if (traced) 1 else 0),
      "correct" -> (checkFailures.isEmpty && win.failures.isEmpty),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics,
      "end_to_end" -> e2e.toMap,
      "samples" -> samplesOf,
      "setup_runs_s" -> setups,
      "classes" -> byClass,
      "self_ms_per_stmt" -> layers.map(_.selfMsByClass).getOrElse(Map.empty),
      "failures" -> (win.failures ++ checkFailures).take(50),
      "blind_spots" -> Seq("storage that Spark tasks reopen from StorageConf " +
        "(executor-side commit-stats harvesting and distributed listings) is not " +
        "counted; data files written and read by Spark go through Hadoop, not the seam"))
    val overhead = if (traced) traceOverhead(out, workload, seed, e2e.toMap) else Map.empty
    overhead.foreach { case (k, v) => println(f"  tracing overhead $k%-22s ${v * 100}%+.1f %%") }
    val json = Json.writeString(full ++ Map("trace_overhead_frac" -> overhead))
    Files.writeString(out.resolve(s"$workload-seed$seed-trace${if (traced) 1 else 0}.json"), json)
    if (traced) {
      val spans = Trace.done.asScala.toSeq.sortBy(_.id).flatMap { t =>
        val stmt = Map("stmt" -> t.id, "name" -> t.cls, "layer" -> "stmt",
          "start_ns" -> t.startNs, "end_ns" -> t.endNs, "parent" -> -1)
        stmt +: t.spans.zipWithIndex.map { case (s, i) =>
          Map("stmt" -> t.id, "span" -> i, "name" -> s.name, "layer" -> s.layer,
            "start_ns" -> s.startNs, "end_ns" -> s.endNs, "parent" -> s.parent)
        }
      }
      Files.write(out.resolve(s"$workload-seed$seed-spans.jsonl"),
        spans.map(Json.writeString).asJava)
    }
    println("PERFBENCH_RESULT " + json)
  }
}

/** What every workload gets: the base session, its scratch directory,
  * the seed, and the collectors of a traced run.
  */
final case class Env(spark: SparkSession, work: java.nio.file.Path, seed: Long,
    traced: Boolean, collector: Option[SparkCollector]) {
  /** A fresh session with the bench's listener attached. */
  def newSession(): SparkSession = {
    val s = spark.newSession()
    collector.foreach(s.listenerManager.register)
    s
  }
}
