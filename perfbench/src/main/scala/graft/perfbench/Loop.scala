package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.storage.{AtomicSealFailureException, LocalStorageOps}
import graft.tree.TreeOps
import graft.txn.CommitFailedException
import org.apache.spark.sql.SparkSession

/** A wrong result: counts as a failed statement. */
final class Mismatch(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, what: => String): Unit = if (!ok) throw new Mismatch(what)
}

/** One statement of a closed loop. `run` executes it in the client's
  * session, checks its result, and returns the number of rows it
  * returned; `write` marks statements that commit (DDL, DML, COMMIT,
  * CALL). A conflict abort reruns it as a whole.
  */
final case class Op(cls: String, write: Boolean, run: SparkSession => Long)

/** A statement mix with exact proportions: each client deals its
  * classes from a seeded shuffle of `cards`, reshuffled when used up, so
  * every run executes the same mix and only the order varies.
  */
final class Deck(cards: Seq[String]) {
  private var left = List.empty[String]

  def draw(rnd: Random): String = {
    if (left.isEmpty) left = rnd.shuffle(cards).toList
    val c = left.head
    left = left.tail
    c
  }
}

object Deck {
  def apply(counts: (String, Int)*): Deck =
    new Deck(counts.flatMap { case (c, n) => Seq.fill(n)(c) })
}

final case class Sample(cls: String, write: Boolean, latNs: Long, ok: Boolean)

/** A workload: set-up, a per-client statement generator, and the final
  * checks. Clients run closed loops: each sends its next statement only
  * when the previous one has returned.
  */
trait Workload {
  def clients: Int
  /** One set-up; called several times, the last one is measured on. */
  def setup(rep: Int): Unit
  /** Untimed work between the set-ups and the loop: sessions, answers. */
  def prepare(): Unit = ()
  def session(client: Int): SparkSession
  def next(client: Int, rnd: Random): Op
  /** Checks after the timed window; throws on a wrong result. */
  def finish(): Unit = ()
  /** Workload-specific end-to-end figures, valid after `finish`. */
  def extra: Map[String, Double] = Map.empty
  /** Catalog storage is the latency-injecting object store. */
  def objectStore: Boolean = false
  /** Depth of the catalog tree at the end of the run. */
  def treeDepth: Int
  /** Untimed statements each client runs before the timed window. Row
    * and catalog statements keep getting faster for the first few dozen
    * runs in a JVM (code generation, JIT); a fixed count, not a time,
    * also makes a single client's timed statements the same on every
    * run of a seed.
    */
  def warmupStmts: Int
  /** Per client, how many timed statements the per-layer counts cover:
    * a fixed prefix, so a single client's counts repeat exactly.
    */
  def layerStmts: Int = Int.MaxValue
}

object Loop {
  private val stmtIds = new AtomicLong()
  val MaxRetries = 20

  def isConflict(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case _: CommitFailedException | _: AtomicSealFailureException => true
      case _ => false
    }

  final case class Window(samples: Seq[Sample], seconds: Double,
      gcMs: Double, failures: Seq[String])

  /** Run `w`'s clients through their warm-up statements, then for
    * `seconds` timed ones; the window opens when the last client has
    * warmed up. Statements that start inside it are the samples; in a
    * traced run only they carry a trace and a job group.
    */
  def run(w: Workload, seed: Long, seconds: Double, traced: Boolean): Window = {
    val warm = new java.util.concurrent.CountDownLatch(w.clients)
    val timedFrom = new AtomicLong(Long.MaxValue)
    val until = new AtomicLong(Long.MaxValue)
    def warmedUp(): Unit = {
      warm.countDown()
      if (warm.getCount == 0 && timedFrom.compareAndSet(Long.MaxValue, System.nanoTime()))
        until.set(timedFrom.get + (seconds * 1e9).toLong)
    }
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val lastEnd = new AtomicLong(0L)
    val gcStart = new AtomicLong(-1)
    val threads = (0 until w.clients).map { c =>
      new Thread(() => { var counted = false; try {
        val rnd = new Random(seed * 7919 + c)
        val s = w.session(c)
        var n = 0
        var now = System.nanoTime()
        while (now < until.get) {
          if (n == w.warmupStmts) { counted = true; warmedUp(); now = System.nanoTime() }
          n += 1
          val timed = now >= timedFrom.get
          if (timed) gcStart.compareAndSet(-1, gcMs())
          val op = w.next(c, rnd)
          val id = stmtIds.incrementAndGet()
          val tr = if (timed && traced) {
            s.sparkContext.setJobGroup(s"s$id", op.cls, interruptOnCancel = false)
            val t = Trace.begin(id, op.cls, op.write)
            t.session = s
            t
          } else null
          var retries = 0
          var ok = false
          var done = false
          val start = System.nanoTime()
          while (!done) {
            try {
              val rows = op.run(s)
              if (tr != null) tr.rowsReturned += rows
              ok = true; done = true
            } catch {
              case e: Throwable if isConflict(e) && retries < MaxRetries =>
                retries += 1
                Thread.sleep(rnd.nextInt(5) + 1L)
              case e: Throwable =>
                failures.add(s"${op.cls}: ${e.getClass.getName}: ${e.getMessage}"
                  .take(600))
                done = true
            }
          }
          val end = System.nanoTime()
          if (tr != null) {
            tr.add("bench.retries", retries)
            Trace.end(tr, keep = true)
            s.sparkContext.clearJobGroup()
          }
          if (timed) {
            samples.add(Sample(op.cls, op.write, end - start, ok))
            lastEnd.accumulateAndGet(end, math.max)
          }
          now = end
        }
      } catch {
        case e: Throwable =>
          failures.add(s"client $c: $e")
          if (!counted) warmedUp() // a dead client must not hold the window shut
      }}, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    timedFrom.compareAndSet(Long.MaxValue, System.nanoTime())
    val gcEnd = gcMs()
    Window(samples.asScala.toSeq, math.max(0L, lastEnd.get - timedFrom.get) / 1e9,
      gcEnd - math.max(0L, gcStart.get), failures.asScala.toSeq)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap in use after a forced full collection. */
  def heapLiveMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Linear-interpolated quantile of unsorted values. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Interval arithmetic over (start, end) pairs in nanoseconds. */
object Intervals {
  def merge(xs: Iterable[(Long, Long)]): Vector[(Long, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    xs.filter(x => x._2 > x._1).toVector.sortBy(_._1).foreach { case (s, e) =>
      if (out.nonEmpty && s <= out.last._2)
        out(out.size - 1) = (out.last._1, math.max(out.last._2, e))
      else out += ((s, e))
    }
    out.toVector
  }

  def length(xs: Iterable[(Long, Long)]): Long = merge(xs).map(x => x._2 - x._1).sum

  /** Length of the part of `a` that `b` covers. */
  def overlap(a: Iterable[(Long, Long)], b: Iterable[(Long, Long)]): Long = {
    val ma = merge(a); val mb = merge(b)
    var i = 0; var j = 0; var tot = 0L
    while (i < ma.size && j < mb.size) {
      val s = math.max(ma(i)._1, mb(j)._1)
      val e = math.min(ma(i)._2, mb(j)._2)
      if (e > s) tot += e - s
      if (ma(i)._2 < mb(j)._2) i += 1 else j += 1
    }
    tot
  }

  def contains(xs: Iterable[(Long, Long)], t: Long): Boolean =
    xs.exists(x => t >= x._1 && t < x._2)
}

/** Filesystem and catalog helpers shared by the workloads. */
object Fs {
  def sizeOf(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }

  /** Levels from the latest root down its leftmost path. */
  def treeDepth(warehouse: String): Int = {
    val st = new LocalStorageOps(warehouse)
    val root = TreeOps.findLatestRoot(st).get
    try {
      var node = root.node
      var d = 1
      while (node.leftmostChildPath.isDefined) {
        node = TreeOps.loadNode(st, node.leftmostChildPath.get)
        d += 1
      }
      d
    } finally root.close()
  }
}
