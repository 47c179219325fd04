package graft.storage

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** Port of the reference's abstract StorageOpsTests (32-184), bound
  * to every backend (mirrors TestS3StorageOlympiaTests.java's
  * abstract-suite pattern).
  */
abstract class StorageOpsContract extends AnyFunSuite {

  protected def fresh(): StorageOps

  test("write/read/exists round-trip") {
    val s = fresh()
    assert(!s.exists("a/b.txt"))
    s.writeAtomic("a/b.txt", "hello".getBytes)
    assert(s.exists("a/b.txt"))
    assert(new String(s.read("a/b.txt")) == "hello")
  }

  test("writeAtomic refuses to overwrite; overwrite replaces") {
    val s = fresh()
    s.writeAtomic("x", "1".getBytes)
    intercept[AtomicSealFailureException](s.writeAtomic("x", "2".getBytes))
    assert(new String(s.read("x")) == "1")
    s.overwrite("x", "2".getBytes)
    assert(new String(s.read("x")) == "2")
  }

  test("overwrite is atomic vs concurrent readers: old or new bytes, never absent") {
    // Regression: the local backend's overwrite used unlink-then-rename
    // (JDK move semantics without ATOMIC_MOVE), so a reader polling the
    // `vn/latest` hint — e.g. a streaming source's latestOffset — could
    // hit NoSuchFileException in the unlink window. Hammer one writer
    // flipping the value against readers; every read must succeed and
    // see a complete former or current value.
    val s = fresh()
    s.writeAtomic("hint/latest", "0".getBytes)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val pool = Executors.newFixedThreadPool(4)
    (1 to 3).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit =
          while (!stop.get()) {
            try {
              val v = new String(s.read("hint/latest")).toLong
              assert(v >= 0)
            } catch { case t: Throwable => bad.add(t); stop.set(true) }
          }
      })
    }
    (1L to 2000L).foreach(i => s.overwrite("hint/latest", i.toString.getBytes))
    stop.set(true)
    pool.shutdown()
    assert(pool.awaitTermination(30, TimeUnit.SECONDS))
    assert(bad.isEmpty, s"reader failed during overwrite: ${bad.peek()}")
  }

  test("sizeOf reports byte length; prepareToReadLocal yields readable local file") {
    val s = fresh()
    val payload = Array.fill[Byte](1234)(7)
    s.writeAtomic("sz/x.bin", payload)
    assert(s.sizeOf("sz/x.bin") == 1234L)
    intercept[java.nio.file.NoSuchFileException](s.sizeOf("sz/missing"))
    val local = s.prepareToReadLocal("sz/x.bin")
    assert(java.nio.file.Files.readAllBytes(local).sameElements(payload))
  }

  test("deleteBatch removes present files, tolerates missing") {
    val s = fresh()
    s.writeAtomic("d/1", "a".getBytes)
    s.writeAtomic("d/2", "b".getBytes)
    s.deleteBatch(Seq("d/1", "d/2", "d/missing"))
    assert(!s.exists("d/1") && !s.exists("d/2"))
  }

  test("listPrefix: sorted relative paths, no staging artifacts") {
    val s = fresh()
    s.writeAtomic("p/b", "1".getBytes)
    s.writeAtomic("p/a", "2".getBytes)
    assert(s.listPrefix("p") == Seq("p/a", "p/b"))
    assert(s.listPrefix("nope").isEmpty)
  }

  test("contention: 16 racing creators of one key see exactly one winner") {
    val s = fresh()
    val n = 16
    val start = new CountDownLatch(1)
    val wins = new AtomicInteger(0)
    val losses = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(n)
    try {
      for (i <- 0 until n) pool.execute { () =>
        start.await()
        try { s.writeAtomic("race/key", s"writer-$i".getBytes); wins.incrementAndGet() }
        catch { case _: AtomicSealFailureException => losses.incrementAndGet() }
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(30, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(wins.get() == 1, s"expected exactly one winner, got ${wins.get()}")
    assert(losses.get() == n - 1)
    // the surviving content is the winner's, intact
    assert(new String(s.read("race/key")).startsWith("writer-"))
  }
}

class LocalStorageOpsSpec extends StorageOpsContract {
  override protected def fresh(): StorageOps =
    new LocalStorageOps(Files.createTempDirectory("graft-sops").toString)
}

class InMemoryObjectStoreOpsSpec extends StorageOpsContract {
  override protected def fresh(): StorageOps =
    new ObjectStoreOps(new InMemoryObjectStoreClient)
}

class DirectoryObjectStoreOpsSpec extends StorageOpsContract {
  override protected def fresh(): StorageOps =
    new ObjectStoreOps(new DirectoryObjectStoreClient(
      Files.createTempDirectory("graft-osops").toString))
}

/** Behaviors specific to the object-store backend: the read cache and
  * the two-handles-one-bucket topology.
  */
class ObjectStoreReadCacheSpec extends AnyFunSuite {

  test("a mutable key is re-read with one GET and no HEAD: the vn/latest hint") {
    val store = new InMemoryObjectStoreClient
    val client = new CountingClient(store)
    val ops = new ObjectStoreOps(client)
    ops.overwrite("vn/latest", "1".getBytes)
    assert(new String(ops.read("vn/latest")) == "1")
    val before = ops.prepareToReadLocal("vn/latest")
    // another process moves the hint behind this handle
    store.put("vn/latest", "2".getBytes)
    client.reset()
    assert(new String(ops.read("vn/latest")) == "2")
    assert(client.count("get") == 1 && client.calls == 1,
      s"expected exactly one GET, got ${client.calls} calls")
    // the local copy is replaced, and the superseded file deleted
    val after = ops.prepareToReadLocal("vn/latest")
    assert(new String(Files.readAllBytes(after)) == "2")
    assert(!Files.exists(before))
    assert(client.count("head") == 0)
  }

  test("a write-once key costs one GET on a handle's first read, no call after") {
    val store = new InMemoryObjectStoreClient
    val writer = new CountingClient(store)
    val a = new ObjectStoreOps(writer)
    a.writeAtomic("node/a.arrow", "v1".getBytes)
    writer.reset()
    // writeAtomic seeded the writer's cache
    assert(new String(a.read("node/a.arrow")) == "v1")
    assert(writer.calls == 0)
    val reader = new CountingClient(store)
    val b = new ObjectStoreOps(reader)
    assert(new String(b.read("node/a.arrow")) == "v1")
    assert(reader.count("get") == 1 && reader.calls == 1)
    assert(new String(b.read("node/a.arrow")) == "v1")
    assert(new String(Files.readAllBytes(b.prepareToReadLocal("node/a.arrow"))) == "v1")
    assert(reader.calls == 1, s"cached write-once reads made ${reader.calls - 1} calls")
  }

  test("the read cache is bounded: a key evicted past the cap is re-read with one GET") {
    val client = new CountingClient(new InMemoryObjectStoreClient)
    val ops = new ObjectStoreOps(client, 10L)
    ops.writeAtomic("node/a", "aaaaaa".getBytes)
    val aFile = ops.prepareToReadLocal("node/a")
    ops.writeAtomic("node/b", "bbbbbb".getBytes) // 12 bytes > 10: evicts a
    assert(!Files.exists(aFile), "an evicted file must be deleted")
    client.reset()
    assert(new String(ops.read("node/b")) == "bbbbbb")
    assert(client.calls == 0)
    assert(new String(ops.read("node/a")) == "aaaaaa")
    assert(client.count("get") == 1 && client.calls == 1)
    // re-caching a evicted b, the least recently used
    assert(new String(ops.read("node/a")) == "aaaaaa")
    assert(new String(ops.read("node/b")) == "bbbbbb")
    assert(client.count("get") == 2 && client.calls == 2)
  }

  test("two handles over one store: second process reads the first's writes") {
    val client = new InMemoryObjectStoreClient
    val a = new ObjectStoreOps(client)
    val b = new ObjectStoreOps(client)
    a.writeAtomic("vn/v1", "root".getBytes)
    assert(b.exists("vn/v1"))
    assert(new String(b.read("vn/v1")) == "root")
    // and b loses the create race a already won
    intercept[AtomicSealFailureException](b.writeAtomic("vn/v1", "x".getBytes))
  }
}
