package graft.storage

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.objects.FileLocations

/** The narrow API a cloud object store actually offers (reference:
  * s3/src/main/java/org/format/olympia/storage/s3/S3StorageOps.java and
  * S3AtomicOutputStream.java:36-49): no rename, no directories, no
  * append — just GET / HEAD / PUT (optionally conditional on
  * `If-None-Match: *`) / DELETE / flat LIST. Everything
  * [[ObjectStoreOps]] builds for the catalog must reduce to these.
  *
  * `putIfNoneMatch` is the load-bearing call: the store decides
  * atomically, server-side, whether the key existed — that single
  * primitive gives the catalog mutual exclusion on root-version
  * creation with no lock service (docs/format.md:230-246).
  */
trait ObjectStoreClient {
  /** Content etag if the object exists (S3: HEAD). */
  def head(key: String): Option[String]

  /** Object size in bytes if it exists (S3: HEAD Content-Length). */
  def size(key: String): Option[Long]

  /** Object bytes + etag (S3: GET). */
  def get(key: String): Option[(Array[Byte], String)]

  /** Conditional create (`If-None-Match: *`): true = created, false =
    * precondition failed because the key already exists. MUST be
    * atomic under concurrent callers: exactly one winner.
    */
  def putIfNoneMatch(key: String, data: Array[Byte]): Boolean

  /** Unconditional PUT (last writer wins). */
  def put(key: String, data: Array[Byte]): Unit

  def delete(keys: Seq[String]): Unit

  /** Keys that start with `prefix` and contain no '/' after it —
    * S3 LIST with `delimiter=/`, i.e. one "directory" level.
    */
  def list(prefix: String): Seq[String]

  /** Every key starting with `prefix` — S3 LIST with no delimiter. */
  def listDeep(prefix: String): Seq[String]

  /** Server-side copy (S3 CopyObject) — bytes never transit the
    * client. The closest thing to rename an object store offers.
    */
  def copy(srcKey: String, dstKey: String): Unit

  /** An absolute location for handing to external readers/writers
    * (Spark parquet jobs). Only meaningful for stores that expose a
    * filesystem view; in-memory stores return an opaque URI.
    */
  def absolute(key: String): String
}

object ObjectStoreClient {
  private[storage] def md5(data: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(data)
      .map(b => f"${b & 0xff}%02x").mkString
}

/** Pure in-memory store: the semantics of S3 conditional PUT with
  * none of the filesystem. `putIfAbsent` on the ConcurrentHashMap IS
  * the server-side atomic existence check.
  */
class InMemoryObjectStoreClient extends ObjectStoreClient {
  private val objects = new ConcurrentHashMap[String, Array[Byte]]()

  override def head(key: String): Option[String] =
    Option(objects.get(key)).map(ObjectStoreClient.md5)

  override def size(key: String): Option[Long] =
    Option(objects.get(key)).map(_.length.toLong)

  override def get(key: String): Option[(Array[Byte], String)] =
    Option(objects.get(key)).map(b => (b.clone(), ObjectStoreClient.md5(b)))

  override def putIfNoneMatch(key: String, data: Array[Byte]): Boolean =
    objects.putIfAbsent(key, data.clone()) == null

  override def put(key: String, data: Array[Byte]): Unit =
    objects.put(key, data.clone())

  override def delete(keys: Seq[String]): Unit = keys.foreach(objects.remove)

  override def list(prefix: String): Seq[String] =
    objects.keySet().asScala.toSeq
      .filter(k => k.startsWith(prefix) && !k.drop(prefix.length).contains('/'))
      .sorted

  override def listDeep(prefix: String): Seq[String] =
    objects.keySet().asScala.toSeq.filter(_.startsWith(prefix)).sorted

  override def copy(srcKey: String, dstKey: String): Unit = {
    val b = objects.get(srcKey)
    require(b != null, s"copy source missing: $srcKey")
    objects.put(dstKey, b.clone())
  }

  override def absolute(key: String): String = s"mem://graft/$key"
}

/** Object-store semantics over a local directory, so Spark parquet
  * jobs can read/write table data through `absolute` while the
  * CATALOG traffic goes through the narrow client API. The
  * conditional PUT's server-side atomicity is simulated with a
  * same-filesystem link(2), which fails atomically when the target
  * exists.
  */
class DirectoryObjectStoreClient(val backingDir: String) extends ObjectStoreClient {
  private val dir: Path = Paths.get(backingDir)

  private def p(key: String): Path = dir.resolve(key)

  override def head(key: String): Option[String] = {
    val f = p(key)
    if (Files.isRegularFile(f)) Some(ObjectStoreClient.md5(Files.readAllBytes(f)))
    else None
  }

  override def size(key: String): Option[Long] = {
    val f = p(key)
    if (Files.isRegularFile(f)) Some(Files.size(f)) else None
  }

  override def get(key: String): Option[(Array[Byte], String)] = {
    val f = p(key)
    if (!Files.isRegularFile(f)) None
    else {
      val b = Files.readAllBytes(f)
      Some((b, ObjectStoreClient.md5(b)))
    }
  }

  override def putIfNoneMatch(key: String, data: Array[Byte]): Boolean = {
    val target = p(key)
    Files.createDirectories(target.getParent)
    val staging = Files.createTempFile(target.getParent, ".staging-", ".tmp")
    try {
      Files.write(staging, data)
      try { Files.createLink(target, staging); true }
      catch { case _: FileAlreadyExistsException => false }
    } finally Files.deleteIfExists(staging)
  }

  override def put(key: String, data: Array[Byte]): Unit = {
    val target = p(key)
    Files.createDirectories(target.getParent)
    val staging = Files.createTempFile(target.getParent, ".staging-", ".tmp")
    try {
      Files.write(staging, data)
      // ATOMIC_MOVE = rename(2): an S3 PUT replaces the object
      // atomically, so the directory emulation must too — without it
      // the JDK unlinks the target before renaming and concurrent GETs
      // of a hot key (the `vn/latest` hint) see NoSuchFileException
      Files.move(staging, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(staging)
  }

  override def delete(keys: Seq[String]): Unit =
    keys.foreach(k => Files.deleteIfExists(p(k)))

  override def list(prefix: String): Seq[String] = {
    val d = p(prefix)
    if (!Files.isDirectory(d)) Seq.empty
    else Using.resource(Files.list(d)) { stream =>
      stream.iterator().asScala
        .filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith(".staging-"))
        .map(f => dir.relativize(f).toString)
        .toSeq.sorted
    }
  }

  /** One-level subdirectory listing (the delimiter LIST's common
    * prefixes, answered natively by the filesystem).
    */
  def listDirectories(prefix: String): Seq[String] = {
    val d = p(prefix)
    if (!Files.isDirectory(d)) Seq.empty
    else Using.resource(Files.list(d)) { stream =>
      stream.iterator().asScala
        .filter(Files.isDirectory(_))
        .map(f => dir.relativize(f).toString)
        .toSeq.sorted
    }
  }

  override def listDeep(prefix: String): Seq[String] = {
    val d = p(prefix)
    if (!Files.isDirectory(d)) Seq.empty
    else Using.resource(Files.walk(d)) { stream =>
      stream.iterator().asScala
        .filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith(".staging-"))
        .map(f => dir.relativize(f).toString)
        .toSeq.sorted
    }
  }

  override def copy(srcKey: String, dstKey: String): Unit = {
    val dst = p(dstKey)
    Files.createDirectories(dst.getParent)
    Files.copy(p(srcKey), dst,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  override def absolute(key: String): String = p(key).toString
}

/** [[StorageOps]] over an object store (reference:
  * s3/src/main/java/org/format/olympia/storage/s3/S3StorageOps.java).
  *
  * - `writeAtomic` IS a conditional PUT — no staging file, no rename;
  *   losing the race surfaces as the store's precondition failure.
  * - Reads follow the format's write-once rule
  *   ([[graft.objects.FileLocations.isWriteOnce]]): a write-once key
  *   (tree node, root version, object definition, table-metadata
  *   document, manifest or snapshot-log segment) is fetched at most
  *   once per handle and then served from the local [[ReadCache]]
  *   with no client call at all. Every other key — the `vn/latest`
  *   hint above all — is read with exactly one GET, never a HEAD.
  * - `exists` and `sizeOf` always ask the store: existence is how
  *   readers notice that history expiration deleted a root version.
  *
  * A client binding must keep the rule's contract: a key in the
  * write-once set is never overwritten, and never deleted and then
  * re-created with other bytes.
  */
class ObjectStoreOps private[storage] (val client: ObjectStoreClient,
    cacheBytes: Long) extends StorageOps {

  def this(client: ObjectStoreClient) = this(client, ReadCache.MaxBytes)

  private val cache = new ReadCache(cacheBytes)

  override def root: String = client.absolute("")

  override def exists(rel: String): Boolean = client.head(rel).isDefined

  private def fetch(rel: String): (Array[Byte], String) =
    client.get(rel).getOrElse(throw new java.nio.file.NoSuchFileException(rel))

  override def read(rel: String): Array[Byte] =
    if (!FileLocations.isWriteOnce(rel)) fetch(rel)._1
    else cache.bytes(rel).getOrElse {
      val (bytes, tag) = fetch(rel)
      cache.put(rel, bytes, tag)
      bytes
    }

  override def sizeOf(rel: String): Long =
    client.size(rel).getOrElse(
      throw new java.nio.file.NoSuchFileException(rel))

  override def reopenConf: StorageConf = client match {
    case d: DirectoryObjectStoreClient => StorageConf(d.backingDir, "object")
    case _ => StorageConf(root, StorageConf.Opaque)
  }

  /** A local file holding the object's current content: a cached
    * write-once object costs no client call, anything else one GET.
    */
  override def prepareToReadLocal(rel: String): Path =
    (if (FileLocations.isWriteOnce(rel)) cache.file(rel) else None).getOrElse {
      val (bytes, tag) = fetch(rel)
      cache.put(rel, bytes, tag)
    }

  override def writeAtomic(rel: String, data: Array[Byte]): Unit = {
    if (!client.putIfNoneMatch(rel, data))
      throw new AtomicSealFailureException(rel)
    // seed the read cache: these are the bytes the store holds for good
    if (FileLocations.isWriteOnce(rel))
      cache.put(rel, data, ObjectStoreClient.md5(data))
  }

  override def overwrite(rel: String, data: Array[Byte]): Unit = {
    client.put(rel, data)
    cache.remove(Seq(rel))
  }

  override def deleteBatch(rels: Seq[String]): Unit = {
    client.delete(rels)
    cache.remove(rels)
  }

  override def listPrefix(prefix: String): Seq[String] = {
    val p = if (prefix.endsWith("/")) prefix else prefix + "/"
    client.list(p)
  }

  override def listDeep(prefix: String): Seq[String] = {
    val p = if (prefix.endsWith("/")) prefix else prefix + "/"
    client.listDeep(p)
  }

  override def listCommonPrefixes(prefix: String): Seq[String] =
    client match {
      // a directory store answers the delimiter LIST natively — one
      // readdir instead of a recursive walk
      case d: DirectoryObjectStoreClient =>
        d.listDirectories(if (prefix.endsWith("/")) prefix else prefix + "/")
      case _ => super.listCommonPrefixes(prefix)
    }

  override def move(srcRel: String, dstRel: String): Unit = {
    client.copy(srcRel, dstRel)
    client.delete(Seq(srcRel))
    cache.remove(Seq(srcRel))
  }

  override def deleteTree(prefix: String): Unit = {
    val keys = listDeep(prefix)
    client.delete(keys)
    cache.remove(keys)
  }

  override def absolute(rel: String): String = client.absolute(rel)
}

/** Local files holding fetched object bytes for one [[ObjectStoreOps]]
  * handle, bounded by `maxBytes` ([[ReadCache.MaxBytes]] outside tests)
  * with least-recently-used eviction. A key keeps one file: a
  * superseded or evicted file is deleted at once, and all of a
  * handle's files go when the handle becomes unreachable. The files
  * live in one directory per JVM, removed at exit.
  */
private[storage] final class ReadCache(maxBytes: Long) {
  import ReadCache._

  private val state = new State
  cleaner.register(this, state)

  /** The key's cached file, if any; counts as a use. */
  def file(key: String): Option[Path] = state.synchronized {
    Option(state.entries.get(key)).map(_.file)
  }

  /** The key's cached bytes; `None` also when a concurrent eviction
    * removed the file between lookup and read.
    */
  def bytes(key: String): Option[Array[Byte]] =
    file(key).flatMap { f =>
      try Some(Files.readAllBytes(f))
      catch { case _: java.nio.file.NoSuchFileException => None }
    }

  /** Cache `data` (etag `tag`) under `key` and return its local file.
    * A file already holding the same etag is kept, so concurrent
    * readers of unchanged content never lose the file they were given.
    */
  def put(key: String, data: Array[Byte], tag: String): Path = {
    def same = Option(state.entries.get(key)).filter(_.tag == tag).map(_.file)
    state.synchronized(same).getOrElse {
      val f = Files.createTempFile(dir, "obj-", ".bin")
      Files.write(f, data)
      val (kept, dropped) = state.synchronized {
        same match {
          case Some(cached) => (cached, Seq(f)) // a concurrent reader won
          case None => (f, insert(key, Entry(tag, f, data.length.toLong)))
        }
      }
      dropped.foreach(Files.deleteIfExists)
      kept
    }
  }

  /** Add `e` under the lock; returns the files it superseded or evicted. */
  private def insert(key: String, e: Entry): Seq[Path] = {
    val out = Seq.newBuilder[Path]
    Option(state.entries.put(key, e)).foreach { old =>
      state.bytes -= old.size
      out += old.file
    }
    state.bytes += e.size
    // the new entry is last in access order: it is never the one evicted
    val it = state.entries.values().iterator()
    while (state.bytes > maxBytes && state.entries.size > 1) {
      val eldest = it.next()
      it.remove()
      state.bytes -= eldest.size
      out += eldest.file
    }
    out.result()
  }

  def remove(keys: Seq[String]): Unit = {
    val dropped = state.synchronized {
      keys.flatMap(k => Option(state.entries.remove(k))).map { e =>
        state.bytes -= e.size
        e.file
      }
    }
    dropped.foreach(Files.deleteIfExists)
  }
}

private[storage] object ReadCache {
  /** Local bytes one handle keeps cached. */
  val MaxBytes: Long = 128L << 20

  private final case class Entry(tag: String, file: Path, size: Long)

  /** A handle's entries, eldest use first, and their total size. Also
    * the cleaning action that deletes the files once the handle is
    * unreachable, so it must not refer to the handle.
    */
  private final class State extends Runnable {
    val entries = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true)
    var bytes = 0L
    override def run(): Unit = {
      val all = synchronized {
        val fs = entries.values().asScala.map(_.file).toList
        entries.clear()
        bytes = 0L
        fs
      }
      all.foreach(Files.deleteIfExists)
    }
  }

  private val cleaner = java.lang.ref.Cleaner.create()

  private lazy val dir: Path = {
    val d = Files.createTempDirectory("graft-oscache")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        Using.resource(Files.list(d))(_.iterator().asScala.foreach(Files.deleteIfExists))
        Files.deleteIfExists(d)
      } catch { case _: java.io.IOException => () }))
    d
  }
}
