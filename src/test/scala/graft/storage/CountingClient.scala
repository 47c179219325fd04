package graft.storage

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Forwards every call to `inner` and counts the calls per kind
  * (`head`, `get`, `put`, `cas`, `delete`, `list`), so tests can hold
  * an operation to a budget of object-store round trips.
  */
class CountingClient(val inner: ObjectStoreClient) extends ObjectStoreClient {
  private val counts = new ConcurrentHashMap[String, java.lang.Long]()

  private def tick[T](kind: String)(f: => T): T = {
    counts.merge(kind, 1L, (a, b) => a + b)
    f
  }

  def count(kind: String): Long = counts.getOrDefault(kind, 0L)
  def calls: Long = counts.values().asScala.map(_.longValue).sum
  def reset(): Unit = counts.clear()

  override def head(key: String) = tick("head")(inner.head(key))
  override def size(key: String) = tick("head")(inner.size(key))
  override def get(key: String) = tick("get")(inner.get(key))
  override def putIfNoneMatch(key: String, data: Array[Byte]) =
    tick("cas")(inner.putIfNoneMatch(key, data))
  override def put(key: String, data: Array[Byte]) = tick("put")(inner.put(key, data))
  override def delete(keys: Seq[String]) = tick("delete")(inner.delete(keys))
  override def list(prefix: String) = tick("list")(inner.list(prefix))
  override def listDeep(prefix: String) = tick("list")(inner.listDeep(prefix))
  override def copy(srcKey: String, dstKey: String) =
    tick("put")(inner.copy(srcKey, dstKey))
  override def absolute(key: String) = inner.absolute(key)
}
