package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import graft.connect.{FhirStore, InMemoryFhirStore, StoreRef}

/** Call counts and busy time per store operation, shared by every task
  * thread of the JVM (local mode runs executors in-process).
  */
object StoreTimes {
  val ops: Seq[String] = Seq("create", "update", "read", "search")
  private val n = new ConcurrentHashMap[String, LongAdder]()
  private val ns = new ConcurrentHashMap[String, LongAdder]()
  val searchRows = new LongAdder

  private def adder(m: ConcurrentHashMap[String, LongAdder], k: String) =
    m.computeIfAbsent(k, _ => new LongAdder)

  def record(op: String, t0: Long): Unit = {
    adder(n, op).increment()
    adder(ns, op).add(System.nanoTime() - t0)
  }
  def count(op: String): Long = adder(n, op).sum()
  def seconds(op: String): Double = adder(ns, op).sum() / 1e9
}

/** The public [[FhirStore]] trait around the fixture store, timing every
  * call. Only the traced run hands it to the program.
  */
final class TimedStore(inner: FhirStore) extends FhirStore {
  private def timed[T](op: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally StoreTimes.record(op, t0)
  }
  override def create(resourceType: String, json: String): String =
    timed("create")(inner.create(resourceType, json))
  override def update(resourceType: String, id: String, json: String): Unit =
    timed("update")(inner.update(resourceType, id, json))
  override def delete(resourceType: String, id: String): Unit =
    timed("delete")(inner.delete(resourceType, id))
  override def read(resourceType: String, id: String): Option[String] =
    timed("read")(inner.read(resourceType, id))
  override def search(resourceType: String,
      param: (String, String)*): Seq[String] = {
    val out = timed("search")(inner.search(resourceType, param: _*))
    StoreTimes.searchRows.add(out.size)
    out
  }
}

/** Resolves the named fixture store on any thread, wrapped when timed. */
final case class BenchStoreRef(name: String, timedCalls: Boolean)
    extends StoreRef {
  def inner: InMemoryFhirStore = InMemoryFhirStore.named(name)
  def store: FhirStore = if (timedCalls) new TimedStore(inner) else inner
}
