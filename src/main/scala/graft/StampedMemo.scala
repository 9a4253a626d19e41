package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import graft.sources.ContentStamp
import org.apache.spark.sql.SparkSession

/** Driver-held memo of values derived from at-rest relations — the one
  * validity rule behind the operators' cross-query model, graph, label,
  * id-bloom and drift-check memos.
  *
  * An entry is keyed by `(scope, params)` and holds
  * `(applicationId + stamp, value)`. `scope` names what the stamp is
  * taken from, usually a relation path whose
  * [[ContentStamp]] is the stamp; `params` are the dials
  * the value was built with. A new session or a relation rewritten in
  * place therefore misses, and clearing ([[clear]],
  * [[StampedMemo.clearAll]]) is only for cold timing.
  *
  * A lookup or store at one stamp drops every entry of the same scope
  * held at another (counted in [[evictions]]), so under a maintain
  * stream, which mints a stamp per batch, dead entries never accrete.
  * Memos stamped from different relations under one directory must
  * therefore use the relation paths as scopes, or each call would purge
  * the other's entries.
  *
  * Builds run outside any lock, so a build may call another memo (the
  * residual codebooks train through the coarse-centroid memo). Two
  * concurrent misses on one key both build; values are deterministic,
  * so the later store replaces an equal value. */
final class StampedMemo[P, V] private () {
  private val entries = new ConcurrentHashMap[(String, P), (String, V)]()
  private val hitCount, missCount, evictionCount = new AtomicLong()

  private def stamped(spark: SparkSession, stamp: String): String =
    s"${spark.sparkContext.applicationId}|$stamp"

  private def purge(scope: String, live: String): Unit =
    entries.forEach { (k, v) =>
      if (k._1 == scope && v._1 != live && entries.remove(k, v))
        evictionCount.incrementAndGet()
    }

  /** The value stored for `(scope, params)` at this session and `stamp`. */
  def get(spark: SparkSession, scope: String, params: P, stamp: String): Option[V] = {
    val live = stamped(spark, stamp)
    purge(scope, live)
    Option(entries.get((scope, params))).collect { case (s, v) if s == live => v } match {
      case hit @ Some(_) => hitCount.incrementAndGet(); hit
      case None => missCount.incrementAndGet(); None
    }
  }

  /** Store `value` for `(scope, params)` at this session and `stamp`;
    * returns it. */
  def put(spark: SparkSession, scope: String, params: P, stamp: String, value: V): V = {
    val live = stamped(spark, stamp)
    purge(scope, live)
    entries.put((scope, params), (live, value))
    value
  }

  /** [[get]], or `build` and [[put]] on a miss. */
  def apply(spark: SparkSession, scope: String, params: P, stamp: String)(build: => V): V =
    get(spark, scope, params, stamp).getOrElse(put(spark, scope, params, stamp, build))

  /** [[apply]] stamped with the [[ContentStamp]] of the relation at path
    * `scope` — for values derived from that one relation. */
  def apply(spark: SparkSession, scope: String, params: P)(build: => V): V =
    apply(spark, scope, params, ContentStamp.of(spark, scope))(build)

  def clear(): Unit = entries.clear()
  def size: Int = entries.size
  def hits: Long = hitCount.get
  def misses: Long = missCount.get
  def evictions: Long = evictionCount.get
}

object StampedMemo {
  private val instances = new ConcurrentLinkedQueue[StampedMemo[_, _]]()

  def apply[P, V](): StampedMemo[P, V] = { val m = new StampedMemo[P, V](); instances.add(m); m }

  /** Empty every memo created so far (a memo not created yet is empty). */
  def clearAll(): Unit = instances.forEach(_.clear())
}
