package graft.sources

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** The engine's one memo of derived values: inferred schemas, silver
  * tables, replay feeds, trained model state and prepared query plans. An
  * entry maps a key to the value and the input VERSION it was built from
  * ([[Parquet.inputVersion]]; versions compare with `==`, so a session in
  * a version compares by reference). A lookup at another version builds
  * again and releases the superseded value (a table's dir is deleted), so
  * a file rewritten under its path is never served from the old build.
  *
  * `build` runs outside any lock, so builds nest (a silver table reads
  * another). Two threads that build one entry at once both finish; the
  * loser releases its own value and returns the winner's.
  */
final class Memo[V](release: V => Unit = (_: V) => ()) {
  private val entries = new ConcurrentHashMap[String, (Any, V)]()
  Memo.all.add(this)

  def apply(key: String, version: Any)(build: => V): V = {
    val hit = entries.get(key)
    if (hit != null && hit._1 == version) return hit._2
    val mine = (version, build)
    var superseded: Option[V] = None
    val won = entries.compute(key, (_, cur) =>
      if (cur != null && cur._1 == version) cur
      else { superseded = Option(cur).map(_._2); mine })
    if (won ne mine) release(mine._2) else superseded.foreach(release)
    won._2
  }

  /** Every value the memo holds now. */
  def values: Seq[V] = entries.values.asScala.map(_._2).toSeq

  /** Drop every entry and release its value. */
  def clear(): Unit = entries.keySet.forEach { k =>
    Option(entries.remove(k)).foreach(e => release(e._2))
  }
}

object Memo {
  private val all = new ConcurrentLinkedQueue[Memo[_]]()

  /** Clear every memo the engine holds. A frame still reading a released
    * value (a deleted table dir) fails. */
  def clearAll(): Unit = all.forEach(_.clear())

  /** How many entries every memo holds together. */
  def size: Int = all.asScala.map(_.entries.size).sum
}
