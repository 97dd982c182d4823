package graft.serving

import java.net.URLEncoder
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

/** Stored responses of [[Serve]]'s `/api` routes: status and UTF-8 body by
  * [[ResponseStore.key]].
  *
  * `pinned` entries are given at construction and kept for the store's
  * life. An entry [[put]] later is kept while the store has room and is
  * served only while its guard holds. A lookup takes no lock. An insert
  * takes the store's lock only to keep the inserted entries within `budget`
  * (each costs its body bytes plus its key's characters): an insert that
  * would exceed it first drops every entry but the pinned ones, and an
  * entry larger than the whole budget is not stored. Two concurrent misses
  * on one key may both compute; the second insert finds the key present and
  * stores nothing.
  */
private[serving] final class ResponseStore(budget: Long,
    pinned: Map[String, (Int, Array[Byte])]) {
  import ResponseStore._

  private val entries = new ConcurrentHashMap[String, Entry]()
  pinned.foreach { case (k, answer) => entries.put(k, Entry(answer, pinned = true, Always)) }
  private val pinnedSize = pinned.iterator.map { case (k, (_, body)) => cost(k, body) }.sum
  @volatile private var used = 0L

  def get(key: String): Option[(Int, Array[Byte])] =
    Option(entries.get(key)).filter(_.valid()).map(_.answer)

  /** Stores `answer` if `valid` holds now, and serves it while it holds. */
  def put(key: String, answer: (Int, Array[Byte]), valid: () => Boolean = Always): Unit = {
    val c = cost(key, answer._2)
    if (c <= budget) synchronized {
      if (!entries.containsKey(key) && valid()) {
        if (used + c > budget) { entries.values.removeIf(!_.pinned); used = 0L }
        entries.put(key, Entry(answer, pinned = false, valid))
        used += c
      }
    }
  }

  /** The stored size, pinned entries included, in the budget's units. */
  def size: Long = pinnedSize + used
}

private[serving] object ResponseStore {
  private final case class Entry(answer: (Int, Array[Byte]), pinned: Boolean, valid: () => Boolean)

  val Always: () => Boolean = () => true

  private def cost(key: String, body: Array[Byte]): Long = body.length.toLong + key.length

  private def enc(s: String): String = URLEncoder.encode(s, StandardCharsets.UTF_8)

  /** The route path plus its decoded query parameters in sorted order,
    * re-encoded so that no two parameter maps share a key. */
  def key(path: String, params: Map[String, String]): String =
    params.toSeq.sorted.map { case (k, v) => s"${enc(k)}=${enc(v)}" }
      .mkString(s"$path?", "&", "")
}
