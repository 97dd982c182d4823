package graft.serving

import java.net.URLEncoder
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

/** Stored responses of [[Serve]]'s memoized read routes: status and UTF-8
  * body by [[BodyMemo.key]].
  *
  * A lookup takes no lock. An insert takes the memo's lock only to keep the
  * stored size within `budget` (each entry costs its body bytes plus its
  * key's characters): an insert that would exceed it clears the memo first,
  * the size-cap idiom of `Serve`'s RF model cache, and an entry larger than
  * the whole budget is not stored. Two concurrent misses on one key may both
  * compute; the second insert finds the key present and stores nothing.
  */
private[serving] final class BodyMemo(budget: Long) {
  private val entries = new ConcurrentHashMap[String, (Int, Array[Byte])]()
  @volatile private var used = 0L

  def get(key: String): Option[(Int, Array[Byte])] = Option(entries.get(key))

  def put(key: String, answer: (Int, Array[Byte])): Unit = {
    val cost = answer._2.length.toLong + key.length
    if (cost <= budget) synchronized {
      if (!entries.containsKey(key)) {
        if (used + cost > budget) { entries.clear(); used = 0L }
        entries.put(key, answer)
        used += cost
      }
    }
  }

  /** The stored size, in the budget's units. */
  def size: Long = used
}

private[serving] object BodyMemo {
  private def enc(s: String): String = URLEncoder.encode(s, StandardCharsets.UTF_8)

  /** The route path plus its decoded query parameters in sorted order,
    * re-encoded so that no two parameter maps share a key. */
  def key(path: String, params: Map[String, String]): String =
    params.toSeq.sorted.map { case (k, v) => s"${enc(k)}=${enc(v)}" }
      .mkString(s"$path?", "&", "")
}
