package graft

import java.util.concurrent.ConcurrentHashMap

import scala.annotation.tailrec

/** A process-lifetime memo: each key's value is built once and kept.
  * Concurrent first callers of a key wait for that key's build only; a
  * build that throws is dropped, so the next call builds afresh; a build
  * runs outside the map's lock, so it may look up other memos. */
final class Memo[K, V] {
  private final class Cell { var value: Option[V] = None }
  private val cells = new ConcurrentHashMap[K, Cell]

  @tailrec def apply(key: K)(build: => V): V = {
    val cell = cells.computeIfAbsent(key, _ => new Cell)
    val got = cell.synchronized {
      if (cell.value.isEmpty && (cells.get(key) eq cell))
        try cell.value = Some(build)
        catch { case e: Throwable => cells.remove(key, cell); throw e }
      cell.value
    }
    got match {
      case Some(v) => v
      case None => apply(key)(build) // this cell's build failed: start over
    }
  }
}
