package graft.core

import java.util.concurrent.ConcurrentLinkedQueue

import org.slf4j.LoggerFactory

/** Runtime signal for size-route decisions (round-12 advice: a routed
  * operator must not silently change contract). Every scale route —
  * [[graft.operators.SimilarityOps.nearDupPairs]]'s exact→LSH switch,
  * [[graft.operators.KMeansOps.fitCentroids]]'s full→sampled-fit switch,
  * decided from the row count its one training collect returns —
  * announces itself here: once to the slf4j log (WARN for contract
  * changes like lossy LSH output, INFO for exact-result routes like the
  * sampled fit), and once to an in-memory ring that tests and callers can
  * drain to ASSERT which contract they got without scraping logs.
  */
object RouteLog {
  private val log = LoggerFactory.getLogger("graft.routes")

  /** Bounded recent-decision buffer: enough for a session's worth of
    * route firings, never a leak. */
  private val MaxRecent = 256
  private val recentQ = new ConcurrentLinkedQueue[String]()

  /** A route that changes the RESULT contract (e.g. exact pairs → LSH
    * subset): logged at WARN so production runs surface it by default. */
  def contractChange(route: String, detail: String): Unit =
    record(route, detail, warn = true)

  /** A route that changes only the COST shape (result still exact or
    * quality-gated, e.g. sampled codebook training): logged at INFO. */
  def costRoute(route: String, detail: String): Unit =
    record(route, detail, warn = false)

  private def record(route: String, detail: String, warn: Boolean): Unit = {
    val line = s"$route: $detail"
    if (warn) log.warn(line) else log.info(line)
    recentQ.add(line)
    while (recentQ.size > MaxRecent) recentQ.poll()
  }

  /** Recent route firings, oldest first (drained copy — the queue itself
    * keeps accumulating). */
  def recent(): Seq[String] = {
    val it = recentQ.iterator()
    val b = Seq.newBuilder[String]
    while (it.hasNext) b += it.next()
    b.result()
  }

  /** True when any recent firing mentions `route` (test pin helper). */
  def fired(route: String): Boolean = recent().exists(_.startsWith(s"$route:"))

  private[graft] def reset(): Unit = recentQ.clear()
}
