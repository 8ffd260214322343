package perfbench

import scala.collection.mutable

/** A traced interval, microseconds since the run started. Spans of one
  * run share the run's id; `parent` is -1 for the root. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span store, written out when the run ends. */
final class Trace(val epochMs: Long, val t0Ns: Long) {
  private val spans = mutable.ArrayBuffer.empty[Span]

  def nowUs: Long = (System.nanoTime() - t0Ns) / 1000
  def fromEpochMs(ms: Long): Long = (ms - epochMs) * 1000

  def add(parent: Int, layer: String, name: String, startUs: Long, endUs: Long): Int =
    synchronized {
      val id = spans.size
      spans += Span(id, parent, layer, name, startUs, math.max(startUs, endUs))
      id
    }

  def all: Seq[Span] = synchronized(spans.toList)
}

object Trace {
  /** Self time of each span: its duration minus the part of its interval
    * that the union of its children's intervals covers. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))).filter(i => i._2 > i._1))
      s.id -> (s.durUs - covered)
    }.toMap
  }

  /** Total length of the union of intervals. */
  def union(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Summed self time per layer, seconds, over the spans `keep` selects. */
  def selfByLayer(spans: Seq[Span], keep: Span => Boolean): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.filter(keep).groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => self(s.id)).sum / 1e6
    }
  }
}
