package perfbench

import scala.collection.mutable

/** One traced interval at a layer boundary. `group` is shared by the spans
  * of one gate call or one micro-batch.
  */
final case class Span(id: Int, parent: Int, name: String, group: String,
                      startNs: Long, endNs: Long,
                      counts: collection.Map[String, Any])

/** In-memory span store. Spans are only appended while a run is going and
  * written out once, when it ends. With tracing off nothing is recorded.
  */
final class Trace(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  def newId(): Int = { val i = nextId; nextId += 1; i }

  def add(id: Int, parent: Int, name: String, group: String, startNs: Long,
          endNs: Long, counts: collection.Map[String, Any] = Map.empty): Unit =
    if (enabled) spans += Span(id, parent, name, group, startNs, endNs, counts)

  def all: Seq[Span] = spans.toSeq

  /** Self time per span name: duration minus the union its children cover. */
  def selfSeconds: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
          .sortBy(_._1).foldLeft((0L, s.startNs)) { case ((acc, reach), (a, b)) =>
            if (b <= reach) (acc, reach) else (acc + b - (a max reach), b)
          }._1
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val rows = spans.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "group" -> s.group, "start_s" -> (s.startNs - t0) / 1e9,
        "end_s" -> (s.endNs - t0) / 1e9, "counts" -> s.counts)
    }
    val self = selfSeconds.toSeq.sortBy(_._1).map { case (k, v) => k -> v }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, Json(Json.obj(
      "spans" -> rows, "self_seconds" -> Json.obj(self: _*))))
  }
}
