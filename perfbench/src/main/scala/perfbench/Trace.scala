package perfbench

import scala.collection.mutable

/** In-memory spans recorded by the benchmark around its calls into each
  * layer (pass → query → build / execute; wave → trigger → route /
  * upsert). Each span names its parent; spans are written out once, when
  * the run ends. A span's self time is its duration minus the part of its
  * interval that its children cover. */
final class Trace(val enabled: Boolean) {

  final case class Span(id: Int, parent: Int, kind: String, name: String,
                        pass: Int, startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  /** Record a finished span; returns its id (0 when tracing is off). */
  def add(parent: Int, kind: String, name: String, pass: Int,
          startNs: Long, endNs: Long): Int = synchronized {
    if (!enabled) 0
    else {
      val id = nextId
      nextId += 1
      spans += Span(id, parent, kind, name, pass, startNs, endNs)
      id
    }
  }

  /** Reserve an id for a span whose end is not known yet (a parent). */
  def open(): Int = synchronized { if (!enabled) 0 else { nextId += 1; nextId - 1 } }

  def close(id: Int, parent: Int, kind: String, name: String, pass: Int,
            startNs: Long, endNs: Long): Unit = synchronized {
    if (enabled) spans += Span(id, parent, kind, name, pass, startNs, endNs)
  }

  def all: Seq[Span] = synchronized(spans.toVector)

  /** Self seconds per span kind within one pass. Children of one span do
    * not overlap (one client, closed loop), so covered time is their sum
    * clipped to the parent's interval. */
  def selfSeconds(pass: Int): Map[String, Double] = {
    val inPass = all.filter(_.pass == pass)
    val children = inPass.groupBy(_.parent)
    inPass.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val covered = children.getOrElse(s.id, Nil).map { c =>
          math.max(0L, math.min(c.endNs, s.endNs) - math.max(c.startNs, s.startNs))
        }.sum
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def writeTo(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "pass" -> s.pass.toString, "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Trace {
  /** The recorder for untraced passes: records nothing. */
  val Off = new Trace(false)
}
