package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Minimal JSON encoder for the result lines and trace files. */
object Json {
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => str(k) + ":" + value(v) }
    .mkString("{", ",", "}")
  def arr(vs: Iterable[Any]): String = vs.map(value).mkString("[", ",", "]")
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c    => sb += c
    }
    (sb += '"').toString
  }
  def value(v: Any): String = v match {
    case null          => "null"
    case s: String     => str(s)
    case d: Double     => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float      => value(f.toDouble)
    case n: Int        => n.toString
    case n: Long       => n.toString
    case b: Boolean    => b.toString
    case Raw(s)        => s
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => arr(it)
    case o             => str(o.toString)
  }
  /** Already-encoded JSON, embedded verbatim. */
  final case class Raw(json: String)
}

/** In-memory span recorder: one span per call into a layer, made by the
  * benchmark around the public entry point of that layer. Spans are kept
  * in memory and written out when the run ends. When disabled, `span`
  * only runs its body. */
final class Tracer(val enabled: Boolean) {
  final case class Rec(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  private val recs = mutable.ArrayBuffer.empty[Rec]
  private var stack: List[Int] = Nil
  private val t0 = System.nanoTime()

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = recs.size
      val parent = stack.headOption.getOrElse(-1)
      recs += null // reserve the slot so ids follow start order
      stack = id :: stack
      val s = System.nanoTime()
      try body
      finally {
        val e = System.nanoTime()
        stack = stack.tail
        recs(id) = Rec(id, parent, name, s - t0, e - t0)
      }
    }

  def toJson: String = Json.arr(recs.filter(_ != null).map { r =>
    Json.Raw(Json.obj("id" -> r.id, "parent" -> r.parent, "name" -> r.name,
      "start_ns" -> r.startNs, "end_ns" -> r.endNs))
  })
}

/** Task and stage metrics of the Spark jobs run between `reset` and
  * `snapshot` (a SparkListener; the listener bus is drained before
  * reading). */
final class TaskStats extends SparkListener {
  final case class Task(stage: Int, durMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      recordsRead: Long, bytesWritten: Long, shuffleWrite: Long, spill: Long)
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null)
      tasks.add(Task(e.stageId, e.taskInfo.duration, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def reset(sc: org.apache.spark.SparkContext): Unit = { drain(sc); tasks.clear() }

  def snapshot(sc: org.apache.spark.SparkContext): Seq[Task] = {
    drain(sc)
    import scala.jdk.CollectionConverters._
    tasks.asScala.toSeq
  }

  /** Block until every event posted so far has reached the listeners. */
  private def drain(sc: org.apache.spark.SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
