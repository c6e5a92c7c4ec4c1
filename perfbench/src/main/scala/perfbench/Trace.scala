package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` is the span that
  * was open when this one started (-1 at the root); `op` ties every
  * span of one benchmark op together. */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, op: Int) {
  def layer: String = Tracer.layerOf(name)
}

/** In-memory span recorder for the single client thread. Off, `span`
  * is a plain call. Spans are kept until the run ends and then written
  * out in one go. */
final class Tracer {
  var on = false
  var op = -1
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, t0, System.nanoTime(), parent, op)
      }
    }

  /** Add a span measured elsewhere (a Spark job from the listener),
    * under the deepest span of `op` that contains its midpoint. */
  def addWithin(name: String, start: Long, end: Long, op: Int): Unit = {
    val mid = (start + end) / 2
    val host = spans.iterator
      .filter(s => s.op == op && s.start <= mid && mid <= s.end)
      .maxByOption(s => s.start)
    host.foreach { h =>
      val s = math.max(start, h.start)
      val e = math.min(end, h.end)
      if (e > s) {
        spans += Span(nextId, name, s, e, h.id, op)
        nextId += 1
      }
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Self time per layer: each span's duration minus the union of its
    * children's intervals, summed by layer (ns). */
  def selfNsByLayer: Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.iterator.map { s =>
      val covered = Tracer.unionNs(kids.getOrElse(s.id, Nil)
        .map(c => (c.start, c.end)).toSeq)
      s.layer -> math.max(0L, s.end - s.start - covered)
    }.toSeq.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def writeJsonl(path: String): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.id).foreach { s =>
      sb ++= s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"op":${s.op}}""" + "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Tracer {
  /** Layers that have spans: every span name starts with one of them
    * (the harness's own bookkeeping is under `bench`). */
  val Layers: Seq[String] = Seq("queries", "engine", "arrow.scan", "arrow.log",
    "arrow.dml", "streaming")

  def layerOf(name: String): String =
    Layers.find(l => name == l || name.startsWith(l + "."))
      .getOrElse(name.takeWhile(_ != '.'))

  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-op engine counts from Spark's own listener events. Jobs are
  * attributed to the op whose id was the `perfbench.op` local property
  * when they were submitted; stages inherit their job's op. */
final class OpListener extends SparkListener {
  final class OpCounts {
    var jobs = 0
    var stages = 0
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var spillBytes = 0L
    var shuffleBytes = 0L
    var shuffleRecordsWritten = 0L
    var inputRecords = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  }

  private val counts = mutable.HashMap.empty[Int, OpCounts]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val jobOp = mutable.HashMap.empty[Int, (Int, Long)]

  def get(op: Int): OpCounts = synchronized {
    counts.getOrElseUpdate(op, new OpCounts)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties)
      .flatMap(p => Option(p.getProperty("perfbench.op")))
      .map(_.toInt).getOrElse(-1)
    if (op >= 0) {
      jobOp(e.jobId) = (op, e.time)
      e.stageIds.foreach(s => stageOp(s) = op)
      get(op).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, start) =>
      get(op).jobIntervals += ((start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted)
      : Unit = synchronized {
    val info = e.stageInfo
    stageOp.get(info.stageId).foreach { op =>
      val c = get(op)
      c.stages += 1
      c.tasks += info.numTasks
      Option(info.taskMetrics).foreach { m =>
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecordsWritten += m.shuffleWriteMetrics.recordsWritten
        c.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }
}
