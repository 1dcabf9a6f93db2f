package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBridge, SparkContext}
import org.apache.spark.scheduler._

/** Spark work summed over one span's jobs. */
final class Work {
  var jobs, stages, tasks = 0L
  var cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, input, output = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; input += o.input; output += o.output
  }
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around calls into the library and sums the Spark work of
  * each span's jobs. Each span runs its calls under its own Spark job group;
  * the listener maps every job, stage and task back to that group.
  * Work submitted from threads the span does not own (the HTTP server's
  * handler pool) has no group and is summed under span id -1.
  */
final class Tracer(sc: SparkContext) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val work = new java.util.concurrent.ConcurrentHashMap[Int, Work]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val GroupPrefix = "perfbench-span-"
  private val GroupKey = "spark.jobGroup.id"
  private val DescKey = "spark.job.description"

  private def workOf(id: Int): Work = work.computeIfAbsent(id, _ => new Work)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
      val id = group.filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toInt).getOrElse(-1)
      workOf(id).synchronized(workOf(id).jobs += 1)
      e.stageIds.foreach(s => stageSpan.put(s, id))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = stageSpan.getOrDefault(e.stageInfo.stageId, -1)
      val w = workOf(id)
      w.synchronized(w.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val w = workOf(stageSpan.getOrDefault(e.stageId, -1))
      w.synchronized {
        w.tasks += 1
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.input += m.inputMetrics.bytesRead
        w.output += m.outputMetrics.bytesWritten
      }
    }
  }
  sc.addSparkListener(listener)

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = PerfbenchBridge.drainListeners(sc)

  private var attached = true

  /** Detach and re-attach the listener, to time runs without it. */
  def pause(): Unit = if (attached) { drain(); sc.removeSparkListener(listener); attached = false }
  def resume(): Unit = if (!attached) { sc.addSparkListener(listener); attached = true }

  def stop(): Unit = pause()

  /** Run `f` inside a named span; nested calls become child spans. */
  def span[A](name: String)(f: => A): A = {
    val parent = open.get.headOption.getOrElse(-1)
    val s = spans.synchronized {
      val s = Span(spans.size, name, parent, System.nanoTime() - t0, 0L)
      spans += s
      s
    }
    val prevGroup = Option(sc.getLocalProperty(GroupKey))
    val prevDesc = Option(sc.getLocalProperty(DescKey))
    sc.setJobGroup(s"$GroupPrefix${s.id}", name)
    open.set(s.id :: open.get)
    try f
    finally {
      s.endNs = System.nanoTime() - t0
      open.set(open.get.tail)
      prevGroup match {
        case Some(g) => sc.setJobGroup(g, prevDesc.orNull)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Innermost open span on this thread, -1 outside any span. */
  def current: Int = open.get.headOption.getOrElse(-1)

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def children(id: Int): Seq[Span] = all.filter(_.parent == id)

  /** Work of a span and all its descendants. */
  def totalWork(id: Int): Work = {
    val w = new Work
    Option(work.get(id)).foreach(w.add)
    children(id).foreach(c => w.add(totalWork(c.id)))
    w
  }

  /** Duration minus the part of its interval that child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = children(s.id).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var cur = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > cur._2) { covered += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, math.max(cur._2, b))
    }
    if (cur._1 != Long.MinValue) covered += cur._2 - cur._1
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Spans as JSON lines: name, start, end (ns since the tracer started), parent. */
  def writeSpans(path: String): Unit = {
    val lines = all.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Per-span table: wall and self time plus the summed Spark work. */
  def table: String = {
    val header = f"${"span"}%-44s ${"wall_s"}%8s ${"self_s"}%8s ${"jobs"}%5s ${"stages"}%6s " +
      f"${"tasks"}%6s ${"cpu_s"}%7s ${"shuf_MB"}%8s ${"spill_MB"}%8s ${"in_MB"}%7s ${"out_MB"}%7s"
    def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + depth(all(s.parent))
    val rows = all.map { s =>
      val w = totalWork(s.id)
      val name = ("  " * depth(s)) + s.name
      f"${name.take(44)}%-44s ${s.seconds}%8.3f ${selfSeconds(s)}%8.3f ${w.jobs}%5d ${w.stages}%6d " +
        f"${w.tasks}%6d ${w.cpuNs / 1e9}%7.2f ${(w.shuffleRead + w.shuffleWrite) / 1e6}%8.2f " +
        f"${w.spill / 1e6}%8.2f ${w.input / 1e6}%7.2f ${w.output / 1e6}%7.2f"
    }
    (header +: rows).mkString("\n")
  }
}
