package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** One timed call into the program. `seconds` is wall time around the call;
  * a call that throws is recorded with `ok = false` and its message. */
final case class OpRec(kind: String, name: String, round: Int,
    seconds: Double, ok: Boolean, error: String)

/** Records every timed operation of a run (thread-safe); in traced runs
  * each operation is also a span, the parent of the spans inside it. */
final class Ops(trace: Trace) {
  val recs: mutable.ArrayBuffer[OpRec] = mutable.ArrayBuffer.empty

  def time[T](kind: String, name: String, round: Int)(f: => T): Option[T] = {
    val t0 = System.nanoTime()
    val (r, err) =
      try (Some(trace.span(s"op.$name")(f)), "")
      catch { case NonFatal(e) => (None, s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
    val rec = OpRec(kind, name, round, (System.nanoTime() - t0) / 1e9, r.isDefined, err)
    recs.synchronized { recs += rec }
    r
  }

  def toJson: Seq[Map[String, Any]] = recs.toSeq.map(r => Map(
    "kind" -> r.kind, "name" -> r.name, "round" -> r.round,
    "seconds" -> r.seconds, "ok" -> r.ok, "error" -> r.error))
}

/** Spans of the traced run, kept in memory and written as JSON
  * lines at the end. With `on = false` every method is a pass-through, so
  * the timed runs carry no tracing work. A span records its name, start,
  * end and the span that encloses it on the calling thread. */
final class Trace(val on: Boolean) {
  private final case class Span(id: Int, parent: Int, name: String,
      startNs: Long, endNs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private var nextId = 0
  val t0: Long = System.nanoTime()

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val (id, parent) = synchronized {
        nextId += 1; (nextId, open.get.headOption.getOrElse(0))
      }
      open.set(id :: open.get)
      val s = System.nanoTime()
      try f
      finally {
        val e = System.nanoTime()
        open.set(open.get.tail)
        synchronized { spans += Span(id, parent, name, s, e) }
      }
    }

  /** Durations, in seconds, of every span with this name. */
  def durations(name: String): Seq[Double] = synchronized {
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).toSeq
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = synchronized {
    implicit val formats: Formats = DefaultFormats
    val lines = spans.sortBy(_.startNs).map(s => Serialization.write(Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9)))
    java.nio.file.Files.write(path,
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Task and stage totals from one SparkListener, keyed by job group (the
  * workloads set one group per operation; statements the wire server runs
  * on its own threads land under the empty group). */
final class SparkTotals extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, shuffleRead, shuffleWrite, spill, gcMs, input = 0L
  }
  val byGroup: mutable.Map[String, Acc] = mutable.Map.empty
  private val stageGroup = mutable.Map.empty[Int, String]

  private def acc(g: String) = byGroup.getOrElseUpdate(g, new Acc)
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    acc(g).jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      acc(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
      a.input += m.inputMetrics.bytesRead
    }
  }

  /** Sum over the groups `keep` accepts (all by default), as the per-layer
    * `spark.*` metrics. */
  def total(keep: String => Boolean = _ => true): Map[String, Double] = synchronized {
    val as = byGroup.collect { case (g, a) if keep(g) => a }
    def s(f: Acc => Long) = as.map(f).sum.toDouble
    Map(
      "spark.jobs" -> s(_.jobs), "spark.stages" -> s(_.stages),
      "spark.tasks" -> s(_.tasks),
      "spark.executor_run_s" -> s(_.runMs) / 1e3,
      "spark.executor_cpu_s" -> s(_.cpuNs) / 1e9,
      "spark.shuffle_read_bytes" -> s(_.shuffleRead),
      "spark.shuffle_write_bytes" -> s(_.shuffleWrite),
      "spark.spill_bytes" -> s(_.spill),
      "spark.gc_s" -> s(_.gcMs) / 1e3,
      "spark.input_bytes" -> s(_.input))
  }
}

object SparkTotals {
  /** Install on the session's context; returns None when tracing is off. */
  def install(spark: SparkSession, on: Boolean): Option[SparkTotals] =
    if (!on) None
    else {
      val l = new SparkTotals
      spark.sparkContext.addSparkListener(l)
      Some(l)
    }
}
