package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(v))
}

final case class Span(id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long)

/** In-memory spans around every call the benchmark makes into a layer.
  * Disabled, `span` is a plain call. Spans nest per thread; the trace
  * is written once, at exit.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  val originNs: Long = System.nanoTime()

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  def toJson: Seq[Map[String, Any]] = synchronized {
    spans.sortBy(_.startNs).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_us" -> (s.startNs - originNs) / 1000,
        "dur_us" -> (s.endNs - s.startNs) / 1000)
    }.toSeq
  }
}

/** Scheduler work summed over a stretch of the run. */
final class ExecAcc {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  /** Wall-clock (ms) intervals of the jobs, for driver-only time. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def asMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "executor_cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
    "shuffle_read_bytes" -> shuffleRead,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
    "input_bytes" -> inputBytes)

  def add(o: ExecAcc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; inputBytes += o.inputBytes
    jobSpans ++= o.jobSpans
  }
}

/** Work counters from Spark's scheduler events, summed since the last
  * [[take]]. Cheap enough to stay attached in untimed and timed runs
  * alike: it only adds numbers on the listener thread.
  */
final class ExecCounters extends SparkListener {
  private var acc = new ExecAcc
  private val jobStart = mutable.Map.empty[Int, Long]

  /** Counts since the previous call; the caller drains the bus first. */
  def take(): ExecAcc = synchronized { val a = acc; acc = new ExecAcc; a }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    acc.jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => acc.jobSpans += ((t0, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { acc.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    acc.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      acc.cpuNs += m.executorCpuTime
      acc.gcMs += m.jvmGCTime
      acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      acc.inputBytes += m.inputMetrics.bytesRead
    }
  }
}

/** One micro-batch that ran (an idle trigger is not one). */
final case class BatchProgress(query: String, batchId: Long, inputRows: Long,
    durations: Map[String, Long], stateCommitMs: Long,
    stateInstances: Long, stateRows: Long)

/** Micro-batch progress of every streaming query in the session. An
  * idle trigger (no batch ran) reports no `addBatch` phase and is not
  * counted as a batch.
  */
final class Progress extends StreamingQueryListener {
  import StreamingQueryListener._

  private var batches = mutable.ArrayBuffer.empty[BatchProgress]

  private var rows = 0L
  private var count = 0L

  /** Input rows and batches since the session started (never reset). */
  def totals: (Long, Long) = synchronized((rows, count))

  def take(): Seq[BatchProgress] = synchronized {
    val b = batches; batches = mutable.ArrayBuffer.empty; b.toSeq
  }

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    if (d.contains("addBatch")) {
      val ops = p.stateOperators.toSeq
      val b = BatchProgress(Option(p.name).getOrElse(p.id.toString), p.batchId,
        p.numInputRows, d, ops.map(_.commitTimeMs).sum,
        ops.map(_.numStateStoreInstances).sum, ops.map(_.numRowsTotal).sum)
      synchronized {
        batches += b
        rows += b.inputRows
        count += 1
      }
    }
  }
}

/** Catalyst's per-phase planning time of every action, from
  * `QueryExecution.tracker` (traced runs only).
  */
final class Planning extends QueryExecutionListener {
  private var ms = mutable.Map.empty[String, Double]

  def take(): Map[String, Double] = synchronized {
    val m = ms.toMap; ms = mutable.Map.empty; m
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    synchronized {
      phases.foreach { case (k, p) =>
        ms(k) = ms.getOrElse(k, 0.0) + (p.endTimeMs - p.startTimeMs)
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      e: Exception): Unit = ()
}

/** Everything attached to the session, and the phase boundary that
  * makes counts exact: drain the bus, then take.
  */
final class Instruments(spark: SparkSession, traced: Boolean) {
  val exec = new ExecCounters
  val progress = new Progress
  val planning: Option[Planning] = if (traced) Some(new Planning) else None

  spark.sparkContext.addSparkListener(exec)
  spark.streams.addListener(progress)
  planning.foreach(spark.listenerManager.register)

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Drops everything counted so far (warm-up). */
  def reset(): Unit = { drain(); exec.take(); progress.take(); planning.foreach(_.take()) }

  /** A stream thread may report a batch's progress a moment after the
    * barrier that waited for the batch returned; wait until the batch
    * count stops moving.
    */
  def settleProgress(): Unit = {
    drain()
    var before = -1L
    var polls = 0
    while (progress.totals._2 != before && polls < 40) {
      before = progress.totals._2
      Thread.sleep(25)
      drain()
      polls += 1
    }
  }

  /** Input rows reported by progress once they reach `expected` (or
    * after 10 s, whatever they are then).
    */
  def settleRows(expected: Long): Long = {
    val deadline = System.nanoTime() + 10000000000L
    drain()
    while (progress.totals._1 < expected && System.nanoTime() < deadline) {
      Thread.sleep(25)
      drain()
    }
    progress.totals._1
  }
}

object Instruments {
  /** Stage-execution layer, per round. */
  def execLayer(e: ExecAcc, rounds: Int): Map[String, Double] = {
    val r = math.max(rounds, 1).toDouble
    val mb = 1024.0 * 1024.0
    Map(
      "exec.stages" -> e.stages / r,
      "exec.tasks" -> e.tasks / r,
      "exec.executor_cpu_ms" -> e.cpuNs / 1e6 / r,
      "exec.gc_ms" -> e.gcMs / r,
      "exec.shuffle_read_mb" -> e.shuffleRead / mb / r,
      "exec.shuffle_write_mb" -> e.shuffleWrite / mb / r,
      "exec.spill_mb" -> e.spill / mb / r,
      "exec.input_mb" -> e.inputBytes / mb / r)
  }
}
