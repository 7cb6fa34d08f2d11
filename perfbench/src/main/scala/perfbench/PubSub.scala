package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

import graft.streaming.EventEngine
import org.apache.spark.sql.SparkSession

/** The pub/sub surface: the FizzBuzz topology of the reference's
  * `tests/fizz_buzz_sink.rs` driven by acknowledged sends, then bulk
  * fan-out to four subscribers.
  *
  * numbers hub ──4 × pipeTo (one per class)──▶ classes hub ──▶ collector
  * bulk hub ──▶ 4 × foreachOrdered recorders
  *
  * One round is one `sendSync` on the numbers hub per generated number,
  * then [[PubSub.BulkPerRound]] times a `postBatch` of the bulk payload
  * followed by the engine's barrier. Rounds are whole, so every run
  * attempts the same mix of operations.
  */
object PubSub {
  /** Bulk batches per round: enough fan-out samples per run for a
    * steady median.
    */
  val BulkPerRound = 3
  val BulkSubscribers = 4
  val WarmRounds = 2
  val Classes = Seq("NUMBER", "FIZZ", "BUZZ", "FIZZBUZZ")

  def fizzBuzz(n: Long): String =
    if (n % 15 == 0) "FIZZBUZZ" else if (n % 5 == 0) "BUZZ"
    else if (n % 3 == 0) "FIZZ" else "NUMBER"

  def readLongs(path: String): Array[Long] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala
      .iterator.map(_.trim).filter(_.nonEmpty).map(_.toLong).toArray
  }

  /** What the collector saw, in arrival order. */
  final class Collected {
    private val roots = ArrayBuffer.empty[Long]
    private val classes = ArrayBuffer.empty[String]
    def add(root: Long, c: String): Unit = synchronized { roots += root; classes += c }
    def size: Int = synchronized(roots.size)
    def asMap: Map[String, Any] = synchronized {
      Map("roots" -> roots.toVector, "classes" -> classes.toVector)
    }
  }

  /** One bulk subscriber's deliveries. Written by that subscriber's
    * query thread only; read after the engine's barrier.
    */
  final class Recorder {
    var ids = new Array[Long](1 << 16)
    var n = 0
    var sum = 0L
    def add(id: Long, payload: Long): Unit = {
      if (n == ids.length) ids = java.util.Arrays.copyOf(ids, n * 2)
      ids(n) = id; n += 1; sum += payload
    }
  }

  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

final class PubSub(spark: SparkSession, inst: Instruments, tracer: Tracer,
    a: Main.Args) {
  import PubSub._

  private val numbersIn = readLongs(s"${a.data}/numbers.txt")
  private val bulkIn = readLongs(s"${a.data}/bulk.txt").toSeq
  private val tally = new Main.Tally

  def run(): Map[String, Any] = {
    val engine = new EventEngine(spark)
    val numbers = engine.hub[Long]("numbers")
    val classes = engine.hub[String]("classes")
    val piped = new AtomicLong(0L)
    Classes.foreach { c =>
      numbers.subscribe().pipeTo(classes) { n =>
        piped.incrementAndGet()
        if (fizzBuzz(n) == c) Some(c) else None
      }
    }
    val collected = new Collected
    classes.subscribe().foreachOrdered(e => collected.add(e.rootId, e.payload))
    val bulk = engine.hub[Long]("bulk")
    val recorders = Array.fill(BulkSubscribers)(new Recorder)
    recorders.foreach(r =>
      bulk.subscribe().foreachOrdered(e => r.add(e.event_id, e.payload)))

    // per acked send: (send index, event id, collector size at return);
    // send k sends numbersIn(k % numbersIn.length)
    val acks = ArrayBuffer.empty[(Int, Long, Int)]
    val bulkStarts = ArrayBuffer.empty[Long]
    val ackMs, postMs, barrierMs = ArrayBuffer.empty[Double]
    val bulkMs, bulkPostMs, bulkBarrierMs = ArrayBuffer.empty[Double]
    val roundS = ArrayBuffer.empty[Double]
    var next = 0

    def ms(t0: Long, t1: Long) = (t1 - t0) / 1e6

    def send(timed: Boolean): Double = {
      val idx = next
      next += 1
      val t0 = System.nanoTime()
      val n = numbersIn(idx % numbersIn.length)
      tally.attempt("sendSync") {
        val (id, t1) =
          if (!tracer.enabled) (numbers.sendSync(n), 0L)
          else tracer.span("sendSync") {
            val id = tracer.span("post")(numbers.post(n))
            val t1 = System.nanoTime()
            tracer.span("awaitQuiescence")(engine.awaitQuiescence())
            (id, t1)
          }
        val t2 = System.nanoTime()
        acks += ((idx, id, collected.size))
        if (timed) {
          ackMs += ms(t0, t2)
          if (tracer.enabled) { postMs += ms(t0, t1); barrierMs += ms(t1, t2) }
        }
        ms(t0, t2)
      }.getOrElse(0.0)
    }

    def bulkBatch(timed: Boolean): Double = {
      val t0 = System.nanoTime()
      tally.attempt("postBatch") {
        val t1 = tracer.span("bulk") {
          bulkStarts += tracer.span("postBatch")(bulk.postBatch(bulkIn)).start
          val t1 = System.nanoTime()
          tracer.span("awaitQuiescence")(engine.awaitQuiescence())
          t1
        }
        val t2 = System.nanoTime()
        if (timed) {
          bulkMs += ms(t0, t2)
          bulkPostMs += ms(t0, t1); bulkBarrierMs += ms(t1, t2)
        }
        ms(t0, t2)
      }.getOrElse(0.0)
    }

    // per-phase work: streaming batches and Spark jobs of the send and
    // bulk halves of the timed rounds
    val sendBatches = ArrayBuffer.empty[BatchProgress]
    var sendJobs = 0L
    val exec = new ExecAcc
    def settle(): Unit = if (tracer.enabled) inst.settleProgress() else inst.drain()
    def takePhase(into: Option[ArrayBuffer[BatchProgress]]): Long = {
      settle()
      val e = inst.exec.take()
      val b = inst.progress.take()
      into.foreach(_ ++= b)
      exec.add(e)
      e.jobs
    }

    Main.log("topology started")
    (0 until WarmRounds).foreach { _ =>
      numbersIn.foreach(_ => send(timed = false))
      (0 until BulkPerRound).foreach(_ => bulkBatch(timed = false))
    }
    inst.reset()
    Main.log("warm-up done")
    val readyMs = System.currentTimeMillis()
    val cpu0 = Main.processCpuNs()
    val ticks0 = Main.cpuTicks()
    val jvm0 = Main.jvmWork()
    val compiles0 = org.apache.spark.perfbench.Bus.codegenCompiles()
    val start = System.nanoTime()
    while ((System.nanoTime() - start) / 1e9 < a.seconds) {
      var s = 0.0
      numbersIn.foreach(_ => s += send(timed = true))
      sendJobs += takePhase(Some(sendBatches))
      (0 until BulkPerRound).foreach(_ => s += bulkBatch(timed = true))
      takePhase(None)
      roundS += s / 1000
    }
    val timedS = (System.nanoTime() - start) / 1e9
    val cpuNs = Main.processCpuNs() - cpu0
    val steal = Main.stealSince(ticks0)
    val jvm1 = Main.jvmWork()
    val compiles = org.apache.spark.perfbench.Bus.codegenCompiles() - compiles0

    engine.awaitQuiescence()
    // the recorders' id arrays grow with the rounds run and belong to
    // the benchmark: write them out and drop them before the heap is
    // measured, so that it holds only the engine's state
    val bulkDir = s"${a.out}/bulk"
    new java.io.File(bulkDir).mkdirs()
    recorders.zipWithIndex.foreach { case (r, k) =>
      val buf = java.nio.ByteBuffer.allocate(r.n * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until r.n).foreach(i => buf.putLong(r.ids(i)))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$bulkDir/ids$k.bin"),
        buf.array())
      r.ids = null
    }
    val retainedMb = Main.retainedHeapMb()

    // every row a handler saw must appear in the progress of its query
    val handlerRows = piped.get + collected.size +
      recorders.map(_.n.toLong).sum
    val progressRows = inst.settleRows(handlerRows)
    engine.close()

    Json.write(s"${a.out}/pubsub.json", Map(
      "acks" -> acks.map { case (i, id, seen) => Seq(i, id, seen) },
      "collected" -> collected.asMap,
      "bulk_starts" -> bulkStarts,
      "bulk_subscribers" -> recorders.map(r =>
        Map("count" -> r.n, "sum" -> r.sum)).toSeq,
      "handler_rows" -> handlerRows,
      "progress_rows" -> progressRows))

    val rounds = roundS.size
    def perBatch(k: String) =
      if (sendBatches.isEmpty) 0.0
      else sendBatches.map(_.durations.getOrElse(k, 0L)).sum.toDouble / sendBatches.size
    val deliveries = (BulkSubscribers * bulkIn.size).toDouble
    Map(
      "ready_ms" -> readyMs,
      "timed_s" -> timedS,
      "rounds" -> rounds,
      "cpu_s" -> cpuNs / 1e9,
      "steal_share" -> steal,
      "jit_ms" -> (jvm1._1 - jvm0._1),
      "jvm_gc_ms" -> (jvm1._2 - jvm0._2),
      "retained_heap_mb" -> retainedMb,
      "exec" -> exec.asMap,
      "op_ms" -> ackMs,
      "round_s" -> roundS,
      "rows_per_s" ->
        (if (bulkMs.isEmpty) 0.0 else deliveries * bulkMs.size / (bulkMs.sum / 1000)),
      "tally" -> tally.asMap,
      "per_layer" -> (Instruments.execLayer(exec, rounds) ++ Map(
        "plan.codegen_compiles" -> compiles.toDouble / math.max(rounds, 1),
        "streaming.post_ms" -> median(postMs),
        "streaming.barrier_ms" -> median(barrierMs),
        "streaming.batches_per_send" ->
          (if (ackMs.isEmpty) 0.0 else sendBatches.size.toDouble / ackMs.size),
        "streaming.jobs_per_batch" ->
          (if (sendBatches.isEmpty) 0.0 else sendJobs.toDouble / sendBatches.size),
        "streaming.query_planning_ms" -> perBatch("queryPlanning"),
        "streaming.add_batch_ms" -> perBatch("addBatch"),
        "streaming.wal_commit_ms" -> perBatch("walCommit"),
        "streaming.commit_offsets_ms" -> perBatch("commitOffsets"),
        "streaming.bulk_post_ms" -> median(bulkPostMs),
        "streaming.bulk_barrier_ms" -> median(bulkBarrierMs))))
  }
}
