package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** A fixed list of `SparkEntry.queries`, run in whole rounds.
  *
  * The first round is the warm-up and the check round: each result is
  * written as parquet for the DuckDB oracle, and the fixtures the
  * queries stage are made here. Timed rounds run each query through the
  * `noop` sink, so the whole physical plan executes and nothing is kept.
  */
object QueryRounds {

  /** st-family `AvailableNow` drains: the in-flight CEP of four
    * stream-stream joins over five staged streams (st38), a four-batch
    * manifest-table sink over one source (st46), and a streaming dedup
    * state store (st2). st38 runs first so that it, not a cheap drain,
    * absorbs the cold start of the check round.
    */
  val Drains: Seq[String] = Seq(
    "st38_stream_cep_inflight",
    "st46_stream_manifest_sink",
    "st2_stream_dedup_keys")

  /** Batch queries, one per family: relational (q), graph (g), dedup
    * (d), similarity (s), text (t), and two manifest-table write doors
    * (x39 merge commit, x48 partition overwrite).
    */
  val Batch: Seq[String] = Seq(
    "q01_pricing_summary", "g02_degree_histogram", "d01_exact_dedup",
    "s01_topk_bruteforce", "t01_token_stats",
    "x39_manifest_merge", "x48_partition_overwrite")

  /** Query family: the letters before the number (`st38_…` is `st`). */
  def family(name: String): String = name.takeWhile(_.isLetter)

  /** Length (ms) of the union of `spans` clipped to [from, to]. */
  def coveredMs(spans: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = spans.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

final class QueryRounds(spark: SparkSession, inst: Instruments,
    tracer: Tracer, a: Main.Args, names: Seq[String]) {
  import QueryRounds._

  private val tally = new Main.Tally

  private def runOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      sink: org.apache.spark.sql.DataFrame => Unit): Option[Unit] =
    tally.attempt(name) {
      tracer.span(name) {
        val df = tracer.span("query")(fn(spark, a.data))
        tracer.span("sink")(sink(df))
      }
    }

  def run(): Map[String, Any] = {
    val all = graft.SparkEntry.queries
    val fns = names.map(n => n -> all.getOrElse(n,
      throw new NoSuchElementException(s"no query named $n")))
    val oracle = graft.SparkEntry.oracleSql
    Json.write(s"${a.out}/oracle.json",
      names.map(n => n -> oracle.getOrElse(n, null)).toMap)

    // check round: results for the oracle, and each drain's input rows
    // as its streaming progress reports them
    val checkRows = mutable.LinkedHashMap.empty[String, Long]
    val checkOk = mutable.LinkedHashMap.empty[String, Boolean]
    inst.reset()
    fns.foreach { case (n, f) =>
      checkOk(n) = runOne(n, f, _.write.mode("overwrite")
        .parquet(s"${a.out}/results/$n")).isDefined
      spark.catalog.clearCache()
      inst.drain()
      checkRows(n) = inst.progress.take().map(_.inputRows).sum
    }
    Json.write(s"${a.out}/checks.json", Map(
      "ok" -> checkOk, "progress_input_rows" -> checkRows))

    inst.reset()
    Main.log("check round done")
    val exec = new ExecAcc
    val batches = ArrayBuffer.empty[BatchProgress]
    val planning = mutable.Map.empty[String, Double]
    val opMs = ArrayBuffer.empty[Double]
    val roundS = ArrayBuffer.empty[Double]
    val famS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val famJobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val perQuery = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    var driverOnlyMs = 0L
    val readyMs = System.currentTimeMillis()
    val cpu0 = Main.processCpuNs()
    val ticks0 = Main.cpuTicks()
    val jvm0 = Main.jvmWork()
    val compiles0 = org.apache.spark.perfbench.Bus.codegenCompiles()
    val start = System.nanoTime()
    while ((System.nanoTime() - start) / 1e9 < a.seconds) {
      var sum = 0.0
      fns.foreach { case (n, f) =>
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val ok = runOne(n, f, _.write.format("noop").mode("overwrite").save())
        val dt = (System.nanoTime() - t0) / 1e6
        val w1 = System.currentTimeMillis()
        spark.catalog.clearCache()
        inst.drain()
        val e = inst.exec.take()
        exec.add(e)
        batches ++= inst.progress.take()
        inst.planning.foreach(_.take().foreach { case (k, v) =>
          planning(k) = planning.getOrElse(k, 0.0) + v
        })
        famJobs(family(n)) += e.jobs
        if (ok.isDefined) {
          opMs += dt
          sum += dt
          famS(family(n)) += dt / 1000
          perQuery.getOrElseUpdate(n, ArrayBuffer.empty) += dt
          driverOnlyMs += (w1 - w0) - coveredMs(e.jobSpans.toSeq, w0, w1)
        }
      }
      roundS += sum / 1000
    }
    val timedS = (System.nanoTime() - start) / 1e9
    val cpuNs = Main.processCpuNs() - cpu0
    val steal = Main.stealSince(ticks0)
    val jvm1 = Main.jvmWork()
    val compiles = org.apache.spark.perfbench.Bus.codegenCompiles() - compiles0
    val retainedMb = Main.retainedHeapMb()
    val rounds = roundS.size
    val r = math.max(rounds, 1).toDouble
    def drainMs(k: String) = batches.map(_.durations.getOrElse(k, 0L)).sum / r
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
      "op_ms" -> opMs,
      "round_s" -> roundS,
      "per_query_ms" -> perQuery,
      "tally" -> tally.asMap,
      "per_layer" -> (Instruments.execLayer(exec, rounds) ++ Map(
        "exec.driver_only_ms" -> driverOnlyMs / r,
        "plan.codegen_compiles" -> compiles / r,
        "plan.analysis_ms" -> planning.getOrElse("analysis", 0.0) / r,
        "plan.optimization_ms" -> planning.getOrElse("optimization", 0.0) / r,
        "plan.planning_ms" -> planning.getOrElse("planning", 0.0) / r,
        "drain.batches" -> batches.size / r,
        "drain.no_data_batches" -> batches.count(_.inputRows == 0) / r,
        "drain.query_planning_ms" -> drainMs("queryPlanning"),
        "drain.add_batch_ms" -> drainMs("addBatch"),
        "drain.wal_commit_ms" -> drainMs("walCommit"),
        "drain.state_commit_ms" -> batches.map(_.stateCommitMs).sum / r,
        "drain.state_store_instances" -> batches.map(_.stateInstances).sum / r,
        "drain.state_rows" -> batches.map(_.stateRows).sum / r,
        "drain.input_rows" -> batches.map(_.inputRows).sum / r) ++
        famS.map { case (f, s) => s"family.${f}_s" -> s / r } ++
        famJobs.map { case (f, j) => s"family.${f}_jobs" -> j / r }))
  }
}
