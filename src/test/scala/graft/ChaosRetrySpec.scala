package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.scalatest.funsuite.AnyFunSuite

/** Task-side fault injection for the chaos-retry gate: a `file:`
  * scheme FileSystem that fails the FIRST task-attempt read of every
  * parquet file, then behaves normally. `TaskContext.get()` is the
  * discriminator — driver-side reads (streaming offset logs, schema
  * inference) pass through untouched, so every injected failure is a
  * genuine TASK failure that Spark's `local[N, maxFailures]` retry
  * machinery must absorb.
  */
class ChaosLocalFileSystem extends graft.io.ForkFreeLocalFileSystem {
  /** Armed either by the JVM-static flag (single-JVM local mode) or
    * by the Hadoop conf key — the conf ships to executor JVMs inside
    * the serialized job configuration, which is what lets the same
    * class inject failures in SEPARATE executor processes under
    * local-cluster, where driver-side statics are invisible.
    */
  private def isArmed: Boolean =
    ChaosLocalFileSystem.armed.get ||
      (getConf != null && getConf.getBoolean("graft.chaos.firstread",
        false))

  override def open(f: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    val tc = TaskContext.get()
    // attemptNumber == 0 only: a retried task must succeed rather
    // than fail on the NEXT unseen file of its split — a multi-file
    // partition (bucketed scans) would otherwise burn every retry on
    // a different file and exhaust spark.task.maxFailures
    if (isArmed && tc != null && tc.attemptNumber() == 0 &&
        f.getName.endsWith(".parquet") &&
        ChaosLocalFileSystem.seen.putIfAbsent(f.toString, true) == null) {
      ChaosLocalFileSystem.fired.incrementAndGet()
      throw new java.io.IOException(
        s"graft chaos: injected first-attempt read failure for $f")
    }
    super.open(f, bufferSize)
  }
}

object ChaosLocalFileSystem {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  val seen = new ConcurrentHashMap[String, java.lang.Boolean]()
  val fired = new AtomicLong(0)
  def reset(): Unit = { seen.clear(); fired.set(0) }
}

/** VERDICT r8 item 2: the foreachBatch serving loops (upsert, CDC
  * apply, monotonic view, join-view, extrema rollup, eager agg, WARC
  * ingest, late-data router, dirty-day peak recompute —
  * st11/st22/st26/st28/st32/st37/st39/st40/st41/st42) claim
  * retry-idempotence via batchId guards and additive folds. Prove it
  * under GENUINE task retries: every parquet data file's first
  * task-side read throws, `local[8,4]` retries the task, and each
  * loop's final snapshot must hash-match the no-failure run.
  */
class ChaosRetrySpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  /** Chaos runs stage their multi-batch fixtures under a PRIVATE
    * namespace (see StreamingOps.stageDeterministic): an overwrite
    * interleaved with injected failures must never be able to poison
    * the shared /tmp fixtures other suites — or a concurrently
    * running Verify/Bench JVM — read.
    */
  override def beforeAll(): Unit = {
    super.beforeAll()
    sys.props("graft.stage.ns") = "chaos"
  }
  override def afterAll(): Unit = {
    sys.props.remove("graft.stage.ns")
    super.afterAll()
  }

  private val servingLoops = Seq(
    "st11_streaming_upsert", "st22_stream_cdc_apply",
    "st26_stream_monotonic_view", "st28_stream_join_view",
    "st32_stream_join_view_ivm", "st37_stream_extrema_rollup",
    "st39_stream_eager_agg", "st40_stream_warc_ingest",
    "st41_stream_late_data", "st42_stream_peak_concurrency",
    "st43_stream_temporal_enrich",
    // the manifest tail: version-number idempotence + commit protocol
    // under failing reads (manifest re-reads, serving-snapshot folds)
    "st45_stream_table_tail",
    // the manifest sink: txn-marker idempotence must hold when the
    // failing task forces a real foreachBatch retry on top of the
    // query's own simulated redelivery
    "st46_stream_manifest_sink")

  test("serving loops survive first-attempt task failures unchanged") {
    val clean = ClusterParity.runAll(
      () => GraftSession.local(cpus = 8), servingLoops, sfDir)

    ChaosLocalFileSystem.reset()
    val chaotic = ClusterParity.runAll(
      () => {
        val s = GraftSession.local(cpus = 8, appName = "graft-chaos",
          taskRetries = 4)
        s.sparkContext.hadoopConfiguration.set("fs.file.impl",
          classOf[ChaosLocalFileSystem].getName)
        // the JVM-global FileSystem cache is keyed by scheme only —
        // without this the pre-chaos LocalFileSystem keeps serving
        s.sparkContext.hadoopConfiguration.setBoolean(
          "fs.file.impl.disable.cache", true)
        ChaosLocalFileSystem.armed.set(true)
        s
      },
      servingLoops, sfDir)
    ChaosLocalFileSystem.armed.set(false)

    val problems = servingLoops.flatMap { n =>
      (clean(n), chaotic(n)) match {
        case (Right((cs, cr)), Right((hs, hr))) =>
          if (cs != hs) Some(s"$n: schema drift under chaos")
          else if (cr != hr) Some(
            s"$n: ${cr.size} clean vs ${hr.size} chaos rows; first " +
              s"diff=${cr.zipAll(hr, "<none>", "<none>")
                .find(p => p._1 != p._2)}")
          else None
        case (Left(e), _) => Some(s"$n: clean run failed: $e")
        case (_, Left(e)) => Some(s"$n: chaos run failed: $e")
      }
    }
    assert(problems.isEmpty, problems.mkString("\n"))
    assert(ChaosLocalFileSystem.fired.get > 0,
      "chaos never fired — the injection path is dead and this " +
        "spec proved nothing")
  }

  test("serving loops survive task failures ACROSS executor " +
      "processes (local-cluster + spark.task.maxFailures)") {
    // the sternest single-machine version: executors are separate
    // JVMs, the chaos FS is armed via the Hadoop conf that ships with
    // each job, failures surface as genuine task failures that the
    // standalone scheduler retries under spark.task.maxFailures, and
    // the failure count is read back from the driver's listener (the
    // executor-side statics are in other processes)
    val slice = Seq("st37_stream_extrema_rollup", "st39_stream_eager_agg",
      "st40_stream_warc_ingest", "d17_persisted_index_dedup")
    val clean = ClusterParity.runAll(
      () => GraftSession.local(cpus = 8), slice, sfDir)

    val failedTasks = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        e.reason match {
          case _: org.apache.spark.Success.type => ()
          case _ => failedTasks.incrementAndGet()
        }
    }
    val chaotic = ClusterParity.runAll(
      () => {
        val s = GraftSession.cluster(workers = 2, coresPerWorker = 8,
          workerMemMB = 3072, appName = "graft-cluster-chaos",
          extraConf = Map(
            "spark.task.maxFailures" -> "4",
            "spark.hadoop.graft.chaos.firstread" -> "true",
            "spark.hadoop.fs.file.impl" ->
              classOf[ChaosLocalFileSystem].getName,
            "spark.hadoop.fs.file.impl.disable.cache" -> "true"))
        s.sparkContext.addSparkListener(listener)
        s
      },
      slice, sfDir)

    val problems = slice.flatMap { n =>
      (clean(n), chaotic(n)) match {
        case (Right((cs, cr)), Right((hs, hr))) =>
          if (cs != hs) Some(s"$n: schema drift under cluster chaos")
          else if (cr != hr) Some(
            s"$n: ${cr.size} clean vs ${hr.size} chaos rows")
          else None
        case (Left(e), _) => Some(s"$n: clean run failed: $e")
        case (_, Left(e)) => Some(s"$n: cluster-chaos run failed: $e")
      }
    }
    assert(problems.isEmpty, problems.mkString("\n"))
    assert(failedTasks.get > 0,
      "no task failures observed — executor-side chaos never armed")
  }
}
