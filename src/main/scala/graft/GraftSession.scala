package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Defaults are tuned for the harness environment (single JVM,
  * `local[32]`, 128 GiB) but every knob here is what we would set on a
  * real multi-executor cluster too: AQE on (runtime re-plan, skew-join
  * splitting, dynamic coalescing of shuffle partitions), shuffle
  * partitions sized to the parallelism actually available instead of
  * the 200 default, and UTC session time so results are reproducible
  * against any oracle.
  */
object GraftSession {

  /** Build (or reuse) a local session. `cpus` controls both the
    * scheduler slots and the shuffle partition count — at 100 TB scale
    * the same code runs with `spark.sql.shuffle.partitions` sized to
    * cluster cores; AQE coalesces small post-shuffle partitions either
    * way.
    */
  /** `taskRetries > 1` uses the `local[N, maxFailures]` master so an
    * injected (or genuine) task failure is retried instead of failing
    * the job — the single-machine stand-in for a cluster's
    * `spark.task.maxFailures`, used by the chaos-retry gate.
    */
  def local(cpus: Int = 32, appName: String = "graft",
      taskRetries: Int = 1): SparkSession =
    finish(base(
      if (taskRetries > 1) s"local[$cpus,$taskRetries]" else s"local[$cpus]",
      appName)
      // shuffle/block-manager scratch on the fastest local device
      // (guide §2.1: shuffle-file latency is the tighter limit on
      // slow disks). See [[Scratch]] for the policy + measurements;
      // SPARK_GRAFT_SCRATCH overrides. Production: local NVMe.
      .config("spark.local.dir",
        Scratch.tempDir("spark-local-").toString)
      .config("spark.sql.shuffle.partitions", cpus.toString))

  /** Build a MULTI-PROCESS session: `local-cluster[workers, cores,
    * memMB]` starts a real standalone master + workers in this JVM and
    * each executor as a SEPARATE JVM — the closest a single machine
    * gets to cluster semantics. Everything local[N] hides is real
    * here: closures, custom exec nodes, codegen expression classes,
    * and optimizer-rule state all cross a process boundary through
    * Java serialization, and task results come back over the wire.
    *
    * Plumbing (all standard Spark knobs, no test-only behavior on the
    * data path): executors find the application classes via
    * `spark.testing`'s classpath forwarding (the same mechanism
    * Spark's own local-cluster suites use — a real cluster gets the
    * jar via `--jars`), and the worker writes its executor sandboxes
    * under a throwaway SPARK_HOME in java.io.tmpdir whose `jars/`
    * symlinks the real distribution.
    */
  def cluster(workers: Int = 2, coresPerWorker: Int = 8,
      workerMemMB: Int = 4096,
      appName: String = "graft-cluster",
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val fakeHome = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft-spark-home")
    java.nio.file.Files.createDirectories(fakeHome.resolve("conf"))
    // the launcher infers the Scala version from this marker dir when
    // SPARK_SCALA_VERSION is unset (test-home layout)
    java.nio.file.Files.createDirectories(
      fakeHome.resolve("launcher/target/scala-2.13"))
    val jarsLink = fakeHome.resolve("jars")
    if (!java.nio.file.Files.exists(jarsLink))
      java.nio.file.Files.createSymbolicLink(jarsLink,
        java.nio.file.Paths.get(sys.env.getOrElse("SPARK_HOME",
          "/opt/spark"), "jars"))
    System.setProperty("spark.testing", "true")
    System.setProperty("spark.test.home", fakeHome.toString)
    // JDK17 module opens for the executor JVMs (the driver gets them
    // from build.sbt javaOptions; spark-submit would inject both)
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")
    val builder = base(
        s"local-cluster[$workers,$coresPerWorker,$workerMemMB]", appName)
      .config("spark.executor.memory", s"${workerMemMB}m")
      .config("spark.executor.extraJavaOptions", addOpens)
      .config("spark.sql.shuffle.partitions",
        (workers * coresPerWorker).toString)
    extraConf.foreach { case (k, v) => builder.config(k, v) }
    finish(builder)
  }

  /** The builder every session starts from. It registers the fork-free
    * local file system ([[graft.io.ForkFreeRawLocalFileSystem]]) for
    * both Hadoop entry points: `FileSystem` (parquet writers, commit
    * protocol, listings) and `FileContext` (streaming offset and commit
    * logs, state-store files). Set here, before any caller conf, so a
    * caller's own `spark.hadoop.fs.file.impl` still wins.
    */
  private def base(master: String, appName: String): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.io.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.io.ForkFreeLocalFs].getName)

  private def finish(
      builder: SparkSession.Builder): SparkSession = {
    val spark = builder
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // NOTE deliberately NOT set: spark.sql.streaming.checkpointLocation.
      // A global base makes a NAMED query resume `$base/<name>` — a
      // second engine instance reusing a query name within one JVM
      // would resume the first's offsets (CausalOrderSpec caught this
      // against a MemoryStream). Implicit temp checkpoints instead
      // inherit the fast device through java.io.tmpdir (build.sbt),
      // which stays unique-per-start.
      // INT96 timestamps on write: DuckDB (the oracle) reads INT96 as
      // naive local time, matching its own TIMESTAMP literals; the
      // micros logical type would come back timezone-aware and fail
      // the hash compare.
      .config("spark.sql.parquet.outputTimestampType", "INT96")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // native engine functions (graft_hash56, graft_dotl) — same hook
    // a cluster gets via spark.sql.extensions=graft.functions.GraftExtensions
    graft.functions.GraftExtensions.registrations.foreach {
      case (ident, info, builder) =>
        spark.sessionState.functionRegistry.registerFunction(
          ident, info, builder)
    }
    // custom-operator tier (same hook a cluster gets via
    // spark.sql.extensions): the top-k strategy plans graft's logical
    // nodes; the rewrite rule collapses row_number()<=k windows into
    // them. Guarded for getOrCreate reuse.
    if (!spark.experimental.extraStrategies.contains(graft.plans.GraftStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.GraftStrategy
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.RewriteRankLimit))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RewriteRankLimit
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.MatviewRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.MatviewRewrite
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.FkJoinElimination))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.FkJoinElimination
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.EagerAggregation))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.EagerAggregation
    spark
  }
}
