package perfbench

import org.apache.spark.sql.SparkSession

/** One workload in one JVM: set up, warm up, run whole rounds of the
  * workload's operations for the requested seconds, write `result.json`
  * (and, traced, `trace.json`) into the output directory.
  *
  * {{{
  * Main --workload pubsub|stream_drains|batch_queries --seconds S
  *      --trace 0|1 --data DIR --out DIR
  * }}}
  */
object Main {

  final case class Args(workload: String, seconds: Double, trace: Boolean,
      data: String, out: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seconds").toDouble,
      need("--trace") == "1", need("--data"), need("--out"))
  }

  /** Operations attempted and failed, with the first error of each. */
  final class Tally {
    var attempted = 0L
    var failed = 0L
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    /** Runs `body`; a throw counts as a failure and yields None. */
    def attempt[A](op: String)(body: => A): Option[A] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Throwable =>
          failed += 1
          if (!errors.contains(op)) errors(op) = s"${e.getClass.getName}: ${e.getMessage}"
          None
      }
    }

    def asMap: Map[String, Any] =
      Map("attempted" -> attempted, "failed" -> failed, "errors" -> errors)
  }

  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  /** JVM-wide (JIT compile ms, GC ms) since start. */
  def jvmWork(): (Long, Long) = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    (ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum)
  }

  /** Heap still in use after a full collection (MB): what the program
    * keeps, as opposed to what it allocates on the way.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** (steal, total) jiffies of all CPUs since boot, from /proc/stat.
    * Steal is time the host ran someone else on this machine's CPUs.
    */
  def cpuTicks(): (Long, Long) = {
    val f = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    val v = f.slice(1, 9).map(_.toLong)
    (v(7), v.sum)
  }

  /** Share of CPU time stolen by the host since `from`. */
  def stealSince(from: (Long, Long)): Double = {
    val (s, t) = cpuTicks()
    if (t > from._2) (s - from._1).toDouble / (t - from._2) else 0.0
  }

  /** Progress lines on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = {
    val up = System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"[perfbench ${up / 1000.0}%7.2f s] $msg")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val tracer = new Tracer(a.trace)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark: SparkSession = graft.GraftSession.local(cpus, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val inst = new Instruments(spark, a.trace)
    log("session up")
    val body = a.workload match {
      case "pubsub" => new PubSub(spark, inst, tracer, a).run()
      case "stream_drains" =>
        new QueryRounds(spark, inst, tracer, a, QueryRounds.Drains).run()
      case "batch_queries" =>
        new QueryRounds(spark, inst, tracer, a, QueryRounds.Batch).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    log("workload done")
    val result = body ++ Map("workload" -> a.workload, "cpus" -> cpus)
    Json.write(s"${a.out}/result.json", result)
    // the traced run's one artifact: its spans with everything it measured
    if (a.trace)
      Json.write(s"${a.out}/trace.json",
        Map("result" -> result, "spans" -> tracer.toJson))
    spark.stop()
  }
}
