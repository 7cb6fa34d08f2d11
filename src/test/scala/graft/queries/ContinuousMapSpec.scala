package graft.queries

import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration._

import graft.streaming.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The continuous-trigger query leaves a task slot free for the batch
  * reads that watch its drain, so it finishes on a small session too.
  */
class ContinuousMapSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  test("stC1_continuous_map drains on a local[4] session") {
    val s = spark
    import s.implicits._
    assert(s.sparkContext.defaultParallelism == 4)
    val run = Future(StreamingOps.queries("stC1_continuous_map")(s,
      "/root/testdata/sf0.001").collect().toSeq)(ExecutionContext.global)
    val got = try Await.result(run, 150.seconds)
    catch { case _: TimeoutException =>
      s.streams.active.foreach(_.stop())
      s.sparkContext.cancelAllJobs()
      fail("stC1_continuous_map did not finish within 150 s on local[4]")
    }
    // the batch scan of the same id space, aggregated the same way
    val want = s.read.format("graft-events").option("totalRows", "2000")
      .load()
      .filter($"event_type" === "purchase" && $"value" >= 50.0)
      .groupBy($"user_id")
      .agg(count(lit(1)), sum(round($"value" * 100).cast("long")))
      .orderBy($"user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), true)).toSeq
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getBoolean(3))) == want)
  }
}
