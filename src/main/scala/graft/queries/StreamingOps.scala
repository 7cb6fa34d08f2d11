package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming operator surface (SURVEY §2.3 streaming rows),
  * exercised for real — `readStream` file source → watermark / windows
  * / stateful ops → sink → drained with `Trigger.AvailableNow` — and
  * still DuckDB-verifiable because each query's *final* result equals
  * a batch computation over the same input:
  *
  *   - st1: event-time tumbling window + watermark, complete mode;
  *   - st2: streaming exact dedup (`dropDuplicates` state store); only
  *     the deduped keys are emitted so the result is insensitive to
  *     which physical row won the race within a batch;
  *   - st3: stream-static broadcast join (the streaming enrichment
  *     pattern — dimension lookup never shuffles the stream);
  *   - st4: arbitrary stateful aggregation via `mapGroupsWithState`
  *     (per-key state survives across micro-batches); monotone outputs
  *     (count / integer-cents sum) make the final row per key
  *     well-defined under any batching.
  *
  * Scale notes (100 TB): the same topology runs unmodified with a
  * directory/Kafka source and parquet sinks — the memory sink here is
  * the test harness, not the design. Watermarks bound all state;
  * dropDuplicates state is keyed and watermark-evictable
  * (`dropDuplicatesWithinWatermark` in production); the stream-static
  * join broadcasts the dimension, so stream partitions never move.
  */
object StreamingOps extends QueryPack {

  private val runId = new AtomicInteger(0)

  /** Streaming view of the events table (ts arrives as nanos LONG —
    * same normalization as [[graft.Tables]]). The file streaming
    * source wants a *directory* to watch, so the single parquet file
    * is linked into a per-input temp dir (in production this is just
    * the landing directory new files arrive in).
    */
  private def eventStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.Tables.normalizeEventTs(tableStream(s, dir, "events"))
  }

  /** The /tmp dir of staged fixture `name` for input `dir`:
    * `/tmp/graft-<name>[-<graft.stage.ns>]-<dir, sanitized>`. The
    * namespace keeps a run's fixtures away from the shared ones —
    * ChaosRetrySpec sets it so failure-injection runs can never poison
    * the fixtures other suites (or a concurrently running Verify/Bench
    * JVM) read. The dir is keyed by the sanitized path itself, last: a
    * hash could collide across sf dirs and silently stream the wrong
    * dataset, and clean-up matches on that suffix.
    */
  private def stagePath(name: String, dir: String): String = {
    val ns = sys.props.get("graft.stage.ns").filter(_.nonEmpty)
      .map(n => s"-$n").getOrElse("")
    s"/tmp/graft-$name$ns-${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
  }

  /** Streaming view of any single-file parquet table under `dir` (the
    * file streaming source wants a *directory* to watch, so the file
    * is linked into a per-(dir, table) staging dir — in production
    * this is just the landing directory new files arrive in).
    */
  private[queries] def tableStream(s: SparkSession, dir: String,
      table: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(s"$dir/$table.parquet")
    val streamDir = Paths.get(stagePath(s"stream-$table", dir))
    Files.createDirectories(streamDir)
    val link = streamDir.resolve(s"$table.parquet")
    // a stale link (target regenerated/deleted) must be replaced, and
    // two sessions can race past the exists() check — treat
    // FileAlreadyExistsException as success-if-correct
    if (Files.isSymbolicLink(link) &&
        Files.readSymbolicLink(link) != src) Files.delete(link)
    if (!Files.exists(link)) {
      try Files.createSymbolicLink(link, src)
      catch {
        case _: java.nio.file.FileAlreadyExistsException
          if Files.isSymbolicLink(link) &&
            Files.readSymbolicLink(link) == src => ()
      }
    }
    val schema = s.read.parquet(src.toString).schema
    s.readStream.schema(schema).parquet(streamDir.toString)
  }

  /** Stage a deterministic multi-file parquet snapshot of `df` under
    * a /tmp dir keyed by (`tag`, input dir), guarded by a `_STAGED`
    * sentinel that only counts when the staged schema still matches
    * `df`'s — the sentinel alone can go stale: if the source data is
    * regenerated in place (e.g. the other events-ts vintage), the
    * staged files keep the old physical shape under a plan built from
    * the new source, and a bare-sentinel stager would serve it.
    * Split is by a stable key hash, not round-robin (which is
    * input-partitioning-dependent). Returns the stage dir, ready for
    * a `maxFilesPerTrigger=1` file-stream read. Exposed private[graft]
    * for StagedStreamSpec.
    */
  private[graft] def stageDeterministic(s: SparkSession, tag: String,
      dir: String, df: DataFrame, parts: Int,
      keys: Seq[org.apache.spark.sql.Column]): String = {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types.{Metadata, StructType}
    val stageDir = stagePath(tag, dir)
    val done = Paths.get(stageDir, "_STAGED")
    // parquet read-back normalizes nullability/metadata; compare
    // structurally (name + type) on both sides
    def norm(st: StructType): StructType = StructType(st.fields.map(f =>
      f.copy(nullable = true, metadata = Metadata.empty)))
    val schema = norm(df.schema)
    // The sentinel carries the staged ROW COUNT: a schema check reads
    // only footers, so a dir whose data pages were truncated by an
    // interrupted overwrite (e.g. two JVMs staging concurrently)
    // would pass forever and poison every later read. Verifying the
    // count touches every data page — corruption fails the check and
    // the next caller re-stages: self-healing instead of sticky.
    def staged: Boolean = Files.exists(done) && (
      try {
        val want = Files.readString(done).trim
        want.nonEmpty &&
          norm(s.read.parquet(stageDir).schema) == schema &&
          s.read.parquet(stageDir).count().toString == want
      } catch { case _: Throwable => false })
    if (!staged) synchronized {
      if (!staged) {
        Files.deleteIfExists(done)
        df.repartition(parts, keys: _*)
          .write.mode("overwrite").parquet(stageDir)
        val n = s.read.parquet(stageDir).count()
        Files.writeString(done, n.toString)
      }
    }
    stageDir
  }

  /** Multi-batch streaming view: the events table split once into
    * `parts` parquet files (staged per input dir), consumed one file
    * per trigger — so an AvailableNow drain runs `parts` genuine
    * incremental micro-batches instead of one. Used by the queries
    * that must demonstrate cross-batch state evolution (st11).
    */
  private def eventStreamMultiBatch(s: SparkSession, dir: String,
      parts: Int): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = s.read.parquet(s"$dir/events.parquet")
    val stageDir = stageDeterministic(s, s"stream-multi$parts", dir,
      src, parts, Seq(col("event_id")))
    graft.Tables.normalizeEventTs(
      s.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stageDir))
  }

  /** Multi-batch streaming view with CONTROLLED ARRIVAL ORDER: events
    * are split round-robin by global (ts, event_id) rank into `parts`
    * single-file slices whose modification times ascend with slice
    * index, so a `maxFilesPerTrigger=1` drain processes slice b as
    * micro-batch b exactly (FileStreamSource takes unseen files
    * oldest-mtime-first). Round-robin by time rank makes every batch
    * span the whole event-time range — the maximally-disordered
    * arrival a late-data harness wants: after batch 0 the stream's
    * event-time high-water mark is already near the global max, so
    * batches 1..n-1 carry genuinely late rows. The global sort runs
    * once at stage time over the harness-sized table (it is the test
    * fixture's disorder generator, not a production operator).
    */
  private def eventStreamOrderedRoundRobin(s: SparkSession, dir: String,
      parts: Int): DataFrame = {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    import org.apache.spark.sql.expressions.Window
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = s.read.parquet(s"$dir/events.parquet")
    val stageDir = stagePath(s"stream-rr$parts", dir)
    val done = Paths.get(stageDir, "_STAGED")
    // Same self-healing sentinel as stageDeterministic: the count in
    // the sentinel forces a full data-page read, so a dir corrupted by
    // an interrupted overwrite re-stages instead of failing forever.
    def staged: Boolean = Files.exists(done) && (
      try {
        val want = Files.readString(done).trim
        want.nonEmpty &&
          s.read.parquet(stageDir).schema.map(f => (f.name, f.dataType)) ==
            src.schema.map(f => (f.name, f.dataType)) &&
          s.read.parquet(stageDir).count().toString == want
      } catch { case _: Throwable => false })
    if (!staged) synchronized {
      if (!staged) {
        Files.deleteIfExists(done)
        val root = Paths.get(stageDir)
        if (Files.exists(root))
          root.toFile.listFiles().foreach(f =>
            if (f.isFile) f.delete()
            else org.apache.commons.io.FileUtils.deleteDirectory(f))
        Files.createDirectories(root)
        val ranked = src.withColumn("graft_rn",
          row_number().over(Window.orderBy(col("ts"), col("event_id")))
            - 1)
        for (b <- 0 until parts) {
          val tmp = s"$stageDir/_tmp_b$b"
          ranked.filter(col("graft_rn") % parts === b).drop("graft_rn")
            .coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(f => f.getName.startsWith("part-") &&
              f.getName.endsWith(".parquet")).get
          val dst = Paths.get(stageDir, f"b$b%02d.parquet")
          Files.move(part.toPath, dst)
          Files.setLastModifiedTime(dst,
            FileTime.fromMillis(1_600_000_000_000L + b * 60_000L))
          org.apache.commons.io.FileUtils
            .deleteDirectory(new java.io.File(tmp))
        }
        val n = s.read.parquet(stageDir).count()
        Files.writeString(done, n.toString)
      }
    }
    graft.Tables.normalizeEventTs(
      s.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stageDir))
  }

  /** Run a streaming DataFrame to a memory sink, drain with
    * AvailableNow, return the materialized table.
    *
    * Shuffle partitions are right-sized for the harness' state volume
    * while the query runs: streaming can't AQE-coalesce, and the count
    * chosen at the first batch is baked into the checkpoint — 32
    * partitions would mean 32 state-store instances per stateful
    * operator for kilobytes of state. A production deployment sizes
    * this to its key cardinality ONCE at query birth (state-store
    * count is the non-resizable knob in Structured Streaming).
    *
    * The set/restore mutates session-scoped conf, so queries in this
    * pack must not run concurrently within one session (Verify/Bench
    * are sequential; embedders running suites in parallel should give
    * each thread its own `spark.newSession()`).
    */
  private[queries] def drain(s: SparkSession, df: DataFrame,
      mode: OutputMode): DataFrame = {
    val name = s"graft_stream_${runId.incrementAndGet()}"
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(name)
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- streaming tumbling window + watermark --------------------------
    "st1_stream_tumbling" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val agg = eventStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast(DecimalType(18, 2))).cast("double")
            .as("total_value"))
      drain(s, agg, OutputMode.Complete())
        .select($"window.start".as("ws"), $"event_type", $"n", $"total_value")
        .orderBy($"ws", $"event_type")
    }),

    // -- streaming exact dedup (state-store backed) ---------------------
    "st2_stream_dedup_keys" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val deduped = eventStream(s, dir)
        .select($"user_id", $"event_type")
        .dropDuplicates("user_id", "event_type")
      drain(s, deduped, OutputMode.Append())
        .orderBy($"user_id", $"event_type")
    }),

    // -- stream-static broadcast join (enrichment) ----------------------
    "st3_stream_static_join" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val dim = broadcast(
        Tables(s, dir).customer.select($"c_custkey", $"c_mktsegment"))
      val joined = eventStream(s, dir)
        .filter($"event_type" === "purchase")
        .join(dim, $"user_id" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_purchases"),
          sum($"value".cast(DecimalType(18, 2))).cast("double")
            .as("total_value"))
      drain(s, joined, OutputMode.Complete())
        .orderBy($"c_mktsegment")
    }),

    // -- streaming sliding window (1h window / 15min slide) -------------
    "st5_stream_sliding" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val agg = eventStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n"),
          sum($"value".cast(DecimalType(18, 2))).cast("double")
            .as("total_value"))
      drain(s, agg, OutputMode.Complete())
        .select($"window.start".as("ws"), $"n", $"total_value")
        .orderBy($"ws")
    }),

    // -- stream-stream join with watermarks + time-bound condition ------
    // Both sides are streams; state is evictable because the join
    // condition bounds how far apart matching rows can be (the
    // watermark + range constraint Spark requires at scale).
    "st6_stream_stream_join" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val p = eventStream(s, dir).filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"event_id".as("p_id"),
          $"ts".as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val c = eventStream(s, dir).filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"event_id".as("c_id"),
          $"ts".as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val joined = p.join(c,
        $"p_user" === $"c_user" &&
        $"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR") && $"c_ts" < $"p_ts")
        .select($"p_id", $"c_id")
      drain(s, joined, OutputMode.Append())
        .orderBy($"p_id", $"c_id")
    }),

    // -- stream-stream LEFT OUTER join (watermark-gated null emission) --
    // Purchases left-joined to the clicks that preceded them within an
    // hour. Matched pairs emit like the inner join (st6); an UNMATCHED
    // purchase emits with a NULL click only once the watermark proves
    // no qualifying click can still arrive. With the single-batch
    // source the final watermark rests at min(max purchase ts, max
    // click ts) - 1h, so purchases above it stay in state forever and
    // never emit — the oracle encodes exactly that cutoff (this is the
    // documented outer-join semantics of Structured Streaming, not an
    // artifact: on an unbounded stream those rows WOULD emit when the
    // watermark passes them).
    "st12_stream_outer_join" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val p = eventStream(s, dir).filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"event_id".as("p_id"),
          $"ts".as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val c = eventStream(s, dir).filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"event_id".as("c_id"),
          $"ts".as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val joined = p.join(c,
        $"p_user" === $"c_user" &&
        $"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR") && $"c_ts" < $"p_ts",
        "left_outer")
        .select($"p_id", $"c_id")
      drain(s, joined, OutputMode.Append())
        .orderBy($"p_id", $"c_id".asc_nulls_first)
    }),

    // -- stream-stream FULL OUTER join (both unmatched faces) -----------
    // st12 with the click side's unmatched face added — the funnel
    // analysis that needs BOTH "purchases with no prior click" and
    // "clicks that converted to nothing" (the streaming sibling of
    // q33). Each side's null emission is gated by ITS OWN state
    // eviction bound, and the two bounds differ because the time-range
    // condition is asymmetric: a purchase can be matched only by
    // clicks in [p_ts − 1h, p_ts), so it leaves state (emitting its
    // null face) once the watermark passes p_ts; a click can be
    // matched only by purchases in (c_ts, c_ts + 1h], so it must
    // outwait the watermark passing c_ts + 1h. The oracle encodes
    // exactly those two cutoffs against the final watermark
    // (min of both sides' floored-ms max ts − 1h, st12's discipline);
    // unmatched rows above their cutoff stay in state and never emit,
    // the documented Structured Streaming outer-join semantics.
    "st31_stream_full_outer" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val p = eventStream(s, dir).filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"event_id".as("p_id"),
          $"ts".as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val c = eventStream(s, dir).filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"event_id".as("c_id"),
          $"ts".as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val joined = p.join(c,
        $"p_user" === $"c_user" &&
        $"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR") && $"c_ts" < $"p_ts",
        "full_outer")
        .select($"p_id", $"c_id")
      drain(s, joined, OutputMode.Append())
        .orderBy($"p_id".asc_nulls_first, $"c_id".asc_nulls_first)
    }),

    // -- stream-stream RIGHT OUTER join (the click-side face alone) -----
    // st31 restricted to the right face — the "clicks that converted
    // to nothing" report on its own, completing the outer-join family
    // (st6 inner, st12 left, st31 full, st34 right). Same state
    // machinery as st31: only the CLICK side's eviction bound gates
    // null emission — an unmatched click emits once the watermark
    // passes c_ts + 1h (no purchase in (c_ts, c_ts + 1h] can still
    // arrive); matched pairs emit as they meet. The purchase side
    // keeps no unmatched obligation, so its state evicts on the same
    // bound as the inner join — at scale right-outer is strictly
    // cheaper than full-outer when only one unmatched face is needed.
    "st34_stream_right_outer" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val p = eventStream(s, dir).filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"event_id".as("p_id"),
          $"ts".as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val c = eventStream(s, dir).filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"event_id".as("c_id"),
          $"ts".as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val joined = p.join(c,
        $"p_user" === $"c_user" &&
        $"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR") && $"c_ts" < $"p_ts",
        "right_outer")
        .select($"p_id", $"c_id")
      drain(s, joined, OutputMode.Append())
        .orderBy($"p_id".asc_nulls_first, $"c_id".asc_nulls_first)
    }),

    // -- stream-stream LEFT SEMI join (existence, not enumeration) ------
    // "Which purchases had at least one click in the preceding hour"
    // as EXISTENCE — the funnel-entry test answered without
    // enumerating pairs. Completes the stream-stream join family
    // (st6 inner, st12 left, st31 full, st34 right, st35 semi). Each
    // matched purchase emits EXACTLY ONCE no matter how many clicks
    // qualify or how the batches land (Spark emits the left row on
    // its first match and marks it done); unmatched purchases never
    // emit, so no face is watermark-gated and the drained set is
    // batching-independent — the oracle is a plain EXISTS. At scale
    // semi is strictly cheaper than inner-then-distinct: match fan-out
    // never leaves the state store, and the purchase side's state
    // drops a row the moment it matches instead of holding it for
    // the full eviction window.
    "st35_stream_semi_join" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val p = eventStream(s, dir).filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"event_id".as("p_id"),
          $"ts".as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val c = eventStream(s, dir).filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"event_id".as("c_id"),
          $"ts".as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val joined = p.join(c,
        $"p_user" === $"c_user" &&
        $"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR") && $"c_ts" < $"p_ts",
        "left_semi")
        .select($"p_id")
      drain(s, joined, OutputMode.Append())
        .orderBy($"p_id")
    }),

    // -- streaming CEP: e25's pattern with the pairing in-flight --------
    // The MATCH_RECOGNIZE pattern (view → ≥1 click → first purchase
    // within a day, NO intervening error) as a streaming job, split
    // the way a production CEP engine splits it: the STATE-HEAVY part
    // — pairing views with candidate purchases inside the one-day
    // window — runs as a watermarked stream-stream inner join whose
    // both state stores evict (the st6 machinery at a 1-day bound);
    // the first-match pick and the click/error guards are the
    // post-drain FINALIZE, computed against the landed event log (the
    // "consult history" step — guards need no join state because the
    // candidate set is already ≤ pairs-in-window). Drained under
    // AvailableNow nothing is dropped, so streaming ≡ batch
    // row-for-row: the oracle IS e25's, verbatim. State bound:
    // O(events-in-window) per side — the pattern window is the state
    // bound, exactly as in the batch spelling's join fan-out.
    "st36_stream_cep" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val v = eventStream(s, dir).filter($"event_type" === "view")
        .select($"user_id".as("v_user"), $"event_id".as("v_id"),
          $"ts".as("v_ts"))
        .withWatermark("v_ts", "25 hours")
      val p = eventStream(s, dir).filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"event_id".as("p_id"),
          $"ts".as("p_ts"))
        .withWatermark("p_ts", "25 hours")
      val pairs = drain(s,
        v.join(p, $"v_user" === $"p_user" &&
          $"p_ts" > $"v_ts" && $"p_ts" <= $"v_ts" + expr("INTERVAL 1 DAY"))
          .select($"v_user".as("user_id"), $"v_id", $"v_ts",
            $"p_id", $"p_ts"),
        OutputMode.Append())
      val firstP = pairs
        .withColumn("rk", row_number().over(
          Window.partitionBy($"user_id", $"v_id")
            .orderBy($"p_ts", $"p_id")))
        .filter($"rk" === 1)
        .select($"user_id", $"v_id", $"v_ts", $"p_ts", $"p_id")
      val ev = Tables(s, dir).events
      val c = ev.filter($"event_type" === "click")
        .select($"user_id", $"ts".as("c_ts"))
      val x = ev.filter($"event_type" === "error")
        .select($"user_id", $"ts".as("x_ts"))
      val matched = firstP
        .join(c, firstP("user_id") === c("user_id") &&
          $"c_ts" > $"v_ts" && $"c_ts" < $"p_ts", "left_semi")
        .join(x, firstP("user_id") === x("user_id") &&
          $"x_ts" > $"v_ts" && $"x_ts" < $"p_ts", "left_anti")
      val conv = matched.groupBy($"user_id")
        .agg(count(lit(1)).as("n_converted"),
          min(struct($"v_ts", $"v_id", $"p_id")).as("f"))
        .select($"user_id", $"n_converted",
          $"f.v_id".as("first_view"), $"f.p_id".as("first_purchase"))
      ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(count(lit(1)).as("n_views"))
        .join(conv, Seq("user_id"), "left")
        .select($"user_id", $"n_views",
          coalesce($"n_converted", lit(0L)).as("n_converted"),
          $"first_view", $"first_purchase")
        .orderBy($"user_id")
    }),

    // -- streaming CEP, fully in-flight: every stage a join ------------
    // st36 with NOTHING state-heavy left to finalize: the pairing
    // join, the FIRST-match pick, the click-exists guard and the
    // error-absent guard all run as watermarked stream-stream joins
    // in ONE continuous plan — the deployment st36's PLANS §70 names
    // as the last step. Four joins:
    //   1. pairing: view ⋈ purchase inside the one-day window (st6);
    //   2. first-pick: pairs LEFT OUTER purchases on (v_ts, p_ts],
    //      tie-broken by event id, FILTER match-side-null — i.e. the
    //      as-of argmin spelled as an ANTI join ("no earlier
    //      qualifying purchase exists"), which Spark can stream
    //      (native left_anti is the one stream-stream type it lacks;
    //      outer+IS NULL is the exact workaround: a pair with an
    //      earlier purchase emits only matched rows — filtered — and
    //      never a null face, a first pair emits exactly one);
    //   3. click guard: LEFT SEMI against clicks in (v_ts, p_ts)
    //      (st35's machinery — emits once on first match);
    //   4. error veto: LEFT OUTER against errors in (v_ts, p_ts),
    //      FILTER null — anti again.
    // Every join carries two-sided time bounds, so all EIGHT state
    // stores evict at the 1-day pattern window + 25 h delay — state
    // is O(events-in-window) per store, nothing grows with history.
    // Outer-join null faces only emit when the watermark PASSES the
    // pair's interval, so each typed source carries one far-future
    // sentinel row (distinct users, >1 day apart — they can never
    // pair or guard anything): the final watermark sweeps past every
    // real event and the trailing no-data batches flush every face.
    // Post-drain is STATELESS: the per-user conversion rollup and
    // zero-conversion completion (a batch report, not pattern state).
    // Drained under AvailableNow nothing drops, so the oracle is
    // e25's verbatim — first-pick-then-guard order preserved because
    // guard stages 3-4 run on the already-picked first pair.
    "st38_stream_cep_inflight" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val ev = Tables(s, dir).events
      // one staged dir per (type, role): real rows of that type plus
      // the role's sentinel, single file (one real batch + no-data
      // flush batches)
      def typed(t: String, role: String, u: String, i: String,
          ts: String, sentUser: Long, sentTs: String): DataFrame = {
        val rows = ev.filter($"event_type" === t)
          .select($"user_id".cast("long").as(u),
            $"event_id".cast("long").as(i), $"ts".as(ts))
        val sentinel = s.range(1).select(lit(sentUser).as(u),
          lit(-1L).as(i), to_timestamp(lit(sentTs)).as(ts))
        val staged = stageDeterministic(s, s"cep38-$role", dir,
          rows.unionByName(sentinel), 1, Seq(col(i)))
        s.readStream.schema(rows.schema).parquet(staged)
          .withWatermark(ts, "25 hours")
      }
      val v = typed("view", "v", "v_user", "v_id", "v_ts",
        -101L, "2100-01-01 00:00:00")
      val p = typed("purchase", "p", "p_user", "p_id", "p_ts",
        -102L, "2100-01-10 00:00:00")
      val q = typed("purchase", "q", "q_user", "q_id", "q_ts",
        -102L, "2100-01-10 00:00:00")
      val c = typed("click", "c", "c_user", "c_id", "c_ts",
        -103L, "2100-01-20 00:00:00")
      val x = typed("error", "x", "x_user", "x_id", "x_ts",
        -104L, "2100-01-30 00:00:00")
      // Spark allows ONE event-time column per stream into a stateful
      // operator, so after the pairing join v_ts sheds its watermark
      // metadata (p_ts carries the clock downstream) and every guard
      // condition adds the REDUNDANT bound it implies against p_ts
      // (v_ts ≥ p_ts − 1d, so t > v_ts ⇒ t > p_ts − 1d): the guard
      // joins stay two-sided-bounded on watermarked columns — the
      // st31 eviction shape — while the v_ts comparisons ride along
      // as plain filters.
      val noWm = org.apache.spark.sql.types.Metadata.empty
      val pairs = v.join(p,
        $"v_user" === $"p_user" &&
        $"p_ts" > $"v_ts" && $"p_ts" <= $"v_ts" + expr("INTERVAL 1 DAY"))
        .select($"v_user", $"v_id", $"v_ts".as("v_ts", noWm),
          $"p_id", $"p_ts")
      val first = pairs.join(q,
        $"v_user" === $"q_user" &&
        $"q_ts" > $"p_ts" - expr("INTERVAL 1 DAY") &&
        $"q_ts" <= $"p_ts" && $"q_ts" > $"v_ts" &&
        ($"q_ts" < $"p_ts" || $"q_id" < $"p_id"),
        "left_outer")
        .filter($"q_id".isNull)
        .select($"v_user", $"v_id", $"v_ts", $"p_id", $"p_ts")
      val clicked = first.join(c,
        $"v_user" === $"c_user" &&
        $"c_ts" > $"p_ts" - expr("INTERVAL 1 DAY") &&
        $"c_ts" < $"p_ts" && $"c_ts" > $"v_ts",
        "left_semi")
      val ok = clicked.join(x,
        $"v_user" === $"x_user" &&
        $"x_ts" > $"p_ts" - expr("INTERVAL 1 DAY") &&
        $"x_ts" < $"p_ts" && $"x_ts" > $"v_ts",
        "left_outer")
        .filter($"x_id".isNull)
        .select($"v_user".as("user_id"), $"v_id", $"v_ts", $"p_id")
      val drained = drain(s, ok, OutputMode.Append())
      val conv = drained.groupBy($"user_id")
        .agg(count(lit(1)).as("n_converted"),
          min(struct($"v_ts", $"v_id", $"p_id")).as("f"))
        .select($"user_id", $"n_converted",
          $"f.v_id".as("first_view"), $"f.p_id".as("first_purchase"))
      ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(count(lit(1)).as("n_views"))
        .join(conv, Seq("user_id"), "left")
        .select($"user_id", $"n_views",
          coalesce($"n_converted", lit(0L)).as("n_converted"),
          $"first_view", $"first_purchase")
        .orderBy($"user_id")
    }),

    // -- stream-stream AS-OF enrichment (the streaming face of x12) -----
    // Events enriched with the dimension version in effect at event
    // time, where the VERSIONED DIMENSION IS ITSELF A STREAM that
    // arrives late: the x06/x12 SCD2 dimension is staged as three
    // files drained one per trigger, so most events meet most of
    // their dimension versions in a LATER micro-batch. Spark has no
    // native streaming as-of join, so the spelling is the standard
    // two-phase one: (1) a stream-stream INNER join on the key with
    // `valid_from <= ts` — deliberately with no eviction bound, so no
    // pair can be watermark-dropped and the drained pair set is
    // BATCHING-INDEPENDENT (every qualifying (event, version) pair
    // emits exactly once, whenever the two sides meet); (2) a
    // post-drain latest-version pick (max valid_from per event — the
    // as-of backward pick of [[graft.operators.AsofJoin]], tie-free
    // because the dimension is collapsed per (key, valid_from) like
    // x12) plus a left completion so events preceding every version
    // keep x12's NULL semantics. The oracle is x12's batch as-of
    // verbatim — streaming and batch as-of must agree row-for-row.
    // At scale: this spelling is the EXACTNESS demo — neither input
    // declares a watermark, so Spark retains BOTH sides' join state
    // indefinitely (an arbitrarily-late version could still match any
    // buffered event). That is the price of exactness under unbounded
    // version lateness; the production deployment is st30, the
    // SLA-bounded sibling where watermarks on both inputs plus a
    // two-sided valid_from range let BOTH state stores evict.
    "st18_stream_asof_enrich" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      import java.nio.file.{Files, Paths}
      import org.apache.spark.sql.expressions.Window
      // the x12 dimension, built batch-side (row_number is not a
      // streaming op), collapsed to one version per (key, valid_from)
      val dimAll = Tables(s, dir).orders
        .filter($"o_custkey" <= 20)
        .select($"o_custkey".as("user_id"),
          $"o_orderdate".as("valid_from"), $"o_orderkey",
          $"o_orderstatus".as("status"))
        .withColumn("version", row_number().over(
          Window.partitionBy($"user_id")
            .orderBy($"valid_from", $"o_orderkey")))
      val dim = dimAll
        .withColumn("rk", row_number().over(
          Window.partitionBy($"user_id", $"valid_from")
            .orderBy($"version".desc)))
        .filter($"rk" === 1)
        .select($"user_id".as("d_user"), $"valid_from", $"version",
          $"status")
      // stage the dimension as a 3-file directory; one file per
      // trigger makes the versions genuinely late-arriving
      val stageDir = stageDeterministic(s, "stream-dimv", dir,
        dim, 3, Seq($"d_user"))
      val dimStream = s.readStream.schema(dim.schema)
        .option("maxFilesPerTrigger", "1").parquet(stageDir)
      val ev = eventStream(s, dir)
        .filter($"user_id" <= 20)
        .select($"event_id", $"user_id", $"ts")
      val pairs = drain(s,
        ev.join(dimStream,
          $"user_id" === $"d_user" && $"valid_from" <= $"ts")
          .select($"event_id", $"valid_from", $"version", $"status"),
        OutputMode.Append())
      // post-drain: as-of = the latest valid_from per event
      val picked = pairs
        .withColumn("rk", row_number().over(
          Window.partitionBy($"event_id").orderBy($"valid_from".desc)))
        .filter($"rk" === 1)
        .select($"event_id", $"version".as("dim_version"),
          $"status".as("dim_status"))
      Tables(s, dir).events
        .filter($"user_id" <= 20).select($"event_id", $"user_id")
        .join(picked, Seq("event_id"), "left")
        .groupBy($"user_id", $"dim_version", $"dim_status")
        .agg(count(lit(1)).as("n_events"))
        .orderBy($"user_id", $"dim_version")
    }),

    // -- SLA-bounded streaming as-of: st18 with evicting state ----------
    // The production sibling of st18. st18 buys exactness under
    // unbounded version lateness by keeping BOTH join state stores
    // forever; this query pays the honest price instead: an explicit
    // enrichment SLA. The dimension is a stream of per-user profile
    // versions (one per purchase day, derived from the events table
    // so versions and events share a time domain), the join condition
    // is TWO-SIDED — `valid_from BETWEEN ts - 7 days AND ts` — and
    // BOTH inputs declare `withWatermark`, which is exactly what
    // Spark's StreamingSymmetricHashJoin needs to compute a state
    // watermark for EACH side: an event row leaves state once no
    // version within its 7-day window can still arrive; a version row
    // leaves once no event within 7 days after it can. State bound:
    // O(versions in SLA + lateness) + O(events in SLA + lateness) —
    // a sliding window over both streams, never the full history
    // (PLANS §46). Semantics change with it: an event whose latest
    // version is older than the SLA enriches to NULL (the "profile
    // too stale to trust" answer), which the oracle spells as the
    // same two-sided range on the batch as-of pick. The lateness
    // delay (35 days) exceeds the corpus' 30-day span, so within the
    // harness no row is watermark-dropped and the drained pair set is
    // complete — the delay is the deployment's lateness-SLA knob, not
    // a correctness crutch; the 7-day range is what bounds state.
    "st30_stream_asof_sla" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      import java.nio.file.{Files, Paths}
      import org.apache.spark.sql.expressions.Window
      // profile versions: one per (user, purchase day), status from
      // that day's purchase count — built batch-side like st18's dim
      val dim = Tables(s, dir).events
        .filter($"user_id" <= 20 && $"event_type" === "purchase")
        .groupBy($"user_id", date_trunc("day", $"ts").as("valid_from"))
        .agg(count(lit(1)).as("n_purchases"))
        .withColumn("version", row_number().over(
          Window.partitionBy($"user_id").orderBy($"valid_from")))
        .select($"user_id".as("d_user"), $"valid_from", $"version",
          when($"n_purchases" >= 2, "multi").otherwise("single")
            .as("status"))
      // stage as a 3-file directory drained one file per trigger, so
      // versions genuinely arrive late relative to the events
      val stageDir = stageDeterministic(s, "stream-dimsla", dir,
        dim, 3, Seq($"d_user"))
      val dimStream = s.readStream.schema(dim.schema)
        .option("maxFilesPerTrigger", "1").parquet(stageDir)
        .withWatermark("valid_from", "35 days")
      val ev = eventStream(s, dir)
        .filter($"user_id" <= 20)
        .select($"event_id", $"user_id", $"ts")
        .withWatermark("ts", "35 days")
      val pairs = drain(s,
        ev.join(dimStream,
          $"user_id" === $"d_user" &&
          $"valid_from" <= $"ts" &&
          $"valid_from" >= $"ts" - expr("INTERVAL 7 DAYS"))
          .select($"event_id", $"valid_from", $"version", $"status"),
        OutputMode.Append())
      // post-drain as-of pick: latest in-SLA version per event
      val picked = pairs
        .withColumn("rk", row_number().over(
          Window.partitionBy($"event_id").orderBy($"valid_from".desc)))
        .filter($"rk" === 1)
        .select($"event_id", $"version".as("dim_version"),
          $"status".as("dim_status"))
      Tables(s, dir).events
        .filter($"user_id" <= 20).select($"event_id", $"user_id")
        .join(picked, Seq("event_id"), "left")
        .groupBy($"user_id", $"dim_version", $"dim_status")
        .agg(count(lit(1)).as("n_events"))
        .orderBy($"user_id", $"dim_version")
    }),

    // -- streaming session windows (gap-merged state) -------------------
    "st7_stream_session" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val agg = eventStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          sum($"value".cast(DecimalType(18, 2))).cast("double")
            .as("total_value"))
      drain(s, agg, OutputMode.Complete())
        .select($"user_id", $"sw.start".as("session_start"),
          $"sw.end".as("session_end"), $"n_events", $"total_value")
        .orderBy($"user_id", $"session_start")
    }),

    // -- flatMapGroupsWithState + EventTimeTimeout: session emission ----
    // Sessions (30-min gap, e11 semantics) assembled in per-user state
    // and emitted by WATERMARK TIMEOUT, not by data arrival: a session
    // leaves state only when the event-time watermark proves its gap
    // can no longer be bridged (end < watermark, Spark's strict firing
    // condition). Spark tracks the watermark in milliseconds (micros
    // are floor-divided), so the oracle's cutoff replicates
    // (max_ts_us // 1000 - 3_600_000) * 1000 exactly. Sessions still
    // open at the final watermark stay in state — same documented
    // semantics as st12's withheld outer rows.
    "st13_stream_timeout_sessions" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.GroupStateTimeout
      val gapUs = 1800000000L // 30 min in micros, same constant as e11
      def us(t: java.sql.Timestamp): Long = {
        val i = t.toInstant
        i.getEpochSecond * 1000000L + i.getNano / 1000L
      }
      def ts(u: Long): java.sql.Timestamp = java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(u / 1000000L, (u % 1000000L) * 1000L))
      val src = eventStream(s, dir)
        .withWatermark("ts", "1 hour")
        .select($"user_id", $"ts")
        .as[(Long, java.sql.Timestamp)]
      val sessions = src.groupByKey(_._1)
        .flatMapGroupsWithState[Seq[(Long, Long, Long)],
          (Long, java.sql.Timestamp, java.sql.Timestamp, Long)](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
          case (uid, rows, state) =>
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            // merge stored (start, last, n) sessions with the new
            // points, gap-joining anything closer than gapUs
            val pts = rows.map(r => (us(r._2), us(r._2), 1L)).toSeq
            val all = (state.getOption.getOrElse(Seq.empty) ++ pts)
              .sortBy(x => (x._1, x._2))
            val merged = all.foldLeft(List.empty[(Long, Long, Long)]) {
              case (h :: t, s0) if s0._1 - h._2 < gapUs =>
                (h._1, math.max(h._2, s0._2), h._3 + s0._3) :: t
              case (acc, s0) => s0 :: acc
            }.reverse
            val (done, open) = merged.partition(_._2 + gapUs < wmUs)
            if (open.isEmpty) state.remove()
            else {
              state.update(open)
              // floor-to-ms keeps the firing condition aligned with the
              // in-handler emission predicate (see header comment)
              state.setTimeoutTimestamp(math.max(
                state.getCurrentWatermarkMs() + 1,
                open.map(o => (o._2 + gapUs) / 1000L).min))
            }
            done.iterator.map(d => (uid, ts(d._1), ts(d._2 + gapUs), d._3))
        }
      drain(s, sessions.toDF(
          "user_id", "session_start", "session_end", "n_events"),
          OutputMode.Append())
        .orderBy($"user_id", $"session_start")
    }),

    // -- arbitrary stateful op: per-user running totals -----------------
    "st4_stream_stateful" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val src = eventStream(s, dir)
        .select($"user_id",
          expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"))
        .as[(Long, Long)]
      val updated = src.groupByKey(_._1)
        .mapGroupsWithState[(Long, Long), (Long, Long, Long)](
          GroupStateTimeout.NoTimeout) {
          case (uid, rows, state: GroupState[(Long, Long)]) =>
            val (n0, c0) = state.getOption.getOrElse((0L, 0L))
            var n = n0; var c = c0
            rows.foreach { r => n += 1; c += r._2 }
            state.update((n, c))
            (uid, n, c)
        }
        .toDF("user_id", "n_events", "total_cents")
      // monotone per-key outputs: the final value is the max over the
      // per-batch update rows, whatever the batching was
      drain(s, updated, OutputMode.Update())
        .groupBy($"user_id")
        .agg(max($"n_events").as("n_events"),
          max($"total_cents").as("total_cents"))
        .orderBy($"user_id")
    }),

    // -- transformWithState (Spark 4 arbitrary-state API) ---------------
    // Same running totals as st4 but on the operator Spark 4 positions
    // as the mapGroupsWithState successor: explicit typed state handles
    // (ValueState here; List/Map state and timers for richer ops),
    // RocksDB-backed so per-key state at 100 TB spills off-heap instead
    // of living in executor memory.
    "st8_transform_with_state" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val src = eventStream(s, dir)
          .select($"user_id",
            expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"))
          .as[(Long, Long)]
        val updated = src.groupByKey(_._1)
          .transformWithState(new RunningTotalsProcessor(),
            TimeMode.None(), OutputMode.Update())
          .toDF("user_id", "n_events", "total_cents")
        drain(s, updated, OutputMode.Update())
          .groupBy($"user_id")
          .agg(max($"n_events").as("n_events"),
            max($"total_cents").as("total_cents"))
          .orderBy($"user_id")
      } finally prev match {
        case Some(p) =>
          s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }),

    // -- transformWithState: ListState + event-time TIMERS --------------
    // The other half of the Spark 4 state API st8 doesn't touch: a
    // per-user journal accumulates in ListState and is flushed by an
    // event-time TIMER re-armed to 30 min after the user's newest
    // event — handleInputRows emits nothing; all output leaves through
    // handleExpiredTimer when the watermark passes the timer. Same
    // withheld-tail semantics as st13, expressed through timers
    // instead of GroupStateTimeout.
    "st14_tws_timers" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val src = eventStream(s, dir)
          .withWatermark("ts", "1 hour")
          .select($"user_id", unix_micros($"ts").as("ts_us"),
            expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"))
          .as[(Long, Long, Long)]
        val flushed = src.groupByKey(_._1)
          .transformWithState(new JournalFlushProcessor(),
            TimeMode.EventTime(), OutputMode.Append())
          .toDF("user_id", "n_events", "total_cents")
        drain(s, flushed, OutputMode.Append())
          .orderBy($"user_id")
      } finally prev match {
        case Some(p) =>
          s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }),

    // -- transformWithState: MapState (keyed sub-state per group) -------
    // Completes the Spark 4 typed-state surface (ValueState st8,
    // ListState+timers st14, MapState here): per user, a map
    // event_type -> count updated in place; each batch emits the
    // user's current map flattened, and the post-drain max() per
    // (user, type) is the final count — same monotone-output contract
    // as st8.
    "st15_tws_mapstate" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val src = eventStream(s, dir)
          .select($"user_id", $"event_type")
          .as[(Long, String)]
        val counts = src.groupByKey(_._1)
          .transformWithState(new TypeCountsProcessor(),
            TimeMode.None(), OutputMode.Update())
          .toDF("user_id", "event_type", "n")
        drain(s, counts, OutputMode.Update())
          .groupBy($"user_id", $"event_type")
          .agg(max($"n").as("n"))
          .orderBy($"user_id", $"event_type")
      } finally prev match {
        case Some(p) =>
          s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }),

    // -- transformWithState: bounded-heap streaming top-k ---------------
    // The streaming face of q32's native top-k: per user, the running
    // top-3 purchases live in ListState — state is O(k) per key FOREVER,
    // not O(events) (a collect-then-rank spelling grows without bound;
    // this is the continuous-leaderboard shape). Each batch merges its
    // rows into the bounded list and emits the current top-k; prefix
    // top-k lists only ever improve, so per (user, rank) the final
    // answer is the lexicographic max of (cents, -event_id) across
    // emissions — the same monotone-output contract as st8/st15, and
    // the post-drain pick makes the result batching-independent.
    "st21_stream_topk" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val src = eventStream(s, dir)
          .filter($"event_type" === "purchase")
          .select($"user_id",
            expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"),
            $"event_id")
          .as[(Long, Long, Long)]
        val top = src.groupByKey(_._1)
          .transformWithState(new TopKPurchasesProcessor(3),
            TimeMode.None(), OutputMode.Update())
          .toDF("user_id", "rank", "cents", "event_id")
        drain(s, top, OutputMode.Update())
          .groupBy($"user_id", $"rank")
          .agg(max(struct($"cents", (-$"event_id").as("neg_id"))).as("m"))
          .select($"user_id", $"rank", $"m.cents".as("cents"),
            (-$"m.neg_id").as("event_id"))
          .orderBy($"user_id", $"rank")
      } finally prev match {
        case Some(p) =>
          s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }),

    // -- stream union (the reference's merge, U3, as real streams) ------
    // Two independently-filtered streams over the source re-interleave
    // via union — the Spark form of `futures::stream::select`
    // (/root/reference/tests/event_test.rs:109-111); downstream order
    // is data (event_id), not arrival, per the engine's ordering rule.
    "st10_stream_union" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val purchases = eventStream(s, dir)
        .filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", lit("purchase").as("side"))
      val clicks = eventStream(s, dir)
        .filter($"event_type" === "click")
        .select($"event_id", $"user_id", lit("click").as("side"))
      val merged = purchases.unionByName(clicks)
        .groupBy($"side")
        .agg(count(lit(1)).as("n"), max($"event_id").as("max_id"))
      drain(s, merged, OutputMode.Complete())
        .orderBy($"side")
    }),

    // -- streaming count-min sketch: fixed state, unbounded keys --------
    // The streaming face of x09: per-key frequency tracking where the
    // keyspace is unbounded but state must not be. A per-key streaming
    // aggregate grows its state store with every new key forever; the
    // CMS keeps EXACTLY d×w = 4×64 = 256 counters no matter how many
    // distinct users arrive — each event increments one bucket per
    // hash row, and the count-per-bucket aggregate is map-side
    // combinable, so micro-batch increments merge associatively into
    // the store. Probing (min over the key's d buckets) happens
    // downstream of the drain; the portable hash makes the final
    // sketch bit-identical to the batch CMS the oracle computes.
    "st16_stream_cms" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val cms = graft.operators.Cms.build(
        eventStream(s, dir), $"user_id", d = 4, w = 64)
      drain(s, cms, OutputMode.Complete())
        .orderBy($"i", $"bucket")
    }),

    // -- streaming HLL daily sketches: distinct counts on a stream ------
    // The streaming face of x11: per-day DataSketches HLL built AS THE
    // STREAM ARRIVES (the sketch buffer is the aggregation state —
    // micro-batch partials merge associatively into the store), where
    // an exact streaming distinct would hold every key forever. The
    // drained estimates are checked against the batch-exact per-day
    // distincts with within-bound booleans (the x04 restatement
    // policy) — DuckDB reproduces day, exact and boolean bit-for-bit.
    "st17_stream_hll_daily" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val sk = eventStream(s, dir)
        .select($"user_id", date_trunc("day", $"ts").as("day"))
        .groupBy($"day")
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))")
          .as("est"))
      val est = drain(s, sk, OutputMode.Complete())
      val exact = Tables(s, dir).events
        .select($"user_id", date_trunc("day", $"ts").as("day"))
        .groupBy($"day").agg(countDistinct($"user_id").as("exact_nd"))
      est.join(exact, Seq("day"))
        .select($"day", $"exact_nd",
          (abs($"est" - $"exact_nd") <= $"exact_nd" * 0.05).as("est_ok"))
        .orderBy($"day")
    }),

    // -- streaming per-day quantile histograms (the x14 sketch live) ----
    // The quantile sibling of st17: per-(day, bucket) counts of the
    // LogHistogram sketch built AS THE STREAM ARRIVES — a plain
    // streaming count aggregate in Complete mode, because the sketch
    // IS just counts (micro-batch partials merge by addition, the
    // same property that lets x14 roll days into months). The
    // histogram is tiny (≤ octaves×k rows per day) where an exact
    // streaming percentile would buffer every value forever. Post-
    // drain, p50/p95 estimates come off the final histogram and are
    // restated per the x04 policy: exact rank-based percentiles plus
    // within-bound booleans (exact ≤ est ≤ exact·(k+1)/k), which
    // DuckDB reproduces bit-for-bit.
    "st19_stream_quantile_daily" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      import graft.operators.LogHistogram
      val K = 16
      val sk = eventStream(s, dir)
        .select(date_trunc("day", $"ts").as("day"),
          expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"))
        .filter($"cents" >= 1)
        .withColumn("bucket", LogHistogram.bucket("cents", K))
        .groupBy($"day", $"bucket")
        .agg(count(lit(1)).as("c"))
      val hist = drain(s, sk, OutputMode.Complete())
      val est = LogHistogram.estimateQuantiles(hist, Seq("day"), K,
        Seq(("p50_est", 1, 2), ("p95_est", 19, 20)))
      // the shared exact-plus-bound spelling (also x14's)
      LogHistogram.exactWithBounds(
        Tables(s, dir).events
          .select(date_trunc("day", $"ts").as("day"),
            expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"))
          .filter($"cents" >= 1),
        est, "day", K)
    }),

    // -- chained streaming aggregation (multiple stateful operators) ----
    // Window-over-window in ONE streaming query: 10-minute per-type
    // counts re-aggregated into hourly totals/peaks, both stateful
    // operators live in the same plan (`window($"window", ...)` — the
    // Spark 3.4+ chained-time-window surface, append mode required).
    // At 100 TB this is the shape that avoids materializing the
    // fine-grained tier: the 10-minute state evicts as the watermark
    // passes, the hourly tier consumes finalized windows in-flight,
    // and nothing lands on storage between them. Emission contract:
    // an hourly window flushes only once the watermark (max ts − 1 h,
    // floored to ms) passes its end — the oracle applies the same
    // cutoff, the st13 discipline.
    "st20_stream_chained_agg" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val tenMin = eventStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "10 minutes"), $"event_type")
        .agg(count(lit(1)).as("n10"))
      val hourly = tenMin
        .groupBy(window($"window", "1 hour"), $"event_type")
        .agg(sum($"n10").as("n"), max($"n10").as("peak10"),
          count(lit(1)).as("n_slots"))
      drain(s, hourly, OutputMode.Append())
        .select($"window.start".as("ws"), $"event_type",
          $"n", $"peak10", $"n_slots")
        .orderBy($"ws", $"event_type")
    }),

    // -- streaming upsert into a serving table (foreachBatch + MERGE) ---
    // The production pattern for "keep a queryable table current from a
    // stream": update-mode deltas (only keys whose aggregate changed
    // this batch, carrying cumulative values) merged per batch into a
    // PARQUET-BACKED serving table — the snapshot never touches the
    // driver, so the table scales with cluster storage, not driver
    // heap. Each batch reads the current snapshot path, runs
    // Upsert.merge, and writes the next version to a fresh path
    // (versioned paths sidestep overwrite-while-reading; a table
    // format's MERGE INTO plays this role in production). The input is
    // split into 4 files consumed one per trigger, so the merge
    // genuinely runs across multiple incremental micro-batches —
    // asserted, not assumed. Superseded snapshots are deleted as soon
    // as the next version is fully written (write v(n), THEN drop
    // v(n-1) — never the reverse, so a crash between the two steps
    // leaves a complete snapshot either way): the serving root holds
    // at most two versions at any instant instead of one copy per
    // micro-batch forever — asserted at drain.
    "st11_streaming_upsert" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val agg = eventStreamMultiBatch(s, dir, parts = 4)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(FLOOR(value * 100) AS BIGINT)")).as("total_cents"))
      val servingRoot = graft.Scratch.tempDir("graft-serving-").toString
      // only the current snapshot PATH lives on the driver — never rows
      var latest: Option[String] = None
      var batches = 0
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = agg.writeStream
          .outputMode(OutputMode.Update())
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
            val merged = latest match {
              case None => batch
              case Some(p) =>
                graft.operators.Upsert.merge(s.read.parquet(p), batch, "user_id")
            }
            val next = s"$servingRoot/v$batches"
            merged.write.mode("overwrite").parquet(next)
            // GC: the new snapshot is durable, the previous one is
            // garbage — drop it now so storage stays O(1) in batches
            latest.foreach { p =>
              val fs = new org.apache.hadoop.fs.Path(p)
              fs.getFileSystem(s.sparkContext.hadoopConfiguration)
                .delete(fs, true)
            }
            latest = Some(next)
            batches += 1
          }
          .start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      require(batches >= 4,
        s"expected >= 4 incremental micro-batches, saw $batches — the " +
          "multi-file split is not driving the trigger")
      val live = new java.io.File(servingRoot).listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("v"))
      require(live <= 2,
        s"snapshot GC failed: $live versions live under $servingRoot")
      s.read.parquet(latest.get).orderBy($"user_id")
    }),

    // -- streaming data-quality monitor: per-day rule violations --------
    // The streaming face of x20's audit (data observability): the
    // event stream carries its constraint checks as conditional
    // aggregates per day window — one streaming aggregate, rules
    // added as columns at zero extra passes — and the drained result
    // unpivots to the same (rule, n_checked, n_violations, pass) rows
    // a batch audit emits. The no_error_events rule genuinely FIRES
    // every day (the monitor's alert path); the other two pin the
    // pass path. At scale this is the always-on quality dashboard: a
    // windowed aggregate whose state is one row per (day, ruleset),
    // independent of event volume.
    "st23_stream_quality_monitor" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val agg = eventStream(s, dir)
        .groupBy(window($"ts", "1 day").as("w"))
        .agg(count(lit(1)).as("n_checked"),
          sum(when($"event_type" === "error", 1L).otherwise(0L))
            .as("v_err"),
          sum(when($"user_id".isNull, 1L).otherwise(0L)).as("v_usr"),
          sum(when($"value" < 0, 1L).otherwise(0L)).as("v_val"))
      drain(s, agg, OutputMode.Complete())
        .select($"w.start".as("day"), $"n_checked",
          expr("stack(3, 'no_error_events', v_err, " +
            "'user_id_present', v_usr, 'value_nonneg', v_val) " +
            "AS (rule, n_violations)"))
        .withColumn("pass", ($"n_violations" === 0L).cast("int"))
        .orderBy($"day", $"rule")
    }),

    // -- streaming governance monitor: windowed k-anonymity -------------
    // The streaming face of x21 (privacy audits run continuously, not
    // in nightly batches): per day window, events bucket into
    // quasi-identifier cells (event_type × user band) via one
    // watermarked streaming aggregate, and a CHAINED second aggregate
    // (the st20 machinery) rolls the cell sizes up to the x21 report —
    // cells, rows, sub-k cells, rows that suppression would drop, and
    // the worst cell size. Append mode: only watermark-finalized days
    // emit, and the oracle applies the same final-watermark cutoff as
    // st20. State at scale: one row per (day, cell) in flight — QI
    // cardinality, independent of event volume — then one row per day.
    "st27_stream_k_anonymity" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val k = 4
      val cells = eventStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 day"), $"event_type",
          ($"user_id" % 100).as("band"))
        .agg(count(lit(1)).as("n"))
      val report = cells
        .groupBy(window($"window", "1 day"))
        .agg(count(lit(1)).as("n_cells"),
          sum($"n").as("n_rows"),
          sum(when($"n" < k, 1L).otherwise(0L)).as("n_small_cells"),
          sum(when($"n" < k, $"n").otherwise(0L)).as("n_suppressed"),
          min($"n").as("min_cell_size"))
      drain(s, report, OutputMode.Append())
        .select($"window.start".as("day"), $"n_cells", $"n_rows",
          $"n_small_cells", $"n_suppressed", $"min_cell_size")
        .orderBy($"day")
    }),

    // -- streaming trending: recency-weighted heavy hitters -------------
    // The "what's hot" ranking every feed runs: per-day activity
    // counts (ONE watermarked streaming aggregate — state is
    // keys × live days, the epoch histogram) scored post-drain with
    // exponential recency weights. The decay is spelled EXACTLY:
    // weight = 2^min(day − firstDay, 62) as an integer shiftleft, so
    // newer days dominate older ones in a way both engines reproduce
    // bit-for-bit (floats would make the ranking engine-dependent).
    // The 62 clamp keeps the shift in BIGINT range on ANY input —
    // beyond it Spark masks the shift amount mod 64 while DuckDB
    // does not, so an unclamped spelling would silently diverge on
    // data spanning 63+ finalized days (days beyond the clamp all
    // saturate at the same maximal weight, preserving the ranking
    // intent: newest-first).
    // The epoch-count state is the re-aggregatable form: ANY decay
    // constant can be applied at read time without touching the
    // stream, which is why production decayed counters store epochs,
    // not decayed scalars. Append mode + the st20 watermark cutoff;
    // the min-day scalar joins via broadcast (x16's pattern), never a
    // driver collect.
    // -- streaming extrema rollup: x32's monotone fold, per batch -------
    // The streaming face of x32's matview maintenance and the
    // inserts-only counterpart of x26's deletable extrema: a served
    // per-event_type rollup carrying BOTH additive measures
    // (count/sum — st28's mergeAdditive territory) and extrema
    // (min/max), maintained by re-aggregating snapshot ∪ batch-rollup
    // partials each micro-batch. Under inserts MIN/MAX fold monotone
    // (min-of-mins / max-of-maxes), so the merge is one 4+4-row
    // aggregate per batch, the base stream is never replayed, and the
    // result is batching-independent by combinability — the oracle is
    // the flat rollup over all events. Snapshot versions GC'd to ≤2
    // (st28's serving discipline); ≥4 genuine micro-batches required.
    "st37_stream_extrema_rollup" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val raw = eventStreamMultiBatch(s, dir, parts = 4)
        .select($"event_type",
          expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"))
      val servingRoot = graft.Scratch.tempDir("graft-extrema-").toString
      var latest: Option[String] = None
      var batches = 0
      // foreachBatch can re-deliver a batchId after a task retry, and
      // this merge is NOT idempotent (the delta would fold into the
      // snapshot twice). The standard exactly-once discipline: record
      // the last applied batchId alongside the snapshot — here the
      // snapshot path itself carries it (v<batchId>) — and skip any
      // batchId already applied. (A restartable deployment would
      // recover `latest`/`lastApplied` by listing servingRoot.)
      var lastApplied = -1L
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = raw.writeStream
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
              if (batchId > lastApplied) {
                val delta = batch.groupBy($"event_type")
                  .agg(count(lit(1)).as("n_events"),
                    sum($"cents").as("total_cents"),
                    min($"cents").as("min_cents"),
                    max($"cents").as("max_cents"))
                val merged = latest match {
                  case None => delta
                  case Some(p) => s.read.parquet(p).unionByName(delta)
                    .groupBy($"event_type")
                    .agg(sum($"n_events").as("n_events"),
                      sum($"total_cents").as("total_cents"),
                      min($"min_cents").as("min_cents"),
                      max($"max_cents").as("max_cents"))
                }
                val next = s"$servingRoot/v$batchId"
                merged.write.mode("overwrite").parquet(next)
                latest.foreach { p =>
                  val fs = new org.apache.hadoop.fs.Path(p)
                  fs.getFileSystem(s.sparkContext.hadoopConfiguration)
                    .delete(fs, true)
                }
                latest = Some(next)
                lastApplied = batchId
                batches += 1
              }
          }
          .start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      require(batches >= 4,
        s"expected >= 4 incremental micro-batches, saw $batches — the " +
          "multi-file split is not driving the trigger")
      val live = new java.io.File(servingRoot).listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("v"))
      require(live <= 2,
        s"snapshot GC failed: $live versions live under $servingRoot")
      s.read.parquet(latest.get)
        .select($"event_type", $"n_events".cast("long").as("n_events"),
          $"total_cents".cast("long").as("total_cents"),
          $"min_cents", $"max_cents")
        .orderBy($"event_type")
    }),

    // -- streaming peak concurrency: dirty-partition invalidation -------
    // The streaming face of e29, and a serving-loop pattern the
    // additive/monotonic/extrema family cannot express: a per-day
    // PEAK is neither additive (you cannot fold a delta in) nor
    // decomposable per row — but it IS recomputable per PARTITION,
    // and a micro-batch only dirties the days it touches. The loop
    // keeps two tables in the snapshot: `sessions` (per (user, day)
    // [min ts, max ts] — a MONOTONIC min/max merge, st26's
    // discipline) and `peaks` (per day). Each batch: merge the
    // batch's session deltas, mark the batch's days dirty, re-run the
    // e29 sweep over ONLY the dirty days' sessions, and serve
    // untouched days' peaks unchanged (left_anti on the dirty set).
    // Work per batch is O(sessions of touched days), not O(history) —
    // at 100 TB with a year of history and a minutes-wide batch, the
    // sweep touches one or two day-partitions out of 365. Replays are
    // guarded by the st37 batchId discipline (the peak rewrite is not
    // idempotent-free: the session merge is, the dirty-day selection
    // is not). Final state hash-matches the batch oracle exactly.
    "st42_stream_peak_concurrency" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val raw = eventStreamMultiBatch(s, dir, parts = 4)
        .select($"user_id", $"ts", to_date($"ts").as("day"))
      val servingRoot = graft.Scratch.tempDir("graft-conc-").toString
      var latest: Option[String] = None
      var lastApplied = -1L
      var batches = 0
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = raw.writeStream
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
              if (batchId > lastApplied) {
                val bs = batch.groupBy($"user_id", $"day")
                  .agg(min($"ts").as("s"), max($"ts").as("e"))
                val sessions = latest match {
                  case None => bs
                  case Some(p) => s.read.parquet(s"$p/sessions")
                    .unionByName(bs)
                    .groupBy($"user_id", $"day")
                    .agg(min($"s").as("s"), max($"e").as("e"))
                }
                val dirty = bs.select($"day").distinct()
                val sweepW = org.apache.spark.sql.expressions.Window
                  .partitionBy($"day")
                  .orderBy($"t".asc, $"delta".desc)
                  .rowsBetween(
                    org.apache.spark.sql.expressions.Window
                      .unboundedPreceding,
                    org.apache.spark.sql.expressions.Window.currentRow)
                val swept = sessions
                  .join(broadcast(dirty), Seq("day"), "left_semi")
                  .select($"day", explode(array(
                    struct($"s".as("t"), lit(1L).as("delta")),
                    struct($"e".as("t"), lit(-1L).as("delta")))).as("ev"))
                  .select($"day", $"ev.t".as("t"), $"ev.delta".as("delta"))
                  .withColumn("conc", sum($"delta").over(sweepW))
                  .filter($"delta" === 1L)
                  .groupBy($"day")
                  .agg(max($"conc").as("peak_concurrent"),
                    count(lit(1)).as("n_sessions"))
                val peaks = latest match {
                  case None => swept
                  case Some(p) => s.read.parquet(s"$p/peaks")
                    .join(broadcast(dirty), Seq("day"), "left_anti")
                    .unionByName(swept)
                }
                val next = s"$servingRoot/v$batchId"
                sessions.write.mode("overwrite")
                  .parquet(s"$next/sessions")
                peaks.write.mode("overwrite").parquet(s"$next/peaks")
                latest.foreach { p =>
                  val fs = new org.apache.hadoop.fs.Path(p)
                  fs.getFileSystem(s.sparkContext.hadoopConfiguration)
                    .delete(fs, true)
                }
                latest = Some(next)
                lastApplied = batchId
                batches += 1
              }
          }
          .start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      require(batches >= 4,
        s"expected >= 4 incremental micro-batches, saw $batches — the " +
          "multi-file split is not driving the trigger")
      val live = new java.io.File(servingRoot).listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("v"))
      require(live <= 2,
        s"snapshot GC failed: $live versions live under $servingRoot")
      s.read.parquet(s"${latest.get}/peaks")
        .select($"day",
          $"peak_concurrent".cast("long").as("peak_concurrent"),
          $"n_sessions".cast("long").as("n_sessions"))
        .orderBy($"day")
    }),

    // -- streaming temporal (SCD2) enrichment ---------------------------
    // The versioned-dimension enrich loop every warehouse stream runs:
    // each micro-batch of events is point-in-time joined against the
    // SCD2 dimension (x06/x12's backward as-of: which version was in
    // effect AT EVENT TIME — never the current row), and the enriched
    // counts fold additively into the serving snapshot. Stream-static
    // as-of is a shape Spark's stream-stream join cannot express
    // (the static side has no watermark); inside foreachBatch it is
    // just the batch AsofJoin — union+window, one shuffle, no range
    // cross-product. The dimension is built once and checkpointed
    // outside the loop (at scale: the dim table re-read per batch,
    // the standard slowly-changing pattern); the fold is additive
    // counts, so the st37 batchId guard makes replays exact. Events
    // before a user's first version keep NULL dim columns — left
    // semantics, the auditability requirement.
    "st43_stream_temporal_enrich" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val keyW = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id")
        .orderBy($"valid_from", $"o_orderkey")
      val dim = Tables(s, dir).orders
        .filter($"o_custkey" <= 20)
        .select($"o_custkey".as("user_id"),
          $"o_orderdate".as("valid_from"), $"o_orderkey",
          $"o_orderstatus".as("status"))
        .withColumn("version", row_number().over(keyW))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"user_id", $"valid_from")
            .orderBy($"version".desc)))
        .filter($"rk" === 1)
        .select($"user_id", $"valid_from", $"version", $"status")
        .localCheckpoint(true)
      val raw = eventStreamMultiBatch(s, dir, parts = 4)
        .filter($"user_id" <= 20)
        .select($"user_id", $"ts")
      val servingRoot = graft.Scratch.tempDir("graft-scd2-").toString
      var latest: Option[String] = None
      var lastApplied = -1L
      var batches = 0
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = raw.writeStream
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
              if (batchId > lastApplied) {
                val delta = graft.operators.AsofJoin.asofBackward(
                    batch, dim,
                    on = Seq("user_id"), leftTs = "ts",
                    rightTs = "valid_from",
                    pick = Seq("version" -> "dim_version",
                      "status" -> "dim_status"))
                  .groupBy($"user_id", $"dim_version", $"dim_status")
                  .agg(count(lit(1)).as("n_events"))
                val merged = latest match {
                  case None => delta
                  case Some(p) => s.read.parquet(p).unionByName(delta)
                    .groupBy($"user_id", $"dim_version", $"dim_status")
                    .agg(sum($"n_events").as("n_events"))
                }
                val next = s"$servingRoot/v$batchId"
                merged.write.mode("overwrite").parquet(next)
                latest.foreach { p =>
                  val fs = new org.apache.hadoop.fs.Path(p)
                  fs.getFileSystem(s.sparkContext.hadoopConfiguration)
                    .delete(fs, true)
                }
                latest = Some(next)
                lastApplied = batchId
                batches += 1
              }
          }
          .start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      require(batches >= 4,
        s"expected >= 4 incremental micro-batches, saw $batches — the " +
          "multi-file split is not driving the trigger")
      s.read.parquet(latest.get)
        .select($"user_id", $"dim_version".cast("int").as("dim_version"),
          $"dim_status", $"n_events".cast("long").as("n_events"))
        .orderBy($"user_id", $"dim_version")
    }),

    // -- streaming heavy hitters: the custom aggregate in the state store
    // x35's Misra–Gries TypedImperativeAggregate running INSIDE a
    // streaming aggregation: the summary's serialized buffer (≤ k−1
    // counters) IS the state-store row, merged incrementally across
    // micro-batches — constant state per group where a streaming
    // per-key count would grow with cardinality. The drain computes
    // BOTH the summary and the exact per-key counts from the same
    // multi-batch stream, and the output emits the x35 policy: exact
    // counts for guaranteed-heavy keys plus the guarantee predicates
    // (provably TRUE under any batch split — the theorems hold for
    // any merge tree, and micro-batching IS a merge tree). This is
    // the proof the custom-aggregate tier survives the state-store
    // serialization path, not just batch shuffles.
    // -- exactly-once streaming SINK into the manifest table ------------
    // st45's dual: the stream WRITES the table. Each micro-batch
    // appends its rows as one manifest commit stamped with a txn
    // marker (Delta's txn action, keyed by batchId); the first batch
    // bootstraps v1. Every batch ALSO re-appends with the same marker
    // — a simulated foreachBatch redelivery — and the duplicate MUST
    // be a log-level no-op (same version returned, no files written),
    // which the oracle's exact totals prove. This is the storage-side
    // idempotence story: the guard lives in the COMMIT LOG, not in
    // driver memory, so it survives a driver restart too.
    "st46_stream_manifest_sink" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      import graft.operators.ManifestTable
      val work = graft.Scratch.tempDir("graft-sink-").toString + "/t"
      val src = eventStreamMultiBatch(s, dir, parts = 4)
        .select($"event_type",
          expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"))
      var batches = 0L
      var dupNoop = true
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = src.writeStream
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
              if (!batch.isEmpty) {
                val marker = s"st46:$batchId"
                val v1 = ManifestTable.append(s, work, batch,
                  txn = Some(marker))
                // simulated redelivery: same batch, same marker — the
                // log must return the SAME version and write nothing
                val v2 = ManifestTable.append(s, work, batch,
                  txn = Some(marker))
                batches += 1
                dupNoop &&= v2 == v1 &&
                  ManifestTable.versions(s, work).size == batches
              }
          }
          .start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      require(batches >= 4,
        s"expected >= 4 incremental micro-batches, saw $batches")
      ManifestTable.read(s, work)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
        .withColumn("n_versions", lit(batches))
        .withColumn("redelivery_noop", lit(dupNoop))
        .orderBy($"event_type")
    }),

    // -- exactly-once manifest sink via writeStream.format(...) ---------
    // st46's contract through the FRONT DOOR: the registered
    // StreamSinkProvider turns each micro-batch into one manifest
    // commit stamped with a (checkpoint, batchId) txn marker. The
    // drain runs TWICE against the same checkpoint — the second run
    // replans from committed offsets and must write NOTHING — and a
    // recorded batch-0 marker is re-appended manually (simulated
    // crash-window redelivery) and must be a log-level no-op. The
    // final table equals the staged input exactly: one version per
    // non-empty batch, no row written twice.
    "st48_stream_format_sink" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      import graft.operators.ManifestTable
      val root = graft.Scratch.tempDir("graft-fsink-").toString
      val work = s"$root/t"
      val staged = eventStreamMultiBatch(s, dir, parts = 4)
        .select($"event_type",
          expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"))
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        def drainOnce(): Unit = {
          val q = staged.writeStream.format("graft-manifest")
            .option("path", work)
            .option("checkpointLocation", s"$root/ckpt")
            .outputMode(OutputMode.Append())
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drainOnce()
        val versionsAfterFirst = ManifestTable.versions(s, work).size
        drainOnce() // restart, same checkpoint: nothing new to write
        val secondRunNoop =
          ManifestTable.versions(s, work).size == versionsAfterFirst
        // crash-window redelivery of batch 0's marker
        val snap = ManifestTable.snapshot(s, work)
        val marker = snap.txns.keys.find(_.endsWith(":0"))
        val before = ManifestTable.read(s, work).count()
        val redeliveryNoop = marker.exists { m =>
          ManifestTable.append(s, work,
            staged.sparkSession.read.parquet(snap.paths.head), // any rows
            txn = Some(m)) == ManifestTable.txnVersion(s, work, m).get &&
            ManifestTable.read(s, work).count() == before
        }
        ManifestTable.read(s, work)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
          .withColumn("n_versions", lit(versionsAfterFirst.toLong))
          .withColumn("second_run_noop", lit(secondRunNoop))
          .withColumn("redelivery_noop", lit(redeliveryNoop))
          .orderBy($"event_type")
          .collect().toSeq
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getBoolean(4), r.getBoolean(5)))
          .toDF("event_type", "n_rows", "sum_cents", "n_versions",
            "second_run_noop", "redelivery_noop")
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prev)
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(root))
      }
    }),

    // -- st49: streaming MERGE INTO the manifest table -------------------
    // The Delta streaming-upsert shape: a CDC changelog drains through
    // foreachBatch, each micro-batch MERGEs into the versioned manifest
    // table through ManifestTable.mergeCommit (last-writer-wins on the
    // epoch column, st22's semantics) stamped with a txn marker keyed
    // by (checkpoint, batchId) — so a RESTART with the same checkpoint
    // writes nothing, and a crash-window REDELIVERY of a committed
    // batch is a log-level no-op (st48's idempotence contract, now for
    // upserts, not just appends). The serving table is transactional:
    // concurrent readers see whole versions, never a half-applied
    // batch.
    "st49_stream_merge_manifest" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      import graft.operators.ManifestTable
      val changelog = Tables(s, dir).events
        .groupBy(expr("CAST((dayofmonth(ts) - 1) div 8 AS INT)")
          .as("epoch"), $"user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(FLOOR(value * 100) AS BIGINT)")).as("total_cents"))
        .select($"epoch", $"user_id",
          when($"user_id" % 13 === $"epoch", "D").otherwise("U").as("op"),
          $"n_events", $"total_cents")
      val stageDir = stageDeterministic(s, "smerge-stage", dir,
        changelog, 4, Seq($"user_id", $"epoch"))
      val schema = s.read.parquet(stageDir).schema
      val root = graft.Scratch.tempDir("graft-smerge-").toString
      val work = s"$root/t"
      val ckpt = s"$root/ckpt"
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        // CREATE TABLE first: every batch is then a MERGE, including
        // the first (its target is the empty v1 snapshot)
        ManifestTable.createEmpty(s, work, schema)
        def drainOnce(): Unit = {
          val q = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(stageDir)
            .writeStream
            .outputMode(OutputMode.Append())
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ckpt)
            .foreachBatch {
              (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
                ManifestTable.mergeCommit(s, work,
                  cur => graft.operators.Upsert
                    .mergeVersioned(cur, batch.toDF(), "user_id", "epoch"),
                  txn = Some(s"merge:$ckpt:$batchId"))
                ()
            }
            .start()
          q.awaitTermination()
        }
        drainOnce()
        val versionsAfter = ManifestTable.versions(s, work).size
        require(versionsAfter >= 5, // create + >=4 merge batches
          s"expected >= 4 merge micro-batches, saw ${versionsAfter - 1}")
        drainOnce() // restart, same checkpoint: nothing to re-merge
        val secondRunNoop =
          ManifestTable.versions(s, work).size == versionsAfter
        // crash-window redelivery of an already-committed batch marker
        val snap = ManifestTable.snapshot(s, work)
        val (marker, markerV) = snap.txns.maxBy(_._2)
        val before = ManifestTable.read(s, work).count()
        val redeliveryNoop =
          ManifestTable.mergeCommit(s, work, cur => cur.limit(0),
            txn = Some(marker)) == markerV &&
            ManifestTable.read(s, work).count() == before
        // materialize before the finally block drops the table dir
        ManifestTable.read(s, work).filter($"op" =!= "D")
          .select($"user_id", $"epoch".as("last_epoch"),
            $"n_events", $"total_cents")
          .orderBy($"user_id")
          .collect().toSeq
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
            r.getLong(3), secondRunNoop, redeliveryNoop))
          .toDF("user_id", "last_epoch", "n_events", "total_cents",
            "second_run_noop", "redelivery_noop")
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prev)
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(root))
      }
    }),

    // -- st50: the streaming CHANGE FEED through the front door ----------
    // Delta's CDF streaming source: readStream.format("graft-manifest")
    // .option("readChangeFeed", true) delivers the row-level feed —
    // _change_type/_commit_version columns, MOR deletes as position-
    // diff 'delete' rows — with version offsets in the checkpoint, so
    // a second drain against the same checkpoint delivers ONLY the
    // versions committed since (incremental tailing, exactly-once) and
    // a third delivers nothing. The union of the drains must equal the
    // batch changeFeedRows row-for-row: one feed, batch or stream.
    "st50_stream_cdf_source" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      import graft.operators.ManifestTable
      val root = graft.Scratch.tempDir("graft-scdf-").toString
      val work = s"$root/t"
      val ckpt = s"$root/ckpt"
      val t = Tables(s, dir).orders.select($"o_orderkey".as("k"),
        $"o_orderstatus".as("st"),
        floor($"o_totalprice" * 100).cast("long").as("cents"))
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        ManifestTable.create(s, work,
          t.filter($"k" % 2 === 0).repartition(3))           // v1 insert
        // each micro-batch folds to its per-(version, type) signature
        // (count, sum, order-independent hash sums) — the drained
        // state is O(versions), never O(feed rows) on the driver
        def sigOf(df: DataFrame) = df.groupBy(
            $"_commit_version", $"_change_type")
          .agg(count(lit(1)).as("n"), sum($"cents").as("c"),
            sum(xxhash64($"k", $"st", $"cents").cast("decimal(38,0)"))
              .cast("string").as("h1"),
            sum(crc32(concat_ws("|", $"k", $"st", $"cents"))).as("h2"))
          .collect().map(r => (r.getInt(0), r.getString(1)) ->
            (r.getLong(2), r.getLong(3), BigInt(r.getString(4)),
              r.getLong(5)))
        val acc = scala.collection.mutable
          .Map[(Int, String), (Long, Long, BigInt, Long)]()
        def drainOnce(): Seq[Int] = {
          val seen = scala.collection.mutable
            .ArrayBuffer[((Int, String), (Long, Long, BigInt, Long))]()
          val q = s.readStream.format("graft-manifest")
            .option("readChangeFeed", "true").load(work)
            .writeStream
            .outputMode(OutputMode.Append())
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ckpt)
            .foreachBatch {
              (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
                val part = sigOf(batch.toDF())
                seen.synchronized { seen ++= part }
                ()
            }
            .start()
          q.awaitTermination()
          seen.foreach { case (k, v) =>
            val p = acc.getOrElse(k, (0L, 0L, BigInt(0), 0L))
            acc(k) = (p._1 + v._1, p._2 + v._2, p._3 + v._3, p._4 + v._4)
          }
          seen.map(_._1._1).distinct.sorted.toSeq
        }
        val d1 = drainOnce()                                 // {1}
        ManifestTable.append(s, work,
          t.filter($"k" % 2 === 1).repartition(2))           // v2 insert
        ManifestTable.deleteRowsMor(s, work,
          $"st" === "F" && $"k" % 2 === 0)                   // v3 MOR delete
        val d2 = drainOnce()                                 // {2, 3} only
        val d3 = drainOnce()                                 // {} — no-op
        val incremental =
          d1 == Seq(1) && d2 == Seq(2, 3) && d3.isEmpty
        val batchFeed = ManifestTable.changeFeedRows(s, work, 0,
          ManifestTable.versions(s, work).last)
        // drained union ≡ batch feed, by per-(version, type) signature
        val matches = acc.toMap == sigOf(batchFeed).toMap
        acc.toSeq
          .map { case ((_, tpe), (n, c, _, _)) => (tpe, n, c) }
          .groupBy(_._1).toSeq
          .map { case (tpe, xs) =>
            (tpe, xs.map(_._2).sum, xs.map(_._3).sum,
              incremental, matches) }
          .sortBy(_._1)
          .toDF("change_type", "n_rows", "sum_cents",
            "incremental_tail", "matches_batch_feed")
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prev)
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(root))
      }
    }),

    // -- st51: THROTTLED backfill through the front door ------------------
    // Delta's maxFilesPerTrigger knob, spelled on the version-offset
    // source: maxVersionsPerTrigger=1 makes a 4-version log drain as
    // FOUR bounded micro-batches instead of one giant one — the knob
    // that keeps a 100 TB backfill from admitting the whole history
    // into a single batch's shuffle. The drained union must equal the
    // table exactly (batching-independence is the contract; the batch
    // count proves the throttle actually throttled).
    "st51_stream_throttled_backfill" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      import graft.operators.ManifestTable
      val root = graft.Scratch.tempDir("graft-throttle-").toString
      val work = s"$root/t"
      val t = Tables(s, dir).orders.select($"o_orderkey".as("k"),
        $"o_orderstatus".as("st"),
        floor($"o_totalprice" * 100).cast("long").as("cents"))
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        ManifestTable.create(s, work, t.filter($"k" % 4 === 0))  // v1
        (1 to 3).foreach(i =>
          ManifestTable.append(s, work, t.filter($"k" % 4 === i)))
        val nVersions = ManifestTable.versions(s, work).size
        // each micro-batch folds to per-status aggregates + a global
        // content signature — driver state is O(statuses), not O(rows)
        def sigOf(df: DataFrame) = df.groupBy($"st")
          .agg(count(lit(1)).as("n"), sum($"cents").as("c"),
            sum(xxhash64($"k", $"st", $"cents").cast("decimal(38,0)"))
              .cast("string").as("h1"),
            sum(crc32(concat_ws("|", $"k", $"st", $"cents"))).as("h2"))
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(2), BigInt(r.getString(3)),
              r.getLong(4)))
        val acc = scala.collection.mutable
          .Map[String, (Long, Long, BigInt, Long)]()
        var batches = 0
        val q = s.readStream.format("graft-manifest")
          .option("maxVersionsPerTrigger", "1").load(work)
          .writeStream
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$root/ckpt")
          .foreachBatch {
            (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
              val part = sigOf(batch.toDF())
              acc.synchronized {
                if (part.nonEmpty) batches += 1
                part.foreach { case (k, v) =>
                  val p = acc.getOrElse(k, (0L, 0L, BigInt(0), 0L))
                  acc(k) =
                    (p._1 + v._1, p._2 + v._2, p._3 + v._3, p._4 + v._4)
                }
              }
              ()
          }
          .start()
        q.awaitTermination()
        val throttled = batches == nVersions && nVersions == 4
        val matchesTable =
          acc.toMap == sigOf(ManifestTable.read(s, work)).toMap
        acc.toSeq
          .map { case (st, (n, c, _, _)) =>
            (st, n, c, throttled, matchesTable) }
          .sortBy(_._1)
          .toDF("st", "n_rows", "sum_cents", "one_version_per_batch",
            "matches_table")
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prev)
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(root))
      }
    }),

    // -- change-feed tail of the x37 manifest table ---------------------
    // The Delta streaming-source shape: the COMMIT LOG is the stream.
    // Four versions are committed (create, append, COMPACTION, append),
    // then a file stream tails _manifests (wholetext, one manifest per
    // micro-batch — zero-padded names make file order = commit order).
    // Each batch parses its manifests and reads ONLY the files the
    // version ADDED (the delta-action log names them directly — no
    // file-set diffing; paths are table-relative, resolved against
    // the table dir), folding their aggregate additively into a
    // parquet serving snapshot. The
    // compaction version changes files but not content (manifest's
    // compaction=true, Delta's dataChange=false) — the tail MUST skip
    // it or every compacted row double-counts; that skip is what the
    // oracle's exact totals prove. Idempotence guard is the VERSION
    // number (not batchId): a redelivered manifest re-parses to an
    // already-applied version and is a no-op.
    "st45_stream_table_tail" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      import graft.operators.ManifestTable
      val root = graft.Scratch.tempDir("graft-tail-").toString
      val work = s"$root/table"
      val t = Tables(s, dir).orders.select($"o_orderkey",
        ($"o_orderkey" % 3).as("m"),
        floor($"o_totalprice" * 100).cast("long").as("cents"))
      def slice(m: Int) = t.filter($"m" === m)
      ManifestTable.create(s, work, slice(0).repartition(4))
      ManifestTable.append(s, work, slice(1).repartition(4))
      ManifestTable.compactCommit(s, work, targetBytes = 32L << 20)
      ManifestTable.append(s, work, slice(2).repartition(4))

      var lastApplied = 0
      var dataVersions = 0L
      var compactionsSkipped = 0L
      var latest: Option[String] = None
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = s.readStream.format("text")
          .option("wholetext", "true")
          .option("maxFilesPerTrigger", "1")
          .load(s"$work/_manifests")
          .writeStream
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
              // manifests are O(#files) METADATA — collecting them is
              // the driver-side planning every table format does
              val snaps = batch.collect().map(r =>
                ManifestTable.parseManifest(r.getString(0)))
                .sortBy(_.version)
              snaps.filter(_.version > lastApplied).foreach { snap =>
                if (snap.compaction) compactionsSkipped += 1
                else {
                  // log paths are table-relative (the table is
                  // relocatable); resolve against the table dir
                  val added = snap.paths
                    .map(p => ManifestTable.resolvePath(work, p))
                  val delta = s.read.parquet(added: _*)
                    .groupBy($"m")
                    .agg(count(lit(1)).as("n_rows"),
                      sum($"cents").as("sum_cents"))
                  val merged = latest match {
                    case None => delta
                    case Some(p) => graft.operators.IncrementalAgg
                      .mergeAdditive(s.read.parquet(p), delta, Seq("m"))
                  }
                  val next = s"$root/serve-v${snap.version}"
                  merged.write.mode("overwrite").parquet(next)
                  latest.foreach { p =>
                    val fp = new org.apache.hadoop.fs.Path(p)
                    fp.getFileSystem(s.sparkContext.hadoopConfiguration)
                      .delete(fp, true)
                  }
                  latest = Some(next)
                  dataVersions += 1
                }
                lastApplied = snap.version
              }
          }
          .start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      require(compactionsSkipped == 1,
        s"expected exactly 1 compaction version, saw $compactionsSkipped")
      s.read.parquet(latest.get)
        .select($"m", $"n_rows", $"sum_cents",
          lit(dataVersions).as("n_data_versions"),
          lit(compactionsSkipped).as("n_compactions_skipped"))
        .orderBy($"m")
    }),

    // -- manifest table as a STREAMING SOURCE via the DSv2 front door ---
    // st45's rule spelled the way a Delta user spells it:
    // spark.readStream.format("graft-manifest") tails the commit log
    // with VERSION offsets — each micro-batch reads exactly the files
    // its data versions added through the native parquet path, and
    // the compaction version (dataChange=false) contributes nothing,
    // or every compacted row would double-count. The drained
    // aggregate must equal the table's exact totals — one oracle
    // shape shared with st45, proving the file-tail spelling and the
    // front-door spelling compute the same change feed.
    "st47_stream_format_tail" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      import graft.operators.ManifestTable
      val root = graft.Scratch.tempDir("graft-fmt-tail-").toString
      val work = s"$root/table"
      val t = Tables(s, dir).orders.select($"o_orderkey",
        ($"o_orderkey" % 3).as("m"),
        floor($"o_totalprice" * 100).cast("long").as("cents"))
      def slice(m: Int) = t.filter($"m" === m)
      try {
        ManifestTable.create(s, work, slice(0).repartition(4))
        ManifestTable.append(s, work, slice(1).repartition(4))
        ManifestTable.compactCommit(s, work, targetBytes = 32L << 20)
        ManifestTable.append(s, work, slice(2).repartition(4))
        val feed = s.readStream.format("graft-manifest").load(work)
        drain(s, feed.groupBy($"m")
            .agg(count(lit(1)).as("n_rows"),
              sum($"cents").as("sum_cents")),
            OutputMode.Complete())
          .orderBy($"m")
          .collect().toSeq
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toDF("m", "n_rows", "sum_cents")
      } finally {
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(root))
      }
    }),

    // -- CONTINUOUS trigger end-to-end (R13's third execution mode) -----
    // EventGenSource implements ContinuousStream; this runs it as a
    // QUERY: Trigger.Continuous epochs over long-lived striped
    // readers, map-only transforms (the mode supports projection/
    // selection only — aggregation is micro-batch's job), memory
    // sink. The finite id space drains, parked stripes stay quiet,
    // and the oracle independently replays the generator's pure
    // row function (h = id * 2654435761) in SQL — drain equivalence:
    // continuous delivery produced exactly the batch answer, no
    // drops, no duplicates across however many epochs the drain took.
    "stC1_continuous_map" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val name = s"stc1_sink_${java.util.UUID.randomUUID().toString.take(8)}"
      val ckpt = graft.Scratch.tempDir("graft-stc1-").toString
      def shaped(df: org.apache.spark.sql.DataFrame) = df
        .filter($"event_type" === "purchase" && $"value" >= 50.0)
        .select($"event_id", $"user_id",
          round($"value" * 100).cast("long").as("cents"))
      val q = shaped(s.readStream.format("graft-events")
          .option("totalRows", "2000").option("numPartitions", "4").load())
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.Continuous("200 milliseconds"))
        .start()
      // the batch scan of the same id space is the drain target
      val want = shaped(s.read.format("graft-events")
        .option("totalRows", "2000").load()).count()
      val got = try {
        val deadline = System.nanoTime() + 120L * 1000L * 1000 * 1000
        var n = -1L
        while (n < want && System.nanoTime() < deadline) {
          Thread.sleep(200)
          n = s.table(name).count()
        }
        val rows = s.table(name)
        val exactlyOnce = rows.count() == want &&
          rows.select($"event_id").distinct().count() == want
        rows.groupBy($"user_id")
          .agg(count(lit(1)).as("n_purchases"),
            sum($"cents").as("sum_cents"))
          .withColumn("exactly_once", lit(exactlyOnce))
          .orderBy($"user_id")
          .collect().toSeq
      } finally {
        q.stop()
        s.catalog.dropTempView(name)
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(ckpt))
      }
      got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3)))
        .toDF("user_id", "n_purchases", "sum_cents", "exactly_once")
    }),

    "st44_stream_heavy_hitters" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val keyed = eventStreamMultiBatch(s, dir, parts = 4)
        .select(expr(
          """CAST(CASE WHEN event_id % 2 = 0 THEN 0
            |     WHEN event_id % 4 = 1 THEN 1
            |     ELSE 2 + event_id % 50 END AS BIGINT)""".stripMargin)
          .as("key"))
      val summ = drain(s,
          keyed.groupBy()
            .agg(graft.functions.MisraGries.summary($"key", 16).as("s")),
          OutputMode.Complete())
        .select(explode($"s.counters").as(Seq("key", "est")))
        .localCheckpoint(true)
      val exact = drain(s,
          keyed.groupBy($"key").agg(count(lit(1)).as("exact_cnt")),
          OutputMode.Complete())
        .localCheckpoint(true)
      val tot = exact.agg(sum($"exact_cnt").as("n"))
      exact.crossJoin(broadcast(tot))
        .filter($"exact_cnt" * 16 > $"n")
        .join(summ.hint("SHUFFLE_HASH"), Seq("key"), "left_outer")
        .select($"key", $"exact_cnt",
          $"est".isNotNull.cast("long").as("found"),
          ($"est".isNotNull && $"est" <= $"exact_cnt").cast("long")
            .as("upper_ok"),
          ($"est".isNotNull &&
            $"est" * 16 >= $"exact_cnt" * 16 - $"n").cast("long")
            .as("lower_ok"))
        .orderBy($"key")
    }),

    "st29_stream_trending" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val daily = eventStream(s, dir)
        .filter($"user_id".isNotNull)
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 day"), $"user_id")
        .agg(count(lit(1)).as("n"))
      val drained = drain(s, daily, OutputMode.Append())
        .select($"window.start".as("day"), $"user_id", $"n")
      val m = drained.agg(min($"day").as("d0"))
      drained.crossJoin(broadcast(m))
        .withColumn("age", datediff($"day", $"d0"))
        .groupBy($"user_id")
        .agg(sum(expr("n * shiftleft(CAST(1 AS BIGINT), least(age, 62))"))
          .as("score"),
          sum($"n").as("n_events"))
        .orderBy($"score".desc, $"user_id")
        .limit(10)
    }),

    // -- streaming ANN serving: per-event nearest neighbor --------------
    // The real-time personalization shape: each purchase event looks
    // up its user's embedding (user_id mod 500 keys the vector dim —
    // a stand-in for a profile-embedding lookup), probes the STATIC
    // sign-bucket LSH index (the s02 layout) for same-bucket
    // candidates, and emits the single nearest corpus vector by exact
    // integer dot. Both dimension frames broadcast, so the stream
    // never shuffles until the final per-event argmax — at production
    // scale the bucketed corpus is the partition-pruned ANN index and
    // the argmax state is one struct per in-flight event. The
    // lexicographic struct-max (dot, -neighbor_id) makes ties
    // deterministic under any batching; singleton-bucket events drop
    // via inner-join semantics, which the oracle mirrors.
    "st24_stream_ann_serving" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      import graft.operators.VectorSearch
      val emb = VectorSearch.signBucket(
        VectorSearch.quantize(Tables(s, dir).embeddings, "embedding"),
        "embedding", bits = 8)
      val qdim = broadcast(emb.select($"vec_id".as("qvec"),
        $"eq".as("qe"), $"bucket"))
      val corpus = broadcast(emb.select($"vec_id".as("neighbor_id"),
        $"eq".as("ce"), $"bucket"))
      val served = eventStream(s, dir)
        .filter($"event_type" === "purchase")
        .withColumn("qvec", $"user_id" % 500)
        .join(qdim, Seq("qvec"))
        .join(corpus, Seq("bucket"))
        .filter($"neighbor_id" =!= $"qvec")
        .withColumn("dot", expr("graft_dotl(qe, ce)"))
        .groupBy($"event_id", $"user_id", $"qvec")
        .agg(max(struct($"dot", (-$"neighbor_id").as("negid")))
          .as("best"))
      drain(s, served, OutputMode.Complete())
        .select($"event_id", $"user_id", $"qvec",
          (-$"best.negid").as("nn_id"), $"best.dot".as("dot"))
        .orderBy($"event_id")
    }),

    // -- streaming contamination guard: d08 at ingest time --------------
    // The streaming face of d08: documents ARRIVING (the landing
    // directory a crawler drops into) are checked against the STATIC
    // eval split's 5-shingle set before they ever reach the training
    // corpus — contamination caught at ingest, not in a nightly
    // batch. Per-row shingling is stateless ([[graft.operators
    // .TextDedup.shingleHashes]] — `array_distinct` makes each doc's
    // shingles unique BEFORE the join, so a plain streaming count per
    // doc equals d08's countDistinct without unsupported-in-streaming
    // distinct aggregation); the eval set joins as a broadcast
    // stream-static join (the stream never shuffles); the per-doc
    // count is the only stateful op. The per-source rollup and the
    // source lookup run post-drain on the materialized hits — tiny by
    // then. Same split discipline as d08 (row-local hash: train
    // b < 800, test b ≥ 900), so the two queries pin each other.
    "st25_stream_contamination" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      import graft.operators.{Sampling, TextDedup}
      val w = Seq("train" -> 800, "val" -> 100, "test" -> 100)
      val docs = Tables(s, dir).documents
      val evalSh = broadcast(
        TextDedup.shingleHashes(
          docs.filter(Sampling.splitColumn($"doc_id", w) === "test"),
          "doc_id", "text", n = 5)
          .select($"h").distinct())
      val hits = TextDedup.shingleHashes(
        tableStream(s, dir, "documents")
          .filter(Sampling.splitColumn($"doc_id", w) === "train"),
        "doc_id", "text", n = 5)
        .join(evalSh, Seq("h"))
        .groupBy($"id".as("doc_id"))
        .agg(count(lit(1)).as("n_shared"))
      drain(s, hits, OutputMode.Complete())
        .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs_contaminated"),
          sum($"n_shared").as("n_shared_total"),
          max($"n_shared").as("max_shared"))
        .orderBy($"source")
    }),

    // -- streaming monotonic view maintenance: x13 live -----------------
    // The streaming face of x10/x13: a serving table of per-user
    // (count, sum, min, max) maintained WITHOUT any streaming state
    // at all. The stream stays stateless; each micro-batch is
    // partially aggregated batch-side inside foreachBatch (the
    // map-side-combine of a 100 TB pipeline, one tiny frame per
    // batch) and folded into the parquet snapshot by
    // [[graft.operators.IncrementalAgg.mergeMonotonic]] — add for
    // count/sum, least/greatest for min/max, all associative-
    // commutative, so the drained result is batching-independent and
    // equals the one-shot batch aggregate the oracle computes. The
    // base snapshot is never rescanned (one full-outer key join per
    // batch against the DELTA only) and the serving dir keeps O(1)
    // snapshots via the st11 GC discipline. Contrast st11: that
    // query demonstrates Spark's own stateful Update-mode aggregate
    // with replace-merge; this one moves the state out of the engine
    // into the snapshot, the shape you choose when the key space is
    // too large to hold in a state store.
    "st26_stream_monotonic_view" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val raw = eventStreamMultiBatch(s, dir, parts = 4)
        .select($"user_id",
          expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"))
      val servingRoot = graft.Scratch.tempDir("graft-monoview-").toString
      var latest: Option[String] = None
      var batches = 0
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = raw.writeStream
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
              val delta = batch.groupBy($"user_id")
                .agg(count(lit(1)).as("n_events"),
                  sum($"cents").as("total_cents"),
                  min($"cents").as("min_cents"),
                  max($"cents").as("max_cents"))
              val merged = latest match {
                case None => delta
                case Some(p) => graft.operators.IncrementalAgg
                  .mergeMonotonic(s.read.parquet(p), delta,
                    keys = Seq("user_id"),
                    addCols = Seq("n_events", "total_cents"),
                    minCols = Seq("min_cents"), maxCols = Seq("max_cents"))
              }
              val next = s"$servingRoot/v$batches"
              merged.write.mode("overwrite").parquet(next)
              latest.foreach { p =>
                val fs = new org.apache.hadoop.fs.Path(p)
                fs.getFileSystem(s.sparkContext.hadoopConfiguration)
                  .delete(fs, true)
              }
              latest = Some(next)
              batches += 1
          }
          .start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      require(batches >= 4,
        s"expected >= 4 incremental micro-batches, saw $batches — the " +
          "multi-file split is not driving the trigger")
      val live = new java.io.File(servingRoot).listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("v"))
      require(live <= 2,
        s"snapshot GC failed: $live versions live under $servingRoot")
      s.read.parquet(latest.get).orderBy($"user_id")
    }),

    // -- streaming join-view maintenance: x27's stream face -------------
    // The enrichment half of the x27 delta-join decomposition run
    // continuously: the dimension is static, so each micro-batch's
    // view delta is exactly ΔA⋈B — the batch's events broadcast-join
    // the customer dim, aggregate to the view key, and fold into the
    // parquet-backed serving view through the same additive merge
    // (the st26 serving-loop machinery: versioned snapshots, write
    // v(n) THEN drop v(n-1), O(1) storage asserted at drain). The
    // view is never rescanned and the dim is never re-joined against
    // old events; a dimension THAT CHANGES is st18's stream-stream
    // territory. Oracle: the full batch recompute of the join view —
    // incremental ≡ rescan, hash-checked, batching-independent.
    "st28_stream_join_view" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val dim = broadcast(Tables(s, dir).customer
        .select($"c_custkey".as("user_id"), $"c_mktsegment"))
      val raw = eventStreamMultiBatch(s, dir, parts = 4)
        .select($"user_id", $"event_type",
          expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"))
      val servingRoot = graft.Scratch.tempDir("graft-joinview-").toString
      var latest: Option[String] = None
      var batches = 0
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = raw.writeStream
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
              val delta = batch.join(dim, Seq("user_id"))
                .groupBy($"c_mktsegment", $"event_type")
                .agg(count(lit(1)).as("n_events"),
                  sum($"cents").as("total_cents"))
              val merged = latest match {
                case None => delta
                case Some(p) => graft.operators.IncrementalAgg
                  .mergeAdditive(s.read.parquet(p), delta,
                    keys = Seq("c_mktsegment", "event_type"))
              }
              val next = s"$servingRoot/v$batches"
              merged.write.mode("overwrite").parquet(next)
              latest.foreach { p =>
                val fs = new org.apache.hadoop.fs.Path(p)
                fs.getFileSystem(s.sparkContext.hadoopConfiguration)
                  .delete(fs, true)
              }
              latest = Some(next)
              batches += 1
          }
          .start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      require(batches >= 4,
        s"expected >= 4 incremental micro-batches, saw $batches — the " +
          "multi-file split is not driving the trigger")
      val live = new java.io.File(servingRoot).listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("v"))
      require(live <= 2,
        s"snapshot GC failed: $live versions live under $servingRoot")
      s.read.parquet(latest.get)
        .orderBy($"c_mktsegment", $"event_type")
    }),

    // -- streaming eager aggregation: partials BEFORE the broadcast -----
    // x31's Yan–Larson license carried to the st3/st28 stream-static
    // enrichment shape: each micro-batch is PRE-AGGREGATED by the
    // join key (user_id) into (n, cents) partials BEFORE the
    // broadcast dimension join, so the join and everything after it
    // see |active users in batch| rows instead of |events in batch| —
    // exact for the same reason x31 is (inner equi-join duplicates a
    // pre-aggregated key group exactly as each of its rows; the
    // segment rollup re-associates the partials). The measured
    // reduction is REQUIRED in-op, st28-style: across the drain the
    // partial rows must be ≤ 2/3 of the batch rows, or the eager step
    // isn't paying for itself. At 100 TB this is the difference
    // between broadcast-probing every event and probing once per
    // (batch, user): the probe side of a streaming enrichment is the
    // hot loop, and the partial aggregate is a map-side combine the
    // planner cannot inject by itself because the rollup happens
    // AFTER the join. Oracle: the plain (un-eager) spelling.
    "st39_stream_eager_agg" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val dim = broadcast(Tables(s, dir).customer
        .select($"c_custkey".as("user_id"), $"c_mktsegment"))
      val raw = eventStreamMultiBatch(s, dir, parts = 4)
        .select($"user_id", expr("CAST(FLOOR(value * 100) AS BIGINT)")
          .as("cents"))
      val servingRoot = graft.Scratch.tempDir("graft-steager-").toString
      var latest: Option[String] = None
      var batches = 0
      var lastApplied = -1L
      var totBatchRows = 0L
      var totPartialRows = 0L
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = raw.writeStream
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
              // st37/st40's idempotence discipline: mergeAdditive is
              // NOT idempotent, so a foreachBatch redelivery after a
              // task retry must be a no-op, guarded by batchId
              if (batchId > lastApplied) {
                val partial = batch.groupBy($"user_id")
                  .agg(count(lit(1)).as("n"), sum($"cents").as("c"))
                  .persist()
                try {
                  totBatchRows += batch.count()
                  totPartialRows += partial.count()
                  val delta = partial.join(dim, Seq("user_id"))
                    .groupBy($"c_mktsegment")
                    .agg(sum($"n").as("n_events"),
                      sum($"c").as("total_cents"))
                  val merged = latest match {
                    case None => delta
                    case Some(p) => graft.operators.IncrementalAgg
                      .mergeAdditive(s.read.parquet(p), delta,
                        keys = Seq("c_mktsegment"))
                  }
                  val next = s"$servingRoot/v$batchId"
                  merged.write.mode("overwrite").parquet(next)
                  latest.foreach { p =>
                    val fs = new org.apache.hadoop.fs.Path(p)
                    fs.getFileSystem(s.sparkContext.hadoopConfiguration)
                      .delete(fs, true)
                  }
                  latest = Some(next)
                  lastApplied = batchId
                  batches += 1
                } finally partial.unpersist(blocking = false)
              }
          }
          .start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      require(batches >= 4,
        s"expected >= 4 incremental micro-batches, saw $batches")
      require(totPartialRows * 3 <= totBatchRows * 2,
        s"eager partials did not shrink the probe: $totPartialRows " +
          s"partials for $totBatchRows batch rows (need >= 1.5x)")
      s.read.parquet(latest.get)
        .select($"c_mktsegment", $"n_events".cast("long").as("n_events"),
          $"total_cents".cast("long").as("total_cents"))
        .orderBy($"c_mktsegment")
    }),

    // -- streaming WARC ingestion: the front door runs continuously -----
    // c16's Common Crawl shape as the job it actually is in
    // production: archives LAND continuously and the curation funnel
    // ingests them per micro-batch. The staged archive set (binary
    // payloads, 4 files drained one per trigger) streams through
    // foreachBatch; each batch runs the REAL two-layer decode
    // (gzip + Content-Length-framed WARC walk) on just its arrivals
    // and folds the per-position rollup into the serving snapshot
    // additively (st37's batchId-idempotence discipline — a retried
    // batch can never double-ingest an archive). The result is
    // batching-independent by additivity, so the oracle is the
    // closed-form batch recompute over ALL archives. At 100 TB this
    // is the deployment: per-batch cost ∝ the hour's crawl, the
    // corpus is never re-read, and the wide compressed bytes die
    // inside the batch.
    "st40_stream_warc_ingest" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val stageDir = stageDeterministic(s, "stream-warc", dir,
        Corpus.warcPayloads(s, dir), 4, Seq($"doc_id"))
      val schema = s.read.parquet(stageDir).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stageDir)
      val servingRoot = graft.Scratch.tempDir("graft-stwarc-").toString
      var latest: Option[String] = None
      var batches = 0
      var lastApplied = -1L
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = stream.writeStream
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
              if (batchId > lastApplied) {
                val delta = graft.operators.WarcIngest
                  .extract(s, batch.toDF()).toDF()
                  .groupBy($"rec_idx")
                  .agg(count(lit(1)).as("n_records"),
                    sum($"n_chars").as("total_chars"),
                    sum($"n_tokens").as("total_tokens"))
                val merged = latest match {
                  case None => delta
                  case Some(p) => graft.operators.IncrementalAgg
                    .mergeAdditive(s.read.parquet(p), delta,
                      keys = Seq("rec_idx"))
                }
                val next = s"$servingRoot/v$batchId"
                merged.write.mode("overwrite").parquet(next)
                latest.foreach { p =>
                  val fs = new org.apache.hadoop.fs.Path(p)
                  fs.getFileSystem(s.sparkContext.hadoopConfiguration)
                    .delete(fs, true)
                }
                latest = Some(next)
                lastApplied = batchId
                batches += 1
              }
          }
          .start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      require(batches >= 4,
        s"expected >= 4 incremental micro-batches, saw $batches")
      s.read.parquet(latest.get)
        .select($"rec_idx", $"n_records".cast("long").as("n_records"),
          $"total_chars".cast("long").as("total_chars"),
          $"total_tokens".cast("long").as("total_tokens"))
        .orderBy($"rec_idx")
    }),

    // -- late-data dead-letter accounting -------------------------------
    // Structured Streaming's stateful operators DROP late rows
    // silently; a production pipeline routes them to a dead-letter
    // channel and meters them instead. This query implements that
    // router: the arrival order is the controlled maximally-
    // disordered round-robin split (so lateness genuinely occurs),
    // and each micro-batch classifies rows against the stream's
    // event-time high-water mark as of the PREVIOUS batch minus a 1 h
    // allowed delay — exactly the x-axis of Spark's own watermark,
    // but applied as a visible row-level split rather than a silent
    // drop. Per batch: one conditional aggregate produces the
    // on-time/late counts and cent totals per event type, folded into
    // a versioned snapshot under the st37 batchId-idempotence guard;
    // the new high-water mark is read back from the snapshot's own
    // running-max column (no per-batch action over raw rows). The
    // final table carries both channels — what a watermark job would
    // have kept AND what it would have dropped — which is the audit
    // every SLA conversation needs. Scale: per-batch work is one
    // map-side-combinable aggregate on the batch plus a snapshot
    // merge at the (event_type) grain; the high-water-mark fold is
    // O(types) state, not O(rows).
    "st41_stream_late_data" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val parts = 6
      val delayUs = 3600000000L // 1 h allowed lateness
      val stream = eventStreamOrderedRoundRobin(s, dir, parts)
        .select($"event_type", unix_micros($"ts").as("us"),
          expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"))
      val servingRoot = graft.Scratch.tempDir("graft-late-").toString
      var latest: Option[String] = None
      var batches = 0
      var lastApplied = -1L
      var wmUs = Long.MinValue // high-water mark over PRIOR batches
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = stream.writeStream
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
              if (batchId > lastApplied) {
                val wm = wmUs
                val lateCol =
                  if (wm == Long.MinValue) lit(0L)
                  else when($"us" < lit(wm) - lit(delayUs), 1L)
                    .otherwise(0L)
                val delta = batch.withColumn("late", lateCol)
                  .groupBy($"event_type")
                  .agg(
                    sum(when($"late" === 0L, 1L).otherwise(0L))
                      .as("n_ontime"),
                    sum($"late").as("n_late"),
                    sum(when($"late" === 0L, $"cents").otherwise(0L))
                      .as("ontime_cents"),
                    sum(when($"late" === 1L, $"cents").otherwise(0L))
                      .as("late_cents"),
                    max($"us").as("mx_us"))
                val merged = latest match {
                  case None => delta
                  case Some(p) => s.read.parquet(p).unionByName(delta)
                    .groupBy($"event_type")
                    .agg(sum($"n_ontime").as("n_ontime"),
                      sum($"n_late").as("n_late"),
                      sum($"ontime_cents").as("ontime_cents"),
                      sum($"late_cents").as("late_cents"),
                      max($"mx_us").as("mx_us"))
                }
                val next = s"$servingRoot/v$batchId"
                merged.write.mode("overwrite").parquet(next)
                latest.foreach { p =>
                  val fs = new org.apache.hadoop.fs.Path(p)
                  fs.getFileSystem(s.sparkContext.hadoopConfiguration)
                    .delete(fs, true)
                }
                latest = Some(next)
                // advance the high-water mark from the snapshot's own
                // running max — O(types) rows, never the raw batch
                wmUs = math.max(wmUs,
                  s.read.parquet(next).agg(max($"mx_us")).head().getLong(0))
                lastApplied = batchId
                batches += 1
              }
          }
          .start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      require(batches == parts,
        s"expected $parts ordered micro-batches, saw $batches — the " +
          "mtime-ordered slice drain is not driving the trigger")
      s.read.parquet(latest.get)
        .select($"event_type",
          $"n_ontime".cast("long").as("n_ontime"),
          $"n_late".cast("long").as("n_late"),
          $"ontime_cents".cast("long").as("ontime_cents"),
          $"late_cents".cast("long").as("late_cents"))
        .orderBy($"event_type")
    }),

    // -- streaming join-view IVM with a CHANGING dimension --------------
    // st28 maintains the join view against a STATIC dimension, so its
    // per-batch delta is only ΔA⋈B. This query runs x27's FULL
    // three-term decomposition continuously: the input is ONE
    // changelog stream carrying both fact arrivals (events) and
    // dimension upserts (customer segments, where every 7th key is
    // re-segmented to 'UPDATED' by a later-epoch version), so a
    // micro-batch holds both ΔA and ΔB. The dimension delta is SIGNED
    // — an applied upsert for a key already in B₀ emits (old row, −1)
    // and (new row, +1) — and the view delta is
    //   ΔV = agg±(ΔA⋈B₀) ∪ agg±(A₀⋈ΔB) ∪ agg±(ΔA⋈ΔB),
    // folded into the versioned parquet view through the same
    // additive merge as x10/st28. The signed algebra makes the result
    // arrival-order-independent: facts meeting their dim row in a
    // later batch are picked up by A₀⋈ΔB; a dim update retracts every
    // previously-attributed fact from the old segment and reissues it
    // under the new one (−1/+1 through the SAME merge); a stale
    // version arriving after a newer one applies as NOTHING (epoch
    // last-writer-wins, st22's discipline). ΔA⋈B₀ + ΔA⋈ΔB together
    // attribute same-batch facts to the batch's FINAL segment (the
    // −1/+1 cancels the old-segment face) — the telescoping x27
    // proves batch-side. At scale: every term is bounded by a delta
    // side (ΔB broadcasts; A₀ is the base fact table, bucketed by key
    // at rest so the A₀⋈ΔB probe is co-located and key-pruned — the
    // one full-scan-shaped term, and the price every IVM paper pays
    // for dimension churn); the view is never rescanned. The drained
    // view must equal the batch recompute over the FINAL state of
    // both bases — the oracle — and the harness asserts ≥4 genuine
    // micro-batches plus ≥1 actually-applied retraction, so the
    // update path provably fired.
    "st32_stream_join_view_ivm" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      import java.nio.file.{Files, Paths}
      import org.apache.spark.sql.expressions.Window
      // one changelog: fact rows + dim v0 (original segment) + dim v1
      // ('UPDATED' for every 7th key, strictly newer epoch)
      val facts = Tables(s, dir).events.filter($"user_id".isNotNull)
        .select(lit("fact").as("kind"), $"user_id".cast("long").as("k"),
          expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"),
          lit(null).cast("string").as("seg"), lit(null).cast("int").as("epoch"))
      val cust = Tables(s, dir).customer
      val dim0 = cust.select(lit("dim").as("kind"),
        $"c_custkey".cast("long").as("k"), lit(null).cast("long").as("cents"),
        $"c_mktsegment".as("seg"), lit(0).as("epoch"))
      val dim1 = cust.filter($"c_custkey" % 7 === 0)
        .select(lit("dim").as("kind"), $"c_custkey".cast("long").as("k"),
          lit(null).cast("long").as("cents"), lit("UPDATED").as("seg"),
          lit(1).as("epoch"))
      val changelog = facts.unionByName(dim0).unionByName(dim1)
      val stageDir = stageDeterministic(s, "stream-jvivm", dir,
        changelog, 4, Seq($"kind", $"k", $"epoch"))
      val schema = s.read.parquet(stageDir).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stageDir)
      val root = graft.Scratch.tempDir("graft-jvivm-").toString
      val factDir = s"$root/facts"
      var latestB: Option[String] = None
      var latestV: Option[String] = None
      var factsExist = false
      var batches = 0
      var nRetract = 0L
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = stream.writeStream
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
              val dA = batch.filter($"kind" === "fact")
                .select($"k", $"cents")
              val ops = batch.filter($"kind" === "dim")
                .select($"k", $"seg", $"epoch")
                .withColumn("rn", row_number().over(
                  Window.partitionBy($"k").orderBy($"epoch".desc)))
                .filter($"rn" === 1).drop("rn")
              val b0 = latestB.map(p => s.read.parquet(p)).getOrElse(
                ops.select($"k", $"seg", $"epoch").limit(0))
              // applied upserts: new key, or strictly newer epoch
              // (stale arrivals fall out here — last-writer-wins)
              val appl = ops.alias("u")
                .join(b0.alias("t"), col("u.k") === col("t.k"), "left")
                .filter(col("t.k").isNull || col("u.epoch") > col("t.epoch"))
                .select(col("u.k").as("k"), col("u.seg").as("seg"),
                  col("u.epoch").as("epoch"), col("t.seg").as("old_seg"))
                .persist()
              val dB = appl.filter($"old_seg".isNotNull)
                .select($"k", $"old_seg".as("seg"), lit(-1L).as("w"))
                .unionByName(appl.select($"k", $"seg", lit(1L).as("w")))
              val a0 =
                if (factsExist) s.read.parquet(factDir) else dA.limit(0)
              def aggSigned(f: DataFrame, d: DataFrame) = f
                .join(d, Seq("k"))
                .groupBy($"seg")
                .agg(sum($"w").as("n_events"),
                  sum($"w" * $"cents").as("total_cents"))
              val b0w = b0.select($"k", $"seg", lit(1L).as("w"))
              val dV = Seq(aggSigned(dA, b0w), aggSigned(a0, dB),
                  aggSigned(dA, dB))
                .reduce(_ unionByName _)
                .groupBy($"seg")
                .agg(sum($"n_events").as("n_events"),
                  sum($"total_cents").as("total_cents"))
              val v1 = latestV match {
                case None => dV
                case Some(p) => graft.operators.IncrementalAgg
                  .mergeAdditive(s.read.parquet(p), dV, Seq("seg"))
              }
              val nextV = s"$root/view-v$batches"
              v1.write.mode("overwrite").parquet(nextV)
              // dimension snapshot: B₁ = B₀ upsert applied rows
              val b1 = b0.alias("t")
                .join(appl.select($"k").alias("d"),
                  col("t.k") === col("d.k"), "left_anti")
                .select($"k", $"seg", $"epoch")
                .unionByName(appl.select($"k", $"seg", $"epoch"))
              val nextB = s"$root/dim-v$batches"
              b1.write.mode("overwrite").parquet(nextB)
              nRetract += appl.filter($"old_seg".isNotNull).count()
              appl.unpersist()
              // base fact table grows append-only — AFTER the view
              // delta for this batch is materialized
              dA.write.mode("append").parquet(factDir)
              factsExist = true
              // O(1) snapshots for view and dim (st26 GC discipline)
              (latestV.toSeq ++ latestB.toSeq).foreach { p =>
                val fs = new org.apache.hadoop.fs.Path(p)
                fs.getFileSystem(s.sparkContext.hadoopConfiguration)
                  .delete(fs, true)
              }
              latestV = Some(nextV)
              latestB = Some(nextB)
              batches += 1
          }
          .start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      require(batches >= 4,
        s"expected >= 4 incremental micro-batches, saw $batches — the " +
          "multi-file split is not driving the trigger")
      require(nRetract >= 1,
        "no dimension retraction applied: every v1 upsert landed " +
          "before or with its v0 — the update path was not exercised")
      val live = new java.io.File(root).listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("view-v"))
      require(live <= 2,
        s"snapshot GC failed: $live view versions live under $root")
      s.read.parquet(latestV.get)
        .filter($"n_events" =!= 0L)
        .orderBy($"seg")
    }),

    // -- streaming incremental dedup against the PERSISTED index --------
    // The d13/d17 daily job run CONTINUOUSLY: d13 batches a day's
    // arrivals, d17 probes from storage — this query closes the
    // lifecycle by probing the SAME persisted corpus index from a
    // stream. The "new" split arrives as a 4-file landing directory
    // (one file per trigger); each micro-batch shingles and signs
    // ONLY its own arrivals, joins its band hashes against the stored
    // band table, Jaccard-verifies candidates against the stored
    // shingle table unioned with the batch's own shingles, and
    // appends one admit/reject row per arrival to the serving dir.
    // The corpus index is read-only throughout (the nightly build ran
    // once, before the stream started — [[Dedup.persistedIndexTables]]),
    // so each arrival's verdict depends only on (its own shingles ×
    // the fixed index): the drained result is batching-independent by
    // construction and must equal d13/d17 row-for-row — all three
    // queries share one oracle text. At scale this is ingest-time
    // dedup with bounded per-batch cost: the batch side is
    // broadcastable, the index side is a bucketed probe, and NO
    // streaming state store exists at all (the state lives in the
    // index tables).
    "st33_stream_incremental_dedup" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      import java.nio.file.{Files, Paths}
      import graft.operators.{Sampling, TextDedup}
      val (bandsTbl, shTbl) = Dedup.persistedIndexTables(s, dir)
      val newDocs = Tables(s, dir).documents
        .withColumn("part", Sampling.splitColumn($"doc_id",
          Seq("corpus" -> 900, "new" -> 100), salt = "inc"))
        .filter($"part" === "new")
        .select($"doc_id", $"text")
      val stageDir = stageDeterministic(s, "stream-incdedup", dir,
        newDocs, 4, Seq($"doc_id"))
      val schema = s.read.parquet(stageDir).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stageDir)
      val servingDir = graft.Scratch.tempDir("graft-incdedup-").toString
      var batches = 0
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      // The probe side is identical in every micro-batch; caching it
      // across the drain was TRIED (round 9) and reverted, then
      // re-measured at sf1 (round 10, SPARK_GRAFT_ST33_CACHE=1 flips
      // this toggle): at sf0.1 no-cache wins slightly (18.6 s vs
      // 19.3 s solo), at sf1 the crossover flips but stays SHALLOW
      // (29.3 s vs 27.3 s — ~7%), and the re-scan grows SUBLINEARLY
      // (1.6× time for 10× data) because the probe touches the
      // bucketed index only through candidate-restricted semi-joins.
      // The bucketed storage layout IS the cache at this shape;
      // default stays no-cache (bench tier is sf0.1; a 7% sf1 win
      // does not buy the executor-memory footprint of a pinned
      // corpus). PLANS §109 keeps both arms' numbers.
      val cacheProbe = sys.env.get("SPARK_GRAFT_ST33_CACHE").contains("1")
      if (cacheProbe) {
        s.table(bandsTbl).persist().count()
        s.table(shTbl).persist().count()
      }
      try {
        val q = stream.writeStream
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
              val arrivals = batch.select($"doc_id", $"text").persist()
              val newSh = TextDedup.shingleHashes(
                arrivals, "doc_id", "text", n = 3)
              val newBanded = TextDedup.bandedHashes(
                TextDedup.minhashSignatures(newSh, Dedup.K),
                Dedup.K, Dedup.Bands)
              val cand = newBanded
                .select($"id".as("new_id"), $"band", $"bh")
                .join(s.table(bandsTbl)
                  .select($"id".as("corpus_id"), $"band", $"bh"),
                  Seq("band", "bh"))
                .select($"new_id", $"corpus_id").distinct()
                .persist()
              val sh = s.table(shTbl).unionByName(newSh)
              val verified = TextDedup.jaccardVerify(sh,
                cand.select($"new_id".as("d1"), $"corpus_id".as("d2"),
                  $"new_id", $"corpus_id"))
              val agg = verified.groupBy($"new_id")
                .agg(count(lit(1)).as("n_cand"),
                  sum(when($"jaccard_pm" >= 500, 1L).otherwise(0L))
                    .as("n_dup"),
                  max($"jaccard_pm").as("best_jaccard_pm"))
              arrivals.select($"doc_id".as("new_doc"))
                .join(agg, $"new_doc" === $"new_id", "left")
                .select($"new_doc",
                  coalesce($"n_cand", lit(0L)).as("n_cand"),
                  coalesce($"n_dup", lit(0L)).as("n_dup"),
                  coalesce($"best_jaccard_pm", lit(0L))
                    .as("best_jaccard_pm"),
                  (coalesce($"n_dup", lit(0L)) > 0).as("is_dup"))
                .write.mode("append").parquet(servingDir)
              cand.unpersist()
              arrivals.unpersist()
              batches += 1
          }
          .start()
        q.awaitTermination()
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prev)
        if (cacheProbe) {
          s.table(bandsTbl).unpersist()
          s.table(shTbl).unpersist()
        }
      }
      require(batches >= 4,
        s"expected >= 4 incremental micro-batches, saw $batches — the " +
          "multi-file split is not driving the trigger")
      s.read.parquet(servingDir).orderBy($"new_doc")
    }),

    // -- streaming CDC apply: versioned changelog → serving table -------
    // The streaming face of x18's change feed. A changelog of
    // ('U' upsert / 'D' tombstone) ops, each stamped with its source
    // epoch, applies micro-batch by micro-batch to a parquet serving
    // table via [[graft.operators.Upsert.mergeVersioned]] — LAST-
    // WRITER-WINS on the epoch, so the apply is order- and batching-
    // independent: the stage is deliberately hash-split on
    // (user, epoch), scattering each user's ops across files in
    // arbitrary relative order, and the drained result is still
    // exactly the batch answer. Tombstones stay IN the table (the
    // compaction-deferred design every LSM/Delta-style store uses)
    // and are filtered at read; the serving dir keeps O(1) snapshots
    // via the st11 GC discipline.
    "st22_stream_cdc_apply" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      import java.nio.file.{Files, Paths}
      val changelog = Tables(s, dir).events
        .groupBy(expr("CAST((dayofmonth(ts) - 1) div 8 AS INT)")
          .as("epoch"), $"user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(FLOOR(value * 100) AS BIGINT)")).as("total_cents"))
        .select($"epoch", $"user_id",
          when($"user_id" % 13 === $"epoch", "D").otherwise("U").as("op"),
          $"n_events", $"total_cents")
      val stageDir = stageDeterministic(s, "cdc-stage", dir,
        changelog, 4, Seq($"user_id", $"epoch"))
      val schema = s.read.parquet(stageDir).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stageDir)
      val servingRoot = graft.Scratch.tempDir("graft-cdc-serving-").toString
      var latest: Option[String] = None
      var batches = 0
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = stream.writeStream
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
            val target = latest match {
              case None    => batch.limit(0)
              case Some(p) => s.read.parquet(p)
            }
            val merged = graft.operators.Upsert
              .mergeVersioned(target, batch, "user_id", "epoch")
            val next = s"$servingRoot/v$batches"
            merged.write.mode("overwrite").parquet(next)
            latest.foreach { p =>
              val fs = new org.apache.hadoop.fs.Path(p)
              fs.getFileSystem(s.sparkContext.hadoopConfiguration)
                .delete(fs, true)
            }
            latest = Some(next)
            batches += 1
          }
          .start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      require(batches >= 4,
        s"expected >= 4 incremental micro-batches, saw $batches — the " +
          "multi-file split is not driving the trigger")
      val live = new java.io.File(servingRoot).listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("v"))
      require(live <= 2,
        s"snapshot GC failed: $live versions live under $servingRoot")
      s.read.parquet(latest.get).filter($"op" =!= "D")
        .select($"user_id", $"epoch".as("last_epoch"),
          $"n_events", $"total_cents")
        .orderBy($"user_id")
    }),

    // -- dropDuplicatesWithinWatermark (state-evictable dedup) ----------
    // The production spelling of streaming dedup: state for a key is
    // dropped once the watermark passes it, so the store is bounded by
    // the delay window instead of growing with key cardinality forever
    // (st2's dropDuplicates). The delay here spans the whole test
    // dataset, making the emitted set exactly the distinct keys.
    "st9_dedup_within_watermark" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val dd = eventStream(s, dir)
        .withColumn("day", date_trunc("day", $"ts"))
        .withWatermark("ts", "720 hours")
        .dropDuplicatesWithinWatermark("event_type", "day")
        .select($"event_type", $"day")
      drain(s, dd, OutputMode.Append())
        .orderBy($"event_type", $"day")
    })
  )

  override def oracles: Map[String, String] = Map(
    "st1_stream_tumbling" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,

    // exact per-day distinct + always-TRUE bound boolean (x04 policy)
    "st17_stream_hll_daily" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_nd,
        |  TRUE AS est_ok
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

    // the final streaming sketch equals the batch CMS over the full
    // input — same portable-hash cells as x09
    "st16_stream_cms" -> {
      val b = PortableHash.duckCmsBucket("i", "user_id", 64)
      s"""SELECT i, $b AS bucket, CAST(COUNT(*) AS BIGINT) AS c
         |FROM events CROSS JOIN LATERAL
         |  (SELECT unnest(generate_series(0, 3)) AS i)
         |GROUP BY i, bucket ORDER BY i, bucket""".stripMargin
    },

    "st2_stream_dedup_keys" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    "st3_stream_static_join" ->
      """SELECT c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |WHERE event_type = 'purchase'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // the s02 bucket layout + e17-style per-event argmax; inner joins
    // drop singleton-bucket events exactly like the stream
    "st24_stream_ann_serving" ->
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS eq,
        |    ${Similarity.duckBucketExpr} AS bucket
        |  FROM embeddings),
        |q AS (
        |  SELECT event_id, user_id, user_id % 500 AS qvec
        |  FROM events WHERE event_type = 'purchase'),
        |cand AS (
        |  SELECT q.event_id, q.user_id, q.qvec, c.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(generate_series(1, len(qe.eq)),
        |      i -> qe.eq[i] * c.eq[i])) AS BIGINT) AS dot
        |  FROM q
        |  JOIN e qe ON qe.vec_id = q.qvec
        |  JOIN e c ON c.bucket = qe.bucket AND c.vec_id <> q.qvec)
        |SELECT event_id, user_id, qvec, neighbor_id AS nn_id, dot FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
        |    ORDER BY dot DESC, neighbor_id) AS rk FROM cand) t
        |WHERE rk = 1 ORDER BY event_id""".stripMargin,

    // d08's shingle/split pipeline (same tokenization, same row-local
    // split hash) rolled up per source — the batch restatement of the
    // final streaming state
    "st25_stream_contamination" -> {
      val bucket = graft.operators.Sampling.duckHashBucketPm(
        "doc_id", "split")
      val five = (0 until 5).map(j => s"t[i+$j]").mkString(", ")
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'),
         |      ' ') AS t
         |  FROM documents),
         |sh5 AS (
         |  SELECT doc_id, ${PortableHash.duckHash56("s")} AS h FROM (
         |    SELECT doc_id, unnest(list_distinct(
         |      list_transform(generate_series(1, len(t) - 4),
         |        i -> concat_ws(' ', $five)))) AS s
         |    FROM toks)),
         |split AS (
         |  SELECT doc_id, $bucket AS b FROM documents),
         |ev AS (
         |  SELECT DISTINCT h FROM sh5 JOIN split USING (doc_id)
         |  WHERE b >= 900),
         |hits AS (
         |  SELECT sh5.doc_id,
         |    CAST(COUNT(DISTINCT sh5.h) AS BIGINT) AS n_shared
         |  FROM sh5 JOIN split USING (doc_id) JOIN ev ON sh5.h = ev.h
         |  WHERE split.b < 800
         |  GROUP BY sh5.doc_id)
         |SELECT d.source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs_contaminated,
         |  CAST(SUM(h.n_shared) AS BIGINT) AS n_shared_total,
         |  CAST(MAX(h.n_shared) AS BIGINT) AS max_shared
         |FROM hits h JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin
    },

    "st5_stream_sliding" ->
      """SELECT time_bucket(INTERVAL '15 minutes', ts) - j * INTERVAL '15 minutes' AS ws,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events, LATERAL (SELECT unnest(generate_series(0, 3)) AS j) _
        |GROUP BY 1 ORDER BY ws""".stripMargin,

    "st6_stream_stream_join" ->
      """SELECT p.event_id AS p_id, c.event_id AS c_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
        |ORDER BY p_id, c_id""".stripMargin,

    // LEFT JOIN with the watermark cutoff made explicit: unmatched
    // purchases emit iff the final watermark passed them. Spark tracks
    // watermarks in FLOORED MILLISECONDS (micros are truncated), so
    // the cutoff is (min(both sides' max ts)_us // 1000 - 3_600_000)
    // * 1000 — comparing against the raw-micro timestamp would
    // misclassify a purchase falling in the sub-millisecond window
    // below the raw watermark.
    "st12_stream_outer_join" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT * FROM events WHERE event_type = 'click'),
        |wm AS (SELECT (least((SELECT epoch_us(max(ts)) FROM p),
        |                     (SELECT epoch_us(max(ts)) FROM c))
        |          // 1000 - 3600000) * 1000 AS w_us)
        |SELECT p.event_id AS p_id, c.event_id AS c_id
        |FROM p LEFT JOIN c
        |  ON p.user_id = c.user_id
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
        |WHERE c.event_id IS NOT NULL
        |   OR epoch_us(p.ts) < (SELECT w_us FROM wm)
        |ORDER BY p_id, c_id NULLS FIRST""".stripMargin,

    // FULL JOIN with BOTH watermark cutoffs explicit: an unmatched
    // purchase emits iff the final watermark passed p_ts (clicks that
    // could match it live in [p_ts − 1h, p_ts)); an unmatched click
    // emits iff the watermark passed c_ts + 1h (purchases that could
    // match it live in (c_ts, c_ts + 1h]). Watermark in floored
    // milliseconds, exactly as st12 pins it.
    "st31_stream_full_outer" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT * FROM events WHERE event_type = 'click'),
        |wm AS (SELECT (least((SELECT epoch_us(max(ts)) FROM p),
        |                     (SELECT epoch_us(max(ts)) FROM c))
        |          // 1000 - 3600000) * 1000 AS w_us)
        |SELECT p.event_id AS p_id, c.event_id AS c_id
        |FROM p FULL JOIN c
        |  ON p.user_id = c.user_id
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
        |WHERE (p.event_id IS NOT NULL AND c.event_id IS NOT NULL)
        |   OR (c.event_id IS NULL
        |       AND epoch_us(p.ts) < (SELECT w_us FROM wm))
        |   OR (p.event_id IS NULL
        |       AND epoch_us(c.ts) + 3600000000 < (SELECT w_us FROM wm))
        |ORDER BY p_id NULLS FIRST, c_id NULLS FIRST""".stripMargin,

    // RIGHT JOIN: only the click side's cutoff applies (st31's second
    // disjunct) — an unmatched click emits iff the final watermark
    // passed c_ts + 1h; matched pairs are ungated. Watermark in
    // floored milliseconds, exactly as st12 pins it.
    "st34_stream_right_outer" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT * FROM events WHERE event_type = 'click'),
        |wm AS (SELECT (least((SELECT epoch_us(max(ts)) FROM p),
        |                     (SELECT epoch_us(max(ts)) FROM c))
        |          // 1000 - 3600000) * 1000 AS w_us)
        |SELECT p.event_id AS p_id, c.event_id AS c_id
        |FROM p RIGHT JOIN c
        |  ON p.user_id = c.user_id
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
        |WHERE p.event_id IS NOT NULL
        |   OR epoch_us(c.ts) + 3600000000 < (SELECT w_us FROM wm)
        |ORDER BY p_id NULLS FIRST, c_id NULLS FIRST""".stripMargin,

    // LEFT SEMI: matched purchases emit exactly once, no face is
    // watermark-gated — a plain EXISTS, no cutoff CTE needed
    "st35_stream_semi_join" ->
      """SELECT p.event_id AS p_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |WHERE EXISTS (
        |  SELECT 1 FROM events c
        |  WHERE c.event_type = 'click' AND c.user_id = p.user_id
        |    AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts)
        |ORDER BY p_id""".stripMargin,

    // exact rank-based percentiles + always-TRUE bound booleans (the
    // x04 policy): the shared skeleton mirrored from
    // LogHistogram.exactWithBounds — one spelling with x14
    "st19_stream_quantile_daily" -> SqlDet.sqlPercentileBound(
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents
        |  FROM events
        |  WHERE CAST(FLOOR(value * 100) AS BIGINT) >= 1""".stripMargin,
      "day", "day"),

    // the same two-tier aggregation in batch + the append-mode
    // watermark cutoff on the OUTER window (st13 discipline): an
    // hourly window emits iff its end is strictly before the final
    // watermark (max ts floored to ms − 1 h)
    "st20_stream_chained_agg" ->
      """WITH wm AS (
        |  SELECT (epoch_us(max(ts)) // 1000 - 3600000) * 1000 AS w_us
        |  FROM events),
        |m AS (
        |  SELECT time_bucket(INTERVAL '10 minutes', ts) AS w10, event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n10
        |  FROM events GROUP BY 1, 2),
        |h AS (
        |  SELECT time_bucket(INTERVAL '1 hour', w10) AS ws, event_type,
        |    CAST(SUM(n10) AS BIGINT) AS n, CAST(MAX(n10) AS BIGINT) AS peak10,
        |    CAST(COUNT(*) AS BIGINT) AS n_slots
        |  FROM m GROUP BY 1, 2)
        |SELECT ws, event_type, n, peak10, n_slots
        |FROM h WHERE epoch_us(ws) + 3600000000 < (SELECT w_us FROM wm)
        |ORDER BY ws, event_type""".stripMargin,

    // x12's batch as-of oracle VERBATIM: the streaming enrichment and
    // the batch point-in-time join must agree row-for-row
    // streaming ≡ batch row-for-row under the drained single batch —
    // e25's oracle serves both spellings verbatim
    "st36_stream_cep" -> Events.oracles("e25_cep_pattern"),
    // e25's oracle serves the fully-in-flight spelling too
    "st38_stream_cep_inflight" -> Events.oracles("e25_cep_pattern"),

    "st18_stream_asof_enrich" ->
      """WITH dimall AS (
        |  SELECT o_custkey AS user_id, o_orderdate AS valid_from,
        |    o_orderkey, o_orderstatus AS status,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS version
        |  FROM orders WHERE o_custkey <= 20),
        |dim AS (
        |  SELECT user_id, valid_from, version, status FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, valid_from
        |      ORDER BY version DESC) AS rk FROM dimall) t
        |  WHERE rk = 1),
        |ev AS (SELECT user_id, ts FROM events WHERE user_id <= 20),
        |mv AS (
        |  SELECT e.user_id, e.ts, MAX(d.valid_from) AS vf
        |  FROM ev e LEFT JOIN dim d
        |    ON d.user_id = e.user_id AND d.valid_from <= e.ts
        |  GROUP BY e.user_id, e.ts),
        |en AS (
        |  SELECT e.user_id, m.vf
        |  FROM ev e JOIN mv m ON e.user_id = m.user_id AND e.ts = m.ts)
        |SELECT en.user_id, d.version AS dim_version,
        |  d.status AS dim_status, CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM en LEFT JOIN dim d
        |  ON d.user_id = en.user_id AND d.valid_from = en.vf
        |GROUP BY 1, 2, 3
        |ORDER BY en.user_id, dim_version NULLS FIRST""".stripMargin,

    // st18's as-of oracle with the SLA made explicit: the as-of pick
    // ranges over versions in [ts - 7 days, ts] only — an event whose
    // latest version is older than the SLA enriches to NULL exactly
    // like one preceding every version
    "st30_stream_asof_sla" ->
      """WITH dimd AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      AS valid_from,
        |    CAST(COUNT(*) AS BIGINT) AS n_purchases
        |  FROM events
        |  WHERE user_id <= 20 AND event_type = 'purchase'
        |  GROUP BY 1, 2),
        |dim AS (
        |  SELECT user_id, valid_from,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY valid_from) AS INTEGER) AS version,
        |    CASE WHEN n_purchases >= 2 THEN 'multi' ELSE 'single' END
        |      AS status
        |  FROM dimd),
        |ev AS (SELECT event_id, user_id, ts FROM events
        |       WHERE user_id <= 20),
        |mv AS (
        |  SELECT e.event_id, e.user_id, MAX(d.valid_from) AS vf
        |  FROM ev e LEFT JOIN dim d
        |    ON d.user_id = e.user_id AND d.valid_from <= e.ts
        |    AND d.valid_from >= e.ts - INTERVAL 7 DAY
        |  GROUP BY 1, 2),
        |en AS (
        |  SELECT m.user_id, d.version AS dim_version,
        |    d.status AS dim_status
        |  FROM mv m LEFT JOIN dim d
        |    ON d.user_id = m.user_id AND d.valid_from = m.vf)
        |SELECT user_id, dim_version, dim_status,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM en GROUP BY 1, 2, 3
        |ORDER BY user_id, dim_version NULLS FIRST""".stripMargin,

    // e11's session CTE + the watermark-timeout emission cutoff: a
    // session emits iff its end (last event + 30 min) is strictly
    // before the final watermark, which Spark computes in floored
    // milliseconds.
    "st13_stream_timeout_sessions" ->
      """WITH x AS (
        |  SELECT user_id, ts,
        |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |  FROM events),
        |y AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM x),
        |z AS (
        |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM y),
        |sess AS (
        |  SELECT user_id, MIN(ts) AS session_start,
        |    MAX(ts) + INTERVAL 30 MINUTES AS session_end,
        |    CAST(COUNT(*) AS BIGINT) AS n_events,
        |    epoch_us(MAX(ts)) + 1800000000 AS end_us
        |  FROM z GROUP BY user_id, sess_id),
        |wm AS (
        |  SELECT (epoch_us(max(ts)) // 1000 - 3600000) * 1000 AS w
        |  FROM events)
        |SELECT user_id, session_start, session_end, n_events
        |FROM sess WHERE end_us < (SELECT w FROM wm)
        |ORDER BY user_id, session_start""".stripMargin,

    // same gap semantics as the batch e11 oracle: new session at >= gap
    "st7_stream_session" ->
      """WITH x AS (
        |  SELECT user_id, ts, value,
        |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |  FROM events),
        |y AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM x),
        |z AS (
        |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM y)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTES AS session_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM z GROUP BY user_id, sess_id
        |ORDER BY user_id, session_start""".stripMargin,

    "st4_stream_stateful" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the maintained snapshot must equal the flat rollup — the
    // combinability of count/sum/min/max IS the claim being checked
    "st37_stream_extrema_rollup" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents,
        |  CAST(MIN(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
        |    AS min_cents,
        |  CAST(MAX(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
        |    AS max_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the e29 batch sweep: the dirty-day serving loop must converge
    // to exactly what one batch pass over all events computes
    "st42_stream_peak_concurrency" ->
      """WITH sessions AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    MIN(ts) AS s, MAX(ts) AS e
        |  FROM events GROUP BY 1, 2),
        |deltas AS (
        |  SELECT day, s AS t, CAST(1 AS BIGINT) AS delta FROM sessions
        |  UNION ALL
        |  SELECT day, e, CAST(-1 AS BIGINT) FROM sessions),
        |sweep AS (
        |  SELECT day, delta,
        |    SUM(delta) OVER (PARTITION BY day ORDER BY t, delta DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM deltas)
        |SELECT day, CAST(MAX(conc) AS BIGINT) AS peak_concurrent,
        |  CAST(COUNT(*) AS BIGINT) AS n_sessions
        |FROM sweep WHERE delta = 1
        |GROUP BY day ORDER BY day""".stripMargin,

    // x12's batch temporal join: the per-batch as-of enrich + additive
    // fold must converge to the one-pass point-in-time aggregate
    "st43_stream_temporal_enrich" ->
      """WITH dimall AS (
        |  SELECT o_custkey AS user_id, o_orderdate AS valid_from,
        |    o_orderkey, o_orderstatus AS status,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS version
        |  FROM orders WHERE o_custkey <= 20),
        |dim AS (
        |  SELECT user_id, valid_from, version, status FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, valid_from
        |      ORDER BY version DESC) AS rk FROM dimall) t
        |  WHERE rk = 1),
        |ev AS (SELECT user_id, ts FROM events WHERE user_id <= 20),
        |mv AS (
        |  SELECT e.user_id, e.ts, MAX(d.valid_from) AS vf
        |  FROM ev e LEFT JOIN dim d
        |    ON d.user_id = e.user_id AND d.valid_from <= e.ts
        |  GROUP BY e.user_id, e.ts),
        |en AS (
        |  SELECT e.user_id, m.vf
        |  FROM ev e JOIN mv m ON e.user_id = m.user_id AND e.ts = m.ts)
        |SELECT en.user_id, d.version AS dim_version,
        |  d.status AS dim_status, CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM en LEFT JOIN dim d
        |  ON d.user_id = en.user_id AND d.valid_from = en.vf
        |GROUP BY 1, 2, 3
        |ORDER BY en.user_id, dim_version NULLS FIRST""".stripMargin,

    // if a redelivered batch ever re-appended, every duplicated row
    // would land in these totals — exactness IS the idempotence proof
    // same exactly-once contract as st46, spelled through the
    // registered sink: totals must equal the staged input with one
    // version per batch — the restarted drain and the redelivered
    // marker both prove the no-op in the log itself
    "st48_stream_format_sink" ->
      """SELECT event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  CAST(4 AS BIGINT) AS n_versions,
        |  TRUE AS second_run_noop,
        |  TRUE AS redelivery_noop
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "st46_stream_manifest_sink" ->
      """SELECT event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  CAST(4 AS BIGINT) AS n_versions,
        |  TRUE AS redelivery_noop
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    // the tail must reconstruct the table's exact totals from added
    // files alone — double-counting the compaction version is the
    // failure mode the flag exists to prevent
    "st45_stream_table_tail" ->
      """SELECT o_orderkey % 3 AS m,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  CAST(3 AS BIGINT) AS n_data_versions,
        |  CAST(1 AS BIGINT) AS n_compactions_skipped
        |FROM orders GROUP BY 1 ORDER BY m""".stripMargin,

    // the front-door tail must reconstruct the table's exact totals
    // from added files alone — same failure mode (and so same oracle
    // core) as st45: double-counting the compaction version
    "st47_stream_format_tail" ->
      """SELECT o_orderkey % 3 AS m,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders GROUP BY 1 ORDER BY m""".stripMargin,

    // the generator's row function is pure — the oracle replays it in
    // SQL from a range() and must land on the continuous drain's exact
    // per-user totals (ids small enough that id*2654435761 cannot
    // overflow, so Scala wrap-around and DuckDB BIGINT agree)
    "stC1_continuous_map" ->
      """WITH g AS (SELECT range AS id FROM range(2000)),
        |e AS (SELECT id * 2654435761 AS h FROM g),
        |f AS (SELECT h % 150 AS user_id, (h >> 16) % 10000 AS cents
        |      FROM e
        |      WHERE (h >> 8) % 5 = 2 AND (h >> 16) % 10000 >= 5000)
        |SELECT CAST(user_id AS BIGINT) AS user_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  TRUE AS exactly_once
        |FROM f GROUP BY 1 ORDER BY user_id""".stripMargin,

    // same predicates as x35 — guarantees hold under ANY merge tree,
    // and micro-batching is just another merge tree
    "st44_stream_heavy_hitters" ->
      """WITH keyed AS (
        |  SELECT CASE WHEN event_id % 2 = 0 THEN 0
        |              WHEN event_id % 4 = 1 THEN 1
        |              ELSE 2 + event_id % 50 END AS key
        |  FROM events),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM keyed),
        |ex AS (
        |  SELECT CAST(key AS BIGINT) AS key,
        |    CAST(COUNT(*) AS BIGINT) AS exact_cnt
        |  FROM keyed GROUP BY key)
        |SELECT key, exact_cnt,
        |  CAST(1 AS BIGINT) AS found,
        |  CAST(1 AS BIGINT) AS upper_ok,
        |  CAST(1 AS BIGINT) AS lower_ok
        |FROM ex, tot WHERE exact_cnt * 16 > n ORDER BY key""".stripMargin,

    "st8_transform_with_state" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "st15_tws_mapstate" ->
      """SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,

    // the streaming bounded heap's final answer IS the batch top-3
    "st21_stream_topk" ->
      """SELECT user_id, rank, cents, event_id FROM (
        |  SELECT user_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY cents DESC, event_id) AS INTEGER) AS rank,
        |    cents, event_id
        |  FROM (SELECT user_id, CAST(FLOOR(value * 100) AS BIGINT) AS cents,
        |          event_id
        |        FROM events WHERE event_type = 'purchase') t) r
        |WHERE rank <= 3 ORDER BY user_id, rank""".stripMargin,

    // per-user journal flush: a user's digest emits iff their flush
    // timer (last event floored to ms + 30 min) expired strictly
    // before the final watermark (global max ts floored to ms - 1h)
    "st14_tws_timers" ->
      """WITH wm AS (
        |  SELECT epoch_us(max(ts)) // 1000 - 3600000 AS w FROM events),
        |u AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
        |      AS total_cents,
        |    epoch_us(MAX(ts)) // 1000 + 1800000 AS expiry
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_events, total_cents FROM u
        |WHERE expiry < (SELECT w FROM wm)
        |ORDER BY user_id""".stripMargin,

    "st11_streaming_upsert" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the incremental merges must reproduce the one-shot batch
    // aggregate exactly (add/least/greatest are associative, so any
    // micro-batch split folds to the same answer)
    "st26_stream_monotonic_view" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents,
        |  CAST(MIN(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
        |    AS min_cents,
        |  CAST(MAX(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
        |    AS max_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // per-day conditional sums unioned into rule rows — the same
    // report shape as x20's batch audit
    "st23_stream_quality_monitor" ->
      """WITH d AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n_checked,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_err,
        |    CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_usr,
        |    CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_val
        |  FROM events GROUP BY 1),
        |u AS (
        |  SELECT day, n_checked, 'no_error_events' AS rule,
        |    v_err AS n_violations FROM d
        |  UNION ALL
        |  SELECT day, n_checked, 'user_id_present', v_usr FROM d
        |  UNION ALL
        |  SELECT day, n_checked, 'value_nonneg', v_val FROM d)
        |SELECT day, n_checked, rule, n_violations,
        |  CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INTEGER)
        |    AS pass
        |FROM u ORDER BY day, rule""".stripMargin,

    // x21's k-anonymity rollup per day, with st20's final-watermark
    // cutoff (append mode emits only finalized day windows)
    "st27_stream_k_anonymity" ->
      """WITH wm AS (
        |  SELECT (epoch_us(max(ts)) // 1000 - 3600000) * 1000 AS w_us
        |  FROM events),
        |cells AS (
        |  SELECT time_bucket(INTERVAL '1 day', ts) AS day, event_type,
        |    user_id % 100 AS band, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |rep AS (
        |  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_cells,
        |    CAST(SUM(n) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN n < 4 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_small_cells,
        |    CAST(SUM(CASE WHEN n < 4 THEN n ELSE 0 END) AS BIGINT)
        |      AS n_suppressed,
        |    CAST(MIN(n) AS BIGINT) AS min_cell_size
        |  FROM cells GROUP BY day)
        |SELECT day, n_cells, n_rows, n_small_cells, n_suppressed,
        |  min_cell_size
        |FROM rep
        |WHERE epoch_us(day) + 86400000000 < (SELECT w_us FROM wm)
        |ORDER BY day""".stripMargin,

    // same integer 2^min(age, 62) recency weighting over
    // watermark-finalized days (the clamp keeps the shift in BIGINT
    // range — Spark masks shift mod 64, DuckDB does not); NULL users
    // excluded on both sides
    "st29_stream_trending" ->
      """WITH wm AS (
        |  SELECT (epoch_us(max(ts)) // 1000 - 3600000) * 1000 AS w_us
        |  FROM events),
        |d AS (
        |  SELECT time_bucket(INTERVAL '1 day', ts) AS day, user_id,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        |f AS (
        |  SELECT * FROM d
        |  WHERE epoch_us(day) + 86400000000 < (SELECT w_us FROM wm)),
        |m AS (SELECT MIN(day) AS d0 FROM f)
        |SELECT user_id,
        |  CAST(SUM(n * (CAST(1 AS BIGINT)
        |    << least(date_diff('day', (SELECT d0 FROM m), day), 62)))
        |    AS BIGINT)
        |    AS score,
        |  CAST(SUM(n) AS BIGINT) AS n_events
        |FROM f GROUP BY user_id
        |ORDER BY score DESC, user_id LIMIT 10""".stripMargin,

    // the streamed join view must equal the batch recompute of the
    // full enrichment join (NULL user_id drops via inner-join in both)
    "st28_stream_join_view" ->
      """SELECT c_mktsegment, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment, event_type
        |ORDER BY c_mktsegment, event_type""".stripMargin,

    // the closed-form batch recompute over ALL archives — streaming
    // ingestion must be batching-invisible by additivity
    "st40_stream_warc_ingest" ->
      """WITH tk AS (
        |  SELECT d.doc_id, r.r,
        |    ((d.doc_id * 7 + r.r * 3 + j.j) % 50) AS v
        |  FROM documents d
        |  CROSS JOIN generate_series(0, 2) AS r(r)
        |  CROSS JOIN generate_series(0, 9) AS j(j)),
        |agg AS (
        |  SELECT doc_id, r,
        |    SUM(4 + CASE WHEN v >= 10 THEN 1 ELSE 0 END) + 9 AS n_chars
        |  FROM tk GROUP BY doc_id, r)
        |SELECT CAST(r AS BIGINT) AS rec_idx,
        |  CAST(COUNT(*) AS BIGINT) AS n_records,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(COUNT(*) * 10 AS BIGINT) AS total_tokens
        |FROM agg GROUP BY r ORDER BY rec_idx""".stripMargin,

    // the batch replay of the router: batch b = rows with global
    // (ts, event_id) rank ≡ b (mod 6); the high-water mark before
    // batch b is the max event time of batches < b; late = older than
    // that mark minus the 1 h allowed delay — the same classification
    // the foreachBatch loop applies incrementally
    "st41_stream_late_data" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS us,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents,
        |    ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1 AS rn
        |  FROM events),
        |b AS (SELECT *, rn % 6 AS batch FROM e),
        |bm AS (SELECT batch, MAX(us) AS mx FROM b GROUP BY batch),
        |wm AS (
        |  SELECT batch, MAX(mx) OVER (ORDER BY batch
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_us
        |  FROM bm),
        |c AS (
        |  SELECT b.event_type, b.cents,
        |    CASE WHEN w.wm_us IS NOT NULL
        |           AND b.us < w.wm_us - 3600000000 THEN 1 ELSE 0
        |    END AS late
        |  FROM b JOIN wm w USING (batch))
        |SELECT event_type,
        |  CAST(SUM(CASE WHEN late = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_ontime,
        |  CAST(SUM(late) AS BIGINT) AS n_late,
        |  CAST(SUM(CASE WHEN late = 0 THEN cents ELSE 0 END) AS BIGINT)
        |    AS ontime_cents,
        |  CAST(SUM(CASE WHEN late = 1 THEN cents ELSE 0 END) AS BIGINT)
        |    AS late_cents
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the un-eager spelling: the hash-match proves the per-batch
    // partial aggregation before the broadcast join changed nothing
    "st39_stream_eager_agg" ->
      """SELECT c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    // the streamed probe against the persisted corpus index must give
    // every arrival the same verdict as the batch job — d13, d17 and
    // st33 share this one oracle text (the storage layer AND the
    // batching must both be invisible to results)
    "st33_stream_incremental_dedup" -> Dedup.incrementalDedupOracleSql,

    // the incrementally-maintained view must equal the batch recompute
    // over the FINAL state of both bases: all facts joined against the
    // dimension AFTER its upserts (every 7th key re-segmented)
    "st32_stream_join_view_ivm" ->
      """WITH dimf AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN 'UPDATED'
        |         ELSE c_mktsegment END AS seg
        |  FROM customer)
        |SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM events JOIN dimf ON user_id = c_custkey
        |GROUP BY seg ORDER BY seg""".stripMargin,

    // last-writer-wins over the changelog: the surviving row per user
    // is its max-epoch op, kept iff that op is not a delete — batch
    // CDC semantics the streaming apply must converge to regardless
    // of file arrival order
    // the post-drain serving table: per user the max-epoch change row,
    // deletes filtered at read; restart/redelivery idempotence rides
    // as TRUEs
    "st49_stream_merge_manifest" ->
      """WITH ch AS (
        |  SELECT CAST((day(ts) - 1) // 8 AS INTEGER) AS epoch, user_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
        |      AS total_cents
        |  FROM events GROUP BY 1, 2),
        |cl AS (
        |  SELECT epoch, user_id,
        |    CASE WHEN user_id % 13 = epoch THEN 'D' ELSE 'U' END AS op,
        |    n_events, total_cents
        |  FROM ch),
        |last AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY epoch DESC) AS rn
        |  FROM cl)
        |SELECT user_id, epoch AS last_epoch, n_events, total_cents,
        |  TRUE AS second_run_noop, TRUE AS redelivery_noop
        |FROM last WHERE rn = 1 AND op <> 'D'
        |ORDER BY user_id""".stripMargin,

    // the whole orders table grouped by status — the throttled drain
    // must deliver exactly the table; throttle-actually-throttled and
    // union≡table ride as protocol TRUEs
    "st51_stream_throttled_backfill" ->
      """SELECT o_orderstatus AS st, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  TRUE AS one_version_per_batch, TRUE AS matches_table
        |FROM orders GROUP BY o_orderstatus ORDER BY st""".stripMargin,

    // the drained feed per change type: inserts are both halves (the
    // whole orders table), deletes the MOR slice; incremental tailing
    // and stream≡batch-feed equality ride as protocol TRUEs
    "st50_stream_cdf_source" ->
      """WITH t AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |  CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |f AS (
        |  SELECT 'insert' AS change_type, cents FROM t
        |  UNION ALL
        |  SELECT 'delete', cents FROM t WHERE st = 'F' AND k % 2 = 0)
        |SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  TRUE AS incremental_tail, TRUE AS matches_batch_feed
        |FROM f GROUP BY change_type ORDER BY change_type""".stripMargin,

    "st22_stream_cdc_apply" ->
      """WITH ch AS (
        |  SELECT CAST((day(ts) - 1) // 8 AS INTEGER) AS epoch, user_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
        |      AS total_cents
        |  FROM events GROUP BY 1, 2),
        |cl AS (
        |  SELECT epoch, user_id,
        |    CASE WHEN user_id % 13 = epoch THEN 'D' ELSE 'U' END AS op,
        |    n_events, total_cents
        |  FROM ch),
        |last AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY epoch DESC) AS rn
        |  FROM cl)
        |SELECT user_id, epoch AS last_epoch, n_events, total_cents
        |FROM last WHERE rn = 1 AND op <> 'D'
        |ORDER BY user_id""".stripMargin,

    "st10_stream_union" ->
      """SELECT CASE WHEN event_type = 'purchase' THEN 'purchase'
        |            ELSE 'click' END AS side,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MAX(event_id) AS BIGINT) AS max_id
        |FROM events WHERE event_type IN ('purchase', 'click')
        |GROUP BY 1 ORDER BY side""".stripMargin,

    "st9_dedup_within_watermark" ->
      """SELECT DISTINCT event_type,
        |  CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
        |FROM events ORDER BY event_type, day""".stripMargin
  )
}

/** Per-user map event_type → count in MapState, updated in place;
  * emits the key's current map after each input batch (st15).
  */
class TypeCountsProcessor
    extends StatefulProcessor[Long, (Long, String), (Long, String, Long)] {
  @transient private var counts: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    counts = getHandle.getMapState[String, Long]("counts",
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
      timerValues: TimerValues): Iterator[(Long, String, Long)] = {
    rows.foreach { case (_, tpe) =>
      val cur = if (counts.containsKey(tpe)) counts.getValue(tpe) else 0L
      counts.updateValue(tpe, cur + 1L)
    }
    counts.iterator().map { case (tpe, n) => (key, tpe, n) }.toList.iterator
  }
}

/** Per-user bounded top-k heap in ListState (st21): the list never
  * holds more than k `(cents, event_id)` pairs — merge the batch's
  * rows, re-sort by (cents desc, event_id asc), truncate to k, store
  * back, emit the current ranking. O(k) state per key under unbounded
  * input is the point; the emitted prefix rankings only improve over
  * batches (see the query's post-drain pick).
  */
class TopKPurchasesProcessor(k: Int)
    extends StatefulProcessor[Long, (Long, Long, Long), (Long, Int, Long, Long)] {
  @transient private var top: ListState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    top = getHandle.getListState[(Long, Long)]("top",
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong), TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Int, Long, Long)] = {
    val merged = (top.get().toSeq ++
        rows.map { case (_, cents, id) => (cents, id) })
      .sortBy { case (cents, id) => (-cents, id) }
      .take(k)
    top.put(merged.toArray)
    merged.iterator.zipWithIndex.map { case ((cents, id), i) =>
      (key, i + 1, cents, id)
    }
  }
}

/** Per-user cents journal in ListState, flushed by an event-time
  * timer re-armed to `lastEventMs + 30min` on every input batch. The
  * journal only leaves state when the watermark passes the timer —
  * input batches emit nothing. (st14; see the query comment for the
  * withheld-tail contract shared with st13.)
  */
class JournalFlushProcessor
    extends StatefulProcessor[Long, (Long, Long, Long), (Long, Long, Long)] {
  @transient private var journal: ListState[Long] = _
  @transient private var maxSeenMs: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    journal = getHandle.getListState[Long]("journal",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    maxSeenMs = getHandle.getValueState[Long]("maxSeenMs",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    // the timer must track the key's newest event across ALL batches —
    // a late row in a later batch must not pull the flush earlier
    var maxMs = if (maxSeenMs.exists()) maxSeenMs.get() else Long.MinValue
    rows.foreach { case (_, tsUs, cents) =>
      journal.appendValue(cents)
      maxMs = math.max(maxMs, tsUs / 1000L)
    }
    maxSeenMs.update(maxMs)
    // one live flush timer per key, re-armed to newest-seen + 30 min
    getHandle.listTimers().foreach(getHandle.deleteTimer)
    getHandle.registerTimer(maxMs + 1800000L)
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long)] = {
    val cents = journal.get().toList
    journal.clear()
    maxSeenMs.clear()
    Iterator.single((key, cents.length.toLong, cents.sum))
  }
}

/** Per-user running (count, cents) via the Spark 4 `StatefulProcessor`
  * API — typed ValueState handle, updated per micro-batch (st8).
  */
class RunningTotalsProcessor
    extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
  @transient private var totals: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Long)]("totals",
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong),
      TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    val (n0, c0) = if (totals.exists()) totals.get() else (0L, 0L)
    var n = n0
    var c = c0
    rows.foreach { r => n += 1; c += r._2 }
    totals.update((n, c))
    Iterator.single((key, n, c))
  }
}
