package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A versioned table format — the commit protocol that makes writes
  * ATOMIC on an object store, which a bare parquet directory cannot
  * be (x36's documented caveat: a crash mid-swap is re-runnable but
  * not invisible).
  *
  * The design is the published core of Delta Lake (Armbrust et al.,
  * "Delta Lake: High-Performance ACID Table Storage over Cloud Object
  * Stores", VLDB 2020) and Iceberg's spec, reduced to its invariant:
  *
  *   - data files are IMMUTABLE and never listed by readers; the
  *     commit log `_manifests/v<N>.json` holds version N's ACTIONS —
  *     files ADDED and files REMOVED relative to version N−1 — so a
  *     commit is O(changed files), never O(table files). At 100 TB a
  *     full-file-list-per-version log is the thing that dies first:
  *     a million-file table would pay a million-entry write on every
  *     single-file append;
  *   - a commit is TWO-PHASE: the full manifest body lands in a
  *     hidden temp file first, then an atomic publish-if-absent gives
  *     it the `v<N+1>.json` name (hard link on posix, rename-without-
  *     replace on HDFS — the primitive Delta's HDFS LogStore uses).
  *     A visible manifest is therefore always COMPLETE: a crash
  *     leaves orphan temps, never a truncated version. Two concurrent
  *     writers race on the same next version; the loser's publish
  *     fails, it re-reads the new latest, and retries on top —
  *     optimistic concurrency, no locks;
  *   - every [[CheckpointEvery]] commits the committer folds the log
  *     into a parquet CHECKPOINT under `_checkpoints/v<N>` (Delta's
  *     checkpoint parquet): the full file set, the log schema, and
  *     the seen txn markers. Resolving any version then reads one
  *     checkpoint + at most [[CheckpointEvery]] tail deltas, never
  *     the whole log — the read path stays O(1) as commits pile up
  *     into the thousands;
  *   - readers resolve a version ONCE (latest or AS OF) and read only
  *     its files: snapshot isolation for free — a reader planned at
  *     v2 never sees v3's files, no matter when v3 commits;
  *   - old versions stay readable (time travel) until `vacuum`, which
  *     first guarantees a checkpoint at the oldest KEPT version (so
  *     kept versions never need the dropped deltas), then deletes
  *     only files unreachable from the kept versions.
  *
  * Scale note: a checkpoint is O(#files) — written every N commits
  * by an executor-side parquet job, read back once and cached (it is
  * immutable). Production formats additionally SHARD checkpoints
  * across files; the single-parquet spelling here is the same
  * protocol one shard wide.
  */
object ManifestTable {

  /** Fold the log into a parquet checkpoint every N commits. */
  val CheckpointEvery = 10

  /** Collect [lo, hi] file stats for up to this many integral leaf
    * columns on EVERY write, DDL or not (Delta's first-N-columns
    * stats default). */
  val AutoStatsCols = 8

  /** `lo`/`hi`: min/max of the table's declared stats column within
    * this file — the Delta/Iceberg file-level statistics that let a
    * range predicate skip files from the MANIFEST, before any footer
    * is opened. `part`: the file's PARTITION tuple (column → value as
    * a canonical string) — a partitioned write guarantees every row in
    * the file carries exactly this tuple, so partition pruning is
    * EXACT, not conservative. `stats`: additional per-column [lo, hi]
    * ranges (the multi-column statistics a Z-ordered rewrite records,
    * so predicates on EITHER clustering dimension skip files). */
  final case class ManifestEntry(path: String, rows: Long,
      lo: Option[Long] = None, hi: Option[Long] = None,
      part: Map[String, String] = Map.empty,
      stats: Map[String, (Long, Long)] = Map.empty,
      // merge-on-read DELETE: `dv` points at a deletion-vector parquet
      // ((file, pos) pairs); `dvRows` counts this file's deleted
      // positions, so live rows = rows − dvRows without opening the DV
      dv: Option[String] = None,
      dvRows: Long = 0L) {
    def liveRows: Long = rows - dvRows
  }

  /** ONE commit's actions (what `v<N>.json` holds — Delta's add/
    * remove/txn/metaData actions). `compaction = true` marks a
    * version whose actions changed FILES but not CONTENT (Delta's
    * dataChange=false) — a change-feed tail must skip it or it
    * double-counts every compacted row. `txn` is the writer's
    * idempotence marker (Delta's txn action). `schemaDdl`/`statsCol`
    * ride the commit that changes them and CARRY FORWARD through the
    * fold. */
  final case class Delta(version: Int,
      adds: Vector[ManifestEntry],
      removes: Vector[String],
      compaction: Boolean = false,
      txn: Option[String] = None,
      schemaDdl: Option[String] = None,
      statsCol: Option[String] = None,
      partCols: Option[Seq[String]] = None,
      // a merge-on-read DELETE commit: content changed but the adds
      // are RE-POINTS of existing files (new DV, same bytes) — a
      // change feed must skip them like compaction's rewrites, while
      // history still reports data_change=true
      mor: Boolean = false,
      // WRITE-TIME CDC (Delta's _change_data folder): a COW rewrite
      // (UPDATE / MERGE / DELETE through replace-data or mergeCommit)
      // records its per-row before/after images in a parquet under
      // `_change_data/` and references it here — the row-level feed
      // then reads EXACTLY the changed rows instead of surfacing the
      // rewrite as whole-file re-inserts
      cdc: Option[String] = None,
      // COLUMN MAPPING (Delta's columnMapping / Iceberg's field-id
      // indirection, spelled name→name): logical column → PHYSICAL
      // name as stored in the files. Present = REPLACES the whole map
      // (like part_cols; Some(empty) resets). Physical names never
      // change once assigned — that is what makes RENAME/DROP pure
      // metadata commits
      colMap: Option[Map[String, String]] = None,
      // CHECK constraints (Delta's table constraints): name →
      // predicate SQL over LOGICAL column names; replaced wholesale
      // like colMap. Every data-adding commit validates its incoming
      // rows (NULL predicate passes — SQL standard CHECK semantics)
      checks: Option[Map[String, String]] = None,
      // HIVE-DIRECTORY table state (CONVERT of a `col=value` layout):
      // partition values live in the LOG's per-file tuples, NOT in
      // the files — reads must fill them per file. Carried forward
      // like partCols; Some(false) = cleared (the materializing
      // compaction rewrote every file with the columns as data)
      hiveDirs: Option[Boolean] = None,
      // IN-COMMIT timestamp (Delta's inCommitTimestamps): epoch ms
      // stamped INSIDE the body at commit time, monotone per table
      // (max(now, prev + 1)). TIMESTAMP AS OF resolves from this, so
      // time travel survives relocation/backup-restore, which rewrite
      // file mtimes; absent on pre-feature commits (mtime fallback)
      ts: Option[Long] = None,
      // WRITE-TIME CDC capture policy (Delta's enableChangeDataFeed,
      // OPT-IN there too): only tables that set it pay the capture
      // diff on COW DML — feeds stay readable either way, an
      // uncaptured rewrite just surfaces as whole-file re-inserts.
      // Carried forward like hiveDirs; Some(false) disables again
      cdcOn: Option[Boolean] = None) {
    /** The files this commit ADDED (a change-feed consumes exactly
      * these — with a delta log the CDC read needs no file-set diff). */
    def paths: Vector[String] = adds.map(_.path)
  }

  /** A RESOLVED version: checkpoint + tail deltas folded. `txns`
    * maps every txn marker seen up to this version to the version
    * that committed it (checkpoints persist markers, so the
    * exactly-once dedupe window survives vacuum). */
  final case class Snapshot(version: Int, entries: Vector[ManifestEntry],
      schemaDdl: Option[String] = None,
      statsCol: Option[String] = None,
      txns: Map[String, Int] = Map.empty,
      partCols: Seq[String] = Nil,
      // logical→physical column names (empty = identity, no mapping)
      colMap: Map[String, String] = Map.empty,
      // CHECK constraints: name → predicate SQL (logical names)
      checks: Map[String, String] = Map.empty,
      // true = hive-converted layout: partition values live in the
      // log's per-file tuples, reads fill them per file
      hiveDirs: Boolean = false,
      // true = COW DML captures write-time CDC (row-exact feed)
      cdcOn: Boolean = false) {
    def paths: Vector[String] = entries.map(_.path)
    def rows: Long = entries.map(_.rows).sum
    /** True when any logical name differs from its stored name. */
    def mapped: Boolean = colMap.exists { case (l, p) => l != p }
  }

  private def manifestDir(dir: String) = new Path(dir, "_manifests")
  private def ckptRoot(dir: String) = new Path(dir, "_checkpoints")

  /** JSON string escaping for manifest fields (txn markers, schema
    * DDL with backtick-quoted names, file paths): a double quote or
    * newline in any of them must not corrupt the manifest or truncate
    * the parsed schema. */
  private[graft] def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  private[graft] def jsonUnescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'u' if i + 6 <= s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** A JSON string literal's body: quotes inside are escaped, so the
    * match runs to the first UNescaped quote. */
  private val JStr = """((?:[^"\\]|\\.)*)"""

  /** Escape a string destined for an INLINE brace-delimited object
    * (`"part"`/`"stats"` fragments) or a comma-joined list
    * (`part_cols`): on top of [[jsonEscape]], raw braces and commas
    * become \\u escapes so the fragment parser can delimit on the raw
    * characters before unescaping. [[jsonUnescape]] decodes them for
    * free. */
  private[graft] def fieldEscape(s: String): String =
    jsonEscape(s).replace("{", "\\u007b").replace("}", "\\u007d")
      .replace(",", "\\u002c")

  /** Emit a [[ManifestEntry]]'s partition tuple as the body of an
    * inline JSON object: `"k": "v", ...` (sorted by key — the log is
    * deterministic). */
  private def partBody(part: Map[String, String]): String =
    part.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${fieldEscape(k)}": "${fieldEscape(v)}"""" }
      .mkString(", ")

  /** Emit multi-column stats as `"col": [lo, hi], ...` (sorted). */
  private def statsBody(stats: Map[String, (Long, Long)]): String =
    stats.toSeq.sortBy(_._1)
      .map { case (c, (l, h)) => s""""${fieldEscape(c)}": [$l, $h]""" }
      .mkString(", ")

  private val PartPair = ("\"" + JStr + "\"\\s*:\\s*\"" + JStr + "\"").r
  private val StatsTriple =
    ("\"" + JStr + "\"\\s*:\\s*\\[\\s*(-?\\d+)\\s*,\\s*(-?\\d+)\\s*\\]").r

  /** Parse the body emitted by [[partBody]]. */
  private[graft] def parsePartBody(s: String): Map[String, String] =
    PartPair.findAllMatchIn(s)
      .map(m => jsonUnescape(m.group(1)) -> jsonUnescape(m.group(2)))
      .toMap

  /** Parse the body emitted by [[statsBody]]. */
  private[graft] def parseStatsBody(s: String): Map[String, (Long, Long)] =
    StatsTriple.findAllMatchIn(s)
      .map(m => jsonUnescape(m.group(1)) ->
        (m.group(2).toLong, m.group(3).toLong))
      .toMap

  /** Manifests and checkpoints store file paths RELATIVE to the table
    * directory (Delta's convention): the table is RELOCATABLE — a
    * directory rename (SQL RENAME TO) or a warehouse move never
    * invalidates the log. Files outside the table dir keep their
    * absolute form. Comparison/stripping happens on scheme-less URI
    * paths so `file:/x` and `/x` spellings agree. */
  private def relativize(f: org.apache.hadoop.fs.FileSystem,
      dir: String, p: String): String = {
    val base = f.makeQualified(new Path(dir)).toUri.getPath
    val pp = new Path(p).toUri.getPath
    if (pp.startsWith(base + "/")) pp.substring(base.length + 1) else p
  }

  /** Resolve a stored (possibly relative) manifest path against the
    * table directory — the inverse of [[relativize]]. */
  def resolvePath(dir: String, p: String): String =
    if (p.startsWith("/") || p.contains(":/")) p
    else new Path(dir, p).toString

  /** Scheme-less URI path of the qualified table directory — the base
    * every deletion-vector key is relative to. */
  private[graft] def baseUriPath(spark: SparkSession, dir: String): String =
    fs(spark, dir).makeQualified(new Path(dir)).toUri.getPath

  /** Normalize a file-path COLUMN into deletion-vector KEY space:
    * scheme/authority stripped, then made table-relative. DVs store
    * TABLE-RELATIVE keys (same convention as the manifest's own file
    * paths) so they survive a RENAME TO / warehouse move — an absolute
    * key captured at delete time would stop matching the relocated
    * data files and silently resurrect every MOR-deleted row. Applied
    * to BOTH join sides at read time, it also normalizes legacy
    * absolute-keyed DVs for free. */
  private def dvKeyCol(base: String,
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val p = regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.\\-]*:(//[^/]*)?", "")
    when(p.startsWith(base + "/"),
      p.substr(lit(base.length + 2), lit(Integer.MAX_VALUE)))
      .otherwise(p)
  }

  /** Read deletion-vector parquet as (file, pos) rows regardless of
    * layout era: r12+ DVs are hive-partitioned by `__k=` (per-file
    * slices for executor-side loading) while legacy/clone DVs are
    * flat — recursiveFileLookup reads both shapes, and any MIX of
    * them, without tripping partition-structure inference (the key
    * columns are data columns in every era, so nothing is lost). */
  private def readDvParquet(spark: SparkSession,
      paths: Seq[String]): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(paths: _*)

  /** Driver-side twin of [[dvKeyCol]] for manifest-entry paths. */
  private[graft] def dvKeyStr(base: String, p: String): String = {
    val pp = new Path(p).toUri.getPath
    if (pp.startsWith(base + "/")) pp.substring(base.length + 1) else pp
  }

  /** Per-file DV pointers for DV-carrying entries, in table-relative
    * key space: `fileKey -> resolved DV path`. This — not positions —
    * is what DSv2 planning embeds into input partitions; readers load
    * their own file's positions executor-side ([[DvStore]]). */
  private[graft] def dvPathsByKey(spark: SparkSession, dir: String,
      dirty: Seq[ManifestEntry]): Map[String, String] = {
    val bp = baseUriPath(spark, dir)
    dirty.flatMap(e => e.dv.map(dvKeyStr(bp, e.path) -> _)).toMap
  }

  /** Zero-padded so lexicographic file order == version order — a
    * file-stream tail of `_manifests` then sees commits in commit
    * order even when mtimes tie within a timestamp granule. */
  private[operators] def manifestName(v: Int) = f"v$v%06d.json"
  private def ckptName(v: Int) = f"v$v%06d"
  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All committed versions, ascending (empty if uninitialized). */
  def versions(spark: SparkSession, dir: String): Vector[Int] = {
    val f = fs(spark, dir)
    val md = manifestDir(dir)
    if (!f.exists(md)) Vector.empty
    else f.listStatus(md).toVector
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toInt }
      .sorted
  }

  /** Checkpointed versions, ascending. Only checkpoints whose write
    * finished (the job's `_SUCCESS` marker) count — a crashed
    * checkpoint attempt is invisible, never a corrupt base. */
  def checkpointVersions(spark: SparkSession, dir: String): Vector[Int] = {
    val f = fs(spark, dir)
    val root = ckptRoot(dir)
    if (!f.exists(root)) Vector.empty
    else f.listStatus(root).toVector
      .filter(st => st.isDirectory &&
        f.exists(new Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.drop(1).forall(_.isDigit) =>
        n.drop(1).toInt }
      .sorted
  }

  /** The IN-COMMIT timestamp of one version, from a BOUNDED read of
    * the manifest's first bytes — the `ts` field lives in the fixed
    * header prefix, before the unbounded schema/col_map fields, so
    * 4 KB always covers it. None for pre-feature commits. */
  private def readHeaderTs(spark: SparkSession, dir: String,
      v: Int): Option[Long] = {
    val f = fs(spark, dir)
    val p = new Path(manifestDir(dir), manifestName(v))
    if (!f.exists(p)) return None
    val in = f.open(p)
    try {
      val buf = new Array[Byte](4096)
      val n = in.read(buf)
      if (n <= 0) None
      else """"ts"\s*:\s*(\d+)""".r
        .findFirstMatchIn(new String(buf, 0, n,
          java.nio.charset.StandardCharsets.UTF_8).takeWhile(_ != '\n'))
        .map(_.group(1).toLong)
    } finally in.close()
  }

  /** TIMESTAMP AS OF: the newest version whose commit timestamp is at
    * or before `tsMillis` (epoch millis) — Delta/Iceberg resolve time
    * travel from commit timestamps the same way. The timestamp of
    * record is the IN-COMMIT `ts` stamped inside the manifest body
    * (Delta's inCommitTimestamps: survives relocation, backup/restore
    * and filesystem copies, all of which rewrite mtimes); pre-feature
    * commits without one fall back to the publish mtime, which WAS
    * the commit time when the file has never moved. */
  def versionAt(spark: SparkSession, dir: String, tsMillis: Long): Int = {
    val f = fs(spark, dir)
    val md = manifestDir(dir)
    require(f.exists(md), s"no manifest at $dir")
    val at = f.listStatus(md).toVector
      .flatMap { st =>
        val n = st.getPath.getName
        if (!(n.startsWith("v") && n.endsWith(".json"))) None
        else {
          val v = n.stripPrefix("v").stripSuffix(".json").toInt
          val commitTs = readHeaderTs(spark, dir, v)
            .getOrElse(st.getModificationTime)
          if (commitTs <= tsMillis) Some(v) else None
        }
      }
    require(at.nonEmpty,
      s"no version of $dir committed at or before epoch-ms $tsMillis")
    at.max
  }

  /** Change feed as a BATCH: the files ADDED by data versions in
    * (fromVersion, toVersion] — compaction versions change files but
    * not content (dataChange=false) and are skipped, exactly the rule
    * the st45 streaming tail proves. With a delta log this is a pure
    * log read: no file-set diffing. */
  def changedEntries(spark: SparkSession, dir: String,
      fromVersion: Int, toVersion: Int): Vector[ManifestEntry] = {
    require(fromVersion <= toVersion,
      s"changesFromVersion $fromVersion is past version $toVersion")
    ((fromVersion + 1) to toVersion).toVector
      .map(v => readDelta(spark, dir, v))
      .filterNot(d => d.compaction || d.mor) // rewrites and DV
      // re-points change files, not content — skip or double-count
      .flatMap(_.adds)
      .map(e => e.copy(path = resolvePath(dir, e.path)))
  }

  /** ROW-LEVEL change feed (Delta's CDF shape): every row the
    * versions in (fromVersion, toVersion] inserted or deleted, with
    * `_change_type` ('insert' | 'delete') and `_commit_version`
    * columns appended. Scope, stated honestly:
    *
    *   - append/create commits emit their files' rows as 'insert';
    *   - merge-on-read DELETE commits emit exactly the NEWLY deleted
    *     rows (this version's DV positions minus the previous
    *     version's) as 'delete' — materialized by one semi-join of
    *     the position diff against the affected files;
    *   - compaction / Z-order / DV-purge commits (dataChange=false)
    *     emit nothing;
    *   - COW rewrites through replace-data DML / SQL DELETE capture
    *     write-time CDC ([[writeCdcDiff]], Delta's _change_data
    *     shape) WHEN THE TABLE OPTED IN ([[setCdcEnabled]] /
    *     TBLPROPERTIES ('cdc'='true') — Delta's enableChangeDataFeed
    *     is opt-in for the same reason: capture costs two exceptAll
    *     passes over the rewritten rows): the commit references a
    *     change parquet and the feed reads EXACTLY the changed rows
    *     ('update_preimage' / 'update_postimage', or 'delete' for a
    *     COW DELETE); Scala mergeCommit with EXPLICIT cdcLabels
    *     captures regardless (the call is the opt-in);
    *   - plain overwrite / COW DML without the opt-in / Scala
    *     mergeCommit without cdcLabels still surface as whole-file
    *     'insert's (no capture requested — the feed stays readable
    *     and file-accurate, it just loses row-level precision for
    *     the uncaptured rewrite).
    *
    * All rows read with `toVersion`'s log schema (older files
    * null-fill), so the feed has one uniform shape. */
  def changeFeedRows(spark: SparkSession, dir: String,
      fromVersion: Int, toVersion: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromVersion <= toVersion,
      s"changeFeedRows: $fromVersion is past $toVersion")
    val toSnap = snapshot(spark, dir, Some(toVersion))
    val ddl = toSnap.schemaDdl
    def shaped(df: DataFrame, kind: String, v: Int): DataFrame =
      df.withColumns(Map(
        "_change_type" -> lit(kind),
        "_commit_version" -> lit(v)))
    val parts = ((fromVersion + 1) to toVersion).flatMap { v =>
      val d = readDelta(spark, dir, v)
      if (d.compaction) None
      else if (d.cdc.isDefined) {
        // a COW rewrite with write-time capture: the change parquet
        // already carries _change_type (stored under PHYSICAL names);
        // read with the feed's physical schema so pre-evolution
        // captures null-fill, then surface logical names
        val part = ddl match {
          case Some(x) =>
            val logical = org.apache.spark.sql.types.StructType.fromDDL(x)
            spark.read.schema(physicalSchema(logical, toSnap.colMap)
                .add("_change_type", "string"))
              .parquet(resolvePath(dir, d.cdc.get))
              .toDF((logical.fieldNames :+ "_change_type")
                .toIndexedSeq: _*)
          case None => spark.read.parquet(resolvePath(dir, d.cdc.get))
        }
        Some(part.withColumn("_commit_version", lit(v)))
      }
      else if (d.mor) {
        // newly deleted = this commit's DV positions minus the same
        // files' positions at v−1; all joins run in the DV's
        // table-relative key space ([[dvKeyCol]])
        val bp = baseUriPath(spark, dir)
        val prev = resolve(spark, dir, v - 1)
        val affected = d.adds.map(e =>
          e.copy(path = resolvePath(dir, e.path),
            dv = e.dv.map(resolvePath(dir, _))))
        val newDv = readDvParquet(spark, affected.flatMap(_.dv).distinct)
          .select(dvKeyCol(bp, col("file")).as("file"), col("pos"))
        val prevByPath = prev.entries
          .map(e => new Path(e.path).toUri.getPath -> e).toMap
        val oldDvPaths = affected.flatMap(e =>
          prevByPath.get(new Path(e.path).toUri.getPath)
            .flatMap(_.dv)).distinct
        val fresh =
          if (oldDvPaths.isEmpty) newDv
          else newDv.join(
            readDvParquet(spark, oldDvPaths)
              .select(dvKeyCol(bp, col("file")).as("file"), col("pos")),
            Seq("file", "pos"), "left_anti")
        val rows = rawRead(spark, ddl, affected.map(_.path))
          .withColumns(Map(
            "__f" -> dvKeyCol(bp, col("_metadata.file_path")),
            "__i" -> col("_metadata.row_index")))
          .join(broadcast(fresh),
            col("__f") === col("file") && col("__i") === col("pos"),
            "left_semi")
          .drop("__f", "__i")
        Some(shaped(rows, "delete", v))
      } else if (d.adds.isEmpty) None
      else Some(shaped(
        rawRead(spark, ddl, toSnap.colMap,
          d.adds.map(e => resolvePath(dir, e.path))),
        "insert", v))
    }
    parts.reduceOption(_ unionByName _).getOrElse {
      val base = ddl match {
        case Some(x) => org.apache.spark.sql.types.StructType.fromDDL(x)
        case None => sys.error(s"changeFeedRows: empty feed and no " +
          s"schema in the log at $dir")
      }
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        base.add("_change_type", "string").add("_commit_version", "int"))
    }
  }

  /** One driver-side CDF action — the planning unit the DSv2 front
    * door turns into input partitions (Delta plans its CDF scans from
    * the same three action kinds: AddFile → insert, AddCDCFile →
    * capture, DV re-point → position-diff delete). */
  sealed trait CdfAction { def version: Int }
  /** An append/overwrite commit: its added files' rows are 'insert'. */
  final case class CdfInsert(version: Int,
      entries: Vector[ManifestEntry]) extends CdfAction
  /** A COW rewrite with a write-time capture: the `_change_data`
    * parquet (resolved path) already carries `_change_type`. */
  final case class CdfCapture(version: Int, path: String) extends CdfAction
  /** A merge-on-read DELETE: emit the affected files' rows at exactly
    * this commit's DV positions minus the previous version's. The
    * action carries only DV PATHS per table-relative file key —
    * `key -> (newDv, Option(oldDv))` — and the position diff happens
    * EXECUTOR-side in the CDF reader ([[graft.operators.DvStore]]):
    * planning never materializes positions on the driver. */
  final case class CdfMorDelete(version: Int,
      entries: Vector[ManifestEntry],
      dvByKey: Map[String, (String, Option[String])]) extends CdfAction

  /** The versions-(from, to] change feed as a PLAN instead of rows:
    * same branch logic as [[changeFeedRows]] (compaction/purge skipped,
    * captures preferred over re-inserts, MOR deletes as position
    * diffs), but everything data-sized stays on executors — including
    * the DV position diff, which ships as (newDv, oldDv) PATHS per
    * file and is computed by the reader (driver planning is O(#files)
    * metadata, never O(deleted rows)). The front door's streaming and
    * batch CDF faces both plan from this. */
  def changeFeedActions(spark: SparkSession, dir: String,
      fromVersion: Int, toVersion: Int): Vector[CdfAction] = {
    import org.apache.spark.sql.functions._
    require(fromVersion <= toVersion,
      s"changeFeedActions: $fromVersion is past $toVersion")
    ((fromVersion + 1) to toVersion).toVector.flatMap { v =>
      val d = readDelta(spark, dir, v)
      if (d.compaction) None
      else if (d.cdc.isDefined)
        Some(CdfCapture(v, resolvePath(dir, d.cdc.get)))
      else if (d.mor) {
        val bp = baseUriPath(spark, dir)
        val prev = resolve(spark, dir, v - 1)
        val affected = d.adds.map(e =>
          e.copy(path = resolvePath(dir, e.path),
            dv = e.dv.map(resolvePath(dir, _))))
        // paths only — the new-minus-old position diff runs in the
        // reader, executor-side (DvStore.loadFreshPositions); prev's
        // entries resolve() already absolutized
        val prevByPath = prev.entries
          .map(e => new Path(e.path).toUri.getPath -> e).toMap
        val pairs = affected.flatMap { e =>
          e.dv.map { nd =>
            val oldDv = prevByPath
              .get(new Path(e.path).toUri.getPath).flatMap(_.dv)
            dvKeyStr(bp, e.path) -> (nd, oldDv)
          }
        }.toMap
        if (pairs.isEmpty) None else Some(CdfMorDelete(v, affected, pairs))
      } else if (d.adds.isEmpty) None
      else Some(CdfInsert(v,
        d.adds.map(e => e.copy(path = resolvePath(dir, e.path)))))
    }
  }

  /** SHALLOW CLONE (Delta's CLONE … SHALLOW): a NEW table whose first
    * commit references the SOURCE's data files — zero bytes of data
    * copied, independent log from then on (appends/DML/compaction on
    * either side never touch the other). Because manifests store
    * out-of-table paths absolute, the clone's entries keep resolving
    * to the source's files after either directory moves; the clone's
    * own vacuum only ever deletes files physically under ITS dir, so
    * it can never reap source data. Deletion vectors need one real
    * copy: DV keys are TABLE-RELATIVE to the source, so each
    * referenced DV parquet is rewritten under the clone with
    * ABSOLUTIZED keys (O(deleted rows), not O(data)) — the clone's
    * reads then match them against the absolute source file paths.
    * Caveat shared with Delta: vacuuming the SOURCE can remove files a
    * shallow clone still references — clones are for short-lived
    * experiments, or follow with a compaction to materialize. */
  def cloneShallow(spark: SparkSession, srcDir: String, dstDir: String,
      asOf: Option[Int] = None): Int = {
    import org.apache.spark.sql.functions._
    require(versions(spark, dstDir).isEmpty,
      s"cloneShallow: target $dstDir is already a table")
    val snap = snapshot(spark, srcDir, asOf)
    val srcBase = baseUriPath(spark, srcDir)
    val f = fs(spark, dstDir)
    // rewrite each referenced DV parquet with absolute keys
    val dvMap: Map[String, String] =
      snap.entries.flatMap(_.dv).distinct.zipWithIndex.map {
        case (dvRel, i) =>
          val dvAbs = resolvePath(srcDir, dvRel)
          val out = new Path(new Path(dstDir, "_dvs"),
            s"clone-$i-${java.util.UUID.randomUUID().toString.take(8)}" +
              ".parquet").toString
          readDvParquet(spark, Seq(dvAbs))
            .select(
              when(col("file").startsWith("/"), col("file"))
                .otherwise(concat(lit(srcBase + "/"), col("file")))
                .as("file"),
              col("pos"))
            .coalesce(1)
            .write.mode("overwrite").parquet(out)
          dvRel -> out
      }.toMap
    val adds = snap.entries.map { e =>
      e.copy(path = resolvePath(srcDir, e.path),
        dv = e.dv.map(dvMap))
    }
    val ddl = snap.schemaDdl
      .orElse(Some(read(spark, srcDir, asOf.orElse(Some(snap.version)))
        .schema.toDDL))
    f.mkdirs(new Path(dstDir))
    tryCommit(spark, dstDir, 1, adds = adds, removes = Vector.empty,
      schemaDdl = ddl, statsCol = snap.statsCol,
      partCols = if (snap.partCols.nonEmpty) Some(snap.partCols) else None,
      colMap = if (snap.colMap.nonEmpty) Some(snap.colMap) else None,
      checks = if (snap.checks.nonEmpty) Some(snap.checks) else None,
      hiveDirs = if (snap.hiveDirs) Some(true) else None,
      cdcOn = if (snap.cdcOn) Some(true) else None)
      .getOrElse(sys.error(
        s"cloneShallow: lost the v1 commit race at $dstDir"))
  }

  /** Resolve a snapshot: latest, or AS OF an exact version — one
    * checkpoint + at most [[CheckpointEvery]] tail deltas. */
  def snapshot(spark: SparkSession, dir: String,
      asOf: Option[Int] = None): Snapshot = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no manifest at $dir")
    val v = asOf match {
      case Some(x) =>
        require(vs.contains(x), s"version $x not in ${vs.mkString(",")}")
        x
      case None => vs.last
    }
    resolve(spark, dir, v)
  }

  /** Fold checkpoint + tail deltas into version `v`'s full state. */
  private def resolve(spark: SparkSession, dir: String, v: Int): Snapshot = {
    val base = checkpointVersions(spark, dir).filter(_ <= v).lastOption
    val em = scala.collection.mutable.LinkedHashMap.empty[String, ManifestEntry]
    var ddl: Option[String] = None
    var statsCol: Option[String] = None
    var txns = Map.empty[String, Int]
    var partCols: Seq[String] = Nil
    var colMap: Map[String, String] = Map.empty
    var checks: Map[String, String] = Map.empty
    var hiveDirs: Boolean = false
    var cdcOn: Boolean = false
    base.foreach { cv =>
      val st = readCheckpoint(spark, dir, cv)
      st.entries.foreach(e => em(e.path) = e)
      ddl = st.schemaDdl
      statsCol = st.statsCol
      txns = st.txns
      partCols = st.partCols
      colMap = st.colMap
      checks = st.checks
      hiveDirs = st.hiveDirs
      cdcOn = st.cdcOn
    }
    ((base.getOrElse(0) + 1) to v).foreach { dv =>
      val d = readDelta(spark, dir, dv)
      d.removes.foreach(em.remove)
      d.adds.foreach(e => em(e.path) = e)
      d.schemaDdl.foreach(x => ddl = Some(x))
      d.statsCol.foreach(x => statsCol = Some(x))
      d.txn.foreach(t => txns += t -> dv)
      d.partCols.foreach(cs => partCols = cs)
      d.colMap.foreach(m => colMap = m)
      d.checks.foreach(m => checks = m)
      d.hiveDirs.foreach(h => hiveDirs = h)
      d.cdcOn.foreach(c => cdcOn = c)
    }
    // the fold runs in STORED (table-relative) path space; the
    // resolved snapshot hands callers absolute paths
    Snapshot(v, em.values.toVector
      .map(e => e.copy(path = resolvePath(dir, e.path),
        dv = e.dv.map(resolvePath(dir, _))))
      .sortBy(_.path), ddl, statsCol, txns, partCols, colMap, checks,
      hiveDirs, cdcOn)
  }

  /** Read one committed delta. The two-phase commit means a VISIBLE
    * manifest is always COMPLETE — the short retry is purely
    * defensive for eventually-consistent stores where a just-
    * published file's bytes may lag its listing. */
  private def readDelta(spark: SparkSession, dir: String, v: Int): Delta = {
    val f = fs(spark, dir)
    val p = new Path(manifestDir(dir), manifestName(v))
    var attempt = 0
    while (true) {
      if (!f.exists(p))
        throw new IllegalStateException(
          s"manifest v$v at $dir is missing — vacuumed past a version " +
            "still needed by this resolution?")
      val in = f.open(p)
      val body = try {
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.commons.io.IOUtils.copy(in, bos)
        new String(bos.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
      try return parseManifest(body)
      catch {
        case e: Exception if attempt < 10 =>
          attempt += 1
          Thread.sleep(20)
        case e: Exception =>
          throw new IllegalStateException(
            s"manifest v$v at $dir is unparsable", e)
      }
    }
    sys.error("unreachable")
  }

  /** Parse one commit's manifest body (also used by the change-feed
    * tail, which receives manifests through a file stream, not this
    * reader). */
  def parseManifest(body: String): Delta = {
    // header is line 1 (version/compaction/txn/schema/stats_col);
    // escaped string fields parse to the first UNescaped quote
    val header = body.linesIterator.next()
    val v = """"version"\s*:\s*(\d+)""".r
      .findFirstMatchIn(header).get.group(1).toInt
    val compaction = """"compaction"\s*:\s*true""".r
      .findFirstIn(header).isDefined
    val mor = """"mor"\s*:\s*true""".r.findFirstIn(header).isDefined
    val cdc = (""""cdc"\s*:\s*"""" + JStr + "\"").r
      .findFirstMatchIn(header).map(m => jsonUnescape(m.group(1)))
    val txn = (""""txn"\s*:\s*"""" + JStr + "\"").r
      .findFirstMatchIn(header).map(m => jsonUnescape(m.group(1)))
    val schemaDdl = (""""schema"\s*:\s*"""" + JStr + "\"").r
      .findFirstMatchIn(header).map(m => jsonUnescape(m.group(1)))
    val statsCol = (""""stats_col"\s*:\s*"""" + JStr + "\"").r
      .findFirstMatchIn(header).map(m => jsonUnescape(m.group(1)))
    // part_cols rides the header like stats_col; an EMPTY list is a
    // meaningful reset (overwrite back to unpartitioned), so Some(Nil)
    // and None stay distinct
    val partCols = (""""part_cols"\s*:\s*"""" + JStr + "\"").r
      .findFirstMatchIn(header)
      .map(m => m.group(1).split(",", -1).toSeq
        .filter(_.nonEmpty).map(jsonUnescape))
    // col_map / checks ride the header as inline objects in the
    // part-body grammar; Some(empty) is a meaningful reset (overwrite)
    val colMap = """"col_map"\s*:\s*\{([^{}]*)\}""".r
      .findFirstMatchIn(header).map(m => parsePartBody(m.group(1)))
    val checks = """"checks"\s*:\s*\{([^{}]*)\}""".r
      .findFirstMatchIn(header).map(m => parsePartBody(m.group(1)))
    val hiveDirs = """"hive_dirs"\s*:\s*(true|false)""".r
      .findFirstMatchIn(header).map(_.group(1) == "true")
    // one action per line after the header: adds carry "rows",
    // removes carry "remove": true
    val adds = Vector.newBuilder[ManifestEntry]
    val removes = Vector.newBuilder[String]
    body.linesIterator.drop(1)
      .filter(_.contains("\"path\""))
      .foreach { line =>
        val p = jsonUnescape((""""path"\s*:\s*"""" + JStr + "\"").r
          .findFirstMatchIn(line).get.group(1))
        if (line.contains("\"remove\"")) removes += p
        else {
          val r = """"rows"\s*:\s*(\d+)""".r
            .findFirstMatchIn(line).get.group(1).toLong
          val lo = """"lo"\s*:\s*(-?\d+)""".r
            .findFirstMatchIn(line).map(_.group(1).toLong)
          val hi = """"hi"\s*:\s*(-?\d+)""".r
            .findFirstMatchIn(line).map(_.group(1).toLong)
          // brace-delimited inline objects: fieldEscape guarantees no
          // raw brace inside, so the non-greedy group is exact
          val part = """"part"\s*:\s*\{([^{}]*)\}""".r
            .findFirstMatchIn(line).map(m => parsePartBody(m.group(1)))
            .getOrElse(Map.empty[String, String])
          val stats = """"stats"\s*:\s*\{([^{}]*)\}""".r
            .findFirstMatchIn(line).map(m => parseStatsBody(m.group(1)))
            .getOrElse(Map.empty[String, (Long, Long)])
          val dv = (""""dv"\s*:\s*"""" + JStr + "\"").r
            .findFirstMatchIn(line).map(m => jsonUnescape(m.group(1)))
          val dvRows = """"dv_rows"\s*:\s*(\d+)""".r
            .findFirstMatchIn(line).map(_.group(1).toLong).getOrElse(0L)
          adds += ManifestEntry(p, r, lo, hi, part, stats, dv, dvRows)
        }
      }
    val ts = """"ts"\s*:\s*(\d+)""".r
      .findFirstMatchIn(header).map(_.group(1).toLong)
    val cdcOn = """"cdc_on"\s*:\s*(true|false)""".r
      .findFirstMatchIn(header).map(_.group(1) == "true")
    Delta(v, adds.result(), removes.result(), compaction, txn,
      schemaDdl, statsCol, partCols, mor, cdc, colMap, checks, hiveDirs,
      ts, cdcOn)
  }

  /** Read the table at a snapshot — only that version's files, never
    * a directory listing. Entries carrying deletion vectors apply
    * them MERGE-ON-READ: one broadcast anti-join of (file, position)
    * pairs against the scan's `_metadata` columns — deleted rows cost
    * a hash probe each, never a file rewrite. */
  def read(spark: SparkSession, dir: String,
      asOf: Option[Int] = None): DataFrame = {
    val snap = snapshot(spark, dir, asOf)
    if (snap.paths.isEmpty)
      // an empty version is legal when the schema rides the log
      // (CREATE TABLE without data — the SQL catalog's birth state)
      return snap.schemaDdl match {
        case Some(ddl) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(ddl))
        case None =>
          sys.error(s"version ${snap.version} of $dir lists no files " +
            "and carries no schema")
      }
    // hive-converted layout: partition values live in the LOG's
    // per-file tuples, not in the files — fill them per file
    if (snap.hiveDirs) return hiveFillRead(spark, snap)
    val (dirty, clean) = snap.entries.partition(_.dv.isDefined)
    if (dirty.isEmpty)
      return rawRead(spark, snap.schemaDdl, snap.colMap, snap.paths)
    // only the DV-carrying files pay the anti-join; clean files keep
    // the bare vectorized scan (a point delete touching one file must
    // not tax the other ten thousand). On a MAPPED table the dirty
    // scan runs in PHYSICAL name space (the anti-join needs _metadata,
    // which must bind on the scan itself, before any rename) and ONE
    // positional rename surfaces the logical names after — DVs key by
    // (file path, position), so column renames never touch them.
    val dirtyDf = applyDvsLogical(spark, dir, snap.schemaDdl,
      snap.colMap, dirty)
    if (clean.isEmpty) dirtyDf
    else rawRead(spark, snap.schemaDdl, snap.colMap, clean.map(_.path))
      .unionByName(dirtyDf)
  }

  /** Read a HIVE-CONVERTED snapshot: scan the files with the
    * DATA-ONLY schema (hive files do not store partition columns;
    * post-convert appends do, but dropping their stored copies and
    * filling from the log keeps one uniform plan for every era), then
    * fill the partition columns per file from the LOG's tuples — one
    * broadcast of an O(#files) (path → values) lookup against the
    * scan's `_metadata.file_path`, cast to the log schema's types.
    * Delta's CONVERT reads the same way: partition values come from
    * AddFile metadata, never from the bytes. */
  private def hiveFillRead(spark: SparkSession,
      snap: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions._
    val logical = org.apache.spark.sql.types.StructType.fromDDL(
      snap.schemaDdl.getOrElse(sys.error(
        "hive-converted table carries no log schema")))
    val partSet = snap.partCols.toSet
    val dataOnly = org.apache.spark.sql.types.StructType(
      logical.fields.filterNot(f => partSet.contains(f.name)))
    val lut = {
      import spark.implicits._
      snap.entries.map(e => (new Path(e.path).toUri.getPath,
        snap.partCols.map(e.part(_)))).toDF("__lf", "__lv")
    }
    // scheme-strip the scan's file path so both sides speak the same
    // scheme-less URI form (same normalization as the DV key space)
    val fcol = regexp_replace(col("_metadata.file_path"),
      "^[a-zA-Z][a-zA-Z0-9+.\\-]*:(//[^/]*)?", "")
    spark.read.schema(dataOnly).parquet(snap.paths: _*)
      .withColumn("__lf", fcol)
      .join(broadcast(lut), Seq("__lf"))
      .select(logical.fields.map { f =>
        if (partSet.contains(f.name))
          element_at(col("__lv"),
            snap.partCols.indexOf(f.name) + 1).cast(f.dataType).as(f.name)
        else col(f.name)
      }.toIndexedSeq: _*)
  }

  /** The schema-aware parquet reader: schema-on-log files written
    * before a column existed read back with that column null, and the
    * column ORDER is the log's, not any footer's. */
  private def rawRead(spark: SparkSession, schemaDdl: Option[String],
      paths: Seq[String]): DataFrame =
    rawRead(spark, schemaDdl, Map.empty[String, String], paths)

  /** Column-mapped variant: the files store PHYSICAL names, so the
    * scan reads the physical schema (same types/order as the log's
    * logical schema) and one positional rename surfaces the logical
    * names. Files written before the mapping was activated carry
    * identity physical names, so one physical schema reads every
    * file of every era. */
  private def rawRead(spark: SparkSession, schemaDdl: Option[String],
      colMap: Map[String, String], paths: Seq[String]): DataFrame =
    schemaDdl match {
      case Some(ddl) =>
        val logical = org.apache.spark.sql.types.StructType.fromDDL(ddl)
        if (colMap.isEmpty)
          spark.read.schema(logical).parquet(paths: _*)
        else
          spark.read.schema(physicalSchema(logical, colMap))
            .parquet(paths: _*)
            .toDF(logical.fieldNames.toIndexedSeq: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The logical schema with every field renamed to its stored
    * (physical) name. */
  private[graft] def physicalSchema(
      logical: org.apache.spark.sql.types.StructType,
      colMap: Map[String, String]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(logical.fields.map(f =>
      f.copy(name = colMap.getOrElse(f.name, f.name))))

  /** Anti-join the scan against the union of referenced deletion
    * vectors. Keyed in TABLE-RELATIVE path space on both sides
    * ([[dvKeyCol]]) — data files are immutable, so any (file, pos)
    * pair in any referenced DV is a genuinely deleted row of that
    * physical file, unioning superseded DVs is harmless, and the keys
    * survive table relocation exactly like the manifest's own
    * relative paths. The DV side is |deleted rows| — broadcast only
    * while that stays broadcast-sized (`dvRows`, known exactly from
    * the log, decides); past the threshold the anti-join shuffles on
    * (file, pos) instead of pushing gigabytes through the driver. */
  private def applyDvs(spark: SparkSession, dir: String, base: DataFrame,
      dvPaths: Seq[String], dvRows: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions._
    val bp = baseUriPath(spark, dir)
    val dv = readDvParquet(spark, dvPaths)
      .select(dvKeyCol(bp, col("file")).as("__dvf"), col("pos").as("__dvp"))
      .distinct()
    val dvSide =
      if (dvRows < 0 || dvRows <= BroadcastDvRows) broadcast(dv) else dv
    base
      .withColumns(Map(
        "__f" -> dvKeyCol(bp, col("_metadata.file_path")),
        "__i" -> col("_metadata.row_index")))
      .join(dvSide,
        col("__f") === col("__dvf") && col("__i") === col("__dvp"),
        "left_anti")
      .drop("__f", "__i")
  }

  /** Positions above this, the DV anti-join stops broadcasting
    * (~12 B/position → ~240 MB at the bound, the edge of sane
    * broadcast at 1000 executors). */
  private val BroadcastDvRows = 20L * 1000 * 1000

  /** LIVE rows of DV-carrying files under LOGICAL names, mapped or
    * not: the scan runs in PHYSICAL name space (so `_metadata` binds
    * on the scan itself — a renamed projection would strip it), the
    * DV anti-join applies, then one positional rename surfaces the
    * logical names. The unmapped case degenerates to the plain
    * [[applyDvs]] (physical == logical). */
  private def applyDvsLogical(spark: SparkSession, dir: String,
      schemaDdl: Option[String], colMap: Map[String, String],
      dirty: Vector[ManifestEntry]): DataFrame = {
    val mapped = colMap.exists { case (l, p) => l != p }
    val raw =
      if (!mapped) rawRead(spark, schemaDdl, dirty.map(_.path))
      else {
        val logical = org.apache.spark.sql.types.StructType.fromDDL(
          schemaDdl.getOrElse(sys.error(
            s"$dir is column-mapped but carries no log schema")))
        spark.read.schema(physicalSchema(logical, colMap))
          .parquet(dirty.map(_.path): _*)
      }
    val applied = applyDvs(spark, dir, raw,
      dirty.flatMap(_.dv).distinct, dirty.map(_.dvRows).sum)
    if (!mapped) applied
    else applied.toDF(org.apache.spark.sql.types.StructType
      .fromDDL(schemaDdl.get).fieldNames.toIndexedSeq: _*)
  }

  /** WRITE-TIME CDC capture for a COW rewrite (Delta's `_change_data`
    * shape): the multiset diff between the replaced files' LIVE rows
    * and the replacement files' rows, labeled (preLabel, postLabel)
    * and written under `_change_data/`. Returns the written path, or
    * None when the rewrite changed nothing. The diff costs two
    * exceptAll passes over ONLY the rewritten rows — bounded by the
    * rewrite the DML already paid for, never by table size. Delta
    * captures CDC inside its merge expressions instead; Spark's
    * group-based ReplaceData hands the writer no per-row action, so
    * the read-back diff is this engine's write-time spelling —
    * reconstruction-exact by construction (post − pre IS the multiset
    * identity between the two states), with MERGE-inserted rows
    * surfacing under the post label. */
  private def writeCdcDiff(spark: SparkSession, dir: String,
      schemaDdl: Option[String], colMap: Map[String, String],
      replaced: Vector[ManifestEntry], adds: Vector[ManifestEntry],
      labels: (String, String)): Option[String] = {
    import org.apache.spark.sql.functions._
    if (replaced.isEmpty && adds.isEmpty) return None
    val (dirtyR, cleanR) = replaced.partition(_.dv.isDefined)
    val old = (
      (if (cleanR.isEmpty) None
       else Some(rawRead(spark, schemaDdl, colMap, cleanR.map(_.path)))) ++
      (if (dirtyR.isEmpty) None
       else Some(applyDvsLogical(spark, dir, schemaDdl, colMap, dirtyR)))
    ).reduceOption(_ unionByName _)
    val neu =
      if (adds.isEmpty) None
      else Some(rawRead(spark, schemaDdl, colMap, adds.map(_.path)))
    val pre = (old, neu) match {
      case (Some(o), Some(n)) => Some(o.exceptAll(n))
      case (Some(o), None) => Some(o)
      case (None, _) => None
    }
    val post = (old, neu) match {
      case (Some(o), Some(n)) => Some(n.exceptAll(o))
      case (None, Some(n)) => Some(n)
      case (_, None) => None
    }
    val both = (pre.map(_.withColumn("_change_type", lit(labels._1))) ++
      post.map(_.withColumn("_change_type", lit(labels._2))))
      .reduceOption(_ unionByName _)
    both.flatMap { df0 =>
      // captures store PHYSICAL column names (stable across renames),
      // like the data files — the feed translates back at read time
      val df = if (colMap.isEmpty) df0 else df0.withColumnsRenamed(colMap)
      val f = fs(spark, dir)
      val out = new Path(new Path(dir, "_change_data"),
        s"cdc-${java.util.UUID.randomUUID().toString.take(8)}").toString
      df.write.mode("errorifexists").parquet(out)
      if (spark.read.parquet(out).isEmpty) {
        f.delete(new Path(out), true) // rewrite changed nothing
        None
      } else Some(out)
    }
  }

  /** MERGE-ON-READ DELETE (Delta's deletion vectors): mark matching
    * rows deleted by writing their (file, position) pairs to a DV
    * parquet and RE-POINTING the affected entries — no data file is
    * rewritten, so the write cost is O(deleted rows), not O(bytes of
    * every touched file). The new DV for an affected file carries the
    * union of its old and new positions (vacuum can then drop
    * superseded DVs). Readers apply DVs automatically ([[read]]);
    * compaction purges them. Returns (version, rows newly deleted). */
  def deleteRowsMor(spark: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column): (Int, Long) = {
    import org.apache.spark.sql.functions._
    val cur = snapshot(spark, dir)
    require(cur.paths.nonEmpty, s"deleteRowsMor on empty table $dir")
    require(!cur.hiveDirs,
      s"deleteRowsMor on hive-converted table $dir: the files do not " +
        "store the partition columns — compact (OPTIMIZE) first to " +
        "materialize them")
    val bp = baseUriPath(spark, dir)
    val live = {
      // MAPPED tables: scan in PHYSICAL name space (so `_metadata`
      // binds on the scan before any rename), stamp the DV key
      // columns, then rename positionally — the predicate speaks
      // logical names. DVs key by (file path, position), so the
      // column mapping and the vectors never interact.
      val raw =
        if (!cur.mapped) rawRead(spark, cur.schemaDdl, cur.paths)
        else {
          val logical = org.apache.spark.sql.types.StructType.fromDDL(
            cur.schemaDdl.getOrElse(sys.error(
              s"$dir is column-mapped but carries no log schema")))
          spark.read.schema(physicalSchema(logical, cur.colMap))
            .parquet(cur.paths: _*)
        }
      val stamped = raw
        .withColumns(Map(
          "__f" -> dvKeyCol(bp, col("_metadata.file_path")),
          "__i" -> col("_metadata.row_index")))
      val base =
        if (!cur.mapped) stamped
        else {
          val logical = org.apache.spark.sql.types.StructType
            .fromDDL(cur.schemaDdl.get)
          val phys = physicalSchema(logical, cur.colMap)
          stamped.select(phys.fieldNames.zip(logical.fieldNames)
            .map { case (p, l) => col(p).as(l) }.toIndexedSeq ++
            Seq(col("__f"), col("__i")): _*)
        }
      val dvPaths = cur.entries.flatMap(_.dv).distinct
      if (dvPaths.isEmpty) base
      else {
        val dv = readDvParquet(spark, dvPaths)
          .select(dvKeyCol(bp, col("file")).as("__dvf"),
            col("pos").as("__dvp"))
          .distinct()
        val dvSide =
          if (cur.entries.map(_.dvRows).sum <= BroadcastDvRows)
            broadcast(dv)
          else dv
        base.join(dvSide,
          col("__f") === col("__dvf") && col("__i") === col("__dvp"),
          "left_anti")
      }
    }
    // NULL predicate rows SURVIVE (DELETE three-valued logic). The
    // stored `file` keys are TABLE-RELATIVE (dvKeyCol above) so the DV
    // survives a table rename/move like the manifest itself.
    val doomed = live
      .filter(coalesce(cond, lit(false)))
      .select(col("__f").as("file"), col("__i").as("pos"))
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val dvDir = new Path(new Path(dir, "_dvs"), s"dv-$stamp").toString
    // affected files need old + new positions in the NEW dv, so a
    // fully superseded old DV is safely vacuumable
    val affectedKeys = doomed.select(col("file")).distinct()
      .collect().map(_.getString(0)).toSet // O(#files) driver metadata
    if (affectedKeys.isEmpty) return (cur.version, 0L)
    val affectedEntries = cur.entries.filter(e =>
      affectedKeys.contains(dvKeyStr(bp, e.path)))
    val oldDvPaths = affectedEntries.flatMap(_.dv).distinct
    val oldForAffected =
      if (oldDvPaths.isEmpty) None
      else Some(readDvParquet(spark, oldDvPaths)
        .select(dvKeyCol(bp, col("file")).as("file"), col("pos"))
        .filter(col("file").isin(affectedKeys.toSeq: _*)))
    // PER-FILE layout (Delta keeps one DV blob per data file for the
    // same reason): hive-partition the DV by the hex of its key so a
    // reader lists and loads ONLY its own file's slice —
    // `dv-<stamp>/__k=<hex(fileKey)>/part-*.parquet` with (file, pos)
    // kept as DATA columns (every legacy consumer's
    // `spark.read.parquet(dvDir).select("file","pos")` still works).
    // pos-sorted within each slice for row-group locality. Hex keeps
    // the directory name ASCII-portable (POSIX-locale JVMs reject
    // non-ASCII paths).
    oldForAffected.map(doomed.unionByName(_)).getOrElse(doomed)
      .distinct()
      // 'h' prefix: a hex value can be all-digits, which hive
      // partition-type inference would read back as a number
      .withColumn("__k", concat_ws("", lit("h"),
        hex(encode(col("file"), "UTF-8"))))
      .repartition(col("__k"))
      .sortWithinPartitions(col("pos"))
      .write.partitionBy("__k").mode("errorifexists").parquet(dvDir)
    // per-file DELETED-position counts from the written DV (keys are
    // already table-relative — written by dvKeyCol above)
    val counts = readDvParquet(spark, Seq(dvDir))
      .groupBy(col("file")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    var guard = 0
    while (guard < 50) {
      val c = snapshot(spark, dir)
      val curByPath = c.entries.map(e => e.path -> e).toMap
      // conflict detection must cover RE-POINTS, not just removals: a
      // concurrent MOR delete removes+adds the SAME path (new DV), so
      // a liveness check alone would let this retry commit a DV built
      // from the PRE-RACE positions and silently resurrect the
      // winner's deletions. Require every affected entry's (dv,
      // dvRows) unchanged from the planning snapshot.
      affectedEntries.foreach { pe =>
        curByPath.get(pe.path) match {
          case None => sys.error(
            s"deleteRowsMor at $dir: ${pe.path} was removed by a " +
              "concurrent commit (write conflict; re-run the statement)")
          case Some(ce) =>
            require(ce.dv == pe.dv && ce.dvRows == pe.dvRows,
              s"deleteRowsMor at $dir: ${pe.path} was re-pointed by a " +
                "concurrent merge-on-read delete (write conflict; " +
                "re-run the statement)")
        }
      }
      val affected = c.entries.filter(e =>
        counts.contains(dvKeyStr(bp, e.path)))
      val newDeleted = counts.values.sum -
        affected.map(_.dvRows).sum
      val repointed = affected.map(e => e.copy(dv = Some(dvDir),
        dvRows = counts(dvKeyStr(bp, e.path))))
      tryCommit(spark, dir, c.version + 1,
        adds = repointed, removes = affected.map(_.path),
        mor = true) match {
        case Some(v) => return (v, newDeleted)
        case None => guard += 1
      }
    }
    sys.error(s"deleteRowsMor lost 50 commit races at $dir")
  }

  /** Append with SCHEMA EVOLUTION: columns of `df` not yet in the
    * table are added to the log schema (types of shared columns must
    * match — silent coercion is how tables rot); rows already on disk
    * read back with the new columns null. The evolved schema rides
    * the same atomic commit as the files. */
  def appendEvolve(spark: SparkSession, dir: String, df: DataFrame,
      statsCol: Option[String] = None): Int = {
    import org.apache.spark.sql.types.StructType
    // the evolved schema must be recomputed INSIDE the retry loop
    // from each freshly-read snapshot — computing it once from the
    // pre-race snapshot and retrying the commit against a re-read one
    // would let the loser of a concurrent appendEvolve race commit
    // the winner's files under a schema missing the winner's columns,
    // silently dropping that column from all reads
    def evolveFrom(cur: Snapshot): StructType = {
      val base = cur.schemaDdl.map(StructType.fromDDL)
        .getOrElse(spark.read.parquet(cur.paths: _*).schema)
      df.schema.fields.foreach { f0 =>
        base.fields.find(_.name == f0.name).foreach { have =>
          // same type, or a lossless widening in EITHER direction:
          // narrower incoming rides as-is (its files read back upcast,
          // like every narrow-era file), wider incoming WIDENS the log
          // type in this commit (Delta's mergeSchema + typeWidening)
          require(have.dataType == f0.dataType ||
              widens(f0.dataType, have.dataType) ||
              widens(have.dataType, f0.dataType),
            s"appendEvolve: column ${f0.name} is ${have.dataType.sql} " +
              s"in the log but ${f0.dataType.sql} in the append — " +
              "evolution adds columns and widens types (byte -> short " +
              "-> int -> long, float -> double), it never otherwise " +
              "coerces them")
        }
      }
      StructType(base.fields.map { have =>
        df.schema.fields.find(_.name == have.name) match {
          case Some(f0) if widens(have.dataType, f0.dataType) =>
            have.copy(dataType = f0.dataType)
          case _ => have
        }
      } ++
        df.schema.fields.filterNot(f0 => base.fieldNames.contains(f0.name)))
    }
    val pre = snapshot(spark, dir)
    val preSchema = evolveFrom(pre) // type-check early, before any write
    // with mapping active, genuinely NEW columns get fresh uuid
    // physical names (a dropped column's stored name must never be
    // re-bound to a new logical column — that would resurrect hidden
    // data); decided ONCE, because the files are written once
    val preBase = pre.schemaDdl
      .map(StructType.fromDDL).map(_.fieldNames.toSet)
      .getOrElse(preSchema.fieldNames.toSet)
    val mapAdd: Map[String, String] =
      if (pre.colMap.isEmpty) Map.empty
      else df.schema.fieldNames.filterNot(preBase.contains)
        .map(n => n ->
          s"col-${java.util.UUID.randomUUID().toString.take(8)}").toMap
    val newEntries = writeFiles(spark, dir, df, statsCol, pre.partCols,
      Nil, pre.colMap ++ mapAdd, pre.checks)
    var committed: Option[Int] = None
    var guard = 0
    while (committed.isEmpty && guard < 50) {
      val c = snapshot(spark, dir)
      // a concurrent evolve that bound one of OUR new logical names to
      // a DIFFERENT physical is a write conflict: our files carry ours
      mapAdd.foreach { case (l, p) =>
        c.colMap.get(l).foreach(cp => require(cp == p,
          s"appendEvolve at $dir: column $l was added concurrently " +
            "under a different stored name (write conflict; re-run)"))
      }
      committed = tryCommit(spark, dir, c.version + 1,
        adds = newEntries, removes = Vector.empty,
        schemaDdl = Some(evolveFrom(c).toDDL), statsCol = statsCol,
        colMap =
          if (pre.colMap.isEmpty) None else Some(c.colMap ++ mapAdd))
      guard += 1
    }
    committed.getOrElse(sys.error(s"appendEvolve lost 50 races at $dir"))
  }

  /** The atomic commit, TWO-PHASE: (1) write the FULL body to a
    * hidden temp file (leading dot — invisible to [[versions]], to
    * Spark file listings, and to the st45 change-feed tail); (2)
    * publish it under the next version's name with an atomic
    * create-if-absent of the COMPLETE file. A crash at any point
    * leaves either no `v<N>.json` or a complete one — orphan temps,
    * never a truncated version (a single create-then-write would
    * expose a window where the commit point exists with a partial
    * body, permanently wedging readers AND all later commits).
    * Returns the committed version, or None if another writer won
    * the race (caller re-reads latest and retries). On success,
    * folds a checkpoint when the version hits the cadence. */
  private def tryCommit(spark: SparkSession, dir: String, version: Int,
      adds: Vector[ManifestEntry],
      removes: Vector[String],
      compaction: Boolean = false,
      txn: Option[String] = None,
      schemaDdl: Option[String] = None,
      statsCol: Option[String] = None,
      partCols: Option[Seq[String]] = None,
      mor: Boolean = false,
      cdc: Option[String] = None,
      colMap: Option[Map[String, String]] = None,
      checks: Option[Map[String, String]] = None,
      hiveDirs: Option[Boolean] = None,
      cdcOn: Option[Boolean] = None): Option[Int] = {
    val f = fs(spark, dir)
    f.mkdirs(manifestDir(dir))
    val target = new Path(manifestDir(dir), manifestName(version))
    if (f.exists(target)) return None // lost before writing anything
    // IN-COMMIT timestamp: monotone per table (ties broken +1 against
    // the previous commit — Delta's inCommitTimestamps clamp), stamped
    // in the fixed header prefix so [[readHeaderTs]]'s bounded read
    // always sees it regardless of schema/col_map header size
    val commitTs = math.max(System.currentTimeMillis(),
      (if (version <= 1) None
       else readHeaderTs(spark, dir, version - 1)).map(_ + 1).getOrElse(0L))
    val hdr =
      (if (mor) s""", "mor": true""" else "") +
      hiveDirs.map(h => s""", "hive_dirs": $h""").getOrElse("") +
      cdcOn.map(c => s""", "cdc_on": $c""").getOrElse("") +
      cdc.map(c => s""", "cdc": "${jsonEscape(relativize(f, dir, c))}"""")
        .getOrElse("") +
      colMap.map(m => s""", "col_map": {${partBody(m)}}""").getOrElse("") +
      checks.map(m => s""", "checks": {${partBody(m)}}""").getOrElse("") +
      txn.map(t => s""", "txn": "${jsonEscape(t)}"""").getOrElse("") +
      schemaDdl.map(d => s""", "schema": "${jsonEscape(d)}"""").getOrElse("") +
      statsCol.map(c => s""", "stats_col": "${jsonEscape(c)}"""").getOrElse("") +
      partCols.map(cs => s""", "part_cols": "${
        cs.map(fieldEscape).mkString(",")}"""").getOrElse("")
    val body =
      s"""{"version": $version, "compaction": $compaction, "ts": $commitTs$hdr, "actions": [""" +
        "\n" +
      (adds.map { e =>
        val stats = (e.lo, e.hi) match {
          case (Some(l), Some(h)) => s""", "lo": $l, "hi": $h"""
          case _ => ""
        }
        val part =
          if (e.part.isEmpty) ""
          else s""", "part": {${partBody(e.part)}}"""
        val mstats =
          if (e.stats.isEmpty) ""
          else s""", "stats": {${statsBody(e.stats)}}"""
        val dvs = e.dv.map(d =>
          s""", "dv": "${jsonEscape(relativize(f, dir, d))}",""" +
            s""" "dv_rows": ${e.dvRows}""").getOrElse("")
        s"""  {"path": "${jsonEscape(relativize(f, dir, e.path))}",""" +
          s""" "rows": ${e.rows}$stats$part$mstats$dvs}"""
      } ++ removes.map { p =>
        s"""  {"path": "${jsonEscape(relativize(f, dir, p))}", "remove": true}"""
      }).mkString(",\n") + "\n]}"
    val tmp = new Path(manifestDir(dir),
      s".tmp-${manifestName(version)}." +
        java.util.UUID.randomUUID().toString.take(8))
    val out = f.create(tmp, /* overwrite = */ true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val won = publishIfAbsent(f, tmp, target)
    if (!won) { f.delete(tmp, false); return None } // our temp is garbage
    if (version % CheckpointEvery == 0) writeCheckpoint(spark, dir, version)
    Some(version)
  }

  /** Atomically give a COMPLETE temp file the target name iff the
    * target does not exist. On a local/posix store: hard link —
    * link(2) fails with EEXIST, an atomic create-if-absent whose
    * content is already full (then the temp name is dropped). On
    * HDFS-like stores: rename-without-replace, the same primitive
    * Delta's HDFS LogStore uses (HDFS rename returns false when the
    * destination exists). */
  private def publishIfAbsent(f: org.apache.hadoop.fs.FileSystem,
      tmp: Path, target: Path): Boolean = {
    val scheme = f.getUri.getScheme
    if (scheme == null || scheme == "file") {
      val tf = java.nio.file.Paths.get(f.makeQualified(tmp).toUri)
      val tg = java.nio.file.Paths.get(f.makeQualified(target).toUri)
      try {
        java.nio.file.Files.createLink(tg, tf)
        f.delete(tmp, false) // drop the temp name (and its crc sidecar)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      try f.rename(tmp, target)
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
    }
  }

  // ---- checkpoints ----------------------------------------------------

  /** One row of the checkpoint parquet: kind = "add" (a live file),
    * "meta" (schema + stats column), or "txn" (a seen marker) — the
    * Delta checkpoint's action-struct layout, one shard wide. */
  final case class CkptRow(kind: String,
      path: Option[String], rows: Option[Long],
      lo: Option[Long], hi: Option[Long],
      schema_ddl: Option[String], stats_col: Option[String],
      txn: Option[String], txn_version: Option[Int],
      // add rows: the entry's partition tuple / multi-col stats, in
      // the manifest's own inline-object grammar; meta row: the
      // comma-joined (fieldEscape'd) partition column list
      part_body: Option[String] = None,
      stats_body: Option[String] = None,
      part_cols: Option[String] = None,
      dv_path: Option[String] = None,
      dv_rows_del: Option[Long] = None,
      // meta row: the column mapping / CHECK constraints in the
      // part-body grammar
      col_map: Option[String] = None,
      checks_body: Option[String] = None,
      // meta row: hive-directory layout flag (partition values in the
      // log, not the files)
      hive_dirs: Option[Boolean] = None,
      // meta row: write-time CDC capture policy
      cdc_on: Option[Boolean] = None)

  private final case class CkptState(entries: Vector[ManifestEntry],
      schemaDdl: Option[String], statsCol: Option[String],
      txns: Map[String, Int], partCols: Seq[String],
      colMap: Map[String, String], checks: Map[String, String],
      hiveDirs: Boolean, cdcOn: Boolean)

  /** Checkpoints are immutable once `_SUCCESS` lands — cache them so
    * commit-loop snapshot resolution pays the parquet read once. */
  private val ckptCache =
    new java.util.concurrent.ConcurrentHashMap[String, CkptState]()

  /** Fold the log at `v` into `_checkpoints/v<N>` as parquet.
    * Best-effort and crash-safe: a lost race or a failure leaves at
    * worst a `_SUCCESS`-less directory that readers ignore; the log
    * remains the source of truth. `force` clears a partial attempt
    * first (vacuum's path — it must not proceed without the base). */
  def writeCheckpoint(spark: SparkSession, dir: String, v: Int,
      force: Boolean = false): Unit = {
    val f = fs(spark, dir)
    val target = new Path(ckptRoot(dir), ckptName(v))
    if (f.exists(new Path(target, "_SUCCESS"))) return // already done
    if (f.exists(target)) {
      if (!force) return // someone's attempt in flight; not our problem
      f.delete(target, true)
    }
    val snap = resolve(spark, dir, v)
    val rows =
      // stored form is table-relative, same as the deltas — the
      // checkpoint must survive a table rename too
      snap.entries.map(e => CkptRow("add",
        Some(relativize(f, dir, e.path)), Some(e.rows),
        e.lo, e.hi, None, None, None, None,
        if (e.part.isEmpty) None else Some(partBody(e.part)),
        if (e.stats.isEmpty) None else Some(statsBody(e.stats)),
        None,
        e.dv.map(relativize(f, dir, _)),
        e.dv.map(_ => e.dvRows))) ++
      Vector(CkptRow("meta", None, None, None, None,
        snap.schemaDdl, snap.statsCol, None, None, None, None,
        if (snap.partCols.isEmpty) None
        else Some(snap.partCols.map(fieldEscape).mkString(",")),
        None, None,
        if (snap.colMap.isEmpty) None else Some(partBody(snap.colMap)),
        if (snap.checks.isEmpty) None else Some(partBody(snap.checks)),
        if (snap.hiveDirs) Some(true) else None,
        if (snap.cdcOn) Some(true) else None)) ++
      snap.txns.toVector.sortBy(_._2).map { case (t, tv) =>
        CkptRow("txn", None, None, None, None, None, None,
          Some(t), Some(tv)) }
    try {
      import spark.implicits._
      spark.createDataset(rows).coalesce(1)
        .write.mode("errorifexists").parquet(target.toString)
    } catch {
      case scala.util.control.NonFatal(_) => () // raced or transient: the
        // log still resolves without this checkpoint
    }
  }

  private def readCheckpoint(spark: SparkSession, dir: String,
      v: Int): CkptState = {
    val key = fs(spark, dir)
      .makeQualified(new Path(ckptRoot(dir), ckptName(v))).toString
    val hit = ckptCache.get(key)
    if (hit != null) return hit
    val df0 = spark.read.parquet(key)
    // checkpoints written before the partition/multi-stats columns
    // existed read back with them absent — select with null fallbacks
    // so old checkpoints keep resolving
    val want = Seq("kind", "path", "rows", "lo", "hi", "schema_ddl",
      "stats_col", "txn", "txn_version", "part_body", "stats_body",
      "part_cols", "dv_path", "dv_rows_del", "col_map", "checks_body",
      "hive_dirs", "cdc_on")
    val have = df0.columns.toSet
    val rows = df0.select(want.map(c =>
        if (have.contains(c)) org.apache.spark.sql.functions.col(c)
        else org.apache.spark.sql.functions.lit(null).as(c)): _*)
      .collect() // O(#files) metadata — the same driver-side planning
                 // read Delta's snapshot reconstruction performs
    val entries = Vector.newBuilder[ManifestEntry]
    var ddl: Option[String] = None
    var statsCol: Option[String] = None
    var txns = Map.empty[String, Int]
    var partCols: Seq[String] = Nil
    var colMap: Map[String, String] = Map.empty
    var checks: Map[String, String] = Map.empty
    var hiveDirs: Boolean = false
    var cdcOn: Boolean = false
    rows.foreach { r =>
      def optS(i: Int) = if (r.isNullAt(i)) None else Some(r.getString(i))
      def optL(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      r.getString(0) match {
        case "add" =>
          entries += ManifestEntry(r.getString(1), r.getLong(2),
            optL(3), optL(4),
            optS(9).map(parsePartBody).getOrElse(Map.empty),
            optS(10).map(parseStatsBody).getOrElse(Map.empty),
            optS(12), optL(13).getOrElse(0L))
        case "meta" =>
          ddl = optS(5); statsCol = optS(6)
          partCols = optS(11).map(_.split(",", -1).toSeq
            .filter(_.nonEmpty).map(jsonUnescape)).getOrElse(Nil)
          colMap = optS(14).map(parsePartBody).getOrElse(Map.empty)
          checks = optS(15).map(parsePartBody).getOrElse(Map.empty)
          hiveDirs = !r.isNullAt(16) && r.getBoolean(16)
          cdcOn = !r.isNullAt(17) && r.getBoolean(17)
        case "txn" =>
          txns += r.getString(7) -> r.getInt(8)
      }
    }
    val st = CkptState(entries.result(), ddl, statsCol, txns, partCols,
      colMap, checks, hiveDirs, cdcOn)
    if (ckptCache.size > 8) ckptCache.clear() // crude bound; entries are
                                              // immutable so only a perf hit
    ckptCache.put(key, st)
    st
  }

  // ---- writers --------------------------------------------------------

  /** Write `df` as new immutable data files and return their entries:
    * the written files' footers ([[entriesFromDir]]) yield every
    * file's row count, (when `statsCol` is set) its min/max,
    * per-`statsCols` multi-column min/max, and (when `partitionCols`
    * is set) the file's partition tuple — the per-file statistics
    * pass every table format's writer performs.
    *
    * When no `statsCols` are requested, the writer collects [lo, hi]
    * for the first [[AutoStatsCols]] INTEGRAL leaf columns anyway
    * (Delta collects min/max for the first N columns unconditionally)
    * — that default is what makes an AD-HOC range predicate prune
    * files from the manifest without any DDL ever having named the
    * column. Integral only: the stats grammar is (long, long), and a
    * column the grammar can't represent exactly must not prune
    * (strings ride it through an order-preserving prefix encoding).
    *
    * Partitioned layout: the writer partitions by STRING COPIES
    * (`__p_<col>`) of the partition columns, so the hive-style
    * directories exist for operators that want them while the REAL
    * columns stay inside every data file — per-file reads (time
    * travel, change feed, compaction) never need basePath
    * reconstruction. The partition tuple recorded in the log is read
    * back from the `__p_` directory this write itself chose for the
    * file, so every row of the file carries it. */
  private def writeFiles(spark: SparkSession, dir: String,
      df0: DataFrame, statsCol: Option[String],
      partitionCols: Seq[String] = Nil,
      statsCols: Seq[String] = Nil,
      colMap: Map[String, String] = Map.empty,
      checks: Map[String, String] = Map.empty): Vector[ManifestEntry] = {
    import org.apache.spark.sql.functions._
    // column-mapped tables store PHYSICAL names in every file: rename
    // the frame before writing, collect the stats in physical space,
    // and translate the recorded keys back to logical at the
    // end (the manifest speaks logical; the files speak physical)
    def phys(c: String): String = colMap.getOrElse(c, c)
    val df = if (colMap.isEmpty) df0 else df0.withColumnsRenamed(colMap)
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val sub = new Path(dir, s"data-$stamp").toString
    partitionCols.map(phys).foreach(c => require(df.columns.contains(c),
      s"partition column $c is not in the frame (${df.columns.mkString(",")})"))
    // the __p_ copies are HEX-encoded cast(col as string): hex keeps
    // every value — unicode, quotes, slashes — a portable ASCII path
    // segment on any filesystem charset, and decodes back to exactly
    // the string the manifest records as the partition value
    val physParts = partitionCols.map(phys)
    if (physParts.isEmpty) df.write.mode("errorifexists").parquet(sub)
    else df.withColumns(physParts.map(c =>
        s"__p_$c" -> hex(encode(col(c).cast("string"), "UTF-8"))).toMap)
      .write.partitionBy(physParts.map(c => s"__p_$c"): _*)
      .mode("errorifexists").parquet(sub)
    // CHECK enforcement runs over the WRITTEN bytes (a
    // non-deterministic upstream could pass a pre-write validation
    // and still write violating rows): one aggregate pass over the
    // NEW files only, before anything is committed — a rejected
    // write leaves orphan files for vacuum, like a crash.
    // Content-preserving maintenance passes Map.empty (its rows were
    // validated when they first arrived).
    if (checks.nonEmpty) {
      val back0 = spark.read.parquet(sub)
      val backL =
        if (colMap.isEmpty) back0
        else back0.withColumnsRenamed(colMap.map(_.swap))
      enforceChecks(spark, backL, checks, s"write to $dir")
    }
    val effectiveStats =
      if (statsCols.nonEmpty) statsCols.map(phys)
      else autoStatsFor(df.schema, statsCol.map(phys), physParts)
    val raw = entriesFromDir(spark, sub, statsCol.map(phys), physParts,
      effectiveStats)
    if (colMap.isEmpty) raw
    else {
      val back = colMap.map(_.swap)
      def logi(c: String): String = back.getOrElse(c, c)
      raw.map(e => e.copy(
        part = e.part.map { case (k, v) => logi(k) -> v },
        stats = e.stats.map { case (k, v) => logi(k) -> v }))
    }
  }

  /** Enforce the table's CHECK constraints over incoming LOGICAL rows
    * in ONE aggregate pass (SQL standard semantics: a NULL predicate
    * PASSES; a violation is predicate = FALSE). Throws naming the
    * first violated constraint and its violation count — the caller
    * never commits, so a rejected write leaves only orphan files for
    * vacuum, exactly like a crashed one. */
  private def enforceChecks(spark: SparkSession, df: DataFrame,
      checks: Map[String, String], context: String): Unit = {
    import org.apache.spark.sql.functions._
    if (checks.isEmpty) return
    val named = checks.toSeq
    val aggs = named.zipWithIndex.map { case ((_, p), i) =>
      sum(when(not(coalesce(expr(p), lit(true))), 1L).otherwise(0L))
        .as(s"__c$i") }
    val row = df.agg(aggs.head, aggs.tail: _*).first()
    named.zipWithIndex.foreach { case ((n, p), i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (bad > 0) throw new IllegalArgumentException(
        s"$context: CHECK constraint $n ($p) violated by $bad " +
          "incoming row(s) — nothing was committed")
    }
  }

  /** The first [[AutoStatsCols]] integral leaf columns not already
    * covered by the declared stats column or the partition tuple. */
  private def autoStatsFor(schema: org.apache.spark.sql.types.StructType,
      statsCol: Option[String],
      partitionCols: Seq[String]): Vector[String] = {
    import org.apache.spark.sql.types._
    schema.fields.iterator
      .filter(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        // strings ride the same (long, long) stats grammar through the
        // order-preserving prefix encoding ([[stringStatFloor]]/Ceil)
        case StringType => true
        case _ => false
      })
      .map(_.name)
      .filterNot(n => statsCol.contains(n) || partitionCols.contains(n))
      .take(AutoStatsCols).toVector
  }

  /** Order-preserving 8-byte-prefix encoding of a string into the
    * stats grammar's long space: the first 8 UTF-8 bytes as an
    * unsigned big-endian number, sign-bit-flipped so SIGNED long
    * comparisons agree with Spark's string ordering (UTF8String
    * compares bytes unsigned, lexicographically, shorter-prefix
    * smaller — exactly big-endian zero-padded numeric order).
    * `stringStatFloor` pads missing bytes low (a LOWER bound for
    * every string sharing the prefix); [[stringStatCeil]] rounds a
    * TRUNCATED prefix up by one (an UPPER bound). A file's string
    * column then records [floor(min), ceil(max)] and a predicate's
    * literal window [floor(lo), ceil(hi)] — both monotone in string
    * order, so interval overlap is a CONSERVATIVE file filter (same
    * contract as Delta's truncated string stats with tie-breaker). */
  private[graft] def stringStatFloor(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var v = 0L
    var i = 0
    while (i < 8) {
      v = (v << 8) | (if (i < b.length) b(i) & 0xffL else 0L)
      i += 1
    }
    v ^ Long.MinValue // flip the sign bit: unsigned order as signed
  }

  private[graft] def stringStatCeil(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val floor = stringStatFloor(s)
    if (b.length <= 8) floor // exact: padding low IS the value
    else if (floor == Long.MaxValue) Long.MaxValue // saturate
    else floor + 1 // truncated: everything with this prefix is below
  }

  /** Upper bound of the WHOLE `startsWith(p)` family in the encoded
    * space: extensions of a short prefix can fill the remaining bytes
    * of the 8-byte window arbitrarily high, so the bound pads them
    * with 0xFF (not +1 — that only covers prefixes already 8+ bytes
    * long, where truncation makes every extension collapse onto the
    * same window). */
  private[graft] def stringPrefixFamilyCeil(p: String): Long = {
    val b = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (b.isEmpty) return Long.MaxValue // startsWith("") matches all
    val floor = stringStatFloor(p)
    if (b.length >= 8) {
      if (floor == Long.MaxValue) Long.MaxValue else floor + 1
    } else {
      // fill the unused low bytes with 0xFF: every extension of the
      // prefix encodes at or below this (the sign-bit flip lives in
      // the top byte, which a non-empty prefix owns)
      floor | ((1L << (8 * (8 - b.length))) - 1)
    }
  }

  /** The per-file statistics of an already-written directory — shared
    * by [[writeFiles]] and the DSv2 replace-data commit (whose files
    * the EXECUTORS wrote through Spark's native parquet write path).
    *
    * Everything comes from each file's PARQUET FOOTER, read
    * driver-side: the write job already put row counts and column
    * min/max there, so no Spark action runs here. This is what a
    * WriteJobStatsTracker buys Delta, obtained from the footer the
    * tracker would have populated anyway. Per field:
    *   - rows: the row groups' counts, summed;
    *   - a stats column's [lo, hi]: its row groups' min/max, folded.
    *     Integral min/max ARE min/max(cast(col as long)); string
    *     min/max compare unsigned-lexicographic, the order UTF8String
    *     uses, and enter the grammar through [[stringStatFloor]] /
    *     [[stringStatCeil]] (both monotone, so folding encoded bounds
    *     equals encoding folded ones; a writer that truncates footer
    *     strings still leaves a lower and an upper bound). A column
    *     of any other type, an all-null one, or one where any row
    *     group has no statistic (parquet drops min/max of values over
    *     4 KB and writes none for INT96 timestamps) records NO bounds
    *     for the file — the conservative keep that pruning applies;
    *   - the partition tuple: the `__p_<col>=<hex>` directory
    *     [[writeFiles]] laid the file under. Its value is the hex of
    *     cast(col as string), so every partition type reads the same.
    */
  private[graft] def entriesFromDir(spark: SparkSession, sub: String,
      statsCol: Option[String], partitionCols: Seq[String] = Nil,
      statsCols: Seq[String] = Nil): Vector[ManifestEntry] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.column.statistics.Statistics
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.metadata.BlockMetaData
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation.{
      IntLogicalTypeAnnotation, StringLogicalTypeAnnotation}
    import org.apache.parquet.schema.{MessageType, PrimitiveType}
    import PrimitiveType.PrimitiveTypeName.{BINARY, INT32, INT64}
    val f = fs(spark, sub)
    val root = new Path(sub)
    if (!f.exists(root)) return Vector.empty
    val conf = spark.sessionState.newHadoopConf()
    val files = {
      val it = f.listFiles(root, true)
      val buf = Vector.newBuilder[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) {
        val st = it.next()
        val n = st.getPath.getName
        if (n.endsWith(".parquet") && !n.startsWith("_") &&
          !n.startsWith(".")) buf += st
      }
      buf.result()
    }
    def primitive(schema: MessageType, c: String): Option[PrimitiveType] =
      Some(c).filter(schema.containsField).map(c => schema.getType(Seq(c): _*))
        .filter(_.isPrimitive).map(_.asPrimitiveType)
    def isString(schema: MessageType, c: String): Boolean =
      primitive(schema, c).exists(_.getLogicalTypeAnnotation
        .isInstanceOf[StringLogicalTypeAnnotation])
    val longs: Statistics[_] => (Long, Long) = st =>
      (st.genericGetMin.asInstanceOf[Number].longValue,
        st.genericGetMax.asInstanceOf[Number].longValue)
    val strings: Statistics[_] => (Long, Long) = { st =>
      def str(v: Any) = v.asInstanceOf[Binary].toStringUsingUTF8
      (stringStatFloor(str(st.genericGetMin)),
        stringStatCeil(str(st.genericGetMax)))
    }
    // how a row group's min/max of column c enter the stats grammar;
    // None for every type the grammar does not hold exactly
    def encoder(schema: MessageType, c: String)
        : Option[Statistics[_] => (Long, Long)] =
      primitive(schema, c).flatMap(pt =>
        (pt.getPrimitiveTypeName, pt.getLogicalTypeAnnotation) match {
          case (INT32 | INT64, null) => Some(longs)
          case (INT32 | INT64, i: IntLogicalTypeAnnotation)
              if i.isSigned => Some(longs)
          case (BINARY, _: StringLogicalTypeAnnotation) => Some(strings)
          case _ => None
        })
    def fileEntry(fst: org.apache.hadoop.fs.FileStatus): Option[ManifestEntry] = {
      val rdr = ParquetFileReader.open(HadoopInputFile.fromStatus(fst, conf))
      val footer = try rdr.getFooter finally rdr.close()
      val blocks = footer.getBlocks.asScala.toSeq
      val nRows = blocks.map(_.getRowCount).sum
      if (nRows == 0L) return None // an empty file enters no manifest
      val schema = footer.getFileMetaData.getSchema
      def chunkStats(b: BlockMetaData, c: String): Option[Statistics[_]] =
        b.getColumns.asScala.find(cc => cc.getPath.size == 1 &&
            cc.getPath.toDotString == c)
          .flatMap(cc => Option(cc.getStatistics)).filterNot(_.isEmpty)
      def bounds(c: String): Option[(Long, Long)] =
        encoder(schema, c).flatMap { enc =>
          // per row group: its statistic, unless it was dropped (an
          // all-null group legitimately has no min/max)
          val groups = blocks.map(b => chunkStats(b, c).filter(st =>
            st.hasNonNullValue ||
              st.isNumNullsSet && st.getNumNulls == b.getRowCount))
          if (groups.exists(_.isEmpty)) None
          else groups.flatten.filter(_.hasNonNullValue).map(enc)
            .reduceOption((a, b) => (a._1 min b._1, a._2 max b._2))
        }
      val dirs: Map[String, String] =
        Iterator.iterate(fst.getPath.getParent)(_.getParent)
          .takeWhile(p => p != null && p.getName.startsWith("__p_") &&
            p.getName.contains('='))
          .map { p =>
            val (k, v) = p.getName.splitAt(p.getName.indexOf('='))
            hiveUnescape(k.stripPrefix("__p_")) -> v.tail
          }.toMap
      val part = partitionCols.map { c =>
        val hex = dirs.getOrElse(c, throw new IllegalArgumentException(
          s"${fst.getPath} is not under a __p_$c= partition directory"))
        // Spark writes an empty value under the null one's name: only a
        // file whose footer counts no null in c holds the empty string
        val nullDir = hex == "__HIVE_DEFAULT_PARTITION__"
        require(!nullDir || blocks.forall(b => chunkStats(b, c)
            .exists(st => st.isNumNullsSet && st.getNumNulls == 0)),
          s"partition column $c has a NULL value — partition tuples " +
            "must be non-null (filter or fill before writing)")
        c -> (if (nullDir) "" else new String(
          java.util.HexFormat.of.parseHex(hex),
          java.nio.charset.StandardCharsets.UTF_8))
      }.toMap
      // a string stats column records ENCODED bounds under its own
      // name in the multi-stats map, never the legacy numeric lo/hi
      // pair (mixing the two spaces in one slot let a numeric-parsing
      // string statsCol prune wrongly; ADVICE r11)
      val statsColIsStr = statsCol.exists(isString(schema, _))
      val mstats = (statsCols ++ statsCol.filter(_ => statsColIsStr))
        .flatMap(c => bounds(c).map(c -> _)).toMap
      val loHi = statsCol.filterNot(_ => statsColIsStr).flatMap(bounds)
      Some(ManifestEntry(fst.getPath.toString, nRows,
        loHi.map(_._1), loHi.map(_._2), part, mstats))
    }
    // Footers are independent few-KB metadata reads: a wide write
    // (hundreds of files per commit) must not pay a sequential
    // open+seek+read per file on the driver. Small directories stay on
    // the calling thread — below ~8 files the pool's spin-up costs more
    // than it saves. The pool is bounded (16) because this is
    // driver-side metadata I/O, not data work; a table beyond ~10k
    // files per commit should move this fold into an executor job.
    val perFile: Vector[Option[ManifestEntry]] =
      if (files.length < 8) files.map(fileEntry)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, files.length))
        try {
          val futs = files.map(fst => pool.submit(
            new java.util.concurrent.Callable[Option[ManifestEntry]] {
              override def call(): Option[ManifestEntry] = fileEntry(fst)
            }))
          // surface a worker's own exception (a null partition's
          // IllegalArgumentException) exactly as the calling thread would
          futs.map { fut =>
            try fut.get()
            catch {
              case e: java.util.concurrent.ExecutionException =>
                throw e.getCause
            }
          }
        } finally pool.shutdownNow()
      }
    perFile.flatten.sortBy(_.path)
  }

  /** Initialize an EMPTY table at version 1 — CREATE TABLE without
    * data, the SQL catalog's birth state: zero files, the schema in
    * the log from the first commit. */
  def createEmpty(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      statsCol: Option[String] = None,
      partitionBy: Seq[String] = Nil,
      enableCdc: Boolean = false): Int = {
    require(versions(spark, dir).isEmpty, s"table already exists at $dir")
    partitionBy.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c is not in the schema"))
    tryCommit(spark, dir, 1, adds = Vector.empty, removes = Vector.empty,
      schemaDdl = Some(schema.toDDL), statsCol = statsCol,
      partCols = if (partitionBy.isEmpty) None else Some(partitionBy),
      cdcOn = if (enableCdc) Some(true) else None)
      .getOrElse(sys.error(s"concurrent create at $dir"))
  }

  /** Initialize a table at version 1 (fails if already initialized).
    * The schema always rides the log from birth. `partitionBy` makes
    * the table PARTITIONED: every file carries exactly one partition
    * tuple, recorded in the log, and every later write keeps the
    * layout. `statsCols` records multi-column [lo, hi] file stats. */
  def create(spark: SparkSession, dir: String, df: DataFrame,
      statsCol: Option[String] = None,
      partitionBy: Seq[String] = Nil,
      statsCols: Seq[String] = Nil,
      enableCdc: Boolean = false): Int = {
    require(versions(spark, dir).isEmpty, s"table already exists at $dir")
    val entries = writeFiles(spark, dir, df, statsCol, partitionBy, statsCols)
    tryCommit(spark, dir, 1, adds = entries, removes = Vector.empty,
      schemaDdl = Some(df.schema.toDDL), statsCol = statsCol,
      partCols = if (partitionBy.isEmpty) None else Some(partitionBy),
      cdcOn = if (enableCdc) Some(true) else None)
      .getOrElse(sys.error(s"concurrent create at $dir"))
  }

  /** Flip the write-time CDC capture policy (Delta's
    * `enableChangeDataFeed` table property, OPT-IN there too): a
    * metadata-only commit. From the next commit on, COW DML pays the
    * capture diff and the row-level feed shows exact pre/post images;
    * commits made while OFF surface as whole-file re-inserts — the
    * feed never lies, it just loses row-level precision for the
    * uncaptured era. */
  def setCdcEnabled(spark: SparkSession, dir: String,
      on: Boolean): Int = {
    var guard = 0
    while (guard < 50) {
      val cur = snapshot(spark, dir)
      if (cur.cdcOn == on) return cur.version // idempotent
      tryCommit(spark, dir, cur.version + 1,
        adds = Vector.empty, removes = Vector.empty,
        cdcOn = Some(on)) match {
        case Some(v) => return v
        case None => guard += 1
      }
    }
    sys.error(s"setCdcEnabled lost 50 races at $dir")
  }

  /** Append `df` as a new version (retries past concurrent commits —
    * an append conflicts with nothing: it only adds files). With
    * `txn` set, the append is IDEMPOTENT: if the marker was ever
    * committed, nothing is written and that version is returned —
    * the exactly-once contract a streaming sink's (queryId, batchId)
    * redelivery needs (Delta's txn action; markers persist through
    * checkpoints, so the dedupe window survives vacuum). */
  def append(spark: SparkSession, dir: String, df: DataFrame,
      statsCol: Option[String] = None,
      txn: Option[String] = None): Int = {
    txn.flatMap(t => txnVersion(spark, dir, t)) match {
      case Some(v) => return v
      case None =>
    }
    // a partitioned table's appends keep its layout automatically —
    // the partition spec (and the column mapping) is table metadata,
    // not a per-write choice
    val (tablePartCols, tableColMap, tableChecks) =
      if (versions(spark, dir).isEmpty)
        (Nil: Seq[String], Map.empty[String, String],
          Map.empty[String, String])
      else {
        val sn = snapshot(spark, dir)
        (sn.partCols, sn.colMap, sn.checks)
      }
    val newEntries = writeFiles(spark, dir, df, statsCol, tablePartCols,
      Nil, tableColMap, tableChecks)
    var committed: Option[Int] = None
    var guard = 0
    while (committed.isEmpty && guard < 50) {
      // the marker may have landed while we were writing files (a
      // concurrent retry of the same batch): re-check before commit
      txn.flatMap(t => txnVersion(spark, dir, t)) match {
        case Some(v) => return v
        case None =>
      }
      // appending to an uninitialized table bootstraps v1 — the shape
      // a streaming sink needs (its first batch IS the create)
      val bootstrap = versions(spark, dir).isEmpty
      val cur =
        if (bootstrap) Snapshot(0, Vector.empty)
        else snapshot(spark, dir)
      committed = tryCommit(spark, dir, cur.version + 1,
        adds = newEntries, removes = Vector.empty, txn = txn,
        schemaDdl = if (bootstrap) Some(df.schema.toDDL) else None,
        statsCol = statsCol.filterNot(cur.statsCol.contains))
      guard += 1
    }
    committed.getOrElse(sys.error(s"append lost 50 commit races at $dir"))
  }

  /** The lossless type promotions every read path performs at SCAN
    * time (pinned by WidenProbeSpec against Spark's own parquet
    * readers — both the vectorized batch reader and the row-based DV
    * readers go through the same ParquetScan machinery): the integral
    * chain byte → short → int → long, and float → double. Exactly
    * Delta 3.x `typeWidening`'s core set; the engine relies on nothing
    * beyond what the reader promotes natively, so widening is a
    * METADATA commit and zero data bytes are rewritten. */
  private[graft] def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** Type widening (Delta 3.x `ALTER TABLE … ALTER COLUMN … TYPE`):
    * re-declare a column at a WIDER type in the log — a metadata-only
    * commit; the narrow-era files stay exactly where they are and
    * every reader upcasts them at scan time ([[widens]] for the
    * admitted lattice; anything else — narrowing, numeric → string —
    * is refused, the log never coerces). Time travel still shows each
    * era's own schema, file statistics stay valid (the integral chain
    * records in the same long space; floats never carry stats), and
    * compaction naturally retires the narrow era by rewriting through
    * the wide read schema. */
  def widenColumn(spark: SparkSession, dir: String, name: String,
      to: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.types.StructType
    var committed: Option[Int] = None
    var guard = 0
    while (committed.isEmpty && guard < 50) {
      val cur = snapshot(spark, dir)
      val base = StructType.fromDDL(cur.schemaDdl.getOrElse(sys.error(
        s"widenColumn: no log schema at $dir — CONVERT or OPTIMIZE " +
          "first (footer-schema tables cannot evolve)")))
      val f = base.fields.find(_.name == name).getOrElse(sys.error(
        s"widenColumn: no column $name at $dir " +
          s"(have ${base.fieldNames.mkString(", ")})"))
      require(widens(f.dataType, to),
        s"widenColumn: ${f.dataType.sql} -> ${to.sql} is not a " +
          "lossless widening (byte -> short -> int -> long, " +
          "float -> double) — the log never coerces")
      val evolved = StructType(base.fields.map(x =>
        if (x.name == name) x.copy(dataType = to) else x))
      committed = tryCommit(spark, dir, cur.version + 1,
        adds = Vector.empty, removes = Vector.empty,
        schemaDdl = Some(evolved.toDDL))
      guard += 1
    }
    committed.getOrElse(sys.error(s"widenColumn lost 50 races at $dir"))
  }

  /** Schema-only evolution commit: add columns to the log schema with
    * NO files (ALTER TABLE ADD COLUMN's shape — appendEvolve's
    * validation, zero data). Rows already on disk read back with the
    * new columns null. */
  def evolveSchema(spark: SparkSession, dir: String,
      add: org.apache.spark.sql.types.StructType): Int = {
    import org.apache.spark.sql.types.StructType
    var committed: Option[Int] = None
    var guard = 0
    while (committed.isEmpty && guard < 50) {
      val cur = snapshot(spark, dir)
      val base = cur.schemaDdl.map(StructType.fromDDL)
        .getOrElse(spark.read.parquet(cur.paths: _*).schema)
      add.fields.foreach { f0 =>
        base.fields.find(_.name == f0.name).foreach { have =>
          require(have.dataType == f0.dataType,
            s"evolveSchema: column ${f0.name} is ${have.dataType.sql} " +
              s"in the log but ${f0.dataType.sql} in the change")
        }
      }
      val newFields =
        add.fields.filterNot(f0 => base.fieldNames.contains(f0.name))
      val evolved = StructType(base.fields ++ newFields)
      committed = tryCommit(spark, dir, cur.version + 1,
        adds = Vector.empty, removes = Vector.empty,
        schemaDdl = Some(evolved.toDDL),
        // mapping active: fresh stored names for the new columns (a
        // dropped column's stored name must never be re-bound)
        colMap =
          if (cur.colMap.isEmpty) None
          else Some(cur.colMap ++ newFields.map(f => f.name ->
            s"col-${java.util.UUID.randomUUID().toString.take(8)}")))
      guard += 1
    }
    committed.getOrElse(sys.error(s"evolveSchema lost 50 races at $dir"))
  }

  /** CONVERT TO (Delta's CONVERT TO DELTA): adopt an EXISTING plain
    * parquet directory as version 1 of a manifest table — zero bytes
    * rewritten, the files stay exactly where they are (inside the
    * table dir, so the log records them relative and the table stays
    * relocatable). Row counts come from the parquet FOOTERS (a
    * metadata pass over O(files), parallelized across driver threads —
    * the same planning read Delta's convert makes; at 100 TB the files
    * are big, not many, and no data byte is touched). File stats are
    * NOT synthesized (no [lo, hi] → no pruning until OPTIMIZE/ZORDER
    * rewrites — conservative, never wrong). Hive-layout directories
    * (`col=value` segments) are REFUSED: their partition values live
    * in dir names, not in the files, and this format's contract is
    * self-contained files — read + create is the rewrite path for
    * those. */
  def convert(spark: SparkSession, dir: String): Int = {
    require(versions(spark, dir).isEmpty,
      s"convert: $dir is already a manifest table")
    val f = fs(spark, dir)
    val root = new Path(dir)
    require(f.exists(root), s"convert: no directory at $dir")
    def walk(p: Path): Vector[Path] = {
      val st = f.getFileStatus(p)
      if (st.isDirectory) {
        if (p.getName.startsWith("_")) Vector.empty
        else f.listStatus(p).toVector.flatMap(s => walk(s.getPath))
      } else if (p.getName.endsWith(".parquet") &&
        !p.getName.startsWith("_") && !p.getName.startsWith("."))
        Vector(p)
      else Vector.empty
    }
    val files = walk(root)
    require(files.nonEmpty, s"convert: no parquet files under $dir")
    val conf = spark.sparkContext.hadoopConfiguration
    import scala.collection.parallel.CollectionConverters._
    def footerRows(p: Path): Long = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(p, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }
    // HIVE LAYOUT (Delta's CONVERT TO DELTA PARTITIONED BY shape): the
    // `col=value` directory names ARE the partition values — parse
    // them into per-file tuples, infer the full schema (Spark's own
    // partition inference supplies the partition columns' types), and
    // commit with the hive_dirs flag so reads fill the partition
    // columns from the LOG per file (the files themselves do not
    // store them). Zero bytes of data move.
    val basePath = f.makeQualified(root).toUri.getPath
    def hiveTuple(p: Path): Seq[(String, String)] = {
      val rel = p.toUri.getPath.stripPrefix(basePath + "/")
      rel.split("/").dropRight(1).toSeq
        .filter(_.contains("="))
        .map { seg =>
          val i = seg.indexOf('=')
          (seg.substring(0, i), hiveUnescape(seg.substring(i + 1)))
        }
    }
    val firstTuple = hiveTuple(files.head)
    if (firstTuple.nonEmpty) {
      val partColNames = firstTuple.map(_._1)
      files.foreach { p =>
        val t = hiveTuple(p)
        require(t.map(_._1) == partColNames,
          s"convert: inconsistent hive layout — ${files.head} has " +
            s"partition dirs (${partColNames.mkString(",")}) but $p " +
            s"has (${t.map(_._1).mkString(",")})")
        t.foreach { case (c, v) =>
          require(v != "__HIVE_DEFAULT_PARTITION__",
            s"convert: $p carries a NULL partition value for $c — " +
              "partition tuples must be non-null")
        }
      }
      // Spark's own read infers the partition columns and their types
      // (appended after the file columns — the order the log records)
      val full = spark.read.parquet(dir).schema
      partColNames.foreach(c => require(full.fieldNames.contains(c),
        s"convert: partition inference did not surface $c " +
          s"(inferred: ${full.fieldNames.mkString(",")})"))
      val entries = files.par.map { p =>
        val part = hiveTuple(p).map { case (c, v) =>
          c -> canonPartValue(v, full(c).dataType, p.toString)
        }.toMap
        ManifestEntry(p.toString, footerRows(p), part = part)
      }.toVector
      return tryCommit(spark, dir, 1, adds = entries,
        removes = Vector.empty, schemaDdl = Some(full.toDDL),
        partCols = Some(partColNames), hiveDirs = Some(true))
        .getOrElse(sys.error(s"convert lost the v1 commit race at $dir"))
    }
    files.foreach(p => require(!p.toString.contains("="),
      s"convert: $p has a col=value segment below non-partition " +
        "directories — not a hive layout this convert understands"))
    val entries = files.par.map(p =>
      ManifestEntry(p.toString, footerRows(p))).toVector
    val schema = spark.read.parquet(dir).schema
    tryCommit(spark, dir, 1, adds = entries, removes = Vector.empty,
      schemaDdl = Some(schema.toDDL))
      .getOrElse(sys.error(s"convert lost the v1 commit race at $dir"))
  }

  /** Hive path-segment unescape (`%xx` only — hive never encodes '+'
    * as space, so URLDecoder would corrupt values). */
  private def hiveUnescape(s: String): String = {
    if (!s.contains('%')) return s
    val bos = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length + 1 && i + 3 <= s.length) {
        bos.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        i += 3
      } else { bos.write(c.toInt); i += 1 }
    }
    new String(bos.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Canonicalize a hive directory value into the same string form
    * the engine's writers record (CAST(value AS type) then back to
    * string) — '05' and '5' must not be two different partition keys
    * for an int column, or equality pruning would drop real files. */
  private def canonPartValue(raw: String,
      dt: org.apache.spark.sql.types.DataType, at: String): String = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.StringType
    if (dt == StringType) return raw
    val typed = Cast(Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(raw),
      StringType), dt, Some("UTC")).eval(null)
    require(typed != null,
      s"convert: partition value '$raw' at $at does not parse as $dt")
    val back = Cast(Literal.create(typed, dt), StringType, Some("UTC"))
      .eval(null)
    back.toString
  }

  /** PARTITION EVOLUTION (Iceberg's headline spec-change): re-declare
    * the table's partition columns in a METADATA commit — zero files
    * move. Files written before the change keep their own partition
    * tuples (or none); files after it carry the new spec. Reads need
    * no migration because manifest partition pruning is PER-ENTRY:
    * a pushed equality on a partition column drops exactly the files
    * whose tuple excludes it and conservatively KEEPS files that never
    * recorded that column ([[graft.sources.ManifestFileIndex]]'s
    * `partOk`), so results stay exact across mixed-spec snapshots and
    * pruning sharpens as old files compact away. `Nil` resets to
    * unpartitioned (the log's Some(empty) reset, same as overwrite). */
  def evolvePartitioning(spark: SparkSession, dir: String,
      newCols: Seq[String]): Int = {
    import org.apache.spark.sql.types.StructType
    var guard = 0
    while (guard < 50) {
      val cur = snapshot(spark, dir)
      val schema = cur.schemaDdl.map(StructType.fromDDL).getOrElse(
        sys.error(s"evolvePartitioning: no log schema at $dir"))
      newCols.foreach(c => require(schema.fieldNames.contains(c),
        s"evolvePartitioning: $c is not a column of $dir " +
          s"(${schema.fieldNames.mkString(", ")})"))
      if (cur.partCols == newCols) return cur.version
      tryCommit(spark, dir, cur.version + 1,
        adds = Vector.empty, removes = Vector.empty,
        partCols = Some(newCols)) match {
        case Some(v) => return v
        case None => guard += 1
      }
    }
    sys.error(s"evolvePartitioning lost 50 commit races at $dir")
  }

  /** ALTER TABLE ADD CONSTRAINT <name> CHECK (<predicate>) — Delta's
    * table constraints: the predicate (SQL over logical column names)
    * rides the log like the schema, EXISTING rows are validated
    * before the commit (a constraint the table already violates is
    * refused — Delta's semantics), and every later data-adding commit
    * validates its incoming rows in one aggregate pass over the new
    * files ([[enforceChecks]]; NULL predicate passes, the SQL
    * standard). NOT NULL is the degenerate spelling
    * `CHECK (col IS NOT NULL)`. */
  def addCheck(spark: SparkSession, dir: String, name: String,
      predicateSql: String): Int = {
    import org.apache.spark.sql.functions._
    var guard = 0
    while (guard < 50) {
      val cur = snapshot(spark, dir)
      require(!cur.checks.contains(name),
        s"addCheck: constraint $name already exists on $dir")
      // validate the predicate parses AND holds over the CURRENT rows
      val bad = read(spark, dir, Some(cur.version))
        .filter(not(coalesce(expr(predicateSql), lit(true))))
        .limit(1).count()
      require(bad == 0,
        s"addCheck: existing rows of $dir violate $name " +
          s"($predicateSql) — a constraint the table already breaks " +
          "cannot be added")
      tryCommit(spark, dir, cur.version + 1,
        adds = Vector.empty, removes = Vector.empty,
        checks = Some(cur.checks + (name -> predicateSql))) match {
        case Some(v) => return v
        case None => guard += 1
      }
    }
    sys.error(s"addCheck lost 50 commit races at $dir")
  }

  /** ALTER TABLE DROP CONSTRAINT — a metadata commit removing the
    * named CHECK; later writes stop validating it. */
  def dropCheck(spark: SparkSession, dir: String, name: String): Int = {
    var guard = 0
    while (guard < 50) {
      val cur = snapshot(spark, dir)
      require(cur.checks.contains(name),
        s"dropCheck: no constraint $name on $dir " +
          s"(have: ${cur.checks.keys.mkString(", ")})")
      tryCommit(spark, dir, cur.version + 1,
        adds = Vector.empty, removes = Vector.empty,
        checks = Some(cur.checks - name)) match {
        case Some(v) => return v
        case None => guard += 1
      }
    }
    sys.error(s"dropCheck lost 50 commit races at $dir")
  }

  /** Conservative word-boundary test: does any CHECK predicate
    * mention `col`? Used to refuse renaming/dropping a constrained
    * column (false positives refuse loudly; false negatives are
    * impossible for plain identifiers — quoted/expression edge cases
    * err toward refusal). */
  private def checkMentions(checks: Map[String, String],
      col: String): Option[String] = {
    val pat = ("(?i)(^|[^A-Za-z0-9_`])" +
      java.util.regex.Pattern.quote(col) + "($|[^A-Za-z0-9_])").r
    checks.collectFirst {
      case (n, p) if pat.findFirstIn(p).isDefined ||
        p.contains(s"`$col`") => n
    }
  }

  /** ALTER TABLE RENAME COLUMN as a pure METADATA commit (Delta's
    * column-mapping rename): the stored (physical) names in the data
    * files never change — the commit re-binds the logical name in the
    * log schema and records logical→physical in the column mapping,
    * so zero bytes of data move and time travel shows each version's
    * own names. First rename/drop ACTIVATES the mapping (identity over
    * the current schema). Partition columns are refused (their names
    * key the layout tuples); renaming the declared stats column
    * follows it. Existing per-file multi-column stats keyed by the old
    * name simply stop matching — pruning degrades conservatively until
    * files are rewritten, correctness never depends on it. */
  def renameColumn(spark: SparkSession, dir: String,
      from: String, to: String): Int = {
    import org.apache.spark.sql.types.StructType
    var guard = 0
    while (guard < 50) {
      val cur = snapshot(spark, dir)
      // DV-carrying snapshots rename freely: vectors key by (file
      // path, position) and a mapping rename moves no file
      val base = cur.schemaDdl.map(StructType.fromDDL).getOrElse(
        sys.error(s"$dir carries no log schema — cannot rename"))
      require(base.fieldNames.contains(from),
        s"renameColumn: no column $from in (${base.fieldNames.mkString(",")})")
      require(!base.fieldNames.contains(to),
        s"renameColumn: column $to already exists")
      require(!cur.partCols.contains(from),
        s"renameColumn: $from is a partition column — partition names " +
          "key the layout tuples and cannot be re-bound")
      checkMentions(cur.checks, from).foreach(n => sys.error(
        s"renameColumn: $from is referenced by CHECK constraint $n — " +
          "drop the constraint first, then re-add it under the new name"))
      val map0 =
        if (cur.colMap.isEmpty) base.fieldNames.map(n => n -> n).toMap
        else cur.colMap
      val newMap = (map0 - from) + (to -> map0(from))
      val newSchema = StructType(base.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      tryCommit(spark, dir, cur.version + 1,
        adds = Vector.empty, removes = Vector.empty,
        schemaDdl = Some(newSchema.toDDL),
        statsCol = cur.statsCol.filter(_ == from).map(_ => to),
        colMap = Some(newMap)) match {
        case Some(v) => return v
        case None => guard += 1
      }
    }
    sys.error(s"renameColumn lost 50 commit races at $dir")
  }

  /** ALTER TABLE DROP COLUMN as a pure METADATA commit: the stored
    * column stays in every data file (old versions still read it —
    * that is what makes the drop time-travel-safe), but the log
    * schema and the mapping stop naming it, so current reads never
    * materialize it. A later ADD COLUMN with the same logical name
    * gets a FRESH stored name ([[evolveSchema]]), so the hidden data
    * can never resurface under the new column. */
  def dropColumn(spark: SparkSession, dir: String, name: String): Int = {
    import org.apache.spark.sql.types.StructType
    var guard = 0
    while (guard < 50) {
      val cur = snapshot(spark, dir)
      // DV-carrying snapshots drop freely: vectors key by (file path,
      // position), independent of any column
      val base = cur.schemaDdl.map(StructType.fromDDL).getOrElse(
        sys.error(s"$dir carries no log schema — cannot drop"))
      require(base.fieldNames.contains(name),
        s"dropColumn: no column $name in (${base.fieldNames.mkString(",")})")
      require(base.fields.length > 1,
        "dropColumn: cannot drop the last column")
      require(!cur.partCols.contains(name),
        s"dropColumn: $name is a partition column")
      require(!cur.statsCol.contains(name),
        s"dropColumn: $name is the declared stats column — re-declare " +
          "stats first")
      checkMentions(cur.checks, name).foreach(n => sys.error(
        s"dropColumn: $name is referenced by CHECK constraint $n — " +
          "drop the constraint first"))
      val map0 =
        if (cur.colMap.isEmpty) base.fieldNames.map(n => n -> n).toMap
        else cur.colMap
      val newSchema = StructType(base.fields.filterNot(_.name == name))
      tryCommit(spark, dir, cur.version + 1,
        adds = Vector.empty, removes = Vector.empty,
        schemaDdl = Some(newSchema.toDDL),
        colMap = Some(map0 - name)) match {
        case Some(v) => return v
        case None => guard += 1
      }
    }
    sys.error(s"dropColumn lost 50 commit races at $dir")
  }

  /** The commit history as a DataFrame (DESCRIBE HISTORY's shape):
    * one row per resolvable version — files added/removed, rows
    * added, compaction/dataChange flags, txn marker, whether the
    * schema changed, and the publish timestamp. Reads the tail
    * deltas below the oldest checkpoint only if they still exist
    * (vacuumed history is absent, not an error). */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, dir)
    versions(spark, dir).map { v =>
      val d = readDelta(spark, dir, v)
      // the in-commit timestamp when present (relocation-proof);
      // publish mtime only for pre-feature history
      val ts = d.ts.getOrElse(f.getFileStatus(
        new Path(manifestDir(dir), manifestName(v))).getModificationTime)
      (v, d.adds.size.toLong, d.removes.size.toLong,
        // a merge-on-read DELETE re-points files, it adds no rows —
        // reporting the re-pointed files' physical rows would claim a
        // delete inserted the whole table
        if (d.mor) 0L else d.adds.map(_.rows).sum,
        d.compaction, !d.compaction,
        d.txn.orNull, d.schemaDdl.isDefined, ts)
    }.toDF("version", "n_files_added", "n_files_removed", "rows_added",
      "compaction", "data_change", "txn", "schema_changed",
      "commit_ts_ms")
  }

  /** The version that committed `txn`, if ever (checkpoints persist
    * markers past vacuum). */
  def txnVersion(spark: SparkSession, dir: String,
      txn: String): Option[Int] =
    if (versions(spark, dir).isEmpty) None
    else snapshot(spark, dir).txns.get(txn)

  /** Replace the file set wholesale (overwrite semantics): removes
    * every current file, adds the new ones, and RESETS the log schema
    * to `df`'s — an overwrite is a new table in the same history. */
  def overwrite(spark: SparkSession, dir: String, df: DataFrame,
      statsCol: Option[String] = None,
      partitionBy: Seq[String] = Nil,
      statsCols: Seq[String] = Nil): Int = {
    val cur = snapshot(spark, dir)
    // CHECK constraints SURVIVE a full overwrite (Delta semantics:
    // INSERT OVERWRITE replaces the DATA, not the contract) and the
    // replacing batch is validated against them. A constraint whose
    // predicate no longer resolves against the replacing schema is a
    // hard refusal — DROP CONSTRAINT first, never a silent drop that
    // would let the next appends admit violating rows (ADVICE r11).
    cur.checks.foreach { case (n, p) =>
      require(scala.util.Try(df.select(
          org.apache.spark.sql.functions.expr(p))
        .queryExecution.analyzed).isSuccess,
        s"overwrite $dir: CHECK constraint $n ($p) does not resolve " +
          "against the replacing schema — DROP CONSTRAINT first, " +
          "then overwrite")
    }
    val newEntries = writeFiles(spark, dir, df, statsCol, partitionBy,
      statsCols, Map.empty, cur.checks)
    tryCommit(spark, dir, cur.version + 1,
      adds = newEntries, removes = cur.paths,
      schemaDdl = Some(df.schema.toDDL), statsCol = statsCol,
      // an overwrite RESETS the partition spec like it resets the
      // schema (Some(Nil) in the header = back to unpartitioned) —
      // and the column mapping with it (the new files speak the new
      // schema's own names). The constraints are NOT reset: None =
      // carry the current checks forward in the log.
      partCols = Some(partitionBy),
      colMap = if (cur.colMap.isEmpty) None else Some(Map.empty),
      hiveDirs = if (cur.hiveDirs) Some(false) else None)
      .getOrElse(sys.error(s"concurrent commit at $dir — overwrite " +
        "is not auto-retried: rebase on the new version first"))
  }

  /** DYNAMIC PARTITION OVERWRITE (Delta's `replaceWhere` shape, Spark's
    * `partitionOverwriteMode=dynamic` semantics): replace exactly the
    * partitions `df` carries rows for — files of untouched partitions
    * survive byte-identical (no rewrite, no new version for them), and
    * the commit removes only files whose partition tuple appears in
    * `df`. At 100 TB this is THE daily-reprocess primitive: re-running
    * one day's slice must not rewrite (or even list) the other 3,650
    * days. Retries past concurrent commits by recomputing the doomed
    * set against each freshly-read snapshot. */
  def overwritePartitions(spark: SparkSession, dir: String,
      df: DataFrame, txn: Option[String] = None): Int = {
    txn.flatMap(t => txnVersion(spark, dir, t)) match {
      case Some(v) => return v
      case None =>
    }
    val snap0 = snapshot(spark, dir)
    require(!snap0.hiveDirs,
      s"overwritePartitions on hive-converted table $dir: compact " +
        "(OPTIMIZE) first to materialize the partition columns")
    val partCols = snap0.partCols
    require(partCols.nonEmpty,
      s"overwritePartitions on $dir: the table is not partitioned — " +
        "use overwrite (full replacement) instead")
    // replacement files keep the table's declared stats column — a
    // dynamic overwrite must not erode the skipping index of every
    // partition the daily reprocess touches
    val newEntries = writeFiles(spark, dir, df, snap0.statsCol, partCols,
      Nil, snap0.colMap, snap0.checks)
    val touched = newEntries.map(_.part).toSet
    var guard = 0
    while (guard < 50) {
      txn.flatMap(t => txnVersion(spark, dir, t)) match {
        case Some(v) => return v
        case None =>
      }
      val cur = snapshot(spark, dir)
      val doomed = cur.entries.filter(e => touched.contains(e.part))
      tryCommit(spark, dir, cur.version + 1,
        adds = newEntries, removes = doomed.map(_.path),
        txn = txn) match {
        case Some(v) => return v
        case None => guard += 1
      }
    }
    sys.error(s"overwritePartitions lost 50 commit races at $dir")
  }

  /** RESTORE the table to the state of `toVersion` as a NEW commit
    * (Delta's RESTORE): adds back the files `toVersion` listed that
    * the current version dropped, removes the ones it gained, and
    * re-commits `toVersion`'s schema/partition spec — history is
    * preserved (the restore is itself undoable by another restore),
    * and no data file is copied: the log re-points, the bytes stay.
    * Requires `toVersion` to still resolve (not vacuumed). */
  def restore(spark: SparkSession, dir: String, toVersion: Int): Int = {
    val target = snapshot(spark, dir, Some(toVersion))
    var guard = 0
    while (guard < 10) {
      val cur = snapshot(spark, dir)
      val curPaths = cur.paths.toSet
      val targetPaths = target.paths.toSet
      val f = fs(spark, dir)
      target.entries.filterNot(e => curPaths.contains(e.path)).foreach(e =>
        require(f.exists(new Path(e.path)),
          s"restore to v$toVersion needs ${e.path}, which vacuum " +
            "deleted — only versions whose files survive can be restored"))
      tryCommit(spark, dir, cur.version + 1,
        adds = target.entries.filterNot(e => curPaths.contains(e.path)),
        removes = cur.paths.filterNot(targetPaths.contains),
        schemaDdl = target.schemaDdl,
        statsCol = target.statsCol,
        partCols = Some(target.partCols),
        colMap = Some(target.colMap),
        checks = Some(target.checks),
        hiveDirs = Some(target.hiveDirs)) match {
        case Some(v) => return v
        case None => guard += 1
      }
    }
    sys.error(s"restore lost 10 commit races at $dir")
  }

  /** Commit a DSv2 REPLACE DATA (SQL UPDATE / MERGE INTO / COW DELETE
    * through row-level operations): the EXECUTORS already wrote the
    * replacement rows into `stagingDir` through Spark's native parquet
    * write path; this adopts those files and removes `replacedPaths`
    * (the files the operation's scan was pinned to) in one atomic
    * commit. Concurrent APPENDS are absorbed by retrying — their files
    * are disjoint and their rows survive. A concurrent commit that
    * REMOVED one of the pinned files (compaction, another DML) — or
    * RE-POINTED its deletion vector (a concurrent MOR delete keeps
    * the path live but changes which rows exist; the replacement was
    * computed against the OLD vector and would resurrect the winner's
    * deletions) — is a genuine write conflict: abort, like every
    * optimistic table format does. Partitioned tables re-layout the
    * staged rows (the replace write is flat); unpartitioned tables
    * adopt the staged files as-is. The commit captures WRITE-TIME CDC
    * ([[writeCdcDiff]]) labeled `cdcLabels`, so the row-level feed
    * shows exactly the changed rows instead of whole-file
    * re-inserts. */
  def replaceCommit(spark: SparkSession, dir: String,
      stagingDir: String, replaced: Vector[ManifestEntry],
      cdcLabels: (String, String) =
        ("update_preimage", "update_postimage")): Int = {
    val f = fs(spark, dir)
    val cur0 = snapshot(spark, dir)
    val staged = f.exists(new Path(stagingDir)) &&
      f.listStatus(new Path(stagingDir))
        .exists(_.getPath.getName.endsWith(".parquet"))
    val adds: Vector[ManifestEntry] =
      if (!staged) Vector.empty // the operation deleted every row
      else if (cur0.partCols.isEmpty) {
        // staged files speak PHYSICAL names (the DSv2 write stages
        // a mapped table under its stored names); the stats collect
        // physical, the recorded keys translate back to logical
        val st = cur0.schemaDdl
          .map(org.apache.spark.sql.types.StructType.fromDDL)
          .getOrElse(spark.read.parquet(stagingDir).schema)
        val phys = physicalSchema(st, cur0.colMap)
        val physStats = cur0.statsCol.map(c => cur0.colMap.getOrElse(c, c))
        if (cur0.checks.nonEmpty)
          enforceChecks(spark,
            spark.read.schema(phys).parquet(stagingDir)
              .toDF(st.fieldNames.toIndexedSeq: _*),
            cur0.checks, s"replace-data write to $dir")
        val raw = entriesFromDir(spark, stagingDir, physStats, Nil,
          autoStatsFor(phys, physStats, Nil))
        if (cur0.colMap.isEmpty) raw
        else {
          val back = cur0.colMap.map(_.swap)
          raw.map(e => e.copy(stats = e.stats.map { case (k, v) =>
            back.getOrElse(k, k) -> v }))
        }
      } else {
        // re-layout into the table's partition scheme, then drop the
        // flat staged files (they never entered the log); staged
        // physical names surface as logical before writeFiles maps
        // them back down
        val df = cur0.schemaDdl match {
          case Some(ddl) =>
            val logical = org.apache.spark.sql.types.StructType.fromDDL(ddl)
            spark.read.schema(physicalSchema(logical, cur0.colMap))
              .parquet(stagingDir)
              .toDF(logical.fieldNames.toIndexedSeq: _*)
          case None => spark.read.parquet(stagingDir)
        }
        val es = writeFiles(spark, dir, df, cur0.statsCol, cur0.partCols,
          Nil, cur0.colMap, cur0.checks)
        f.delete(new Path(stagingDir), true)
        es
      }
    // write-time change capture — ONLY when the table opted in
    // (Delta's enableChangeDataFeed; capture costs two exceptAll
    // passes over the rewritten rows, measured 1.3× on MERGE at
    // sf0.1, and a table that never reads its feed should not pay
    // it). The diff depends only on (replaced, adds), both
    // immutable — computed ONCE, valid across commit retries
    val cdcPath =
      if (!cur0.cdcOn) None
      else writeCdcDiff(spark, dir, cur0.schemaDdl, cur0.colMap,
        replaced, adds, cdcLabels)
    var guard = 0
    while (guard < 50) {
      val cur = snapshot(spark, dir)
      val curByPath = cur.entries.map(e => e.path -> e).toMap
      replaced.foreach { pe =>
        curByPath.get(pe.path) match {
          case None => sys.error(
            s"replaceCommit at $dir: ${pe.path} was removed by a " +
              "concurrent commit — the replacement no longer reflects " +
              "the table (write conflict; re-run the statement)")
          case Some(ce) =>
            require(ce.dv == pe.dv && ce.dvRows == pe.dvRows,
              s"replaceCommit at $dir: ${pe.path}'s deletion vector " +
                "was re-pointed by a concurrent merge-on-read delete " +
                "(write conflict; re-run the statement)")
        }
      }
      tryCommit(spark, dir, cur.version + 1,
        adds = adds, removes = replaced.map(_.path),
        cdc = cdcPath) match {
        case Some(v) => return v
        case None => guard += 1
      }
    }
    sys.error(s"replaceCommit lost 50 commit races at $dir")
  }

  /** Manifest-level data skipping: read only the files whose [lo, hi]
    * stats range intersects [from, to] — file pruning decided from
    * the MANIFEST alone, no footer opened for a skipped file (the
    * Delta/Iceberg stats-pruning read path). Files without stats are
    * conservatively read. Returns the frame (residual predicate still
    * applied, so results are exact even with stale/absent stats) plus
    * (files read, files total). */
  def readRange(spark: SparkSession, dir: String, statsCol: String,
      from: Long, to: Long, asOf: Option[Int] = None)
      : (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions._
    val snap = snapshot(spark, dir, asOf)
    val live = snap.entries.filter(e => (e.lo, e.hi) match {
      case (Some(l), Some(h)) => h >= from && l <= to
      case _ => true
    })
    val df =
      (if (live.isEmpty) read(spark, dir, asOf).limit(0)
       else rawRead(spark, snap.schemaDdl, snap.colMap, live.map(_.path)))
        .filter(col(statsCol).cast("long").between(from, to))
    (df, live.size, snap.entries.size)
  }

  /** Transactional COW DML (Delta's MERGE shape): read the current
    * snapshot, apply `transform` to it, write the result as new
    * immutable files, and commit them as the next version — the
    * commit is CONDITIONAL on the version read (publish-if-absent of
    * version+1), so a concurrent commit in the read-transform window
    * loses nothing: the loser re-reads the NEW snapshot, re-applies
    * the transform, and retries. Orphaned files from lost races are
    * unreachable and vacuumable. Old versions stay readable (a MERGE
    * is just another version — time travel shows pre-merge state).
    *
    * `cdcLabels` (opt-in — a full-table transform's diff is a
    * full-table pass) captures write-time CDC for the row-level feed.
    * `txn` makes the merge IDEMPOTENT under redelivery (the streaming
    * MERGE INTO contract: a restarted foreachBatch re-delivers its
    * last batch; the marker turns the re-run into a log-level no-op). */
  def mergeCommit(spark: SparkSession, dir: String,
      transform: DataFrame => DataFrame,
      statsCol: Option[String] = None,
      cdcLabels: Option[(String, String)] = None,
      txn: Option[String] = None): Int = {
    txn.flatMap(t => txnVersion(spark, dir, t)) match {
      case Some(v) => return v
      case None =>
    }
    var guard = 0
    while (guard < 10) {
      txn.flatMap(t => txnVersion(spark, dir, t)) match {
        case Some(v) => return v
        case None =>
      }
      val cur = snapshot(spark, dir)
      require(!cur.hiveDirs,
        s"mergeCommit on hive-converted table $dir: compact (OPTIMIZE) " +
          "first to materialize the partition columns, then DML works")
      val merged = transform(read(spark, dir, Some(cur.version)))
      // a merge rewrites content, not layout: partitioned tables stay
      // partitioned (and mapped) through DML
      val entries = writeFiles(spark, dir, merged, statsCol, cur.partCols,
        Nil, cur.colMap, cur.checks)
      // both diff sides read with the POST-merge schema (old files
      // null-fill), matching the schema the commit records
      val cdcPath = cdcLabels.flatMap(lbl => writeCdcDiff(spark, dir,
        Some(merged.schema.toDDL), cur.colMap, cur.entries, entries, lbl))
      tryCommit(spark, dir, cur.version + 1,
        adds = entries, removes = cur.paths, txn = txn,
        schemaDdl = Some(merged.schema.toDDL), statsCol = statsCol,
        cdc = cdcPath) match {
        case Some(v) => return v
        case None => guard += 1 // raced: re-read, re-apply, retry
      }
    }
    sys.error(s"mergeCommit lost 10 commit races at $dir")
  }

  /** Manifest-committed compaction: bin-pack the CURRENT version's
    * files ([[Compaction.planBins]]), rewrite each multi-file bin to
    * one new immutable file, and commit adds(merged) + removes(bin
    * members) as the next version. Old versions keep reading the old
    * files — this is what makes OPTIMIZE safe under concurrent
    * readers, the piece x36's bare-directory swap could not give. Row
    * counts verified per bin before the commit; a crash leaves orphan
    * files, never a corrupt version. */
  def compactCommit(spark: SparkSession, dir: String,
      targetBytes: Long): Int = {
    val f = fs(spark, dir)
    val cur = snapshot(spark, dir)
    // bins can mix files written before and after a schema evolution:
    // the rewrite must read with the LOG schema so the merged file
    // carries every column (missing ones as nulls), not a footer's
    // truncated view
    // a mapped table compacts in PHYSICAL name space: read the stored
    // names, write them back verbatim — no logical rename round trip
    def binRead(paths: Seq[String]) = cur.schemaDdl match {
      case Some(ddl) => spark.read
        .schema(physicalSchema(
          org.apache.spark.sql.types.StructType.fromDDL(ddl), cur.colMap))
        .parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
    // a partitioned table compacts WITHIN partitions: a merged file
    // still carries exactly one partition tuple, so partition pruning
    // stays exact through OPTIMIZE. Entries carrying deletion vectors
    // are left alone (their row counts are physical, a naive merge
    // would resurrect deleted rows) — purgeDvs is their rewrite.
    // a HIVE-CONVERTED table compacts into full nativeness: EVERY
    // file is rewritten (even singleton bins) with the partition
    // columns filled from the log's tuples as real data columns, and
    // the commit clears the hive_dirs flag — after one OPTIMIZE the
    // table is indistinguishable from a natively-written one and all
    // DML faces unlock (the deviation from Delta's always-log-filled
    // reader, priced once instead of on every scan)
    val logicalForHive =
      if (!cur.hiveDirs) None
      else Some(org.apache.spark.sql.types.StructType.fromDDL(
        cur.schemaDdl.getOrElse(sys.error(
          s"$dir is hive-converted but carries no log schema"))))
    def fillParts(df: DataFrame,
        partKey: Map[String, String]): DataFrame =
      logicalForHive match {
        case None => df
        case Some(l) =>
          import org.apache.spark.sql.functions._
          df.withColumns(cur.partCols.map(c =>
            c -> lit(partKey(c)).cast(l(c).dataType)).toMap)
      }
    val rewritten = cur.entries.filter(_.dv.isEmpty).groupBy(_.part).toVector
      .sortBy(_._1.toSeq.sorted.mkString(","))
      .flatMap { case (partKey, group) =>
        val sized = group.map(e => Compaction.FileInfo(e.path,
          f.getFileStatus(new Path(e.path)).getLen))
        Compaction.planBins(sized, targetBytes)
          .filter(b => cur.hiveDirs || b.files.size >= 2).flatMap { bin =>
            val inPaths = bin.files.map(_.path)
            val inRows = group.filter(e => inPaths.contains(e.path))
              .map(_.rows).sum
            val stamp = java.util.UUID.randomUUID().toString.take(8)
            val sub = new Path(dir, s"compact-$stamp").toString
            fillParts(binRead(inPaths), partKey).coalesce(1)
              .write.mode("errorifexists").parquet(sub)
            val part = f.listStatus(new Path(sub)).toVector.map(_.getPath)
              .find(p => p.getName.startsWith("part-") &&
                p.getName.endsWith(".parquet"))
              .getOrElse(sys.error(s"compact bin ${bin.binId}: no part file"))
            val outRows = spark.read.parquet(part.toString).count()
            require(outRows == inRows,
              s"compact bin ${bin.binId} would lose rows: $inRows -> $outRows")
            // merged file stats fold from the members' — no data re-read
            val members = bin.files.flatMap(f0 =>
              group.find(_.path == f0.path))
            val mlo = members.flatMap(_.lo)
            val mhi = members.flatMap(_.hi)
            val foldedStats = members.map(_.stats.keySet)
              .reduceOption(_ intersect _).getOrElse(Set.empty)
              .map(c => c -> ((members.map(_.stats(c)._1).min,
                members.map(_.stats(c)._2).max))).toMap
            Vector(inPaths.toVector -> ManifestEntry(part.toString, outRows,
              if (mlo.size == bin.files.size) Some(mlo.min) else None,
              if (mhi.size == bin.files.size) Some(mhi.max) else None,
              partKey, foldedStats))
          }
      }
    tryCommit(spark, dir, cur.version + 1,
      adds = rewritten.map(_._2).toVector.sortBy(_.path),
      removes = rewritten.flatMap(_._1).toVector.sorted,
      compaction = true,
      hiveDirs = if (cur.hiveDirs) Some(false) else None)
      .getOrElse(sys.error(s"concurrent commit at $dir during compact"))
  }

  /** PURGE deletion vectors: rewrite exactly the DV-carrying files
    * with their deletions APPLIED and commit fresh entries — the
    * explicit merge-on-read → materialized transition (Delta's
    * REORG TABLE APPLY (PURGE)). Clean files are untouched; after the
    * purge the snapshot carries no DVs, so the DSv2 front door (which
    * refuses DV snapshots rather than silently resurrecting deleted
    * rows) reads the table again. dataChange=false: content is
    * identical by construction. */
  def purgeDvs(spark: SparkSession, dir: String): Int = {
    import org.apache.spark.sql.functions._
    val cur = snapshot(spark, dir)
    val dirty = cur.entries.filter(_.dv.isDefined)
    if (dirty.isEmpty) return cur.version
    val applied = applyDvsLogical(spark, dir, cur.schemaDdl,
      cur.colMap, dirty)
    val fresh = writeFiles(spark, dir, applied, cur.statsCol,
      cur.partCols, Nil, cur.colMap)
    require(fresh.map(_.rows).sum == dirty.map(_.liveRows).sum,
      s"purgeDvs at $dir would change live row count")
    tryCommit(spark, dir, cur.version + 1,
      adds = fresh, removes = dirty.map(_.path), compaction = true)
      .getOrElse(sys.error(s"concurrent commit at $dir during purge"))
  }

  /** OPTIMIZE ZORDER BY (Delta's clustered rewrite): rewrite the
    * CURRENT version's files clustered along the Morton curve of two
    * integral columns — one `repartitionByRange(z)` shuffle + an
    * in-partition sort, committed with PER-FILE MULTI-COLUMN stats so
    * a range predicate on EITHER dimension prunes files from the
    * manifest. A linear sort skips files only for its leading column;
    * the Z-curve buys both at once, which is the entire point of the
    * layout at 100 TB (two independent selective access paths, one
    * copy of the data). dataChange=false: the change feed skips the
    * rewrite exactly like compaction. Unpartitioned tables only (a
    * partitioned table already clusters on its partition columns —
    * Z-order the residual inside each partition is a further step this
    * engine does not take). */
  def clusterCommit(spark: SparkSession, dir: String,
      cols: (String, String), targetFiles: Int): Int = {
    import org.apache.spark.sql.functions._
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val cur = snapshot(spark, dir)
    require(cur.partCols.isEmpty,
      s"clusterCommit on $dir: Z-ordering a partitioned table is not " +
        "supported — partition columns already cluster the layout")
    val (c1, c2) = cols
    val base = read(spark, dir, Some(cur.version))
    val mm = base.agg(
      min(col(c1).cast("long")), max(col(c1).cast("long")),
      min(col(c2).cast("long")), max(col(c2).cast("long"))).first()
    require(!mm.isNullAt(0) && !mm.isNullAt(2),
      s"clusterCommit: $c1/$c2 must be non-null integral columns")
    val (lo1, hi1, lo2, hi2) =
      (mm.getLong(0), mm.getLong(1), mm.getLong(2), mm.getLong(3))
    val z = Zorder.interleave16(
      Zorder.bucket256(col(c1).cast("long") - lit(lo1), lit(hi1 - lo1 + 1)),
      Zorder.bucket256(col(c2).cast("long") - lit(lo2), lit(hi2 - lo2 + 1)))
    val clustered = base.withColumn("__z", z)
      .repartitionByRange(targetFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    val entries = writeFiles(spark, dir, clustered, cur.statsCol,
      Nil, Seq(c1, c2), cur.colMap)
    tryCommit(spark, dir, cur.version + 1,
      adds = entries, removes = cur.paths, compaction = true)
      .getOrElse(sys.error(s"concurrent commit at $dir during cluster"))
  }

  /** Delete data files unreachable from the kept (newest `keep`)
    * versions, the dropped manifests, and superseded checkpoints.
    * Before dropping anything, GUARANTEES a checkpoint at the oldest
    * kept version — with a delta log, kept versions must resolve
    * without the dropped deltas (checkpoint reachability). Never
    * touches a file a kept version lists. */
  def vacuum(spark: SparkSession, dir: String, keep: Int): Unit = {
    require(keep >= 1, "must keep at least the latest version")
    val f = fs(spark, dir)
    val vs = versions(spark, dir)
    val (drop, kept) = vs.splitAt(math.max(0, vs.size - keep))
    // reachability and the forced checkpoint both need the dropped
    // deltas still present — compute BEFORE deleting anything.
    // Compared in scheme-less URI-path space: resolved snapshot paths
    // ("/x/t/data-…") must match listing paths ("file:/x/t/data-…")
    val keptSnaps = kept.map(v => resolve(spark, dir, v))
    val reachable = keptSnaps.flatMap(_.paths)
      .map(p => new Path(p).toUri.getPath).toSet
    // deletion-vector dirs still referenced by any kept version
    val dvReachable = keptSnaps.flatMap(_.entries.flatMap(_.dv))
      .map(p => new Path(p).toUri.getPath).toSet
    if (drop.nonEmpty) {
      val minKept = kept.head
      if (!checkpointVersions(spark, dir).contains(minKept))
        writeCheckpoint(spark, dir, minKept, force = true)
      require(checkpointVersions(spark, dir).contains(minKept),
        s"vacuum at $dir could not checkpoint v$minKept — refusing to " +
          "drop the deltas kept versions still need")
    }
    // superseded deletion vectors: dv dirs no kept version points at
    val dvRoot = new Path(dir, "_dvs")
    if (f.exists(dvRoot)) {
      f.listStatus(dvRoot).toVector.map(_.getPath)
        .filterNot(p => dvReachable.contains(p.toUri.getPath))
        .foreach(p => f.delete(p, true))
    }
    // change-data captures referenced only by DROPPED deltas are
    // garbage (the feed below the kept range is gone with its
    // manifests); kept deltas' captures stay readable
    val cdcRoot = new Path(dir, "_change_data")
    if (f.exists(cdcRoot)) {
      val cdcReachable = kept.flatMap(v =>
        scala.util.Try(readDelta(spark, dir, v)).toOption.flatMap(_.cdc))
        .map(c => new Path(resolvePath(dir, c)).toUri.getPath).toSet
      f.listStatus(cdcRoot).toVector.map(_.getPath)
        .filterNot(p => cdcReachable.contains(p.toUri.getPath))
        .foreach(p => f.delete(p, true))
    }
    val dataDirs = f.listStatus(new Path(dir)).toVector
      .filter(st => st.isDirectory &&
        st.getPath.getName != "_manifests" &&
        st.getPath.getName != "_checkpoints" &&
        st.getPath.getName != "_dvs" &&
        st.getPath.getName != "_change_data")
    dataDirs.foreach { d =>
      f.listStatus(d.getPath).toVector.map(_.getPath)
        .filter(p => p.getName.endsWith(".parquet") &&
          !reachable.contains(p.toUri.getPath))
        .foreach(p => f.delete(p, false))
    }
    drop.foreach(v =>
      f.delete(new Path(manifestDir(dir), manifestName(v)), false))
    // checkpoints older than the newest one ≤ oldest-kept are
    // superseded; ones above it remain useful for tail resolution
    kept.headOption.foreach { minKept =>
      val cks = checkpointVersions(spark, dir)
      cks.filter(_ <= minKept).dropRight(1).foreach(cv =>
        f.delete(new Path(ckptRoot(dir), ckptName(cv)), true))
    }
    // orphan commit temps (crashed or raced writers): a temp whose
    // target version already committed is garbage by definition —
    // in-flight commits for FUTURE versions are never touched
    val latest = vs.lastOption.getOrElse(0)
    f.listStatus(manifestDir(dir)).toVector.map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith(".tmp-v") &&
          n.drop(".tmp-v".length).takeWhile(_.isDigit).toIntOption
            .exists(_ <= latest)
      }
      .foreach(p => f.delete(p, false))
  }
}
