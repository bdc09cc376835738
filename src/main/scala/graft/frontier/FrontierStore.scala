package graft.frontier

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Snapshot-versioned table shim (S3/Z6) — stands in for Iceberg (no Iceberg
  * runtime jar ships offline; SURVEY.md §7.1). Semantics mirrored:
  *   - data lives in immutable `segments/<k>/` parquet dirs; a snapshot is a
  *     `meta.json` listing its live segments plus lineage + metrics
  *     (north_rule: per-partition lineage = the parquet file list, one file
  *     per writing partition);
  *   - a commit writes a new segment then atomically renames a manifest
  *     pointing at the new snapshot — the rename IS the commit, so readers
  *     always see a complete table (the reference's delete-on-claim
  *     exactly-once discipline, RiverWeb.java:183-195, becomes
  *     snapshot-transition atomicity);
  *   - `commitFull` = copy-on-write replace, `commitAppend` = delta segment
  *     (seen-set growth, doc appends) — merge-on-read via multi-dir parquet
  *     scan; `commitDeltaTo` = delta segment PLUS a tombstone segment
  *     (frontier round transition: the claimed rows become tombstones
  *     anti-joined out on read, so a round writes O(claim batch + new URLs)
  *     instead of rewriting a 10^10-row frontier to remove 10^5 claimed
  *     rows), with automatic copy-on-write compaction once tombstones
  *     outgrow the broadcast-anti-join budget;
  *   - resume = read the current manifest (session isolation + resume,
  *     RiverWeb.java:80-84,238-240); crawl state (round, processed) rides in
  *     the metrics map.
  * The interface is deliberately Iceberg-shaped so a real catalog slots in
  * unchanged on a cluster (atomic rename → Iceberg commit).
  *
  * Files ([[StateFiles]] codec): `manifest.json` = `{"current": <v>}`, the
  * head pointer; `snapshots/<v>/meta.json` = one [[SnapshotTable.Snapshot]]:
  * `"version"` (number); `"segments"` (live data segments: a local name
  * under `segments/`, or an absolute dir for a shared ref); `"tombstones"`
  * (names under `tombstones/`); `"newFiles"` (parquet files of the segment
  * this commit added); and each metric as a top-level string field — the
  * store's `"rows"` (live), `"segmentRows"` (added segment), `"tombRows"`
  * (accumulated tombstones) and `"parentVersion"`, plus the caller's (crawl
  * `"round"`/`"processed"`/`"claimed"`/`"kind"`, docs index `"docsVersion"`).
  */
final class SnapshotTable(val root: String, spark: SparkSession,
    // Iceberg-style sequence-aware equality deletes: every data segment is
    // stamped with a hidden `__seq` column (= commit version) and a
    // tombstone only deletes rows with a LOWER sequence — so a single
    // commit can replace same-keyed rows (delete old + insert new), which
    // plain equality tombstones cannot (they would delete the fresh rows
    // too). Opt-in per table: the frontier/seen never re-insert a
    // tombstoned key, so they skip the +8 B/row.
    val sequenced: Boolean = false,
    // read-side broadcast budget for the tombstone anti-join; above it the
    // merge-on-read falls back to a shuffled anti-join (test-injectable)
    val broadcastTombRows: Long = SnapshotTable.MaxTombRows) {

  import SnapshotTable._

  private def manifestPath: Path = Paths.get(root, "manifest.json")
  Files.createDirectories(Paths.get(root, "segments"))
  Files.createDirectories(Paths.get(root, "tombstones"))
  Files.createDirectories(Paths.get(root, "snapshots"))

  /** current snapshot version, or -1 if never committed. */
  def currentVersion: Long =
    StateFiles.readLongs(manifestPath).flatMap(_.get("current")).getOrElse(-1L)

  private def metaPath(v: Long): Path =
    Paths.get(root, "snapshots", v.toString, "meta.json")

  /** snapshot v as committed, or None if v < 0 or was never written. */
  def snapshot(v: Long): Option[Snapshot] =
    if (v < 0 || !Files.exists(metaPath(v))) None else Some(meta(v))

  private def meta(v: Long): Snapshot =
    StateFiles.parseSnapshot(Files.readString(metaPath(v)))

  /** what a commit on top of `v` extends: snapshot v, or the empty table. */
  private def parentOf(v: Long): Snapshot =
    if (v < 0) Snapshot(-1L, Seq.empty, Seq.empty, Seq.empty, Map.empty) else meta(v)

  /** live segment dirs of snapshot v. */
  def segmentsOf(v: Long): Seq[String] = meta(v).segments

  /** tombstone segment dirs of snapshot v (rows anti-joined out on read). */
  def tombstonesOf(v: Long): Seq[String] = meta(v).tombstones

  /** a metric recorded at commit time of snapshot v. */
  def metric(v: Long, key: String): Option[String] =
    snapshot(v).flatMap(_.metrics.get(key))

  /** LIVE rows of snapshot v (data rows minus tombstoned rows). */
  def rowsOf(v: Long): Long = snapshot(v).fold(0L)(_.rows)

  /** cumulative tombstone rows carried by snapshot v. */
  def tombRowsOf(v: Long): Long = snapshot(v).fold(0L)(_.tombRows)

  def isEmpty: Boolean = currentVersion < 0

  /** Read the current snapshot (caller guards `isEmpty`). */
  def read(): DataFrame = readVersion(currentVersion)

  /** Optional fixed read schema (set via [[withReadSchema]]): lets a table
    * reference shared segments carrying EXTRA columns (see
    * [[commitAppendRef]]) — the parquet reader prunes to these columns by
    * name, so 2-col seen reads work over 5-col frontier segment files.
    */
  private var readSchema: Option[org.apache.spark.sql.types.StructType] = None
  def withReadSchema(s: org.apache.spark.sql.types.StructType): this.type = {
    // a narrowed schema would drop the hidden __seq column the sequenced
    // tombstone rule needs — the two features serve different tables
    require(!sequenced, "withReadSchema is incompatible with sequenced tables")
    readSchema = Some(s); this
  }

  private def readParquet(paths: Seq[String]): DataFrame = {
    val r = readSchema.fold(spark.read)(s => spark.read.schema(s))
    val df = r.parquet(paths: _*)
    readSchema.fold(df)(s => df.select(s.fieldNames.map(
      org.apache.spark.sql.functions.col): _*))
  }

  /** a segment entry is a local name, or an absolute dir for shared refs. */
  private def segPath(s: String): String =
    if (s.startsWith("/")) s else s"$root/segments/$s"

  def readVersion(v: Long): DataFrame = read(meta(v))

  /** Merge-on-read of snapshot `s`: union of live data segments, minus
    * tombstoned rows. Up to [[broadcastTombRows]] accumulated tombstones the
    * anti-join broadcasts the tombstone side — a map-side BroadcastHashJoin
    * that never shuffles the (possibly 10^10-row) data. Above the budget it
    * falls back to a shuffled anti-join: one extra exchange of the live
    * rows per read, which is what lets the compaction cap scale with
    * table size instead of forcing a full rewrite every ~1M claims
    * (the 10^10-frontier amortization fix; Iceberg readers make the same
    * broadcast-vs-shuffle call on equality-delete files).
    */
  def read(s: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val data = readParquet(s.segments.map(segPath))
    if (s.tombstones.isEmpty) { if (sequenced) data.drop(SeqCol) else data }
    else {
      val tomb = spark.read.parquet(s.tombstones.map(t => s"$root/tombstones/$t"): _*)
      val tside = if (s.tombRows <= broadcastTombRows) broadcast(tomb) else tomb
      if (!sequenced)
        data.join(tside, tomb.columns.toSeq, "left_anti")
      else {
        // sequence rule: a tombstone deletes only rows written BEFORE it
        val keyCols = tomb.columns.filterNot(_ == SeqCol)
        val cond = keyCols.map(c => data(c) === tomb(c)).reduce(_ && _) &&
          data(SeqCol) < tomb(SeqCol)
        data.join(tside, cond, "left_anti").drop(SeqCol)
      }
    }
  }

  /** read one raw data segment (no tombstone application). */
  def readSegment(seg: String): DataFrame = readParquet(Seq(segPath(seg)))

  /** raw row count of one segment from its parquet footers (driver-side,
    * no Spark job) — works for local and shared-ref segments alike.
    */
  def segmentRows(seg: String): Long = dirRowCount(segPath(seg))

  /** Append a SHARED segment by absolute path instead of rewriting the
    * rows — the round loop writes each round's new URLs ONCE (the frontier
    * delta segment) and the seen table references the same files, halving
    * the per-round new-URL write bytes. The referencing table must have a
    * [[withReadSchema]] narrowing to its own columns. Lifecycle: refs are
    * valid for the owning session (frontier compaction orphans but never
    * deletes segment dirs; `cleanup()` drops both tables together).
    */
  def commitAppendRef(absSegmentDir: String, parentVersion: Long,
      metrics: Map[String, String] = Map.empty): (Long, Long) = {
    // referenced files carry the WRITER's columns — they would lack this
    // table's __seq stamp and break the sequenced tombstone rule
    require(!sequenced, "commitAppendRef is incompatible with sequenced tables")
    val p = parentOf(parentVersion)
    commitManifest(absSegmentDir, metrics, p.segments, p.rows, p.tombstones, p.tombRows)
  }

  def commitFull(df: DataFrame, metrics: Map[String, String] = Map.empty): (Long, Long) =
    commit(df, metrics, appendTo = Seq.empty, prevRows = 0L)

  def commitAppend(df: DataFrame, metrics: Map[String, String] = Map.empty): (Long, Long) =
    commitAppendTo(df, currentVersion, metrics)

  /** Append anchored at an EXPLICIT parent snapshot rather than the table's
    * own head — the caller (CrawlSession) tracks the committed version in
    * its round checkpoint, so an orphan snapshot left by a crash between a
    * round's two table commits is ignored on resume instead of silently
    * folded into the next append.
    */
  def commitAppendTo(df: DataFrame, parentVersion: Long,
      metrics: Map[String, String] = Map.empty): (Long, Long) = {
    // carry the parent's tombstones forward — an append must not resurrect
    // logically deleted rows
    val p = parentOf(parentVersion)
    commit(df, metrics, p.segments, p.rows, p.tombstones, p.tombRows)
  }

  /** Delta transition anchored at `parentVersion`: append `newRows` as a
    * data segment and `tombstones` (key columns of rows to logically
    * delete) as a tombstone segment. Write cost is O(new + tombstones)
    * regardless of table size — the round-loop fix for the per-round
    * O(frontier) copy-on-write rewrite.
    *
    * Compaction: once accumulated tombstones would exceed a quarter of the
    * live rows (floor 4096), the transition is applied as a full
    * copy-on-write rewrite instead and the tombstone list resets. The
    * budget scales WITH the table — amortized, one rewrite per live/4
    * claimed rows ≈ 4 rows rewritten per claim at any size (at 10^10 rows
    * an absolute cap forced a full rewrite every ~1M claims ≈ 10^4 rows
    * per claim). Reads between compactions stay broadcast-anti-join up to
    * [[broadcastTombRows]] tombstones and shuffled-anti-join beyond.
    *
    * `deletedRows` — how many LIVE rows the tombstones actually match, for
    * exact row accounting. Default -1 means "tombstones match 1:1" (the
    * frontier claim case, where every tombstoned key exists exactly once);
    * sequenced replace-style callers pass the measured count because a
    * tombstoned key may match 0 (first write of a url) or several
    * (Default-mode duplicate appends) live rows.
    *
    * `tombstoneRowsHint` ≥ 0: the caller's exact tombstone row count
    * (e.g. the crawl round's claim count — tombstones are 1:1 there).
    * When the hint predicts NO compaction, the tombstone and data-segment
    * writes run CONCURRENTLY (two independent Spark jobs — guide §2.6);
    * the decision is still re-verified from the written footers, and a
    * wrong hint falls back to the compaction path (the pre-written
    * segment dir is reclaimed), so the hint can cost at most one wasted
    * write, never correctness.
    */
  def commitDeltaTo(newRows: DataFrame, tombstones: DataFrame,
      parentVersion: Long,
      metrics: Map[String, String] = Map.empty,
      deletedRows: Long = -1L,
      tombstoneRowsHint: Long = -1L): (Long, Long) = {
    import org.apache.spark.sql.functions.broadcast
    val v = currentVersion + 1
    val p = parentOf(parentVersion)
    val compactionBudget = math.max(4096L, p.rows / 4)
    val segDir = s"$root/segments/$v"
    val tombDir = s"$root/tombstones/$v"
    // hint predicts the delta path → the data segment is needed either
    // way; write it concurrently with the tombstones. Otherwise write the
    // tombstone segment alone first: its footer count drives the
    // compaction decision (no Spark count() job, no trusting the caller)
    val segPreWritten = tombstoneRowsHint >= 0 &&
      p.tombRows + tombstoneRowsHint <= compactionBudget
    if (segPreWritten) {
      val tombF = scala.concurrent.Future {
        stamp(tombstones, v).write.mode("overwrite").parquet(tombDir)
      }(SnapshotTable.writeEc)
      stamp(newRows, v).write.mode("overwrite").parquet(segDir)
      scala.concurrent.Await.result(tombF,
        scala.concurrent.duration.Duration.Inf)
    } else stamp(tombstones, v).write.mode("overwrite").parquet(tombDir)
    val newTombRows = dirRowCount(tombDir)
    val deleted = if (deletedRows >= 0) deletedRows else newTombRows
    val totalTomb = p.tombRows + newTombRows
    if (totalTomb > compactionBudget) {
      // a wrong hint pre-wrote the delta segment — reclaim it (it was
      // never referenced by any manifest)
      if (segPreWritten) rmTree(Paths.get(segDir))
      // compact: parent live rows minus the fresh tombstones, plus newRows.
      // readVersion(parent) already applied older tombstones (and dropped
      // __seq for sequenced tables); the fresh ones apply by key alone —
      // every parent row was written before this commit
      val tombRaw = spark.read.parquet(tombDir).drop(SeqCol)
      val tomb =
        if (newTombRows <= broadcastTombRows) broadcast(tombRaw) else tombRaw
      val kept = readVersion(parentVersion).join(tomb,
        tombRaw.columns.toSeq, "left_anti")
      val merged = kept.unionByName(newRows.select(kept.columns.map(c =>
        org.apache.spark.sql.functions.col(c)): _*))
      val out = commit(merged, metrics, appendTo = Seq.empty, prevRows = 0L)
      // the tombstone dir is orphaned by the full rewrite — reclaim it
      rmTree(Paths.get(tombDir))
      out
    } else {
      val tombSegs = p.tombstones :+ v.toString
      if (segPreWritten) // segment already on disk from the concurrent write
        commitManifest(v.toString, metrics, p.segments, p.rows - deleted,
          tombSegs, totalTomb, expectVersion = v)
      else commit(newRows, metrics, p.segments, p.rows - deleted,
        tombSegs, totalTomb, expectVersion = v)
    }
  }

  /** `df` with the hidden sequence column of version v, on sequenced tables. */
  private def stamp(df: DataFrame, v: Long): DataFrame =
    if (sequenced) df.withColumn(SeqCol, org.apache.spark.sql.functions.lit(v))
    else df

  private def parquetFiles(dir: String): Seq[String] =
    listDir(Paths.get(dir))
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).sorted

  private def dirRowCount(dir: String): Long =
    parquetFiles(dir).map(f => footerRowCount(s"$dir/$f")).sum

  /** the version the next commit creates; `expect` ≥ 0 asserts it. */
  private def nextVersion(expect: Long): Long = {
    val v = currentVersion + 1
    require(expect < 0 || expect == v,
      s"concurrent commit detected: expected $expect, at $v")
    v
  }

  private def commit(df: DataFrame, metrics: Map[String, String],
      appendTo: Seq[String], prevRows: Long,
      tombSegs: Seq[String] = Seq.empty, tombRows: Long = 0L,
      expectVersion: Long = -1L): (Long, Long) = {
    val v = nextVersion(expectVersion)
    stamp(df, v).write.mode("overwrite").parquet(s"$root/segments/$v")
    commitManifest(v.toString, metrics, appendTo, prevRows, tombSegs, tombRows,
      expectVersion = v)
  }

  /** manifest-only commit step: record `segEntry` (a local segment name, or
    * an ABSOLUTE shared dir from [[commitAppendRef]]) as snapshot v's new
    * segment. Row count comes straight from the parquet footers on the
    * driver — no Spark job (a count() per commit was ~3 driver round-trips
    * per crawl round of pure scheduling overhead).
    */
  private def commitManifest(segEntry: String, metrics: Map[String, String],
      appendTo: Seq[String], prevRows: Long,
      tombSegs: Seq[String] = Seq.empty, tombRows: Long = 0L,
      expectVersion: Long = -1L): (Long, Long) = {
    val v = nextVersion(expectVersion)
    val segDir = segPath(segEntry)
    val files = parquetFiles(segDir)
    val segRows = files.map(f => footerRowCount(s"$segDir/$f")).sum
    val rows = prevRows + segRows
    val snap = Snapshot(v, appendTo :+ segEntry, tombSegs, files, metrics ++ Map(
      "parentVersion" -> (v - 1).toString,
      "rows" -> rows.toString,
      "segmentRows" -> segRows.toString,
      "tombRows" -> tombRows.toString))
    Files.createDirectories(metaPath(v).getParent)
    Files.writeString(metaPath(v), StateFiles.renderSnapshot(snap))
    StateFiles.writeLongs(manifestPath, "current" -> v)
    (v, rows)
  }

  private def footerRowCount(file: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file),
      spark.sessionState.newHadoopConf())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** every segment / tombstone entry referenced by any snapshot in
    * [max(0, from), currentVersion] — crash-orphan snapshots in that range
    * included, so a conservative GC never deletes what a resume (which
    * anchors at the checkpointed version ≥ `from`) could still read.
    */
  def referencedEntries(from: Long): (Set[String], Set[String]) = {
    val snaps = (math.max(0L, from) to currentVersion).flatMap(snapshot)
    (snaps.flatMap(_.segments).toSet, snaps.flatMap(_.tombstones).toSet)
  }

  /** Expire storage not referenced by any snapshot ≥ `from` (the Iceberg
    * `expire_snapshots` analog for this shim): deletes LOCAL segment and
    * tombstone dirs outside the retain sets and the metas of snapshots
    * below `from`. `extraRetain` holds claims other tables have on THIS
    * table's local segments via [[commitAppendRef]] (pass the ref paths;
    * matching is by resolved path). Absolute entries in this table's own
    * manifests are external and never touched. Time travel below `from`
    * stops working, exactly like Iceberg snapshot expiry.
    */
  def expireBefore(from: Long, extraRetain: Set[String] = Set.empty): (Int, Int) = {
    val (segs, tombs) = referencedEntries(from)
    val keepSegs = segs.filterNot(_.startsWith("/")) ++
      extraRetain.collect {
        case p if p.startsWith(s"$root/segments/") =>
          p.stripPrefix(s"$root/segments/")
      }
    def sweep(kind: String, keep: Set[String]): Int = {
      val dead = listDir(Paths.get(root, kind))
        .filterNot(p => keep.contains(p.getFileName.toString))
      dead.foreach(rmTree)
      dead.size
    }
    val deletedSegs = sweep("segments", keepSegs)
    val deletedTombs = sweep("tombstones", tombs.filterNot(_.startsWith("/")))
    (0L until math.max(0L, from)).foreach { v =>
      Files.deleteIfExists(metaPath(v))
      Files.deleteIfExists(metaPath(v).getParent)
    }
    (deletedSegs, deletedTombs)
  }

  /** Drop the whole table (S9 cleanup sink, RiverWeb.java:482-508). */
  def drop(): Unit = rmTree(Paths.get(root))
}

object SnapshotTable {
  /** hidden per-segment sequence column of `sequenced` tables. */
  val SeqCol = "__seq"

  /** One committed snapshot, the typed `snapshots/<v>/meta.json` (keys on
    * [[SnapshotTable]]); `metrics` holds every string field.
    */
  final case class Snapshot(
      version: Long,
      segments: Seq[String],
      tombstones: Seq[String],
      newFiles: Seq[String],
      metrics: Map[String, String]) {
    /** live rows (data rows minus tombstoned rows). */
    def rows: Long = metrics.get("rows").fold(0L)(_.toLong)
    /** accumulated tombstone rows. */
    def tombRows: Long = metrics.get("tombRows").fold(0L)(_.toLong)
  }

  /** driver pool for the concurrent tombstone+segment delta write
    * ([[SnapshotTable.commitDeltaTo]] with a tombstone-rows hint).
    */
  private[frontier] lazy val writeEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(2, r => {
        val t = new Thread(r, "graft-delta-write"); t.setDaemon(true); t
      }))

  /** Default read-side BROADCAST budget for accumulated tombstones
    * (~60 B/row ⇒ ~60 MB broadcast at the cap). No longer a compaction
    * trigger: below it merge-on-read is a map-side BroadcastHashJoin,
    * above it a shuffled anti-join — compaction fires only at live/4
    * tombstones, so rewrite amortization (4 rows/claim) is independent of
    * table size.
    */
  val MaxTombRows: Long = 1000000L

  /** Files.list with the stream closed (it holds a directory fd open —
    * leaking one per commit starves a long-running daemon of fds).
    */
  private def listDir(p: Path): Seq[Path] = {
    val st = Files.list(p)
    try st.iterator().asScala.toSeq finally st.close()
  }

  /** delete a file or a directory tree (missing is fine). */
  private def rmTree(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(rmTree)
    Files.deleteIfExists(p)
  }
}

/** The one codec for crawl state files: snapshot metas, and the flat
  * number-valued records (a table's `manifest.json` head pointer, the
  * crawl's `round.json` checkpoint) — json4s-jackson, like the config
  * loader. Also the one atomic replace (write a sibling temp file, then
  * rename over the target) those pointers and the seen-bloom sidecar use.
  */
private[graft] object StateFiles {
  import SnapshotTable.Snapshot

  def parseSnapshot(json: String): Snapshot = {
    val fields = objectFields(json)
    def list(key: String): Seq[String] = fields.collectFirst {
      case (`key`, JArray(xs)) => xs.collect { case JString(s) => s }
    }.getOrElse(Seq.empty)
    Snapshot(longsOf(fields).getOrElse("version", -1L),
      list("segments"), list("tombstones"), list("newFiles"),
      fields.collect { case (k, JString(s)) => k -> s }.toMap)
  }

  /** `version` first, the metrics in key order, then the three lists. */
  def renderSnapshot(s: Snapshot): String = {
    def strs(xs: Seq[String]) = JArray(xs.map(JString(_)).toList)
    JsonMethods.pretty(JObject(
      ("version" -> JLong(s.version)) ::
        s.metrics.toList.sortBy(_._1).map { case (k, q) => k -> JString(q) } :::
        List("segments" -> strs(s.segments), "tombstones" -> strs(s.tombstones),
          "newFiles" -> strs(s.newFiles)))) + "\n"
  }

  /** the number fields of a flat JSON object file; None if it is absent. */
  def readLongs(path: Path): Option[Map[String, Long]] =
    if (!Files.exists(path)) None
    else Some(longsOf(objectFields(Files.readString(path))))

  /** atomically replace `path` with a flat JSON object of numbers. */
  def writeLongs(path: Path, fields: (String, Long)*): Unit =
    atomicWrite(path)(_.write(JsonMethods.compact(JObject(fields.map {
      case (k, n) => JField(k, JLong(n))
    }.toList)).getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** write `path` via a sibling temp file renamed over it: readers (and a
    * resume after a crash) see the old content or the new, never a torn file.
    */
  def atomicWrite(path: Path)(write: OutputStream => Unit): Unit = {
    val tmp = path.resolveSibling(s".${path.getFileName}.tmp")
    val out = new BufferedOutputStream(Files.newOutputStream(tmp))
    try write(out) finally out.close()
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def objectFields(json: String): List[(String, JValue)] =
    JsonMethods.parse(json) match {
      case JObject(fs) => fs
      case _ => Nil
    }

  private def longsOf(fields: List[(String, JValue)]): Map[String, Long] =
    fields.collect {
      case (k, JInt(n)) => k -> n.toLong
      case (k, JLong(n)) => k -> n
    }.toMap
}
