package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned-snapshot table layout — the transactional storage
  * contract a 100 TB lake needs, reduced to its load-bearing parts
  * (the Delta/Iceberg idea, self-contained and dependency-free):
  *
  *  - DATA files are immutable parquet, written once under
  *    `root/data/<uuid>/`, never mutated or renamed.
  *  - Every commit atomically publishes ONE manifest
  *    `root/_log/v<NNNNN>.manifest` naming the commit's files with
  *    per-file row counts and min/max of a declared STAT column.
  *    Atomicity rides on `Files.createFile` (fails if the version
  *    exists), so two concurrent committers can never both claim a
  *    version — the loser retries at the next number (optimistic
  *    concurrency; its already-written data files are simply claimed
  *    by the later manifest).
  *  - READERS resolve the manifest list as of any version — `append`
  *    adds files, `overwrite` resets the list — so every read is a
  *    consistent snapshot, time travel is "stop replaying earlier",
  *    and nothing a reader holds can be deleted out from under it.
  *  - The manifest's min/max enable FILE SKIPPING above the format
  *    tier: a range predicate on the stat column prunes whole files
  *    from the listing before Spark ever opens a footer — at scale
  *    the difference between listing 10⁶ files and reading the three
  *    that overlap.
  *  - READ-MODIFY-WRITE commits (merge, compact, delete) validate
  *    against the log on publish: any version that landed since their
  *    snapshot is either REBASED over (a non-conflicting concurrent
  *    append rides into the new live set untouched) or REFUSED with a
  *    `ConcurrentModificationException` (an append intersecting the
  *    rewritten key range, or any concurrent overwrite — the Delta
  *    conflict-checker contract). A blind `commit(action="overwrite")`
  *    is declared last-writer-wins truncate-and-replace and does not
  *    rebase.
  *  - Every `checkpointInterval`-th commit also writes
  *    `root/_log/c<NNNNN>.checkpoint` holding the RESOLVED state (live
  *    file list + seen streaming batch ids) as of that version, so
  *    readers and the exactly-once sink replay only the log tail —
  *    O(tail) manifest reads per snapshot instead of O(versions)
  *    (what `_last_checkpoint` buys Delta). Checkpoints are an
  *    optimization only: a missing or unreadable checkpoint falls
  *    back to full replay.
  *
  *  - Every manifest also records the TABLE SCHEMA as of its version
  *    (`schema=` header: the serialized StructType — prior schema
  *    unioned with the commit's frame for appends, the rewrite's
  *    resolved union for overwrites), so COLD SCHEMA RESOLUTION reads
  *    exactly ONE log file and ZERO parquet footers — O(1) in both
  *    commit count and file count (Delta's metaData action). An empty
  *    live set (everything deleted, an empty overwrite) stays
  *    readable: the schema survives in the manifest even when no data
  *    file does. Logs written before this header fall back to
  *    footer-union inference.
  *
  * Manifest format (line-oriented, no JSON dependency):
  * {{{
  * action=append|overwrite
  * schema=<StructType json>  (optional — absent only in legacy logs)
  * batch=<id>          (optional — streaming commits only)
  * <path>\t<rows>\t<col>=<min>:<max>[,<col>=<min>:<max>...]
  * }}}
  *
  * Checkpoint format: `version=<v>`, zero or more `batch=<id>` lines,
  * then file lines identical to a manifest's.
  *
  * Stats come from the task writer that writes each file, and every
  * read — snapshot, pruned, change diff, or a rewrite inside
  * compact/merge/delete — is one DSv2 snap scan over an explicit file
  * list (see [[readFiles]]).
  */
object SnapTable {

  /** UTF-8 BYTE-SPACE string statistics. String boxes live in the
    * byte-lexicographic order of the column's UTF-8 encoding — the
    * order Spark's UTF8String binary comparison (and parquet's
    * BINARY min/max) already uses — NEVER java.lang.String's UTF-16
    * code-unit order, which disagrees beyond the BMP (surrogates at
    * 0xD800 sort below U+E000 in UTF-16 but above it in UTF-8 bytes).
    * All comparisons, truncation, and the safe-upper-bound increment
    * therefore operate on raw byte arrays; manifests store them
    * url-base64 (no padding), so a prefix cut mid-codepoint is
    * representable and still orders correctly.
    */
  private[graft] object StrStat {
    /** Stored prefix length in BYTES (Delta truncates at 32 chars;
      * 64 bytes keeps boxes tight on real-world keys while bounding
      * manifest growth at any file count).
      */
    def maxLen: Int =
      sys.props.get("graft.snap.strStatLen").map(_.toInt).getOrElse(64)
    /** String columns tracked per table, in schema order (a cap, not
      * a selection API: wide document schemas should not pay stats
      * for every free-text column).
      */
    def maxCols: Int =
      sys.props.get("graft.snap.strStatCols").map(_.toInt).getOrElse(8)

    def enc(b: Array[Byte]): String =
      java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(b)
    def dec(s: String): Array[Byte] =
      java.util.Base64.getUrlDecoder.decode(s)

    /** Unsigned byte-lexicographic compare — UTF8String binary order. */
    def cmp(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }

    /** The truncated-prefix contract: a stored prefix is a valid
      * LOWER bound as-is (a prefix never exceeds its string), but a
      * truncated MAX needs an upper bound ABOVE every string sharing
      * the prefix — increment the last non-0xFF byte and drop the
      * tail. `None` (all 0xFF — degenerate) means no finite upper
      * bound exists and the max side cannot prune.
      */
    def safeUpper(p: Array[Byte]): Option[Array[Byte]] = {
      var i = p.length - 1
      while (i >= 0 && (p(i) & 0xff) == 0xff) i -= 1
      if (i < 0) None
      else {
        val r = java.util.Arrays.copyOfRange(p, 0, i + 1)
        r(i) = ((r(i) & 0xff) + 1).toByte
        Some(r)
      }
    }

    /** Truncate raw value bytes to the stored prefix. */
    def prefixOfBytes(b: Array[Byte]): (String, Boolean) =
      if (b.length <= maxLen) (enc(b), false)
      else (enc(java.util.Arrays.copyOfRange(b, 0, maxLen)), true)
  }

  /** Per-file box for one STRING column: url-base64 UTF-8 prefixes of
    * the file's min/max, truncation flags, and the null count.
    * `allNull` marks a file whose column holds no value at all — any
    * value predicate on the column prunes it outright.
    */
  final case class StrBox(minB64: String, minTrunc: Boolean,
      maxB64: String, maxTrunc: Boolean, nulls: Long,
      allNull: Boolean) {
    def minBytes: Array[Byte] = StrStat.dec(minB64)
    def maxBytes: Array[Byte] = StrStat.dec(maxB64)
    /** Exclusive upper bound valid even when truncated; None = the
      * max side cannot prune (degenerate all-0xFF prefix).
      */
    def upperExclusive: Option[Array[Byte]] =
      if (!maxTrunc) None else StrStat.safeUpper(maxBytes)
  }

  /** Per-file stats over one or more columns; the FIRST column is the
    * primary (shaping + single-column pruning APIs), additional
    * columns enable multi-dimensional file skipping — the Z-order
    * synergy: files clustered in 2-D carry tight boxes in BOTH
    * dimensions, so a rectangle predicate prunes on each.
    */
  final case class FileStat(path: String, rows: Long,
      stats: Seq[(String, (Long, Long))],
      nullCounts: Seq[(String, Long)] = Nil,
      sums: Seq[(String, Long)] = Nil,
      dv: Option[(String, Long)] = None,
      strStats: Seq[(String, StrBox)] = Nil,
      blooms: Seq[(String, String)] = Nil) {
    def min: Long = stats.head._2._1
    def max: Long = stats.head._2._2
    /** Rows a reader of this file emits: the physical row count minus
      * the DELETION VECTOR's entries. `rows` stays the physical count
      * (position space); this is the live count.
      */
    def liveRows: Long = rows - dv.fold(0L)(_._2)
    def range(colName: String): Option[(Long, Long)] =
      stats.collectFirst { case (c, r) if c == colName => r }
    /** NULLs in the column within this file — `None` for manifests
      * written before null counts existed (callers must then assume
      * nulls MAY be present). What makes a box containment proof a
      * row containment proof: box ⊆ bound AND zero nulls ⇒ EVERY row
      * of the file satisfies the bound.
      */
    def nullCount(colName: String): Option[Long] =
      nullCounts.collectFirst { case (c, n) if c == colName => n }
    /** SUM of the column's non-null values within this file — `None`
      * for legacy manifests or when the per-file sum overflowed a
      * long at write time. What turns SUM(k) into a manifest fold.
      */
    def colSum(colName: String): Option[Long] =
      sums.collectFirst { case (c, v) if c == colName => v }
    /** String box for the column — `None` for non-string columns and
      * manifests written before string stats existed (no pruning).
      */
    def strBox(colName: String): Option[StrBox] =
      strStats.collectFirst { case (c, b) if c == colName => b }
    /** BLOOM sidecar path for the column — `None` when the table
      * declares no bloom for it (point lookups then cannot prune
      * through this file; never wrong, just unpruned).
      */
    def bloomPath(colName: String): Option[String] =
      blooms.collectFirst { case (c, p) if c == colName => p }
  }
  /** `props`: the FULL table-property map as of this commit, carried
    * as `prop.<k>=<v>` headers. Non-empty only in commits that SET
    * properties (CREATE TABLE's v1; a layout evolution's overwrite;
    * a stat-column rename) — the property map is versioned log state,
    * resolved exactly like the file list (see [[resolveProps]]), so a
    * layout swap and its data rewrite are ONE atomic claim: no crash
    * window can leave file tags and the table's declared layout
    * disagreeing.
    */
  final case class Manifest(version: Int, action: String,
      files: Seq[FileStat], batchId: Option[Long] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      commitTs: Option[Long] = None,
      rowOp: Option[String] = None,
      postimages: Set[String] = Set.empty,
      props: Map[String, String] = Map.empty)

  private final case class Checkpoint(version: Int, files: Seq[FileStat],
      batchIds: Set[Long], props: Map[String, String] = Map.empty)

  /** Commits between checkpoints; small enough that the replay tail
    * stays a handful of reads, large enough that checkpoint writes
    * (one resolved-state file each) stay rare. System property so the
    * log layer needs no SparkSession.
    */
  private def checkpointInterval: Int =
    sys.props.get("graft.snap.checkpointInterval").map(_.toInt).getOrElse(20)

  /** Distinct merge keys collected for per-file pruning before the
    * envelope fallback kicks in (the key set is the merge's working
    * set — bounded in any sane upsert; the cap is a driver-memory
    * guard, not a semantic limit).
    */
  private[graft] def mergeKeyLimit: Int =
    sys.props.get("graft.snap.mergeKeyLimit").map(_.toInt).getOrElse(100000)

  /** Manifest files physically read — test instrumentation for the
    * checkpoint contract (a snapshot read after N commits must replay
    * only the tail, not the whole log).
    */
  private[graft] val manifestFilesRead =
    new java.util.concurrent.atomic.AtomicLong(0L)

  // all log/writer I/O goes through the SnapIo seam: bare paths stay
  // on java.nio (atomic local claims), scheme'd paths (file:/hdfs:/
  // s3a:) route through the Hadoop FileSystem API — same connector,
  // cluster storage
  private def logDir(root: String): String = SnapIo.child(root, "_log")

  private def manifestPath(root: String, v: Int): String =
    SnapIo.child(logDir(root), f"v$v%05d.manifest")

  private def checkpointPath(root: String, v: Int): String =
    SnapIo.child(logDir(root), f"c$v%05d.checkpoint")

  /** CHECKPOINT-TIER bloom pack path (one per column, BY CONVENTION
    * next to its checkpoint — no header/format change): the
    * per-commit `_agg.<col>.bf` aggregates of every commit directory
    * live at the checkpoint, concatenated into one sidecar. A cold
    * point-lookup then pays ONE sequential pack read for all
    * pre-checkpoint commits plus per-commit probes only for the tail
    * above it — the same horizon contract the checkpoint already
    * gives file-list and props resolution. Best-effort like the
    * checkpoint itself: a missing/corrupt pack only means per-commit
    * fallback probes.
    */
  private[graft] def bloomPackPath(root: String, v: Int,
      col: String): String =
    SnapIo.child(logDir(root), f"c$v%05d.bloom.$col.bfpack")

  /** Newest checkpoint version at or below `asOf` (listing only) —
    * the pack horizon the scan's bloom pruning keys on.
    */
  private[graft] def latestCheckpointVersion(root: String,
      asOf: Option[Int]): Option[Int] =
    listCheckpointVersions(root)
      .filter(v => asOf.forall(v <= _)).lastOption

  /** Committed version numbers in order — one directory listing, zero
    * file reads. `\d{5,}` + full-digit-run parse: the writer pads to
    * five digits but f"%05d" simply grows past 99999, so versions
    * ≥ 100000 must stay visible (numeric sort, not lexicographic).
    */
  private def listVersions(root: String): Seq[Int] = {
    val dir = logDir(root)
    if (!SnapIo.isDir(dir)) return Nil
    SnapIo.listNames(dir)
      .collect { case n if n.matches("v\\d{5,}\\.manifest") =>
        n.substring(1, n.indexOf('.')).toInt }
      .sorted
  }

  private def listCheckpointVersions(root: String): Seq[Int] = {
    val dir = logDir(root)
    if (!SnapIo.isDir(dir)) return Nil
    SnapIo.listNames(dir)
      .collect { case n if n.matches("c\\d{5,}\\.checkpoint") =>
        n.substring(1, n.indexOf('.')).toInt }
      .sorted
  }

  private def parseFileLine(l: String): FileStat = {
    val c = l.split('\t')
    // col=min:max (legacy), col=min:max:nullCount, or
    // col=min:max:nullCount:sum ("-" sum = overflowed at write time)
    val parts = c(2).split(',').toSeq.map { s =>
      val Array(name, mm) = s.split('=')
      val nums = mm.split(':')
      (name, (nums(0).toLong, nums(1).toLong),
        if (nums.length > 2) Some(nums(2).toLong) else None,
        if (nums.length > 3 && nums(3) != "-") Some(nums(3).toLong)
        else None)
    }
    // optional 4th field: dv=<sidecar path>:<deleted row count> — the
    // file's DELETION VECTOR (merge-on-read row-level ops)
    val dv = c.drop(3).collectFirst {
      case s if s.startsWith("dv=") =>
        val body = s.stripPrefix("dv=")
        val cut = body.lastIndexOf(':')
        (body.substring(0, cut), body.substring(cut + 1).toLong)
    }
    // optional field: str=<col>=<b64min>[*]:<b64max>[*]:<nulls>[,...]
    // (`*` = truncated side; `!:<nulls>` = all-null column). Absent in
    // manifests written before string stats existed.
    val strs = c.drop(3).collectFirst {
      case s if s.startsWith("str=") =>
        s.stripPrefix("str=").split(',').toSeq.map { tok =>
          val eq = tok.indexOf('=')
          val name = tok.substring(0, eq)
          val body = tok.substring(eq + 1).split(":", -1)
          if (body(0) == "!")
            name -> StrBox("", minTrunc = false, "", maxTrunc = false,
              body(1).toLong, allNull = true)
          else {
            def part(p: String): (String, Boolean) =
              if (p.endsWith("*")) (p.dropRight(1), true) else (p, false)
            val (mn, mnT) = part(body(0))
            val (mx, mxT) = part(body(1))
            name -> StrBox(mn, mnT, mx, mxT, body(2).toLong,
              allNull = false)
          }
        }
    }.getOrElse(Nil)
    // optional field: bloom=<col>=<sidecar path>[,...] — per-column
    // bloom sketches for point-lookup file skipping
    val blooms = c.drop(3).collectFirst {
      case s if s.startsWith("bloom=") =>
        s.stripPrefix("bloom=").split(',').toSeq.map { tok =>
          val eq = tok.indexOf('=')
          tok.substring(0, eq) -> tok.substring(eq + 1)
        }
    }.getOrElse(Nil)
    FileStat(c(0), c(1).toLong, parts.map(p => p._1 -> p._2),
      parts.collect { case (n, _, Some(nc), _) => n -> nc },
      parts.collect { case (n, _, _, Some(sm)) => n -> sm },
      dv, strs, blooms)
  }

  private def fileLine(f: FileStat): String =
    s"${f.path}\t${f.rows}\t" +
      f.stats.map { case (c, (mn, mx)) =>
        (f.nullCount(c), f.colSum(c)) match {
          case (Some(nc), Some(sm)) => s"$c=$mn:$mx:$nc:$sm"
          case (Some(nc), None) => s"$c=$mn:$mx:$nc:-"
          case _ => s"$c=$mn:$mx"
        }
      }.mkString(",") +
      f.dv.fold("") { case (p, n) => s"\tdv=$p:$n" } +
      (if (f.strStats.isEmpty) ""
      else "\tstr=" + f.strStats.map { case (c, b) =>
        if (b.allNull) s"$c=!:${b.nulls}"
        else s"$c=${b.minB64}${if (b.minTrunc) "*" else ""}:" +
          s"${b.maxB64}${if (b.maxTrunc) "*" else ""}:${b.nulls}"
      }.mkString(",")) +
      (if (f.blooms.isEmpty) ""
      else "\tbloom=" + f.blooms.map { case (c, p) => s"$c=$p" }
        .mkString(","))

  private def readManifest(root: String, v: Int): Manifest = {
    manifestFilesRead.incrementAndGet()
    val lines = SnapIo.readLines(manifestPath(root, v))
    val (header, body) =
      lines.partition(l => l.contains('=') && !l.contains('\t'))
    val action = header.collectFirst {
      case h if h.startsWith("action=") => h.stripPrefix("action=") }.get
    val batchId = header.collectFirst {
      case h if h.startsWith("batch=") => h.stripPrefix("batch=").toLong }
    val schema = header.collectFirst {
      case h if h.startsWith("schema=") =>
        org.apache.spark.sql.types.DataType
          .fromJson(h.stripPrefix("schema="))
          .asInstanceOf[org.apache.spark.sql.types.StructType] }
    val ts = header.collectFirst {
      case h if h.startsWith("ts=") => h.stripPrefix("ts=").toLong }
    val rowOp = header.collectFirst {
      case h if h.startsWith("rowop=") => h.stripPrefix("rowop=") }
    val postimages = header.collectFirst {
      case h if h.startsWith("postimages=") =>
        h.stripPrefix("postimages=").split(',').filter(_.nonEmpty).toSet
    }.getOrElse(Set.empty[String])
    Manifest(v, action, body.filter(_.nonEmpty).map(parseFileLine), batchId,
      schema, ts, rowOp, postimages, propLines(header))
  }

  /** `prop.<k>=<v>` header lines → map (manifest and checkpoint
    * headers share the spelling).
    */
  private def propLines(header: Seq[String]): Map[String, String] =
    header.collect {
      case l if l.startsWith("prop.") && l.contains('=') =>
        val body = l.stripPrefix("prop.")
        val cut = body.indexOf('=')
        body.substring(0, cut) -> body.substring(cut + 1)
    }.toMap

  /** Field-metadata key carrying a column's PHYSICAL (parquet) name
    * when it differs from the logical one — what makes ALTER TABLE
    * RENAME COLUMN a pure log operation (old files keep their column;
    * readers request the physical name) and lets a dropped name be
    * re-added with a different type (the re-add gets a FRESH physical
    * name, so old files' stale column is never decoded as the new
    * type). Absent = physical == logical, the common case and every
    * pre-mapping table.
    */
  private[graft] val PhysKey = "snapPhys"

  private[graft] def physOf(f: org.apache.spark.sql.types.StructField)
      : String =
    if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey)
    else f.name

  /** logical → physical for the fields where they differ. */
  private[graft] def colMapOf(s: org.apache.spark.sql.types.StructType)
      : Map[String, String] =
    s.fields.iterator.flatMap { f =>
      val p = physOf(f)
      if (p != f.name) Some(f.name -> p) else None
    }.toMap

  private[graft] def colMap(root: String): Map[String, String] =
    tableSchema(root, None).map(colMapOf).getOrElse(Map.empty)

  /** Schema as written to a manifest header: every field nullable (a
    * snapshot unions files of many commits — absence is null) and
    * metadata stripped EXCEPT the physical-name mapping (keeps the
    * serialized line free of arbitrary user strings; names, types and
    * the phys mapping are the whole contract).
    */
  private def normalizeSchema(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(s.fields.toSeq.map { f =>
      val md =
        if (f.metadata.contains(PhysKey))
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString(PhysKey, f.metadata.getString(PhysKey)).build()
        else org.apache.spark.sql.types.Metadata.empty
      org.apache.spark.sql.types.StructField(f.name, f.dataType,
        nullable = true, metadata = md)
    })

  /** Union in order, first occurrence of a name wins its type —
    * additive evolution: a later schema only appends new columns.
    */
  private def unionSchemas(ss: Seq[org.apache.spark.sql.types.StructType])
      : org.apache.spark.sql.types.StructType = {
    val fields = scala.collection.mutable.LinkedHashMap
      .empty[String, org.apache.spark.sql.types.StructField]
    ss.foreach(_.fields.foreach(f =>
      if (!fields.contains(f.name)) fields += f.name -> f))
    normalizeSchema(org.apache.spark.sql.types.StructType(
      fields.values.toSeq))
  }

  /** Table schema as of a version, resolved from the log alone: the
    * newest manifest carries the full schema as of its commit, so this
    * is ONE manifest read and ZERO parquet footers. `None` only for
    * legacy logs whose newest manifest predates the schema header —
    * callers then fall back to footer-union inference.
    */
  def tableSchema(root: String,
      asOf: Option[Int] = None): Option[org.apache.spark.sql.types.StructType] =
    listVersions(root).filter(v => asOf.forall(v <= _)).lastOption
      .flatMap(v => readManifest(root, v).schema)

  /** Latest checkpoint at or below `asOf`, or None (missing/corrupt →
    * full replay; checkpoints are never a correctness dependency).
    */
  private def latestCheckpoint(root: String,
      asOf: Option[Int]): Option[Checkpoint] =
    listCheckpointVersions(root)
      .filter(v => asOf.forall(v <= _))
      .lastOption.flatMap { v =>
        try {
          val lines = SnapIo.readLines(checkpointPath(root, v))
          val (header, body) =
            lines.partition(l => l.contains('=') && !l.contains('\t'))
          val ver = header.collectFirst {
            case h if h.startsWith("version=") =>
              h.stripPrefix("version=").toInt }.get
          val batches = header.collect {
            case h if h.startsWith("batch=") =>
              h.stripPrefix("batch=").toLong }.toSet
          Some(Checkpoint(ver, body.filter(_.nonEmpty).map(parseFileLine),
            batches, propLines(header)))
        } catch { case _: Exception => None }
      }

  /** Committed manifests in version order, up to `asOf` inclusive —
    * the RAW log accessor (always reads every manifest; snapshot
    * resolution goes through the checkpoint-aware [[liveFiles]]).
    */
  def manifests(root: String, asOf: Option[Int] = None): Seq[Manifest] =
    listVersions(root).filter(v => asOf.forall(v <= _))
      .map(v => readManifest(root, v))

  /** Manifests with version in (after, asOf] — the replay tail above a
    * checkpoint or a rebase base. Exposed to the DSv2 streaming source
    * so a micro-batch reads ONLY the manifests of its version range,
    * not the whole log.
    */
  private[graft] def manifestsAfter(root: String, after: Int,
      asOf: Option[Int] = None): Seq[Manifest] =
    listVersions(root)
      .filter(v => v > after && asOf.forall(v <= _))
      .map(v => readManifest(root, v))

  /** Latest committed version (0 = empty table) — listing only. */
  def currentVersion(root: String): Int =
    listVersions(root).lastOption.getOrElse(0)

  /** Newest version committed at or before `tsMillis` — TIMESTAMP AS
    * OF resolution. Commit time comes from the manifest's `ts=`
    * header (robust to copies), falling back to the file's mtime for
    * legacy logs. None when the timestamp predates the first commit.
    * BINARY SEARCH over the (version-ordered, hence time-ordered)
    * listing: O(log versions) manifest reads — a million-commit log
    * resolves a timestamp in ~20 reads, not a directory-sized scan.
    * (Commit timestamps are non-decreasing in version order — one
    * writer clock domain per claim, and the claim serializes them;
    * sub-millisecond skew between racing writers moves the boundary
    * by at most the skew, the same contract every ts-ordered log
    * resolution makes.) Legacy logs can VIOLATE monotonicity — mtime
    * fallbacks after a log copy, multi-host clock skew — so every
    * probed (version, ts) pair is checked against the ones already
    * seen; the first out-of-order pair abandons the binary search for
    * the linear reverse scan, which always finds the newest version
    * with ts <= t regardless of ordering.
    */
  def versionAt(root: String, tsMillis: Long): Option[Int] = {
    val vs = listVersions(root).toIndexedSeq
    if (vs.isEmpty) return None
    def tsOf(v: Int): Long = readManifest(root, v).commitTs.getOrElse(
      SnapIo.mtime(manifestPath(root, v)))
    // probes so far, keyed by listing index — a new probe must be
    // >= every earlier-index probe and <= every later-index probe
    val probes = scala.collection.mutable.TreeMap.empty[Int, Long]
    def monotonic(i: Int, t: Long): Boolean =
      probes.rangeTo(i).lastOption.forall(_._2 <= t) &&
        probes.rangeFrom(i).headOption.forall(_._2 >= t)
    var lo = 0
    var hi = vs.length - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val t = tsOf(vs(mid))
      if (!monotonic(mid, t))
        // non-monotonic log: the invariant binary search rests on is
        // gone — fall back to the full reverse scan
        return vs.reverseIterator.find(v => tsOf(v) <= tsMillis)
      probes += mid -> t
      if (t <= tsMillis) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (ans < 0) None else Some(vs(ans))
  }

  /** Resolved (live files, seen batch ids) as of a version: start
    * from the newest usable checkpoint, replay only the tail.
    */
  private def resolveState(root: String,
      asOf: Option[Int]): (Seq[FileStat], Set[Long]) = {
    val ck = latestCheckpoint(root, asOf)
    val base = ck.map(c => (c.files, c.batchIds))
      .getOrElse((Seq.empty[FileStat], Set.empty[Long]))
    manifestsAfter(root, ck.map(_.version).getOrElse(0), asOf)
      .foldLeft(base) { case ((files, bids), m) =>
        val f2 = if (m.action == "overwrite") m.files else files ++ m.files
        (f2, bids ++ m.batchId)
      }
  }

  /** Earliest version whose snapshot is still fully materialized —
    * recorded by [[vacuum]] (the `_log/_retain` marker). `None` for a
    * never-vacuumed table. Reads below this version FAIL FAST at plan
    * time with a clear error instead of a mid-scan
    * FileNotFoundException (Delta's earliest-retained contract).
    */
  def retainedFrom(root: String): Option[Int] = {
    val p = SnapIo.child(logDir(root), "_retain")
    if (!SnapIo.isFile(p)) None
    else SnapIo.readLines(p).collectFirst {
      case l if l.startsWith("retain=") => l.stripPrefix("retain=").toInt
    }
  }

  private def checkRetained(root: String, asOf: Option[Int]): Unit =
    asOf.foreach { v =>
      retainedFrom(root).foreach { r =>
        if (v < r) throw new IllegalStateException(
          s"version $v of $root was vacuumed away — the earliest " +
            s"retained version is $r (vacuum recorded the horizon; " +
            "time travel below it would read deleted files)")
      }
    }

  /** The live file set as of a version: replay manifests; `overwrite`
    * resets, `append` accretes. Checkpoint-accelerated: O(tail), not
    * O(versions). Time travel below the vacuum horizon fails fast
    * (see [[retainedFrom]]); reading the CURRENT snapshot never pays
    * the marker check.
    */
  def liveFiles(root: String, asOf: Option[Int] = None): Seq[FileStat] = {
    checkRetained(root, asOf)
    resolveState(root, asOf)._1
  }

  /** The stat column as a LONG in its manifest box encoding — the
    * TYPED-BOX contract: integers as themselves, DateType as EPOCH
    * DAYS, TimestampType as EPOCH MICROS. The read side converts
    * filter literals of those types to the same encoding, so file
    * skipping, exact absorption and MIN/MAX pushdown work on the
    * columns a real lakehouse filters by — time. (The encoding is
    * determined by the column's TYPE, never stored: a manifest box is
    * only ever compared against literals of that same column.)
    */
  private[graft] def statLong(schema: org.apache.spark.sql.types.StructType,
      c: String): Column = {
    import org.apache.spark.sql.types.{DateType, TimestampType}
    schema.fields.find(_.name == c).map(_.dataType) match {
      case Some(DateType) => unix_date(col(c)).cast("long")
      case Some(TimestampType) => unix_micros(col(c))
      case _ => col(c).cast("long")
    }
  }

  /** Write `df` under `root/data/<uuid>/` as one commit's files and
    * return their stats. `filesPerCommit` shapes the frame: `1` is one
    * file, `n` range-partitions on the primary stat column, and `-1`
    * keeps a frame the caller already shaped (compactZ, the bucket and
    * cell routers). Every partition then runs one [[SnapDataWriter]] —
    * the task writer the DSv2 write uses — which computes its file's
    * boxes, null counts, sums, string boxes and blooms while writing,
    * so the stats come from committed task messages and no pass reads
    * the new files back. A speculative or retried attempt's file is
    * never in the collected messages, so it cannot inflate the stats.
    */
  private def writeFiles(df: DataFrame, root: String,
      statCols: Seq[String], filesPerCommit: Int): Seq[FileStat] = {
    import org.apache.spark.sql.types._
    val dataDir = SnapIo.child(root, "data",
      java.util.UUID.randomUUID().toString)
    // every frame arrives under LOGICAL names (rewrites read through
    // readFiles): stats key by them, and the writer maps them to the
    // physical parquet columns
    val cmap = colMap(root)
    val schema = org.apache.spark.sql.graft.SchemaShim.asNullable(df.schema)
    def field(c: String): StructField =
      schema.fields.find(_.name == c)
        .orElse(schema.fields.find(_.name.equalsIgnoreCase(c)))
        .getOrElse(throw new IllegalArgumentException(
          s"statCols column $c is not in the written schema " +
            schema.fieldNames.mkString("[", ",", "]")))
    statCols.foreach { c =>
      val dt = field(c).dataType
      require(Seq(LongType, IntegerType, ShortType, ByteType, DateType,
        TimestampType).contains(dt),
        s"statCols column $c must be bigint/int/date/timestamp, is $dt")
    }
    val shaped =
      if (filesPerCommit == -1) df // pre-shaped
      else if (filesPerCommit == 1) df.coalesce(1)
      else df.repartitionByRange(filesPerCommit,
        col(df.columns(schema.fieldIndex(field(statCols.head).name))))
    // declared BLOOM columns (table property `bloomCols`): one sketch
    // per (file, column) plus the commit's `_agg.<col>.bf`
    val bloomCols = tableProperty(root, "bloomCols")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)
      .filter(c => schema.fieldNames.contains(c))
    bloomCols.foreach { c =>
      val dt = field(c).dataType
      require(Seq(LongType, IntegerType, ShortType, ByteType, DateType,
        TimestampType, StringType, BinaryType).contains(dt),
        s"bloomCols column $c must be bigint/int/date/timestamp/" +
          s"string/binary, is $dt")
    }
    val bloomDir =
      if (bloomCols.isEmpty) null
      else SnapIo.child(root, "bloom", java.util.UUID.randomUUID().toString)
    val factory = graft.sources.SnapWriterFactory(dataDir, schema,
      statCols, physMap = cmap, bloomCols = bloomCols, bloomDir = bloomDir)
    // one tracked SQL execution, so query listeners attribute its jobs
    val qe = shaped.queryExecution
    val messages = org.apache.spark.sql.execution.SQLExecution
      .withNewExecutionId(qe, Some("snapWrite")) {
        qe.toRdd.mapPartitionsWithIndex((pid, rows) =>
          Iterator.single(factory.writeAll(pid, rows))).collect()
      }.toSeq
    graft.sources.SnapSource.writeCommitAgg(bloomDir, messages, schema, cmap)
    messages.flatMap(_.files).sortBy(_.path)
  }

  private def manifestBody(action: String, files: Seq[FileStat],
      batchId: Option[Long],
      schema: Option[org.apache.spark.sql.types.StructType],
      extraHeaders: Seq[String] = Nil): String =
    (Seq(s"action=$action", s"ts=${System.currentTimeMillis()}") ++
      schema.map(s => s"schema=${normalizeSchema(s).json}") ++
      batchId.map(b => s"batch=$b") ++ extraHeaders ++
      files.map(fileLine)).mkString("", "\n", "\n")

  /** Atomically claim version `v` (CREATE_NEW: throws
    * FileAlreadyExistsException if a concurrent winner holds it).
    */
  private def writeManifestFile(root: String, v: Int, action: String,
      files: Seq[FileStat], batchId: Option[Long],
      schema: Option[org.apache.spark.sql.types.StructType],
      extraHeaders: Seq[String] = Nil): Unit = {
    SnapIo.mkdirs(logDir(root))
    SnapIo.createNew(manifestPath(root, v),
      manifestBody(action, files, batchId, schema, extraHeaders)
        .getBytes("UTF-8"))
  }

  /** After landing version `v`, maybe persist the resolved state as a
    * checkpoint. Best-effort by design: any failure (concurrent
    * checkpointer, IO) leaves readers on full-tail replay.
    */
  private def maybeCheckpoint(root: String, v: Int): Unit =
    if (v % checkpointInterval == 0) {
      try {
        val (files, bids) = resolveState(root, Some(v))
        // fold the property map as of v into the checkpoint (same
        // role as the resolved file list): [[resolveProps]] then
        // replays only the tail above it, and a property-setting
        // commit is never lost below a checkpoint horizon
        val props = resolveProps(root, Some(v))
        val body = (Seq(s"version=$v") ++
          bids.toSeq.sorted.map(b => s"batch=$b") ++
          props.toSeq.sortBy(_._1).map { case (k, p) => s"prop.$k=$p" } ++
          files.map(fileLine)).mkString("", "\n", "\n")
        SnapIo.createNew(checkpointPath(root, v), body.getBytes("UTF-8"))
        writeBloomPacks(root, v, files)
        pruneCheckpoints(root, v)
      } catch { case _: Exception => () }
    }

  /** Checkpoints retained after a new one lands (newest N). */
  private def checkpointsKept: Int =
    sys.props.get("graft.snap.checkpointsKept").map(_.toInt).getOrElse(2)

  /** Drop superseded checkpoints (and their bloom packs). Checkpoints
    * are pure ACCELERATION — the manifests remain the log's truth —
    * so deleting an old one only means a deep-history read replays a
    * longer manifest tail; correctness is untouched (and a reader
    * racing the delete falls back to full replay). Without this, a
    * streaming table's `_log` accrues one resolved-state file (plus
    * packs) per 20 commits FOREVER — an O(commits) storage and
    * listing term. Keeping the newest two also guarantees the
    * incremental pack writer always finds its predecessor.
    */
  private def pruneCheckpoints(root: String, v: Int): Unit = {
    val doomed = listCheckpointVersions(root).filter(_ <= v)
      .dropRight(checkpointsKept)
    doomed.foreach { cv =>
      try {
        SnapIo.delete(checkpointPath(root, cv))
        SnapIo.listNames(logDir(root))
          .filter(n => n.startsWith(f"c$cv%05d.bloom.") &&
            n.endsWith(".bfpack"))
          .foreach(n => SnapIo.delete(SnapIo.child(logDir(root), n)))
      } catch { case _: Exception => () }
    }
  }

  /** Fold the live commits' aggregate bloom sidecars into per-column
    * checkpoint packs (see [[bloomPackPath]]). INCREMENTAL: entries
    * still live in the previous checkpoint's pack are carried forward
    * without re-reading their commit sidecars, so a checkpoint costs
    * O(commits since the last one) aggregate reads, not O(all
    * commits). Keys are commit-dir UUIDs — rename-invariant, no
    * binary rewrite on table moves. Per-column best-effort: failure
    * just leaves planning on per-commit fallback probes.
    */
  private def writeBloomPacks(root: String, v: Int,
      files: Seq[FileStat]): Unit = {
    import graft.sources.SnapBloomSkip
    val cols = files.flatMap(_.blooms.map(_._1)).distinct
    if (cols.isEmpty) return
    val prevCk = listCheckpointVersions(root).filter(_ < v).lastOption
    cols.foreach { c =>
      try {
        val dirAggs = files.flatMap(_.bloomPath(c))
          .map(p => SnapBloomSkip.aggPathOf(p, c)).distinct
          .map(p => SnapBloomSkip.dirKeyOf(p) -> p)
        val prev: Map[String, Array[Byte]] = prevCk.map { pv =>
          try SnapBloomSkip.unpackBytes(
            SnapIo.readBytes(bloomPackPath(root, pv, c)))
          catch { case _: Exception => Map.empty[String, Array[Byte]] }
        }.getOrElse(Map.empty)
        val entries = dirAggs.flatMap { case (k, p) =>
          prev.get(k).map(k -> _).orElse(
            try Some(k -> SnapIo.readBytes(p))
            catch { case _: Exception => None })
        }
        if (entries.nonEmpty)
          SnapIo.write(bloomPackPath(root, v, c),
            SnapBloomSkip.packBytes(entries))
      } catch { case _: Exception => () }
    }
  }

  /** Claim VERSION 1 of a brand-new table — the atomic CREATE TABLE
    * primitive. Unlike [[publish]], which retries into the next free
    * slot (correct for commits, wrong for creation: two concurrent
    * CREATEs must not both "succeed" with the loser appending onto the
    * winner's log), this makes exactly one attempt and lets the
    * `FileAlreadyExistsException` escape so the catalog can surface it
    * as TableAlreadyExists.
    */
  private[graft] def createEmpty(root: String,
      schema: org.apache.spark.sql.types.StructType,
      props: Map[String, String] = Map.empty): Unit = {
    invalidateProps(root) // a recreate must never see the old table's map
    writeManifestFile(root, 1, "append", Nil, None,
      Some(normalizeSchema(schema)),
      props.toSeq.sortBy(_._1).map { case (k, v) => s"prop.$k=$v" })
  }

  /** The FIRST manifest's full property map — creation-time
    * properties, living inside the atomically claimed v1 file: a
    * crash after the claim can never leave an existing table missing
    * them (the catalog's sidecar props file is a read fast-path
    * only).
    */
  private def firstProps(root: String): Map[String, String] =
    listVersions(root).headOption.map { v =>
      manifestFilesRead.incrementAndGet()
      val lines = SnapIo.readLines(manifestPath(root, v))
      propLines(lines.filter(l => l.contains('=') && !l.contains('\t')))
    }.getOrElse(Map.empty)

  /** Table properties AS OF a version, resolved from the log alone —
    * the versioned twin of [[liveFiles]]: creation props (v1 header)
    * overridden by every later property-setting commit's `prop.*`
    * headers, checkpoint-accelerated (a props-carrying checkpoint is
    * the base and only the tail above it replays). This is what
    * makes LAYOUT EVOLUTION commit-atomic: a re-bucketing overwrite
    * carries its new `bucketSpec` in the SAME claimed manifest as the
    * rewritten files, so no crash between "publish" and any sidecar
    * write can leave file tags and the declared layout disagreeing —
    * and history reads its own epoch's layout.
    */
  /** resolveProps memo: (root@version → (version, v1 fingerprint,
    * resolved map)). Properties are pure log state, so the map is
    * immutable per version — BUT a version number alone does not
    * identify a table: DROP + CREATE at the same root reaches the
    * same version numbers again (the standard test/notebook
    * sequence), and a memo keyed by version only would serve the
    * PREVIOUS table's map for the JVM's lifetime. Every entry
    * therefore also records the v1 manifest's (mtime, size)
    * fingerprint — two stat calls to validate, zero manifest reads —
    * and a hit with a stale fingerprint re-resolves. Same-JVM DROP/
    * RENAME/CREATE additionally [[invalidateProps]] eagerly.
    * LRU-capped: gates and tests create many short-lived roots.
    */
  private val propsMemo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (Int, Long, Map[String, String])](
        64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Int, Long, Map[String, String])])
          : Boolean = size() > 256
    })

  /** Identity of the table CURRENTLY living at `root`: a content hash
    * of the v1 manifest (folded with its mtime/size). mtime+size alone
    * was not sufficient (ADVICE r17): a cross-JVM DROP+CREATE within
    * the filesystem's mtime granularity that produces a same-length v1
    * manifest would collide and a long-lived reader would serve the
    * dropped table's properties. The v1 manifest is a small CREATE
    * record, so hashing it per resolve is two stat calls plus one
    * sub-KB read.
    */
  private def tableFingerprint(root: String): Long = {
    val p = manifestPath(root, listVersions(root).headOption.getOrElse(1))
    try {
      val meta = SnapIo.mtime(p) * 1000003L + SnapIo.size(p)
      // 64-bit content hash (the collision-resistance headroom is the
      // point of hashing the content at all — 32 bits was a thin
      // margin when mtime/size already collide)
      val bytes = SnapIo.readBytes(p)
      val content = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          bytes.length, 42L)
      meta * 31L + content
    } catch { case _: Exception => -1L }
  }

  /** Drop every memoized property entry of `root` — called by the
    * catalog's DROP/RENAME (both roots) and by [[createEmpty]], so a
    * same-JVM recreate never even consults a stale entry.
    */
  private[graft] def invalidateProps(root: String): Unit =
    propsMemo.synchronized {
      val prefix = s"$root@"
      propsMemo.keySet().removeIf(k => k.startsWith(prefix))
    }

  private[graft] def resolveProps(root: String,
      asOf: Option[Int] = None): Map[String, String] = {
    // deterministic per (root, version): a checkpoint appearing later
    // only accelerates the same fold, never changes its result
    val v = asOf.getOrElse(listVersions(root).lastOption.getOrElse(0))
    val key = s"$root@$v"
    val fp = tableFingerprint(root)
    val hit = propsMemo.get(key)
    if (hit != null && hit._1 == v && hit._2 == fp) return hit._3
    val m = resolvePropsUncached(root, Some(v).filter(_ > 0))
    propsMemo.put(key, (v, fp, m))
    m
  }

  private def resolvePropsUncached(root: String,
      asOf: Option[Int]): Map[String, String] = {
    val cp = latestCheckpoint(root, asOf)
    val (base, after) = cp match {
      case Some(c) if c.props.nonEmpty => (c.props, c.version)
      // a checkpoint without prop lines: either a legacy checkpoint
      // or a table with no props at that version — base on v1 and
      // replay only the tail above the checkpoint (any
      // property-setting commit ≤ a NEW checkpoint is folded into it
      // by construction, so nothing below the horizon can be missed)
      case Some(c) => (firstProps(root), c.version)
      case None =>
        (firstProps(root), listVersions(root).headOption.getOrElse(0))
    }
    // a property-setting commit carries the FULL map and REPLACES the
    // state wholesale (not a merge) — that is what lets a layout
    // evolution REMOVE a key (identity → bucket drops partitionCol)
    manifestsAfter(root, after, asOf)
      .foldLeft(base)((acc, m) => if (m.props.nonEmpty) m.props else acc)
  }

  /** One table property as of the current version (see
    * [[resolveProps]] — later property-setting commits shadow v1).
    */
  def tableProperty(root: String, key: String): Option[String] =
    resolveProps(root).get(key)

  /** Publish a CLONE snapshot: an overwrite manifest referencing
    * another table's data files verbatim (paths are absolute; the
    * clone's own vacuum never reaches a foreign root). Called right
    * after [[createEmpty]]'s v1 claim by the catalog's clone
    * procedure.
    */
  private[graft] def publishClone(root: String, files: Seq[FileStat],
      schema: org.apache.spark.sql.types.StructType): Int =
    publish(root, "overwrite", files, frameSchema = Some(schema))

  /** Publish a manifest naming `files`, claiming the next free
    * version (optimistic concurrency: a concurrent winner makes
    * createFile throw and we retry above it). This is the BLIND
    * commit path — append is order-independent and a caller-requested
    * overwrite is declared truncate-and-replace — so retrying at the
    * next number is sound without revalidation. Read-modify-write
    * commits go through [[publishRebasing]] instead.
    */
  private[graft] def publish(root: String, action: String,
      files: Seq[FileStat], batchId: Option[Long] = None,
      frameSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Int = {
    require(action == "append" || action == "overwrite", action)
    while (true) {
      // schema and slot come from the SAME listing: a clean claim of
      // slot v proves no commit landed in between, so the recorded
      // union (prev schema ∪ frame) is exact; a collision re-lists and
      // re-unions before the retry
      val prev = listVersions(root).lastOption
      val v = prev.getOrElse(0) + 1
      val schema: Option[org.apache.spark.sql.types.StructType] =
        frameSchema.flatMap { fs =>
          if (action == "overwrite") Some(fs) // live set := these files
          else prev match {
            case None => Some(fs)
            case Some(pv) => readManifest(root, pv).schema match {
              case Some(ps) => Some(unionSchemas(Seq(ps, fs)))
              // legacy log without schema headers: recording only the
              // frame would CLAIM a table schema that misses older
              // columns — stay legacy, readers keep footer inference
              case None => None
            }
          }
        }
      try {
        writeManifestFile(root, v, action, files, batchId, schema)
        maybeCheckpoint(root, v)
        return v
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => ()
      }
    }
    -1 // unreachable
  }

  /** Publish a SCHEMA-ONLY commit whose header REPLACES the table
    * schema (RENAME/DROP COLUMN — operations publish() can't express:
    * its first-occurrence-wins union would resurrect the old name).
    * `evolve` re-applies against the schema CURRENT at each claim
    * attempt, so a concurrent append's new column is never lost to a
    * stale-read race. Zero files touched; history stays readable at
    * its own per-version schema.
    */
  private[graft] def publishSchemaBy(root: String,
      newProps: Option[Map[String, String] => Map[String, String]] = None)(
      evolve: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType): Int = {
    while (true) {
      val v = listVersions(root).lastOption.getOrElse(0) + 1
      val cur = tableSchema(root, None).getOrElse(
        throw new IllegalArgumentException(
          s"snap table $root predates schema headers; schema DDL would " +
            "record a schema the older manifests cannot corroborate"))
      try {
        writeManifestFile(root, v, "append", Nil, None,
          Some(normalizeSchema(evolve(cur))),
          // a property refresh that accompanies the DDL (a renamed
          // stat column, SET/UNSET TBLPROPERTIES) rides in the SAME
          // claimed manifest. The update is a TRANSFORM applied to
          // the map resolved at THIS attempt's base — a lost claim
          // re-reads the concurrent winner's state and re-applies,
          // so a racing SET TBLPROPERTIES or layout evolution is
          // never silently overwritten by a stale full-map retry.
          newProps.toSeq.flatMap(f =>
            f(resolveProps(root, None)).toSeq.sortBy(_._1)
              .map { case (k, p) => s"prop.$k=$p" }))
        maybeCheckpoint(root, v)
        return v
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => ()
      }
    }
    -1 // unreachable
  }

  /** Publish an `overwrite` computed by a READ-MODIFY-WRITE of the
    * snapshot at `baseVersion`, revalidating against every version
    * that has landed since (whether noticed via a createFile collision
    * or already present before the first attempt):
    *
    *  - a concurrent `overwrite` → refuse (both sides rewrote the
    *    live set from different bases; no sound merge exists);
    *  - a concurrent `append` whose files satisfy `isConflicting`
    *    (e.g. they may contain a key this merge rewrites) → refuse;
    *  - any other concurrent `append` → REBASE: its files ride into
    *    the published live set untouched (appends are additive, so
    *    carrying them preserves both commits' rows).
    *
    * Refusal throws `ConcurrentModificationException`; the caller's
    * data files are orphans (never referenced) and cost only storage
    * until a vacuum. This closes the lost-update window where a
    * stale-snapshot overwrite silently dropped a concurrent append.
    */
  private def publishRebasing(root: String, baseVersion: Int,
      files: Seq[FileStat], isConflicting: FileStat => Boolean,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      extraHeaders: Seq[String] = Nil): Int = {
    var base = baseVersion
    var live = files
    var sch = schema
    while (true) {
      manifestsAfter(root, base).foreach { m =>
        if (m.action == "overwrite")
          throw new java.util.ConcurrentModificationException(
            s"version ${m.version} overwrote $root concurrently with a " +
              s"read-modify-write based on v$base; rerun on the new snapshot")
        if (m.files.exists(isConflicting))
          throw new java.util.ConcurrentModificationException(
            s"concurrent append v${m.version} on $root intersects the " +
              s"key range rewritten by a merge based on v$base")
        // an overwrite CARRYING a property map (a layout evolution)
        // replaces the props state wholesale — if a concurrent commit
        // also set properties, rebasing over it would silently undo
        // that commit's map (lost update); refuse-and-rerun instead
        if (m.props.nonEmpty && extraHeaders.exists(_.startsWith("prop.")))
          throw new java.util.ConcurrentModificationException(
            s"version ${m.version} set table properties on $root " +
              s"concurrently with a property-carrying overwrite based " +
              s"on v$base; rerun on the new snapshot")
        live = live ++ m.files
        // a rebased append rides in with its columns: union its
        // recorded table schema; a legacy append (no header) would
        // make any recorded schema a lie — drop to footer inference
        sch = (sch, m.schema) match {
          case (Some(a), Some(b)) => Some(unionSchemas(Seq(a, b)))
          case _ => None
        }
        base = m.version
      }
      val v = base + 1
      try {
        writeManifestFile(root, v, "overwrite", live, None, sch,
          extraHeaders)
        maybeCheckpoint(root, v)
        return v
      } catch {
        // lost the claim — loop re-reads the newly landed versions
        case _: java.nio.file.FileAlreadyExistsException => ()
      }
    }
    -1 // unreachable
  }

  /** Publish the overwrite of a SQL row-level operation (MERGE INTO /
    * UPDATE via the DSv2 connector): the snapshot at `baseVersion`
    * minus the replaced files plus their rewrites. Unlike [[merge]],
    * whose update-key set yields a sound per-file rebase test, a SQL
    * operation's condition is arbitrary — a concurrent append COULD
    * hold rows the ON/WHERE clause would have matched — so the
    * conservative serializable answer is refuse-and-rerun on ANY
    * concurrent commit (`ConcurrentModificationException`).
    */
  private[graft] def publishReplace(root: String, baseVersion: Int,
      files: Seq[FileStat],
      schema: Option[org.apache.spark.sql.types.StructType],
      isConflicting: FileStat => Boolean = _ => true): Int =
    publishRebasing(root, baseVersion, files, isConflicting, schema)

  /** Write `df` as a new commit and return the claimed version.
    * `filesPerCommit` range-partitions on the stat column so each
    * file covers a tight, near-disjoint stat range (what makes the
    * min/max skipping sharp). The files and their stats come from the
    * snap task writer in one job per shaping (see `writeFiles`); the
    * stat column must be bigint/int/smallint/tinyint/date/timestamp.
    */
  def commit(df: DataFrame, root: String, statCol: String,
      action: String = "append", filesPerCommit: Int = 1): Int =
    publish(root, action, writeFiles(df, root, Seq(statCol), filesPerCommit),
      frameSchema = Some(df.schema))

  /** [[commit]] carrying stats for SEVERAL columns (first = primary,
    * used for shaping); with the data pre-clustered in N dimensions
    * (e.g. [[graft.ops.ZOrder]]), every stat column's [min, max] box
    * is tight and [[readPrunedMulti]] skips files in all of them.
    * Same single write path as [[commit]]: every box is computed by
    * the task that writes the file.
    */
  def commitCols(df: DataFrame, root: String, statCols: Seq[String],
      action: String = "append", filesPerCommit: Int = 1): Int =
    publish(root, action, writeFiles(df, root, statCols, filesPerCommit),
      frameSchema = Some(df.schema))

  // ---------------------------------------------------------------
  // DELETION VECTORS (merge-on-read): a sidecar file of sorted row
  // POSITIONS (physical indices within the parquet file) that readers
  // subtract, so a 1-row DELETE marks one position instead of
  // rewriting a 1 GB file. Data files stay immutable; the DV sidecar
  // is itself immutable (a later delete writes a NEW sidecar holding
  // the union) — time travel and concurrent readers keep working
  // unchanged. Compaction (and any copy-on-write rewrite that touches
  // the file) materializes DVs away.
  // ---------------------------------------------------------------

  /** Row positions a DV-based delete may mark in one operation before
    * falling back to copy-on-write (driver-memory guard — positions
    * are collected to group/union them; a delete this large is better
    * served by a rewrite anyway).
    */
  private[graft] def dvRowLimit: Int =
    sys.props.get("graft.snap.dvRowLimit").map(_.toInt).getOrElse(100000)

  /** Serialize sorted positions under `root/dv/<uuid>/` (one dir per
    * operation, so vacuum's per-dir grace window treats an op's
    * sidecars like a commit's data files).
    */
  private[graft] def writeDv(root: String, positions: Array[Long]): String = {
    val dir = SnapIo.child(root, "dv",
      java.util.UUID.randomUUID().toString)
    SnapIo.mkdirs(dir)
    val p = SnapIo.child(dir, "d0.dv")
    val bb = java.nio.ByteBuffer.allocate(8 * (positions.length + 1))
    bb.putLong(positions.length.toLong)
    positions.foreach(bb.putLong)
    SnapIo.write(p, bb.array())
    p
  }

  /** Sorted deleted positions of a sidecar — executor-safe (static
    * object, plain byte read).
    */
  private[graft] def readDv(path: String): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(SnapIo.readBytes(path))
    val n = bb.getLong.toInt
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = bb.getLong; i += 1 }
    out
  }

  /** `input_file_name`/`_metadata.file_path` spellings vs manifest
    * paths: normalize the local-file scheme so position joins match.
    */
  private[graft] def normPath(s: String): String =
    s.replaceFirst("^file:/+", "/")

  /** The one snap read primitive: a frame over exactly `files`
    * through the DSv2 [[graft.sources.SnapScan]], at the table schema
    * recorded as of `asOf` (a legacy log without schema headers falls
    * back to [[graft.sources.SnapSource.inferSchema]]'s footer union).
    * Columns come back under their LOGICAL names, deletion vectors are
    * subtracted in the reader, and filters, aggregates and LIMIT still
    * push down against these files' manifest stats. Building the frame
    * runs no Spark job.
    */
  private[graft] def readFiles(spark: SparkSession, root: String,
      files: Seq[FileStat], asOf: Option[Int]): DataFrame = {
    val table = new graft.sources.SnapDsvTable(root, asOf,
      graft.sources.SnapSource.inferSchema(root, asOf),
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty(),
      pinned = Some(files))
    org.apache.spark.sql.graft.PlanShim.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(table, None, None))
  }

  /** Multi-dimensional file skipping: keep only files whose per-column
    * boxes intersect EVERY requested [lo, hi], read them through
    * [[readFiles]] and re-apply the row predicate (files are a
    * superset), so the result is exact.
    */
  def readPrunedMulti(spark: SparkSession, root: String,
      bounds: Seq[(String, (Long, Long))],
      asOf: Option[Int] = None): DataFrame = {
    val live = liveFiles(root, asOf)
    val hit = live.filter(f => bounds.forall { case (c, (lo, hi)) =>
      // a file with no box for the column MIGHT hold matching rows —
      // only a recorded non-overlapping box can prune it
      f.range(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
    })
    bounds.foldLeft(readFiles(spark, root, hit, asOf)) {
      case (df, (c, (lo, hi))) =>
        df.filter(statLong(df.schema, c).between(lo, hi))
    }
  }

  /** OPTIMIZE: rewrite the live file set into `targetFiles`
    * range-partitioned files and publish as one overwrite — the
    * small-files maintenance pass every append-heavy table needs.
    * Readers at older versions are untouched (their files are
    * immutable); only the listing changes. A concurrent append
    * REBASES over the compaction (its files ride along un-compacted);
    * a concurrent overwrite refuses.
    */
  def compact(spark: SparkSession, root: String, statCol: String,
      targetFiles: Int, asOf: Option[Int] = None): Int =
    compactImpl(spark, root, statCol, targetFiles, asOf, () => ())

  private[graft] def compactImpl(spark: SparkSession, root: String,
      statCol: String, targetFiles: Int, asOf: Option[Int],
      beforePublish: () => Unit): Int = {
    val baseV = asOf.getOrElse(currentVersion(root))
    val frame = read(spark, root, Some(baseV))
    val rewritten = writeFiles(frame, root, Seq(statCol), targetFiles)
    beforePublish()
    // the compaction frame carries the snapshot's recorded schema
    publishRebasing(root, baseV, rewritten, _ => false,
      schema = Some(frame.schema))
  }

  /** Compaction with a caller-provided SHAPING of the rewrite frame
    * and per-file EXTRA stat tags (e.g. the bucket id a bucketed
    * table's layout contract requires) — the generic form behind
    * bucket-preserving OPTIMIZE. Same conflict contract as
    * [[compact]]: rebases over concurrent appends, refuses overwrites.
    */
  private[graft] def compactWith(spark: SparkSession, root: String,
      statCols: Seq[String], shape: DataFrame => DataFrame,
      extraStats: FileStat => Seq[(String, (Long, Long))],
      asOf: Option[Int] = None,
      newProps: Option[Map[String, String]] = None): Int = {
    val baseV = asOf.getOrElse(currentVersion(root))
    val frame = read(spark, root, Some(baseV))
    val rewritten = writeFiles(shape(frame), root, statCols, -1)
      .map(f => f.copy(stats = f.stats ++ extraStats(f)))
    // a layout evolution's NEW property map rides in the same claimed
    // manifest as its rewritten files — the atomic swap
    publishRebasing(root, baseV, rewritten, _ => false,
      schema = Some(frame.schema),
      extraHeaders = newProps.toSeq.flatMap(_.toSeq.sortBy(_._1)
        .map { case (k, p) => s"prop.$k=$p" }))
  }

  /** TARGETED DV compaction: rewrite ONLY the live files carrying a
    * DELETION VECTOR (materializing the DV away); every clean file
    * rides into the new manifest untouched. This is the maintenance
    * verb that RESTORES manifest aggregate pushdown — which refuses
    * MIN/MAX/SUM whenever any surviving file is DV'd — without paying
    * a full-table rewrite: after sustained point-deletes the DV'd
    * fraction is what degrades, and only it is touched. Bucketed
    * tables rewrite per file (each file's bucket tag stays valid —
    * its rows still hash to the same bucket); plain tables rewrite
    * the DV'd set in one pass. Conflict contract like [[compact]]:
    * concurrent appends rebase in, overwrites refuse. Returns
    * (claimed version, files rewritten, live rows rewritten).
    */
  private[graft] def compactDv(spark: SparkSession, root: String)
      : (Int, Int, Long) = {
    val baseV = currentVersion(root)
    val live = liveFiles(root, Some(baseV))
    val touched = live.filter(_.dv.isDefined)
    if (touched.isEmpty) return (baseV, 0, 0L)
    val statCols = touched.head.stats.map(_._1).filterNot(_.contains('#'))
    // the bucket tag every touched file carries (`<col>#b<n>`) — the
    // layout contract the rewrite must re-establish per OUTPUT file
    val bucketTag = touched.head.stats.map(_._1).find(_.contains('#'))
      .filter(t => touched.forall(_.range(t).isDefined))
    val partCol = tableProperty(root, "partitionCol")
    val rewritten: Seq[FileStat] = (bucketTag, partCol) match {
      case (Some(tag), Some(pc)) =>
        // COMPOSITE identity(pc) + bucket(k) layout: one routed pass
        // per (key, bucket) cell — both layout proofs survive
        rewriteKeyed(spark, root, baseV, touched, statCols, pc, Some(tag))
      case (Some(tag), None) =>
        // ONE PASS for N DV'd bucket files: after a wide MERGE leaves
        // DVs on thousands of bucket files, a per-file rewrite loop
        // is thousands of serial driver-dispatched jobs — instead
        // route ALL surviving rows through the bucket function at
        // once. Same-bucket DV'd files merge; tags stay exact.
        rewriteBucketed(spark, root, baseV, touched, statCols, tag)
      case (None, Some(pc)) =>
        // IDENTITY layout: ONE routed pass — each key's rows to its
        // own output partition via the manifest-derived slot map, so
        // the one-file-per-key box proof (min == max) that
        // KeyGroupedPartitioning and SPJ rest on survives while a
        // wide MERGE's thousands of DV'd key files compact in a
        // single Spark job (was one job per touched key).
        rewriteKeyed(spark, root, baseV, touched, statCols, pc, None)
      case (None, None) =>
        writeFiles(readFiles(spark, root, touched, Some(baseV)), root,
          statCols, math.max(1, touched.size))
    }
    val untouched = live.filterNot(_.dv.isDefined)
    (publishRebasing(root, baseV, untouched ++ rewritten, _ => false,
      schema = tableSchema(root, Some(baseV))),
      touched.size, rewritten.map(_.rows).sum)
  }

  /** ONE-PASS rewrite of `files` on a bucketed table: route every
    * surviving row through the bucket function at once
    * (`repartition(n, key)`'s placement IS the function — the same
    * identity the bucketed writer and re-bucketing rely on) and
    * re-derive each output file's manifest tag from its key box:
    * every key in a post-route file hashes to its bucket; an all-null
    * sentinel box means every key is null = the null bucket. One
    * Spark job for N input files (a per-file rewrite loop at 100 TB
    * maintenance scale is thousands of serial driver-dispatched
    * jobs); same-bucket inputs merge.
    */
  private def rewriteBucketed(spark: SparkSession, root: String,
      baseV: Int, files: Seq[FileStat], statCols: Seq[String],
      tag: String): Seq[FileStat] = {
    val cut = tag.indexOf('#')
    routeBucketedFrame(spark, root, readFiles(spark, root, files,
      Some(baseV)), statCols,
      tag.substring(0, cut), tag.substring(cut + 2).toInt)
  }

  /** Identity partitioner over pre-assigned slot ids — top-level so
    * serialization never drags an outer instance along.
    */
  private final class ExactPartitioner(n: Int)
      extends org.apache.spark.Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** ONE-PASS rewrite of `files` on a KEYED layout — identity(pc)
    * alone, or the COMPOSITE identity(pc) + bucket(n, k) a 100 TB
    * fact table runs (`bucketTag` = the manifest pseudo-column
    * `k#bN`). Every surviving row routes to its layout cell's own
    * output partition in a single Spark job, so a 4096-cell table
    * freshly DV'd by a wide MERGE compacts in ONE job instead of up
    * to 4096 serial driver-dispatched per-group jobs. The layout
    * proofs — one file per key (box min == max) for the identity
    * dimension, one bucket id per file for the bucket dimension —
    * are preserved BY CONSTRUCTION: cell slots come straight from
    * the manifest boxes (point boxes per input file make the slot
    * map total over every row; all-null sentinel boxes route to the
    * null slot), and the identity proof is re-ASSERTED on the
    * output stats. A hash partitioner cannot do this (distinct
    * cells collide into shared partitions at any realistic
    * partition count), hence the explicit slot map + identity
    * partitioner on the row RDD — the one place imperative
    * partition placement is genuinely needed. Files whose boxes
    * don't prove their cell (foreign Scala-API commits) fall back
    * to the per-cell-group loop, never wrong.
    */
  private def rewriteKeyed(spark: SparkSession, root: String, baseV: Int,
      files: Seq[FileStat], statCols: Seq[String],
      pc: String, bucketTag: Option[String]): Seq[FileStat] = {
    def sentinel(b: (Long, Long)): Boolean =
      b._1 == Long.MinValue && b._2 == Long.MaxValue
    val (kc, n) = bucketTag.map { t =>
      val cut = t.indexOf('#')
      (t.substring(0, cut), t.substring(cut + 2).toInt)
    }.getOrElse(("", 0))
    // the bucket's OWN output tag is re-derived from each output
    // file's key box exactly like rewriteBucketed: every key in a
    // single-cell file hashes to its bucket; an all-null box is the
    // null bucket
    def retag(nf: FileStat): FileStat = bucketTag match {
      case None => nf
      case Some(tag) =>
        val wide = tableSchema(root, None)
          .flatMap(_.fields.find(_.name.equalsIgnoreCase(kc)))
          .forall(f =>
            f.dataType == org.apache.spark.sql.types.LongType ||
              f.dataType == org.apache.spark.sql.types.TimestampType)
        val b = nf.range(kc) match {
          case Some((mn, mx)) if !sentinel((mn, mx)) =>
            if (wide) graft.sources.SnapBucket.ofLong(mn, n)
            else graft.sources.SnapBucket.ofInt(mn.toInt, n)
          case _ => graft.sources.SnapBucket.ofNull(n)
        }
        nf.copy(stats = nf.stats :+ (tag -> (b.toLong, b.toLong)))
    }
    def cellOf(f: FileStat): (Option[Long], Option[Long]) =
      (f.range(pc) match {
        case Some(b) if !sentinel(b) => Some(b._1)
        case _ => None
      }, bucketTag.flatMap(t => f.range(t).map(_._1)))
    val provable = files.forall { f =>
      f.range(pc).exists(b => b._1 == b._2 || sentinel(b)) &&
        bucketTag.forall(t => f.range(t).exists(b => b._1 == b._2))
    } && bucketTag.forall(_ =>
      files.forall(_.range(kc).isDefined)) // needed to re-derive tags
    if (!provable || files.size <= 1)
      // group by the FULL boxes (not collapsed cells): a widened
      // multi-key file — a foreign write — stays its own group and
      // never merges into (and widens) a proven key's file
      return files
        .groupBy(f => (f.range(pc), bucketTag.map(f.range(_))))
        .values.toSeq.flatMap { fs =>
          writeFiles(readFiles(spark, root, fs, Some(baseV)), root,
            statCols, 1).map(retag)
        }
    // cell slots from the manifest (no discovery job); every bucket
    // of a present identity key gets the null-identity slot too —
    // boxes never count null rows, so a tagged file may legally hold
    // them alongside its single key
    val keySlots: Map[(Option[Long], Option[Long]), Int] =
      (files.map(cellOf) ++ files.map(cellOf).map {
        case (_, b) => (None: Option[Long], b)
      }).distinct.zipWithIndex.toMap
    routeToCells(spark, root, readFiles(spark, root, files, Some(baseV)),
      statCols, pc, bucketTag.map(_ => (kc, n)), keySlots)
  }

  /** The typed-box long encoding of an external row value — the same
    * encoding [[statLong]] records, so routing agrees with the boxes.
    */
  private def boxEncode(v: Any, what: String): Long = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    v match {
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
      case d: java.sql.Date => d.toLocalDate.toEpochDay
      case d: java.time.LocalDate => d.toEpochDay
      case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
      case i: java.time.Instant => DateTimeUtils.instantToMicros(i)
      case other => throw new IllegalStateException(
        s"$what column has non-box type ${other.getClass}")
    }
  }

  /** Route every row of `frame` to its layout CELL's own output
    * partition and write one file per cell — the shared core of the
    * keyed maintenance rewrite AND the layout-shaped streaming
    * commit. `keySlots` maps (identity key in box encoding | None
    * for null, bucket id | None when unbucketed) to a partition
    * slot; it must cover every cell the rows realize (callers derive
    * it from manifest boxes or a distinct pass). The identity proof
    * (point box per file) is re-asserted on the output stats; bucket
    * tags are re-derived from each output file's key box.
    */
  private def routeToCells(spark: SparkSession, root: String,
      frame: DataFrame, statCols: Seq[String], pc: String,
      bucket: Option[(String, Int)],
      keySlots: Map[(Option[Long], Option[Long]), Int]): Seq[FileStat] = {
    def sentinel(b: (Long, Long)): Boolean =
      b._1 == Long.MinValue && b._2 == Long.MaxValue
    val pcIdx = frame.schema.fieldIndex(pc)
    val kcIdx = bucket.map { case (kc, _) => frame.schema.fieldIndex(kc) }
    val kcWide = kcIdx.forall { i =>
      val dt = frame.schema(i).dataType
      dt == org.apache.spark.sql.types.LongType ||
        dt == org.apache.spark.sql.types.TimestampType
    }
    val n = bucket.map(_._2).getOrElse(0)
    val slots = spark.sparkContext.broadcast(keySlots)
    val nParts = keySlots.size
    val keyed = frame.rdd.map { r =>
      val d: Option[Long] =
        if (r.isNullAt(pcIdx)) None
        else Some(boxEncode(r.get(pcIdx), "identity partition"))
      val b: Option[Long] = kcIdx.map { i =>
        if (r.isNullAt(i)) graft.sources.SnapBucket.ofNull(n).toLong
        else {
          val kv = boxEncode(r.get(i), "bucket")
          (if (kcWide) graft.sources.SnapBucket.ofLong(kv, n)
          else graft.sources.SnapBucket.ofInt(kv.toInt, n)).toLong
        }
      }
      (slots.value((d, b)), r)
    }
    val routed = spark.createDataFrame(
      keyed.partitionBy(new ExactPartitioner(nParts)).values,
      frame.schema)
    val out = writeFiles(routed, root, statCols, filesPerCommit = -1)
    out.foreach(f => require(f.range(pc).forall(b =>
      b._1 == b._2 || sentinel(b)),
      s"keyed rewrite of $root produced a multi-key file — the " +
        "one-file-per-key layout proof would be lost"))
    bucket match {
      case None => out
      case Some((kc, bn)) =>
        val tag = graft.sources.SnapBucket.tag(kc, bn)
        val wide = tableSchema(root, None)
          .flatMap(_.fields.find(_.name.equalsIgnoreCase(kc)))
          .forall(f =>
            f.dataType == org.apache.spark.sql.types.LongType ||
              f.dataType == org.apache.spark.sql.types.TimestampType)
        out.map { nf =>
          val b = nf.range(kc) match {
            case Some((mn, mx)) if !sentinel((mn, mx)) =>
              if (wide) graft.sources.SnapBucket.ofLong(mn, bn)
              else graft.sources.SnapBucket.ofInt(mn.toInt, bn)
            case _ => graft.sources.SnapBucket.ofNull(bn)
          }
          nf.copy(stats = nf.stats :+ (tag -> (b.toLong, b.toLong)))
        }
    }
  }

  /** INCREMENTAL OPTIMIZE — merge only SMALL files: live files whose
    * physical size is below `belowBytes` are merged; everything else
    * rides into the new manifest untouched. This is the maintenance
    * shape a 100 TB append-heavy table actually runs — a full-table
    * rewrite is unaffordable, but the streaming tail's small files
    * are cheap to fold continuously (Delta's OPTIMIZE minFileSize
    * contract). Layout-aware grouping keeps every layout contract:
    *
    *  - BUCKETED tables merge small files PER BUCKET (tags carried —
    *    the merged file's rows still hash to its bucket);
    *  - IDENTITY-partitioned tables merge per KEY (the one-file-per-
    *    key layout KeyGroupedPartitioning and SPJ rest on survives);
    *  - plain tables merge the whole small set range-shaped on the
    *    primary stat column.
    *
    * A group of ONE clean file is carried, not rewritten (nothing to
    * merge); a small DV'd file is always rewritten (the merge
    * materializes its deletes away). Conflict contract like
    * [[compact]]. Returns (version, files merged, files after).
    */
  private[graft] def compactSmall(spark: SparkSession, root: String,
      belowBytes: Long): (Int, Int, Int) = {
    val baseV = currentVersion(root)
    val live = liveFiles(root, Some(baseV))
    if (live.isEmpty) return (baseV, 0, 0)
    val statCols = live.head.stats.map(_._1).filterNot(_.contains('#'))
    def size(p: String): Long =
      try SnapIo.size(p) catch {
        case _: Exception => Long.MaxValue // unstatable: treat as big
      }
    val small = live.filter(f => size(f.path) < belowBytes)
    val bucketTag = live.head.stats.map(_._1).find(_.contains('#'))
    val partCol = tableProperty(root, "partitionCol")
    // group key preserving the table's layout — BOTH dimensions for
    // a composite identity + bucket table; (None, None) = one global
    // group for plain tables
    def groupOf(f: FileStat): Any =
      (bucketTag.map(t => f.range(t)), partCol.map(c => f.range(c)))
    val merged = small.groupBy(groupOf).values.toSeq
      .filter(fs => fs.size >= 2 || fs.exists(_.dv.isDefined))
    if (merged.isEmpty) return (baseV, 0, live.size)
    val rewritten = (bucketTag, partCol) match {
      // composite identity + bucket: one routed pass per (key,
      // bucket) cell, both layout proofs preserved
      case (Some(tag), Some(pc)) =>
        rewriteKeyed(spark, root, baseV, merged.flatten, statCols, pc,
          Some(tag))
      // bucketed: ONE routed pass for every selected group (the
      // streaming tail leaves small files in EVERY bucket — a
      // per-bucket rewrite loop is up to 4096 serial jobs); groups
      // are per-bucket by construction, so the router reproduces
      // them exactly, one output file per touched bucket
      case (Some(tag), None) =>
        rewriteBucketed(spark, root, baseV, merged.flatten, statCols, tag)
      // identity: ONE routed pass preserving one-file-per-key (the
      // streaming tail leaves small files under MANY keys — a
      // per-key job loop is up to that many serial jobs); plain:
      // one global merge group
      case (None, Some(pc)) =>
        rewriteKeyed(spark, root, baseV, merged.flatten, statCols, pc,
          None)
      case (None, None) => merged.flatMap { fs =>
        writeFiles(readFiles(spark, root, fs, Some(baseV)), root, statCols, 1)
      }
    }
    val untouched = live.filterNot(merged.flatten.toSet)
    val v = publishRebasing(root, baseV, untouched ++ rewritten,
      _ => false, schema = tableSchema(root, Some(baseV)))
    (v, merged.map(_.size).sum, untouched.size + rewritten.size)
  }

  /** OPTIMIZE ... ZORDER BY: rewrite the live set clustered on the
    * Morton z-value of TWO stat-typed columns (int/long/date/
    * timestamp via the typed-box long encoding) and record
    * multi-column boxes, so post-optimize scans skip files on EITHER
    * dimension — the layout fix for "sorted by a, scanned by b",
    * which at 100 TB is the difference between a 1-file probe and a
    * full scan on the second key.
    *
    * Values are normalized linearly into 2^bits cells per dimension
    * between the live set's global extremes (taken from the manifest
    * boxes when every file carries them — zero extra reads — else
    * one aggregate pass over the frame being rewritten anyway); the
    * cell coordinates interleave with [[graft.ops.ZOrder.zValue2]]
    * and `repartitionByRange` on the z-value shapes the files. The
    * z-value only PLACES rows — every box is computed from the real
    * data afterwards, so a skewed normalization costs tightness,
    * never correctness.
    */
  def compactZ(spark: SparkSession, root: String, zCols: Seq[String],
      targetFiles: Int, bits: Int = 16, asOf: Option[Int] = None): Int = {
    require(zCols.length >= 2 && zCols.length <= 4,
      s"ZORDER BY takes 2-4 columns, got ${zCols.mkString(",")}")
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val baseV = asOf.getOrElse(currentVersion(root))
    val frame = read(spark, root, Some(baseV))
    zCols.foreach { c =>
      val dt = frame.schema.fields.find(_.name == c).map(_.dataType)
        .getOrElse(throw new IllegalArgumentException(
          s"ZORDER BY column $c not in table schema"))
      import org.apache.spark.sql.types._
      require(Seq(LongType, IntegerType, ShortType, ByteType, DateType,
        TimestampType).contains(dt),
        s"ZORDER BY column $c must be integer/date/timestamp, got $dt")
    }
    def enc(c: String) = statLong(frame.schema, c)
    // global extremes: manifest boxes if EVERY live file has a real
    // box for both columns, else one agg pass over the rewrite input
    val live = liveFiles(root, Some(baseV))
    val spans: Seq[(Long, Long)] = {
      val fromManifest = zCols.map { c =>
        val rs = live.map(f => f.range(c).filterNot(
          _ == (Long.MinValue, Long.MaxValue)))
        if (rs.nonEmpty && rs.forall(_.isDefined))
          Some((rs.map(_.get._1).min, rs.map(_.get._2).max))
        else None
      }
      if (fromManifest.forall(_.isDefined)) fromManifest.map(_.get)
      else {
        val r = frame.agg(
          zCols.flatMap(c => Seq(min(enc(c)), max(enc(c)))).head,
          zCols.flatMap(c => Seq(min(enc(c)), max(enc(c)))).tail: _*)
          .collect()(0)
        zCols.indices.map { i =>
          if (r.isNullAt(2 * i)) (0L, 0L)
          else (r.getLong(2 * i), r.getLong(2 * i + 1))
        }
      }
    }
    // resolution shrinks with dimensionality so the interleave stays
    // inside a signed long (3 cols: 16 bits; 4 cols: 15)
    val useBits = math.min(bits, 62 / zCols.length)
    val cells = 1L << useBits
    def bucket(c: String, span: (Long, Long)): Column = {
      val (mn, mx) = span
      // double math: placement only, boxes stay exact; width +1 keeps
      // the max value inside the top cell, NULLs land in cell 0
      val width = math.max(1.0, (mx.toDouble - mn.toDouble + 1))
      least(lit(cells - 1), greatest(lit(0L),
        floor((enc(c).cast("double") - lit(mn.toDouble))
          / lit(width) * lit(cells.toDouble)).cast("long")))
    }
    val z = graft.ops.ZOrder.zValueN(
      zCols.zip(spans).map { case (c, sp) =>
        coalesce(bucket(c, sp), lit(0L)) }, useBits)
    val clustered = frame.withColumn("__z", z)
      .repartitionByRange(targetFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    // keep the table's PRIMARY stat column FIRST in the recorded
    // stats: DELETE/MERGE pruning and the SQL DELETE lowering key on
    // it (by name since the statRange fix — correct either way — but
    // recording it keeps their file selection TIGHT instead of
    // conservatively touching every file whose box is missing)
    val primary = tableProperty(root, "statCols")
      .map(_.split(',').head.trim).filter(_.nonEmpty)
      .orElse(live.headOption.map(_.stats.head._1))
      .filterNot(_.contains('#'))
      .filter(c => frame.columns.contains(c))
    val statCols = (primary.toSeq ++ zCols).distinct
    val rewritten = writeFiles(clustered, root, statCols,
      filesPerCommit = -1)
    publishRebasing(root, baseV, rewritten, _ => false,
      schema = Some(frame.schema))
  }

  /** The file's box for `statCol` BY NAME — never the positional head
    * box: a rewrite that reordered or replaced the recorded stat
    * columns (OPTIMIZE ... ZORDER BY records the z-columns) must not
    * make a later DELETE/MERGE compare its range against the wrong
    * column. A file with no box for the column answers the sentinel
    * full range: it MIGHT hold anything, so every range test treats
    * it as touched (conservative, never a missed row).
    */
  private def statRange(f: FileStat, statCol: String): (Long, Long) =
    f.range(statCol).getOrElse((Long.MinValue, Long.MaxValue))

  /** Any of `sortedKeys` (ascending) inside the file's `statCol`
    * [min, max]? Binary search — the per-file membership test that
    * replaces the global envelope, so a sparse update set with a wide
    * key span touches only the files that actually hold a key.
    */
  private def overlapsKeys(f: FileStat, statCol: String,
      sortedKeys: Array[Long]): Boolean = {
    val (fMin, fMax) = statRange(f, statCol)
    var lo = 0
    var hi = sortedKeys.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sortedKeys(mid) < fMin) lo = mid + 1 else hi = mid
    }
    lo < sortedKeys.length && sortedKeys(lo) <= fMax
  }

  /** MERGE (upsert) with FILE-GRANULAR copy-on-write: only live files
    * actually CONTAINING an update key (per-file membership over the
    * collected distinct keys — not a global [min, max] envelope, so
    * updates at keys {5, 10⁹} touch two files, not every file between)
    * are read and rewritten; every other file is carried into the new
    * manifest untouched. Beyond `graft.snap.mergeKeyLimit` distinct
    * keys the test degrades to the envelope (a driver-memory guard).
    * Rows of touched files with a matching key are replaced by the
    * update row, unmatched update keys are inserted, everything else
    * is preserved. The update keys must be the stat column (that is
    * what the manifest can prune on). Returns (claimed version, number
    * of files rewritten) — at scale the second number IS the cost of
    * the merge: a 100-key update against a million-file table rewrites
    * the handful of files it touches. Publication is conflict-checked:
    * a concurrent append outside the update keys rebases in; one
    * intersecting them, or any concurrent overwrite, throws
    * `ConcurrentModificationException`.
    */
  def merge(spark: SparkSession, root: String, statCol: String,
      updates: DataFrame, filesPerRewrite: Int = 1): (Int, Int) =
    mergeImpl(spark, root, statCol, updates, filesPerRewrite, () => ())

  private[graft] def mergeImpl(spark: SparkSession, root: String,
      statCol: String, updatesRaw: DataFrame, filesPerRewrite: Int,
      beforePublish: () => Unit): (Int, Int) = {
    val baseV = currentVersion(root)
    val live = liveFiles(root, Some(baseV))
    val keyCap = mergeKeyLimit
    // the update frame is consumed up to three times (key collect,
    // anti-join, union) — materialize once so an expensive upstream
    // (a join, a dedup) isn't re-executed per consumer
    val updates = updatesRaw.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val keyRows = updates.select(statLong(updates.schema, statCol).as("k"))
      .distinct().limit(keyCap + 1).collect()
    if (keyRows.isEmpty) {
      // empty update set: nothing changes — publishing an overwrite of
      // the unchanged live set would abort concurrent read-modify-
      // writes and break version-offset streams for a no-op
      return (baseV, 0)
    }
    val keys = keyRows.iterator.filter(!_.isNullAt(0))
      .map(_.getLong(0)).toArray.sorted
    val touchesUpdates: FileStat => Boolean =
      if (keyRows.length <= keyCap) {
        if (keys.isEmpty) (_ => false) // null-key updates: pure inserts
        else f => overlapsKeys(f, statCol, keys)
      } else { // over the cap: global envelope fallback
        val b = updates.agg(min(statLong(updates.schema, statCol)),
          max(statLong(updates.schema, statCol))).collect()(0)
        if (b.isNullAt(0)) (_ => false)
        else { val (lo, hi) = (b.getLong(0), b.getLong(1))
          f => { val (mn, mx) = statRange(f, statCol)
            mx >= lo && mn <= hi } }
      }
    val touched = live.filter(touchesUpdates)
    val untouched = live.filterNot(touched.toSet)
    val current =
      if (touched.isEmpty) updates.limit(0)
      // DV-aware (deleted rows stay dead), under the LOGICAL names
      // the anti-join against the updates aligns on
      else readFiles(spark, root, touched, Some(baseV))
    val merged = current
      .join(updates.select(statCol), Seq(statCol), "left_anti")
      .unionByName(updates)
    val rewritten = writeFiles(merged, root, Seq(statCol), filesPerRewrite)
    beforePublish()
    // recorded schema: base ∪ updates (untouched files ⊆ base). A
    // legacy base without a schema header stays legacy — claiming
    // base-less columns would drop the untouched files' fields.
    val recorded =
      if (live.isEmpty) Some(unionSchemas(Seq(updates.schema)))
      else tableSchema(root, Some(baseV))
        .map(bs => unionSchemas(Seq(bs, updates.schema)))
    (publishRebasing(root, baseV, untouched ++ rewritten, touchesUpdates,
      schema = recorded), touched.size)
    } finally { updates.unpersist(); () }
  }

  /** Row-level DELETE as file-granular copy-on-write: files whose
    * primary stat range intersects [lo, hi] are rewritten WITHOUT the
    * rows matching `statCol ∈ [lo, hi] AND extraPredicate`; every
    * other live file rides into the new manifest untouched. Returns
    * (claimed version, files rewritten, rows deleted). Same conflict
    * contract as [[merge]]: a concurrent append outside [lo, hi]
    * rebases in, one inside it (its rows would dodge the delete)
    * refuses, any concurrent overwrite refuses. The dead pre-image
    * files stay referenced by older versions until a [[vacuum]].
    */
  def delete(spark: SparkSession, root: String, statCol: String,
      lo: Long, hi: Long, extraPredicate: Option[Column] = None,
      filesPerRewrite: Int = 1): (Int, Int, Long) =
    deleteImpl(spark, root, statCol, lo, hi, extraPredicate,
      filesPerRewrite, () => ())

  private[graft] def deleteImpl(spark: SparkSession, root: String,
      statCol: String, lo: Long, hi: Long, extraPredicate: Option[Column],
      filesPerRewrite: Int, beforePublish: () => Unit): (Int, Int, Long) = {
    val baseV = currentVersion(root)
    val live = liveFiles(root, Some(baseV))
    val inRange: FileStat => Boolean = f => {
      val (mn, mx) = statRange(f, statCol)
      mx >= lo && mn <= hi
    }
    val touched = live.filter(inRange)
    if (touched.isEmpty) {
      // no file intersects the range: nothing to delete — early-return
      // instead of publishing an overwrite of the unchanged live set
      // (which would abort concurrent read-modify-writes and kill
      // version-offset streams for a commit that changed nothing)
      return (baseV, 0, 0L)
    }
    // DV-aware, under logical names so statCol and the user's extra
    // predicate resolve on a renamed table
    val current = readFiles(spark, root, touched, Some(baseV))
    // NULL-safe: a three-valued extra predicate must not let a row
    // dodge BOTH the delete and the keep
    val doomedPred = coalesce(statLong(current.schema, statCol).between(lo, hi) &&
      extraPredicate.getOrElse(lit(true)), lit(false))
    val kept = current.filter(!doomedPred)
    val rewritten =
      if (kept.isEmpty) Seq.empty[FileStat]
      else writeFiles(kept, root, Seq(statCol), filesPerRewrite)
    // deleted count from MANIFEST live counts minus the rewrite's —
    // no second scan of the touched files
    val deleted = touched.map(_.liveRows).sum - rewritten.map(_.rows).sum
    val untouched = live.filterNot(touched.toSet)
    beforePublish()
    // a delete never adds columns: the base schema carries over (and
    // keeps the table readable even when every row is deleted)
    (publishRebasing(root, baseV, untouched ++ rewritten, inRange,
      schema = tableSchema(root, Some(baseV))),
      touched.size, deleted)
  }

  /** Row-level DELETE as MERGE-ON-READ: instead of rewriting every
    * file intersecting [lo, hi] (the [[delete]] copy-on-write path —
    * a 1-row delete against a 1 GB file rewrites 1 GB), mark the
    * matching ROW POSITIONS in per-file DELETION VECTOR sidecars and
    * publish an overwrite whose file entries are unchanged except for
    * their `dv=` references. Readers subtract the positions; the
    * change feed emits ONLY the newly deleted rows (O(changes), not
    * O(file)); [[compact]] — or any later rewrite touching the file —
    * materializes the DV away. Positions come from
    * `_metadata.row_index`, so they are correct regardless of how
    * Spark split the file while scanning.
    *
    * Falls back to the copy-on-write [[delete]] when the matched-row
    * count exceeds `graft.snap.dvRowLimit` (a delete that large is
    * better served by a rewrite). A file whose every live row matched
    * is dropped from the live set outright rather than carrying a
    * full DV. Conflict contract identical to [[delete]]. Returns
    * (claimed version, files DV'd or dropped, rows deleted).
    */
  def deleteDv(spark: SparkSession, root: String, statCol: String,
      lo: Long, hi: Long, extraPredicate: Option[Column] = None)
      : (Int, Int, Long) =
    deleteDvImpl(spark, root, statCol, lo, hi, extraPredicate, () => ())

  private[graft] def deleteDvImpl(spark: SparkSession, root: String,
      statCol: String, lo: Long, hi: Long, extraPredicate: Option[Column],
      beforePublish: () => Unit): (Int, Int, Long) = {
    val baseV = currentVersion(root)
    val live = liveFiles(root, Some(baseV))
    val inRange: FileStat => Boolean = f => {
      val (mn, mx) = statRange(f, statCol)
      mx >= lo && mn <= hi
    }
    val touched = live.filter(inRange)
    if (touched.isEmpty) return (baseV, 0, 0L)
    // matched (file, position) pairs off the RAW parquet (physical
    // column names — positions must be physical) — the old DV's
    // positions are subtracted below so re-deleting dead rows
    // neither double-counts nor re-marks
    val raw = spark.read.schema(physicalSchema(root, Some(baseV)))
      .parquet(touched.map(_.path): _*)
    val physStat = colMap(root).getOrElse(statCol, statCol)
    val doomedPred = coalesce(
      statLong(raw.schema, physStat).between(lo, hi) &&
        extraPredicate.getOrElse(lit(true)), lit(false))
    val cap = dvRowLimit
    val hits = raw.filter(doomedPred)
      .select(regexp_replace(col("_metadata.file_path"), "^file:/+", "/")
        .as("p"), col("_metadata.row_index").as("i"))
      .limit(cap + 1).collect()
    if (hits.length > cap)
      // too many positions for merge-on-read: rewrite instead
      return deleteImpl(spark, root, statCol, lo, hi, extraPredicate,
        filesPerRewrite = 1, beforePublish)
    val byFile: Map[String, Array[Long]] = hits
      .groupBy(_.getString(0))
      .map { case (p, rs) => p -> rs.map(_.getLong(1)).sorted }
    var deleted = 0L
    var changedFiles = 0
    val newLive: Seq[FileStat] = live.flatMap { f =>
      byFile.get(normPath(f.path)) match {
        case None => Some(f)
        case Some(matched) =>
          val old: Array[Long] = f.dv.fold(Array.empty[Long])(d =>
            readDv(d._1))
          val oldSet = old.toSet
          val fresh = matched.filterNot(oldSet)
          if (fresh.isEmpty) Some(f)
          else {
            deleted += fresh.length
            changedFiles += 1
            val union = (old ++ fresh).sorted
            if (union.length.toLong >= f.rows) None // fully dead: drop
            else Some(f.copy(dv =
              Some((writeDv(root, union), union.length.toLong))))
          }
      }
    }
    if (changedFiles == 0) return (baseV, 0, 0L)
    beforePublish()
    (publishRebasing(root, baseV, newLive, inRange,
      schema = tableSchema(root, Some(baseV)),
      extraHeaders = Seq("rowop=delete")), changedFiles, deleted)
  }

  /** MERGE (upsert) as MERGE-ON-READ: matched rows are marked dead in
    * per-file DELETION VECTOR sidecars (no file rewrite) and every
    * update row is written fresh — matched keys into a file the
    * manifest tags as `update_postimage`, unmatched keys into a plain
    * insert file. The change feed of this commit is therefore
    * O(changed rows): `update_preimage` = the DV deltas (the matched
    * rows' original values), `update_postimage` = the rewritten
    * values, `insert` = the genuinely new keys — a 1-row upsert into
    * a 1 GB file streams 2 change rows, not 2 GB of cancelling pairs.
    * Falls back to the copy-on-write [[merge]] past
    * `graft.snap.mergeKeyLimit` distinct keys or
    * `graft.snap.dvRowLimit` matched positions. Conflict contract
    * identical to [[merge]] (per-file key-set test). Returns
    * (claimed version, files DV'd, rows updated).
    */
  def mergeDv(spark: SparkSession, root: String, statCol: String,
      updates: DataFrame, filesPerRewrite: Int = 1): (Int, Int, Long) =
    mergeDvImpl(spark, root, statCol, updates, filesPerRewrite, () => ())

  private[graft] def mergeDvImpl(spark: SparkSession, root: String,
      statCol: String, updatesRaw: DataFrame, filesPerRewrite: Int,
      beforePublish: () => Unit): (Int, Int, Long) = {
    val baseV = currentVersion(root)
    val live = liveFiles(root, Some(baseV))
    val keyCap = mergeKeyLimit
    val updates = updatesRaw.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val keyRows = updates.select(statLong(updates.schema, statCol)
        .as("k")).distinct().limit(keyCap + 1).collect()
      if (keyRows.isEmpty) return (baseV, 0, 0L)
      if (keyRows.length > keyCap) {
        // beyond the key cap the per-file DV probe degrades anyway —
        // the copy-on-write merge's envelope fallback handles it
        // (updated-row count unreported there: -1)
        val (v, t) = mergeImpl(spark, root, statCol, updates,
          filesPerRewrite, beforePublish)
        return (v, t, -1L)
      }
      val keys = keyRows.iterator.filter(!_.isNullAt(0))
        .map(_.getLong(0)).toArray.sorted
      val touchesUpdates: FileStat => Boolean =
        if (keys.isEmpty) (_ => false)
        else f => overlapsKeys(f, statCol, keys)
      val touched = live.filter(touchesUpdates)
      // freshly matched (file, position, key): raw read so positions
      // are physical; rows already dead in an old DV are subtracted
      // below (they are NOT matches — merge sees live rows only)
      import spark.implicits._
      val keysDf = keys.toSeq.toDF("k")
      val cap = dvRowLimit
      val hits =
        if (touched.isEmpty) Array.empty[org.apache.spark.sql.Row]
        else {
          val raw = spark.read.schema(physicalSchema(root, Some(baseV)))
            .parquet(touched.map(_.path): _*)
          val physStat = colMap(root).getOrElse(statCol, statCol)
          raw.select(
            regexp_replace(col("_metadata.file_path"), "^file:/+", "/")
              .as("p"),
            col("_metadata.row_index").as("i"),
            statLong(raw.schema, physStat).as("k"))
            .join(broadcast(keysDf), Seq("k"), "left_semi")
            .select("p", "i", "k")
            .limit(cap + 1).collect()
        }
      if (hits.length > cap) {
        val (v, t) = mergeImpl(spark, root, statCol, updates,
          filesPerRewrite, beforePublish)
        return (v, t, -1L)
      }
      // subtract already-dead positions per file
      val oldDvByPath: Map[String, Set[Long]] = touched
        .flatMap(f => f.dv.map(d => normPath(f.path) -> readDv(d._1).toSet))
        .toMap
      val fresh = hits.filter(r => !oldDvByPath.getOrElse(r.getString(0),
        Set.empty[Long]).contains(r.getLong(1)))
      val matchedKeys: Set[Long] = fresh.map(_.getLong(2)).toSet
      val byFile: Map[String, Array[Long]] = fresh.groupBy(_.getString(0))
        .map { case (p, rs) => p -> rs.map(_.getLong(1)).sorted }
      var changed = 0
      val dvd: Seq[FileStat] = live.flatMap { f =>
        byFile.get(normPath(f.path)) match {
          case None => Some(f)
          case Some(pos) =>
            changed += 1
            val union = (f.dv.fold(Array.empty[Long])(d =>
              readDv(d._1)) ++ pos).sorted
            if (union.length.toLong >= f.rows) None
            else Some(f.copy(dv =
              Some((writeDv(root, union), union.length.toLong))))
        }
      }
      // every update row lands fresh: matched keys → postimage file,
      // the rest (incl. null keys) → plain inserts
      val keyCol = statLong(updates.schema, statCol)
      val mk = matchedKeys.toSeq.toDF("_mk")
      val matchedUpd = updates.join(broadcast(mk),
        keyCol === col("_mk"), "left_semi")
      val insertUpd = updates.join(broadcast(mk),
        keyCol === col("_mk"), "left_anti")
      val postFiles =
        if (matchedKeys.isEmpty) Nil
        else writeFiles(matchedUpd, root, Seq(statCol), filesPerRewrite)
      val insFiles =
        if (insertUpd.isEmpty) Nil
        else writeFiles(insertUpd, root, Seq(statCol), filesPerRewrite)
      beforePublish()
      val recorded =
        if (live.isEmpty) Some(unionSchemas(Seq(updates.schema)))
        else tableSchema(root, Some(baseV))
          .map(bs => unionSchemas(Seq(bs, updates.schema)))
      val headers = Seq("rowop=merge") ++
        (if (postFiles.nonEmpty)
          Seq(s"postimages=${postFiles.map(_.path).mkString(",")}")
        else Nil)
      (publishRebasing(root, baseV, dvd ++ postFiles ++ insFiles,
        touchesUpdates, schema = recorded, extraHeaders = headers),
        changed, fresh.length.toLong)
    } finally { updates.unpersist(); () }
  }

  /** The table schema as of `asOf` under PHYSICAL (parquet) column
    * names — what a raw parquet read of the data files must request
    * when it needs `_metadata.row_index` positions, so it infers
    * nothing.
    */
  private def physicalSchema(root: String, asOf: Option[Int])
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      graft.sources.SnapSource.inferSchema(root, asOf).fields.toSeq.map(f =>
        org.apache.spark.sql.types.StructField(physOf(f), f.dataType)))

  /** Snapshot read as of a version (default: latest): the live file
    * set through [[readFiles]], at the schema recorded as of that
    * version — additive evolution reads older files' missing columns
    * as NULL, renamed columns under their new name. An empty live set
    * (everything deleted, an empty overwrite) reads as an empty frame
    * with that schema. Building the frame runs no Spark job.
    */
  def read(spark: SparkSession, root: String,
      asOf: Option[Int] = None): DataFrame =
    readFiles(spark, root, liveFiles(root, asOf), asOf)

  /** Streaming batch ids recorded anywhere in the log —
    * checkpoint-accelerated (O(tail) manifest reads, not O(versions)
    * per micro-batch).
    */
  def seenBatchIds(root: String): Set[Long] = resolveState(root, None)._2

  /** Idempotent STREAMING commit: foreachBatch hands (batch, id)
    * here; a batch id already recorded in some manifest is a
    * REPLAY — after a sink-side crash between commit and checkpoint
    * advance — and must not commit twice. Returns the claimed version
    * or None for a skipped replay. This is the exactly-once sink
    * contract: the manifest log, not the checkpoint, is the source of
    * truth for what landed.
    */
  def commitStreamBatch(batch: DataFrame, batchId: Long, root: String,
      statCol: String, filesPerCommit: Int = 1): Option[Int] =
    if (seenBatchIds(root).contains(batchId)) None
    else {
      // streaming ingestion HONORS a declared layout: bucket tables
      // get per-bucket tagged files, identity/composite tables one
      // file per cell — without this, every micro-batch lands
      // untagged "foreign" files and silently downgrades the whole
      // table's storage-partitioned joins until the next optimize.
      // The table's own statCols (when declared and present in the
      // batch) ride along so skipping stays uniform across paths.
      val statCols = resolveProps(root).get("statCols")
        .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
          .filter(c => batch.columns.exists(_.equalsIgnoreCase(c))))
        .filter(_.nonEmpty)
        .getOrElse(Seq(statCol))
      Some(publish(root, "append",
        writeShapedFiles(batch, root, statCols, filesPerCommit),
        Some(batchId), frameSchema = Some(batch.schema)))
    }

  /** Write `df`'s rows as ONE commit's files shaped by the table's
    * declared layout (resolved from its properties): bucket-only
    * tables route through the bucket function and tag per-bucket
    * files; identity and composite tables route one file per
    * (key[, bucket]) cell — cells discovered with one distinct pass
    * over the frame (bounded by the frame's own cell count; for a
    * streaming micro-batch, its keys). Tables with no layout — or a
    * frame missing the layout columns — fall through to the plain
    * range-shaped write.
    */
  private[graft] def writeShapedFiles(df: DataFrame, root: String,
      statCols: Seq[String], filesPerCommit: Int): Seq[FileStat] = {
    val spark = df.sparkSession
    val props = resolveProps(root)
    def present(c: String): Option[String] =
      df.columns.find(_.equalsIgnoreCase(c))
    val bSpec = props.get("bucketSpec")
      .map(graft.sources.SnapBucket.parseSpec)
      .flatMap { case (k, n) => present(k).map(kk => (kk, n)) }
    val pc = props.get("partitionCol").flatMap(present)
    (pc, bSpec) match {
      case (None, None) =>
        writeFiles(df, root, statCols, filesPerCommit)
      case (None, Some((k, n))) =>
        // clustered route: placement IS the bucket function, tags
        // re-derived from each output file's key box
        routeBucketedFrame(spark, root, df, statCols, k, n)
      case (Some(d), bs) =>
        // cells from ONE distinct pass: Spark's hash() IS Murmur3
        // seed 42, so pmod(hash(k), n) equals SnapBucket's id
        val cells = bs match {
          case Some((k, n)) =>
            df.select(col(d), pmod(hash(col(k)), lit(n)).cast("long"))
              .distinct().collect().map { r =>
                (if (r.isNullAt(0)) None
                else Some(boxEncode(r.get(0), "identity partition")),
                  Some(r.getLong(1)))
              }
          case None =>
            df.select(col(d)).distinct().collect().map { r =>
              (if (r.isNullAt(0)) None
              else Some(boxEncode(r.get(0), "identity partition")),
                None: Option[Long])
            }
        }
        routeToCells(spark, root, df, statCols, d, bs,
          cells.toSeq.distinct.zipWithIndex.toMap)
    }
  }

  /** One clustered pass writing per-bucket tagged files of `df` —
    * shared by the bucketed maintenance rewrite and the shaped
    * streaming commit.
    */
  private def routeBucketedFrame(spark: SparkSession, root: String,
      frame: DataFrame, statCols: Seq[String], bc: String,
      n: Int): Seq[FileStat] = {
    val wide = tableSchema(root, None)
      .flatMap(_.fields.find(_.name.equalsIgnoreCase(bc)))
      .forall(f =>
        f.dataType == org.apache.spark.sql.types.LongType ||
          f.dataType == org.apache.spark.sql.types.TimestampType)
    val shaped = frame.repartition(n, col(bc))
    writeFiles(shaped, root, statCols, filesPerCommit = -1).map { nf =>
      val b = nf.range(bc) match {
        case Some((mn, mx))
            if !(mn == Long.MinValue && mx == Long.MaxValue) =>
          if (wide) graft.sources.SnapBucket.ofLong(mn, n)
          else graft.sources.SnapBucket.ofInt(mn.toInt, n)
        case _ => graft.sources.SnapBucket.ofNull(n)
      }
      nf.copy(stats = nf.stats :+
        (graft.sources.SnapBucket.tag(bc, n) -> (b.toLong, b.toLong)))
    }
  }

  /** Drive `stream` into the table with [[commitStreamBatch]] as an
    * AvailableNow pass (successive calls are incremental via the
    * checkpoint; a REPLAYED batch — fresh checkpoint, same data — is
    * recognized by its batch id and skipped).
    */
  def streamInto(stream: DataFrame, root: String, statCol: String,
      checkpointDir: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        commitStreamBatch(batch, id, root, statCol)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** CDC between two snapshots, computed from the MANIFEST diff: only
    * files added or removed between the versions are ever read —
    * untouched files (the overwhelming majority of a large table
    * under incremental commits) cost nothing. Row-level multiset diff
    * over the touched files turns a rewrite back into its net effect:
    * rows present in both the removed and added sides cancel, so a
    * merge that rewrote one file surfaces only the rows it actually
    * changed. Both sides read through [[readFiles]] at the schema
    * recorded as of `toV`, so an ADD COLUMN between the versions reads
    * NULL on the older side and a RENAME under the new name; neither
    * building frame runs a Spark job. Returns (inserted, deleted)
    * frames — the feed an incremental consumer (materialized-view
    * refresh, downstream sync) applies instead of re-reading the
    * table.
    */
  def changes(spark: SparkSession, root: String, fromV: Int,
      toV: Int): (DataFrame, DataFrame) = {
    val before = liveFiles(root, Some(fromV))
    val after = liveFiles(root, Some(toV))
    // identity = (path, deletion vector): a file whose DV grew between
    // the versions is REMOVED-at-old-state + ADDED-at-new-state — the
    // DV-filtered reads then cancel everything except the newly
    // deleted rows, exactly like a rewrite's multiset diff
    def key(f: FileStat): (String, Option[(String, Long)]) = (f.path, f.dv)
    val beforeKeys = before.map(key).toSet
    val afterKeys = after.map(key).toSet
    val added = after.filterNot(f => beforeKeys.contains(key(f)))
    val removed = before.filterNot(f => afterKeys.contains(key(f)))
    val addedDf = readFiles(spark, root, added, Some(toV))
    val removedDf = readFiles(spark, root, removed, Some(toV))
    (addedDf.exceptAll(removedDf), removedDf.exceptAll(addedDf))
  }

  /** Retention: drop the ability to time-travel before `keepFrom` and
    * physically delete every data file unreachable from any version
    * ≥ `keepFrom`. Returns the number of files removed. Readers of
    * versions ≥ `keepFrom` are unaffected (their files are all
    * referenced); older snapshots become unreadable — the documented
    * retention trade every lake format makes.
    *
    * The referenced set is O(TAIL) manifest reads, not O(versions):
    * live sets evolve by append-add / overwrite-replace, so
    * ⋃ live(v) for v ∈ [keepFrom, cur] equals live(keepFrom) (one
    * checkpoint-accelerated resolve) ∪ the files named by the
    * manifests in (keepFrom, cur] — no per-version replay and no
    * full-log scan.
    *
    * IN-FLIGHT commits (data written, manifest not yet published) are
    * protected by the `graceMs` window, applied PER COMMIT DIRECTORY
    * (one commit = one `data/<uuid>/` dir): a candidate is spared
    * while ANY file of its directory is younger than the window, so a
    * long-running commit's early files stay protected for as long as
    * a straggler task is still writing siblings. `graceMs` must
    * exceed the longest possible write-to-publish gap of any writer
    * (a large backfill's full write phase, plus writer/storage clock
    * skew on hdfs/s3a) — the default is 24 HOURS, the same
    * retention-duration contract Delta's VACUUM makes (its default is
    * 7 days). Pass `graceMs = 0` only when no writer can be
    * mid-commit. This replaces the previous ever-referenced full-log
    * scan: abandoned orphans now age out of protection and get
    * reclaimed instead of leaking forever.
    */
  def vacuum(root: String, keepFrom: Int,
      graceMs: Long = 24 * 60 * 60 * 1000L,
      dryRun: Boolean = false): Int = {
    val keptFiles = liveFiles(root, Some(keepFrom)) ++
      manifestsAfter(root, keepFrom).flatMap(_.files)
    val referenced = keptFiles.map(_.path).toSet
    // DV and BLOOM sidecars referenced by any kept version survive
    // too — including each kept commit dir's `_agg.<col>.bf`
    // aggregate (derived, not manifest-referenced: it lives beside
    // its per-file sidecars and must outlive any of them)
    val refDv = keptFiles.flatMap(_.dv.map(_._1)).toSet
    val refBloom = keptFiles.flatMap(_.blooms.map(_._2)).toSet ++
      keptFiles.flatMap(_.blooms.map { case (c, p) =>
        graft.sources.SnapBloomSkip.aggPathOf(p, c) })
    val dataRoot = SnapIo.child(root, "data")
    if (!SnapIo.isDir(dataRoot)) return 0
    val dvRoot = SnapIo.child(root, "dv")
    val bloomRoot = SnapIo.child(root, "bloom")
    val all = SnapIo.walkParquet(dataRoot) ++
      (if (SnapIo.isDir(dvRoot)) SnapIo.walkSuffix(dvRoot, ".dv") else Nil) ++
      (if (SnapIo.isDir(bloomRoot)) SnapIo.walkSuffix(bloomRoot, ".bf")
      else Nil)
    // liveFiles paths come from input_file_name() = file: URIs;
    // normalize both sides to the raw filesystem path
    def norm(s: String): String = s.stripPrefix("file://").stripPrefix("file:")
    val refNorm = (referenced ++ refDv ++ refBloom).map(norm)
    val cutoff = System.currentTimeMillis() - graceMs
    // a commit dir is in flight while its newest file is younger than
    // the grace window — protect every sibling, not just young files
    val dirYoungest = all.groupBy(p => p.substring(0, p.lastIndexOf('/')))
      .map { case (d, fs) => d -> fs.map(SnapIo.mtime).max }
    val doomed = all.filter { p =>
      !refNorm.contains(norm(p)) &&
        dirYoungest(p.substring(0, p.lastIndexOf('/'))) <= cutoff
    }
    // DRY RUN: report the candidate count, touch nothing — the
    // operator's pre-flight before an irreversible retention cut
    if (dryRun) return doomed.size
    doomed.foreach(SnapIo.delete)
    // record the horizon (monotonically): time travel below keepFrom
    // is now DECLARED gone — readers fail fast at plan time instead
    // of tripping a FileNotFoundException mid-scan
    if (retainedFrom(root).forall(_ < keepFrom))
      SnapIo.write(SnapIo.child(logDir(root), "_retain"),
        s"retain=$keepFrom\n".getBytes("UTF-8"))
    doomed.size
  }

  /** Snapshot read with manifest-level FILE SKIPPING for
    * `statCol ∈ [lo, hi]`: files whose [min, max] cannot overlap are
    * never handed to the scan; the survivors are read through
    * [[readFiles]] (no job to build the frame). The row-level
    * predicate is re-applied (files are a superset), so the result is
    * exact; an empty selection keeps the table schema.
    */
  def readPruned(spark: SparkSession, root: String, statCol: String,
      lo: Long, hi: Long, asOf: Option[Int] = None): DataFrame = {
    val live = liveFiles(root, asOf)
    val hit = live.filter { f =>
      val (mn, mx) = statRange(f, statCol)
      mx >= lo && mn <= hi
    }
    val df = readFiles(spark, root, hit, asOf)
    df.filter(statLong(df.schema, statCol).between(lo, hi))
  }
}
