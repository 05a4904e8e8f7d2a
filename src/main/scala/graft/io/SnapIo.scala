package graft.io

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Filesystem seam for the snap log + writer tier.
  *
  * A table root WITHOUT a scheme stays on `java.nio` — the local
  * default, and the one backend whose CREATE_NEW version claim is
  * syscall-atomic (the concurrency specs run here). A root WITH a
  * scheme (`file:`, `hdfs:`, `s3a:`, ...) routes every operation
  * through the Hadoop `FileSystem` API resolved from the path — which
  * is what lets the SAME connector run against cluster storage: the
  * read tier already speaks Hadoop (`HadoopInputFile`, the vectorized
  * reader's `FileSplit`), this closes the log/manifest/writer side.
  * On `hdfs:` the `create(overwrite=false)` claim is atomic in the
  * NameNode; on `file:` Hadoop's local FS checks-then-creates, so
  * scheme'd LOCAL roots trade a sliver of claim atomicity for API
  * parity — documented, and irrelevant to single-writer use.
  *
  * Everything takes and returns STRING paths so callers never juggle
  * two path types.
  */
object SnapIo {

  // scheme must be >= 2 chars (Hadoop's own Path parsing treats a
  // single letter before ':' as a Windows drive, not a scheme — so
  // "C:\tables\t" stays on java.nio instead of failing in FileSystem
  // resolution with a bogus one-letter scheme)
  private[graft] def hasScheme(p: String): Boolean =
    !p.startsWith("/") && p.matches("[A-Za-z][A-Za-z0-9+.-]+:.*")

  private def fs(p: String): FileSystem =
    new HPath(p).getFileSystem(new Configuration())

  /** Join path segments under `base`, scheme-preserving. */
  def child(base: String, names: String*): String =
    if (hasScheme(base))
      names.foldLeft(base)((b, n) => b.stripSuffix("/") + "/" + n)
    else Paths.get(base, names: _*).toString

  def isDir(p: String): Boolean =
    if (hasScheme(p)) {
      val f = fs(p)
      val hp = new HPath(p)
      f.exists(hp) && f.getFileStatus(hp).isDirectory
    } else Files.isDirectory(Paths.get(p))

  def isFile(p: String): Boolean =
    if (hasScheme(p)) {
      val f = fs(p)
      val hp = new HPath(p)
      f.exists(hp) && f.getFileStatus(hp).isFile
    } else Files.isRegularFile(Paths.get(p))

  /** Names (not paths) of a directory's direct children. */
  def listNames(dir: String): Seq[String] =
    if (hasScheme(dir))
      fs(dir).listStatus(new HPath(dir)).toSeq.map(_.getPath.getName)
    else {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }

  def readBytes(p: String): Array[Byte] =
    if (hasScheme(p)) {
      val in = fs(p).open(new HPath(p))
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toByteArray
      } finally in.close()
    } else Files.readAllBytes(Paths.get(p))

  def readLines(p: String): Seq[String] =
    if (hasScheme(p)) {
      val in = fs(p).open(new HPath(p))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    } else Files.readAllLines(Paths.get(p)).asScala.toSeq

  /** Create `p` with `bytes`, failing with
    * `java.nio.file.FileAlreadyExistsException` (normalized across
    * backends) when the path exists — the version-claim primitive.
    *
    * PER-SCHEME CONCURRENCY GUARANTEES: the claim is ATOMIC on bare
    * local paths (the bytes go to a private temp file first, then
    * `link(2)` claims the name — one syscall that fails if it exists,
    * so a reader never sees a claimed manifest before its content) and on
    * `hdfs:` (the NameNode serializes `create(overwrite=false)`).
    * On `file:` and `s3a:` Hadoop's implementation is
    * CHECK-THEN-CREATE — two racing writers can both believe they
    * claimed the same version and one commit is silently lost — so
    * those schemes are SINGLE-WRITER ONLY (Delta makes the same
    * trade: S3 multi-writer requires an external locking LogStore).
    * Multi-writer tables belong on a backend with a conditional
    * create: bare local paths, hdfs:, or any scheme with a
    * registered [[Claim]] backend (below).
    */
  /** Pluggable per-scheme CLAIM strategy — the seam that upgrades a
    * check-then-create backend to a true conditional write. Hadoop's
    * `file:` and classic `s3a:` createFile are check-then-create
    * (two racing writers can both claim one version); a backend with
    * a real conditional create — S3 `If-None-Match` via Hadoop 3.4's
    * conditional-write flags, a locking LogStore, a DynamoDB mutex —
    * registers here and every manifest claim for that scheme routes
    * through it. Registration is process-wide (the claim happens on
    * the driver).
    */
  trait Claim {
    /** Create `path` with `bytes` IFF absent; throw
      * `java.nio.file.FileAlreadyExistsException` when the path
      * exists — atomically, that being the point.
      */
    def createNew(path: String, bytes: Array[Byte]): Unit
  }

  private val claims =
    new java.util.concurrent.ConcurrentHashMap[String, Claim]()

  def registerClaim(scheme: String, c: Claim): Unit = {
    claims.put(scheme.toLowerCase, c); ()
  }
  def unregisterClaim(scheme: String): Unit = {
    claims.remove(scheme.toLowerCase); ()
  }

  private def schemeOf(p: String): Option[String] =
    if (!hasScheme(p)) None
    else Some(p.substring(0, p.indexOf(':')).toLowerCase)

  def createNew(p: String, bytes: Array[Byte]): Unit =
    schemeOf(p).flatMap(s => Option(claims.get(s))) match {
      case Some(c) => c.createNew(p, bytes)
      case None => createNewDefault(p, bytes)
    }

  private def createNewDefault(p: String, bytes: Array[Byte]): Unit =
    if (hasScheme(p)) {
      val out =
        try fs(p).create(new HPath(p), /* overwrite = */ false)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            throw new java.nio.file.FileAlreadyExistsException(p)
          case e: java.io.IOException
              if e.getMessage != null &&
                e.getMessage.contains("already exists") =>
            throw new java.nio.file.FileAlreadyExistsException(p)
        }
      try out.write(bytes) finally out.close()
    } else {
      val target = Paths.get(p)
      val tmp = target.resolveSibling(
        s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
      try {
        Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW)
        Files.createLink(target, tmp)
      } finally Files.deleteIfExists(tmp)
      ()
    }

  /** Create or overwrite `p` with `bytes`. */
  def write(p: String, bytes: Array[Byte]): Unit =
    if (hasScheme(p)) {
      val out = fs(p).create(new HPath(p), /* overwrite = */ true)
      try out.write(bytes) finally out.close()
    } else {
      Files.write(Paths.get(p), bytes)
      ()
    }

  def mkdirs(p: String): Unit =
    if (hasScheme(p)) { fs(p).mkdirs(new HPath(p)); () }
    else { Files.createDirectories(Paths.get(p)); () }

  def mtime(p: String): Long =
    if (hasScheme(p)) fs(p).getFileStatus(new HPath(p)).getModificationTime
    else Files.getLastModifiedTime(Paths.get(p)).toMillis

  def size(p: String): Long =
    if (hasScheme(p)) fs(p).getFileStatus(new HPath(p)).getLen
    else Files.size(Paths.get(p))

  /** Delete if present; false when it wasn't there. */
  def delete(p: String): Boolean =
    if (hasScheme(p)) fs(p).delete(new HPath(p), /* recursive = */ false)
    else Files.deleteIfExists(Paths.get(p))

  /** Remove a directory tree (DROP TABLE of a named warehouse
    * table — the catalog owns that directory).
    */
  def deleteRecursive(dir: String): Unit =
    if (hasScheme(dir)) { fs(dir).delete(new HPath(dir), true); () }
    else if (Files.exists(Paths.get(dir))) {
      val s = Files.walk(Paths.get(dir))
      try s.iterator().asScala.toSeq.reverse.foreach(p =>
        try { Files.delete(p); () }
        catch { case _: java.io.IOException => () })
      finally s.close()
    }

  /** Per-JVM scratch root for the gates that stage files of their
    * own (format round trips, snap tables, streaming sinks and
    * checkpoints): PID-keyed under java.io.tmpdir, so concurrent
    * Verify/Bench/PlanReport processes never delete each other's
    * scratch mid-read, and removed at JVM exit, so runs do not leave
    * corpus copies behind.
    */
  private[graft] lazy val scratchRoot: java.nio.file.Path = {
    val p = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_scratch_${ProcessHandle.current().pid()}")
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursive(p.toString)))
    p
  }

  /** `scratchRoot/name`, wiped before reuse: repeated runs inside one
    * JVM hold at most ONE copy per purpose.
    */
  private[graft] def scratchDir(name: String): String = {
    val p = scratchRoot.resolve(name).toString
    deleteRecursive(p)
    p
  }

  /** Move a directory (RENAME TABLE within a warehouse). */
  def rename(from: String, to: String): Unit =
    if (hasScheme(from) || hasScheme(to)) {
      require(hasScheme(from) && hasScheme(to),
        s"rename cannot cross filesystems: $from -> $to")
      val ok = fs(from).rename(new HPath(from), new HPath(to))
      require(ok, s"filesystem refused rename $from -> $to")
    } else {
      Files.createDirectories(Paths.get(to).getParent)
      Files.move(Paths.get(from), Paths.get(to))
      ()
    }

  /** Every .parquet file under `dir`, recursively. */
  def walkParquet(dir: String): Seq[String] = walkSuffix(dir, ".parquet")

  /** Every file under `dir` (recursively) with the given suffix. */
  def walkSuffix(dir: String, suffix: String): Seq[String] =
    if (hasScheme(dir)) {
      val it = fs(dir).listFiles(new HPath(dir), /* recursive = */ true)
      val out = Seq.newBuilder[String]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(suffix))
          out += st.getPath.toString
      }
      out.result()
    } else {
      val s = Files.walk(Paths.get(dir))
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(suffix))
        .map(_.toString).toSeq
      finally s.close()
    }
}
