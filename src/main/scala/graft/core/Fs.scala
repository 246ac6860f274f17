package graft.core

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Filesystem access for table metadata — everything goes through the
  * Hadoop [[FileSystem]] API so the sink/maintenance layer runs
  * unchanged on file://, hdfs:// and s3a:// (the reference targets
  * MinIO/S3, `storage/minio_client.py`; `java.nio.file` would silently
  * bind the engine to the driver's local disk).
  *
  * Commit files are created with create-exclusive (`overwrite=false`),
  * the standard object-store-safe commit primitive: on HDFS and local
  * FS the create is atomic; on S3A it is check-then-act, so atomicity
  * for concurrent creates needs a writer-side guarantee. The engine's
  * is three-layered: all of one table's IN-PROCESS writers (including
  * the parallel per-collection futures that share the `_dlq` table)
  * serialize through CdcTable's per-table JVM lock; CROSS-process the
  * winner is decided by the [[CommitArbiter]] seam (atomic conditional
  * create where the scheme proves it, read-back-verified create plus
  * an injectable external arbiter elsewhere); and deployments that
  * intend concurrent writer PROCESSES must pass
  * `CdcTable.requireCrossProcessCommits` — which refuses stores where
  * neither proof nor arbiter exists — instead of discovering a lost
  * commit later. Under the default single-writer-process contract,
  * create-exclusive still turns a torn write into a retryable error,
  * never corruption.
  */
object Fs {

  def conf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  def apply(path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(conf()), p)
  }

  def exists(path: String): Boolean = {
    val (fs, p) = apply(path)
    fs.exists(p)
  }

  def readString(path: String): Option[String] = {
    val (fs, p) = apply(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(new String(out.toByteArray, StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** Schemes whose `create(overwrite = false)` is a TRUE atomic
    * conditional create: local paths go through O_EXCL below, and the
    * HDFS namenode serializes creates. Everything else (s3a, gs, abfs,
    * …) is check-then-act at this API and must either be asserted
    * atomic by the deployment (`-Dgraft.commit.conditionalCreateSchemes`
    * — only when the connector issues real conditional writes) or
    * arbitrated externally ([[CommitArbiter]]). */
  private val AtomicCreateSchemes = Set("file", "hdfs", "viewfs")

  /** Whether create-exclusive on `path`'s scheme is proven atomic for
    * CROSS-PROCESS racers. Pure URI inspection — never initializes a
    * FileSystem, so it is safe to probe schemes whose connector jars
    * are absent. */
  def provenAtomicCreateExclusive(path: String): Boolean = {
    val scheme = Option(new Path(path).toUri.getScheme).getOrElse("file")
    AtomicCreateSchemes.contains(scheme) ||
      sys.props.getOrElse("graft.commit.conditionalCreateSchemes", "")
        .split(",").map(_.trim).contains(scheme)
  }

  /** Create-exclusive write: atomically fails if the file exists.
    * Returns false on FileAlreadyExists (commit races / replays).
    *
    * On HDFS the namenode makes `create(overwrite=false)` atomic; on
    * LOCAL paths Hadoop's RawLocalFileSystem implements it as a
    * non-atomic exists()-then-create, so two racing writers could both
    * "win" and one would silently overwrite the other's commit — local
    * paths therefore go through O_EXCL (`CREATE_NEW`) directly. */
  def createExclusive(path: String, content: String): Boolean = {
    val (fs, p) = apply(path)
    fs.mkdirs(p.getParent)
    val scheme = p.toUri.getScheme
    if (scheme == null || scheme == "file") {
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(p.toUri.getPath),
          content.getBytes(StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else
      try {
        val out = fs.create(p, /* overwrite = */ false)
        try out.write(content.getBytes(StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.io.IOException if fs.exists(p) => false
      }
  }

  /** Overwrite via temp-file + rename (atomic on HDFS/local; on S3A a
    * copy — acceptable for non-commit scratch files only). */
  def writeString(path: String, content: String): Unit = {
    val (fs, p) = apply(path)
    fs.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    fs.rename(tmp, p)
    ()
  }

  /** Existence + size for MANY files with ONE `listStatus` per
    * distinct parent directory instead of one RPC per file: a 100 TB
    * table is ~10⁶ manifest entries, and serial per-file HEAD calls
    * on an object store would dominate an otherwise metadata-only
    * operation (restore validation, detail). Returns a map keyed by
    * the INPUT path strings; absent files (and files under absent
    * parents) are simply missing from the map. */
  def statBatch(paths: Seq[String]): Map[String, Long] =
    paths.groupBy(s => new Path(s).getParent).iterator.flatMap {
      case (parent, children) =>
        val fs = parent.getFileSystem(conf())
        val present: Map[String, Long] =
          if (!fs.exists(parent)) Map.empty
          else fs.listStatus(parent).iterator
            .map(st => st.getPath.getName -> st.getLen).toMap
        children.iterator.flatMap(c =>
          present.get(new Path(c).getName).map(c -> _))
    }.toMap

  /** Names of the direct children of `dir` (empty if absent). */
  def list(dir: String): Seq[String] = {
    val (fs, p) = apply(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toIndexedSeq.map(_.getPath.getName)
  }

  /** Direct children of `dir` with (name, length, mtime) — the one
    * listStatus the plain [[list]] already pays carries both fields
    * for free; callers that cache parsed file content key on them. */
  def listWithInfo(dir: String): Seq[(String, Long, Long)] = {
    val (fs, p) = apply(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toIndexedSeq
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
  }

  /** All file paths under `dir`, recursively, with their sizes. */
  def walkFiles(dir: String): Seq[(Path, Long)] = {
    val (fs, p) = apply(dir)
    if (!fs.exists(p)) Nil
    else {
      val it = fs.listFiles(p, /* recursive = */ true)
      val buf = Vector.newBuilder[(Path, Long)]
      while (it.hasNext) {
        val st = it.next()
        buf += ((st.getPath, st.getLen))
      }
      buf.result()
    }
  }
}
