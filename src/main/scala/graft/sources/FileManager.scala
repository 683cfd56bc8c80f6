package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Workspace file management over Hadoop FS — the engine-side rebuild of
  * the reference's file-manager API (SURVEY.md §2.6 S2; reference
  * `main_service/src/main_service/endpoints/storage.py:524-941`: read
  * dir, create/delete/rename, upload, zip batch-download). The reference
  * exposes these as dashboard HTTP endpoints; the capability itself —
  * managing the shared bucket/workspace every worker reads — is engine
  * surface, so it lives here as library calls over the same Hadoop FS
  * abstraction the read/write paths use. Local paths in tests; s3a://,
  * gs:// on a cluster, same code.
  *
  * Driver-side metadata operations only (list/rename/delete are O(1) FS
  * calls; upload/download move single blobs through the driver like the
  * reference's proxied multipart upload). Bulk DATA stays on the
  * DataFrame read/write path — this is not an ingest mechanism.
  */
final class FileManager(spark: SparkSession, base: String) {
  import FileManager.Entry

  private val basePath = new Path(base)
  private def fs: FileSystem =
    basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Resolve inside the workspace; reject path escapes ("../"). */
  private def resolve(rel: String): Path =
    if (rel.isEmpty || rel == "/") basePath
    else {
      val p = new Path(basePath, rel)
      val resolved = p.toUri.normalize().getPath
      val root = basePath.toUri.normalize().getPath.stripSuffix("/")
      // root + "/" (not a bare prefix): "/data/ws-backup" must not pass
      // for workspace "/data/ws"
      require(
        resolved == root || resolved.startsWith(root + "/"),
        s"path escapes the workspace: $rel"
      )
      new Path(p.toUri.normalize())
    }

  /** Read-dir: one Entry per child (the Syncfusion "read" operation). */
  def list(rel: String = ""): Seq[Entry] = {
    val dir = resolve(rel)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.map { st =>
      Entry(
        st.getPath.getName,
        st.getPath.toUri.getPath,
        st.isDirectory,
        st.getLen,
        st.getModificationTime
      )
    }
  }

  def mkdir(rel: String): Boolean = fs.mkdirs(resolve(rel))

  def delete(rel: String, recursive: Boolean = false): Boolean =
    fs.delete(resolve(rel), recursive)

  def rename(fromRel: String, toRel: String): Boolean =
    fs.rename(resolve(fromRel), resolve(toRel))

  def exists(rel: String): Boolean = fs.exists(resolve(rel))

  /** Upload: write bytes to a workspace file (proxied-upload analog). */
  def upload(rel: String, data: Array[Byte]): Unit = {
    val out = fs.create(resolve(rel), true)
    try out.write(data)
    finally out.close()
  }

  /** Download a single file's bytes. Refuses files past the JVM array
    * bound EXPLICITLY: `getLen.toInt` on a >=2 GiB file goes negative
    * (allocation crash) and on a >=4 GiB file silently WRAPS — returning
    * a tiny truncated array with no error, which is corruption, not
    * failure. Callers with files that size should stream (open/copy). */
  def download(rel: String): Array[Byte] = {
    val p = resolve(rel)
    val len = fs.getFileStatus(p).getLen
    require(
      len <= Int.MaxValue,
      s"$rel is $len bytes — larger than a JVM byte array; stream it instead"
    )
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](len.toInt)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  /** Zip batch-download: bundle workspace files into one zip blob at
    * `zipRel` (the reference zips server-side and serves a ticket URL;
    * here the zip lands in the workspace itself for the caller to fetch).
    * Returns the number of entries written. */
  def zipBatch(rels: Seq[String], zipRel: String): Int = {
    val out = new ZipOutputStream(new BufferedOutputStream(fs.create(resolve(zipRel), true)))
    try {
      var n = 0
      // distinct: a repeated rel would make putNextEntry throw
      // ZipException("duplicate entry") mid-write, aborting the batch and
      // leaving a truncated zip behind — requesting a file twice means
      // "include it", not "fail the bundle"
      rels.distinct.foreach { rel =>
        val p = resolve(rel)
        if (fs.exists(p) && fs.getFileStatus(p).isFile) {
          out.putNextEntry(new ZipEntry(rel))
          val in = new BufferedInputStream(fs.open(p))
          try {
            val buf = new Array[Byte](64 * 1024)
            var read = in.read(buf)
            while (read >= 0) {
              out.write(buf, 0, read)
              read = in.read(buf)
            }
          } finally in.close()
          out.closeEntry()
          n += 1
        }
      }
      n
    } finally out.close()
  }
}

object FileManager {

  /** One child of a workspace directory, as `FileManager.list` returns it. */
  final case class Entry(
      name: String,
      path: String,
      isDir: Boolean,
      sizeBytes: Long,
      modifiedAtMs: Long
  )
}
