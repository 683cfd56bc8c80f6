package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Validation manifest for every persisted index artifact (KMeans models,
  * IVF centroid sets, PQ codebooks, dedup hash/band indexes). Before this
  * existed, a loaded artifact was trusted blind: a truncated copy, a
  * hand-edited table, an artifact from a different build, or a directory
  * of the wrong index family all loaded silently and produced wrong
  * results downstream (worst case: a dedup index missing band rows admits
  * near-duplicates into a training corpus with no error anywhere).
  *
  * The manifest is a tiny `_graft_manifest` properties file INSIDE the
  * artifact directory (the `_` prefix keeps every parquet reader from
  * treating it as data, same as `_SUCCESS`). It records:
  *   - `format_version` — layout revision of the artifact family;
  *   - `kind` — which family this directory is (loading a KMeans path as
  *     an IVF set fails on kind, not on a shape coincidence);
  *   - structural params (k / nlist / subspaces / sub_dim / bands...) —
  *     verified against the loaded content, not just echoed;
  *   - per-table physical row counts — parquet-footer-metadata counts,
  *     cheap at any scale, catching truncated or partially-written tables.
  *
  * WRITE ORDER: data files first, manifest LAST. The manifest doubles as
  * the artifact's commit marker — a save that crashes mid-write leaves no
  * manifest, and the next load fails loudly with [[ArtifactManifest.Missing]]
  * instead of consuming a half-written index. Mutators that legitimately
  * change row counts (dedup-index append/compact) rewrite the manifest
  * after the data mutation, under the same discipline.
  */
object ArtifactManifest {
  val FormatVersion = 1
  private val FileName = "_graft_manifest"

  /** A loaded artifact contradicts its manifest (or the caller's
    * expectation of what lives at `path`). */
  final case class Mismatch(path: String, field: String, expected: String, found: String)
      extends IllegalStateException(
        s"index artifact at $path failed validation: $field expected $expected, found $found"
      )

  /** No manifest at `path`: the artifact predates manifests, was written
    * by something else, or its save crashed before commit. */
  final case class Missing(path: String)
      extends IllegalStateException(
        s"no $FileName at $path — artifact is unversioned, foreign, or from an interrupted save; refusing to load it blind"
      )

  /** Write (or overwrite) the manifest for the artifact rooted at `dir`.
    * Call AFTER every data file is committed. */
  def write(spark: SparkSession, dir: String, kind: String, fields: Map[String, String]): Unit = {
    val all = fields ++ Map("format_version" -> FormatVersion.toString, "kind" -> kind)
    val body = all.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n")
    val p = new Path(dir, FileName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
  }

  /** Read the manifest and check `format_version` + `kind`; returns the
    * field map for the caller's structural checks. */
  def readAndCheck(spark: SparkSession, dir: String, kind: String): Map[String, String] = {
    val p = new Path(dir, FileName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) throw Missing(dir)
    val in = fs.open(p)
    val bytes =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](4096)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toByteArray
      } finally in.close()
    val fields = new String(bytes, "UTF-8").linesIterator
      .map(_.trim)
      .filter(l => l.nonEmpty && l.contains('='))
      .map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }
      .toMap
    check(dir, "format_version", FormatVersion.toString, fields.getOrElse("format_version", "?"))
    check(dir, "kind", kind, fields.getOrElse("kind", "?"))
    fields
  }

  /** An artifact family whose every manifest field is computed from the
    * artifact as stored at its directory, by one `read` function that
    * returns what a load yields together with the fields. [[Family.save]]
    * writes those fields and [[Family.load]] checks every key against
    * them, so the two cannot drift apart. */
  final case class Family[A](kind: String)(read: (SparkSession, String) => (A, Seq[(String, String)])) {
    /** Write the manifest for the artifact at `dir`. Call AFTER every
      * data file is committed. */
    def save(spark: SparkSession, dir: String): Unit =
      write(spark, dir, kind, read(spark, dir)._2.toMap)

    /** Check `format_version` and `kind`, then each field in declaration
      * order against the stored artifact; returns what `read` loaded. */
    def load(spark: SparkSession, dir: String): A = {
      val mf = readAndCheck(spark, dir, kind)
      val (loaded, found) = read(spark, dir)
      found.foreach { case (k, v) => check(dir, k, mf.getOrElse(k, "?"), v) }
      loaded
    }
  }

  /** Structural assertion helper: typed Mismatch instead of a bare require. */
  def check(path: String, field: String, expected: String, found: String): Unit =
    if (expected != found) throw Mismatch(path, field, expected, found)

  /** Physical row count of a parquet table spread over `dirs`: the sum of
    * the footers' row counts, read on the driver — no Spark job. Counts
    * the files Spark's reader would read (`_`- and `.`-prefixed names such
    * as `_SUCCESS`, `.crc` and the manifest are skipped); a file whose
    * footer cannot be read (truncated, not parquet) throws rather than
    * counting as zero rows. */
  def tableRows(spark: SparkSession, dirs: String*): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    dirs.flatMap(d => new Path(d).getFileSystem(conf).listStatus(new Path(d)))
      .filter(st => st.isFile && !"_.".contains(st.getPath.getName.head))
      .map { st =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try r.getRecordCount finally r.close()
      }.sum
  }
}
