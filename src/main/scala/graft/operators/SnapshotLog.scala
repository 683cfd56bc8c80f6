package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Versioned snapshot log for MUTABLE index artifacts — the table-format
  * commit discipline (Iceberg/Delta's, scaled down to a properties file)
  * for object stores: readers resolve data through a manifest, never through
  * a directory listing, so a commit is ONE small-file PUT and the
  * protocol needs no atomic rename anywhere.
  *
  * Layout under an artifact root:
  * {{{
  *   <root>/manifest.v<N>        — immutable, checksummed; highest valid wins
  *   <root>/data/<table>/<tag>/  — immutable parquet directories
  * }}}
  *
  * Invariants:
  *   - Data directories are written FIRST (mode overwrite — a replayed
  *     writer rewrites the same tag idempotently) and become visible only
  *     when a manifest referencing them commits. A crash mid-write leaves
  *     orphan directories no reader ever sees.
  *   - The manifest is written once, never edited. A torn manifest write
  *     fails its own checksum and readers fall back to the previous valid
  *     version — the failure mode of a non-atomic object-store PUT is
  *     "commit didn't happen", never "half a commit".
  *   - Single writer per artifact; [[gc]] runs inside that writer, on the
  *     compaction cadence, and retires unreferenced data directories,
  *     superseded manifests, and torn manifest files.
  *
  * Versus the rename protocol this replaces: renames were metadata ops on
  * HDFS but full copies on raw object stores, and a torn multi-file
  * publish needed an enumerate-and-undo pass before every replay
  * (`batch<id>-` prefixes existed only to make torn state enumerable).
  * Here torn state is structurally invisible, so recovery logic shrinks
  * to "retry the write"; the reference's analogous contract is the
  * exactly-once input-steal/ACK semantics its scenario tests pin
  * (reference: tests/scenarios/test_input_steal_semantics.py). Streaming
  * writers run that contract through [[replayGate]].
  */
object SnapshotLog {
  private val Prefix = "manifest.v"

  /** One committed version: which data directories each table comprises
    * (tags relative to `<root>/data/<table>/`) plus writer properties. */
  final case class Snapshot(version: Int, tables: Map[String, Seq[String]], props: Map[String, String]) {
    def dirs(root: String, table: String): Seq[String] =
      tables.getOrElse(table, Nil).map(tag => dataDir(root, table, tag))

    /** The writers' replay markers (`last_batch`, `last_drain`): every
      * commit carries them forward, so a compaction, rebuild or drain
      * between micro-batches never erases another writer's replay skip. */
    def markers: Map[String, String] = props.filter(_._1.startsWith("last_"))
  }

  /** The snapshot a writer's next commit supersedes: `resolved` when the
    * writer already holds it, else the current one on disk, or an empty
    * version-0 snapshot when `root` has no valid manifest yet (a fresh
    * root). Only that absence is tolerated: a failed read or a root of
    * another kind propagates, because committing without the carried
    * markers would make the stream's next committed replay re-append. */
  def prior(s: SparkSession, root: String, kind: String, resolved: Option[Snapshot]): Snapshot =
    resolved.getOrElse {
      try current(s, root, kind)
      catch { case _: ArtifactManifest.Missing => Snapshot(0, Map.empty, Map.empty) }
    }

  /** The exactly-once gate of one streamed micro-batch: true when batch
    * `id` must run, false when it already committed. Every streaming
    * writer on the log runs the same protocol:
    *
    *   1. SKIP if committed: the snapshot's `marker` property, committed
    *      atomically with the data directories it describes (one manifest
    *      file), equals `id` ⇒ the previous attempt fully committed and
    *      only the stream's checkpoint advance was lost.
    *   2. Otherwise compute against this snapshot and land outputs by
    *      per-id OVERWRITE (verdict partitions, `<tag>` data directories):
    *      a replay rewrites the same files.
    *   3. COMMIT one manifest referencing the new directories with
    *      `marker=<id>`. A crash before the commit replays into 2 against
    *      the unchanged snapshot, where the partial write is unreferenced
    *      and so invisible; a crash after it replays into the skip at 1.
    *      A batch that adds nothing still commits the marker.
    *
    * Ids are scoped to ONE writer (one stream checkpoint, one drain
    * sequence) and monotonic, and every commit advances the marker, so
    * two inputs are refused BEFORE any write, where a fresh incarnation
    * (new checkpoint) or a second writer would otherwise silently
    * overwrite the original's outputs:
    *   - an id below the marker's high-water mark — a genuine replay is
    *     always of the marker id itself;
    *   - a `tag` some table of the snapshot already lists: its overwrite
    *     would destroy committed data and the append would list the tag
    *     twice. This is safety code behind the first refusal (a replay
    *     of the marker id skips before it).
    * `what` names the artifact at `root` in both messages. */
  def replayGate(
      snap: Snapshot,
      root: String,
      what: String,
      marker: String,
      id: Long,
      tag: Option[String] = None
  ): Boolean =
    !snap.props.get(marker).contains(id.toString) && {
      val noun = marker.stripPrefix("last_")
      val why = s"$noun ids are monotonic per writer, so this is a new stream incarnation " +
        s"(fresh checkpoint) or a second writer replaying ids — resume from the original " +
        s"checkpoint, or point the writer at a fresh $what"
      snap.props.get(marker).map(_.toLong).foreach { hw =>
        require(id > hw, s"$noun id $id is below the committed high-water mark $hw of the $what at $root: $why")
      }
      tag.foreach { t =>
        require(!snap.tables.valuesIterator.exists(_.contains(t)),
          s"$noun tag '$t' is already committed in snapshot v${snap.version} of the $what at $root: $why")
      }
      true
    }

  /** Absolute path of one table data directory. */
  def dataDir(root: String, table: String, tag: String): String =
    s"$root/data/$table/$tag"

  private def fsOf(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def listManifests(s: SparkSession, root: String): Seq[(Int, Path)] = {
    val rootP = new Path(root)
    val fs = fsOf(s, rootP)
    if (!fs.exists(rootP)) Nil
    else
      fs.listStatus(rootP)
        .iterator
        .map(_.getPath)
        .filter(_.getName.startsWith(Prefix))
        .flatMap(p => scala.util.Try(p.getName.stripPrefix(Prefix).toInt).toOption.map(_ -> p))
        .toSeq
        .sortBy(_._1)
  }

  /** Version the next commit should use: one past the highest manifest
    * file PRESENT (valid or torn — a torn v6 must not be overwritten by a
    * later writer reusing 6, or a reader that cached "v6 is invalid"
    * would skip the real commit). */
  def nextVersion(s: SparkSession, root: String): Int =
    latestVersion(s, root) + 1

  /** Highest manifest version PRESENT (valid or torn); 0 when none. One
    * directory listing — the cheap staleness probe [[Cached]] runs per
    * call. */
  def latestVersion(s: SparkSession, root: String): Int =
    listManifests(s, root).lastOption.map(_._1).getOrElse(0)

  /** Version-keyed cached resolution for an artifact a LONG-LIVED loop
    * (a streaming foreachBatch) consults on every batch: each resolve
    * costs one directory listing ([[latestVersion]]); the full manifest
    * parse + `build` (frame construction, validation) re-runs ONLY when a
    * new manifest file has appeared — so an in-flight stream picks up a
    * concurrently-committed snapshot at its next batch without a restart,
    * while a quiet artifact costs no re-validation per batch. The cache
    * key is the highest PRESENT version, not the resolved one: a torn
    * newest file re-keys the cache ONCE (resolution falls back to the
    * valid snapshot below it and is then served from cache), and the
    * crashed writer's retry at a higher number re-keys it again —
    * torn state never turns into per-call rebuilds or errors
    * (SnapshotLogSpec pins all three transitions).
    *
    * The writer half serves a loop that is the artifact's single writer:
    * the resolve probe also prices its next commit ([[nextVersion]]), and
    * [[committed]] installs the writer's own commit, which is current by
    * the single-writer argument, so the next batch reads no manifest.
    * `keepOnCommit` keeps the built value across those installs (for a
    * writer whose commits never change what `build` derives); otherwise
    * it is rebuilt from the new snapshot. NOT crash state: a cache lives
    * and dies with its stream incarnation, and recovery re-resolves from
    * disk. Thread-safe; one instance per (stream, artifact). */
  final class Cached[T](
      root: String,
      kind: String,
      build: (SparkSession, Snapshot) => T,
      keepOnCommit: Boolean = false
  ) {
    @volatile private var state: Option[(Int, Snapshot, T)] = None
    @volatile private var probed = 0

    def get(s: SparkSession): T = resolve(s)._2

    /** The current snapshot and its built value. */
    def resolve(s: SparkSession): (Snapshot, T) = {
      val present = latestVersion(s, root)
      probed = present
      state match {
        case Some((v, sn, t)) if v == present => (sn, t)
        case _ =>
          synchronized {
            state match {
              case Some((v, sn, t)) if v == present => (sn, t)
              case _ =>
                val sn = current(s, root, kind)
                val t = build(s, sn)
                state = Some((present, sn, t))
                (sn, t)
            }
          }
      }
    }

    /** The version the writer's next commit must use: one past the highest
      * manifest PRESENT at the last [[resolve]] (torn files count — their
      * numbers are burned). Nothing else writes in between (single writer). */
    def nextVersion: Int = probed + 1

    /** Install the snapshot this writer just committed. */
    def committed(s: SparkSession, sn: Snapshot): Unit = synchronized {
      val t = state match {
        case Some((_, _, t)) if keepOnCommit => t
        case _ => build(s, sn)
      }
      state = Some((sn.version, sn, t))
    }
  }

  private def md5Hex(body: String): String =
    java.security.MessageDigest
      .getInstance("MD5")
      .digest(body.getBytes("UTF-8"))
      .map("%02x".format(_))
      .mkString

  /** Commit `version`: serialize deterministically, self-checksum, write
    * the one manifest file. This call IS the commit point — everything
    * before it is invisible, everything after it is durable. */
  def commit(
      s: SparkSession,
      root: String,
      kind: String,
      version: Int,
      tables: Map[String, Seq[String]],
      props: Map[String, String]
  ): Snapshot = {
    // newline anywhere in the line-oriented body would corrupt it — and
    // because the checksum is computed over the CORRUPTED text, the
    // manifest would still validate and round-trip as wrong tables:
    // silent corruption, not a typed error. Reject at the source.
    require(!kind.contains('\n'), "kind must not contain newlines")
    require(
      tables.forall { case (t, tags) =>
        !t.contains('=') && !t.contains('\n') &&
        tags.forall(g => !g.contains(',') && !g.contains('=') && !g.contains('\n'))
      },
      "table names and dir tags must not contain '=' / ',' / newlines"
    )
    // props share the line-oriented serialization: a key of "checksum"
    // would be partitioned out as the integrity line (the committed
    // version then reads as TORN), a "table." prefix round-trips as a
    // phantom table whose dirs GC would treat as the live set, and a
    // newline anywhere splits one field into two
    require(
      props.forall { case (k, v) =>
        k != "checksum" && k != "snapshot_version" && !k.startsWith("table.") &&
          !k.contains('=') && !k.contains('\n') && !v.contains('\n')
      },
      "prop keys must not be 'checksum'/'snapshot_version', start with 'table.', or contain '=' / newlines"
    )
    val fields =
      props ++ Map("kind" -> kind, "snapshot_version" -> version.toString) ++
        tables.map { case (t, tags) => s"table.$t" -> tags.mkString(",") }
    val body = fields.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n")
    val all = body + s"checksum=${md5Hex(body)}\n"
    val p = new Path(root, s"$Prefix$version")
    val fs = fsOf(s, p)
    val out = fs.create(p, true)
    try out.write(all.getBytes("UTF-8"))
    finally out.close()
    Snapshot(version, tables, props)
  }

  private def parse(s: SparkSession, p: Path): Option[(Map[String, String])] = {
    val fs = fsOf(s, p)
    val in = fs.open(p)
    val text =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        new String(buf.toByteArray, "UTF-8")
      } finally in.close()
    val lines = text.linesIterator.toSeq
    val (bodyLines, sumLines) = lines.partition(!_.startsWith("checksum="))
    val body = bodyLines.mkString("", "\n", "\n")
    val ok = sumLines.lastOption.map(_.stripPrefix("checksum=")).contains(md5Hex(body))
    if (!ok) None
    else
      Some(
        bodyLines.iterator
          .map(_.trim)
          .filter(l => l.nonEmpty && l.contains('='))
          .map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }
          .toMap
      )
  }

  private def toSnapshot(version: Int, fields: Map[String, String]): Snapshot = {
    val tables = fields.collect {
      case (k, v) if k.startsWith("table.") =>
        k.stripPrefix("table.") -> (if (v.isEmpty) Nil else v.split(',').toSeq)
    }
    val props = fields.view
      .filterKeys(k => !k.startsWith("table.") && k != "snapshot_version")
      .toMap
    Snapshot(version, tables, props)
  }

  /** Resolve the current snapshot: the highest checksum-valid manifest.
    * Torn files are skipped (a crashed commit never happened); no valid
    * manifest at all throws [[ArtifactManifest.Missing]] and a valid
    * manifest of another artifact family throws on `kind` — the same
    * typed errors the write-once artifact families raise. */
  def current(s: SparkSession, root: String, kind: String): Snapshot = {
    val found = listManifests(s, root).reverseIterator
      .flatMap { case (v, p) => parse(s, p).map(v -> _) }
      .nextOption()
    found match {
      case None => throw ArtifactManifest.Missing(root)
      case Some((v, fields)) =>
        ArtifactManifest.check(root, "kind", kind, fields.getOrElse("kind", "?"))
        toSnapshot(v, fields)
    }
  }

  /** TIME-TRAVEL resolve: the snapshot AS OF a specific committed
    * version — the Iceberg/Delta `VERSION AS OF` read, scaled to the
    * properties-file log. Typed errors, never a silent fallback: a
    * version that was GC'd (or never committed, or tore mid-write) must
    * fail loudly — falling back to "nearest" would silently hand an
    * auditor the wrong corpus generation. Readers that time-travel
    * routinely should raise [[gc]]'s `retain` so their window stays on
    * disk. */
  def at(s: SparkSession, root: String, kind: String, version: Int): Snapshot = {
    val found = listManifests(s, root)
      .collectFirst { case (v, p) if v == version => p }
    found match {
      case None => throw ArtifactManifest.Missing(s"$root@v$version")
      case Some(p) =>
        parse(s, p) match {
          case None =>
            throw new IllegalStateException(
              s"manifest v$version at $root is torn (checksum failed) — " +
                "that commit never happened; resolve current() or another version")
          case Some(fields) =>
            ArtifactManifest.check(root, "kind", kind, fields.getOrElse("kind", "?"))
            toSnapshot(version, fields)
        }
    }
  }

  /** The artifact's commit HISTORY: every VALID snapshot, oldest first —
    * the audit surface (`DESCRIBE HISTORY`). Torn manifests are skipped
    * (they are non-commits by the protocol's own definition); GC'd
    * versions are simply absent. Metadata-sized: one small-file read per
    * retained version. */
  def history(s: SparkSession, root: String, kind: String): Seq[Snapshot] = {
    val valid = listManifests(s, root).flatMap { case (v, p) =>
      parse(s, p).map(fields => (v, fields))
    }
    val matched = valid.filter(_._2.getOrElse("kind", "?") == kind)
    // Valid manifests exist but NONE carry the requested kind: that is a
    // caller error (typo'd kind, wrong root), not "all versions GC'd" —
    // fail with the same typed mismatch at() raises rather than handing
    // an auditor an indistinguishable empty history.
    if (valid.nonEmpty && matched.isEmpty)
      ArtifactManifest.check(root, "kind", kind,
        valid.last._2.getOrElse("kind", "?"))
    matched.map { case (v, fields) => toSnapshot(v, fields) }
  }

  /** Retire everything the newest `retain` valid snapshots do not
    * reference: data directories no retained table lists, manifests below
    * the oldest retained version, and torn manifest files BELOW that
    * version only — a torn file at or above it (a crashed in-flight
    * commit) must survive GC, or [[nextVersion]] would hand the next
    * commit the same number the torn file burned and reintroduce exactly
    * the reuse hazard its scaladoc documents (plus object-store negative
    * caching on the reused key). Runs inside the single writer
    * (compaction cadence).
    *
    * `retain = 1` (the default) keeps only the current snapshot — a
    * reader holding a pre-GC DataFrame across a compaction must
    * re-resolve. A multi-reader deployment raises `retain` so a reader that resolved
    * up to `retain - 1` commits ago still finds its directories on disk;
    * the retention window is then "`retain - 1` compactions of grace",
    * which the deployment sizes against its longest query. Data dirs
    * shared across retained snapshots (the append-only common prefix) are
    * kept once — liveness is the UNION of the retained snapshots' dir
    * sets, so retention costs only the per-compaction delta, not a full
    * copy per version. */
  def gc(s: SparkSession, root: String, kind: String, retain: Int = 1): Unit = {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    current(s, root, kind): Unit // validates kind; throws if nothing valid serves
    val parsed = listManifests(s, root).map { case (v, p) => (v, p, parse(s, p)) }
    // `current` is the highest valid version, so every retained version is <= it
    val retained = parsed
      .collect { case (v, _, Some(fields)) => toSnapshot(v, fields) }
      .takeRight(retain)
    val retainedVersions = retained.map(_.version).toSet
    val oldestRetained = retainedVersions.min
    parsed.foreach { case (v, p, fields) =>
      val torn = fields.isEmpty
      val retire =
        if (torn) v < oldestRetained // keep higher torn files: version burned
        else !retainedVersions.contains(v)
      if (retire) fsOf(s, p).delete(p, false): Unit
    }
    val dataP = new Path(root, "data")
    val fs = fsOf(s, dataP)
    if (fs.exists(dataP)) {
      fs.listStatus(dataP).foreach { tdir =>
        val table = tdir.getPath.getName
        val live = retained.flatMap(_.tables.getOrElse(table, Nil)).toSet
        fs.listStatus(tdir.getPath)
          .filter(st => !live.contains(st.getPath.getName))
          .foreach(st => fs.delete(st.getPath, true))
      }
    }
  }
}
