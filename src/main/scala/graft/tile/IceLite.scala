package graft.tile

import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/**
 * icelite: Iceberg-style snapshot manifests over parquet (SURVEY.md §7.6).
 *
 * No Iceberg jars exist offline, so this layer provides the properties the
 * north_rule actually uses — snapshot isolation for exact resume,
 * manifest-driven pruning, lineage — with Iceberg-shaped semantics
 * (immutable data files + JSON snapshots + an atomically-swapped current
 * pointer), so swapping in iceberg-spark-runtime later is a config change.
 *
 * Layout:
 *   <root>/<dataDir>/bucket=<b>/part-*.parquet  immutable data files, one
 *                                  dataDir per writer (listed at TileJob's
 *                                  copy-on-write tail, commitRewrite)
 *   <root>/meta/snap-<id>.json                  snapshot (files + lineage
 *                                  + table schema)
 *   <root>/meta/_current                        atomic pointer (tmp + rename)
 *
 * Commit protocol: write data files → write snap-<id>.json (tmp+rename) →
 * swap _current (tmp+rename). A crash at any point leaves the previous
 * snapshot intact; orphan data files are ignored by readers (GC later).
 * A `_current` that names a missing snapshot file is corruption, not an
 * empty table: [[currentSnapshot]] throws rather than let the next commit
 * restart the chain at id 1 over the old history.
 *
 * Schema: each snapshot records the table schema (`"schema"`, Spark's
 * `StructType` JSON, which keeps nullability and field metadata), as
 * Iceberg's metadata does, so readers pass it to `spark.read.schema` and
 * never open data-file footers to learn it. A commit records its parent's
 * schema plus the columns it adds (add-column evolution; the `bucket` dir
 * column is never part of it). A manifest written before the field existed
 * has no `"schema"` key and parses to `None`; TileJob then infers the
 * schema from the footers once, and the next commit records it.
 */
object IceLite {

  final case class LineageRow(stage: String, partitionId: Int,
                              inputRows: Long, outputRows: Long, checksum: Long)

  final case class BucketEntry(bucket: Int, rows: Long, checksum: Long,
                               cellMin: Long, cellMax: Long, dataDir: String,
                               lineage: Seq[LineageRow])

  final case class Snapshot(snapshotId: Long, parentId: Long, jobId: String,
                            buckets: Seq[BucketEntry], schema: Option[StructType] = None)

  // ---------- tiny JSON (de)serializer — deterministic field order ----------

  private def esc(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def toJson(s: Snapshot): String = {
    val sb = new StringBuilder
    sb.append(s"""{"snapshotId":${s.snapshotId},"parentId":${s.parentId},"jobId":${esc(s.jobId)},"buckets":[""")
    sb.append(s.buckets.sortBy(_.bucket).map { b =>
      val lin = b.lineage.sortBy(_.partitionId).map { l =>
        s"""{"stage":${esc(l.stage)},"partitionId":${l.partitionId},"inputRows":${l.inputRows},"outputRows":${l.outputRows},"checksum":${l.checksum}}"""
      }.mkString("[", ",", "]")
      s"""{"bucket":${b.bucket},"rows":${b.rows},"checksum":${b.checksum},"cellMin":${b.cellMin},"cellMax":${b.cellMax},"dataDir":${esc(b.dataDir)},"lineage":$lin}"""
    }.mkString(","))
    sb.append("]")
    s.schema.foreach(st => sb.append(",\"schema\":").append(st.json))
    sb.append("}")
    sb.toString
  }

  /** Minimal parser for the exact shape toJson emits; a manifest without
    * the `"schema"` key (written before snapshots recorded it) parses with
    * `schema = None`. */
  def fromJson(j: String): Snapshot = {
    // piggyback on the GeoJson walker's tolerant value model via regex-free scan
    val p = new JsonP(j)
    val m = p.obj(raw = Set("schema"))
    def num(k: String): Long = m(k).asInstanceOf[Double].toLong
    val buckets = m("buckets").asInstanceOf[ArrayBuffer[Any]].map { bAny =>
      val b = bAny.asInstanceOf[Map[String, Any]]
      val lineage = b("lineage").asInstanceOf[ArrayBuffer[Any]].map { lAny =>
        val l = lAny.asInstanceOf[Map[String, Any]]
        LineageRow(l("stage").asInstanceOf[String], l("partitionId").asInstanceOf[Double].toInt,
          l("inputRows").asInstanceOf[Double].toLong, l("outputRows").asInstanceOf[Double].toLong,
          l("checksum").asInstanceOf[Double].toLong)
      }.toSeq
      BucketEntry(b("bucket").asInstanceOf[Double].toInt, b("rows").asInstanceOf[Double].toLong,
        b("checksum").asInstanceOf[Double].toLong, b("cellMin").asInstanceOf[Double].toLong,
        b("cellMax").asInstanceOf[Double].toLong, b("dataDir").asInstanceOf[String], lineage)
    }.toSeq
    Snapshot(num("snapshotId"), num("parentId"), m("jobId").asInstanceOf[String], buckets,
      m.get("schema").map(s => DataType.fromJson(s.asInstanceOf[String]).asInstanceOf[StructType]))
  }

  /** JSON checksums ride in Long but JSON numbers parse as Double — for
    * checksums beyond 2^53 precision would be lost, so store them masked. */
  def mask53(v: Long): Long = v & ((1L << 53) - 1)

  private final class JsonP(s: String) {
    var pos = 0
    def ws(): Unit = while (pos < s.length && Character.isWhitespace(s.charAt(pos))) pos += 1
    /** An object; the values of `raw` keys come back as their JSON text. */
    def obj(raw: Set[String] = Set.empty): Map[String, Any] = {
      ws(); require(s.charAt(pos) == '{'); pos += 1
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      ws()
      if (s.charAt(pos) == '}') { pos += 1; return m.toMap }
      while (true) {
        val k = str(); ws(); require(s.charAt(pos) == ':'); pos += 1
        ws()
        val start = pos
        val v = value()
        m(k) = if (raw(k)) s.substring(start, pos) else v
        ws()
        if (s.charAt(pos) == ',') { pos += 1; ws() } else { require(s.charAt(pos) == '}'); pos += 1; return m.toMap }
      }
      m.toMap
    }
    def arr(): ArrayBuffer[Any] = {
      ws(); require(s.charAt(pos) == '['); pos += 1
      val b = ArrayBuffer.empty[Any]
      ws()
      if (s.charAt(pos) == ']') { pos += 1; return b }
      while (true) {
        b += value()
        ws()
        if (s.charAt(pos) == ',') { pos += 1 } else { require(s.charAt(pos) == ']'); pos += 1; return b }
      }
      b
    }
    def str(): String = {
      ws(); require(s.charAt(pos) == '"'); pos += 1
      val sb = new StringBuilder
      while (s.charAt(pos) != '"') {
        if (s.charAt(pos) == '\\') {
          pos += 1
          s.charAt(pos) match {
            case '"' => sb.append('"'); case '\\' => sb.append('\\')
            case 'u' => sb.append(Integer.parseInt(s.substring(pos + 1, pos + 5), 16).toChar); pos += 4
            case c => sb.append(c)
          }
        } else sb.append(s.charAt(pos))
        pos += 1
      }
      pos += 1
      sb.toString
    }
    def value(): Any = {
      ws()
      s.charAt(pos) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case 't' => pos += 4; true
        case 'f' => pos += 5; false
        case 'n' => pos += 4; null
        case _ =>
          val st = pos
          while (pos < s.length && "+-0123456789.eE".indexOf(s.charAt(pos)) >= 0) pos += 1
          s.substring(st, pos).toDouble
      }
    }
  }

  // ---------- snapshot IO ----------

  def metaDir(root: String): Path = Paths.get(root, "meta")

  private def readSnapshot(f: Path): Snapshot =
    fromJson(new String(Files.readAllBytes(f), StandardCharsets.UTF_8))

  /** The snapshot `_current` names; `None` when there is no `_current` (no
    * table). A pointer to a missing snapshot file throws. */
  def currentSnapshot(root: String): Option[Snapshot] = {
    val cur = metaDir(root).resolve("_current")
    if (!Files.exists(cur)) None
    else {
      val name = new String(Files.readAllBytes(cur), StandardCharsets.UTF_8).trim
      val f = metaDir(root).resolve(name)
      if (!Files.exists(f))
        throw new IllegalStateException(s"snapshot pointer $cur names $f, which does not exist")
      Some(readSnapshot(f))
    }
  }

  /** Atomic snapshot commit: write snap file, then swap the pointer. */
  def commit(root: String, snap: Snapshot): Unit = {
    val meta = metaDir(root)
    Files.createDirectories(meta)
    val name = s"snap-${snap.snapshotId}.json"
    val tmp = meta.resolve(name + ".tmp")
    Files.write(tmp, toJson(snap).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, meta.resolve(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    val curTmp = meta.resolve("_current.tmp")
    Files.write(curTmp, name.getBytes(StandardCharsets.UTF_8))
    Files.move(curTmp, meta.resolve("_current"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Load a specific snapshot by id — snapshots are immutable, so any
    * committed id stays readable forever (time travel). */
  def snapshotById(root: String, snapshotId: Long): Option[Snapshot] = {
    val f = metaDir(root).resolve(s"snap-$snapshotId.json")
    if (!Files.exists(f)) None
    else Some(readSnapshot(f))
  }

  /**
   * Retention GC (Iceberg `expire_snapshots` analog): keep the last
   * `keep` snapshots on the _current parent chain (the current one
   * always survives), delete every other snapshot file, then delete the
   * data dirs no retained snapshot references. Deletion order is
   * crash-safe: metadata first — an interrupted run strands orphan data
   * dirs, which readers never see (they only follow manifests) — data
   * second. Returns (snapshotsRemoved, dataDirsRemoved).
   */
  def expireSnapshots(root: String, keep: Int): (Int, Int) = {
    require(keep >= 1, s"must keep at least the current snapshot: $keep")
    val cur = currentSnapshot(root).getOrElse(return (0, 0))
    val retainedIds = Iterator.iterate(cur.snapshotId)(id =>
        snapshotById(root, id).map(_.parentId).getOrElse(-1L))
      .takeWhile(_ >= 0).take(keep).toSet
    val all = listSnapshots(root)
    val expireNames = all.filterNot { case SnapName(id) => retainedIds.contains(id.toLong) }
    val retainedDirs = retainedIds.flatMap(id =>
      snapshotById(root, id).toSeq.flatMap(_.buckets.map(_.dataDir)))
    // parse expiring manifests BEFORE deleting them to learn their dirs
    val expireDirs = expireNames.flatMap { n =>
      readSnapshot(metaDir(root).resolve(n)).buckets.map(_.dataDir)
    }.toSet -- retainedDirs
    expireNames.foreach(n => Files.deleteIfExists(metaDir(root).resolve(n)))
    var dirsRemoved = 0
    expireDirs.foreach { d =>
      val p = Paths.get(d)
      if (Files.exists(p)) {
        val walk = Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
        finally walk.close()
        dirsRemoved += 1
      }
    }
    (expireNames.size, dirsRemoved)
  }

  private val SnapName = """snap-(\d+)\.json""".r

  /** The committed snapshot file names, in snapshot-id order. */
  def listSnapshots(root: String): Seq[String] = {
    val meta = metaDir(root)
    if (!Files.exists(meta)) Seq.empty
    else {
      val s = Files.list(meta)
      try s.iterator().asScala.map(_.getFileName.toString)
        .collect { case n @ SnapName(id) => id.toLong -> n }.toSeq.sortBy(_._1).map(_._2)
      finally s.close()
    }
  }

  /**
   * Orphan-file cleanup (Iceberg `remove_orphan_files` analog): delete
   * data dirs under `<root>/data` that NO committed snapshot references —
   * the leftovers of commits that crashed after writing data but before
   * publishing their manifest (the commit protocol's documented stranding
   * point), and of ingest retries whose overwrite target moved. Distinct
   * from [[expireSnapshots]], which walks manifests: this walks the DATA
   * tree and subtracts every manifest. The unit of reclamation is the
   * per-commit dir two levels down (`data-sN/bucket=B` for batch ingests,
   * `data/bucket=B` for the base layout) — exactly the granularity
   * manifests reference, so a referenced dir is never partially deleted.
   * Readers only follow manifests, so this is safe to run concurrently
   * with queries; like Iceberg, it must NOT run concurrently with an
   * in-flight COMMIT (whose dirs are not yet referenced). Returns the
   * deleted dirs, sorted.
   */
  def removeOrphanFiles(root: String): Seq[String] = {
    // real paths on BOTH sides: the deleting direction of this op means a
    // path-alias mismatch (relative manifest dir + different CWD, or a
    // symlinked root) must resolve or ABORT — misclassifying a live dir
    // as orphan is data loss. Manifest dirs written by another process's
    // CWD resolve via the root-relative fallback; a referenced dir that
    // exists nowhere fails loudly (same contract as changedDirs).
    val rootP = Paths.get(root).toRealPath()
    def listDirs(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.filter(Files.isDirectory(_)).toList
      finally s.close()
    }
    val referenced: Set[Path] = listSnapshots(root).flatMap { n =>
      val snap = readSnapshot(metaDir(root).resolve(n))
      snap.buckets.filter(_.rows > 0).map { b =>
        val raw = Paths.get(b.dataDir)
        // in-root resolution FIRST: TileJob always writes under root, so
        // the last two components (<dataRoot>/<bucket>) under rootP are
        // authoritative; the raw path is only a fallback and may be
        // CWD-dependent if it was stored relative
        val tries = (if (raw.getNameCount >= 2)
            Seq(rootP.resolve(raw.subpath(raw.getNameCount - 2, raw.getNameCount).toString))
          else Nil) :+ raw
        tries.find(Files.exists(_)).map(_.toRealPath()).getOrElse(
          throw new IllegalStateException(
            s"removeOrphanFiles: snapshot $n references unresolvable dir ${b.dataDir} " +
            s"— refusing to sweep (a wrong resolution here deletes live data)"))
      }
    }.toSet
    // candidate units: every dir whose PARENT chain starts at root and
    // that matches the manifest-reference depth (root/<dataRoot>/<bucket>)
    val candidates = listDirs(rootP)
      .filter(_.getFileName.toString != "meta")
      .flatMap(listDirs)
      .map(_.toRealPath())
    val orphans = candidates.filterNot { c =>
      // a dir is live if any manifest references it OR a parent/child of
      // it (layout variants keep reference depth flexible without ever
      // deleting a referenced tree)
      referenced.exists(r => r.startsWith(c) || c.startsWith(r))
    }.sortBy(_.toString)
    orphans.foreach { d =>
      val walk = Files.walk(d)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
    orphans.map(_.toString)
  }
}
