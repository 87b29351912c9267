package graft.tile

import graft.sql.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * Raster↔vector tiling job with checkpointed manifests and exact resume
 * (SURVEY.md §2.6 #48/#51; north_rule: "resumable from checkpoint with
 * per-partition lineage + metrics").
 *
 * Work is partitioned into `nBuckets` contiguous ranges of the level-
 * `bucketLevel` Morton cell space — the checkpoint granularity. Each bucket:
 *   images in range → tile assignment (zoom z) + pHash verification
 *   → one immutable parquet dir → lineage rows → snapshot commit.
 * A rerun reads the current snapshot and skips completed buckets; outputs
 * are deterministic, so resume-after-crash produces byte-identical results
 * (ResumeSpec pins this).
 *
 * At 10^12 scale, buckets = coarse Morton ranges ≡ Iceberg partition ranges:
 * each bucket is an independent distributed job over a cell-range predicate
 * that prunes at the parquet/row-group level (min/max on the cell column).
 */
object TileJob {

  /** Per-bucket stats of a row set: rows, order-independent XOR checksum
    * (53-bit masked, as the manifest stores it) and cell range. `+` merges
    * disjoint row sets (XOR commutes with the mask). */
  private final case class Stats(rows: Long, cs: Long, cmin: Long, cmax: Long) {
    def +(o: Stats): Stats =
      Stats(rows + o.rows, cs ^ o.cs, math.min(cmin, o.cmin), math.max(cmax, o.cmax))
    def entry(b: Int, dir: String, lineage: Seq[IceLite.LineageRow]): IceLite.BucketEntry =
      IceLite.BucketEntry(b, rows, cs, cmin, cmax, dir, lineage)
  }
  private val NoRows = Stats(0L, 0L, Long.MaxValue, Long.MinValue)
  private def statsOf(e: IceLite.BucketEntry): Stats = Stats(e.rows, e.checksum, e.cellMin, e.cellMax)

  /** THE per-bucket aggregate, ONE collected job: [[Stats]] per (bucket,
    * `by` cast to long). The row checksum is a deterministic xxhash64 folded
    * with XOR (no overflow under ANSI mode, which Spark 4 enables by
    * default). Every manifest number comes from here: ingest read-back,
    * rebucket's expectation, the delete/merge match scan, merge's added
    * rows and the verify read-back. */
  private def statsBy(df: DataFrame, by: Column = lit(0L)): Map[(Long, Long), Stats] =
    df.withColumn("_k", by.cast("long"))
      .withColumn("_cs", xxhash64(col("image_id"), col("tx"), col("ty"), col("phash")))
      .groupBy(col("bucket").cast("long"), col("_k"))
      .agg(count(lit(1)), expr("bit_xor(_cs)"), min("cell"), max("cell"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        Stats(r.getLong(2), IceLite.mask53(r.getLong(3)), r.getLong(4), r.getLong(5)))
      .toMap

  /** Per-bucket (stats, lineage) from ONE read-back of the committed files
    * under `basePath` (what readers will see), keyed by bucket id. */
  private def bucketStats(spark: SparkSession, schema: StructType, basePath: String,
      dirs: Seq[String], jobId: String): Map[Long, (Stats, Seq[IceLite.LineageRow])] =
    if (dirs.isEmpty) Map.empty
    // ONE job: per-(bucket, partition) stats collected once; bucket totals
    // fold in the driver. On the streaming ingest path that is one job per
    // micro-batch.
    else statsBy(readBack(spark, schema, basePath, dirs),
        spark_partition_id()).groupBy(_._1._1).map { case (b, parts) =>
      val byPid = parts.toSeq.sortBy(_._1._2)
      b -> ((byPid.map(_._2).reduce(_ + _), byPid.map { case ((_, pid), s) =>
        IceLite.LineageRow(jobId, pid.toInt, s.rows, s.rows, s.cs) }))
    }

  /** Freshly written dirs under `basePath` at `schema`, their `bucket=`
    * dir names discovered as the `bucket` column. */
  private def readBack(spark: SparkSession, schema: StructType, basePath: String,
      dirs: Seq[String]): DataFrame =
    spark.read.schema(schema).option("basePath", basePath).parquet(dirs: _*)

  /** The core columns as the data files store them (the bucket lives in the
    * dir name): the schema of a table with no data files and no recorded
    * schema. */
  private val fileSchema = StructType.fromDDL("image_id STRING, caption STRING, " +
    "w INT, h INT, fmt STRING, lon DOUBLE, lat DOUBLE, cell BIGINT, tx BIGINT, " +
    "ty BIGINT, phash BIGINT, phash_ok BOOLEAN")

  /** The tile-assignment projection shared by the batch job and the
    * streaming ingest: bucket (coarse Morton cell), tile x/y, fine cell,
    * and the per-row pHash revalidation. */
  private val coreCols = "bucket" +: fileSchema.fieldNames.toSeq

  /** `t` as a data-file read reports it: every field, element and value
    * nullable. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case o => o
  }

  /** The schema a commit records (the add-column rule): `parent`, then the
    * columns of `written` it lacks, in `written`'s order, never the `bucket`
    * dir column. A column both hold must keep its type. */
  private def evolve(parent: StructType, written: StructType): StructType = {
    val added = written.fields.filter(_.name != "bucket").flatMap { w =>
      val f = nullable(w.dataType)
      parent.fields.find(_.name.equalsIgnoreCase(w.name)) match {
        case None => Some(w.copy(dataType = f, nullable = true))
        case Some(p) =>
          require(nullable(p.dataType) == f, s"column ${w.name} is " +
            s"${p.dataType.simpleString} in the table but ${w.dataType.simpleString} here")
          None
      }
    }
    StructType(parent.fields ++ added)
  }

  /** The table schema as of `snap`: the recorded one. A manifest written
    * before snapshots recorded it gets the footer union of its live dirs
    * (one schema-inference job; the next commit records the result), or
    * the core columns when it has no data files. */
  private def schemaOf(spark: SparkSession, snap: IceLite.Snapshot): StructType =
    snap.schema.getOrElse {
      val live = liveDirs(snap.buckets.map(_.dataDir))
      if (live.isEmpty) fileSchema
      else spark.read.option("mergeSchema", "true").parquet(live: _*).schema
    }

  /** The dirs that exist (an empty bucket has none). */
  private def liveDirs(dirs: Seq[String]): Seq[String] =
    dirs.filter(d => Files.exists(Paths.get(d)))

  private def tileProjection(df: DataFrame, zoom: Int, bucketLevel: Int,
                             extraCols: Seq[String] = Nil): DataFrame = {
    val clash = extraCols.filter(c => coreCols.contains(c.toLowerCase))
    require(clash.isEmpty,
      s"extraCols ${clash.mkString(",")} collide with core table columns")
    df.withColumn("bucket",
        call_function("st_cellid", col("lon"), col("lat"), lit(bucketLevel)))
      .withColumn("tx", call_function("st_tile_x", col("lon"), lit(zoom)))
      .withColumn("ty", call_function("st_tile_y", col("lat"), lit(zoom)))
      .withColumn("cell", call_function("st_cellid", col("lon"), col("lat"), lit(zoom)))
      .withColumn("phash_ok", call_function("img_phash", col("bytes")) === col("phash"))
      // add-column evolution (opt-in so the core table layout stays
      // byte-stable): named batch columns beyond the core contract ride
      // through to the table files — the ingest side of ADD COLUMN
      .select((coreCols ++ extraCols).map(col): _*)
  }

  /**
   * EXACTLY-ONCE streaming micro-batch append (the `foreachBatch` +
   * idempotent-sink pattern; driven by [[graft.streaming.Streams.tileIngest]]):
   * batch rows → tile assignment → one immutable per-batch dir
   * (`data-s<batchId>/bucket=<b>`) → ONE snapshot commit whose jobId
   * records the batchId. A replayed batch (crash after the commit but
   * before the streaming checkpoint advanced) finds its jobId already on
   * the snapshot chain and returns without writing, so rows are never
   * duplicated; a crash BEFORE the commit leaves an orphan dir no
   * manifest references, which the retry's mode("overwrite") reclaims.
   * Buckets therefore repeat across snapshots (one entry per batch per
   * bucket) — readers union entry dirs, [[compact]] merges same-bucket
   * entries, [[IceLite.expireSnapshots]] reclaims per-batch dirs.
   */
  def ingestBatch(spark: SparkSession, batch: DataFrame, outRoot: String,
                  batchId: Long, zoom: Int = 8, bucketLevel: Int = 2,
                  runId: String = "stream",
                  extraCols: Seq[String] = Nil): IceLite.Snapshot = {
    GraftFunctions.install(spark)
    val jobId = s"$runId-$batchId"
    val prev = IceLite.currentSnapshot(outRoot)
    // Idempotence is RETENTION-PROOF: a durable marker file per committed
    // batch (meta/ingest-<jobId>.done, written after the commit, never
    // GC'd by expireSnapshots which only deletes snap-*.json) — without
    // it, compact + expireSnapshots between a commit and the streaming
    // checkpoint advancing would truncate the jobId off the snapshot
    // chain and a replay would double-ingest. The chain scan stays as a
    // secondary for the crash window between commit and marker write.
    // The key includes `runId` because batchId alone is only meaningful
    // per checkpoint: restarting with a FRESH checkpoint renumbers
    // batches from 0, so reusing the old runId would silently skip them
    // — pass a new runId when the checkpoint does not carry over.
    val marker = IceLite.metaDir(outRoot).resolve(s"ingest-$jobId.done")
    def chainHas(id: String): Boolean = {
      var cur = prev
      while (cur.isDefined) {
        if (cur.get.jobId == id) return true
        cur = if (cur.get.parentId < 0) None
              else IceLite.snapshotById(outRoot, cur.get.parentId)
      }
      false
    }
    if (Files.exists(marker) || chainHas(jobId))
      return prev.getOrElse(throw new IllegalStateException(
        s"ingest marker $marker exists but the table has no current snapshot"))

    val base = s"$outRoot/data-s$batchId"
    val tiles = tileProjection(batch, zoom, bucketLevel, extraCols)
    val schema = evolve(prev.fold(new StructType())(schemaOf(spark, _)), tiles.schema)
    tiles.sortWithinPartitions("bucket", "cell", "image_id")
      .write.mode("overwrite").partitionBy("bucket").parquet(base)

    val dirs = {
      val p = Paths.get(base)
      if (!Files.exists(p)) Seq.empty[String]
      else {
        val s = Files.list(p)
        try s.iterator().asScala.map(_.toString)
          .filter(_.contains("bucket=")).toSeq.sorted
        finally s.close()
      }
    }
    val stats = bucketStats(spark, schema, base, dirs, jobId)
    val entries = prev.map(_.buckets.toVector).getOrElse(Vector.empty) ++
      stats.toSeq.sortBy(_._1).map { case (b, (st, lineage)) =>
        st.entry(b.toInt, s"$base/bucket=$b", lineage) }
    val snap = IceLite.Snapshot(prev.map(_.snapshotId).getOrElse(0L) + 1,
      prev.map(_.snapshotId).getOrElse(-1L), jobId, entries, Some(schema))
    IceLite.commit(outRoot, snap)
    val tmp = IceLite.metaDir(outRoot).resolve(s"ingest-$jobId.done.tmp")
    Files.write(tmp, Array.emptyByteArray)
    Files.move(tmp, marker,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    snap
  }

  final case class Failpoint(afterBuckets: Int) extends RuntimeException(
    s"injected failure after $afterBuckets buckets (test hook)")

  def run(spark: SparkSession, imagesPath: String, outRoot: String,
          zoom: Int = 8, bucketLevel: Int = 2, failAfter: Int = -1): IceLite.Snapshot = {
    GraftFunctions.install(spark)
    val nBuckets = 1 << (2 * bucketLevel) // full level-L morton space
    val prev = IceLite.currentSnapshot(outRoot)
    val done = prev.map(_.buckets.map(_.bucket).toSet).getOrElse(Set.empty)
    val jobId = s"tile-z$zoom-L$bucketLevel"

    val pending = (0 until nBuckets).filterNot(done.contains)
    if (pending.isEmpty) return current(outRoot)

    // ONE pass over the input for all pending buckets (the per-bucket
    // `where(bucket_cell === b)` of the old design got no parquet pushdown
    // — bucket_cell is computed — so it rescanned the input once per
    // bucket). Big buckets split across tasks by (cell, image_id) ranges
    // instead of a coalesce(1) single-task choke; dynamic partition
    // overwrite only replaces the bucket dirs we actually write, so
    // committed buckets from a previous run are never touched.
    val nParts = math.max(spark.sparkContext.defaultParallelism, pending.size)
    val tiles = tileProjection(spark.read.parquet(imagesPath), zoom, bucketLevel)
    val schema = evolve(prev.fold(new StructType())(schemaOf(spark, _)), tiles.schema)
    // the bucket filter is pushed below the projection by Catalyst
    // (alias substitution), so img_phash never runs on skipped buckets
    tiles.where(col("bucket").isInCollection(pending.map(_.toLong)))
      .repartitionByRange(nParts, col("bucket"), col("cell"), col("image_id"))
      .sortWithinPartitions("bucket", "cell", "image_id")
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(s"$outRoot/data")

    // stats + lineage for every pending bucket in one read-back of the
    // committed files (what readers will see), keyed by bucket
    val statRows = bucketStats(spark, schema, s"$outRoot/data",
      liveDirs(pending.map(b => s"$outRoot/data/bucket=$b")), jobId)

    // per-bucket snapshot commits (driver-only) keep the resume granularity:
    // a crash between commits loses at most one bucket's bookkeeping
    var entries = prev.map(_.buckets.toVector).getOrElse(Vector.empty)
    var snapId = prev.map(_.snapshotId).getOrElse(0L)
    var parent = prev.map(_.snapshotId).getOrElse(-1L)
    var processed = 0
    pending.foreach { b =>
      if (failAfter >= 0 && processed >= failAfter) throw Failpoint(failAfter)
      val dataDir = s"$outRoot/data/bucket=$b"
      val (st, lineage) = statRows.getOrElse(b.toLong, (NoRows, Seq.empty))
      entries :+= st.entry(b, dataDir, lineage)
      snapId += 1
      IceLite.commit(outRoot, IceLite.Snapshot(snapId, parent, jobId, entries, Some(schema)))
      parent = snapId
      processed += 1
    }
    current(outRoot)
  }

  /**
   * COMPACTION — the small-file problem at 10^12 rows: a resumed/parallel
   * ingest leaves each bucket dir with many small parquet files, and scan
   * cost at scale is dominated by file-open overhead + lost row-group
   * locality. Rewrites every bucket whose dir holds more than
   * `maxFilesPerBucket` part files into EXACTLY ONE sorted file through
   * [[commitRewrite]] (`data-c<snapId>/bucket=<b>`): the expectation is the
   * manifest itself (row count, XOR checksum and cell range folded over the
   * bucket's entries, no extra scan), so a rewrite that drifts from what
   * was committed aborts BEFORE publishing. Old dirs are untouched, so time
   * travel to pre-compaction snapshots keeps working; space is reclaimed
   * separately by [[IceLite.expireSnapshots]]. One distributed job rewrites
   * all selected buckets; nothing is collected to the driver but the
   * verify read-back's per-bucket stats.
   */
  def compact(spark: SparkSession, outRoot: String,
              maxFilesPerBucket: Int = 1): IceLite.Snapshot = {
    val snap = current(outRoot)
    def partFiles(dir: String): Int = {
      val p = Paths.get(dir)
      if (!Files.exists(p)) 0
      else {
        val s = Files.list(p)
        try s.iterator().asScala.count { f =>
          val n = f.getFileName.toString
          n.startsWith("part-") && n.endsWith(".parquet")
        } finally s.close()
      }
    }
    // a streamed table (ingestBatch) holds one entry per micro-batch per
    // bucket — compaction merges them into one entry with one file
    val selected = liveGroups(snap).filter { case (_, es) =>
      es.size > 1 || es.iterator.map(e => partFiles(e.dataDir)).sum > maxFilesPerBucket
    }
    if (selected.isEmpty) return snap
    val schema = schemaOf(spark, snap)
    commitRewrite(spark, outRoot, snap, schema, "compact", bucketUnion(spark, schema, selected),
      selected.map { case (b, es) =>
        val st = es.map(statsOf).reduce(_ + _)
        Rewrite(b, st, st.rows)
      })
  }

  /**
   * PARTITION-SPEC EVOLUTION (Iceberg's `REPLACE PARTITION FIELD`), COW:
   * rewrite the table at a NEW bucket level. Each row's new bucket
   * derives from its STORED fine cell (`st_cell_parent(cell, zoom,
   * newLevel)`) — cells nest, so no lon/lat recompute and no decode.
   *
   * Two passes, deliberately: pass 1 aggregates expected per-new-bucket
   * stats reading ONLY the narrow columns (Parquet pruning skips `bytes`);
   * pass 2 rewrites. Before anything is written, pass 1's totals must
   * CONSERVE the manifest's global row count, XOR checksum and cell range
   * exactly — a split/merge cannot invent or drop a row; the written files
   * are then verified per new bucket by [[commitRewrite]]. Old snapshots
   * keep referencing the old layout: time travel still reads it, and
   * [[IceLite.expireSnapshots]] reclaims it. Scale: write amplification
   * is the table size ONCE — the explicit cost of changing partition
   * layout, paid without taking the table offline.
   */
  def rebucket(spark: SparkSession, outRoot: String, zoom: Int,
               newBucketLevel: Int): IceLite.Snapshot = {
    GraftFunctions.install(spark)
    require(newBucketLevel >= 0 && newBucketLevel <= zoom,
      s"newBucketLevel $newBucketLevel out of range [0, zoom=$zoom]")
    val snap = current(outRoot)
    val groups = liveGroups(snap)
    if (groups.isEmpty) return snap
    val schema = schemaOf(spark, snap)
    val src = bucketUnion(spark, schema, groups)
      .drop("bucket")
      .withColumn("bucket", call_function("st_cell_parent",
        col("cell"), lit(zoom), lit(newBucketLevel)))
    val expected = statsBy(src).toSeq.map { case ((b, _), st) => b.toInt -> st }.sortBy(_._1)
    // global conservation vs the COMMITTED manifest before any write
    val scanned = expected.map(_._2).reduce(_ + _)
    val committed = groups.flatMap(_._2).map(statsOf).reduce(_ + _)
    if (scanned != committed)
      throw new IllegalStateException(
        s"rebucket conservation failed: scanned $scanned vs manifest $committed — nothing written")
    commitRewrite(spark, outRoot, snap, schema, s"rebucket-L$newBucketLevel", src,
      expected.map { case (b, st) => Rewrite(b, st, st.rows) }, relayout = true)
  }

  /** The live (rows > 0) manifest entries grouped by bucket, in bucket order. */
  private def liveGroups(snap: IceLite.Snapshot): Seq[(Int, Seq[IceLite.BucketEntry])] =
    snap.buckets.filter(_.rows > 0).groupBy(_.bucket).toSeq.sortBy(_._1)

  /** ONE multi-path scan per bucket over its manifest entries, at the table
    * `schema`, bucket id as a literal column (dir-name partition columns are
    * not stored in the files). Plan size rides the bucket count, never the
    * entry (micro-batch) count, and no scan infers a schema, so a rewrite
    * runs no job per bucket before any row moves. Entries written before a
    * column was added read it as NULL: a rewrite materializes the table
    * schema — Iceberg's rewrite-at-current-schema. */
  private def bucketUnion(spark: SparkSession, schema: StructType,
      groups: Seq[(Int, Seq[IceLite.BucketEntry])]): DataFrame =
    groups.map { case (b, es) =>
        spark.read.schema(schema).parquet(es.map(_.dataDir): _*)
          .withColumn("bucket", lit(b.toLong)) }
      .reduce(_ unionByName _)

  /** One bucket a copy-on-write rewrite writes. `expect` is what its new dir
    * must hold, derived from the manifest and the op's own scan, never from
    * the written files; `inRows` (the rows the op read for it) feeds the
    * lineage. A `replaces` bucket supersedes the bucket's live entries and
    * inherits their lineage; otherwise its entry is appended (an insert). */
  private final case class Rewrite(bucket: Int, expect: Stats, inRows: Long,
                                   replaces: Boolean = true)

  /**
   * THE copy-on-write commit tail of [[compact]], [[rebucket]],
   * [[deleteWhere]] and [[mergeUpsert]]: write `rows` (bucket-keyed,
   * sorted on bucket, cell, image_id) under one fresh immutable dir,
   * verify every bucket in `outs` against its expectation, then publish
   * ONE snapshot with jobId `<stage>-<parent jobId>`. A mismatch aborts
   * before the commit, leaving only orphan files readers never see. The
   * snapshot records `base` (the table schema `snap` reads at) plus the
   * columns `rows` adds.
   *
   * The table's data dirs, one per writer; a manifest entry references
   * `<dir>/bucket=<b>`:
   *   - `data/` — [[run]], every bucket of the batch build, resumed in place;
   *   - `data-s<batchId>/` — [[ingestBatch]], one per micro-batch;
   *   - `data-<x><snapshotId>/` — this tail, x = c, r, d or m (the stage's
   *     initial: compact, rebucket, delete, merge), id = the new snapshot.
   * Write mode is overwrite: an op that crashed between write and commit
   * leaves its dir orphaned, and the retry recomputes the same id and must
   * be able to reclaim it.
   *
   * Each bucket is written by one task (one file per new dir), except under
   * `relayout` ([[rebucket]]): big buckets then split across tasks by
   * (cell, image_id) range, and the new entries replace the WHOLE manifest
   * with fresh lineage. Otherwise a replacing bucket's entries collapse to
   * one entry at the first slot of that bucket (or drop when it is left
   * empty), untouched entries pass through byte-identical, and appended
   * entries carry stage `<stage>-insert`.
   */
  private def commitRewrite(spark: SparkSession, outRoot: String, snap: IceLite.Snapshot,
      base: StructType, stage: String, rows: DataFrame, outs: Seq[Rewrite],
      relayout: Boolean = false): IceLite.Snapshot = {
    val newRoot = s"$outRoot/data-${stage.head}${snap.snapshotId + 1}"
    def newDir(b: Int): String = s"$newRoot/bucket=$b"
    val schema = evolve(base, rows.schema)
    (if (!relayout) rows.repartition(outs.size, col("bucket"))
     else rows.repartitionByRange(math.max(spark.sparkContext.defaultParallelism, outs.size),
       col("bucket"), col("cell"), col("image_id")))
      .sortWithinPartitions("bucket", "cell", "image_id")
      .write.mode("overwrite").partitionBy("bucket").parquet(newRoot)
    verifyRewrite(spark, schema, stage, newRoot, outs.map(o => o.bucket -> o.expect))

    val prior = liveGroups(snap).toMap
    def entry(o: Rewrite, lineage: Seq[IceLite.LineageRow], st: String) =
      o.expect.entry(o.bucket, newDir(o.bucket), lineage :+
        IceLite.LineageRow(st, o.bucket, o.inRows, o.expect.rows, o.expect.cs))
    val entries =
      if (relayout) outs.map(entry(_, Nil, stage))
      else {
        val repl = outs.filter(_.replaces).map(o => o.bucket -> Option.when(o.expect.rows > 0)(
          entry(o, prior(o.bucket).flatMap(_.lineage), stage))).toMap
        val seen = scala.collection.mutable.Set.empty[Int]
        snap.buckets.flatMap { e =>
          if (e.rows == 0 || !repl.contains(e.bucket)) Some(e)
          else if (seen.add(e.bucket)) repl(e.bucket)
          else None
        } ++ outs.filterNot(_.replaces).map(entry(_, Nil, s"$stage-insert"))
      }
    val out = IceLite.Snapshot(snap.snapshotId + 1, snap.snapshotId, s"$stage-${snap.jobId}",
      entries, Some(schema))
    IceLite.commit(outRoot, out)
    out
  }

  /** Verify freshly rewritten bucket dirs under `newRoot` against their
    * expectations BEFORE a snapshot publishes them: rows, checksum and cell
    * range must match per bucket, read back in one scan. Buckets expecting
    * 0 rows must have no dir at all (partitionBy writes nothing for them). */
  private def verifyRewrite(spark: SparkSession, schema: StructType, op: String,
      newRoot: String, expected: Seq[(Int, Stats)]): Unit = {
    val written = expected.collect { case (b, st) if st.rows > 0 => s"$newRoot/bucket=$b" }
    val back = if (written.isEmpty) Map.empty[(Long, Long), Stats]
      else statsBy(readBack(spark, schema, newRoot, written))
    expected.foreach { case (b, exp) =>
      if (exp.rows == 0) {
        if (Files.exists(Paths.get(s"$newRoot/bucket=$b")))
          throw new IllegalStateException(
            s"$op verify failed for bucket $b: expected empty, dir exists — not committed")
      } else {
        val got = back.getOrElse((b.toLong, 0L), NoRows)
        if (got != exp)
          throw new IllegalStateException(
            s"$op verify failed for bucket $b: wrote $got, expected $exp — not committed")
      }
    }
  }

  /** The keyed-out copy-on-write rewrite behind [[deleteWhere]] and
    * [[mergeUpsert]]. `table` is the live table's bucket union carrying a
    * boolean `_del` (TRUE = the row leaves); `adds` are tile-projected rows
    * that join their target buckets. ONE scan collects per-(bucket, _del)
    * stats. Only buckets that lose a row are rewritten (kept + added rows);
    * buckets that only receive adds get an appended entry, so a pure insert
    * writes exactly its own rows. A rewritten bucket's expected checksum is
    * manifest XOR removed XOR added — independent of the rewrite it checks. */
  private def keyOut(spark: SparkSession, outRoot: String, snap: IceLite.Snapshot,
      schema: StructType, stage: String, table: Option[DataFrame],
      adds: Option[DataFrame]): IceLite.Snapshot = {
    val seen = table.map(statsBy(_, col("_del"))).getOrElse(Map.empty)
    val added = adds.map(statsBy(_)).getOrElse(Map.empty).map { case ((b, _), st) => b.toInt -> st }
    def part(b: Int, del: Boolean) = seen.getOrElse((b.toLong, if (del) 1L else 0L), NoRows)
    val hit = liveGroups(snap).filter { case (b, _) => part(b, del = true).rows > 0 }.toMap
    val touched = (hit.keys ++ added.keys).toSeq.distinct.sorted
    if (touched.isEmpty) return snap
    // filter the FULL union to hit buckets rather than re-unioning only
    // them: a cond like `added_col IS NULL` matches rows in buckets whose
    // files lack the column, so it must resolve against the union schema;
    // each source carries its bucket as a literal, so the optimizer folds
    // the IN-filter per source and prunes the other scans entirely
    val kept = if (hit.isEmpty) None else table.map(_
      .where(col("bucket").isInCollection(hit.keys.map(_.toLong)) && !col("_del"))
      .drop("_del"))
    commitRewrite(spark, outRoot, snap, schema, stage,
      (kept ++ adds).reduce(_.unionByName(_, allowMissingColumns = true)),
      touched.map { b =>
        val add = added.getOrElse(b, NoRows)
        hit.get(b) match {
          case Some(es) =>
            val (keep, gone) = (part(b, del = false), part(b, del = true))
            Rewrite(b, (keep + add).copy(cs =
              IceLite.mask53(es.map(_.checksum).reduce(_ ^ _) ^ gone.cs ^ add.cs)),
              keep.rows + gone.rows)
          case None => Rewrite(b, add, add.rows, replaces = false)
        }
      })
  }

  /**
   * ROW-LEVEL DELETE, copy-on-write (Iceberg's COW `DELETE FROM ... WHERE`):
   * rows where `cond` is TRUE disappear from the new snapshot — rows where
   * it is false OR NULL are kept, the SQL DELETE contract (a predicate on
   * an added column is NULL on pre-evolution rows, which must survive).
   *
   * A merge with no added rows ([[keyOut]]): only buckets that actually
   * contain matches are rewritten (to a fresh immutable `data-d<snapId>`
   * dir), every rewrite is VERIFIED before the commit publishes, and
   * untouched buckets keep their files byte-identical. Old snapshots still
   * reference the old dirs — time travel shows deleted rows exactly as
   * committed; the hard-delete (GDPR reclaim) is
   * [[IceLite.expireSnapshots]] retiring the superseded dirs. Deleting
   * every row leaves a manifest with no entries, which reads as an empty
   * table. Scale: one distributed match scan (Parquet pushdown prunes
   * where `cond` allows) + a rewrite of matched buckets only — write
   * amplification is bounded by match locality, not table size.
   */
  def deleteWhere(spark: SparkSession, outRoot: String,
                  cond: Column): IceLite.Snapshot = {
    val snap = current(outRoot)
    val groups = liveGroups(snap)
    if (groups.isEmpty) return snap
    // NULL never deletes: SQL's WHERE keeps only TRUE, so the delete set is
    // cond IS TRUE and the kept set is its complement
    val schema = schemaOf(spark, snap)
    keyOut(spark, outRoot, snap, schema, "delete", Some(bucketUnion(spark, schema, groups)
      .withColumn("_del", coalesce(cond, lit(false)))), None)
  }

  /**
   * MERGE / UPSERT, copy-on-write (Iceberg's `MERGE INTO ... WHEN MATCHED
   * THEN UPDATE WHEN NOT MATCHED THEN INSERT`, keyed on image_id): every
   * update row REPLACES the table row carrying its image_id — wherever
   * that row lives, so a changed lon/lat hops buckets correctly (the old
   * copy is keyed out by id while the new copy lands in its recomputed
   * bucket) — and ids the table has never seen INSERT. Updates must be
   * unique by image_id (a MERGE with two sources for one target row is
   * ambiguous — Iceberg throws, and so do we). Update rows run the same
   * tile projection as ingest (bucket/tile/cell assignment + pHash
   * revalidation); `extraCols` rides through for evolved tables.
   *
   * Write amplification is bounded by MATCH locality, not insert volume
   * ([[keyOut]]): only buckets that lose a row (a matched id) are
   * rewritten; buckets that merely RECEIVE inserts get an appended entry
   * (the streaming-ingest multi-entry shape — [[compact]] merges them
   * later). Same verify-before-publish contract as [[deleteWhere]];
   * untouched buckets keep their files, and time travel to pre-merge
   * snapshots is unaffected.
   */
  def mergeUpsert(spark: SparkSession, outRoot: String, updates: DataFrame,
                  zoom: Int = 8, bucketLevel: Int = 2,
                  extraCols: Seq[String] = Nil): IceLite.Snapshot = {
    val snap = current(outRoot)
    val groups = liveGroups(snap)
    val schema = schemaOf(spark, snap)
    val table = if (groups.isEmpty) None else Some(bucketUnion(spark, schema, groups))
    // EVOLVED columns ride through automatically on MERGE (a matched row is
    // REPLACED wholesale — projecting the update down to core columns would
    // silently blank evolved values the verify checksum cannot see, since
    // it hashes core columns only). Updates that lack an evolved table
    // column are rejected: the caller must carry it (explicit NULLs if
    // blanking is intended), the Iceberg MERGE schema-match contract.
    val evolved = table.toSeq.flatMap(_.columns).filterNot(c => coreCols.contains(c))
    val missing = evolved.filterNot(c =>
      updates.columns.contains(c) || extraCols.contains(c))
    require(missing.isEmpty,
      s"mergeUpsert updates lack evolved table column(s) ${missing.mkString(",")} — " +
        "supply them (explicit NULLs if blanking is intended)")
    // materialized once: read by the uniqueness probe, the add-side stats,
    // and the rewrite union (the projection re-decodes images otherwise)
    val proj = tileProjection(updates, zoom, bucketLevel, (extraCols ++ evolved).distinct)
      .localCheckpoint()
    val dup = proj.groupBy("image_id").agg(count(lit(1)).as("n"))
      .where(col("n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"mergeUpsert updates must be unique by image_id (duplicate: ${dup.headOption.map(_.get(0))})")
    // a table row leaves when an update carries its id; no broadcast hint —
    // AQE converts the shuffle join when the id side is small, and a
    // billion-row MERGE source must not OOM the driver
    val ids = proj.select(col("image_id").as("_mid")).distinct().withColumn("_hit", lit(true))
    keyOut(spark, outRoot, snap, schema, "merge", table.map(_
      .join(ids, col("image_id") === col("_mid"), "left")
      .withColumn("_del", coalesce(col("_hit"), lit(false)))
      .drop("_mid", "_hit")), Some(proj))
  }

  /** Current snapshot or throw — every op and reader starts here. */
  private def current(outRoot: String): IceLite.Snapshot = IceLite.currentSnapshot(outRoot)
    .getOrElse(throw new IllegalArgumentException(s"no snapshot at $outRoot"))

  /** A committed snapshot by id or throw. */
  private def snapshotAt(outRoot: String, id: Long): IceLite.Snapshot =
    IceLite.snapshotById(outRoot, id).getOrElse(throw new IllegalArgumentException(
      s"no snapshot $id at $outRoot (have: ${IceLite.listSnapshots(outRoot).mkString(", ")})"))

  /** The one read path: the rows under those of `snap`'s dirs in `dirs`
    * that exist (an empty bucket has none), at `snap`'s table schema
    * ([[schemaOf]]), so no footer decides the columns. Files written before
    * a column was added read it as NULL — the read-side semantics an
    * Iceberg catalog serves after ADD COLUMN. A table with no data files —
    * every row deleted, or built from an empty input — reads as zero rows
    * at the same schema. */
  private def readDirs(spark: SparkSession, snap: IceLite.Snapshot,
                       dirs: Seq[String]): DataFrame = {
    val schema = schemaOf(spark, snap)
    val live = liveDirs(dirs)
    if (live.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
    else spark.read.schema(schema).parquet(live: _*)
  }

  /** Read the table as of the current snapshot (manifest-driven file list). */
  def readCurrent(spark: SparkSession, outRoot: String): DataFrame = {
    val snap = current(outRoot)
    readDirs(spark, snap, snap.buckets.map(_.dataDir))
  }

  /** TIME TRAVEL: read the table as of an older committed snapshot.
    * Data files are immutable and snapshots are never rewritten, so any
    * historical id reproduces exactly the rows visible at that commit —
    * the audit/rollback read an Iceberg catalog would serve with
    * `VERSION AS OF`. */
  def readAt(spark: SparkSession, outRoot: String, snapshotId: Long): DataFrame = {
    val snap = snapshotAt(outRoot, snapshotId)
    readDirs(spark, snap, snap.buckets.map(_.dataDir))
  }

  /** SCHEMA EVOLUTION on read (the Iceberg add-column contract): the
    * current table at its evolved schema, NULL in added columns for rows
    * from pre-evolution files. Every read is at the snapshot's recorded
    * schema, so this is [[readCurrent]]; type changes / renames are out of
    * scope. Old snapshots read via [[readAt]] keep their own narrower
    * schema — time travel is schema-faithful. */
  def readEvolved(spark: SparkSession, outRoot: String): DataFrame =
    readCurrent(spark, outRoot)

  /** Manifest-driven pruning: only buckets whose cell range intersects. */
  def readCellRange(spark: SparkSession, outRoot: String,
                    cellMin: Long, cellMax: Long): DataFrame = {
    val snap = current(outRoot)
    readDirs(spark, snap, snap.buckets
        .filter(b => b.rows > 0 && b.cellMin <= cellMax && b.cellMax >= cellMin)
        .map(_.dataDir))
      .where(col("cell") >= cellMin && col("cell") <= cellMax)
  }

  /** The manifest-level prune behind [[snapshotDiff]]: data dirs present
    * in one snapshot but not the other. Data files are IMMUTABLE (every
    * mutation writes new dirs and republishes the manifest), so a bucket
    * entry pointing at the same dir in both snapshots provably carries
    * identical rows and is never read — incremental-diff cost rides the
    * CHANGED buckets only. */
  private[tile] def changedDirs(from: IceLite.Snapshot, to: IceLite.Snapshot): (Seq[String], Seq[String]) = {
    val f = from.buckets.map(_.dataDir).toSet
    val t = to.buckets.map(_.dataDir).toSet
    // empty buckets (rows == 0) legitimately have no dir; a rows > 0
    // entry whose dir is gone is data loss / out-of-band GC — failing
    // loudly beats silently emitting a truncated (wrong) changelog
    def live(es: Seq[IceLite.BucketEntry]): Seq[String] = {
      val ds = es.filter(_.rows > 0).map(_.dataDir).distinct
      val missing = ds.filterNot(d => Files.exists(Paths.get(d)))
      require(missing.isEmpty,
        s"snapshotDiff: manifest references missing data dirs (GC'd or lost?): ${missing.mkString(", ")}")
      ds
    }
    (live(from.buckets.filterNot(b => t.contains(b.dataDir))),
     live(to.buckets.filterNot(b => f.contains(b.dataDir))))
  }

  /** The rows of the dirs only snapshot `fromId` holds and of those only
    * `toId` holds ([[changedDirs]]), `None` for a side with no dirs. Both
    * read at the two snapshots' schemas combined, so every column either
    * holds reads on both sides (NULL where a file lacks it). */
  private def changedRows(spark: SparkSession, outRoot: String, fromId: Long,
      toId: Long): (Option[DataFrame], Option[DataFrame]) = {
    val (from, to) = (snapshotAt(outRoot, fromId), snapshotAt(outRoot, toId))
    val (fDirs, tDirs) = changedDirs(from, to)
    lazy val schema = evolve(schemaOf(spark, from), schemaOf(spark, to))
    def rd(dirs: Seq[String]): Option[DataFrame] =
      Option.when(dirs.nonEmpty)(spark.read.schema(schema).parquet(dirs: _*))
    (rd(fDirs), rd(tDirs))
  }

  /** CDC CHANGELOG between two committed snapshots — Iceberg's
    * incremental/changelog scan: one row per changed image_id with
    * op ∈ insert | delete | update. Buckets whose manifest entry points
    * at the same immutable data dir in both snapshots are pruned WITHOUT
    * reading (see [[changedDirs]]); inside the changed set, a full outer
    * join on image_id compares an all-columns fingerprint (both sides read
    * at the combined schema, so evolved columns participate; binary
    * columns hash via md5, everything else via a null-sentineled string
    * cast). Rows that moved buckets with identical content (e.g.
    * rebucket) correctly vanish from the changelog. At 10^12 rows an
    * incremental consumer pays for the delta, never the table. */
  def snapshotDiff(spark: SparkSession, outRoot: String,
                   fromId: Long, toId: Long): DataFrame = {
    import org.apache.spark.sql.types.BinaryType
    val empty = spark.range(0).select(lit("insert").as("op"), lit("").as("image_id"))
    changedRows(spark, outRoot, fromId, toId) match {
      case (None, None) => empty.limit(0)
      case (a, b) =>
        // Fingerprint over the combined columns, sorted by name. A file
        // that lacks a column reads it as NULL, so ONE sentinel covers
        // "column absent from this file" and "value is NULL": Iceberg's ADD
        // COLUMN produces no CDC rows, so a rewrite that merely
        // materializes a new all-NULL column must fingerprint identically
        // to the pre-evolution file. Every branch is coalesced -- xxhash64
        // SKIPS null children rather than hashing them, so an uncoalesced
        // md5(null) would silently drop the column from the hash.
        val fields = (a ++ b).head.schema.fields
          .filter(_.name != "image_id").sortBy(_.name)
        val nullSentinel = lit("\u0000null")
        def fp(df: DataFrame): Column = xxhash64(fields.toSeq.map { f =>
          if (f.dataType == BinaryType) coalesce(md5(col(f.name)), nullSentinel)
          else coalesce(col(f.name).cast("string"), nullSentinel)
        }: _*)
        def side(df: Option[DataFrame], hname: String): DataFrame = df match {
          case Some(d) => d.select(col("image_id"), fp(d).as(hname))
          case None => spark.range(0).select(lit("").as("image_id"), lit(0L).as(hname))
        }
        side(a, "h_from").join(side(b, "h_to"), Seq("image_id"), "full_outer")
          .select(col("image_id"),
            when(col("h_from").isNull, "insert")
              .when(col("h_to").isNull, "delete")
              .when(col("h_from") =!= col("h_to"), "update").as("op"))
          .where(col("op").isNotNull)
          .select("op", "image_id")
    }
  }

  /** The per-tile aggregate the incremental maintainer keeps: row count
    * and width sum per (tx, ty). ONE definition shared by the full
    * recompute and the incremental path, so equality between them is a
    * real invariant rather than two copies drifting. */
  def tileAggOf(df: DataFrame): DataFrame =
    df.groupBy("tx", "ty")
      .agg(count(lit(1)).as("n_img"), sum(col("w").cast("long")).as("sum_w"))

  def tileAggAt(spark: SparkSession, outRoot: String, snapshotId: Long): DataFrame =
    tileAggOf(readAt(spark, outRoot, snapshotId))

  /** INCREMENTAL MATERIALIZED-VIEW MAINTENANCE — the consumer the CDC
    * machinery exists for: advance a per-tile aggregate from snapshot
    * `fromId` to `toId` reading ONLY the buckets whose data dirs changed
    * ([[changedDirs]] prune, same as [[snapshotDiff]]). Count/sum are
    * self-inverting, so the delta is one union-with-sign aggregate:
    * removed-dir rows at −1, added-dir rows at +1, summed per key, then
    * full-outer-merged into the previous MV; keys whose count reaches 0
    * drop out (a full recompute would not emit them). Rewrites that
    * merely move identical rows (compact, rebucket) produce a zero delta
    * and leave the MV bit-identical. At 10^12 rows the maintainer pays
    * for the delta buckets, never the table — the full recompute exists
    * only as the spec's ground truth. */
  def incrementalTileAgg(spark: SparkSession, outRoot: String, prev: DataFrame,
                         fromId: Long, toId: Long): DataFrame = {
    val (gone, added) = changedRows(spark, outRoot, fromId, toId)
    val sides = Seq(gone -> -1L, added -> 1L).collect { case (Some(df), sgn) =>
      df.select(col("tx"), col("ty"), lit(sgn).as("sgn"), col("w").cast("long").as("w"))
    }
    if (sides.isEmpty) return prev
    val delta = sides.reduce(_ unionByName _)
      .groupBy("tx", "ty")
      .agg(sum(col("sgn")).as("dn"), sum(col("sgn") * col("w")).as("dw"))
    prev.join(delta, Seq("tx", "ty"), "full_outer")
      .select(col("tx"), col("ty"),
        (coalesce(col("n_img"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_img"),
        (coalesce(col("sum_w"), lit(0L)) + coalesce(col("dw"), lit(0L))).as("sum_w"))
      .where(col("n_img") > 0)
  }
}
