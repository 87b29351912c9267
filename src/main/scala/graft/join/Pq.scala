package graft.join

import graft.sql.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * Product-quantization (PQ) EXACT top-k — the memory-scale ANN path
 * (SURVEY §2.6 "similarity search"; complements AnnIndex's IVF, which
 * prunes COMPUTE: PQ shrinks the BYTES the probe scan must read).
 *
 * At the north-rule 10¹²-vector layout, raw float embeddings are
 * 64 dim × 4 B = 256 TB; the PQ sketch (vec_id 8 B + m=8 code bytes +
 * radius 8 B ≈ 24 B/row) is ~24 TB — a 10× smaller probe scan, and the
 * full vectors are touched only for the per-query candidate set.
 *
 * EXACTNESS (unlike classic PQ, which is approximate): everything runs in
 * the ×1000 quantized-integer space (the same floor(x·1000+0.5) convention
 * as vec_dot_q, so DuckDB replays the metric bit-for-bit). For a query q
 * and a vector x with reconstruction recon(x) (concatenated code
 * centroids, integers):
 *
 *   adc(q,x)  = ||q − recon(x)||²   (integer, via the per-query LUT)
 *   r(x)      = ||x − recon(x)||    (stored per row at encode time)
 *   d(q,x)    ≥ sqrt(adc) − r(x)    (triangle inequality)
 *
 * Round 1 ranks rows by adc and takes a small candidate set per query,
 * reranks them exactly, and reads off the kth exact distance D_k (an
 * upper bound on the true kth distance, since candidates ⊆ corpus).
 * Round 2 keeps every row whose lower bound clears D_k + ε and reranks
 * exactly — no true top-k member can be excluded, so the result equals
 * the brute-force oracle. ε = 1e-6 absorbs the ≤ few-ulp error of the two
 * double sqrts over exactly-representable integer radicands (≤ 2^31 here,
 * « 2^53).
 *
 * Training is DETERMINISTIC pure-integer Lloyd per subspace (argmin
 * integer L2², ties to the lowest code; centroid update is the half-up
 * integer mean floorDiv(2·sum + cnt, 2·cnt)) over a bounded stride
 * sample — byte-identical codebooks on every run and platform, so the
 * sketch can be persisted and rebuilt reproducibly. Codebook quality only
 * affects pruning power, never exactness.
 *
 * 100 TB shape: the sketch is computed in one codegen'd projection
 * (vec_pq_encode / vec_pq_radius) and is the only full scan; both probe
 * rounds are broadcast-nested-loop over the ≤ maxQueries driver-bounded
 * query set (Q·m LUT lookups per row, no shuffle of the corpus); the
 * rerank joins touch |candidates| ≈ Q·k rows of full vectors. A
 * recurring-query service persists the sketch next to the vectors
 * (same Bucketed layout as AnnIndex.writeIndex) and skips re-encoding.
 *
 * ⟨ref(engine): no PQ counterpart — the reference is a single-geometry
 * operator service; this is the training-pipeline surface mandated by the
 * task brief.⟩
 */
object Pq {

  /** Quantization shared with VecOps.dotQ: floor(x·1000 + 0.5). */
  @inline def qz(f: Float): Long = math.floor(f.toDouble * 1000.0 + 0.5).toLong

  // ---------------- codebook blob: m, k, dsub (ints), then m·k·dsub longs ----------------

  def pack(cb: Array[Array[Array[Long]]]): Array[Byte] = {
    val m = cb.length; val k = cb(0).length; val dsub = cb(0)(0).length
    val bb = java.nio.ByteBuffer.allocate(12 + m * k * dsub * 8)
    bb.putInt(m); bb.putInt(k); bb.putInt(dsub)
    cb.foreach(_.foreach(_.foreach(bb.putLong)))
    bb.array()
  }

  private val cbCache = new graft.sql.BlobCache[Array[Array[Array[Long]]]](bytes => {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val m = bb.getInt(); val k = bb.getInt(); val dsub = bb.getInt()
    Array.fill(m)(Array.fill(k)(Array.fill(dsub)(bb.getLong())))
  })

  /** Executor-side decode, cached per JVM (the blob rides as a Literal). */
  def unpackCached(bytes: Array[Byte]): Array[Array[Array[Long]]] = cbCache.get(bytes)

  // ---------------- deterministic integer training ----------------

  /** Half-up integer mean (exact, deterministic; handles negative sums). */
  @inline private def meanHalfUp(sum: Long, cnt: Long): Long =
    Math.floorDiv(2L * sum + cnt, 2L * cnt)

  /**
   * Train the [m][kCodes][dsub] integer codebook over a bounded stride
   * sample (≤ 64·kCodes rows collected — driver-sized by definition; at
   * any corpus size a 16k-row stride sample trains a 256-code book).
   * Pure-integer Lloyd: assignment argmin L2² with ties to the lowest
   * code, update = half-up integer mean — bit-deterministic everywhere.
   */
  def train(emb: DataFrame, m: Int, kCodes: Int, iters: Int = 8): Array[Byte] = {
    require(kCodes >= 2 && kCodes <= 256, s"kCodes $kCodes must be in [2, 256] (one code byte)")
    val n = emb.count()
    require(n > 0, "Pq.train: empty input")
    val cap = 64 * kCodes
    val step = math.max(1L, n / cap)
    val rows = emb.where(pmod(col("vec_id"), lit(step)) === 0)
      .orderBy("vec_id").limit(cap).collect()
    require(rows.nonEmpty, "Pq.train: stride sample came back empty")
    val sample = rows.map(_.getSeq[Float](1).map(qz).toArray)
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m $m subspaces")
    val dsub = dim / m

    val cb = Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      val k = math.min(kCodes, sub.length)
      // init: stride-spread sample subvectors (deterministic)
      var cents = Array.tabulate(k)(i => sub(i * (sub.length / k)).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Long](dsub))
        val cnts = new Array[Long](k)
        sub.foreach { x =>
          val j = argmin(x, cents)
          var i = 0
          while (i < dsub) { sums(j)(i) += x(i); i += 1 }
          cnts(j) += 1
        }
        cents = Array.tabulate(k) { j =>
          if (cnts(j) == 0) cents(j)
          else Array.tabulate(dsub)(i => meanHalfUp(sums(j)(i), cnts(j)))
        }
        it += 1
      }
      // pad degenerate books (n < kCodes) by repeating the last centroid so
      // the blob layout stays [m][kCodes][dsub]
      if (k < kCodes) cents ++ Array.fill(kCodes - k)(cents(k - 1).clone()) else cents
    }
    pack(cb)
  }

  @inline private def argmin(x: Array[Long], cents: Array[Array[Long]]): Int = {
    var best = 0; var bestD = Long.MaxValue
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var d = 0L; var i = 0
      while (i < x.length) { val t = x(i) - c(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = j } // strict: ties keep the lowest code
      j += 1
    }
    best
  }

  // ---------------- codegen kernels (called from generated Java) ----------------

  /** vec_pq_encode(embedding, codebook) → m code bytes (argmin per subspace). */
  def encode(emb: ArrayData, cbBytes: Array[Byte]): Array[Byte] = {
    val cb = unpackCached(cbBytes)
    val m = cb.length; val dsub = cb(0)(0).length
    // loud failure on ragged corpora: train() validates only sample rows,
    // so a dim-mismatched row must error here, not read out of bounds and
    // silently corrupt the pruning bound (code-review r5)
    require(emb.numElements() == m * dsub,
      s"vec_pq_encode: embedding dim ${emb.numElements()} != codebook dim ${m * dsub}")
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      val base = s * dsub
      var best = 0; var bestD = Long.MaxValue
      var j = 0
      while (j < cb(s).length) {
        val c = cb(s)(j)
        var d = 0L; var i = 0
        while (i < dsub) { val t = qz(emb.getFloat(base + i)) - c(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      out(s) = best.toByte
      s += 1
    }
    out
  }

  /** vec_pq_radius(embedding, codebook, codes) → ||x − recon(x)|| (double). */
  def radius(emb: ArrayData, cbBytes: Array[Byte], codes: Array[Byte]): Double = {
    val cb = unpackCached(cbBytes)
    val dsub = cb(0)(0).length
    require(emb.numElements() == cb.length * dsub,
      s"vec_pq_radius: embedding dim ${emb.numElements()} != codebook dim ${cb.length * dsub}")
    var d = 0L
    var s = 0
    while (s < codes.length) {
      val c = cb(s)(codes(s) & 0xFF)
      val base = s * dsub
      var i = 0
      while (i < dsub) { val t = qz(emb.getFloat(base + i)) - c(i); d += t * t; i += 1 }
      s += 1
    }
    math.sqrt(d.toDouble)
  }

  @inline private def readLong(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xFFL) << 56) | ((b(off + 1) & 0xFFL) << 48) |
    ((b(off + 2) & 0xFFL) << 40) | ((b(off + 3) & 0xFFL) << 32) |
    ((b(off + 4) & 0xFFL) << 24) | ((b(off + 5) & 0xFFL) << 16) |
    ((b(off + 6) & 0xFFL) << 8) | (b(off + 7) & 0xFFL)

  /** vec_pq_adc(codes, lut) → Σ_s lut[s][code_s] (integer ||q − recon(x)||²).
    * lut layout: m·k big-endian longs (k inferred from lengths). */
  def adc(codes: Array[Byte], lut: Array[Byte]): Long = {
    val m = codes.length
    val k = lut.length / (8 * m)
    var sum = 0L; var s = 0
    while (s < m) { sum += readLong(lut, 8 * (s * k + (codes(s) & 0xFF))); s += 1 }
    sum
  }

  /** vec_pq_bucket(embedding, coarseCb) → argmin-L2² coarse cell id (the
    * IVF-PQ coarse quantizer: a codebook with m=1). Same tie-break as
    * encode — this IS encode's single code byte (kernel deduped,
    * code-review r5 s4). */
  def bucket(emb: ArrayData, cbBytes: Array[Byte]): Int = {
    require(unpackCached(cbBytes).length == 1,
      s"vec_pq_bucket expects an m=1 coarse codebook, got m=${unpackCached(cbBytes).length}")
    encode(emb, cbBytes)(0) & 0xFF
  }

  /** vec_l2_q(a, b) → quantized-integer squared L2 (exact in any engine). */
  def l2q(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0L; var i = 0
    while (i < n) { val t = qz(a.getFloat(i)) - qz(b.getFloat(i)); d += t * t; i += 1 }
    d
  }

  /** The broadcast LUT table is Q × m·k·8 bytes — at kCodes=256/m=16 a
    * full 8192-query batch would ship 256 MB. Checked BEFORE the LUTs
    * are materialized on the driver, and the probe broadcasts each LUT
    * exactly once per query (a separate q_vec-keyed join, never repeated
    * per probed bucket pair). Fail loudly with the fix spelled out
    * instead of OOMing the broadcast (scale guard; code-review r5 s4). */
  private def checkLutBudget(nQueries: Int, m: Int, k: Int): Unit = {
    val lutBytesEach = m.toLong * k * 8
    val total = nQueries * lutBytesEach
    require(total <= 64L * 1024 * 1024,
      s"PQ probe would broadcast $nQueries LUTs x $lutBytesEach B = ${total >> 20} MB " +
        "(> 64 MB). Probe in smaller query batches, or reduce kCodes/m.")
  }

  /** Driver-side per-query LUT: m·k longs of ||q_s − c_{s,j}||². */
  def lutBytes(qv: Array[Long], cb: Array[Array[Array[Long]]]): Array[Byte] = {
    val m = cb.length; val k = cb(0).length; val dsub = cb(0)(0).length
    val bb = java.nio.ByteBuffer.allocate(m * k * 8)
    var s = 0
    while (s < m) {
      var j = 0
      while (j < k) {
        val c = cb(s)(j)
        var d = 0L; var i = 0
        while (i < dsub) { val t = qv(s * dsub + i) - c(i); d += t * t; i += 1 }
        bb.putLong(d)
        j += 1
      }
      s += 1
    }
    bb.array()
  }

  // ---------------- exact top-k ----------------

  /**
   * Exact L2 top-k (quantized-integer metric, ties by p_vec) of every
   * query row against all of `emb`, probing the PQ sketch instead of the
   * raw vectors. Output: (q_vec, p_vec, rank), rank ∈ 1..k.
   *
   * CONTRACT (mirrors AnnIndex.topK): the query side is driver-
   * materialized; exceeding `maxQueries` fails loudly.
   */
  def topK(emb: DataFrame, queryPred: Column, k: Int, m: Int = 8,
           kCodes: Int = 16, maxQueries: Int = 8192): DataFrame =
    core(emb, queryPred, k, m, kCodes, maxQueries)._1

  /** Round-2 survivor count — the pruning-power probe used by PqSpec and
    * capacity planning (survivors ≈ Q·k on clustered data ⇒ the rerank
    * never degenerates to a full-vector scan). */
  def survivorCount(emb: DataFrame, queryPred: Column, k: Int, m: Int = 8,
                    kCodes: Int = 16, maxQueries: Int = 8192): Long =
    core(emb, queryPred, k, m, kCodes, maxQueries)._2.count()

  private def core(emb: DataFrame, queryPred: Column, k: Int, m: Int,
                   kCodes: Int, maxQueries: Int): (DataFrame, DataFrame) = {
    val base = emb.select(col("vec_id"), col("embedding"))
    val cbBytes = train(base, m, kCodes)
    // the one full-corpus projection; writeSketch persists exactly this.
    // Materialized ONCE (r6): probeCore scans the sketch twice (adc round
    // + survivor gate), and without the checkpoint each scan re-runs the
    // full encode+radius projection — the exact cost the persisted-sketch
    // path exists to avoid.
    val sketch = sketchOf(base, cbBytes).localCheckpoint()
    probeCore(sketch, base, cbBytes, queryPred, k, maxQueries)
  }

  private def sketchOf(base: DataFrame, cbBytes: Array[Byte]): DataFrame = {
    GraftFunctions.install(base.sparkSession)
    base
      .withColumn("codes", call_function("vec_pq_encode", col("embedding"), lit(cbBytes)))
      .withColumn("r", call_function("vec_pq_radius", col("embedding"), lit(cbBytes), col("codes")))
      .select(col("vec_id"), col("codes"), col("r"))
  }

  /**
   * Persist the PQ sketch ONCE (the 100 TB shape: at 10¹² vectors the
   * encode scan reads all 256 TB of floats — a recurring-query service
   * pays that once and every probe after scans only the ~24 TB sketch).
   * Artifacts under `dir`: sketch.parquet (vec_id, codes, r) and
   * codebook.bin. Training is bit-deterministic, so rebuilds reproduce
   * the identical sketch.
   */
  def writeSketch(emb: DataFrame, dir: String, m: Int = 8, kCodes: Int = 16): Unit = {
    val base = emb.select(col("vec_id"), col("embedding"))
    val cbBytes = train(base, m, kCodes)
    sketchOf(base, cbBytes).write.mode("overwrite").parquet(s"$dir/sketch.parquet")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/codebook.bin"), cbBytes)
  }

  /** Exact top-k over a `writeSketch` layout — no re-training and no
    * re-encode: both probe rounds scan the persisted sketch; `emb` is
    * touched only for the query rows and the candidate rerank. */
  def topKSketched(emb: DataFrame, dir: String, queryPred: Column, k: Int,
                   maxQueries: Int = 8192): DataFrame = {
    val spark = emb.sparkSession
    val cbBytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/codebook.bin"))
    val sketch = spark.read.parquet(s"$dir/sketch.parquet")
    probeCore(sketch, emb.select(col("vec_id"), col("embedding")), cbBytes,
      queryPred, k, maxQueries)._1
  }

  // ---------------- IVF-PQ: coarse partition + PQ codes, exact ----------------

  private def sketchTable(tag: String): String =
    "graft_ivfpq_" + tag.map(c => if (c.isLetterOrDigit) c else '_')

  /**
   * FAISS-architecture IVF-PQ layout, EXACT flavor (the 10¹²-vector probe
   * shape: the coarse quantizer prunes which bucket FILES are read at
   * all — `SelectedBucketsCount` in the plan — and within a probed bucket
   * only the ~24 B/row PQ sketch is scanned). Coarse quantizer = an m=1
   * integer codebook (codes are cell ids, vec_pq_radius against it is the
   * distance-to-centroid); per-bucket stats keep (count, max radius R_j),
   * so for any x in bucket j: d(q,x) ≥ d(q,c_j) − R_j — buckets whose
   * bound clears the kth distance are provably skippable, and within a
   * probed bucket the per-row ADC bound applies as in `topK`. Both
   * codebooks train bit-deterministically.
   *
   * Artifacts under `dir`: bucketed sketch table (vec_id, bucket, codes,
   * r), stats.parquet (bucket, cnt, rmax), coarse.bin, fine.bin.
   */
  def writeIvfPq(emb: DataFrame, dir: String, tag: String, kCoarse: Int = 64,
                 m: Int = 8, kCodes: Int = 16, buckets: Int = 16): Unit = {
    val spark = emb.sparkSession
    GraftFunctions.install(spark)
    val base = emb.select(col("vec_id"), col("embedding"))
    val coarse = train(base, 1, kCoarse)
    val fine = train(base, m, kCodes)
    // ONE coarse-assignment scan per row: encode once, derive the bucket
    // from the single code byte (conv-on-hex is stock Spark — no second
    // argmin pass; code-review r5 s4)
    // both encode+radius projections run ONCE (r6): the bucketed write and
    // the stats rollup below each scan `sk`, and without the checkpoint the
    // second scan re-encodes the whole corpus against both codebooks
    val sk = base
      .withColumn("ccode", call_function("vec_pq_encode", col("embedding"), lit(coarse)))
      .withColumn("bucket", conv(hex(substring(col("ccode"), 1, 1)), 16, 10).cast("int"))
      .withColumn("rc", call_function("vec_pq_radius", col("embedding"), lit(coarse), col("ccode")))
      .withColumn("codes", call_function("vec_pq_encode", col("embedding"), lit(fine)))
      .withColumn("r", call_function("vec_pq_radius", col("embedding"), lit(fine), col("codes")))
      .localCheckpoint()
    Bucketed.writeBucketed(sk.select(col("vec_id"), col("bucket"), col("codes"), col("r")),
      sketchTable(tag), s"$dir/sketch", "bucket", buckets)
    sk.groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), max(col("rc")).as("rmax"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/stats.parquet")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/coarse.bin"), coarse)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/fine.bin"), fine)
  }

  /** Exact L2 top-k over a `writeIvfPq` layout: only bound-cleared
    * buckets are scanned (file-pruned via the literal bucket filter),
    * only the PQ sketch bytes are read in them, and the rerank touches
    * |candidates| full vectors. Same output contract as `topK`. */
  def topKIvfPq(emb: DataFrame, dir: String, tag: String, queryPred: Column,
                k: Int, maxQueries: Int = 8192): DataFrame = {
    val spark = emb.sparkSession
    GraftFunctions.install(spark)
    import spark.implicits._
    val coarse = unpackCached(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/coarse.bin")))(0)
    val fine = unpackCached(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/fine.bin")))
    val stats = spark.read.parquet(s"$dir/stats.parquet")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val base = emb.select(col("vec_id"), col("embedding"))

    val qs = queryRows(base, queryPred, maxQueries, "Pq.topKIvfPq")
    checkLutBudget(qs.length, fine.length, fine(0).length)
    val luts = qs.map { case (id, qv) => id -> lutBytes(qv, fine) }.toMap
    val lutDf = broadcast(luts.toSeq.toDF("q_vec", "lut"))

    // per-(query, bucket) lower bound: d(q, c_j) − R_j
    def bounds(qv: Array[Long]): Array[(Int, Double)] =
      stats.toArray.map { case (j, (_, rmax)) =>
        val c = coarse(j)
        var d = 0L; var i = 0
        while (i < qv.length) { val t = qv(i) - c(i); d += t * t; i += 1 }
        j -> math.max(0.0, math.sqrt(d.toDouble) - rmax)
      }.sortBy(_._2)
    val qBounds = qs.map { case (id, qv) => id -> bounds(qv) }.toMap

    val qemb = broadcast(base.where(queryPred)
      .select(col("vec_id").as("q_vec"), col("embedding").as("q_emb")))
    // map-side-combinable per-query ranking, as in probeCore (r6)
    def topkOf(df: DataFrame, ord: org.apache.spark.sql.Column, kk: Int): DataFrame = df
      .groupBy("q_vec")
      .agg(call_function("topk_pairs", ord, col("vec_id"), lit(kk)).as("tk"))
    val sketch = spark.table(sketchTable(tag))

    def probeDf(pairs: Seq[(Long, Int)]): DataFrame = {
      // pair list and LUTs broadcast SEPARATELY: the (q_vec, bucket) list
      // is tiny, and each query's LUT ships once (not once per pair)
      val p = broadcast(pairs.toDF("q_vec", "bucket"))
      // literal bucket filter ahead of the join → bucket-FILE pruning
      val probed = pairs.map(_._2).distinct.map(Int.box)
      sketch.where(col("bucket").isin(probed: _*))
        .join(p, "bucket")
        .join(lutDf, "q_vec")
        .withColumn("adc", call_function("vec_pq_adc", col("codes"), col("lut")))
    }

    // round 1: best-bound bucket prefix holding ≥ k+2 rows per query →
    // top-adc candidates → exact kth distance D_k (upper bound on truth)
    val round1 = qBounds.map { case (id, bs) =>
      var cum = 0L
      id -> bs.takeWhile { case (j, _) =>
        val take = cum < k + 2
        cum += stats(j)._1
        take
      }.map(_._1).toSet
    }
    val pairs1 = round1.toSeq.flatMap { case (id, js) => js.map(id -> _) }
    val cut = topkOf(
        topkOf(probeDf(pairs1), col("adc"), math.max(2 * k, k + 4))
          .select(col("q_vec"), explode(col("tk")).as("e"))
          .select(col("q_vec"), col("e.i").as("vec_id"))
          .join(qemb, "q_vec").join(base, "vec_id")
          .withColumn("d2", call_function("vec_l2_q", col("q_emb"), col("embedding"))),
        col("d2"), k)
      .where(size(col("tk")) === k)
      .select(col("q_vec"),
        sqrt(element_at(col("tk"), k).getField("o").cast("double")).as("dk"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // round 2: buckets whose bound clears D_k + ε (round-1 buckets always
    // included), per-row ADC gate inside them, exact rerank
    val pairs2 = qBounds.toSeq.flatMap { case (id, bs) =>
      val probed = round1(id)
      val cutoff = cut.getOrElse(id, Double.MaxValue)
      bs.filter { case (j, b) => probed.contains(j) || b <= cutoff + 1e-6 }.map(p => id -> p._1)
    }
    val dkDf = broadcast(qs.map { case (id, _) =>
      (id, cut.getOrElse(id, Double.MaxValue)) }.toSeq.toDF("q_vec", "dk"))
    topkOf(
        probeDf(pairs2)
          .join(dkDf, "q_vec")
          .where(greatest(sqrt(col("adc").cast("double")) - col("r"), lit(0.0)) <= col("dk") + lit(1e-6))
          .join(qemb, "q_vec").join(base, "vec_id")
          .withColumn("d2", call_function("vec_l2_q", col("q_emb"), col("embedding"))),
        col("d2"), k)
      .select(col("q_vec"), posexplode(col("tk")))
      .select(col("q_vec"), col("col.i").as("p_vec"), (col("pos") + 1).cast("bigint").as("rank"))
  }

  /** `op`'s query side, (vec_id, quantized embedding) sorted by vec_id,
    * collected by one [[Bounded.countAndKeep]] job; more than `maxQueries`
    * rows fail loudly (contract enforcement, like AnnIndex.topK). */
  private def queryRows(base: DataFrame, queryPred: Column, maxQueries: Int,
                        op: String): Array[(Long, Array[Long])] = {
    val rows = base.where(queryPred).select(col("vec_id"), col("embedding")).queryExecution.toRdd
    val (_, qs) = Bounded.countAndKeep(rows, maxQueries) { () => r =>
      Some((r.getLong(0), r.getArray(1).toFloatArray().map(qz)))
    }
    require(qs.isDefined,
      s"$op materializes the query side on the driver; queryPred matches " +
        s"> $maxQueries rows. Shrink the query set or raise maxQueries deliberately.")
    qs.get.sortBy(_._1)
  }

  private def probeCore(sketch: DataFrame, base: DataFrame, cbBytes: Array[Byte],
                        queryPred: Column, k: Int, maxQueries: Int): (DataFrame, DataFrame) = {
    val spark = base.sparkSession
    GraftFunctions.install(spark)
    import spark.implicits._
    val cb = unpackCached(cbBytes)

    val qs = queryRows(base, queryPred, maxQueries, "Pq.topK")
    checkLutBudget(qs.length, cb.length, cb(0).length)
    val luts = qs.map { case (id, qv) => (id, lutBytes(qv, cb)) }.toSeq

    val qemb = broadcast(base.where(queryPred)
      .select(col("vec_id").as("q_vec"), col("embedding").as("q_emb")))

    // per-query candidate ranking via the map-side-combinable topk_pairs
    // aggregate (r6): the former row_number windows shipped every
    // (sketch row × query) candidate across the exchange; the bounded
    // aggregate ships n_queries·k pairs per map task
    def topkOf(df: DataFrame, ord: org.apache.spark.sql.Column, kk: Int): DataFrame = df
      .groupBy("q_vec")
      .agg(call_function("topk_pairs", ord, col("vec_id"), lit(kk)).as("tk"))

    // round 1: best-adc candidates → exact kth distance D_k (upper bound
    // on the true kth distance, since candidates ⊆ corpus)
    val cand1 = topkOf(
        sketch.crossJoin(broadcast(luts.toDF("q_vec", "lut")))
          .withColumn("adc", call_function("vec_pq_adc", col("codes"), col("lut"))),
        col("adc"), math.max(2 * k, k + 4))
      .select(col("q_vec"), explode(col("tk")).as("e"))
      .select(col("q_vec"), col("e.i").as("vec_id"))
    val cut = topkOf(
        cand1.join(qemb, "q_vec").join(base, "vec_id")
          .withColumn("d2", call_function("vec_l2_q", col("q_emb"), col("embedding"))),
        col("d2"), k)
      .where(size(col("tk")) === k)
      .select(col("q_vec"),
        sqrt(element_at(col("tk"), k).getField("o").cast("double")).as("dk"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // round 2: lower-bound gate sqrt(adc) − r ≤ D_k + ε keeps a provable
    // superset of the true top-k; missing D_k (corpus < k rows) keeps all
    val qdf2 = broadcast(luts.map { case (id, lut) =>
      (id, lut, cut.getOrElse(id, Double.MaxValue)) }.toDF("q_vec", "lut", "dk"))
    val surv = sketch.crossJoin(qdf2)
      .withColumn("adc", call_function("vec_pq_adc", col("codes"), col("lut")))
      .where(greatest(sqrt(col("adc").cast("double")) - col("r"), lit(0.0)) <= col("dk") + lit(1e-6))

    val out = topkOf(
        surv.join(qemb, "q_vec").join(base, "vec_id")
          .withColumn("d2", call_function("vec_l2_q", col("q_emb"), col("embedding"))),
        col("d2"), k)
      .select(col("q_vec"), posexplode(col("tk")))
      .select(col("q_vec"), col("col.i").as("p_vec"), (col("pos") + 1).cast("bigint").as("rank"))
    (out, surv)
  }
}
