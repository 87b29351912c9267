package perfbench

import graft.join.{AnnIndex, Graph}
import graft.streaming.Streams
import graft.text.Bpe
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Path

/** Short analytics calls over small seeded inputs: BPE training and
  * tokenisation, the stream operators on batch frames, integer PageRank and
  * HITS, and IVF cosine top-k and near-duplicate search. These calls are
  * dominated by driver-side planning, job scheduling and checkpoints. */
final class Analytics(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  import Analytics._
  import spark.implicits._

  private def rnd(salt: Int) = new scala.util.Random(Stats.mix64(seed * 6151 + salt))

  // ---- generated inputs, kept driver-side for the references ----

  private val docs: IndexedSeq[String] = {
    val r = rnd(1)
    val vocab = IndexedSeq.fill(Vocab)(Iterator.fill(3 + r.nextInt(7))(('a' + r.nextInt(12)).toChar).mkString)
    IndexedSeq.fill(NDocs) {
      // Zipf-like word choice; some capitals and punctuation for the tokeniser
      Iterator.fill(8 + r.nextInt(23)) {
        val w = vocab((Vocab * math.pow(r.nextDouble(), 2.5)).toInt)
        if (r.nextInt(10) == 0) w.capitalize + "," else w
      }.mkString(" ")
    }
  }
  private val merges = Refs.bpeTrain(docs, BpeRounds)

  private val zones = GeoQuery.smallZones(rnd(2), EnrichLon, EnrichLat).take(NEnrichZones)
  private val zoneGrid = new Refs.ZoneGrid(zones, 2.0)
  private val (eLon, eLat) = {
    val r = rnd(3)
    // half the points near the zone block, half uniform
    Array.tabulate(NEnrich) { i =>
      if (i % 2 == 0) (EnrichLon - 4 + 8 * r.nextDouble(), EnrichLat - 4 + 8 * r.nextDouble())
      else (-180.0 + 360.0 * r.nextDouble(), -80.0 + 160.0 * r.nextDouble())
    }.unzip
  }

  private val (lk, lts, rk, rts) = {
    val r = rnd(4)
    (Array.fill(NEvents)(r.nextInt(NKeys)), Array.fill(NEvents)(T0 + r.nextInt(3600).toLong),
      Array.fill(NEvents)(r.nextInt(NKeys)), Array.fill(NEvents)(T0 + r.nextInt(3600).toLong))
  }

  private val vertexIds = Array.tabulate(NVertices)(_.toLong)
  private val (src, dst) = {
    val r = rnd(5)
    // skewed in-degree, with some duplicate edges and self-loops
    Array.fill(NEdges)((r.nextInt(NVertices).toLong, (NVertices * math.pow(r.nextDouble(), 2)).toLong)).unzip
  }
  private val simple = Refs.simpleEdges(src, dst)

  private val vecs: Array[Array[Float]] = {
    val r = rnd(6)
    val centres = Array.fill(NClusters)(Array.fill(Dim)(r.nextGaussian().toFloat))
    Array.tabulate(NVectors) { i =>
      val c = centres(i % NClusters)
      val v = Array.tabulate(Dim)(d => c(d) + (Spread * r.nextGaussian()).toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
  }
  private val qvecs = vecs.map(Refs.quantise)
  private val qnorms = qvecs.map(v => Refs.dotQ(v, v))

  private var docsDf: DataFrame = _
  private var pointsDf: DataFrame = _
  private var zonesDf: DataFrame = _
  private var leftDf: DataFrame = _
  private var rightDf: DataFrame = _
  private var edgesDf: DataFrame = _
  private var verticesDf: DataFrame = _
  private var embDf: DataFrame = _

  def kinds: Seq[String] = Kinds

  def setup(dir: Path, t: Tracer, checks: LoopResult, warm: Boolean): Unit = {
    graft.sql.GraftFunctions.install(spark)
    val t0 = System.nanoTime()
    def lap(what: String) = System.err.println(f"perfbench: setup $what at ${(System.nanoTime() - t0) / 1e9}%.2fs")
    Seq(docsDf, pointsDf, zonesDf, leftDf, rightDf, edgesDf, verticesDf, embDf)
      .foreach(df => Option(df).foreach(_.unpersist(blocking = true)))
    // the tables are written and cached concurrently
    def put(name: String, df: => DataFrame): () => DataFrame = () => {
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
      val back = spark.read.parquet(s"$dir/$name.parquet").cache()
      back.count()
      back
    }
    val Seq(d, p, z, l, r, e, v, m) = Par.all(Seq(
      put("docs", docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("doc_id", "text")),
      put("points", eLon.indices.map(i => (i.toLong, eLon(i), eLat(i))).toDF("pid", "lon", "lat")),
      put("zones", zones.map(p => ZoneRow(p.id, p.wkt)).toDF()),
      put("left", lk.indices.map(i => (i.toLong, lk(i), lts(i))).toDF("lid", "lkey", "lsec")
        .withColumn("lts", timestamp_seconds(col("lsec")))),
      put("right", rk.indices.map(i => (i.toLong, rk(i), rts(i))).toDF("rid", "rkey", "rsec")
        .withColumn("rts", timestamp_seconds(col("rsec")))),
      put("edges", src.indices.map(i => (src(i), dst(i))).toDF("src", "dst")),
      put("vertices", vertexIds.toSeq.toDF("id")),
      put("embeddings", vecs.indices.map(i => (i.toLong, vecs(i))).toDF("vec_id", "embedding"))))
    docsDf = d; pointsDf = p; zonesDf = z; leftDf = l; rightDf = r; edgesDf = e; verticesDf = v; embDf = m
    lap("inputs")
    if (warm) { Check.warmAll(Kinds.map(opOf(_, -1)), spark, checks); lap("warm-up") }
  }

  /** Every op is read-only. */
  def savePoint(): () => Unit = () => ()

  // One op per function. The SparkEntry catalogue calls each of them in one
  // or two query bodies: Bpe.train 2 (q185, q190), Bpe.tokenize 1,
  // Streams.spatialEnrich 1, Streams.streamStreamJoin 1,
  // Streams.streamStreamLeftOuter 1, Graph.pagerank 2 (q131, q229),
  // Graph.hits 1, AnnIndex.topK 2 (q21, q264), AnnIndex.cosineNearDup 1.
  private val cycle = Array("ann_topk", "bpe_train", "stream_enrich", "pagerank", "stream_join", "hits",
    "bpe_tokenize", "ann_neardup", "stream_outer")

  def cycleLength: Int = cycle.length

  def op(i: Int): Op = opOf(cycle(i % cycle.length), i)

  private def opOf(kind: String, i: Int): Op = kind match {
    case "bpe_train" => bpeTrainOp()
    case "bpe_tokenize" => bpeTokenizeOp()
    case "stream_enrich" => enrichOp()
    case "stream_join" => intervalOp(outer = false)
    case "stream_outer" => intervalOp(outer = true)
    case "pagerank" => pagerankOp()
    case "hits" => hitsOp()
    case "ann_topk" => topkOp(new scala.util.Random(Stats.mix64(seed * 1000003 + i)))
    case "ann_neardup" => neardupOp()
  }

  private def bpeTrainOp(): Op =
    Op("bpe_train", "text.bpe_train")(_ => Bpe.train(docsDf, "text", BpeRounds)) { got =>
      Check.equal("bpe merges", merges, got.map(m => (m.round, m.a, m.b, m.cnt)))
      got.length
    }

  private def bpeTokenizeOp(): Op = {
    val ms = merges.map(m => Bpe.Merge(m._1, m._2, m._3, m._4))
    Op("bpe_tokenize", "text.bpe_tokenize") { t =>
      GeoQuery.planned(t, Bpe.tokenize(docsDf, "doc_id", "text", ms)).collect()
    } { rows =>
      val pairs = ms.map(m => (m.a, m.b))
      val tokens = scala.collection.mutable.HashMap.empty[String, Long]
      val exp = docs.indices.flatMap { i =>
        val ws = Refs.words(docs(i))
        if (ws.isEmpty) None
        else Some(Seq(i.toLong, ws.length.toLong, ws.map(w => tokens.getOrElseUpdate(w, Refs.bpeTokens(w, pairs))).sum))
      }
      val got = rows.map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2)))
      Check.equal("tokenized docs", exp.length, got.length)
      Check.equal("token checksum", Stats.bagChecksum(exp), Stats.bagChecksum(got.toSeq))
      rows.length
    }
  }

  private def enrichOp(): Op =
    Op("stream_enrich", "streaming.enrich") { t =>
      GeoQuery.planned(t, Streams.spatialEnrich(pointsDf, zonesDf, EnrichLevel)
        .select(col("pid"), col("zone_id"))).collect()
    } { rows =>
      val zoneIdx = zones.indices.map(z => zones(z).id -> z).toMap
      val got = rows.map(r => r.getLong(0) << 20 | zoneIdx(r.getString(1)))
      val exp = Refs.pipPairs(zoneGrid, eLon, eLat, eLon.indices.toArray).map { case (p, z) => p.toLong << 20 | z }
      Check.sameBag("stream enrich", exp, got)
      rows.length
    }

  private def intervalOp(outer: Boolean): Op = {
    val kind = if (outer) "stream_outer" else "stream_join"
    Op(kind, if (outer) "streaming.outer_join" else "streaming.join") { t =>
      val j =
        if (outer) Streams.streamStreamLeftOuter(leftDf, rightDf, "lkey", "rkey", "lts", "rts", Watermark, Within)
        else Streams.streamStreamJoin(leftDf, rightDf, "lkey", "rkey", "lts", "rts", Watermark, Within)
      GeoQuery.planned(t, j.select(col("lid"), coalesce(col("rid"), lit(-1L)))).collect()
    } { rows =>
      val got = rows.map(r => r.getLong(0) << 32 | (r.getLong(1) & 0xFFFFFFFFL))
      val exp = Refs.intervalJoin(lk, lts, rk, rts, WithinS, outer)
        .map { case (l, r) => l.toLong << 32 | (r.toLong & 0xFFFFFFFFL) }
      Check.sameBag(kind, exp, got)
      rows.length
    }
  }

  private def pagerankOp(): Op =
    Op("pagerank", "join.pagerank") { _ =>
      Graph.pagerank(edgesDf, "src", "dst", vertices = verticesDf, iters = PagerankIters).collect()
    } { rows =>
      val exp = Refs.pagerank(vertexIds, simple, PagerankIters)
      val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      Check.equal("pagerank vertices", exp.size, rows.length)
      vertexIds.foreach(v => Check.equal(s"pagerank of $v", exp(v), got.getOrElse(v, -1L)))
      rows.length
    }

  private def hitsOp(): Op =
    Op("hits", "join.hits") { _ =>
      Graph.hits(edgesDf, "src", "dst", vertices = verticesDf, iters = HitsIters).collect()
    } { rows =>
      val exp = Refs.hits(vertexIds, simple, HitsIters)
      Check.equal("hits vertices", exp.size, rows.length)
      rows.foreach { r =>
        Check.equal(s"hits of ${r.getLong(0)}", exp.getOrElse(r.getLong(0), (-1L, -1L)),
          (r.getAs[Number]("a_ppm").longValue, r.getAs[Number]("h_ppm").longValue))
      }
      rows.length
    }

  /** Top-k of a seeded block of query vectors. */
  private def topkOp(r: scala.util.Random): Op = {
    val q0 = r.nextInt(NVectors - TopkQueries).toLong
    Op("ann_topk", "join.ann_topk") { t =>
      GeoQuery.planned(t, AnnIndex.topK(embDf, col("vec_id").between(q0, q0 + TopkQueries - 1), k = TopkK))
        .collect()
    } { rows =>
      val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.sortBy(_.getLong(2)).map(_.getLong(1)).toSeq }
      Check.equal("ann queries answered", TopkQueries, got.size)
      (q0 until q0 + TopkQueries).foreach { q =>
        val exp = Refs.cosineTopK(q.toInt, qvecs, qnorms, TopkK)
        if (got.getOrElse(q, Nil) != exp) throw new CheckFailed(s"ann top-k of $q: expected $exp, got ${got.getOrElse(q, Nil)}")
      }
      rows.length
    }
  }

  private def neardupOp(): Op =
    Op("ann_neardup", "join.ann_neardup") { t =>
      GeoQuery.planned(t, AnnIndex.cosineNearDup(embDf, Tau)).collect()
    } { rows =>
      val exp = for {
        a <- qvecs.indices; b <- a + 1 until qvecs.length
        c = Refs.cosQ(qvecs(a), qvecs(b), qnorms(a), qnorms(b)) if c >= Tau
      } yield Seq(a.toLong, b.toLong, c)
      val got = rows.map((r: Row) => Seq(r.getLong(0), r.getLong(1), r.getDouble(2)))
      Check.equal("near-duplicate pairs", exp.length, got.length)
      Check.equal("near-duplicate checksum", Stats.bagChecksum(exp, 9), Stats.bagChecksum(got.toSeq, 9))
      rows.length
    }

  /** Result rows per second of engine time. */
  def itemsPerS(loop: LoopResult): Double = Kinds.map(loop.items).sum / Kinds.map(loop.seconds).sum

  def layerMetrics(t: Tracer, loop: LoopResult): Seq[(String, Double)] = Nil
}

object Analytics {
  val Kinds: Seq[String] = Seq("bpe_train", "bpe_tokenize", "stream_enrich", "stream_join", "stream_outer",
    "pagerank", "hits", "ann_topk", "ann_neardup")
  /** Engine span of each op kind, for the per-layer metrics. */
  val Spans: Seq[String] = Seq("text.bpe_train", "text.bpe_tokenize", "streaming.enrich", "streaming.join",
    "streaming.outer_join", "join.pagerank", "join.hits", "join.ann_topk", "join.ann_neardup")

  val NDocs = 1500
  val Vocab = 400
  /** The catalogue runs 10 merge rounds, 5 PageRank and 4 HITS iterations;
    * these are fewer so that a cycle fits a run. Each round is the same
    * jobs, so the per-round cost is what a run measures. */
  val BpeRounds = 3

  val NEnrich = 20000
  val NEnrichZones = 120
  val EnrichLon = 30.0
  val EnrichLat = 10.0
  val EnrichLevel = 8

  val NEvents = 4000
  val NKeys = 1000
  val T0 = 1700000000L
  val Watermark = "10 minutes"
  val Within = "5 minutes"
  val WithinS = 300L

  val NVertices = 3000
  val NEdges = 15000
  val PagerankIters = 2
  val HitsIters = 1

  val NVectors = 3000
  val Dim = 16
  val NClusters = 60
  val Spread = 0.08
  val TopkQueries = 40
  val TopkK = 11
  val Tau = 0.95
}
