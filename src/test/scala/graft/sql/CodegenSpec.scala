package graft.sql

import graft.join.AnnIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The text/vector scalar expressions advertise real `doGenCode` (no
  * CodegenFallback) so they stay inside whole-stage codegen on the
  * q16–q21/q60/q61 scan paths. Spark silently falls back to interpreted
  * evaluation when generated code fails to javac-compile, so a normal
  * DataFrame test can go green over broken codegen. This spec pins
  * CODEGEN_ONLY + fallback=false: broken generated Java fails the suite. */
class CodegenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.wholeStage", "true")
    .config("spark.sql.codegen.fallback", "false")
    .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    .getOrCreate()

  test("all converted text/vector expressions evaluate under CODEGEN_ONLY") {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    import spark.implicits._

    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and keeps running"),
      (2L, "the quick brown fox jumps over the lazy dog and keeps walking"),
      (3L, "el perro es un animal y la casa es grande y blanca")
    ).toDF("doc_id", "text")

    val r = docs.select(
      call_function("text_lang_id", $"text").as("lang"),
      call_function("text_quality", $"text").as("q"),
      call_function("text_token_count", $"text").as("tc"),
      call_function("text_token_count_bpe", $"text").as("tcb"),
      call_function("text_fingerprint", $"text").as("fp"),
      call_function("text_simhash", $"text").as("sh"),
      call_function("text_simhash128", $"text").as("sh128"),
      call_function("text_minhash", $"text", lit(16)).as("mh"),
      call_function("lsh_bands", call_function("text_minhash", $"text", lit(16)), lit(4)).as("bands"),
      call_function("text_jaccard", $"text", $"text").as("jac_self"),
      call_function("text_ngram_jaccard", $"text", $"text", lit(4)).as("njac_self"),
      call_function("text_shingles", $"text", lit(4)).as("shingles"),
      call_function("text_chunks", $"text", lit(4), lit(3)).as("chunks")
    ).collect()

    assert(r.length == 3)
    assert(r(0).getAs[String]("lang") == "en" && r(2).getAs[String]("lang") == "es")
    assert(r.forall(_.getAs[Double]("jac_self") == 1.0))
    assert(r.forall(_.getAs[Double]("njac_self") == 1.0))
    assert(r.forall(_.getAs[Seq[Long]]("sh128").length == 2))
    assert(r.forall(_.getAs[Seq[Long]]("mh").length == 16))
    assert(r.forall(_.getAs[Seq[Long]]("bands").length == 4))
    assert(r.forall(_.getAs[Seq[Long]]("shingles").nonEmpty))
    assert(r.forall(_.getAs[Seq[String]]("chunks").nonEmpty))
    // codegen and interpreted paths must agree bit-for-bit
    assert(r(0).getAs[Long]("sh") == graft.text.Text.simhash(
      "the quick brown fox jumps over the lazy dog and keeps running"))
    assert(r(0).getAs[Int]("tc") == 12 && r(0).getAs[Int]("tcb") > 0)
    assert(r(0).getAs[Long]("fp") == graft.text.Text.fingerprint(
      "the quick brown fox jumps over the lazy dog and keeps running"))

    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 2.0f), Array(0.5f, 1.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f))
    ).toDF("id", "a", "b")
    val cb = AnnIndex.packCentroids(Array(Array(1.0, 0.0, 0.0), Array(0.0, 0.0, 1.0)))
    val v = vecs.select(
      call_function("vec_dot", $"a", $"b").as("dot"),
      call_function("vec_dot_q", $"a", $"b").as("dotq"),
      call_function("vec_cosine", $"a", $"b").as("cos"),
      call_function("vec_ivf_assign", $"a", lit(cb)).as("bucket"),
      call_function("vec_ivf_dot", $"a", lit(cb), lit(1)).as("cdot")
    ).collect()
    assert(v(0).getAs[Double]("dot") == 1.0 * 0.5 + 2.0 * 0.25)
    assert(v(0).getAs[Long]("dotq") == 1000L * 500 + 2000L * 250)
    assert(v(1).getAs[Double]("cos") == 0.0) // zero-norm contract
    assert(v(0).getAs[Int]("bucket") == 1)   // argmax centroid dot: c1·a=2 > c0·a=1
    assert(v(0).getAs[Double]("cdot") == 2.0)

    val vb = graft.img.Media.synthVideo(5, 4, 3, 10, 6)
    val ab = graft.img.Media.synthAudio(5, 8000, 1700)
    val med = Seq((1L, vb), (2L, ab)).toDF("id", "bytes")
    val mm = med.select(
      call_function("media_kind", $"bytes").as("kind"),
      call_function("media_meta", $"bytes").as("meta"),
      when($"id" === 1, size(call_function("media_frame_sample", $"bytes", lit(2))))
        .otherwise(size(call_function("audio_rms_windows", $"bytes", lit(800)))).as("n_parts"),
      when($"id" === 1, length(call_function("media_frame", $"bytes", lit(0))))
        .otherwise(lit(-1)).as("f0len")
    ).collect()
    assert(mm(0).getAs[String]("kind") == "video" && mm(1).getAs[String]("kind") == "audio")
    assert(mm(0).getAs[org.apache.spark.sql.Row]("meta").getAs[Int]("n") == 6)
    assert(mm(0).getAs[Int]("n_parts") == 3 && mm(1).getAs[Int]("n_parts") == 2)
    assert(mm(0).getAs[Int]("f0len") == 4 * 3 * 3)
  }

  test("r5 spatial scalar expressions evaluate under CODEGEN_ONLY") {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    import spark.implicits._
    val rows = Seq((1.0, 2.0, 4.0, 6.0)).toDF("x1", "y1", "x2", "y2")
      .withColumn("ga", call_function("st_point", $"x1", $"y1"))
      .withColumn("gb", call_function("st_point", $"x2", $"y2"))
    val r = rows.select(
      call_function("st_dwithin", $"ga", $"gb", lit(6.0)).as("dw"),
      call_function("st_dwithin_xy", $"ga", $"x2", $"y2", lit(6.0)).as("dwxy"),
      call_function("st_aswkt", call_function("st_expand", $"ga", lit(1.0))).as("ex"),
      call_function("st_distance_sphere", $"x1", $"y1", $"x2", $"y2").as("ds"),
      call_function("st_geohash", $"x1", $"y1", lit(7)).as("gh")
    ).collect()(0)
    assert(r.getAs[Boolean]("dw") && r.getAs[Boolean]("dwxy"))
    assert(r.getAs[String]("ex") == "POLYGON ((0 1, 2 1, 2 3, 0 3, 0 1))")
    assert(math.abs(r.getAs[Double]("ds") - 555984.2) < 1000.0) // ~5 deg arc
    assert(r.getAs[String]("gh").length == 7)
  }
}
