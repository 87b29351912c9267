package graft.text

import graft.sql.GraftFunctions
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Bpe.tokenize on the edges of its input: null and word-less text,
  * repeated and null doc ids, words the merges never saw, an empty merge
  * list, and the exact output schema. Every case is checked against a
  * per-word symbol-list application of the merges, grouped per doc_id on
  * the driver. */
class BpeTokenizeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(s)
    s
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = true),
    StructField("text", StringType, nullable = true)))

  private def docs(rows: (java.lang.Long, String)*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, t) => Row(id, t) }: _*), docSchema)

  private def id(i: Long): java.lang.Long = java.lang.Long.valueOf(i)

  private def merges(ps: (String, String)*): Seq[Bpe.Merge] =
    ps.zipWithIndex.map { case ((a, b), i) => Bpe.Merge(i + 1, a, b, 0L) }

  /** Token count of one word: greedy left-to-right merge of each pair, in
    * order, over the word's symbol list. */
  private def tokens(word: String, ms: Seq[Bpe.Merge]): Long = {
    var syms = word.map(_.toString).toList
    ms.foreach { m =>
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == m.a && syms(i + 1) == m.b) {
          out += m.a + m.b; i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.toList
    }
    syms.length.toLong
  }

  /** doc_id → (n_words, n_tokens) over the rows with at least one word. */
  private def reference(rows: Seq[(java.lang.Long, String)], ms: Seq[Bpe.Merge]): Map[Option[Long], (Long, Long)] =
    rows.flatMap { case (i, t) =>
      val ws = Option(t).toSeq.flatMap(_.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").filter(_.nonEmpty))
      ws.map(w => (Option(i).map(_.longValue), tokens(w, ms)))
    }.groupBy(_._1).map { case (k, g) => k -> (g.length.toLong, g.map(_._2).sum) }

  private def check(rows: Seq[(java.lang.Long, String)], ms: Seq[Bpe.Merge]): Unit = {
    val got = Bpe.tokenize(docs(rows: _*), "doc_id", "text", ms).collect().toSeq
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), (r.getLong(1), r.getLong(2))))
    assert(got.map(_._1).distinct.length == got.length, s"a doc_id appears twice: $got")
    assert(got.toMap == reference(rows, ms))
  }

  private val abc = merges(("a", "b"), ("ab", "c"), ("c", "c"), ("abc", "abc"))

  test("null text and text without [a-z0-9] give no row") {
    check(Seq((id(1), null), (id(2), "!!! -- ??"), (id(3), ""), (id(4), "abc cc")), abc)
    val none = Bpe.tokenize(docs((id(1), null), (id(2), "...")), "doc_id", "text", abc).collect()
    assert(none.isEmpty)
  }

  test("a doc_id repeated across rows sums into one row") {
    check(Seq((id(7), "abcabc ab"), (id(7), "cc"), (id(7), null), (id(8), "x"), (id(7), "--")), abc)
  }

  test("a null doc_id groups its rows into one null-keyed row") {
    check(Seq((null, "abc"), (null, "ab ab"), (id(1), "cab"), (null, "!!")), abc)
  }

  test("words unseen in training and an empty merge list") {
    val trained = Bpe.train(docs((id(1), "aaa abab aab"), (id(2), "abab ab")), "text", rounds = 4)
    check(Seq((id(1), "zebra xylophone 42 q"), (id(2), "abab zz9"), (id(3), "aaaa")), trained)
    check(Seq((id(1), "abc cab"), (id(2), "Hello, World 2024!")), Seq.empty)
  }

  test("output schema: doc_id as given, n_words non-null, n_tokens nullable") {
    val want = (idNullable: Boolean) => StructType(Seq(
      StructField("doc_id", LongType, nullable = idNullable),
      StructField("n_words", LongType, nullable = false),
      StructField("n_tokens", LongType, nullable = true)))
    assert(Bpe.tokenize(docs((id(1), "abc")), "doc_id", "text", abc).schema == want(true))
    import spark.implicits._
    val nonNull = Seq((1L, "abc")).toDF("doc_id", "text")
    assert(Bpe.tokenize(nonNull, "doc_id", "text", abc).schema == want(false))
    assert(Bpe.tokenize(nonNull, "doc_id", "text", Seq.empty).schema == want(false))
  }
}
