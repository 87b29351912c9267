package graft.text

import graft.join.Bounded
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/**
 * Corpus BPE tokenizer training (the Sennrich byte-pair-merge loop) — the
 * corpus-level counterpart of `text_token_count_bpe`'s fixed segmentation:
 * it LEARNS the merge table from the corpus.
 *
 * Algorithm (exactly what the DuckDB oracle replays):
 *  1. word frequencies: one shuffle over the corpus → a VOCAB-bounded
 *     (word, freq) table (distinct words ≪ corpus rows at any scale — the
 *     standard industrial shape for distributed BPE: all later rounds
 *     run over word types weighted by frequency, never over the corpus);
 *  2. each word is sentinel-encoded as "|c1|c2|...|": symbols never
 *     contain '|' ([a-z0-9] tokenization), so every symbol boundary is
 *     explicit and merge application is a plain string rewrite both
 *     engines implement with identical bytes;
 *  3. the table is collected once, bounded by [[WordCap]] word types, and
 *     the rounds run on the driver: adjacent-pair counts weighted by word
 *     frequency are kept incrementally (pair → count, pair → words), the
 *     argmax with (count DESC, a ASC, b ASC) tie-break comes off a lazily
 *     invalidated heap, and each merge rewrites only the words that hold
 *     the merged pair, through `Text.mergePair`. Symbols are [a-z0-9]+,
 *     so `String` order is the oracle's byte order.
 *
 * Merge semantics: repeatedly rewrite the LEFTMOST "|a|b|" to "|ab|"
 * until none remains (Text.mergePair). Rescan-from-start is equivalent
 * to the classic greedy left-to-right pass because a merge never creates
 * a new occurrence at an earlier position (the changed pairs are (x,ab)
 * and (ab,y); neither can equal (a,b) since ab ≠ a and ab ≠ b), and it
 * is EXACTLY the oracle's recursive strpos/substr rewrite.
 *
 * 100 TB: the corpus is touched once (word counting); under the cap,
 * training is that aggregate and one bounded collect whatever `rounds`
 * is. A vocabulary over the cap takes [[trainRounds]]'s rounds over the
 * same aggregate: one explode+agg over the vocab frame plus a narrow
 * re-encoding per round, with 1 row to the driver per round.
 * `rounds` is the vocabulary budget knob.
 */
object Bpe {

  final case class Merge(round: Int, a: String, b: String, cnt: Long)

  /** Word types `train` collects to learn on the driver. By object
    * sizes, the driver holds about 200 B plus 10 B per character for
    * each word type (the collected pair, its encoding, its frequency and
    * its entries in the pair → words index): about 300 MB at the cap for
    * words of 10 characters. */
  private val WordCap = 1 << 20

  /** Words a per-task `tokenize` memo holds before it is cleared. */
  private val MemoMax = 1 << 16

  /** A text's words, "" included: [a-z0-9]+ tokenization (the q80 corpus
    * convention) — the ONE definition train and tokenize share; the
    * oracle CTEs mirror it character-for-character. */
  private def wordsOf(text: Column): Column =
    split(regexp_replace(lower(text), "[^a-z0-9]+", " "), " ")

  /** (word, freq) over every word of `docs(textCol)`. */
  private def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(wordsOf(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Sentinel seed encoding of `word`: "|c1|c2|...|". */
  private def sentinel(word: String): String = word.mkString("|", "|", "|")

  /** [[sentinel]] as a column over `word`. */
  private def sentinelEnc: Column =
    concat(lit("|"), regexp_replace(col("word"), "(.)", "$1|"))

  private def checkRounds(rounds: Int): Unit =
    require(rounds >= 1 && rounds <= 4096, s"rounds=$rounds out of [1,4096]")

  /** Learn `rounds` merges from `docs(textCol)`; [a-z0-9]+ word
    * tokenization (the q80 corpus convention). */
  def train(docs: DataFrame, textCol: String, rounds: Int): Seq[Merge] =
    train(docs, textCol, rounds, WordCap)

  /** [[train]] with the word-type cap as a parameter: over `cap` word
    * types it runs [[trainRounds]]'s rounds over the same aggregate rows,
    * whose shuffle output is reused rather than the corpus counted again. */
  private[text] def train(docs: DataFrame, textCol: String, rounds: Int, cap: Int): Seq[Merge] = {
    checkRounds(rounds)
    val freq = wordFreq(docs, textCol)
    val rows = freq.queryExecution.toRdd
    val (_, table) = Bounded.countAndKeep(rows, cap) { () =>
      (r: InternalRow) => Some((r.getUTF8String(0).toString, r.getLong(1)))
    }
    table match {
      case Some(t) => learn(t, rounds)
      case None => roundsOver(docs.sparkSession.createDataFrame(
        rows.map(r => Row(r.getUTF8String(0).toString, r.getLong(1))), freq.schema), rounds)
    }
  }

  /** A symbol pair; its order is the argmax tie-break (a ASC, b ASC). */
  private final case class Pair(a: String, b: String)

  /** Heap priority: count DESC, then a ASC, then b ASC. */
  private val Priority: Ordering[(Long, Pair)] = (x, y) => {
    val c = java.lang.Long.compare(x._1, y._1)
    if (c != 0) c
    else {
      val a = y._2.a.compareTo(x._2.a)
      if (a != 0) a else y._2.b.compareTo(x._2.b)
    }
  }

  private def pairsOf(enc: String): Array[Pair] = {
    val s = enc.substring(1, enc.length - 1).split('|')
    Array.tabulate(s.length - 1)(i => Pair(s(i), s(i + 1)))
  }

  /** The rounds of `trainRounds` over a collected (word, freq) table, on
    * the driver. `holders(p)` lists every word holding p, and may list
    * words that lost it or list a word twice; a rewrite that changes
    * nothing skips those. */
  private def learn(table: Array[(String, Long)], rounds: Int): Seq[Merge] = {
    val enc = table.map(t => sentinel(t._1))
    val freq = table.map(_._2)
    val counts = mutable.HashMap.empty[Pair, Long]
    val holders = mutable.HashMap.empty[Pair, mutable.ArrayBuilder.ofInt]
    def hold(p: Pair, w: Int): Unit = holders.getOrElseUpdate(p, new mutable.ArrayBuilder.ofInt) += w
    enc.indices.foreach { w =>
      val ps = pairsOf(enc(w))
      ps.foreach(p => counts(p) = counts.getOrElse(p, 0L) + freq(w))
      ps.distinct.foreach(hold(_, w))
    }
    val heap = mutable.PriorityQueue.empty[(Long, Pair)](Priority)
    counts.foreach { case (p, c) => heap.enqueue((c, p)) }
    val merges = Seq.newBuilder[Merge]
    var r = 1
    while (r <= rounds && {
      while (heap.nonEmpty && !counts.get(heap.head._2).contains(heap.head._1)) heap.dequeue()
      heap.nonEmpty // empty: every word fused to one symbol
    }) {
      val (cnt, p) = heap.dequeue()
      merges += Merge(r, p.a, p.b, cnt)
      val delta = mutable.HashMap.empty[Pair, Long]
      def add(q: Pair, d: Long): Unit = delta(q) = delta.getOrElse(q, 0L) + d
      holders.remove(p).foreach(_.result().foreach { w =>
        val before = enc(w)
        val after = Text.mergePair(before, p.a, p.b)
        if (after.length != before.length) {
          enc(w) = after
          val (old, now) = (pairsOf(before), pairsOf(after))
          old.foreach(add(_, -freq(w)))
          now.foreach(add(_, freq(w)))
          now.distinct.filterNot(old.contains).foreach(hold(_, w))
        }
      })
      delta.foreach { case (q, d) =>
        if (d != 0) {
          val c = counts.getOrElse(q, 0L) + d
          if (c == 0) { counts.remove(q); holders.remove(q) }
          else { counts(q) = c; heap.enqueue((c, q)) }
        }
      }
      r += 1
    }
    merges.result()
  }

  /** [[train]] as DataFrame rounds over the vocab frame: per round one
    * aggregate with the argmax row collected, then the merge applied to
    * every word by `text_bpe_merge` and the frame re-checkpointed so the
    * lineage stays one round deep. */
  private[text] def trainRounds(docs: DataFrame, textCol: String, rounds: Int): Seq[Merge] =
    roundsOver(wordFreq(docs, textCol), rounds)

  /** The rounds of [[trainRounds]] over a (word, freq) frame. */
  private def roundsOver(freq: DataFrame, rounds: Int): Seq[Merge] = {
    checkRounds(rounds)
    var enc = freq
      .withColumn("enc", sentinelEnc)
      .select("freq", "enc")
      .localCheckpoint(true) // vocab-bounded; cuts corpus lineage
    val merges = Seq.newBuilder[Merge]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val best = enc
        .withColumn("syms", split(expr("trim(BOTH '|' FROM enc)"), "\\|"))
        .where(size(col("syms")) >= 2)
        // sequence(2, size) is safe: size >= 2 keeps it ascending
        .select(col("freq"), explode(expr(
          "transform(sequence(2, size(syms)), i -> " +
            "struct(element_at(syms, i - 1) AS a, element_at(syms, i) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect() // bounded: exactly one row per round
      if (best.isEmpty) done = true // every word fused to one symbol
      else {
        val (a, b, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += Merge(r, a, b, cnt)
        val prev = enc
        enc = enc
          .withColumn("enc", call_function("text_bpe_merge", col("enc"), lit(a), lit(b)))
          .localCheckpoint(true)
        prev.unpersist()
        r += 1
      }
    }
    merges.result()
  }

  /** train() as a DataFrame (round, a, b, cnt) — the q185 surface. */
  def trainDf(spark: SparkSession, docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    import spark.implicits._
    train(docs, textCol, rounds)
      .map(m => (m.round.toLong, m.a, m.b, m.cnt))
      .toDF("round", "a", "b", "cnt")
  }

  /** Token count of a word list under `merges`: each word's sentinel
    * count − 1 after every merge in order. The function is deserialized
    * once per task, so its memo is per task and cleared at [[MemoMax]]
    * words. */
  private final class TokenCount(merges: Array[(String, String)]) extends (Seq[String] => Long) with Serializable {
    @transient private lazy val memo = new java.util.HashMap[String, java.lang.Long]

    private def tokens(word: String): Long = {
      val enc = merges.foldLeft(sentinel(word)) { case (e, (a, b)) => Text.mergePair(e, a, b) }
      enc.count(_ == '|') - 1L
    }

    def apply(words: Seq[String]): Long =
      if (words == null) 0L
      else words.foldLeft(0L) { (n, w) =>
        var t = memo.get(w)
        if (t == null) {
          if (memo.size >= MemoMax) memo.clear()
          t = java.lang.Long.valueOf(tokens(w))
          memo.put(w, t)
        }
        n + t
      }
  }

  /** Tokenize the corpus under a learned merge table: per doc, the token
    * count after applying every merge in order (the train→apply
    * composition a data pipeline runs to budget sequences). Each doc row
    * maps to (doc_id, words, tokens), a word's tokens coming from a
    * per-task memo; rows without a word drop, and a map-side-combined
    * group by doc_id sums the rest. */
  def tokenize(docs: DataFrame, idCol: String, textCol: String,
               merges: Seq[Merge]): DataFrame = {
    val tokens = udf(new TokenCount(merges.map(m => (m.a, m.b)).toArray): Seq[String] => Long)
    docs.select(col(idCol).as("doc_id"), array_remove(wordsOf(col(textCol)), "").as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("nw"), tokens(col("ws")).as("nt"))
      .where(col("nw") > 0)
      .groupBy("doc_id")
      // a group holds at least one row, so the sum is never null: coalesce
      // only keeps n_words non-nullable, as the count it replaced was
      .agg(coalesce(sum("nw"), lit(0L)).as("n_words"), sum("nt").as("n_tokens"))
  }
}
