package graft.text

import graft.sql.GraftFunctions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** Bpe.train vs a symbol-LIST reference BPE on the driver (greedy
  * left-to-right merge over word types weighted by frequency — the
  * classic Sennrich loop), plus mergePair string-rewrite semantics
  * including the repeated-symbol-run cases where naive replace() breaks. */
class BpeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def enc(word: String): String = "|" + word.map(c => s"$c|").mkString

  test("mergePair: leftmost-iterative rewrite, runs, and no-op cases") {
    // plain adjacent merge anywhere in the word
    assert(Text.mergePair(enc("table"), "t", "a") == "|ta|b|l|e|")
    assert(Text.mergePair(enc("table"), "l", "e") == "|t|a|b|le|")
    // greedy run semantics: aaaa → [aa][aa]; aaaaa → [aa][aa][a]
    assert(Text.mergePair(enc("aaaa"), "a", "a") == "|aa|aa|")
    assert(Text.mergePair(enc("aaaaa"), "a", "a") == "|aa|aa|a|")
    assert(Text.mergePair(enc("aaaaaa"), "a", "a") == "|aa|aa|aa|")
    // second-level run: [aa][aa] + (aa,aa) → [aaaa]
    assert(Text.mergePair("|aa|aa|", "aa", "aa") == "|aaaa|")
    // consecutive non-run occurrences share the boundary sentinel
    assert(Text.mergePair(enc("abab"), "a", "b") == "|ab|ab|")
    // no partial-symbol matches: (a,b) must not fire inside symbol "ab"
    assert(Text.mergePair("|x|ab|b|", "a", "b") == "|x|ab|b|")
    assert(Text.mergePair(enc("zzz"), "a", "b") == "|z|z|z|")
    // multi-char symbols
    assert(Text.mergePair("|th|e|m|", "th", "e") == "|the|m|")
  }

  /** Reference BPE over symbol LISTS (no string tricks): per word, greedy
    * left-to-right non-overlapping merge; pair counts weighted by word
    * frequency; argmax tie-break (count desc, a asc, b asc). */
  private def referenceBpe(wordFreq: Map[String, Long], rounds: Int): Seq[(Int, String, String, Long)] = {
    var words = wordFreq.map { case (w, f) => (w.map(_.toString).toList, f) }.toList
    val out = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        syms.zip(syms.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f)
      }
      if (counts.nonEmpty) {
        val ((a, b), cnt) = counts.toSeq.minBy { case ((x, y), c) => (-c, x, y) }
        out += ((r, a, b, cnt))
        words = words.map { case (syms, f) =>
          val merged = scala.collection.mutable.ListBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              merged += a + b; i += 2
            } else { merged += syms(i); i += 1 }
          }
          (merged.toList, f)
        }
      }
    }
    out.result()
  }

  test("train matches the list-based reference replay exactly") {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    import spark.implicits._
    // corpus with run-heavy words (aaa, abab) so the string-rewrite path
    // is exercised against the list-based reference
    val docs = Seq(
      "the cat sat on the mat", "the hat that the cat had",
      "aaa aaab abab table stable tablet", "low lower lowest low low",
      "new newer newest news new", "aaa aaa abab").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val got = Bpe.train(docs.toDF("doc_id", "text"), "text", rounds = 12)
      .map(m => (m.round, m.a, m.b, m.cnt))
    val wordFreq = docs.flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val want = referenceBpe(wordFreq, 12)
    assert(got == want)
  }

  test("tokenize matches a per-word reference application of the merges") {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    import spark.implicits._
    val docs = Seq(
      "the cat sat on the mat", "aaa aaab abab table stable tablet",
      "low lower lowest low low", "banana bandana ban").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    val merges = Bpe.train(df, "text", rounds = 8)
    val got = Bpe.tokenize(df, "doc_id", "text", merges)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // reference: apply each merge greedily to every word's symbol list
    def applyMerges(word: String): Int = {
      var syms = word.map(_.toString).toList
      merges.foreach { m =>
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == m.a && syms(i + 1) == m.b) {
            out += m.a + m.b; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toList
      }
      syms.length
    }
    docs.foreach { case (id, text) =>
      val ws = text.split(" ")
      assert(got(id) == (ws.length.toLong, ws.map(applyMerges).sum.toLong))
    }
  }

  test("train stops early when every word fuses to one symbol") {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    import spark.implicits._
    val docs = Seq((1L, "ab ab ab"), (2L, "ab")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", rounds = 50)
    assert(merges.map(m => (m.a, m.b, m.cnt)) == Seq(("a", "b", 4L)))
  }

  test("mergePair fuzz: string rewrite tracks the symbol-list reference through chained merges") {
    var st = 0x5eedL
    def next(n: Int): Int = {
      st ^= st << 13; st ^= st >>> 7; st ^= st << 17
      ((st >>> 11) % n).toInt
    }
    def listMerge(syms: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += a + b; i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toList
    }
    (1 to 4000).foreach { _ =>
      // run-heavy alphabet {a,b,c} words up to 14 chars
      val word = (0 until (1 + next(14))).map(_ => ('a' + next(3)).toChar).mkString
      var syms = word.map(_.toString).toList
      var enc = "|" + word.map(c => s"$c|").mkString
      (1 to 5).foreach { _ =>
        if (syms.length >= 2) {
          // pick a RANDOM adjacent pair actually present (so merges chain
          // into multi-char symbols and can collide with runs)
          val k = next(syms.length - 1)
          val (a, b) = (syms(k), syms(k + 1))
          syms = listMerge(syms, a, b)
          enc = Text.mergePair(enc, a, b)
          assert(enc == "|" + syms.map(x => s"$x|").mkString,
            s"word=$word merge=($a,$b)")
        }
      }
    }
  }

  /** train (the driver rounds) next to trainRounds (the DataFrame rounds),
    * merge for merge; returns the merges. */
  private def agree(texts: Seq[String], rounds: Int): Seq[Bpe.Merge] = {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val driver = Bpe.train(df, "text", rounds)
    assert(driver == Bpe.trainRounds(df, "text", rounds), s"corpus=$texts rounds=$rounds")
    driver
  }

  test("train and trainRounds agree on the spec corpora, the early stop and empty corpora") {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    assert(agree(Seq(
      "the cat sat on the mat", "the hat that the cat had",
      "aaa aaab abab table stable tablet", "low lower lowest low low",
      "new newer newest news new", "aaa aaa abab"), 12).length == 12)
    assert(agree(Seq(
      "the cat sat on the mat", "aaa aaab abab table stable tablet",
      "low lower lowest low low", "banana bandana ban"), 8).length == 8)
    assert(agree(Seq("ab ab ab", "ab"), 50) == Seq(Bpe.Merge(1, "a", "b", 4L)))
    assert(agree(Seq("!!! ... --", "", "?"), 5).isEmpty)
    assert(agree(Seq("x y z 7"), 5).isEmpty) // one-character words hold no pair
    assert(agree(Seq.empty, 3).isEmpty)
  }

  test("train and trainRounds agree on a tie-heavy corpus") {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    // every pair count ties in round 1, and runs tie with their own merges
    val ms = agree(Seq("ab ba cd dc ef fe ba ab", "abcabc bcabca cabcab zz yy xx",
      "aaaa bbbb aabb bbaa", "0a a0 9z z9"), 30)
    assert(ms.head == Bpe.Merge(1, "a", "b", 8L))
  }

  test("train and trainRounds agree on 200 seeded random corpora over {a,b,c}") {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    var st = 0xb9e5L
    def next(n: Int): Int = {
      st ^= st << 13; st ^= st >>> 7; st ^= st << 17
      ((st >>> 11) % n).toInt
    }
    val corpora = Seq.fill(200) {
      Seq.fill(1 + next(3)) {
        Seq.fill(1 + next(6))((0 until 1 + next(14)).map(_ => ('a' + next(3)).toChar).mkString).mkString(" ")
      }
    }
    // the rounds are bound by per-job latency: four corpora at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(corpora)(t => Future(agree(t, 20))), 20.minutes)
    finally pool.shutdown()
  }

  test("over the word cap, train takes the DataFrame rounds and gives the same merges") {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    import spark.implicits._
    val df = Seq((1L, "low lower lowest newer"), (2L, "aaa abab aab stable"))
      .toDF("doc_id", "text")
    val driver = Bpe.train(df, "text", 10)
    // the stages that read the corpus: the word aggregate's map stage
    val corpusStages = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (s.stageInfo.rddInfos.exists(_.name == "ParallelCollectionRDD")) corpusStages.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for (cap <- Seq(3, 0)) {
        Thread.sleep(500) // listener events are async; drain
        corpusStages.set(0)
        assert(Bpe.train(df, "text", 10, cap = cap) == driver)
        Thread.sleep(500)
        assert(corpusStages.get() == 1, s"cap $cap: the corpus was read by ${corpusStages.get()} stages")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(driver == Bpe.trainRounds(df, "text", 10))
  }

  test("train runs at most 2 jobs and tokenize at most 2") {
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    import spark.implicits._
    val df = Seq("the cat sat on the mat", "aaa aaab abab table stable tablet",
      "low lower lowest low low", "banana bandana ban", "new newer newest news new")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    def count(f: => Unit): Int = {
      Thread.sleep(500) // listener events are async; drain
      jobs.set(0)
      f
      Thread.sleep(500)
      jobs.get()
    }
    try {
      var merges = Seq.empty[Bpe.Merge]
      val nTrain = count { merges = Bpe.train(df, "text", rounds = 10) }
      assert(merges.length == 10)
      assert(nTrain <= 2, s"train: $nTrain jobs")
      val nTok = count { Bpe.tokenize(df, "doc_id", "text", merges).collect() }
      assert(nTok <= 2, s"tokenize: $nTok jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("ewma weights: the integer closed form equals the s_t recurrence") {
    // mirrors SparkEntry.ewmaCoefs (q187): c_0 = 3^16, c_t = 4^(t-1)*3^(16-t)
    def p(b: Long, e: Int): Long = (1 to e).foldLeft(1L)((acc, _) => acc * b)
    val coefs = (0 to 16).map(tt => if (tt == 0) p(3, 16) else p(4, tt - 1) * p(3, 16 - tt))
    assert(coefs.sum == p(4, 16)) // weights sum to 1 at scale 4^16
    var st = 20260819L
    def nextInt(n: Int): Int = {
      st ^= st << 13; st ^= st >>> 7; st ^= st << 17
      ((st >>> 11) % n).toInt
    }
    (1 to 50).foreach { _ =>
      val xs = (0 to 16).map(_ => nextInt(10000).toLong)
      // u_t = 4^t·s_t with s_t = (x_t + 3·s_{t-1})/4 ⇒ u_t = 4^(t-1)·x_t + 3·u_{t-1}, u_0 = x_0
      val uRec = (1 to 16).foldLeft(xs(0)) { (u, t) => p(4, t - 1) * xs(t) + 3 * u }
      val uClosed = coefs.zip(xs).map { case (c, x) => c * x }.sum
      assert(uRec == uClosed)
    }
  }
}
