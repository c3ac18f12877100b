package graft

import graft.operators.{TextOps, TrainsetOps}
import graft.sources.Tables
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {
  import spark.implicits._

  test("stats golden") {
    val df = Seq((1L, "ab cde f")).toDF("doc_id", "text")
    val r = TextOps.stats(df).head()
    assert(r.getInt(1) == 8) // chars
    assert(r.getInt(2) == 3) // tokens
    assert(r.getInt(3) == 3) // distinct
    assert(r.getDouble(4) == 2.0) // (8 - 2) / 3
  }

  test("quality: repeated single token scores low diversity") {
    val df = Seq(
      (1L, Seq.fill(30)("word").mkString(" ")),
      (2L, (1 to 30).map(i => if (i % 5 == 0) "the" else s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out =
      TextOps.quality(df).collect().map(r => r.getLong(0) -> r.getString(6)).toMap
    assert(out(1L) == "low" || out(1L) == "medium") // diversity 1/30 fails
    assert(out(2L) == "high")
  }

  test("langId is total and deterministic over the corpus") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val out = TextOps.langIdSummary(docs)
    assert(out.agg(org.apache.spark.sql.functions.sum("n_docs")).head().getLong(0) == docs.count())
    val langs = TextOps.LangMarkers.map(_._1).toSet
    out.collect().foreach(r => assert(langs.contains(r.getString(1))))
  }

  test("winnowing: identical docs share all fingerprints; shared substrings overlap") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "a quick brown fox jumps over a sleepy cat!!"),
      (4L, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"))
      .toDF("doc_id", "text")
    val fp = docs
      .select(col("doc_id"), TextOps.winnowFingerprints(col("text")).as("fp"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
      .toMap
    assert(fp(1L) == fp(2L)) // identical docs → identical fingerprints
    assert(fp(1L).intersect(fp(3L)).nonEmpty) // long shared substring → overlap
    assert(fp(1L).intersect(fp(4L)).isEmpty) // nothing shared
    assert(fp(4L).size == 1) // uniform text → single repeated k-gram hash
  }

  test("winnowing: native kernel equals the HOF formulation (incl. edges)") {
    import org.apache.spark.sql.functions._
    // edge cases: exactly k+w-1=8 chars, one under, uniform text, repeated
    // phrase (dedup path), multi-byte code points (surrogate-aware walk),
    // plus the sf0.001 corpus for breadth
    val edges = Seq(
      (9001L, "abcdefgh"),
      (9002L, "abcdefg"),
      (9003L, "aaaaaaaaaaaa"),
      (9004L, "ab ab ab ab ab ab"),
      (9005L, "héllo wörld héllo wörld"),
      (9006L, "日本語のテキストで確認する"),
      (9007L, "mixed 日本語 and ascii text here"))
      .toDF("doc_id", "text")
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
      .unionAll(edges)
    val native = graft.functions.GraftFunctions.winnowFp(col("text"))
    // the HOF twin's hash stage is materialized before its minima stage:
    // evaluated as one nested column it is O(len²·k) per row
    val hashed = docs
      .select(col("doc_id"), col("text"), native.as("a"), TextOps.winnowHashes(col("text")).as("h"))
      .localCheckpoint()
    val diff = hashed
      .select(col("a"), TextOps.winnowMinima(col("text"), col("h")).as("b"))
      .filter(not(col("a") <=> col("b")))
      .count()
    assert(diff == 0L)
  }

  test("repetition: native kernel equals the declarative formulation (incl. edges)") {
    import org.apache.spark.sql.functions._
    // empty string (one empty token), single token, consecutive spaces
    // (empty segments kept, like string_split), exactly-5-token boundary,
    // fully repeated phrase, multi-byte tokens
    val edges = Seq(
      (9001L, ""),
      (9002L, "one"),
      (9003L, "a  b   c"),
      (9004L, "v w x y z"),
      (9005L, Seq.fill(12)("ab cd").mkString(" ")),
      (9006L, "日本 語 の 日本 語 の テスト"))
      .toDF("doc_id", "text")
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
      .unionAll(edges)
    val native = TextOps.repetitionSignals(docs).collect()
    val decl = TextOps.repetitionSignalsDeclarative(docs).collect()
    graft.operators.DedupOps.releaseShingleCaches()
    assert(native.length == decl.length)
    native.zip(decl).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
  }

  test("tokenCounts: native kernel equals size(split) / size(array_distinct(split))") {
    val edges = Seq(
      (9001L, ""),
      (9002L, "one"),
      (9003L, "a  b   c"),
      (9004L, "x x x x x"),
      (9005L, "日本 語 の 日本 語 の テスト"))
      .toDF("doc_id", "text")
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
      .unionAll(edges)
    val native = docs
      .select(col("doc_id"),
        graft.functions.GraftFunctions.tokenCounts(col("text")).as("tc"))
      .select(col("doc_id"), col("tc.n_tokens"), col("tc.n_distinct"))
      .orderBy(col("doc_id")).collect()
    val decl = docs
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).as("n_tokens"),
        size(array_distinct(TextOps.tokens(col("text")))).as("n_distinct"))
      .orderBy(col("doc_id")).collect()
    assert(native.length == decl.length)
    native.zip(decl).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
  }

  test("winnowing: short docs fingerprint to empty") {
    import org.apache.spark.sql.functions._
    val fp = Seq((1L, "abcdefg"))
      .toDF("doc_id", "text") // length 7 < k + w - 1 = 8
      .select(TextOps.winnowFingerprints(col("text")).as("fp"))
      .head()
      .getSeq[Long](0)
    assert(fp.isEmpty)
  }

  test("bigramNll golden: hand-computed add-one NLL; word order changes the score") {
    // corpus: "a b a b" + "b a" → V=2, c("a b")=2, c("b a")=2, c1(a)=2, c1(b)=2
    // every bigram: ln(c1+V) − ln(c12+1) = ln(4) − ln(3)
    val docs = Seq((1L, "a b a b"), (2L, "b a")).toDF("doc_id", "text")
    val out = TextOps.bigramNll(docs).collect()
    val want = BigDecimal(math.log(4.0) - math.log(3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.map(_.getLong(1)).toSeq == Seq(3L, 1L)) // bigram counts
    out.foreach(r => assert(math.abs(r.getDouble(3) - want) < 2e-6))
    graft.operators.DedupOps.releaseShingleCaches()
    // order sensitivity: same unigram bag, different order → different NLL
    val ordered = Seq((1L, "x y x y x y"), (2L, "x y")).toDF("doc_id", "text")
    val shuffled = Seq((1L, "x x x y y y"), (2L, "x y")).toDF("doc_id", "text")
    val a = TextOps.bigramNll(ordered).collect().head.getDouble(3)
    graft.operators.DedupOps.releaseShingleCaches()
    val b = TextOps.bigramNll(shuffled).collect().head.getDouble(3)
    graft.operators.DedupOps.releaseShingleCaches()
    assert(a != b, "bigram model must be order-sensitive (unigram NLL is not)")
    assert(a < b, "the repeated in-domain transition must be cheaper")
  }

  test("seqLenHistogram: bit-length buckets and exact pad accounting") {
    val docs = Seq(
      (1L, "a"),                                    // nt=1   → bucket 1, 1 seq, 511 pad
      (2L, Seq.fill(500)("w").mkString(" ")),       // nt=500 → bucket 9, 1 seq, 12 pad
      (3L, Seq.fill(513)("w").mkString(" ")),       // nt=513 → bucket 10, 2 seqs, 511 pad
      (4L, Seq.fill(300)("w").mkString(" "))        // nt=300 → bucket 9, 1 seq, 212 pad
    ).toDF("doc_id", "text")
    val out = TextOps.seqLenHistogram(docs).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(out == Map(
      1 -> (1L, 1L, 1L, 511L),
      9 -> (2L, 800L, 2L, 224L),
      10 -> (1L, 513L, 2L, 511L)))
  }

  test("token counts: ws vs regex vs bpe-ish on a golden doc") {
    val df = Seq((1L, "abc de12 fghij", "en")).toDF("doc_id", "text", "lang")
    val r = TextOps.tokenCounts(df).head()
    assert(r.getLong(1) == 1) // n_docs
    assert(r.getLong(2) == 3) // ws tokens
    assert(r.getLong(3) == 3) // [a-z]+: abc, de, fghij
    assert(r.getLong(4) == 4) // [a-z]{1,4}: abc, de, fghi, j
  }

  test("pmiBigrams golden: exclusive pair beats promiscuous pair; minCount prunes") {
    // corpus: "x y" ×5 (x also pairs with many partners), "z z" ×5
    // (z pairs only with z), "x a1..a4" once each (below minCount).
    val docs = Seq(
      (1L, Seq.fill(5)("x y").mkString(" ")), // pairs: (x,y)×5, (y,x)×4
      (2L, Seq.fill(6)("z").mkString(" ")), // (z,z)×5
      (3L, "x a1 x a2 x a3 x a4")) // (x,a_i)/(a_i,x) ×1 each
      .toDF("doc_id", "text")
    val out = TextOps.pmiBigrams(docs, minCount = 5L, topK = 20).collect()
    val pairs = out.map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("x", "y"), ("z", "z"))) // ×4 and ×1 pairs pruned
    val byPair = out.map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    // hand-check against the operator's exact division sequence:
    // pairs total Tp = 9+5+7 = 21; unigrams x:9, y:5, z:6, a_i:1 → T = 24
    def pmi(cp: Long, c1: Long, c2: Long): Double = {
      val v = math.log(cp / 21.0 / (c1 / 24.0) / (c2 / 24.0))
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(byPair(("x", "y")) == pmi(5, 9, 5))
    assert(byPair(("z", "z")) == pmi(5, 6, 6))
    // z-z is the more exclusive collocation → strictly higher PMI, first row
    assert(byPair(("z", "z")) > byPair(("x", "y")))
    assert((out.head.getString(0), out.head.getString(1)) == ("z", "z"))
  }

  test("zipfSlope equals the window-ranked OLS twin; near -1 on a Zipf corpus") {
    import org.apache.spark.sql.expressions.Window
    // frequencies ~ 24/rank over 8 terms (true Zipf), one language
    val words = (1 to 8).flatMap(r => Seq.fill(24 / r)(s"w$r"))
    val docs = Seq((1L, words.mkString(" "), "en")).toDF("doc_id", "text", "lang")
    val out = TextOps.zipfSlope(docs).collect()
    assert(out.length == 1)
    val row = out.head
    assert(row.getLong(1) == 8)
    // twin: explicit window rank + the same nano-quantized closed form
    val tc = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("c").desc, col("tok"))))
      .select("c", "rk").collect().map(r => (r.getLong(0), r.getInt(1)))
    val xs = tc.map { case (_, rk) => math.round(math.log(rk) * 1e9) }
    val ys = tc.map { case (c, _) => math.round(math.log(c) * 1e9) }
    val n = BigInt(xs.length)
    val sx = xs.map(BigInt(_)).sum; val sy = ys.map(BigInt(_)).sum
    val sxx = xs.map(x => BigInt(x) * x).sum
    val sxy = xs.zip(ys).map { case (x, y) => BigInt(x) * y }.sum
    val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
    val expected =
      BigDecimal(slope).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getDouble(2) == expected)
    assert(math.abs(row.getDouble(2) + 1.0) < 0.1) // Zipf corpus → slope ≈ −1
    assert(row.getDouble(4) > 0.98) // near-perfect log-log fit
  }

  test("sourceLexicalDiversity golden: ttr and hapax share") {
    val docs = Seq(
      (1L, "a a a a b", "s1"), // s1: 5 tokens, 2 terms, 1 hapax (b)
      (2L, "c d e", "s2"), // s2 over both docs: 6 tokens, 5 terms
      (3L, "c f g", "s2")) // hapaxes: d e f g → 4
      .toDF("doc_id", "text", "source")
    val out = TextOps.sourceLexicalDiversity(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    assert(out("s1") == ((5L, 2L, 1L, 0.4, 0.5)))
    assert(out("s2") == ((6L, 5L, 4L, 0.833333, 0.8)))
  }

  test("splitLeakage equals a collected replay of split × 8-gram overlap") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val got = TextOps.splitLeakage(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val splitOf = TextOps.datasetSplit(docs).select(col("doc_id"), col("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val grams = graft.operators.DedupOps.shingleRows(docs, 8)
      .select(col("doc_id"), col("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    graft.operators.DedupOps.releaseShingleCaches()
    val byGram = grams.groupBy(_._2).view
      .mapValues(_.map(p => splitOf(p._1)).toSet).toMap
    val byDoc = grams.groupBy(_._1).view
      .mapValues(_.map(p => byGram(p._2)).toSet.flatten).toMap
    def expect(a: String, b: String) = {
      val shared = byGram.values.count(s => s.contains(a) && s.contains(b)).toLong
      val evalDocs = splitOf.collect { case (id, s) if s == b => id }
      val leaked = evalDocs.count(id => byDoc.getOrElse(id, Set.empty).contains(a)).toLong
      val total = evalDocs.size.toLong
      val ratio = BigDecimal(leaked.toDouble / total.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (shared, leaked, total, ratio)
    }
    assert(got("train->val") == expect("train", "val"))
    assert(got("train->test") == expect("train", "test"))
    assert(got("val->test") == expect("val", "test"))
    // cross-doc 8-gram overlap exists in this corpus → the audit sees it
    assert(got.values.map(_._2).sum > 0L, "expected nonzero cross-split 8-gram leakage")
  }

  test("docKeywords golden: hand-computed TF-IDF ranks and values") {
    val docs = Seq(
      (1L, "apple apple banana the"),
      (2L, "banana cherry the"),
      (3L, "the the the"))
      .toDF("doc_id", "text")
    val out = TextOps.docKeywords(docs, k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getString(2), r.getDouble(3))))
      .toMap
    // df: apple 1, banana 2, cherry 1, the 3 (idf 0) over N=3
    assert(out((1L, 1)) == (("apple", 2.197225))) // 2·nano(ln 3)
    assert(out((1L, 2)) == (("banana", 0.405465))) // nano(ln 1.5)
    assert(out((1L, 3)) == (("the", 0.0)))
    assert(out((2L, 1)) == (("cherry", 1.098612)))
    assert(out((2L, 2)) == (("banana", 0.405465)))
    assert(out((3L, 1)) == (("the", 0.0)))
    assert(!out.contains((3L, 2))) // single-term doc yields one keyword
  }

  test("trainingOrder: md5-ordered head, dense ord, stable across runs") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val out = TrainsetOps.trainingOrder(docs, sample = 50).collect()
    assert(out.length == 50)
    assert(out.map(_.getInt(2)).sorted.toSeq == (1 to 50))
    val sorted = out.sortBy(_.getInt(2))
    val keys = sorted.map(_.getString(1))
    assert(keys.zip(keys.tail).forall { case (a, b) => a <= b }) // hash order
    // the head is the global minimum of the hash order, not an arbitrary 50
    val minKey = docs.select(min(md5(col("doc_id").cast("string")))).head().getString(0)
    assert(keys.head == minKey)
    val again = TrainsetOps.trainingOrder(docs, sample = 50).collect().sortBy(_.getInt(2))
    assert(sorted.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
  }

  test("sourceDivergence == brute-force JSD; bounds [0, ln 2]; identical source ≈ 0") {
    val docs = Seq(
      (1L, "a b c a", "s1"), (2L, "a b", "s1"),
      (3L, "c c d d", "s2"), (4L, "d e", "s2"),
      (5L, "a b c a a b", "s3")).toDF("doc_id", "text", "source")
    val got = TextOps.sourceDivergence(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val rows = Seq((1L, "a b c a", "s1"), (2L, "a b", "s1"), (3L, "c c d d", "s2"),
      (4L, "d e", "s2"), (5L, "a b c a a b", "s3"))
      .flatMap { case (_, t, s) => t.split(" ").map(s -> _) }
    val n = rows.size.toDouble
    val corpus = rows.groupBy(_._2).view.mapValues(_.size / n).toMap
    for ((src, grp) <- rows.groupBy(_._1)) {
      val ts = grp.size.toDouble
      val p = grp.groupBy(_._2).view.mapValues(_.size / ts).toMap
      val jsd = corpus.keys.map { tok =>
        val pv = p.getOrElse(tok, 0.0); val qv = corpus(tok)
        val m = (pv + qv) / 2.0
        (if (pv > 0) 0.5 * pv * math.log(pv / m) else 0.0) + 0.5 * qv * math.log(qv / m)
      }.sum
      val (gn, gj) = got(src)
      assert(gn == grp.size, s"$src token count")
      assert(math.abs(gj - jsd) <= 1e-6, s"$src: $gj vs brute $jsd")
      assert(gj >= -1e-9 && gj <= math.log(2) + 1e-9)
    }
    // a source that IS the corpus mixture diverges less than a skewed one
    assert(got("s2")._2 > got("s1")._2)
  }
}
