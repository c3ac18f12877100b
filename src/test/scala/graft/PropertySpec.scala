package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.core.{BinMethod, BinSpec, CodeFold}
import graft.operators.HistogramOps

/** ScalaCheck properties (SURVEY §5.2.3) — run through scalacheck's own
  * runner inside ScalaTest (the scalatestplus bridge isn't on the offline
  * classpath).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  // a fresh seed per run, named on failure so the failing case replays
  // through `Seed.fromBase64`
  private def check(p: Prop, n: Int = 30): Unit = {
    val seed = Seed.random()
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n).withInitialSeed(seed), p)
    assert(res.passed, s"${res.status} (seed ${seed.toBase64})")
  }

  test("BinSpec: derive is total and bins == hi - lo on sane ranges") {
    check(Prop.forAll(Gen.chooseNum(-1000.0, 1000.0), Gen.chooseNum(0.0, 1000.0)) {
      (mn: Double, span: Double) =>
        val mx = mn + span
        val lin = BinSpec.derive(mn, mx, BinMethod.Linear)
        val log = BinSpec.derive(mn, mx, BinMethod.Log)
        lin.bins == lin.hi - lin.lo && lin.bins >= 20 &&
        log.bins == log.hi - log.lo && log.offset >= 0.0 &&
        (mn > 0 || log.offset == math.abs(mn) + 1)
    }, n = 100)
  }

  test("histogram mass conservation: sum(counts) == #in-range codes") {
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(-50, 150))
    check(Prop.forAll(gen) { xs: List[Int] =>
      // the fold's dense step over the codes' counts
      val codeCounts = xs.toDF("code").groupBy("code").count().as[(Int, Long)].collect()
      val total = BinSpec(0, 100, 0.0, BinMethod.Linear).dense(codeCounts).sum
      total == xs.count(x => x >= 0 && x <= 100)
    }, n = 15)
  }

  test("merge is commutative and preserves mass") {
    val gen = Gen.listOfN(10, Gen.chooseNum(0L, 20L))
    check(Prop.forAll(gen, gen) { (h1: List[Long], h2: List[Long]) =>
      // a code-row set (CodeFold.Schema) per histogram: code = bin
      def rows(h: List[Long]) = spark.createDataFrame(
        java.util.Arrays.asList(h.zipWithIndex.map { case (c, b) => Row(b, c, null, null, null, null) }: _*),
        CodeFold.Schema)
      def merged(x: List[Long], y: List[Long]) =
        HistogramOps.mergeCodes(rows(x).union(rows(y))).counts.sortBy(_._1).map(_._2).toSeq
      val ab = merged(h1, h2)
      val ba = merged(h2, h1)
      ab == ba && ab.sum == h1.sum + h2.sum
    }, n = 10)
  }

  test("quantize is order-preserving over positive values (linear)") {
    val spec = BinSpec(0, 100000, 0.0, BinMethod.Linear)
    val gen = Gen.listOfN(20, Gen.chooseNum(0.0, 900.0))
    check(Prop.forAll(gen) { xs: List[Double] =>
      val sorted = xs.sorted
      val codes = sorted
        .toDF("value")
        .select(HistogramOps.quantize(col("value"), spec).as("c"))
        .collect()
        .map(_.getInt(0))
        .toSeq
      codes == codes.sorted
    }, n = 10)
  }

  /** `np.histogram` over the reference's codes in plain Scala: the spec
    * from the valid values' min/max (after `clampToZero`) or both bounds,
    * codes `trunc(v·100)` / `trunc(ln(v + off)·1000)` with no code where
    * Spark's `log` is null, codes outside `[lo, hi]` dropped and code `hi`
    * in the closed last bin; `(edge, count)` per bin.
    */
  private def npHistogram(xs: Seq[Option[Double]], cfg: graft.HistogramConfig): Seq[(Double, Long)] = {
    val valid = xs.flatten.filterNot(_.isNaN)
    val (mn, mx) = (cfg.minValue, cfg.maxValue) match {
      case (Some(a), Some(b)) => (a, b)
      case _ =>
        val (a, b) = if (valid.isEmpty) (0.0, 0.0) else (valid.reduce(_ min _), valid.reduce(_ max _))
        if (cfg.clampToZero) (math.min(a, 0.0), math.max(b, 0.0)) else (a, b)
    }
    val spec = BinSpec.derive(mn, mx, cfg.method)
    val off = if (cfg.legacyLogOffset100) 100.0 else spec.offset
    val codes = valid.flatMap { v =>
      if (cfg.method == BinMethod.Linear) Some((v * 100).toInt)
      else if (v + off > 0) Some((StrictMath.log(v + off) * 1000).toInt)
      else None
    }
    val counts = new Array[Long](spec.bins)
    for (c <- codes if c >= spec.lo && c <= spec.hi && spec.bins > 0)
      counts(math.min(c, spec.hi - 1) - spec.lo) += 1
    counts.toSeq.zipWithIndex.map { case (n, b) =>
      val c = spec.lo + b
      val edge =
        if (cfg.method == BinMethod.Linear) c / 100.0
        else StrictMath.exp(c / 1000.0) - spec.offset
      (edge, n)
    }
  }

  test("DataFrame histogram fold == a plain np.histogram fold on generated values") {
    import graft.{HistogramConfig, HistogramRunner}
    import BinMethod.{Linear, Log}
    // quarter steps in [-150, 400], NaN and null; `positive` lifts every
    // value above 0 (log with offset 0), `ties` repeats the max (log codes
    // it as hi, the closed last bin)
    val value = Gen.frequency(
      8 -> Gen.chooseNum(-600, 1600).map(i => Option(i / 4.0)),
      1 -> Gen.const(Option(Double.NaN)),
      1 -> Gen.const(Option.empty[Double]))
    val gen = for {
      base <- Gen.listOf(value)
      positive <- Gen.oneOf(true, false)
      ties <- Gen.chooseNum(0, 3)
      lo <- Gen.chooseNum(-80, 80).map(_ / 4.0)
      span <- Gen.chooseNum(0, 400).map(_ / 4.0)
    } yield {
      val xs = if (positive) base.map(_.map(v => math.abs(v) + 0.25)) else base
      val valid = xs.flatten.filterNot(_.isNaN)
      val withTies = xs ++ Seq.fill(if (valid.isEmpty) 0 else ties)(Some(valid.reduce(_ max _)))
      // values at the given max and one linear pad above it: code hi
      (withTies ++ Seq(Some(lo + span), Some(lo + span + 0.1)), lo, lo + span)
    }
    check(Prop.forAllNoShrink(gen) { case (xs, lo, hi) =>
      val df = xs.toDF("value")
      val cfgs = Seq(
        HistogramConfig("value", Linear),
        HistogramConfig("value", Log),
        HistogramConfig("value", Log, legacyLogOffset100 = true),
        HistogramConfig("value", Linear, clampToZero = true),
        HistogramConfig("value", Log, clampToZero = true),
        HistogramConfig("value", Linear, minValue = Some(lo), maxValue = Some(hi)),
        HistogramConfig("value", Log, minValue = Some(lo), maxValue = Some(hi)))
      cfgs.forall { cfg =>
        val got = HistogramRunner.run(df, cfg).collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
        got == npHistogram(xs, cfg)
      }
    }, n = 12)
  }

  test("deciles: percentiles ∈ {0..100}, counts sum to total") {
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(1L, 50L))
    check(Prop.forAll(gen) { counts: List[Long] =>
      val histo = counts.zipWithIndex
        .map { case (c, i) => (i.toDouble, c) }
        .toDF("value", "cnt")
      val out = graft.operators.PercentileOps.deciles(histo).collect()
      val percentiles = out.map(_.getLong(0))
      percentiles.forall(p => p >= 0 && p <= 100 && p % 10 == 0) &&
      out.map(_.getLong(3)).sum == counts.sum
    }, n = 10)
  }
  test("zValue is a bijection on 16-bit key pairs (local interleave model)") {
    // model the interleave in plain Scala and check injectivity + inverse
    def spread(x: Long): Long = {
      var v = x & 0xFFFFL
      v = (v | (v << 8)) & 0x00FF00FFL
      v = (v | (v << 4)) & 0x0F0F0F0FL
      v = (v | (v << 2)) & 0x33333333L
      (v | (v << 1)) & 0x55555555L
    }
    val pairGen = Gen.zip(Gen.chooseNum(0L, 65535L), Gen.chooseNum(0L, 65535L))
    check(Prop.forAll(pairGen, pairGen) { (a, b) =>
      val za = spread(a._1) | (spread(a._2) << 1)
      val zb = spread(b._1) | (spread(b._2) << 1)
      (a == b) == (za == zb)
    })
    // the Spark expression agrees with the model on a sample
    val sample = (0 until 200).map(i => ((i * 131L) % 65536, (i * 771L) % 65536))
    val got = sample
      .toDF("x", "y")
      .select(graft.operators.LayoutOps.zValue(col("x"), col("y")))
      .as[Long]
      .collect()
    val want = sample.map { case (x, y) => spread(x) | (spread(y) << 1) }
    assert(got.toSeq == want)
  }

  test("groupQuantiles: q is monotone in p and bounded by the group's range") {
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(-500.0, 500.0))
    check(Prop.forAll(gen) { xs: List[Double] =>
      val df = xs.map(v => ("g", v)).toDF("k", "v")
      val qs = graft.operators.ProfileOps
        .groupQuantiles(df, "k", "v")
        .collect()
        .map(r => r.getInt(1) -> r.getDouble(3))
        .sortBy(_._1)
      val cents = xs.map(v => (v * 100).toLong)
      val lo = cents.min / 100.0
      val hi = cents.max / 100.0
      qs.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)) &&
      qs.forall { case (_, q) => q >= lo - 1e-9 && q <= hi + 1e-9 }
    }, n = 15)
  }

  test("skyline2d: kept points undominated, dropped points dominated (random point sets)") {
    val gen = Gen.listOfN(40, Gen.zip(Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 15L)))
    check(Prop.forAll(gen) { pts0 =>
      val pts = pts0.zipWithIndex.map { case ((x, y), i) => (x, y, i.toLong) }
      val kept = graft.operators.ProfileOps
        .skyline2d(pts.toDF("x", "y", "id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      def dominates(p: (Long, Long), q: (Long, Long)) =
        p._1 <= q._1 && p._2 <= q._2 && (p._1 < q._1 || p._2 < q._2)
      val all = pts.map(t => (t._1, t._2))
      pts.forall { case t @ (x, y, _) =>
        val dominated = all.exists(p => dominates(p, (x, y)))
        if (kept.contains(t)) !dominated else dominated
      }
    }, n = 15)
  }

  test("rebalanceClasses: every label lands on the max count for random multisets") {
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(0, 4)).map(_.take(60))
    check(Prop.forAll(gen) { labels: List[Int] =>
      val df = labels.zipWithIndex.map { case (l, i) => (i.toLong, l) }.toDF("vec_id", "label")
      val out = graft.operators.TrainsetOps.rebalanceClasses(df).collect()
      val t = out.map(_.getLong(1)).max
      out.forall(_.getLong(2) == t)
    }, n = 15)
  }

  test("profileColumns: two-level distinct aggregate matches brute force incl. null/NaN") {
    // guards the round-7 manual rewrite (groupBy(col,v)+fold replaced the
    // Expand-planning countDistinct mix): n_rows counts everything,
    // NaN counts as missing, cents sum truncates per VALUE times its
    // multiplicity, distinct skips nulls
    val cell: Gen[Option[Double]] = Gen.frequency(
      6 -> Gen.chooseNum(-500.0, 500.0).map(Some(_)),
      1 -> Gen.const(Some(Double.NaN)),
      1 -> Gen.const(Option.empty[Double]),
      2 -> Gen.chooseNum(-5, 5).map(i => Some(i.toDouble))) // forced collisions
    val gen = Gen.nonEmptyListOf(Gen.zip(cell, cell))
    check(Prop.forAll(gen) { rows: List[(Option[Double], Option[Double])] =>
      val df = rows.toDF("a", "b")
      val out = graft.operators.ProfileOps
        .profileColumns(df, Seq("a", "b"))
        .collect()
        .map(r => r.getString(0) -> r)
        .toMap
      Seq("a" -> rows.map(_._1), "b" -> rows.map(_._2)).forall { case (name, vs) =>
        val clean = vs.flatten.filterNot(_.isNaN) // NaN => missing (nanAsNull)
        val r = out(name)
        val centsOk =
          if (clean.isEmpty) r.isNullAt(6)
          else r.getLong(6) == clean.map(v => (v * 100.0).toLong).sum
        r.getLong(1) == vs.size &&
        r.getLong(2) == clean.size &&
        r.getLong(3) == clean.distinct.size &&
        (clean.nonEmpty || (r.isNullAt(4) && r.isNullAt(5))) &&
        (clean.isEmpty || (r.getDouble(4) == clean.min && r.getDouble(5) == clean.max)) &&
        centsOk
      }
    }, n = 25)
  }

  test("pmiBigrams matches brute force (values, ordering, minCount) on random corpora") {
    val word = Gen.oneOf("a", "b", "c", "d", "e")
    val doc = Gen.chooseNum(2, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val gen = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, doc))
    check(Prop.forAll(gen) { docs: List[String] =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = graft.operators.TextOps
        .pmiBigrams(df, minCount = 2L, topK = 10)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toList
      val toks = docs.map(_.split(" ").toList)
      val pairCnt = toks.flatMap(ts => ts.zip(ts.tail)).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val uniCnt = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val tp = pairCnt.values.sum.toDouble
      val t = uniCnt.values.sum.toDouble
      val want = pairCnt.toList
        .filter(_._2 >= 2L)
        .map { case ((w1, w2), cp) =>
          val v = math.log(cp / tp / (uniCnt(w1) / t) / (uniCnt(w2) / t))
          (w1, w2, cp, BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .sortBy { case (w1, w2, _, pmi) => (-pmi, w1, w2) }
        .take(10)
      got == want
    }, n = 12)
  }

  test("trainingOrder head equals the global md5-order head for random id sets") {
    val md = () => java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md().digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val gen = Gen.chooseNum(1, 60).flatMap(n => Gen.listOfN(n, Gen.chooseNum(0L, 5000L))).map(_.distinct)
    check(Prop.forAll(gen) { ids: List[Long] =>
      val df = ids.map(id => (id, s"t$id")).toDF("doc_id", "text")
      val got = graft.operators.TrainsetOps
        .trainingOrder(df, sample = 20)
        .collect()
        .sortBy(_.getInt(2))
        .map(r => (r.getLong(0), r.getString(1)))
        .toList
      val want = ids
        .map(id => (id, md5hex(id.toString)))
        .sortBy { case (id, h) => (h, id) }
        .take(20)
      got == want
    }, n = 12)
  }

  test("zoneSkipping matches a brute-force replay on random day sequences") {
    val gen = for {
      n <- Gen.chooseNum(1, 120)
      days <- Gen.listOfN(n, Gen.chooseNum(50, 80))
      fileRows <- Gen.oneOf(3, 5, 16)
      lo <- Gen.chooseNum(50, 80)
      span <- Gen.chooseNum(0, 15)
    } yield (days, fileRows, lo, lo + span)
    check(Prop.forAll(gen) { case (days: List[Int], fileRows: Int, lo: Int, hi: Int) =>
      val rows = days.zipWithIndex.map { case (d, i) =>
        (i.toLong + 1, 1, new java.sql.Date(d * 86400000L))
      }
      val got = graft.operators.LayoutOps
        .zoneSkipping(rows.toDF("l_orderkey", "l_linenumber", "l_shipdate"), fileRows, lo, hi)
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
      def replay(sorted: List[Int]) = {
        val files = sorted.grouped(fileRows).toList
        val scanned = files.filter(f => f.max >= lo && f.min <= hi)
        val ratio = BigDecimal(1.0 - scanned.map(_.size).sum.toDouble / sorted.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (files.size.toLong, scanned.size.toLong, scanned.map(_.size).sum.toLong, ratio)
      }
      // natural = orderkey order = input order; sorted = by (day, orderkey)
      got("natural") == replay(days) &&
      got("shipdate") == replay(days.zipWithIndex.sortBy { case (d, i) => (d, i) }.map(_._1))
    }, n = 12)
  }

  test("joinSizeEstimate is one-sided and exact without collisions (random multisets)") {
    // ≤ 6 distinct keys over 4×1024 buckets: P(some pair collides in all
    // 4 depth rows) ~ (15/1024)^4 ≈ 5e-8 — the min over rows recovers the
    // exact inner product
    val key = Gen.chooseNum(0, 5).map(i => s"k$i")
    val side = Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n, key))
    check(Prop.forAll(side, side) { (xs: List[String], ys: List[String]) =>
      val r = graft.operators.SketchOps
        .joinSizeEstimate(xs.toDF("k"), col("k"), ys.toDF("k"), col("k"))
        .head()
      val ca = xs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val cb = ys.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val exact = ca.map { case (k, c) => c * cb.getOrElse(k, 0L) }.sum
      r.getLong(0) == exact && r.getLong(1) == exact
    }, n = 12)
  }

  test("docKeywords matches a brute-force TF-IDF replay on random corpora") {
    val word = Gen.oneOf("a", "b", "c", "d", "e", "f")
    val doc = Gen.chooseNum(1, 10).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val gen = Gen.chooseNum(2, 7).flatMap(n => Gen.listOfN(n, doc))
    check(Prop.forAll(gen) { docs: List[String] =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = graft.operators.TextOps.docKeywords(df, k = 2).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))).toList
      val tf = docs.zipWithIndex.flatMap { case (t, i) =>
        t.split(" ").groupBy(identity).map { case (w, g) => (i.toLong, w, g.length.toLong) }
      }
      val dfreq = tf.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val nd = docs.size.toDouble
      val want = tf
        .map { case (d, w, c) =>
          (d, w, c * math.round(math.log(nd / dfreq(w)) * 1e9))
        }
        .groupBy(_._1).toList
        .flatMap { case (d, rows) =>
          rows.sortBy { case (_, w, nano) => (-nano, w) }.take(2).zipWithIndex.map {
            case ((_, w, nano), i) =>
              val v = BigDecimal(nano.toDouble / 1e9)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
              (d, i + 1, w, v)
          }
        }
        .sortBy { case (d, rk, _, _) => (d, rk) }
      got == want
    }, n = 12)
  }

  test("labelNoise matches a brute-force kNN replay on random labeled points") {
    // zero vectors excluded: their cosine is null on both sides, and the
    // operator ranks null-cos rows last while a replay would drop them —
    // a modeling choice this property doesn't exercise
    val pt = Gen.zip(Gen.chooseNum(-5, 5), Gen.chooseNum(-5, 5), Gen.chooseNum(0, 2))
    val gen = Gen.chooseNum(4, 14)
      .flatMap(n => Gen.listOfN(n, pt))
      .map(_.distinct.filter(p => p._1 != 0 || p._2 != 0))
      .suchThat(_.size >= 2)
    check(Prop.forAll(gen) { pts: List[(Int, Int, Int)] =>
      val k = 3
      val rows = pts.zipWithIndex.map { case ((x, y, l), i) =>
        (i.toLong, Array(x.toFloat, y.toFloat), l)
      }
      val df = rows.toDF("vec_id", "embedding", "label")
      val got = graft.operators.SimilarityOps.labelNoise(df, k = k, probeEvery = 1)
        .collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
      // replay: cosine rounded to 6dp (the operator's pre-rank rounding),
      // rank by (cos desc, id), agreement over the top-k
      def cos(a: Array[Float], b: Array[Float]): java.lang.Double = {
        val dot = a.zip(b).map { case (p, q) => p.toDouble * q }.sum
        val na = math.sqrt(a.map(p => p.toDouble * p).sum)
        val nb = math.sqrt(b.map(p => p.toDouble * p).sum)
        if (na == 0 || nb == 0) null
        else BigDecimal(dot / (na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val perProbe = rows.map { case (qid, qv, ql) =>
        val neigh = rows
          .filter(_._1 != qid)
          .flatMap { case (cid, cv, cl) => Option(cos(qv, cv)).map(c => (cid, cl, c.toDouble)) }
          .sortBy { case (cid, _, c) => (-c, cid) }
          .take(k)
        (ql, neigh.count(_._2 == ql).toLong)
      }
      val want = perProbe.groupBy(_._1).map { case (l, g) =>
        val n = g.size.toLong
        val m = g.map(_._2).sum
        val mean = BigDecimal(m.toDouble / (n * k).toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        l -> ((n, mean, g.count(_._2 * 2 < k).toLong))
      }
      got == want
    }, n = 10)
  }

  test("zipfSlope equals the explicit window-rank OLS twin on random corpora") {
    import org.apache.spark.sql.expressions.Window
    val word = Gen.oneOf((1 to 9).map(i => s"w$i"))
    val doc = Gen.chooseNum(3, 25).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val langDoc = Gen.zip(Gen.oneOf("en", "de"), doc)
    val gen = Gen.chooseNum(2, 6).flatMap(n => Gen.listOfN(n, langDoc))
    check(Prop.forAll(gen) { docs: List[(String, String)] =>
      val df = docs.zipWithIndex
        .map { case ((l, t), i) => (i.toLong, t, l) }
        .toDF("doc_id", "text", "lang")
      val got = graft.operators.TextOps
        .zipfSlope(df)
        .collect()
        // one distinct token: the slope is null (0/0), read as NaN
        .map(r => r.getString(0) -> ((r.getLong(1), if (r.isNullAt(2)) Double.NaN else r.getDouble(2))))
        .toMap
      val tc = df
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("lang").orderBy(col("c").desc, col("tok"))))
        .select("lang", "c", "rk").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      tc.groupBy(_._1).forall { case (lang, rows) =>
        val xs = rows.map { case (_, _, rk) => math.round(math.log(rk) * 1e9) }
        val ys = rows.map { case (_, c, _) => math.round(math.log(c) * 1e9) }
        val n = BigInt(xs.length)
        val sx = xs.map(BigInt(_)).sum; val sy = ys.map(BigInt(_)).sum
        val sxx = xs.map(x => BigInt(x) * x).sum
        val sxy = xs.zip(ys).map { case (x, y) => BigInt(x) * y }.sum
        val dxx = (n * sxx - sx * sx).toDouble
        val (gn, gs) = got(lang)
        if (dxx == 0.0) gn == rows.length.toLong // degenerate: slope NaN both ways
        else {
          val slope = (n * sxy - sx * sy).toDouble / dxx
          gn == rows.length.toLong &&
          gs == BigDecimal(slope).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
      }
    }, n = 8)
  }
}
