package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, Dedup, OrEquiJoin, RangeJoin}

/** Property-based operator laws: each rewritten/engineered operator is
  * equivalent to its naive specification on randomized small inputs —
  * nulls, ties, negatives, and empty sides included, the corners a fixed
  * fixture can miss. ScalaCheck drives the generation; each trial round-
  * trips through real Spark plans. */
class OperatorLawsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def check(name: String, prop: Prop, trials: Int = 12): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(trials), prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
  }

  // tiny alphabets force key collisions; None forces null-key paths
  private val keyGen = Gen.option(Gen.oneOf("a", "b", "c", "d"))
  private val leftGen = Gen.listOfN(25,
    Gen.zip(Gen.choose(0L, 1000L), keyGen, keyGen))
  private val rightGen = Gen.listOfN(8, Gen.zip(keyGen, keyGen))

  test("OR-equi left join rewrite law (random nullable keys)") {
    check("orJoin", Prop.forAll(leftGen, rightGen) { (l, r) =>
      val left = l.toDF("id", "k1", "k2")
      val right = r.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("rid", "r1", "r2")
      val naive = left.join(right,
        col("k1") === col("r1") || col("k2") === col("r2"), "left")
      val rewritten = OrEquiJoin.leftOrJoin(left, right, ("k1", "r1"), ("k2", "r2"))
      canon(rewritten) == canon(naive)
    })
  }

  test("as-of join law: equals per-row argmax (random times incl. ties)") {
    val evGen = Gen.listOfN(30,
      Gen.zip(Gen.choose(0L, 100000L), Gen.choose(0L, 3L), Gen.choose(0L, 20L)))
    check("asOf", Prop.forAll(evGen, evGen) { (l, r) =>
      val left = l.zipWithIndex.map { case ((_, k, t), i) => (i.toLong, k, t) }
        .toDF("id", "k", "t")
      val right = r.zipWithIndex.map { case ((_, k, t), i) => (i.toLong + 1000, k, t) }
        .toDF("rid", "k", "rt")
        // as-of needs a deterministic winner among equal (k, rt): keep max rid
        .groupBy("k", "rt").agg(max("rid").as("rid"))
      val got = AsOfJoin.asOfBackward(left, right, Seq("k"), "t", "rt")
        .select(col("id"), col("asof_rid"))
      val naive = left.as("e").join(right.as("p"),
          col("e.k") === col("p.k") && col("e.t") >= col("p.rt"), "left")
        .groupBy("id")
        .agg(max_by(col("rid"), struct(col("rt"), col("rid"))).as("asof_rid"))
      canon(got) == canon(naive)
    })
  }

  test("banded range join law (random signed doubles)") {
    val valsGen = Gen.listOfN(30, Gen.choose(-100.0, 100.0))
    check("rangeJoin", Prop.forAll(valsGen, valsGen, Gen.choose(1.0, 25.0)) {
      (l, r, width) =>
        val left = l.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("lid", "lv")
        val right = r.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("rid", "rv")
        val got = RangeJoin.binnedRangeJoin(left, right, "lv", "rv", width)
          .select("lid", "rid")
        val naive = left.crossJoin(right)
          .where(abs(col("lv") - col("rv")) <= width)
          .select("lid", "rid")
        canon(got) == canon(naive)
    })
  }

  test("rolling fingerprint law: equals a driver-side fold (portable), both in range, order-sensitive") {
    import graft.functions.TextFunctions
    val textGen = Gen.listOfN(20, Gen.listOfN(6,
      Gen.oneOf("alpha", "beta", "Gamma", "x1", "—", "beta")).map(_.mkString(" ")))
    check("rollingFp", Prop.forAll(textGen) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val got = df.select(col("id"),
          TextFunctions.fingerprintRollingPortable(col("text")).as("p"),
          TextFunctions.fingerprintRolling(col("text")).as("x"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      // driver-side reference fold for the portable variant
      val md = java.security.MessageDigest.getInstance("MD5")
      def ref(text: String): Long =
        text.trim.toLowerCase.split("\\s+", -1).foldLeft(0L) { (acc, w) =>
          val hex = md.digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
          val tok = java.lang.Long.parseLong(hex.substring(0, 7), 16)
          java.lang.Math.floorMod(acc * 1000003L + tok, 1L << 40)
        }
      got.forall { case (id, p, x) =>
        p == ref(texts(id.toInt)) && p >= 0 && p < (1L << 40) && x >= 0 && x < (1L << 40)
      }
    }, trials = 8)
  }

  test("connected components law: equals driver-side union-find") {
    val edgeGen = Gen.listOfN(15,
      Gen.zip(Gen.choose(0L, 11L), Gen.choose(0L, 11L)).suchThat(p => p._1 != p._2))
    check("components", Prop.forAll(edgeGen) { edges0 =>
      val edges = edges0.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      if (edges.isEmpty) true
      else {
        val got = Dedup.connectedComponents(
            edges.toDF("id_a", "id_b"), "id_a", "id_b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val gotStar = Dedup.connectedComponentsStar(
            edges.toDF("id_a", "id_b"), "id_a", "id_b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val gotLocal = Dedup.connectedComponentsLocal(
            edges.toDF("id_a", "id_b"), "id_a", "id_b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // reference: driver-side union-find
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = parent.keys.map(v => v -> find(v)).toMap
        got == want && gotStar == want && gotLocal == want
      }
    }, trials = 8)
  }

  test("large-star/small-star converges in O(log n) rounds on a path graph") {
    // a 64-node path has diameter 63 — label propagation needs ~63
    // rounds, the star variant must finish well inside 12
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponentsStar(path, "id_a", "id_b", maxIter = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 64)
    assert(got.values.forall(_ == 0L), "every node must label to the path minimum")
  }

  test("connected components with a reliable checkpoint dir matches the local path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val edges = Seq((5L, 3L), (3L, 9L), (20L, 21L)).toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reliable = Dedup.connectedComponents(edges, "id_a", "id_b",
        checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable === local)
    assert(local === Map(5L -> 3L, 3L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L))
  }

  test("checkpoint-dir guard qualifies the path: one UUID subdir per run") {
    // getCheckpointDir returns a fully-qualified URI; comparing it
    // against the caller's raw path never matched, so every iteration
    // re-invoked setCheckpointDir and minted a fresh UUID subdir.
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_guard")
    // a path graph forces multiple label-propagation iterations
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    Dedup.connectedComponents(chain, "id_a", "id_b",
      checkpointDir = Some(dir.toString)).collect()
    val subdirs = dir.toFile.listFiles().filter(_.isDirectory)
    assert(subdirs.length === 1,
      s"expected one UUID checkpoint subdir, got ${subdirs.map(_.getName).toSeq}")
  }

  test("driver union-find survives adversarial O(n) root chains") {
    // descending-order chain unions attach each new root UNDER the next
    // (p[n-1]=n-2, ...), building an O(n) parent chain that no find
    // traverses until the labeling pass — a recursive find would blow
    // the stack near the 2^20-edge gate; the iterative one must not
    val n = 100000
    val edges = (n - 1 to 1 by -1).map(i => (i.toLong - 1, i.toLong))
    val df = edges.toDF("id_a", "id_b").coalesce(1)
    val got = Dedup.connectedComponentsLocal(df, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === n)
    assert(got.values.forall(_ == 0L))
  }

  test("star clustering keeps one row per vertex when maxIter exhausts early") {
    // one alternating round cannot finish a 64-node path; the fallback
    // min-reduction must still emit exactly one (possibly non-minimal)
    // label per vertex rather than conflicting duplicates
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponentsStar(path, "id_a", "id_b", maxIter = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length === 64, s"got ${got.length} rows for 64 vertices")
    assert(got.map(_._1).distinct.length === 64)
    assert(got.forall { case (v, c) => c <= v })
  }

  test("new operators degrade cleanly on empty inputs") {
    import graft.operators.{Curation, Dedup, Similarity}
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val someDocs = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    // empty benchmark -> nothing is contaminated, every train row kept
    val dec = Dedup.decontaminate(someDocs, noDocs, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getBoolean(2)))
    assert(dec.toSeq === Seq((0L, false)))
    // empty corpora -> empty outputs, no exceptions
    assert(Dedup.removeBoilerplateSpans(noDocs, "doc_id", "text").count() === 0)
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.semDedup(noVecs, "vec_id", "embedding", 0.5).count() === 0)
    val noSrc = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
    assert(Curation.sourceStats(noSrc, "source", "text").count() === 0)
    assert(Curation.packSequences(noDocs.withColumn("lang", lit("en")),
      "lang", "doc_id", "text", 64L).count() === 0)
  }

  test("continuation-session operators degrade cleanly on empty inputs") {
    import graft.operators.{Curation, Dedup, FuzzyJoin, Graph, TimeSeries}
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Dedup.cdcChunks(noDocs, "doc_id", "text").count() === 0)
    assert(Dedup.containmentPairs(noDocs, "doc_id", "text").count() === 0)
    assert(Dedup.dedupExactBy(noDocs, Seq("text"), Seq(asc("doc_id"))).count() === 0)
    assert(FuzzyJoin.fuzzyPairs(noDocs, "doc_id", "text").count() === 0)
    assert(TimeSeries.gapFillLocf(
      Seq.empty[(String, Long, Double)].toDF("k", "h", "v"), "k", "h", "v")
      .count() === 0)
    assert(Graph.labelPropagation(noEdges, "src", "dst").count() === 0)
    assert(Graph.shortestHops(noEdges, "src", "dst",
      Seq(1L).toDF("seed"), "seed").count() === 0)
    val noChars = Seq.empty[(Long, String, Long)].toDF("doc_id", "source", "n_chars")
    assert(Curation.budgetSample(noChars, "source", "doc_id", "n_chars", 100L)
      .count() === 0)
    assert(Curation.dsirWeights(noDocs.withColumn("lang", lit("en")),
      col("lang") === "en", "doc_id", "text").count() === 0)
  }

  test("round-7 operators degrade cleanly on empty inputs") {
    import graft.operators.Tokenizer
    import graft.plans.FreqSketchExprs._
    import graft.plans.ThetaSketchExprs._
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // no corpus -> no merges learned, and segmenting nothing is nothing
    assert(Tokenizer.bpeTrain(noDocs, "text", 4).count() === 0)
    assert(Tokenizer.bpeSegment(noDocs.select(col("text").as("word")),
      "word", Seq(("a", "b"))).count() === 0)
    // sketch aggregates over zero rows: empty group set, no exceptions
    val noEv = Seq.empty[(Long, String)].toDF("user_id", "event_type")
    assert(noEv.groupBy("event_type")
      .agg(thetaEstimate(thetaSketchAgg(col("user_id"))).as("n"))
      .count() === 0)
    assert(noEv.groupBy("event_type")
      .agg(freqTopItems(freqSketchAgg(col("event_type")), lit(3)).as("top"))
      .count() === 0)
    // a global (no-group) frequency sketch of nothing: empty top list
    val top = Seq.empty[(String, String)].toDF("g", "t")
      .agg(freqTopItems(freqSketchAgg(col("t")), lit(3)).as("top"))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    assert(top.isEmpty)
  }

  test("dropReasons partitions the corpus and its kept set IS the curate output") {
    import graft.operators.Curation
    val docs = Lake(spark, sf0001).documents
    val cfg = Curation.Config(minQuality = 0.5, dropUnknownLang = true,
      sampleSixteenths = 8)
    val audited = Curation.dropReasons(docs, "doc_id", "text", cfg)
      .select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // a total partition: one verdict per input doc
    assert(audited.length === docs.count())
    assert(audited.map(_._1).distinct.length === audited.length)
    assert(audited.map(_._2).toSet.subsetOf(
      Set("low_quality", "unk_lang", "dup", "sampled_out", "kept")))
    // the kept set is exactly what the real pipeline emits
    val kept = audited.filter(_._2 == "kept").map(_._1).sorted.toSeq
    val curated = Curation.curate(docs, "doc_id", "text", cfg)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === curated)
  }

  test("repetition fractions match hand-computed values on pinned docs") {
    import graft.functions.TextFunctions._
    val df = Seq(
      "a a a b",  // top uni 3/4; bigrams [a a, a a, a b] -> top 2/3; dup 3/4
      "x",        // single token: top 1, no bigrams -> 0.0, dup 0
      "p q r s"   // all distinct: top 1/4, dup 0
    ).toDF("text")
    val got = df.select(
        topFreqFrac(tokens(col("text"))).as("tu"),
        topFreqFrac(wordShingles(col("text"), 2)).as("tb"),
        dupFrac(tokens(col("text"))).as("du"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    assert(got(0) === ((0.75, 2.0 / 3.0, 0.75)))
    assert(got(1) === ((1.0, 0.0, 0.0)))
    assert(got(2) === ((0.25, 1.0 / 3.0, 0.0)))
  }

  test("count-min sketch: row sums equal stream length, estimates dominate") {
    import graft.functions.CountMinAggregator
    val depth = 4; val width = 8
    val words = Seq("a", "b", "a", "c", "a", "b", "d", "e", "f", "a", "g", "b")
    val sketch = words.toDF("w")
      .agg(CountMinAggregator.countMin(depth, width)(col("w")))
      .head().getSeq[Long](0).toArray
    val exact = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // every row of the sketch accounts for every item exactly once
    (0 until depth).foreach { d =>
      assert(sketch.slice(d * width, (d + 1) * width).sum === words.size.toLong)
    }
    // point estimates never underestimate; with no collision they are exact
    exact.foreach { case (w, c) =>
      val est = (0 until depth)
        .map(d => sketch(d * width + CountMinAggregator.bucket(d, w, width))).min
      assert(est >= c, s"$w: est $est < exact $c")
    }
  }

  test("sequence packing: offsets within budget, contiguous running sums") {
    val docs = Lake(spark, sf0001).documents
    val packed = graft.operators.Curation
      .packSequences(docs, "lang", "doc_id", "text", budgetTokens = 128L)
      .collect()
    packed.foreach { r =>
      assert(r.getLong(5) >= 0 && r.getLong(5) < 128)       // pack_off
      assert(r.getLong(4) === r.getLong(3) / 128)           // pack_id
    }
    packed.groupBy(_.getString(0)).foreach { case (_, rows) =>
      rows.sortBy(_.getLong(1)).foldLeft(0L) { (acc, r) =>
        assert(r.getLong(3) === acc, "start_off must be the running token sum")
        acc + r.getLong(2)
      }
    }
  }

  test("source gate drops low-quality and low-volume sources exactly") {
    import graft.operators.Curation
    // ~100 stopword-rich tokens -> quality ~0.8; junk -> ~0.05
    val goodText = Seq.fill(12)("the cat and the dog of the house is here").mkString(" ")
    val docs = (
      (1 to 6).map(i => (s"g$i", "good", goodText)) ++
      (1 to 6).map(i => (s"j$i", "junk", "!!! ??? %%% ###")) ++
      (1 to 2).map(i => (s"t$i", "tiny", goodText))
    ).toDF("doc_id", "source", "text")
    val stats = Curation.sourceStats(docs, "source", "text",
        minDocs = 5L, minAvgQuality = 0.49)
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(stats === Map("good" -> true, "junk" -> false, "tiny" -> false))
    val kept = Curation.filterBySource(docs, "source", "text",
        minDocs = 5L, minAvgQuality = 0.49)
    assert(kept.select("source").distinct().collect().map(_.getString(0)).toSeq
      === Seq("good"))
  }

  test("per-source cap keeps at most N per source with contiguous best-first ranks") {
    import graft.operators.Curation
    val docs = Lake(spark, sf0001).documents
    val capped = Curation.capPerSource(docs, "source", "doc_id", "text", maxDocs = 7)
      .select("source", "q_micro", "rank_in_source").collect()
    capped.groupBy(_.getString(0)).foreach { case (src, rows) =>
      assert(rows.length <= 7, s"$src over cap")
      val ranks = rows.map(_.getInt(2)).sorted.toSeq
      assert(ranks === (1 to rows.length), s"$src ranks not contiguous")
      // best-first: ranks ascend as micro-quality descends
      assert(rows.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq
        .sliding(2).forall(w => w.length < 2 || w(0) >= w(1)),
        s"$src not ranked quality-descending")
    }
  }

  test("mixture rebalance keeps the smallest stratum whole and is deterministic") {
    import graft.operators.Curation
    val docs = Lake(spark, sf0001).documents.select("doc_id", "lang")
    val out = Curation.rebalanceEqual(docs, "lang", "doc_id")
    val counts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val minLang = counts.minBy(t => (t._2, t._1))
    val keptCounts = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the floor(256*min/n) threshold gives the smallest stratum 256/256
    assert(keptCounts(minLang._1) === counts(minLang._1),
      "smallest stratum must be kept whole")
    // ...and the same call twice is bit-identical (pure hash membership)
    assert(out.collect().map(_.toString).sorted.toSeq ===
      Curation.rebalanceEqual(docs, "lang", "doc_id")
        .collect().map(_.toString).sorted.toSeq)
    keptCounts.foreach { case (l, k) => assert(k <= counts(l)) }
  }

  test("mixture rebalance never eliminates a stratum (threshold floors at 1/256)") {
    import graft.operators.Curation
    // 2000:2 skew — floor(256*2/2000) = 0 would drop the big stratum
    // entirely; the floor-at-1 keeps its threshold positive
    val skew = ((0L until 2000L).map(i => (i, "big")) ++
      Seq((9000L, "tiny"), (9001L, "tiny"))).toDF("doc_id", "lang")
    val out = Curation.rebalanceEqual(skew, "lang", "doc_id")
    val thresholds = out.select("lang", "kept_256ths").distinct().collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(thresholds.get("big").contains(1),
      s"big stratum must keep a 1/256 floor, got $thresholds")
    assert(out.where(col("lang") === "tiny").count() === 2)
    // the 1/256 floor actually retains rows from the big stratum (the
    // md5 membership over ids 0..1999 is deterministic - pinned here)
    assert(out.where(col("lang") === "big").count() > 0,
      "floor-at-1 must retain a nonzero sample of the big stratum")
  }

  test("temperature mix: α=1 identity, α monotone, smallest stratum whole, α=0 ≈ uniform") {
    import graft.operators.Curation
    val docs = Lake(spark, sf0001).documents.select("doc_id", "lang")
    val counts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = counts.values.min
    // α = 1 is the original mix: every row kept
    assert(Curation.temperatureMix(docs, "lang", "doc_id", 1.0).count()
      === docs.count())
    // membership is monotone in α per stratum: threshold (m/n)^(1−α)
    // is nondecreasing in α for m/n ≤ 1, and the md5 test is a prefix
    // test — so kept(α) ⊆ kept(α') for α ≤ α'
    def keptIds(alpha: Double) =
      Curation.temperatureMix(docs, "lang", "doc_id", alpha)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val k0 = keptIds(0.0); val k5 = keptIds(0.5); val k7 = keptIds(0.7)
    assert(k0.subsetOf(k5) && k5.subsetOf(k7))
    // the smallest stratum is kept whole at every α (its ratio is 1)
    for (a <- Seq(0.0, 0.3, 0.5)) {
      val kept = Curation.temperatureMix(docs, "lang", "doc_id", a)
      counts.filter(_._2 == nMin).keys.foreach { l =>
        assert(kept.where(col("lang") === l).count() === nMin,
          s"smallest stratum $l not whole at alpha=$a")
      }
    }
    // α = 0 targets the uniform mix: every stratum keeps ~n_min rows
    // (md5 uniformity; generous tolerance on the small fixture)
    val uni = Curation.temperatureMix(docs, "lang", "doc_id", 0.0)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    uni.foreach { case (l, k) =>
      assert(k <= counts(l))
      assert(math.abs(k - nMin.toDouble) <= math.max(4.0, 0.5 * nMin),
        s"alpha=0 stratum $l kept $k, expected ~$nMin")
    }
    // deterministic: the same call twice is bit-identical (and the
    // monotone chain above already exercises the general-α pow branch
    // at 0.7 against the sqrt branch at 0.5)
    assert(keptIds(0.5) === keptIds(0.5))
  }

  test("shard shuffle: contiguous per-shard positions, seed-deterministic, seed-sensitive") {
    import graft.operators.Curation
    val docs = Lake(spark, sf0001).documents.select("doc_id")
    val a = Curation.shardShuffle(docs, "doc_id", seed = 7L, numShards = 4)
    val rows = a.collect()
    assert(rows.map(_.getAs[Int]("shard")).forall(s => s >= 0 && s < 4))
    rows.groupBy(_.getAs[Int]("shard")).foreach { case (sh, rs) =>
      assert(rs.map(_.getAs[Long]("shard_pos")).sorted.toSeq ===
        (1L to rs.length.toLong), s"shard $sh positions not contiguous")
    }
    val a2 = Curation.shardShuffle(docs, "doc_id", seed = 7L, numShards = 4)
    assert(rows.map(_.toString).sorted.toSeq ===
      a2.collect().map(_.toString).sorted.toSeq, "same seed must reproduce")
    val b = Curation.shardShuffle(docs, "doc_id", seed = 8L, numShards = 4)
    assert(rows.map(_.toString).sorted.toSeq !==
      b.collect().map(_.toString).sorted.toSeq, "new seed must permute")
  }

  test("length buckets: pow-2 classes, batches bounded and contiguous") {
    import graft.operators.Curation
    val out = Curation.lengthBuckets(Lake(spark, sf0001).documents,
      "doc_id", "text", batchSize = 8).collect()
    out.foreach { r =>
      val n = r.getAs[Long]("n_tokens"); val b = r.getAs[Int]("bucket")
      assert(b === java.lang.Long.toBinaryString(math.max(n, 0L)).length,
        s"bucket must be the binary digit count of $n")
      assert(r.getAs[Int]("batch_pos") >= 0 && r.getAs[Int]("batch_pos") < 8)
    }
    out.groupBy(r => (r.getAs[Int]("bucket"), r.getAs[Long]("batch_id")))
      .foreach { case ((bk, bid), rs) =>
        assert(rs.length <= 8, s"bucket $bk batch $bid oversize")
        // doc-id order within the bucket maps to (batch_id, batch_pos) order
        assert(rs.map(_.getAs[Int]("batch_pos")).sorted.toSeq ===
          (0 until rs.length), s"bucket $bk batch $bid positions not contiguous")
      }
  }

  test("mergeLatest is arrival-order-invariant (random batches, distinct versions)") {
    import graft.operators.LakeMaintenance.mergeLatest
    val rowsGen = Gen.listOfN(24, Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 1000L)))
      .map(_.distinct.map { case (k, v) => (k, v, s"p$k-$v") })
    check("mergeLatest", Prop.forAll(rowsGen, Gen.choose(0, 23)) { (rows, cut) =>
      val (b1, b2) = rows.splitAt(math.min(cut, rows.length))
      val base = Seq.empty[(Long, Long, String)].toDF("k", "ver", "payload")
      def df(b: Seq[(Long, Long, String)]) = b.toDF("k", "ver", "payload")
      val fwd = mergeLatest(mergeLatest(base, df(b1), Seq("k"), Seq("ver")),
        df(b2), Seq("k"), Seq("ver"))
      val rev = mergeLatest(mergeLatest(base, df(b2), Seq("k"), Seq("ver")),
        df(b1), Seq("k"), Seq("ver"))
      canon(fwd) == canon(rev)
    }, trials = 8)
  }

  test("merge upsert: one row per key, update beats base, unmatched base survives") {
    import graft.operators.LakeMaintenance.mergeUpsert
    val base = Seq((1L, 10L, "b1"), (1L, 11L, "b2"), (2L, 10L, "b3"), (3L, 9L, "b4"))
      .toDF("k", "v", "payload")
    val updates = Seq((1L, 5L, "u1"), (1L, 4L, "u2"), (4L, 1L, "u3"))
      .toDF("k", "v", "payload")
    val got = mergeUpsert(base, updates, Seq("k"), Seq("v", "payload"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got === Map(
      1L -> (5L, "u1"),  // update wins even though base has later version
      2L -> (10L, "b3"), // unmatched base survives
      3L -> (9L, "b4"),
      4L -> (1L, "u3"))) // pure insert
  }

  test("triangle counts law: equals a local brute-force count on random graphs") {
    import graft.operators.Graph
    // random multigraphs over 10 vertices WITH reversed duplicates and
    // self-loops — the canonicalization corners a fixture can miss
    val edgeGen = Gen.listOfN(30,
      Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)))
    check("triangles", Prop.forAll(edgeGen) { es =>
      val got = Graph.triangleCounts(es.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // local reference: clean undirected edge set, O(n^3) enumeration
      val und = es.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.toSet
      val verts = und.flatMap(e => Seq(e._1, e._2))
      def adj(x: Long, y: Long) = und((math.min(x, y), math.max(x, y)))
      val want = verts.map { v =>
        val others = (verts - v).toSeq
        v -> others.combinations(2)
          .count { case Seq(x, y) => adj(v, x) && adj(v, y) && adj(x, y) }
          .toLong
      }.toMap
      got == want
    }, trials = 8)
  }

  test("pageRank law: symmetric graphs conserve rank mass") {
    import graft.operators.Graph
    val edgeGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0L, 7L), Gen.choose(0L, 7L))).map(_.take(15))
    check("pagerank-mass", Prop.forAll(edgeGen) { es0 =>
      val es = es0.filter { case (a, b) => a != b }
      es.isEmpty || {
        // symmetrize so no vertex dangles: mass must then sum to 1
        val sym = es ++ es.map(_.swap)
        val ranks = Graph.pageRank(sym.toDF("a", "b"), "a", "b",
          iterations = 4).collect().map(_.getDouble(1))
        math.abs(ranks.sum - 1.0) < 1e-9
      }
    }, trials = 8)
  }

  test("label propagation: disjoint cliques converge to per-clique min, one row per vertex") {
    import graft.operators.Graph
    // two disjoint triangles + a 4-clique, symmetric edges (odd
    // structures converge; the labels must be each clique's min id)
    def clique(ids: Seq[Long]) =
      ids.combinations(2).flatMap { case Seq(a, b) => Seq((a, b), (b, a)) }.toSeq
    val edges = (clique(Seq(1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L)) ++
      clique(Seq(20L, 21L, 22L, 23L))).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, "src", "dst", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 10)
    assert(Seq(1L, 2L, 3L).forall(got(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(got(_) == 10L))
    assert(Seq(20L, 21L, 22L, 23L).forall(got(_) == 20L))
    // zero iterations = identity labeling
    val id0 = Graph.labelPropagation(edges, "src", "dst", iterations = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(id0.forall { case (v, l) => v == l })
  }

  test("budget sample: monotone in budget, clamps at full keep, zero budget keeps nothing") {
    import graft.operators.Curation
    val docs = Lake(spark, sf0001).documents.select("doc_id", "source", "n_chars")
    def sample(b: Long): Set[Long] =
      Curation.budgetSample(docs, "source", "doc_id", "n_chars", b)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val total = docs.agg(sum("n_chars")).head().getLong(0)
    assert(sample(0L).isEmpty)
    val small = sample(total / 8)
    val big = sample(total / 2)
    val all = sample(total * 2)
    // threshold membership (hash < kept) is monotone in kept, and kept
    // is monotone in budget -> smaller samples nest inside larger ones
    assert(small.subsetOf(big) && big.subsetOf(all))
    assert(all.size === docs.count(), "over-budget keeps every row (clamp at 256/256)")
    assert(small.nonEmpty && small.size < all.size)
  }

  test("budget sample drops a zero-token stratum instead of keeping it whole") {
    import spark.implicits._
    import graft.operators.Curation
    // the DIV-by-zero null used to slip through least() (nulls skipped)
    // and keep the whole degenerate stratum at 256/256
    val docs = Seq(
      (1L, "live", 50L), (2L, "live", 50L),
      (3L, "empty", 0L), (4L, "empty", 0L)
    ).toDF("doc_id", "source", "n_chars")
    val kept = Curation.budgetSample(docs, "source", "doc_id", "n_chars", 1000L)
      .select("doc_id", "source").collect().map(r => r.getLong(0)).toSet
    assert(kept === Set(1L, 2L))
  }

  test("containment law: equals naive shingle-set computation on random docs") {
    // tiny vocab forces shared shingles; docs of 3-6 words over 4 tokens
    val docGen = Gen.listOfN(10, Gen.choose(3, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd")).map(_.mkString(" "))))
    check("containment", Prop.forAll(docGen) { texts =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Dedup.containmentPairs(rows.toDF("id", "t"), "id", "t",
          shingleN = 2, threshold = 0.5, maxShingleDf = Int.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      def shingles(t: String): Set[String] =
        t.split("\\s+").sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
      val sets = rows.map { case (i, t) => i -> shingles(t) }.toMap
      val want = (for {
        (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
        if a != b && sa.nonEmpty
        c = (sa & sb).size.toDouble / sa.size
        if c >= 0.5
      } yield (a, b) -> (math.rint(c * 1e5) / 1e5)).toMap
      got == want
    }, trials = 8)
  }

  test("fuzzy join law: deletion-neighborhood blocking equals naive levenshtein<=1") {
    import graft.operators.FuzzyJoin
    // short strings over a 2-letter alphabet force distance-1 collisions,
    // duplicates, and the empty-string edge the blocking must not lose
    val strGen = Gen.listOfN(18,
      Gen.choose(0, 4).flatMap(n => Gen.stringOfN(n, Gen.oneOf('a', 'b'))))
    check("fuzzy-join", Prop.forAll(strGen) { ss =>
      val rows = ss.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val got = FuzzyJoin.fuzzyPairs(rows.toDF("id", "s"), "id", "s")
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0 }
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      val want = (for {
        (ia, sa) <- rows; (ib, sb) <- rows
        if ia < ib && lev(sa, sb) <= 1
      } yield (ia, ib)).toSet
      got == want
    }, trials = 8)
  }

  test("gap fill law: dense grid, LOCF values, is_gap marks absences") {
    import graft.operators.TimeSeries
    val obsGen = Gen.listOfN(20, Gen.zip(
      Gen.oneOf("x", "y"), Gen.choose(0L, 12L), Gen.choose(1.0, 9.0)))
    check("gap-fill", Prop.forAll(obsGen) { obs0 =>
      // one observation per (key, step): last write wins in the fixture
      val obs = obs0.groupBy(o => (o._1, o._2)).values.map(_.head).toSeq
      obs.isEmpty || {
        val got = TimeSeries.gapFillLocf(obs.toDF("k", "h", "v"), "k", "h", "v")
          .collect().map(r => (r.getString(0), r.getLong(1)) ->
            (r.getDouble(2), r.getBoolean(3))).toMap
        val byKey = obs.groupBy(_._1)
        byKey.forall { case (k, rows) =>
          val steps = rows.map(_._2)
          val lookup = rows.map(r => r._2 -> r._3).toMap
          (steps.min to steps.max).forall { h =>
            val expectVal = lookup(rows.filter(_._2 <= h).map(_._2).max)
            got.get((k, h)).contains((expectVal, !lookup.contains(h)))
          }
        } && got.size == byKey.map { case (_, rows) =>
          rows.map(_._2).max - rows.map(_._2).min + 1 }.sum
      }
    }, trials = 8)
  }

  test("mmr rerank: lambda=1 equals plain top-k; lambda<1 skips the redundant twin") {
    import graft.operators.Similarity
    val query = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(0.99f, 0.10f)),  // most relevant
      (2L, Array(0.99f, 0.10f)),  // exact duplicate of 1
      (3L, Array(0.70f, 0.70f)),  // relevant but diverse
      (4L, Array(0.00f, 1.00f))   // orthogonal
    ).toDF("vec_id", "embedding")
    def pick(lambda: Double) = Similarity.mmrRerank(
      corpus, query, "vec_id", "embedding", k = 3, fetch = 4, lambda = lambda)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    // pure relevance: the duplicate rides along at rank 2
    assert(pick(1.0) === Seq(1L, 2L, 3L))
    // diversity-heavy: the duplicate (max-sim 1.0 to the first pick) is
    // pushed out entirely; the orthogonal candidate jumps to rank 2
    assert(pick(0.3) === Seq(1L, 4L, 3L))
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(corpus, query, "vec_id", "embedding", k = 5, fetch = 4)
    }
  }

  test("pq quantization: finer subspace split strictly improves reconstruction") {
    import graft.operators.Similarity
    val emb = Lake(spark, sf0001).embeddings
    def avgRecon(m: Int): Double = Similarity.pqReconstruction(
      emb, "vec_id", "embedding", m = m, planes = 4, kmeansIters = 2)
      .agg(avg("recon_cos")).head().getDouble(0)
    val m1 = avgRecon(1) // plain VQ: 16 cells over all 64 dims
    val m4 = avgRecon(4) // PQ: 16^4 effective cells from 4 codebooks
    assert(m4 > m1, s"PQ m=4 ($m4) must beat VQ m=1 ($m1)")
    // same call twice = same codebooks = same reconstruction; the MEAN
    // is compared with a 1-ulp budget (partial-aggregation order varies
    // run to run even over identical per-vector values)
    assert(math.abs(avgRecon(4) - m4) < 1e-12)
    intercept[IllegalArgumentException] {
      Similarity.pqReconstruction(emb, "vec_id", "embedding", m = 5)
    }
  }

  test("cdc chunking law: one insertion perturbs at most the edited chunk") {
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val docGen = for {
      toks <- Gen.listOfN(40, Gen.oneOf(words))
      at <- Gen.choose(0, 40)
      ins <- Gen.oneOf(words)
    } yield (toks, at, ins)
    check("cdc-insert", Prop.forAll(docGen) { case (toks, at, ins) =>
      val edited = toks.take(at) ++ Seq(ins) ++ toks.drop(at)
      val df = Seq((1L, toks.mkString(" ")), (2L, edited.mkString(" ")))
        .toDF("id", "text")
      val chunks = Dedup.cdcChunks(df, "id", "text", divisor = 4)
        .collect().map(r => (r.getLong(0), r.getString(4)))
      def fps(id: Long) = chunks.filter(_._1 == id).map(_._2)
        .groupBy(identity).view.mapValues(_.size).toMap
      val (a, b) = (fps(1L), fps(2L))
      // the edit can rewrite one chunk (and split it in two if the
      // inserted token is itself a boundary) — never more. A fixed
      // window would shift every chunk after the insertion point.
      val symDiff = (a.keySet ++ b.keySet).toSeq.map { k =>
        math.abs(a.getOrElse(k, 0) - b.getOrElse(k, 0)) }.sum
      symDiff <= 3
    }, trials = 10)
  }

  test("interleave schedule: full blocks cycle every source exactly once") {
    import graft.operators.Curation
    val docs = Lake(spark, sf0001).documents.select("doc_id", "source")
    val sched = Curation.interleaveSources(docs, "source", "doc_id", seed = 9L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySource = sched.groupBy(_._2)
    val nSrc = bySource.size
    val minSz = bySource.values.map(_.size).min
    // while every source still has docs, each n-source block of the
    // schedule holds each source exactly once (the round-robin law)
    val full = sched.filter(_._3 < minSz.toLong * nSrc)
    full.groupBy(_._3 / nSrc).foreach { case (_, block) =>
      assert(block.map(_._2).distinct.length === nSrc)
    }
    // schedule positions are unique, and a different seed reorders
    assert(sched.map(_._3).distinct.length === sched.length)
    val sched2 = Curation.interleaveSources(docs, "source", "doc_id", seed = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(sched2.toMap != sched.map(r => (r._1, r._3)).toMap)
  }

  test("dsir weights: one row per doc, target corpus scores above the rest") {
    import graft.operators.Curation
    val docs = Lake(spark, sf0001).documents.select("doc_id", "lang", "text")
    val w = Curation.dsirWeights(docs, col("lang") === "en", "doc_id", "text")
    assert(w.count() === docs.count())
    val byTarget = w.join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy(col("lang") === "en").agg(avg("dsir_w").as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    // the scorer's whole point: docs from the target distribution rank
    // above the rest on their own importance weight
    assert(byTarget(true) > byTarget(false))
  }

  test("native word shingles are row-identical to the HOF form they replaced") {
    import graft.functions.TextFunctions
    // randomized short docs over a tiny vocab (forces repeats), plus the
    // contract corners: null text, empty, single word, runs of spaces
    val docGen = Gen.listOfN(40, Gen.option(
      Gen.listOf(Gen.oneOf("aa", "b", "ccc", "Dd", " ")).map(_.mkString(" "))))
    val prop = Prop.forAll(docGen) { docs =>
      val all = docs ++ Seq(None, Some(""), Some("one"), Some("  x   y  "))
      val df = all.zipWithIndex
        .map { case (t, i) => (i.toLong, t.orNull) }.toDF("id", "text")
      (1 to 4).forall { n =>
        val toks = TextFunctions.tokens(col("text"))
        val got = df.select(col("id"),
            TextFunctions.wordShingles(col("text"), n).as("s"),
            OperatorLawsSpec.hofShingles(toks, n).as("h"))
          .collect()
        got.forall(r => r.getSeq[String](1) == r.getSeq[String](2))
      }
    }
    check("shingle parity", prop)
  }

  test("native minhash signatures are bit-identical to the aggregate form") {
    // randomized docs over a tiny vocab (forces shared + duplicate
    // shingles), plus the contract corners: null text, empty text,
    // whitespace runs, fewer-than-n tokens, and DUPLICATE IDS (two rows
    // sharing an id must merge exactly as the groupBy form merges them)
    val docGen = Gen.listOfN(25, Gen.zip(
      Gen.choose(0L, 9L), // small id range -> collisions
      Gen.option(Gen.listOf(Gen.oneOf("aa", "b", "ccc", "Dd", " "))
        .map(_.mkString(" ")))))
    val prop = Prop.forAll(docGen) { docs =>
      val all = docs ++ Seq((100L, None), (101L, Some("")),
        (102L, Some("one two")), (103L, Some("  x   y  z ")))
      val df = all.map { case (i, t) => (i, t.orNull) }.toDF("doc_id", "text")
      Seq(Dedup.XxMinHash, Dedup.Md5MinHash).forall { fam =>
        Seq((3, 8), (2, 4)).forall { case (n, k) =>
          canon(Dedup.minHashSignatures(df, "doc_id", "text", n, k, fam)) ==
            canon(OperatorLawsSpec.aggMinHashSignatures(df, "doc_id", "text", n, k, fam))
        }
      }
    }
    check("minhash signature parity", prop, trials = 8)
  }
}

/** Reference forms the engine's native expressions replaced, kept as the
  * oracles the laws above compare against. */
object OperatorLawsSpec {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.types.{ArrayType, StringType}
  import graft.functions.TextFunctions.shingleSet

  /** The composable shingle form [[graft.plans.WordShinglesExpr]]
    * replaced: `sequence` would generate a DESCENDING range if
    * stop < start, hence the explicit guard. */
  def hofShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast(ArrayType(StringType)))

  /** The explode + groupBy aggregate form [[Dedup.minHashSignatures]]
    * replaced: one posting row per distinct shingle, seeded hashes
    * min-aggregated per document. */
  def aggMinHashSignatures(df: DataFrame, id: String, text: String,
                           shingleN: Int, numHashes: Int,
                           family: Dedup.MinHashFamily): DataFrame =
    df.select(col(id), explode(shingleSet(col(text), shingleN)).as("shingle"))
      .withColumn("base", family.base(col("shingle")))
      .groupBy(col(id))
      .agg(
        array((0 until numHashes).map(j =>
          min(family.seeded(col("base"), j))): _*).as("signature"),
        count(lit(1)).as("n_shingles"))
}
