package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Dedup

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  test("exact dedup counts duplicates correctly on a constructed frame") {
    import spark.implicits._
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other"), (4L, "same text"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("constructed_docs")
    val groups = docs.groupBy(org.apache.spark.sql.functions.md5($"text"))
      .count().collect().map(_.getLong(1)).sorted
    assert(groups.toSeq == Seq(1L, 3L))
  }

  test("minhash-LSH finds exactly the exhaustive jaccard >= 0.8 pairs") {
    val viaLsh = Dedup.dedupMinhash(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exhaustive = Dedup.dedupNgramJaccard(spark, sf, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLsh == exhaustive,
      s"LSH missed ${exhaustive -- viaLsh}, extra ${viaLsh -- exhaustive}")
    assert(viaLsh.nonEmpty, "test data should contain planted near-duplicates")
  }

  test("connected components merge transitive near-dup chains") {
    import spark.implicits._
    // components: {1,2,3,4} via chain 1-2, 2-3, 3-4; {10,11}; pair graph only (no 99)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a_id", "b_id")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("simhash recall on strong near-duplicates (jaccard >= 0.9)") {
    val strong = Dedup.dedupNgramJaccard(spark, sf, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaSimhash = Dedup.dedupSimhash(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strong.nonEmpty)
    val recall = (strong & viaSimhash).size.toDouble / strong.size
    assert(recall >= 0.8, s"simhash recall $recall over ${strong.size} strong pairs")
  }

  test("simhash block structure derives from maxHamming without losing the guarantee") {
    // tighter threshold -> fewer, wider blocks (d=3: 4 x 16-bit). The pigeonhole
    // guarantee makes banding lossless within d, so the d=3 result must EQUAL the d=7
    // result filtered to hamming <= 3 — on the real corpus, different block layouts
    // and all.
    val at7 = Dedup.dedupSimhash(spark, sf, maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val at3 = Dedup.dedupSimhash(spark, sf, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(at3 == at7.filter(_._3 <= 3),
      s"4x16-bit banding must find exactly the hamming<=3 subset: ${at3.size} vs ${at7.count(_._3 <= 3)}")
    // d=0 degenerates to one 64-bit block: exact-signature duplicates only
    val at0 = Dedup.dedupSimhash(spark, sf, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(at0 == at7.filter(_._3 == 0), "single-block layout finds exact-hash pairs")
  }

  test("LSH-bucketed embedding near-dup recalls the exact cross-join pairs") {
    val exact = Dedup.dedupEmbeddingExact(spark, sf, tau = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLsh = Dedup.dedupEmbeddingLsh(spark, sf, tau = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLsh.subsetOf(exact), "bucketed pairs are a subset of exact pairs")
    if (exact.nonEmpty) {
      val recall = (exact & viaLsh).size.toDouble / exact.size
      assert(recall >= 0.5, s"multi-table bucket recall $recall too low")
    }
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val rows = Dedup.dedupEmbeddingExact(spark, sf, tau = 0.4).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.4 - 1e-4)
    }
  }

  test("prefix-filtered ngram candidates cover every exhaustive jaccard pair (theorem check)") {
    val g = Dedup.gramHashSets(graft.sources.TableIO.documents(spark, sf)).cache()
    try {
      val candidates = Dedup.ngramCandidates(g, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // exhaustive truth: all-pairs jaccard over the gram sets, computed in-memory
      val sets = g.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      val ids = sets.keys.toSeq.sorted
      val truePairs = (for {
        i <- ids.indices.iterator
        j <- (i + 1) until ids.size
        a = sets(ids(i)); b = sets(ids(j))
        inter = (a & b).size
        if inter * 1.0 / (a.size + b.size - inter) >= 0.5
      } yield (ids(i), ids(j))).toSet
      assert(truePairs.nonEmpty)
      assert(truePairs.subsetOf(candidates),
        s"prefix filter dropped true pairs: ${truePairs -- candidates}")
    } finally g.unpersist()
  }

  test("ngramJaccardPairs equals an all-pairs plain-Scala Jaccard at every threshold") {
    import spark.implicits._
    for (seed <- Seq(73L, 173L, 273L)) {
      // random doc corpus with planted near-dups at several similarity grades
      val rnd = new scala.util.Random(seed)
      val vocab = Vector.tabulate(60)(i => s"w$i")
      def doc(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val base = Seq.tabulate(120)(i => (i.toLong, doc(12 + rnd.nextInt(30))))
      val mutated = base.take(40).map { case (id, text) =>
        val out = text.split(" ")
        val k = 1 + rnd.nextInt(4) // 1-4 token edits: a spread of jaccard grades
        (0 until k).foreach(_ => out(rnd.nextInt(out.length)) = vocab(rnd.nextInt(vocab.size)))
        (1000L + id, out.mkString(" "))
      }
      val g = Dedup.gramHashSets((base ++ mutated).toDF("doc_id", "text")).cache()
      try {
        // reference: exact jaccard over every pair of the collected gram sets, the same
        // double arithmetic as the kernel's (inter * 1.0 / union)
        val sets = g.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
        val ids = sets.keys.toSeq.sorted
        val all = for {
          i <- ids.indices; j <- (i + 1) until ids.size
          a = sets(ids(i)); b = sets(ids(j)); inter = (a & b).size
        } yield (ids(i), ids(j)) -> inter * 1.0 / (a.size + b.size - inter)
        for (t <- Seq(0.3, 0.5, 0.8)) {
          val got = Dedup.ngramJaccardPairs(g, t)
            .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
          val want = all.filter(_._2 >= t).toMap
          assert(got == want, s"seed $seed t=$t: ${got.size} vs ${want.size} pairs")
          assert(got.nonEmpty, s"seed $seed t=$t: degenerate test corpus (no pairs)")
        }
      } finally g.unpersist()
    }
  }

  test("a planted super-cap stop-gram generates zero candidate fan-out") {
    import spark.implicits._
    // n=300 docs all share ONE stop-gram (df=300 > the 256 cap); every other gram is
    // unique (df=1). The docs have plenty of sub-cap grams (4 of 5 > prefix length 3),
    // so none is a "cluster doc" — the stop-gram never pairs anything, and the
    // n·(n-1)/2 ≈ 45k pair rows a naive inverted index would emit never materialize.
    // (Correct too: pairwise jaccard = 1/9 < 0.5.)
    val n = 300
    val docs = (1 to n)
      .map(i => (i.toLong, s"the common gram u$i v$i w$i x$i"))
      .toDF("doc_id", "text")
    val g = Dedup.gramHashSets(docs).cache()
    try {
      assert(Dedup.ngramCandidates(g, 0.5).count() == 0L)
    } finally g.unpersist()
  }

  test("a duplication cluster LARGER than any df cutoff keeps all its pairs (PPJoin fix)") {
    import spark.implicits._
    // 300 near-identical docs: every shared gram has df=300, which round-2's first-cut
    // absolute df cap (256) would have dropped entirely — missing ALL the cluster's
    // pairs. The prefix filter keeps them: each doc's rarest grams are still shared.
    val n = 300
    val base = (1 to 12).map(k => s"c$k").mkString(" ")
    val docs = (1 to n).map(i => (i.toLong, s"$base u$i")).toDF("doc_id", "text")
    val g = Dedup.gramHashSets(docs).cache()
    try {
      // 13 tokens -> 11 grams; 10 shared + 1 unique per doc -> pairwise jacc = 10/12
      val pairs = Dedup.ngramJaccardPairs(g, 0.5)
      assert(pairs.count() == n.toLong * (n - 1) / 2,
        "every pair of the cluster must survive candidate generation")
      val sample = pairs.limit(5).collect()
      sample.foreach(r => assert(math.abs(r.getDouble(2) - 10.0 / 12.0) < 1e-12))
    } finally g.unpersist()
  }

  test("winnowing: coverage guarantee, shared-run detection, zero shuffle") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens >= w + 2
    val docs = Seq(
      (1L, s"unique one two three $shared"),
      (2L, s"$shared completely different tail words here"),
      (3L, "tiny doc x") // 3 tokens -> 1 gram -> 1 fingerprint
    ).toDF("doc_id", "text")
    val w = 4
    val fps = Dedup.winnowFingerprints(docs, w)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))

    // the paper's coverage guarantee: every w-window of gram positions holds >= 1 selection
    for (d <- Seq(1L, 2L)) {
      val pos = fps.filter(_._1 == d).map(_._2).sorted
      val n = docs.filter($"doc_id" === d).head().getString(1).split(' ').length - 2
      for (s <- 1 to n - w + 1)
        assert(pos.exists(p => p >= s && p < s + w), s"doc $d window at $s uncovered: ${pos.toSeq}")
    }
    // docs sharing a run of >= w + k - 1 = 6 tokens must share a fingerprint HASH
    val h1 = fps.filter(_._1 == 1L).map(_._3).toSet
    val h2 = fps.filter(_._1 == 2L).map(_._3).toSet
    assert((h1 & h2).nonEmpty, "shared 8-token run must yield a shared fingerprint")
    assert(fps.count(_._1 == 3L) == 1, "short doc winnows its single partial window")

    // map-only up to the small-input fanOut (round-robin, no-op at production split
    // counts): the selection itself must never shuffle by key
    val plan = Dedup.winnowFingerprints(docs, w).queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning") && !plan.contains("rangepartitioning"),
      s"winnowing must not key-shuffle:\n$plan")
  }

  test("contamination measures benchmark n-gram containment, zero for clean docs") {
    import spark.implicits._
    // benchmark holds one sentence; candidate 1 copies half of it verbatim, candidate 2
    // shares nothing, candidate 3 is a full verbatim copy
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val cands = Seq(
      (1L, "the quick brown fox went somewhere else entirely today"),
      (2L, "completely unrelated words about distributed query engines"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "too short") // < 3 tokens: no grams, but the audit must still report it
    ).toDF("doc_id", "text")
    val got = Dedup.contamination(cands, bench)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getDouble(3))).toMap
    // doc 1: 7 distinct trigrams, 2 in the benchmark ("the quick brown", "quick brown fox")
    assert(got(1L) == ((7, 2L, 0.2857)), s"got ${got(1L)}")
    assert(got(2L)._2 == 0L && got(2L)._3 == 0.0, "clean doc must report zero containment")
    assert(got(3L)._3 == 1.0, "verbatim copy must report full containment")
    assert(got(4L) == ((0, 0L, 0.0)),
      "gram-less doc must appear in the audit (absent must never read as clean)")
  }

  test("bloom-prefiltered contamination equals the exact scan, including edge docs") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val cands = Seq(
      (1L, "the quick brown fox went somewhere else entirely today"),
      (2L, "completely unrelated words about distributed query engines"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "too short")
    ).toDF("doc_id", "text")
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getDouble(3))).toMap
    val exact = dump(Dedup.contamination(cands, bench))
    val bloom = dump(Dedup.contaminationBloom(cands, bench))
    assert(bloom == exact, s"bloom path must equal exact scan: $bloom vs $exact")
    // the corpus-scale query too (src2 benchmark): gram-for-gram equality
    val docs = graft.sources.TableIO.documents(spark, sf)
    import org.apache.spark.sql.functions.col
    val e2 = dump(Dedup.contamination(
      docs.filter(col("source") =!= "src2"), docs.filter(col("source") === "src2")))
    val b2 = dump(Dedup.contaminationBloom(
      docs.filter(col("source") =!= "src2"), docs.filter(col("source") === "src2")))
    assert(b2 == e2, "corpus bloom audit must equal the exact audit")
  }

  test("segment dedup keeps first occurrence, drops later copies, reassembles in order") {
    import spark.implicits._
    // k=2 segments. doc 1: [a b][c d][a b] — intra-doc repeat of [a b] at pos 3.
    // doc 2 repeats doc 1's [c d] then has fresh text. doc 3 is entirely doc 1's
    // segments (fully duplicate). doc 4 is null text.
    val docs = Seq(
      (1L, "a b c d a b"),
      (2L, "c d x y"),
      (3L, "a b c d"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = Dedup.segmentDedup(docs, k = 2).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap

    assert(got(1L) == ((3, 2, "a b c d")), s"intra-doc repeat must drop: ${got(1L)}")
    assert(got(2L) == ((2, 1, "x y")), s"cross-doc repeat must drop: ${got(2L)}")
    assert(got(3L) == ((2, 0, null)), s"fully-duplicate doc reports 0 kept: ${got(3L)}")
    assert(got(4L) == ((0, 0, null)), s"null-text doc stays visible: ${got(4L)}")
    assert(got.size == 4, "every input doc appears in the output")
  }

  test("duplicate spans: maximal shared runs found with exact bounds, no false positives") {
    import spark.implicits._
    val shared = (1 to 9).map("s" + _).mkString(" ")   // 9-token run shared by docs 1+2
    val shared2 = (1 to 5).map("t" + _).mkString(" ")  // 5-token run shared by docs 1+3
    val docs = Seq(
      // doc 1: [a1..a5][s1..s9][b1..b20][t1..t5] — two islands, gap > L
      (1L, ((1 to 5).map("a" + _) ++ Seq(shared) ++ (1 to 20).map("b" + _) ++ Seq(shared2)).mkString(" ")),
      (2L, ((1 to 5).map("c" + _).mkString(" ")) + " " + shared),
      (3L, shared2 + " " + (1 to 7).map("d" + _).mkString(" ")),
      (4L, (1 to 30).map("u" + _).mkString(" ")) // fully unique: no spans
    ).toDF("doc_id", "text")

    val spans = Dedup.duplicateSpans(docs, spanLen = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4)).sortBy(_._1).toSeq).toMap

    // doc 1: s-run occupies tokens 6..14 (5 grams merge), t-run tokens 35..39 (1 gram)
    assert(spans(1L) == Seq((6, 14, 5), (35, 39, 1)), s"doc1: ${spans.get(1L)}")
    // doc 2: s-run at tokens 6..14
    assert(spans(2L) == Seq((6, 14, 5)), s"doc2: ${spans.get(2L)}")
    // doc 3: t-run at tokens 1..5
    assert(spans(3L) == Seq((1, 5, 1)), s"doc3: ${spans.get(3L)}")
    assert(!spans.contains(4L), "unique doc must produce no spans")
  }

  test("cutSpans removes listed ranges, merges overlaps, keeps cut-empty docs visible") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8"),
      (2L, "u1 u2 u3"),
      (3L, "v1 v2")
    ).toDF("doc_id", "text")
    val spans = Seq(
      (1L, 2, 4), (1L, 3, 6), // overlapping -> tokens 2..6 drop
      (3L, 1, 2)              // whole doc
    ).toDF("doc_id", "span_start", "span_end")
    val got = Dedup.cutSpans(docs, spans).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "t1 t7 t8", s"got ${got(1L)}")
    assert(got(2L) == "u1 u2 u3", "span-less doc passes through untouched")
    assert(got(3L) == "", "fully-cut doc keeps an empty string, not a vanished row")

    // composition: detect duplicated spans, keep the min-doc occurrence, cut the rest
    val dupDocs = Seq(
      (10L, "a b c d e x1 x2"),
      (11L, "y1 a b c d e y2")
    ).toDF("doc_id", "text")
    val found = Dedup.duplicateSpans(dupDocs, spanLen = 5)
    val losers = found.withColumn("keeper",
        org.apache.spark.sql.functions.min(col("doc_id"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("n_grams"))))
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
    val cut = Dedup.cutSpans(dupDocs, losers).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cut(10L) == "a b c d e x1 x2", "first occurrence kept intact")
    assert(cut(11L) == "y1 y2", s"later copy cut: ${cut(11L)}")
  }

  test("duplicate spans: within-doc verbatim repetition is flagged") {
    import spark.implicits._
    val run = (1 to 6).map("r" + _).mkString(" ")
    val docs = Seq(
      (1L, run + " " + (1 to 10).map("x" + _).mkString(" ") + " " + run)
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, spanLen = 5).collect()
      .map(r => (r.getInt(1), r.getInt(2))).sorted.toSeq
    // both occurrences of the 6-token run surface: tokens 1..6 and 17..22
    assert(spans == Seq((1, 6), (17, 22)), s"got $spans")
  }
}
