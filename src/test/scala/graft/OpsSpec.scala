package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{Ann, Dedup, Multimodal, Sampling, TextAnalysis}
import graft.functions.TextFunctions

class OpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  // --- dedup ---

  test("exact dedup groups and representative selection") {
    val d = docs((1L, "a b c"), (2L, "a b c"), (3L, "x y z"), (4L, "a b c"))
    val groups = Dedup.exactGroups(d).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(groups == Map(1L -> 3L, 3L -> 1L))
    val kept = Dedup.exactDedup(d).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("minhash LSH finds planted near-duplicates; jaccard verified exactly") {
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
    val d = docs(
      (1L, base),
      (2L, base + " tail"),            // near-dup of 1 (j = 14/15)
      (3L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12 q13 q14"),
      (4L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12 z13 z14 z15"))
    val pairs = Dedup.lshCandidatePairs(d, k = 32, bands = 16, shingleN = 3)
    val verified = Dedup.jaccardVerify(d, pairs, shingleN = 3, minJaccard = 0.8)
      .collect()
    assert(verified.length == 1)
    val r = verified.head
    assert(Set(r.getLong(0), r.getLong(1)) == Set(1L, 2L))
    assert(math.abs(r.getDouble(2) - 14.0 / 15.0) < 1e-12)
  }

  test("reduced jaccard verify ≡ unreduced, both broadcast settings, seeded random corpora") {
    import spark.implicits._
    // on mutation-heavy random corpora where candidates are plentiful:
    //  - the hashed-set verify equals the verify over RAW shingle strings
    //    (the reference: Jaccard is cardinality arithmetic, which hashing
    //    preserves);
    //  - the semi-join reduction is a semantic no-op (the verify joins
    //    are INNER on ids drawn from the pair set), broadcast hint on and
    //    off;
    //  - the composed one-pass builder equals the standalone operators
    //    composed, row for row, at a biting and a loose bucket cap.
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(700 + seed)
      val vocab = (0 until 25).map(i => s"v$i")
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      def nextText(): String = {
        val t =
          if (texts.nonEmpty && rnd.nextInt(10) < 6) {
            val base = texts(rnd.nextInt(texts.size))
            if (rnd.nextBoolean()) base + " " + vocab(rnd.nextInt(vocab.size))
            else base
          } else (1 to 8 + rnd.nextInt(12))
            .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
        texts += t
        t
      }
      val d = (0 until 30 + rnd.nextInt(30)).map(i => (i.toLong, nextText()))
        .toDF("doc_id", "text")
      val rawSets = d.select(col("doc_id"),
        Dedup.distinctShingles(col("text"), 3).as("sh"))
      val sets = d.select(col("doc_id"),
        Dedup.hashShingles(Dedup.distinctShingles(col("text"), 3)).as("sh"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      Seq(2, 64).foreach { cap =>
        val ctx = s"seed=$seed maxBucket=$cap"
        val pairs = Dedup.lshCandidatePairs(d, k = 32, bands = 16,
          shingleN = 3, maxBucket = cap)
        val reference = rows(Dedup.jaccardVerifyOnShingles(rawSets, pairs, 0.8))
        assert(reference.nonEmpty, s"$ctx generated no verified pairs")
        val verified = rows(Dedup.jaccardVerify(d, pairs, 3, 0.8))
        assert(verified == reference, s"$ctx hashed vs raw")
        assert(rows(Dedup.jaccardVerifyOnShingles(sets, pairs, 0.8)) ==
          reference, s"$ctx unreduced")
        Seq(true, false).foreach { bc =>
          assert(rows(Dedup.jaccardVerifyOnShingles(
            ops.DedupInternals.reduceShingleSetsToPairs(sets, pairs, bc),
            pairs, 0.8)) == reference, s"$ctx broadcastIds=$bc")
        }
        val staged = Dedup.nearDupPairsStaged(d, k = 32, bands = 16,
          shingleN = 3, maxBucket = cap, minJaccard = 0.8).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        assert(staged.length == staged.toSet.size, s"$ctx duplicate rows")
        assert(staged.toSet == verified, s"$ctx staged vs composed")
      }
    }
  }

  test("minhash LSH: a degenerate bucket is capped pre-aggregation, pairs bounded") {
    // 10k identical docs = one boilerplate bucket in every band. The
    // bounded-min aggregate must bound what any aggregation buffer (and
    // any single reducer) sees, and pair output must cover exactly the
    // maxBucket smallest doc_ids.
    val n = 10000
    val boiler = (1 to n).map(i => (i.toLong, "b1 b2 b3 b4 b5 b6 b7 b8"))
    val d = docs(boiler: _*)
    val cap = 64
    val pairs = Dedup.lshCandidatePairs(d, k = 32, bands = 16, shingleN = 3,
      maxBucket = cap).collect()
    assert(pairs.length == cap * (cap - 1) / 2)
    val ids = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(ids == (1L to cap.toLong).toSet)
  }

  test("near-dup clusters: transitive closure beyond direct pairs, keep-min rep") {
    // chain a~b (j=28/33≈0.85) and b~c (j=33/38≈0.87) above 0.8, but
    // a~c (j=28/38≈0.74) BELOW — the cluster {a,b,c} exists only through
    // the connected-components closure, not the pair report
    val baseToks = (1 to 30).map(i => s"w$i")
    val a = baseToks.mkString(" ")
    val b = (baseToks ++ (1 to 5).map(i => s"x$i")).mkString(" ")
    val c = (baseToks ++ (1 to 10).map(i => s"x$i")).mkString(" ")
    val lone = (1 to 30).map(i => s"z$i").mkString(" ")
    val d = docs((10L, a), (11L, b), (12L, c), (13L, lone))
    // direct-pair sanity: (a,c) is NOT a verified pair
    val pairs = Dedup.jaccardVerify(d,
      Dedup.lshCandidatePairs(d, k = 32, bands = 16, shingleN = 3),
      shingleN = 3, minJaccard = 0.8)
      .collect().map(r => Set(r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set(Set(10L, 11L), Set(11L, 12L)))
    val clusters = Dedup.nearDupGroups(d, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(clusters.toSet ==
      Set((10L, 10L, 3L), (11L, 10L, 3L), (12L, 10L, 3L)))
    val kept = Dedup.nearDupDedup(d, bands = 16)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 13L)) // rep of the cluster + the singleton
  }

  test("decontamination: planted benchmark overlap flags and drops, threshold holds") {
    import spark.implicits._
    val benchToks = (1 to 10).map(i => s"b$i")
    val bench = Seq((100L, benchToks.mkString(" ")))
      .toDF("bench_id", "text")
    val contaminated = ("x1 x2 " + benchToks.mkString(" ") + " y1 y2")
    val partial = ("p1 p2 " + benchToks.take(6).mkString(" ") + " p3 p4")
    val clean = (1 to 14).map(i => s"c$i").mkString(" ")
    val d = docs((1L, contaminated), (2L, partial), (3L, clean))
    val report = graft.ops.Decontaminate
      .contaminationReport(d, bench, shingleN = 3, minOverlap = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // doc 1 shares all 8 bench shingles (containment ratio 1.0); doc 2
    // only 4 (< 5); doc 3 none
    assert(report.toSeq == Seq((1L, 100L, 8L, 1.0)))
    // the ratio gate alone also holds: full containment survives 0.9
    assert(graft.ops.Decontaminate
      .contaminationReport(d, bench, 3, minOverlap = 1, minRatio = 0.9)
      .count() == 1)
    assert(graft.ops.Decontaminate
      .contaminationReport(d, bench, 3, minOverlap = 1, minRatio = 0.0)
      .count() == 2) // the partial (4/8 = 0.5) pair appears at ratio 0
    val kept = graft.ops.Decontaminate
      .decontaminate(d, bench, shingleN = 3, minOverlap = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
    // the ratio gate threads to the TRANSFORM path too: at minRatio 0.9
    // only the fully-contained doc 1 drops, the 0.5-containment doc 2
    // survives even with minOverlap = 1
    val keptRatio = graft.ops.Decontaminate
      .decontaminate(d, bench, shingleN = 3, minOverlap = 1, minRatio = 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptRatio == Set(2L, 3L))
    // ...and the forced-broadcast off-switch produces the same transform
    val keptNoBc = graft.ops.Decontaminate
      .decontaminate(d, bench, shingleN = 3, minOverlap = 5,
        broadcastBench = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptNoBc == kept)
  }

  test("broadcastBenchHint counts bench shingles and refuses above the bound") {
    import spark.implicits._
    val bench = Seq(
      (1L, (1 to 12).map(i => s"a$i").mkString(" ")), // 10 distinct 3-shingles
      (2L, (1 to 12).map(i => s"b$i").mkString(" "))) // 10 more
      .toDF("bench_id", "text")
    assert(graft.ops.Decontaminate.broadcastBenchHint(bench, 3, bound = 20))
    assert(!graft.ops.Decontaminate.broadcastBenchHint(bench, 3, bound = 19))
  }

  test("simhash: identical texts share signature, near-identical are close") {
    val a = Dedup.simhash64Scala("the quick brown fox jumps over the lazy dog again")
    val b = Dedup.simhash64Scala("the quick brown fox jumps over the lazy dog again")
    val c = Dedup.simhash64Scala("the quick brown fox jumps over the lazy cat again")
    val far = Dedup.simhash64Scala("completely different words entirely here now ok")
    assert(a == b)
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(a, c) < ham(a, far), s"${ham(a, c)} vs ${ham(a, far)}")
  }

  test("simhash candidates via block keys find near-identical docs") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val d = docs(
      (1L, base),
      (2L, base.replace("tok7", "tok7x")),
      (3L, (1 to 40).map(i => s"other$i").mkString(" ")))
    val cands = Dedup.simhashCandidatesFromSigs(
        d.select(col("doc_id"), Dedup.simhash64(col("text")).as("sig")),
        blocks = 4)
      .where(col("hamming") <= 16)
      .collect().map(r => Set(r.getLong(0), r.getLong(1)))
    assert(cands.contains(Set(1L, 2L)))
  }

  test("simhash dedup family: exact copies cluster with their source; distinct docs survive") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"zz$i").mkString(" ")
    val d = docs((1L, base), (2L, base), (3L, other))
    // copies share every block key and sit at hamming 0 → one cluster
    // with the min id as representative
    val groups = Dedup.simhashGroups(d, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(groups == Set((1L, 1L, 2L), (2L, 1L, 2L)))
    // the transform keeps the representative and the unrelated doc
    val kept = Dedup.simhashDedup(d, maxHamming = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  // --- ANN ---

  test("brute-force cosine top-k matches a driver-side reference computation") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val vecs = (0L until 200L).map(i =>
      (i, Array.fill(16)(rng.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs.head._2.toSeq
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val expected = vecs.map { case (i, v) => (i, cos(v.toSeq, q)) }
      .sortBy { case (i, c) => (-c, i) }.take(5).map(_._1)
    val got = Ann.topKCosine(df, q, 5).select("vec_id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == expected)
    assert(got.head == 0L) // self-match first
  }

  test("LSH ANN: query's own bucket contains it; recall measured vs brute force") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val vecs = (0L until 400L).map(i => (i, Array.fill(16)(rng.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs.head._2.toSeq
    val lsh = Ann.topKCosineLsh(df, q, 10, bits = 3).collect().map(_.getLong(0))
    assert(lsh.head == 0L)
    val brute = Ann.topKCosine(df, q, 10).collect().map(_.getLong(0)).toSet
    val recall = lsh.count(brute).toDouble / 10
    info(f"LSH@3bits recall vs brute force: $recall%.2f")
    assert(recall >= 0.1) // self-match always survives; rest is probabilistic
  }

  test("IVF ANN: full probe equals brute force exactly; partial probe keeps self-match and measured recall") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val vecs = (0L until 400L).map(i => (i, Array.fill(16)(rng.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs.head._2.toSeq
    val (centers, assigned) = Ann.ivfIndex(df, nlist = 8)
    assert(centers.length == 8)
    val brute = Ann.topKCosine(df, q, 10).collect().map(_.getLong(0)).toSeq
    // nprobe = nlist probes every list → identical to brute force
    val full = Ann.ivfSearch(assigned, centers, q, 10, nprobe = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(full == brute)
    // partial probe: the query's own list is always probed first
    val partial = Ann.ivfSearch(assigned, centers, q, 10, nprobe = 2)
      .collect().map(_.getLong(0))
    assert(partial.head == 0L)
    val recall = partial.count(brute.toSet).toDouble / 10
    info(f"IVF nprobe=2/8 recall vs brute force: $recall%.2f")
    assert(recall >= 0.1)
  }

  test("embedding-cosine near-dup finds planted pairs, skips dissimilar") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val base = (0L until 100L).map(i => (i, Array.fill(16)(rng.nextFloat() * 2 - 1)))
    // plant: copy of each vector with 1% perturbation on one component
    val near = base.map { case (i, v) =>
      val w = v.clone(); w(0) = w(0) * 1.01f; (i + 1000L, w)
    }
    val df = (base ++ near).toDF("vec_id", "embedding")
    val pairs = Ann.embeddingNearDupPairs(df, dim = 16, minCosine = 0.98,
      bits = 6, bands = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = base.map { case (i, _) => (i, i + 1000L) }.toSet
    val found = planted.intersect(pairs)
    info(s"recall ${found.size}/${planted.size}, extra pairs ${(pairs -- planted).size}")
    assert(found.size >= 95) // multi-band recall
    // extras must genuinely be >= 0.98 cosine (exact-verified by design)
  }

  test("embedding near-dup: shuffles carry ids, never the vectors") {
    import spark.implicits._
    // 2000 vectors × dim 256 = 2 MB of raw vector payload. The former plan
    // shipped the embedding through the window + banded-self-join
    // exchanges on BOTH sides (≥ 2 × bands × payload ≈ 16 MB of exchange);
    // the id-only plan must stay under ONE raw payload pass in TOTAL
    // shuffle writes (ids + band keys only; the re-attach join broadcasts
    // here and storage-partitions at scale).
    val n = 2000L
    val dim = 256
    val df = spark.range(0, n, 1, 8).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        i => (pmod(xxhash64(col("id"), i), lit(1000)) / 1000.0).cast("float"))
        .as("embedding"))
    val written = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Ann.embeddingNearDupPairs(df, dim = dim, minCosine = 0.99,
        bits = 8, bands = 4).collect()
      // listener events are async: poll until the counter stabilizes
      var last = -1L
      var spins = 0
      while (written.get() != last && spins < 50) {
        last = written.get(); Thread.sleep(100); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    val rawPayload = n * dim * 4
    info(s"shuffle bytes written: ${written.get()} (raw vector payload: $rawPayload)")
    assert(written.get() < rawPayload,
      s"near-dup shuffles ${written.get()} bytes >= one raw vector pass " +
        s"($rawPayload) — is the embedding traveling through an exchange?")
  }

  // --- text analysis ---

  test("langId picks the dominant marker language with priority tie-break") {
    import spark.implicits._
    val d = Seq(
      "the cat and the dog of the house",
      "le chat et la maison des gens est grande",
      "der hund und die katze das ist gut",
      "el gato los perros que las casas es",
      "xx yy zz").toDF("text")
    val got = d.select(TextAnalysis.langId(col("text")).as("p"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("en", "fr", "de", "es", "und"))
  }

  test("quality features: token counts and ratios") {
    val d = docs((1L, "the the the the"), (2L, "a b c d e f g h i j k l"))
    val q = TextAnalysis.qualityFeatures(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(q(1L).getAs[Int]("n_tokens") == 4)
    assert(q(1L).getAs[Double]("stopword_ratio") == 1.0)
    assert(q(1L).getAs[Double]("distinct_token_ratio") == 0.25)
    assert(q(2L).getAs[Double]("distinct_token_ratio") == 1.0)
  }

  test("fingerprint is deterministic and length-guarded") {
    val d = docs((1L, "abcdefgh"), (2L, "abc"), (3L, "abcdefgh"))
    val fp = TextAnalysis.fingerprints(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(3L))
    assert(fp(2L).length == 32) // md5 of whole short text
  }

  // --- sampling determinism ---

  test("deterministic sample is partitioning-invariant") {
    import spark.implicits._
    val d1 = (0L until 1000L).toDF("k")
    val d2 = d1.repartition(17)
    val s1 = Sampling.deterministicSample(d1, col("k"), 50)
      .collect().map(_.getLong(0)).toSeq
    val s2 = Sampling.deterministicSample(d2, col("k"), 50)
      .collect().map(_.getLong(0)).toSeq
    assert(s1.sorted == s2.sorted)
  }

  test("stratified fixed-n respects per-group quota") {
    import spark.implicits._
    val d = (0L until 300L).map(i => (i, s"g${i % 3}")).toDF("k", "g")
    val s = Sampling.stratifiedFixedN(d, col("g"), col("k"), 7)
    val counts = s.groupBy("g").count().collect().map(_.getLong(1))
    assert(counts.forall(_ == 7) && counts.length == 3)
  }

  test("train/dev/test split is stable and roughly proportioned") {
    import spark.implicits._
    val d = (0L until 5000L).toDF("k")
    val split = Sampling.trainDevTestSplit(d, col("k"))
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("train") > 3500 && counts("train") < 4500)
    assert(counts("dev") > 250 && counts("dev") < 750)
    // stability across repartition
    val again = Sampling.trainDevTestSplit(d.repartition(13), col("k"))
    assert(split.exceptAll(again).count() == 0)
  }

  // --- scalar functions ---

  test("normalized Levenshtein with hyphen cleaning") {
    import spark.implicits._
    val d = Seq(("Reu-ters", "Reuters"), ("Havas", "Havaas"), ("abc", "abc"))
      .toDF("a", "b")
    val led = d.select(TextFunctions.levenshteinNorm(col("a"), col("b")).as("led"))
      .collect().map(_.getDouble(0))
    assert(led(0) == 0.0) // hyphen removed → identical
    assert(math.abs(led(1) - 1.0 / 6.0) < 1e-12)
    assert(led(2) == 0.0)
  }

  // --- multimodal plumbing ---

  test("media feature extraction: deterministic, fixed dim, batch-shaped") {
    import spark.implicits._
    val d = Seq(
      ("u1", "hello world".getBytes("UTF-8")),
      ("u2", Array.empty[Byte]),
      ("u3", "hello world".getBytes("UTF-8"))).toDF("url", "html")
    val f = Multimodal.extractFeatures(d).collect().map(m => m.url -> m).toMap
    assert(f("u1").features.length == Multimodal.FakeDecoder.FeatureDim)
    assert(f("u1").byte_entropy == f("u3").byte_entropy)
    assert(f("u1").features.toSeq == f("u3").features.toSeq)
    assert(f("u2").n_bytes == 0 && f("u2").byte_entropy == 0.0)
    assert(f("u1").byte_entropy > 0)
  }
}

package ops {
  /** The spec's handle on the package-private candidate-population
    * reduction, so the fuzz test above covers both broadcast branches. */
  private[graft] object DedupInternals {
    def reduceShingleSetsToPairs(sets: org.apache.spark.sql.DataFrame,
        pairs: org.apache.spark.sql.DataFrame,
        broadcastIds: Boolean): org.apache.spark.sql.DataFrame =
      Dedup.reduceShingleSetsToPairs(sets, pairs, broadcastIds)
  }
}
