package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core.GoldMention
import graft.eval.SpanEval
import graft.graph.GraphMaterialize
import graft.ner.{AliasTrieScorer, NerStage}
import graft.pipeline.KgPipeline
import graft.synth.Synth

/** End-to-end pipeline specs, including THE acceptance gate:
  * engine mentions vs generator gold at P/R ≥ 0.95 (HIPE-fuzzy regime,
  * BASELINE.json north rule). */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("P/R gate: fuzzy span match >= 0.95 on the synthetic corpus") {
    val n = 5000L
    val articles = Synth.articles(spark, n, seed = 42L, partitions = 16)
    val gold = Synth.gold(spark, n, seed = 42L, partitions = 16)
    val pred = NerStage.detect(articles, new AliasTrieScorer, numPartitions = 16)

    val fuzzy = SpanEval.score(pred.toDF(), gold.toDF(), fuzzy = true)
    info(f"fuzzy  P=${fuzzy.precision}%.4f R=${fuzzy.recall}%.4f F1=${fuzzy.f1}%.4f " +
      f"(tp=${fuzzy.tp} fp=${fuzzy.fp} fn=${fuzzy.fn})")
    assert(fuzzy.precision >= 0.95, s"precision ${fuzzy.precision}")
    assert(fuzzy.recall >= 0.95, s"recall ${fuzzy.recall}")

    val strict = SpanEval.score(pred.toDF(), gold.toDF(), fuzzy = false)
    info(f"strict P=${strict.precision}%.4f R=${strict.recall}%.4f F1=${strict.f1}%.4f")
    assert(strict.f1 >= 0.90, s"strict f1 ${strict.f1}")
  }

  test("gate filters: ad / non-fr-de / short-text articles yield no mentions") {
    val articles = Synth.articles(spark, 2000, seed = 42L, partitions = 8)
    val kept = NerStage.gate(articles)
    import spark.implicits._
    val badKept = kept.filter(a =>
      !(a.tp == "ar" || a.tp == "page") || !(a.lang == "fr" || a.lang == "de") ||
        a.text.length <= 2).count()
    assert(badKept == 0)
    // and the generator does plant agencies in ad/en rows — prove the gate
    // actually removes something
    val droppedWithAgency = articles
      .filter(a => a.tp == "ad" && a.text.contains("Reuters")).count()
    assert(droppedWithAgency > 0)
  }

  test("synthetic corpus is partitioning-invariant (genRow purity)") {
    import spark.implicits._
    val a4 = Synth.articles(spark, 500, 42L, partitions = 4)
      .map(_.url).collect().sorted.toSeq
    val a32 = Synth.articles(spark, 500, 42L, partitions = 32)
      .map(_.url).collect().sorted.toSeq
    assert(a4 == a32)
    // text byte-identity per url across generations (SURVEY §7.4 risk 1)
    val t1 = Synth.articles(spark, 200, 42L, 4).collect().map(a => a.url -> a.text).toMap
    val t2 = Synth.articles(spark, 200, 42L, 16).collect().map(a => a.url -> a.text).toMap
    assert(t1 == t2)
  }

  test("gold offsets slice the article text exactly") {
    val rows = (0L until 300L).map(i => Synth.genRow(42L, i))
    val byUrl = rows.map(r => r.article.url -> r.article.text).toMap
    val golds = rows.flatMap(_.gold)
    assert(golds.nonEmpty)
    golds.foreach { g: GoldMention =>
      assert(byUrl(g.url).substring(g.lOffset, g.rOffset) == g.surface)
    }
  }

  test("triples: set semantics over linked mentions + distinct aliases") {
    val articles = Synth.articles(spark, 1000, 42L, 8)
    val mentions = KgPipeline.mentions(articles, new AliasTrieScorer, 8)
    val t = GraphMaterialize.triples(mentions).cache()
    val linked = mentions.toDF().where(col("qid") =!= "NIL").cache()
    val nLinkedPairs = linked.select("url", "qid").distinct().count()
    assert(t.filter(col("pred") === "mentions_agency").count() == nLinkedPairs)
    val aliases = t.filter(col("pred") === "alias")
    assert(aliases.count() ==
      linked.select("qid", "surface").distinct().count())
    assert(aliases.count() > 0)
    // no NIL subjects/objects ever reach the graph
    assert(t.filter(col("obj") === "NIL" || col("subj") === "NIL").count() == 0)
    linked.unpersist(); t.unpersist()
  }

  test("resumable run: manifest skips finished buckets, output equals one-shot") {
    val dir = Files.createTempDirectory("kg_resume").toString
    val articles = Synth.articles(spark, 800, 42L, 8)
    val stats1 = KgPipeline.runResumable(articles, dir, buckets = 4)
    assert(stats1.map(_.bucket).sorted == Seq(0, 1, 2, 3))
    // second invocation: everything already in the manifest
    val stats2 = KgPipeline.runResumable(articles, dir, buckets = 4)
    assert(stats2.isEmpty)
    // resumed output == one-shot output
    val resumed = spark.read.parquet(s"$dir/mentions/bucket=*")
    val oneShot = KgPipeline.mentions(articles, new AliasTrieScorer).toDF()
    assert(resumed.count() == oneShot.count())
    assert(resumed.select("id").exceptAll(oneShot.select("id")).count() == 0)
    // manifest carries per-partition lineage
    val m = KgPipeline.manifest(spark, dir)
    assert(m.count() == 4)
    assert(m.agg(sum("n_mentions")).head.getLong(0) == oneShot.count())
    // unbucketed input was staged ONCE as a partitioned table — the
    // per-bucket loop prunes partitions instead of rescanning the corpus
    // B times
    val staged = java.nio.file.Paths.get(dir, "_staging")
    assert(Files.exists(staged), "bucket staging dir missing")
    val stagedParts = Files.list(staged).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("_bucket=")).toSeq
    assert(stagedParts.sorted == (0 until 4).map(b => s"_bucket=$b"))
  }

  test("partial resume: wiping one bucket from the manifest recomputes only it") {
    val dir = Files.createTempDirectory("kg_resume2").toString
    val articles = Synth.articles(spark, 400, 42L, 8)
    KgPipeline.runResumable(articles, dir, buckets = 4)
    // simulate a crash after 3 of 4 buckets: rewrite manifest without bucket 2
    val m = KgPipeline.manifest(spark, dir).where(col("bucket") =!= 2).cache()
    m.count()
    val mdir = new java.io.File(s"$dir/_manifest")
    mdir.listFiles().foreach(_.delete())
    m.write.mode("overwrite").parquet(s"$dir/_manifest")
    val stats = KgPipeline.runResumable(articles, dir, buckets = 4)
    assert(stats.map(_.bucket) == Seq(2))
    // bucket 2's outputs were already written when its row went missing:
    // the redo overwrites them, so the output equals a one-shot run row
    // for row, with no duplicates, and each bucket is listed once
    val oneShot = Files.createTempDirectory("kg_resume2_oneshot").toString
    KgPipeline.runResumable(articles, oneShot, buckets = 4)
    Seq("mentions", "triples").foreach { t =>
      val got = spark.read.parquet(s"$dir/$t")
      val want = spark.read.parquet(s"$oneShot/$t")
      assert(got.count() == want.count(), t)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, t)
    }
    assert(KgPipeline.manifest(spark, dir).select("bucket").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(0, 1, 2, 3))
    assert(KgPipeline.manifest(spark, dir).agg(sum("n_articles"))
      .head().getLong(0) == 400L)
  }

  test("resume pins buckets, scorer and input files") {
    import spark.implicits._
    val in = Files.createTempDirectory("kg_pin_in").toString
    Synth.articles(spark, 200, 42L, 4).write.parquet(s"$in/a")
    Synth.articles(spark, 200, 42L, 4).write.parquet(s"$in/b")
    def read(p: String) =
      spark.read.parquet(s"$in/$p").as[graft.core.Article]
    val dir = Files.createTempDirectory("kg_pin").toString
    assert(KgPipeline.runResumable(read("a"), dir, buckets = 4)
      .map(_.bucket).sorted == Seq(0, 1, 2, 3))
    // a larger count would be silently accepted without the pin: the
    // staged table only holds buckets 0..3
    Seq(2, 8).foreach { b =>
      val e = intercept[IllegalArgumentException] {
        KgPipeline.runResumable(read("a"), dir, buckets = b)
      }
      assert(e.getMessage.contains("different parameters"), e.getMessage)
    }
    // identical rows under another path are another input
    intercept[IllegalArgumentException] {
      KgPipeline.runResumable(read("b"), dir, buckets = 4)
    }
    intercept[IllegalArgumentException] {
      KgPipeline.runResumable(read("a"), dir, buckets = 4,
        scorer = new graft.ner.LinearTokenScorer)
    }
    assert(KgPipeline.runResumable(read("a"), dir, buckets = 4).isEmpty)
  }

  test("a refused resume runs no Spark job") {
    val dir = Files.createTempDirectory("kg_pin_jobs").toString
    val articles = Synth.articles(spark, 200, 42L, 4)
    KgPipeline.runResumable(articles, dir, buckets = 2)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      intercept[IllegalArgumentException] {
        KgPipeline.runResumable(articles, dir, buckets = 3)
      }
      // the listener bus delivers in order: once the sentinel job is
      // seen, every job the refused call started has been seen too
      sc.setJobGroup("sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.contains("sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(jobs.asScala.toSeq == Seq("sentinel"))
    } finally sc.removeSparkListener(listener)
  }

  test("Main refuses unknown flags at parse time") {
    val ok = graft.app.Main.parseArgs(
      Array("--synth", "10", "--output", "/tmp/x", "--buckets", "4"))
    assert(ok == Map("synth" -> "10", "output" -> "/tmp/x", "buckets" -> "4"))
    Seq("--bucket" -> "64", "--scorer" -> "onnx").foreach { case (f, v) =>
      val e = intercept[IllegalArgumentException] {
        graft.app.Main.parseArgs(Array("--synth", "10", "--output", "/tmp/x", f, v))
      }
      assert(e.getMessage.contains(s"unknown flag $f"), e.getMessage)
    }
  }
}
