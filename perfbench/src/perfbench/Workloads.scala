package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.core.Article
import graft.eval.SpanEval
import graft.ops.{CleaningPipeline, SignatureStore}
import graft.pipeline.KgPipeline
import graft.streaming.StreamingKg
import graft.synth.Synth
import graft.tools.CleaningBench

/** One timed call of a workload's entry point. `check` verifies the
  * call's outputs (untimed) and returns the failures; `extra` carries
  * output counts the traced run reports. Times are epoch milliseconds
  * for spans, seconds for metrics. */
final case class Call(wallS: Double, cpuS: Double, docs: Long, rowsOut: Long,
    commitS: Seq[Double], ops: Int, startMs: Long, endMs: Long,
    check: () => Seq[String], extra: Map[String, Double] = Map.empty)

trait Workload {
  /** Commit units one call processes: buckets, chain stages or
    * micro-batches. */
  def opsPerCall: Int
  /** Calls a run measures at least, whatever `--seconds` says. */
  def minCalls: Int
  /** Full-size calls after the warm-up and before the measured ones: the
    * JIT keeps speeding calls up for a few more calls than the 1/10
    * warm-up makes. */
  def settleCalls: Int
  /** Untimed: writes this seed's inputs unless they are cached. */
  def prepare(spark: SparkSession): Unit
  /** One call on fresh directories under `dir`, on the full or the 1/10
    * input. */
  def call(spark: SparkSession, dir: Path, small: Boolean): Call
  /** Names the layer a Spark job belongs to, from its physical plan, the
    * driver stack that submitted it, and whether a streaming query ran
    * it. */
  def layerOf(plan: String, stack: String, streaming: Boolean): String
  /** Layers that also own the unnamed jobs just before them (a chain
    * stage or a micro-batch step ends in the write it prepares). */
  def forwardTarget(layer: String): Boolean = false
  /** Traced run only: whether to time one more call at `local[1]`. */
  def serialBaseline: Boolean = false
  /** Traced run only: per-layer numbers from direct calls into a layer's
    * public functions. */
  def layerProbes(spark: SparkSession): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, seed: Long, data: Path): Workload =
    name match {
      case "kg_bulk" => new KgWorkload(seed, data.resolve(name))
      case "clean_stream" => new CleanStreamWorkload(seed, data.resolve(name))
      case other => sys.error(s"unknown workload $other")
    }
}

/** Wall and process-CPU time of a block (CPU outside-in, from the OS). */
object Timed {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  final case class T[A](value: A, wallS: Double, cpuS: Double,
      startMs: Long, endMs: Long)

  def apply[A](body: => A): T[A] = {
    val ms0 = System.currentTimeMillis()
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val v = body
    val wall = (System.nanoTime() - t0) / 1e9
    T(v, wall, (os.getProcessCpuTime - cpu0) / 1e9, ms0,
      System.currentTimeMillis())
  }
}

/** Per-seed input cache: `write` fills a fresh directory; a `_READY`
  * marker written last makes a half-written cache invisible. */
object Inputs {
  def cached(dir: Path)(write: Path => Unit): Unit =
    if (!Files.exists(dir.resolve("_READY"))) {
      Fs.delete(dir)
      Files.createDirectories(dir)
      write(dir)
      Files.createFile(dir.resolve("_READY"))
    }

  def writeLong(p: Path, v: Long): Unit = Files.writeString(p, v.toString)
  def readLong(p: Path): Long = Files.readString(p).trim.toLong
}

/** `KgPipeline.runResumable`, the body of `graft.app.Main`, over an
  * unbucketed Synth corpus (full rows, `html` included), so each call
  * stages the corpus first and then loops over its buckets. */
final class KgWorkload(seed: Long, data: Path) extends Workload {
  private val docs = 40000L
  private val buckets = 2
  def opsPerCall: Int = buckets
  def minCalls: Int = 4
  def settleCalls: Int = 2

  private def size(small: Boolean) = if (small) docs / 10 else docs
  private def dir(small: Boolean) = data.resolve(s"docs-${size(small)}")

  def prepare(spark: SparkSession): Unit = Seq(false, true).foreach { small =>
    Inputs.cached(dir(small)) { d =>
      import spark.implicits._
      val s = seed
      // Synth.articles and Synth.gold row for row, from one generator pass
      val rows = spark.range(0, size(small), 1, 16).as[Long]
        .map { i => val r = Synth.genRow(s, i); (r.article, r.gold) }
        .persist(StorageLevel.MEMORY_AND_DISK)
      rows.select(col("_1.*")).write.parquet(d.resolve("corpus").toString)
      rows.select(explode(col("_2")).as("g")).select(col("g.*"))
        .write.parquet(d.resolve("gold").toString)
      rows.unpersist()
      Inputs.writeLong(d.resolve("n_input"),
        spark.read.parquet(d.resolve("corpus").toString).count())
    }
  }

  def call(spark: SparkSession, dir: Path, small: Boolean): Call = {
    import spark.implicits._
    val in = this.dir(small)
    val articles = spark.read.parquet(in.resolve("corpus").toString).as[Article]
    val out = dir.resolve("out").toString
    val t = Timed(KgPipeline.runResumable(articles, out, buckets))
    val stats = t.value
    val nInput = Inputs.readLong(in.resolve("n_input"))
    Call(t.wallS, t.cpuS, nInput, stats.map(_.n_triples).sum,
      stats.map(_.wall_ms / 1e3), buckets, t.startMs, t.endMs,
      () => check(spark, out, in, stats, nInput),
      Map("ner.mentions_out" -> stats.map(_.n_mentions).sum.toDouble,
        "graph.triples_out" -> stats.map(_.n_triples).sum.toDouble))
  }

  private def check(spark: SparkSession, out: String, in: Path,
      stats: Seq[KgPipeline.BucketStat], nInput: Long): Seq[String] = {
    import spark.implicits._
    val errs = ArrayBuffer.empty[String]
    // a leftover _manifest would turn the call into a no-op resume
    val returned = stats.map(_.bucket).sorted
    if (returned != (0 until buckets))
      errs += s"runResumable returned stats for buckets $returned, " +
        s"expected each of 0..${buckets - 1}"
    val manifest = KgPipeline.manifest(spark, out)
    val mb = manifest.select("bucket").as[Int].collect().toSeq.sorted
    if (mb != (0 until buckets))
      errs += s"manifest lists buckets $mb, expected each of " +
        s"0..${buckets - 1} exactly once"
    val sums = manifest.agg(sum("n_articles"), sum("n_mentions"),
      sum("n_triples")).head()
    // the manifest counts every input article of a bucket, before the
    // lang/tp gate (KgPipeline: n_articles = part.count())
    if (sums.getLong(0) != nInput)
      errs += s"manifest n_articles sums to ${sums.getLong(0)}, the input " +
        s"holds $nInput"
    val mentions = spark.read.parquet(s"$out/mentions")
    val nMentions = mentions.count()
    if (sums.getLong(1) != nMentions)
      errs += s"manifest n_mentions sums to ${sums.getLong(1)}, the " +
        s"mentions output holds $nMentions rows"
    val nTriples = spark.read.parquet(s"$out/triples").count()
    if (sums.getLong(2) != nTriples)
      errs += s"manifest n_triples sums to ${sums.getLong(2)}, the triples " +
        s"output holds $nTriples rows"
    val m = SpanEval.score(mentions,
      spark.read.parquet(in.resolve("gold").toString), fuzzy = false)
    if (m.precision < 0.95 || m.recall < 0.95)
      errs += f"strict span P/R ${m.precision}%.4f/${m.recall}%.4f " +
        "against Synth.gold is below 0.95"
    errs.toSeq
  }

  def layerOf(plan: String, stack: String, streaming: Boolean): String =
    if (plan.contains("/_manifest")) "pipeline.manifest"
    else if (Plans.writesTo(plan, "/_staging")) "pipeline.staging"
    else if (Plans.writesTo(plan, "/triples/")) "graph.triples"
    else if (Plans.writesTo(plan, "/mentions/") || plan.contains("/triples"))
      "pipeline.write"
    else if (plan.contains("MapPartitions")) "ner.task"
    else if (plan.contains("Scan parquet") || plan.contains("FileScan"))
      "sources.scan"
    else "other"

  override def serialBaseline: Boolean = true

  override def layerProbes(spark: SparkSession) = NerProbe.run(seed)
}

/** The corpus-cleaning deployment, through two entry points in one
  * call: `CleaningPipeline.cleanedMetaResumable` cleans a planted corpus
  * into a fresh signature store (stage 4 appends the survivors), then
  * `StreamingKg.nearDupDedupStream` dedups newly arriving files against
  * that store, closed loop with one caller (one file per trigger).
  *
  * The corpus is CleaningBench's: groups of 20 docs with exactly known
  * contaminated, exact-duplicate and near-duplicate members. Each stream
  * file plants exact and near duplicates of stored survivors, near
  * duplicates of the previous file's survivors, and an exact duplicate
  * pair within itself. */
final class CleanStreamWorkload(seed: Long, data: Path) extends Workload {
  private val corpusDocs = 12000L
  private val fileDocs = 100
  /** Micro-batches per call: one pre-written file per trigger. */
  private def files(small: Boolean) = if (small) 1 else 2
  def opsPerCall: Int = 5 + files(false)
  /** A call runs about 150 jobs; one, after one settling call, keeps a
    * run inside its time budget. */
  def minCalls: Int = 1
  def settleCalls: Int = 1

  private def nCorpus(small: Boolean) = if (small) corpusDocs / 10 else corpusDocs
  private def nFile(small: Boolean) = if (small) fileDocs / 10 else fileDocs
  private def dir(small: Boolean) = data.resolve(
    s"docs-${nCorpus(small)}-files-${files(small)}x${nFile(small)}")
  private def firstId(small: Boolean, f: Int) =
    nCorpus(small) + f.toLong * nFile(small)

  /** A corpus doc the chain keeps: r = 4..16 of its group of 20 is never
    * contaminated or a duplicate. */
  private def survivor(small: Boolean, x: Long): Long =
    (x * 7919L % (nCorpus(small) / 20)) * 20 + 4 + x % 13

  /** Text of stream doc `j` of file `f`, and whether it is a planted
    * duplicate the dedup must drop. Position 3 duplicates position 4, so
    * the later of the pair (4) is the one dropped. */
  private def streamDoc(small: Boolean, f: Int, j: Int): (String, Boolean) = {
    val id = firstId(small, f) + j
    def base(i: Long) = CleaningBench.baseText(seed, i)
    j % 10 match {
      case 0 => (base(survivor(small, id)), true)
      case 1 => (base(survivor(small, id)) + " nd" + id, true)
      case 2 if f > 0 => (base(firstId(small, f - 1) + j + 2) + " nd" + id, true)
      case 3 => (base(id + 1), false)
      case 4 => (base(id), true)
      case _ => (base(id), false)
    }
  }

  private def planted(small: Boolean, f: Int): Int =
    (0 until nFile(small)).count(j => streamDoc(small, f, j)._2)

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  def prepare(spark: SparkSession): Unit = Seq(false, true).foreach { small =>
    Inputs.cached(dir(small)) { d =>
      import spark.implicits._
      val n = nCorpus(small)
      val s = seed
      spark.range(0, n / 20, 1, 4).where(col("id") % 500 === 0).as[Long]
        .map(g => (g, CleaningBench.textOf(s, g * 20 + 3)
          .split(" ").take(15).mkString(" ")))
        .toDF("bench_id", "text")
        .write.parquet(d.resolve("bench").toString)
      spark.range(0, n, 1, 8).as[Long]
        .map(i => (i, CleaningBench.textOf(s, i)))
        .toDF("doc_id", "text")
        .write.parquet(d.resolve("docs").toString)
      val rows = for (f <- 0 until files(small); j <- 0 until nFile(small))
        yield (f, firstId(small, f) + j, streamDoc(small, f, j)._1)
      val staged = d.resolve("staged")
      rows.toDF("f", "doc_id", "text").repartition(col("f"))
        .write.partitionBy("f").parquet(staged.toString)
      // one parquet file per trigger, named and time-stamped in order
      val stream = Files.createDirectories(d.resolve("stream"))
      val t0 = System.currentTimeMillis() - files(small) * 1000L
      (0 until files(small)).foreach { f =>
        val part = Files.list(staged.resolve(s"f=$f")).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        require(part.size == 1, s"file $f staged as ${part.size} parts")
        val target = stream.resolve(f"batch-$f%03d.parquet")
        Files.move(part.head, target)
        Files.setLastModifiedTime(target,
          java.nio.file.attribute.FileTime.fromMillis(t0 + f * 1000L))
      }
      Fs.delete(staged)
    }
  }

  def call(spark: SparkSession, dir: Path, small: Boolean): Call = {
    val in = this.dir(small)
    val stage = dir.resolve("stage").toString
    val store = dir.resolve("store").toString
    val out = dir.resolve("out").toString
    SignatureStore.init(spark, store, StoreLayout.Prefixes, k = 32,
      bands = 16, shingleN = 3)
    val docs = spark.read.parquet(in.resolve("docs").toString)
    val bench = spark.read.parquet(in.resolve("bench").toString)
    val source = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(in.resolve("stream").toString)
    val t = Timed {
      val survivors = CleaningPipeline.cleanedMetaResumable(docs, bench,
        stage, k = 32, bands = 16, shingleN = 3, maxBucket = 1024,
        minJaccard = 0.8, minOverlap = 5, storePath = Some(store))
      val nSurvivors = survivors.count()
      val q = StreamingKg.nearDupDedupStream(source, store, out,
        dir.resolve("checkpoint").toString, maxBucket = 64, minJaccard = 0.8)
      try q.processAllAvailable() finally q.stop()
      (nSurvivors, q)
    }
    val (nSurvivors, q) = t.value
    val stages = CleaningPipeline.manifest(spark, stage).collect()
      .map(r => r.getAs[Int]("stage") -> (r.getAs[Long]("rows"),
        r.getAs[Long]("wall_ms") / 1e3)).toMap
    val progress = q.recentProgress.filter(_.numInputRows > 0).toSeq
    val streamIds = spark.read.parquet(out).select("doc_id")
    val nStream = streamIds.count()
    Call(t.wallS, t.cpuS,
      nCorpus(small) + files(small).toLong * nFile(small),
      nSurvivors + nStream,
      progress.map(_.durationMs.get("triggerExecution").toDouble / 1e3),
      5 + files(small), t.startMs, t.endMs,
      () => checkChain(nCorpus(small), stages, nSurvivors) ++
        checkStream(spark, small, progress.size, streamIds, store),
      stages.map { case (s, (_, wall)) => s"clean.stage${s}_s" -> wall } ++
      stages.collect { case (s, (rows, _)) if s < 4 =>
        s"clean.stage${s}_rows" -> rows.toDouble
      } ++ Map(
        "stream.trigger_overhead_s" -> Stats.median(progress.map(p =>
          (p.durationMs.get("triggerExecution") -
            p.durationMs.getOrDefault("addBatch", 0L)).toDouble / 1e3)),
        "sigstore.files" -> StoreLayout.files(store).toDouble))
  }

  private def checkChain(n: Long, stages: Map[Int, (Long, Double)],
      nSurvivors: Long): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    val groups = n / 20
    val flagged = (groups + 499) / 500
    if (stages.keySet != (0 to 4).toSet)
      errs += s"chain manifest lists stages ${stages.keys.toSeq.sorted}"
    Map(0 -> n, 1 -> flagged, 2 -> 2 * groups, 3 -> groups).foreach {
      case (s, want) =>
        val got = stages.get(s).map(_._1)
        if (!got.contains(want))
          errs += s"stage $s rows $got, planted arithmetic gives $want"
    }
    val want = 17 * groups - flagged
    if (nSurvivors != want)
      errs += s"$nSurvivors survivors, planted arithmetic gives $want"
    errs.toSeq
  }

  private def checkStream(spark: SparkSession, small: Boolean, batches: Int,
      streamIds: DataFrame, store: String): Seq[String] = {
    import spark.implicits._
    val errs = ArrayBuffer.empty[String]
    if (batches != files(small))
      errs += s"$batches micro-batches carried rows, expected ${files(small)}"
    val perFile = streamIds
      .select(((col("doc_id") - nCorpus(small)) / nFile(small))
        .cast("int").as("f"))
      .groupBy("f").count().as[(Int, Long)].collect().toMap
    (0 until files(small)).foreach { f =>
      val drops = nFile(small) - perFile.getOrElse(f, 0L)
      if (drops != planted(small, f))
        errs += s"stream file $f: $drops drops, ${planted(small, f)} planted"
    }
    val maxId = firstId(small, files(small) - 1) + nFile(small) - 1
    val watermark = StoreMeta.maxDocId(store)
    if (watermark != maxId)
      errs += s"store watermark $watermark, max ingested id $maxId"
    errs.toSeq
  }

  /** Chain jobs belong to the stage whose directory they write (the
    * tracer gives the unnamed jobs before that write to the stage);
    * stream jobs to the probe, the write or the store append. */
  override def forwardTarget(layer: String): Boolean =
    layer.startsWith("clean.stage") || layer.startsWith("sigstore.") ||
      layer == "stream.write"

  def layerOf(plan: String, stack: String, streaming: Boolean): String =
    if (stack.contains("ConnectedComponents")) "canon.cc"
    else if (!streaming) {
      if (plan.contains("/_manifest")) "clean.manifest"
      else if (Plans.writesTo(plan, "/stage/staged")) "clean.stage0"
      else if (Plans.writesTo(plan, "/stage1_flagged")) "clean.stage1"
      else if (Plans.writesTo(plan, "/stage2_exact_drops")) "clean.stage2"
      else if (Plans.writesTo(plan, "/stage3_near_drops")) "clean.stage3"
      else if (Plans.writesTo(plan, "/store/")) "clean.stage4"
      else "other"
    }
    else if (Plans.writesTo(plan, "/out/batch=")) "stream.write"
    else if (Plans.writesTo(plan, "/store/")) "sigstore.append"
    else if (plan.contains("/store/bands") || plan.contains("/store/shingles"))
      "sigstore.probe"
    else "other"

  /** The ops and canon layers called directly on the chain's stage-3
    * input (the planted corpus minus its flagged and exact-duplicate
    * docs): candidate count, verified share, and the CC round count. */
  override def layerProbes(spark: SparkSession) = {
    val in = spark.read.parquet(this.dir(false).resolve("docs").toString)
    val r = col("doc_id") % 20
    val g = (col("doc_id") - r) / 20
    val stage3In = in.where(!(r === 17 || r === 19) &&
      !(r === 3 && g % 500 === 0))
    val cand = graft.ops.Dedup.lshCandidatePairs(stage3In, 32, 16, 3, 1024)
      .localCheckpoint()
    val nCand = cand.count()
    val pairs = graft.ops.Dedup.jaccardVerify(stage3In, cand, 3, 0.8)
      .localCheckpoint()
    val nPairs = pairs.count()
    val (_, rounds) = graft.canon.ConnectedComponents.runCounted(
      pairs.select(col("id1").as("src"), col("id2").as("dst")))
    Map("ops.lsh_candidates" -> nCand.toDouble,
      "ops.verify_yield" -> (if (nCand == 0) 0.0 else nPairs.toDouble / nCand),
      "canon.cc_rounds" -> rounds.toDouble)
  }
}


object StoreLayout {
  /** Partition prefixes of every signature store the benchmark writes. */
  val Prefixes = 16

  /** Data files in a store's tables. */
  def files(store: String): Long = {
    val all = Files.walk(java.nio.file.Paths.get(store))
    try all.filter(p => p.toString.endsWith(".parquet")).count()
    finally all.close()
  }
}

/** The store's watermark, read from its metadata file
  * (`_store_meta.json`, written by `SignatureStore`). */
object StoreMeta {
  private val MaxId = "\"maxDocId\":(-?\\d+)".r
  def maxDocId(store: String): Long =
    MaxId.findFirstMatchIn(Files.readString(
      java.nio.file.Paths.get(store, "_store_meta.json")))
      .map(_.group(1).toLong).getOrElse(Long.MinValue)
}

/** What a physical plan description says about file output. */
object Plans {
  private val Write = "Execute InsertIntoHadoopFsRelationCommand"

  /** True when the plan writes to a path containing `fragment`: the
    * write node's details (its `Arguments:` line) name the path. */
  def writesTo(plan: String, fragment: String): Boolean =
    plan.split(java.util.regex.Pattern.quote(Write)).drop(1).exists { node =>
      val end = node.indexOf("\n(")
      (if (end < 0) node else node.substring(0, end)).contains(fragment)
    }
}
