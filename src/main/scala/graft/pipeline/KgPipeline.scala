package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.core.{Article, Mention, Triple}
import graft.graph.GraphMaterialize
import graft.link.Linker
import graft.ner.{AliasTrieScorer, NerStage, TokenScorer}

/** End-to-end KG construction: articles → mentions → triples.
  *
  * The Spark shape of the reference's production run (SURVEY §3.1):
  * {{{
  * articles                                  // pruned scan
  *   .where(lang ∈ {fr,de} && tp ∈ {ar,page})// pushed predicates (F1,F2)
  *   .repartition(N, xxhash64(url))          // north-rule partitioning
  *   .mapPartitions(ner)                     // M1-M10, executor singleton
  *   → relink (L1, Catalyst map probe)
  *   → triples / yearly edges (A4) writes    // partitioned parquet
  * }}}
  *
  * Checkpoint-resume (north rule; the reference restarts per prefix dir,
  * `cli_tagger.py:250-259`): articles are bucketed by `pmod(xxhash64(url),
  * buckets)`; each bucket writes to its own output partition directory and
  * a manifest row `(bucket, n_articles, n_mentions, n_triples, wall_ms)`
  * through the shared [[Stages]] protocol. On restart, buckets already
  * present in the manifest are skipped — a resumed run never recomputes
  * finished work and per-partition lineage is queryable from the
  * `_manifest` table.
  */
object KgPipeline {

  final case class BucketStat(
      bucket: Int,
      n_articles: Long,
      n_mentions: Long,
      n_triples: Long,
      wall_ms: Long
  )

  /** One-shot in-memory run (no checkpointing) — used by queries/bench. */
  def mentions(
      articles: Dataset[Article],
      scorer: TokenScorer = new AliasTrieScorer,
      numPartitions: Int = -1
  ): Dataset[Mention] =
    NerStage.detect(articles, scorer, numPartitions)

  def triples(
      articles: Dataset[Article],
      scorer: TokenScorer = new AliasTrieScorer,
      numPartitions: Int = -1
  ): Dataset[Triple] =
    GraphMaterialize.triples(mentions(articles, scorer, numPartitions))

  /** Resumable materialization to `outDir` with per-bucket manifest.
    * Returns stats of the buckets processed in THIS invocation. */
  def runResumable(
      articles: Dataset[Article],
      outDir: String,
      buckets: Int = 8,
      scorer: TokenScorer = new AliasTrieScorer
  ): Seq[BucketStat] = {
    val spark = articles.sparkSession
    import spark.implicits._

    // staged buckets, mentions and triples are valid only for the input,
    // bucket count and scorer that produced them: a resume that changes
    // any of them refuses (the input is pinned by its file list, read
    // from driver metadata — a full second pass to compare contents is
    // exactly what staging exists to avoid)
    val stages = Stages.open(spark, outDir, "bucket", Seq(
      "buckets" -> buckets.toString,
      "scorer" -> scorer.getClass.getName,
      "inputs" -> Stages.inputDigest(articles.inputFiles.toSeq)))

    // If the input already carries a `bucket` partition column (bucketed
    // table layout), filtering on it prunes to that bucket's files and the
    // per-bucket loop reads each input byte exactly once overall. On
    // unbucketed input we STAGE the bucket assignment once — one full
    // input pass writing parquet partitioned by `_bucket` — and loop over
    // the staged table with partition pruning. Without staging, the loop
    // would rescan the whole corpus once per bucket (B passes: a 256-bucket
    // recovery run over raw 100 TB input would read 25.6 PB). Lazy: a
    // resume with every bucket done touches neither.
    lazy val bucketed =
      if (articles.columns.contains("bucket")) {
        val in = articles.toDF().withColumnRenamed("bucket", "_bucket")
        // the bucket column comes from outside the program, so the pinned
        // count must cover it or the tail buckets would never be processed
        val staged = in.select(max(col("_bucket"))).head()
        val maxSeen = if (staged.isNullAt(0)) -1 else staged.getInt(0)
        require(maxSeen < buckets,
          s"input carries buckets up to $maxSeen but runResumable was " +
            s"called with buckets=$buckets — those buckets would silently " +
            "never be processed; resume with the original bucket count")
        in
      } else {
        // staging completeness is gated on the _SUCCESS marker: a run that
        // died mid-staging-write leaves a partial directory, rewritten
        val stagingDir = s"$outDir/_staging"
        if (!Files.exists(Paths.get(s"$stagingDir/_SUCCESS")))
          articles.toDF()
            .withColumn("_bucket",
              pmod(xxhash64(col("url")), lit(buckets)).cast("int"))
            .write.mode(SaveMode.Overwrite)
            .partitionBy("_bucket")
            .parquet(stagingDir)
        // the staged schema is known, so the read runs no inference job
        spark.read.schema(articles.schema.add("_bucket", IntegerType))
          .parquet(stagingDir)
      }

    (0 until buckets).flatMap { b =>
      stages.run(b) {
        val in = bucketed // staged by the first bucket to run, untimed
        val t0 = System.nanoTime()
        // every input article of the bucket is counted before the lang/tp
        // gate; the counter sits above the `_bucket` filter, so the scan
        // still prunes to this bucket's partition
        val (part, nArticles) = Stages.counted(
          in.where(col("_bucket") === b).drop("_bucket").as[Article])
        // NER runs once, inside the mentions write; the triples are built
        // from the mentions just written
        val (ms, nMentions) = Stages.counted(NerStage.detect(part, scorer))
        val mentionsDir = s"$outDir/mentions/bucket=$b"
        ms.toDF().write.mode(SaveMode.Overwrite).parquet(mentionsDir)
        val (ts, nTriples) = Stages.counted(GraphMaterialize.triples(
          spark.read.schema(ms.schema).parquet(mentionsDir).as[Mention]))
        ts.toDF().write.mode(SaveMode.Overwrite)
          .partitionBy("pred")
          .parquet(s"$outDir/triples/bucket=$b")
        BucketStat(b, nArticles(), nMentions(), nTriples(),
          (System.nanoTime() - t0) / 1000000)
      }
    }
  }

  /** Per-partition lineage/metrics view over the manifest (north rule:
    * "per-partition lineage + metrics"). */
  def manifest(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/_manifest")
}
