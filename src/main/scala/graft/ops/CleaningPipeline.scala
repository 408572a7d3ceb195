package graft.ops

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.Stages

/** The composed corpus-cleaning pipeline a training-data user actually
  * runs — `decontaminate → exact dedup → near-dup dedup → (optionally)
  * SignatureStore.append(survivors)` — as ONE chain over a single staged
  * shingle/signature pass.
  *
  * Run independently, the four stages each recompute shingles (and two of
  * them signatures) from corpus text: at 100 TB that is 2-3 redundant
  * full text passes, and the text pass IS the dominant cost (scan +
  * shingle expression). Here the corpus text is read EXACTLY ONCE
  * (spec-asserted via filesystem read statistics): the first projection
  * computes per-document content hash, distinct shingle set, and MinHash
  * signature in one codegen'd pass and checkpoints the result; every
  * stage after that exchanges ids, hashes, and shingle/signature arrays —
  * never text.
  *
  * The staged projection lives at rest, as parquet under a stage
  * directory, and every stage persists its (id-only, tiny) output, so a
  * crashed chain RESUMES from the last committed stage without
  * re-scanning corpus text. Every hook here
  * ([[Decontaminate.contaminationReportOnShingles]],
  * [[Dedup.nearDupPairsFromSigs]], [[Dedup.nearDupDropIds]],
  * [[Dedup.bandRowsFromSigs]] for the store append) takes any
  * `(doc_id, …)` table, however persisted.
  *
  * Stage semantics are IDENTICAL to the standalone operators (the hooks
  * are the same code paths, oracle kg19 checks the composition end to
  * end against DuckDB):
  *  1. drop documents sharing ≥ `minOverlap` distinct shingles (and
  *     ≥ `minRatio` benchmark containment) with any benchmark row;
  *  2. keep the min doc_id per identical text (hash keyed — one uniform
  *     shuffle);
  *  3. LSH candidates (shared cap code) → exact Jaccard verify on the
  *     staged shingle sets → connected components → keep the min doc_id
  *     per near-dup cluster;
  *  4. optionally append the survivors' ALREADY-COMPUTED band keys and
  *     shingle sets into a persisted [[SignatureStore]] so future
  *     incremental batches dedup against the cleaned corpus.
  *
  * Note this is a pipeline, not a pure plan builder: the stages and the
  * connected-components loop run Spark jobs when called.
  */
object CleaningPipeline {

  /** One `_manifest` row of the resumable chain. */
  final case class StageStat(stage: Int, rows: Long, wall_ms: Long)

  /** Surviving `(doc_id, keepCols…)` rows of the cleaning chain, staged
    * and resumable under `stageDir`. The one-pass `(doc_id, keep…, _h,
    * sh, sig)` projection is staged to parquet, and every stage persists
    * its output, so a crashed chain resumes from the last committed stage
    * without re-scanning corpus text: any stage re-reads only the columns
    * it needs (the text column does not exist in the staged table at
    * all). The output is metadata-only by design — joining text back in
    * is the caller's write-side concern ([[cleanResumable]]).
    *
    * Layout under `stageDir`, resumed through the [[graft.pipeline.Stages]]
    * protocol shared with [[graft.pipeline.KgPipeline.runResumable]] (a
    * stage is committed by its `_manifest` row; every output is written
    * with `Overwrite`, so a stage that died before its row is redone):
    *
    *  - `_params`       — the run's parameters; a resume with DIFFERENT
    *                      parameters refuses loudly (staged signatures
    *                      computed under k/bands/shingleN are not valid
    *                      under others).
    *  - `staged/`       — THE text pass: hash + shingles + signature.
    *  - `stage1_flagged/`, `stage2_exact_drops/`, `stage3_near_drops/`
    *                    — per-stage dropped-id sets.
    *  - `stage4_store_attempt` / `stage4_store_done` — markers around
    *                      the (journaled, crash-recoverable) store
    *                      append, so a resume neither skips nor
    *                      double-runs it (see [[SignatureStore.recover]]).
    *  - `_manifest/`    — per-stage lineage: `(stage, rows, wall_ms)`.
    *
    * CONTRACT: the run binds to the FIRST input staged into `stageDir` —
    * resuming with different/extra `docs` or `bench` rows processes the
    * staged corpus and the persisted flagged set, not the new input; a
    * new input needs a new `stageDir`. `broadcastBench` is an execution
    * hint, not semantics, so it is not pinned.
    *
    * `allowStoreReplay`: a RE-RUN of the same cleaning job after its
    * store append already committed re-appends the same survivors —
    * with strict monotone checking the retry refuses on the watermark.
    * Pass true for an idempotent re-run (the store's windowed replay
    * gate still refuses genuinely misnumbered ids; duplicate rows are
    * probe-tolerated and compactable).
    */
  def cleanedMetaResumable(
      docs: DataFrame,
      bench: DataFrame,
      stageDir: String,
      keepCols: Seq[String] = Nil,
      k: Int = 32,
      bands: Int = 8,
      shingleN: Int = 3,
      maxBucket: Int = 64,
      minJaccard: Double = 0.8,
      minOverlap: Int = 5,
      minRatio: Double = 0.0,
      broadcastBench: Boolean = true,
      storePath: Option[String] = None,
      allowStoreReplay: Boolean = false
  ): DataFrame =
    runStages(docs, bench, stageDir, keepCols, k, bands, shingleN,
      maxBucket, minJaccard, minOverlap, minRatio, broadcastBench,
      storePath, allowStoreReplay, upTo = 4).get

  /** Per-stage lineage/metrics view over a resumable run's manifest. */
  def manifest(spark: SparkSession, stageDir: String): DataFrame =
    spark.read.parquet(s"$stageDir/_manifest")

  /** The cleaning chain as a full corpus TRANSFORM: input rows minus
    * contaminated documents, exact-duplicate non-representatives, and
    * near-duplicate non-representatives, with the id-level work
    * staged/resumed under `stageDir`. The payload re-attach is the one
    * deliberate second text scan (write-side semi-join on id). */
  def cleanResumable(
      docs: DataFrame,
      bench: DataFrame,
      stageDir: String,
      k: Int = 32,
      bands: Int = 8,
      shingleN: Int = 3,
      maxBucket: Int = 64,
      minJaccard: Double = 0.8,
      minOverlap: Int = 5,
      minRatio: Double = 0.0,
      broadcastBench: Boolean = true,
      storePath: Option[String] = None,
      allowStoreReplay: Boolean = false
  ): DataFrame =
    docs.join(
      cleanedMetaResumable(docs, bench, stageDir, Nil, k, bands, shingleN,
        maxBucket, minJaccard, minOverlap, minRatio, broadcastBench,
        storePath, allowStoreReplay),
      Seq("doc_id"), "left_semi")

  /** Runs stages 0..`upTo` (0=staging text pass, 1=decontaminate,
    * 2=exact drops, 3=near-dup drops, 4=store append), skipping stages
    * the manifest already lists. Returns the survivor frame once stage 3
    * is available and `upTo` ≥ 4.
    * Package-private so the spec can kill the chain between stages and
    * resume it. */
  private[graft] def runStages(
      docs: DataFrame,
      bench: DataFrame,
      stageDir: String,
      keepCols: Seq[String],
      k: Int, bands: Int, shingleN: Int, maxBucket: Int,
      minJaccard: Double, minOverlap: Int, minRatio: Double,
      broadcastBench: Boolean,
      storePath: Option[String],
      allowStoreReplay: Boolean,
      upTo: Int
  ): Option[DataFrame] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // parameter validation FIRST (ADVICE r6): the pin covers storePath,
    // so a resume mistakenly pointed at a DIFFERENT store refuses here —
    // before the recover() below could replay that store's pending
    // journal (which may belong to another in-flight writer's commit).
    // keepCols and the shingle representation are recorded, not pinned:
    // they are checked against the stored values below.
    val stages = Stages.open(spark, stageDir, "stage", Seq(
      "k" -> k.toString, "bands" -> bands.toString,
      "shingleN" -> shingleN.toString, "maxBucket" -> maxBucket.toString,
      "minJaccard" -> minJaccard.toString,
      "minOverlap" -> minOverlap.toString, "minRatio" -> minRatio.toString,
      "storePath" -> storePath.getOrElse("")),
      recorded = Seq("shRepr" -> SignatureStore.ShRepr,
        "keepCols" -> keepCols.mkString(",")))
    // the staged shingle sets' at-rest representation must match what
    // THIS engine computes (ADVICE r6): were the hash function/seed ever
    // to change, a resumed dir's overlap joins would silently match
    // nothing. Absent on legacy dirs — there the element-type schema
    // fallback (`shForStore`) is the only guard available.
    stages.params.get("shRepr").foreach(storedRepr =>
      require(storedRepr == SignatureStore.ShRepr,
        s"resume into $stageDir staged shingle sets under representation " +
          s"'$storedRepr' but this engine computes " +
          s"'${SignatureStore.ShRepr}' — overlap joins across " +
          "representations match nothing; use a new stageDir"))
    // the staged table carries the BINDING run's keep columns, so a
    // caller may ask for any subset of them (e.g. [[cleanResumable]]'s
    // id-only needs); stage 0, if it still has to run, stages them all
    val stagedKeep = stages.params.getOrElse("keepCols", "")
      .split(",").filter(_.nonEmpty).toSeq
    require(keepCols.forall(stagedKeep.contains),
      s"resume into $stageDir asks for keepCols ${keepCols.mkString(",")}" +
        s" but the run staged only ${stagedKeep.mkString(",")}; use a new " +
        "stageDir")
    storePath.foreach { p =>
      // a prior attempt that crashed INSIDE the store's commit window
      // leaves the journal present and the metadata deleted — the plain
      // readMeta below would refuse loudly and the recover() inside
      // stage 4 would never be reached. The attempt marker proves the
      // interrupted commit is OURS (single-writer contract, and the
      // params check above proved this resume targets the same store),
      // so replay it before reading the metadata.
      if (Files.exists(Paths.get(s"$stageDir/stage4_store_attempt")))
        SignatureStore.recover(spark, p)
      val m = SignatureStore.readMeta(spark, p)
      require(m.k == k && m.bands == bands && m.shingleN == shingleN,
        s"store $p has (k=${m.k}, bands=${m.bands}, shingleN=${m.shingleN})" +
          s" but the pipeline runs (k=$k, bands=$bands, shingleN=$shingleN)" +
          " — appending differently-banded signatures would silently miss" +
          " every future near-duplicate")
    }

    val stagedDir = s"$stageDir/staged"
    val flaggedDir = s"$stageDir/stage1_flagged"
    val exactDir = s"$stageDir/stage2_exact_drops"
    val nearDir = s"$stageDir/stage3_near_drops"

    // each stage's row count is OBSERVED on the stage's own write job
    // (r8) instead of re-reading the freshly written parquet — for stage
    // 0 that read-back was a full scan of the corpus-sized staged artifact
    def stage(n: Int)(write: => Long): Unit =
      stages.run(n) {
        val t0 = System.nanoTime()
        val rows = write
        StageStat(n, rows, (System.nanoTime() - t0) / 1000000L)
      }

    // stage 0 — THE text pass, at rest (staging the BINDING run's keep
    // columns, a superset of this caller's). `nsh` carries the shingle
    // count as its own tiny column so stage 3's sub-shingle gate never
    // has to decode the heavy `sh` array just to take its size. The
    // shingle sets carry the HASHED representation ([[Dedup.hashShingles]]):
    // every consumer (overlap counts, Jaccard verify, the store append) is
    // cardinality arithmetic, which hashing preserves, at ~2.5× fewer bytes.
    stage(0) {
      val (df0, rows0) = Stages.counted(docs.select(
          Seq(col("doc_id")) ++ stagedKeep.map(col) ++ Seq(
            md5(col("text").cast("binary")).as("_h"),
            Dedup.hashShingles(
              Dedup.distinctShingles(col("text"), shingleN)).as("sh"),
            Dedup.minhashSignature(col("text"), k, shingleN).as("sig")): _*)
        .withColumn("nsh", size(col("sh"))))
      df0
        // the staged table's codec is DELIBERATELY not pinned: an
        // un-optioned parquet write follows the session's standard
        // `spark.sql.parquet.compression.codec` (default snappy), so a
        // deployment whose staging storage is bandwidth-starved flips to
        // zstd by conf, no code change. The 20M A/B (BENCH.md round-6
        // ladders) read: at 8 cores the codecs are indistinguishable
        // inside the ±25% ambient-disk band; at 32 cores zstd's stage-3
        // medians ran ~15% ahead (fewer bytes off the slow shared disk,
        // decode parallelism ample) — suggestive, below conclusive.
        // Decode-cheap snappy stays the default for a transient
        // intra-job artifact; the long-lived CORPUS is where the
        // round-5 zstd-at-rest recommendation applies.
        .write.mode(SaveMode.Overwrite).parquet(stagedDir)
      rows0()
    }
    def staged = spark.read.parquet(stagedDir)
    // stage dirs staged before the nsh column existed resume fine — the
    // gate falls back to sizing the array
    def shCount =
      if (spark.read.parquet(stagedDir).columns.contains("nsh")) col("nsh")
      else size(col("sh"))
    // stage dirs staged before shingle sets were hashed at rest resume
    // fine too: decontamination adapts its bench side to the staged
    // element type, Jaccard is representation-agnostic, and only the
    // store append — whose contract IS hashed — re-hashes on the way out
    def shForStore =
      staged.schema("sh").dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, _) => col("sh")
        case _ => Dedup.hashShingles(col("sh")).as("sh")
      }
    if (upTo < 1) return None

    // stage 1 — decontamination flags over the staged shingle sets
    stage(1) {
      val (df1, rows1) = Stages.counted(
        Decontaminate.contaminationReportOnShingles(
            staged.select(col("doc_id"), col("sh")), bench, shingleN,
            minOverlap, minRatio, broadcastBench)
          .select(col("doc_id")).distinct())
      df1.write.mode(SaveMode.Overwrite).parquet(flaggedDir)
      rows1()
    }
    def flagged = spark.read.parquet(flaggedDir)
    if (upTo < 2) return None

    // stage 2 — exact-duplicate drops (digest-keyed window, hash+id only)
    stage(2) {
      val (df2, rows2) = Stages.counted(
        staged.select(col("doc_id"), col("_h"))
          .join(flagged, Seq("doc_id"), "left_anti")
          .withColumn("_rn", row_number().over(
            Window.partitionBy(col("_h")).orderBy(col("doc_id"))))
          .where(col("_rn") > 1)
          .select(col("doc_id")))
      df2.write.mode(SaveMode.Overwrite).parquet(exactDir)
      rows2()
    }
    def exactDrops = spark.read.parquet(exactDir)
    if (upTo < 3) return None

    // stage 3 — near-dup drops through the shared candidates → verify
    // builder. The drop-filter anti-joins run over the (doc_id, sig)
    // projection only; the verify side reads the heavy shingle column
    // straight from the staged table (candidate ids came from banding
    // over the filtered frame, so they already exclude every dropped
    // document) — the shingle sets never ride through an anti-join
    // exchange.
    stage(3) {
      val sigs = staged
        .where(shCount > 0).select(col("doc_id"), col("sig"))
        .join(flagged, Seq("doc_id"), "left_anti")
        .join(exactDrops, Seq("doc_id"), "left_anti")
      val pairs = Dedup.nearDupPairsFromSigs(sigs,
        staged.select(col("doc_id"), col("sh")), k, bands, maxBucket,
        minJaccard)
      val (df3, rows3) = Stages.counted(Dedup.nearDupDropIds(pairs))
      df3.write.mode(SaveMode.Overwrite).parquet(nearDir)
      rows3()
    }
    def nearDrops = spark.read.parquet(nearDir)
    def survivorIds(cols: Seq[String]) =
      staged.select(cols.map(col): _*)
        .join(flagged, Seq("doc_id"), "left_anti")
        .join(exactDrops, Seq("doc_id"), "left_anti")
        .join(nearDrops, Seq("doc_id"), "left_anti")
    if (upTo < 4) return None

    // stage 4 — fold survivors into the incremental store (signatures
    // already at rest; the append itself is a journaled staged commit)
    storePath.foreach { sp =>
      val done = Paths.get(s"$stageDir/stage4_store_done")
      val attempt = Paths.get(s"$stageDir/stage4_store_attempt")
      stage(4) {
        // the done marker confirms a committed append whose manifest row
        // never landed
        if (!Files.exists(done)) {
          val attempted = Files.exists(attempt)
          // the attempt marker carries this run's commit tag, so a resumed
          // attempt asks the STORE whether this exact append committed —
          // a POSITIVE record (ADVICE r6) instead of the old watermark
          // inference, which wrongly skipped the append when the watermark
          // already covered the batch ids for another reason (an
          // allowStoreReplay re-run, or a store advanced by a later batch)
          // after a crash BEFORE the commit.
          val tag =
            if (attempted)
              new String(Files.readAllBytes(attempt), "UTF-8").trim
            else {
              val t = java.util.UUID.randomUUID().toString
              Files.write(attempt, t.getBytes("UTF-8"))
              t
            }
          // finish any journaled commit a crashed attempt left behind —
          // after this the store is consistent: the prior append either
          // fully committed (metadata then carries its tag) or never
          // touched the live store
          SignatureStore.recover(spark, sp)
          val surv = survivorIds(Seq("doc_id", "sh", "sig"))
          val alreadyIn =
            if (attempted && tag.nonEmpty)
              SignatureStore.readMeta(spark, sp).lastCommitTag == tag
            else if (attempted) {
              // legacy attempt marker without a tag: the old watermark
              // inference, but REFUSED under allowStoreReplay where it is
              // exactly ambiguous (a redundant replayed append is
              // at-least-once-safe; a wrongly skipped one silently loses
              // the batch's signatures)
              val mxRow = surv.agg(max(col("doc_id").cast("long"))).head()
              !allowStoreReplay && !mxRow.isNullAt(0) &&
                SignatureStore.readMeta(spark, sp).maxDocId >= mxRow.getLong(0)
            } else false
          if (!alreadyIn) {
            SignatureStore.appendSignatures(spark, sp,
              Dedup.bandRowsFromSigs(
                surv.where(size(col("sh")) > 0)
                  .select(col("doc_id"), col("sig")), k, bands),
              surv.select(col("doc_id"), shForStore),
              allowReplay = allowStoreReplay || attempted,
              commitTag = Some(tag))
          }
          Files.createFile(done)
        }
        0L
      }
    }

    Some(survivorIds("doc_id" +: keepCols))
  }
}
