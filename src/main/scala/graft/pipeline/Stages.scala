package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest

import org.apache.spark.sql.{Dataset, Encoder, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** The on-disk resume protocol shared by [[KgPipeline.runResumable]] and
  * [[graft.ops.CleaningPipeline.cleanedMetaResumable]] (the reference
  * restarts a killed run per prefix directory, `cli_tagger.py:250-259`).
  *
  * A pipeline splits its work into numbered units (KG buckets, cleaning
  * stages) under one directory:
  *
  *  - `_params`   — the parameters that define every staged result, one
  *                  `key=value` line each, written atomically on the
  *                  first call. A later call with different pinned values
  *                  refuses before any Spark job runs: a staged result may
  *                  only be reused under the parameters that produced it.
  *                  Recorded (unpinned) lines are stored for the caller's
  *                  own compatibility checks.
  *  - `_manifest` — one parquet row per finished unit, keyed by an int
  *                  column. The done set is read once, before the first
  *                  unit runs (so a caller's own checks on `params` still
  *                  refuse before any job); a fresh directory has no
  *                  manifest and costs no job.
  *
  * The commit rule: a unit is done iff its manifest row exists. A unit
  * writes every output with `Overwrite` and appends its row last, so a
  * unit that crashed anywhere before its row is simply redone.
  *
  * Single writer per directory. Paths are driver-local; a cluster
  * deployment swaps the java.nio calls for the Hadoop FileSystem API.
  */
final class Stages private (
    spark: SparkSession,
    dir: String,
    unitCol: String,
    /** Every stored `_params` line, pinned and recorded, by key. */
    val params: Map[String, String]) {

  private lazy val done: Set[Int] = {
    val manifest = s"$dir/_manifest"
    if (Files.exists(Paths.get(manifest)))
      // the schema is given, so the read runs no inference job
      spark.read.schema(StructType(Seq(StructField(unitCol, IntegerType))))
        .parquet(manifest).collect().map(_.getInt(0)).toSet
    else Set.empty
  }

  /** Runs `body` unless `unit` is done, then appends the manifest row it
    * returns: that append commits the unit. */
  def run[R: Encoder](unit: Int)(body: => R): Option[R] =
    if (done(unit)) None
    else {
      val row = body
      spark.createDataset(Seq(row)).write.mode(SaveMode.Append)
        .parquet(s"$dir/_manifest")
      Some(row)
    }
}

object Stages {

  /** Pins `_params` under `dir`; the done set comes from the manifest's
    * `unitCol`. `pinned` lines must equal the stored ones in order;
    * `recorded` lines are written on the first call only. */
  def open(
      spark: SparkSession,
      dir: String,
      unitCol: String,
      pinned: Seq[(String, String)],
      recorded: Seq[(String, String)] = Nil
  ): Stages =
    new Stages(spark, dir, unitCol, pin(dir, pinned, recorded))

  private def pin(dir: String, pinned: Seq[(String, String)],
      recorded: Seq[(String, String)]): Map[String, String] = {
    def lines(kvs: Seq[(String, String)]) = kvs.map { case (k, v) => s"$k=$v" }
    val p = Paths.get(s"$dir/_params")
    if (Files.exists(p)) {
      val stored = new String(Files.readAllBytes(p), UTF_8)
        .split("\n").filter(_.nonEmpty).toSeq
      val free = recorded.map(_._1).toSet
      val storedPinned = stored.filterNot(l => free(l.takeWhile(_ != '=')))
      require(storedPinned == lines(pinned),
        s"resume into $dir with different parameters — staged results " +
          s"were computed under:\n${storedPinned.mkString("\n")}\nbut this " +
          s"run asks for:\n${lines(pinned).mkString("\n")}\nUse a new " +
          "directory (or the original parameters).")
      stored.map { l =>
        val i = l.indexOf('=')
        l.take(i) -> l.drop(i + 1)
      }.toMap
    } else {
      Files.createDirectories(p.getParent)
      val tmp = Paths.get(s"$dir/._params.tmp")
      Files.write(tmp, lines(pinned ++ recorded).map(_ + "\n").mkString
        .getBytes(UTF_8))
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
      (pinned ++ recorded).toMap
    }
  }

  /** `ds` with a row counter on the job that consumes it. The counter is
    * read after that job: counting rides on the unit's own write instead
    * of a separate count job or a read-back. */
  def counted[T](ds: Dataset[T]): (Dataset[T], () => Long) = {
    val obs = Observation()
    (ds.observe(obs, count(lit(1)).as("rows")),
      () => obs.get("rows").asInstanceOf[Long])
  }

  /** SHA-256 of the sorted input file list: driver metadata, no job.
    * Empty for generated input, which lists no files. */
  def inputDigest(files: Seq[String]): String =
    if (files.isEmpty) ""
    else MessageDigest.getInstance("SHA-256")
      .digest(files.sorted.mkString("\n").getBytes(UTF_8))
      .map(b => f"$b%02x").mkString
}
