package graft.tools

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.canon.ConnectedComponents

/** Data-dominated scaling ladder for the Catalyst-only connected
  * components loop (canon/ConnectedComponents) — the shared core of
  * kg05/kg10/kg15/kg20/kg21 and the near-dup cluster transform.
  *
  * Why this exists: every prior CC measurement sat at ≤300k edges, where
  * the driver-coordinated round loop is pure fixed cost and core-count
  * scaling is meaningless (BENCH.md round-4 table: 3.2 s, 0.88× at 4×
  * cores). At web scale the near-dup pair graph is billions of edges, so
  * the question that matters is the opposite regime: when each round's
  * joins/aggregate dominate, does the loop scale with cores and does the
  * answer stay partitioning-invariant? This bench plants a graph whose
  * structure forces BOTH a real iteration count and exact expectations:
  *
  *  - CHAIN half: disjoint paths of `ChainLen` nodes — diameter 1023
  *    forces ~log₂ rounds of pointer doubling (the worst realistic
  *    shape; star-shaped alias graphs converge in 2-3), and the
  *    component census is exact arithmetic: `nChains` components of
  *    size exactly `ChainLen`, none touching a random-half node.
  *  - RANDOM half: one edge per `spark.range` row between xxhash64-drawn
  *    endpoints over its own id pool (avg degree 2 — supercritical, a
  *    giant component plus deterministic dust). Not analytic, but
  *    deterministic: both parallelism legs must produce the identical
  *    full component digest.
  *
  * Protocol mirrors ScalingBench (the round-3 paired-ladder order): the
  * edge table is materialized to parquet ONCE (untimed; CC's real input
  * is a table — a verified-pairs output), then each round runs lo-core
  * and hi-core legs back-to-back, each in a fresh child JVM with a
  * same-shape warm-up on a 10× smaller graph, with a CPU calibration
  * scalar per leg (the substrate law: only same-window comparisons are
  * decidable on this shared VM). Appends results to BENCH.md.
  */
object CcBench {

  private val Seed1 = 0x9e3779b97f4a7c15L
  private val Seed2 = 0xc2b2ae3d27d4eb4fL
  private val ChainLen = 1024L // nodes per chain; 1023-edge diameter

  private def dir(nEdges: Long) = s"/tmp/graft_cc_edges_$nEdges"

  private def nChains(nEdges: Long): Long =
    (nEdges / 2 + (ChainLen - 2)) / (ChainLen - 1)

  /** Deterministic planted graph: chain edges first, then random edges
    * over a disjoint id pool. All ids long, all derivation Catalyst
    * (xxhash64 / pmod over spark.range) — no driver-side generation. */
  private def edges(spark: SparkSession, nEdges: Long): DataFrame = {
    val chains = nChains(nEdges)
    val chainEdges = chains * (ChainLen - 1)
    val chainNodes = chains * ChainLen
    val randEdges = nEdges - chainEdges
    // node index i within [0, chainNodes); drop the last slot of each
    // chain so edges never bridge two chains
    val chain = spark.range(0, chainNodes, 1, 64)
      .where(col("id") % ChainLen =!= (ChainLen - 1))
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val rand = spark.range(0, randEdges, 1, 64)
      .select(
        (pmod(xxhash64(col("id"), lit(Seed1)), lit(randEdges)) +
          chainNodes).as("src"),
        (pmod(xxhash64(col("id"), lit(Seed2)), lit(randEdges)) +
          chainNodes).as("dst"))
    chain.unionAll(rand)
  }

  private def materialize(nEdges: Long): Unit = {
    val warm = nEdges / 10
    if (Files.exists(Paths.get(s"${dir(nEdges)}/_SUCCESS")) &&
      Files.exists(Paths.get(s"${dir(warm)}/_SUCCESS"))) return
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-cc-gen")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.local.dir", "/dev/shm/graft-spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      edges(spark, warm).write.mode(SaveMode.Overwrite).parquet(dir(warm))
      edges(spark, nEdges).write.mode(SaveMode.Overwrite)
        .parquet(dir(nEdges))
    } finally spark.stop()
  }

  /** Label-invariant-enough digest: run() labels components by min node
    * id (deterministic), so the full (component, size) census hashes to
    * one order-independent long — identical across parallelism levels or
    * the partitioning leaks into the answer. */
  private def digest(labels: DataFrame): (Long, Long, Long) = {
    val row = labels.groupBy(col("component")).count()
      .agg(
        count(lit(1)).as("n_components"),
        sum(col("count")).as("n_nodes"),
        // mod a prime before summing: ANSI mode (Spark 4 default) errors
        // on long-sum overflow, and raw 64-bit hashes would overflow at
        // ~2 terms; 5M terms × <2^31 stays far inside a long
        sum(pmod(xxhash64(col("component"), col("count")),
          lit(2147483647L))).as("digest"))
      .head()
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** One measurement in THIS JVM; prints a parsable line. */
  private def singleMain(cores: Int, nEdges: Long): Unit = {
    System.err.println(
      f"CALIB $cores ${HostCalibration.cpuCalibrationWall()}%.2f s")
    val shufflePartitions =
      sys.env.get("GRAFT_SHUFFLE_PARTITIONS").map(_.toInt).getOrElse(
        math.max(cores * 2, math.min(1024L, nEdges / 300000L).toInt))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-cc-bench-$cores")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.local.dir", "/dev/shm/graft-spark-local")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // same-shape warm-up (JIT + codegen for every round's operators);
      // its result blocks are freed so the measured run starts with an
      // empty block manager
      val warm = ConnectedComponents.run(spark.read.parquet(dir(nEdges / 10)))
      warm.count()
      org.apache.spark.sql.graftbridge.CheckpointBridge
        .unpersistLocalCheckpoint(warm)
      val e = spark.read.parquet(dir(nEdges))
      val t0 = System.nanoTime()
      val (labels, iters) = ConnectedComponents.runCounted(e, maxIter = 40)
      // runCounted's terminal compaction already materialized `labels`;
      // the wall covers the full loop including its convergence counts
      val wall = (System.nanoTime() - t0) / 1e9
      val (nComp, nNodes, dig) = digest(labels)
      // exact planted arithmetic on the chain half: nChains components
      // of exactly ChainLen nodes, labeled by their own min node id
      val chains = nChains(nEdges)
      val chainNodes = chains * ChainLen
      val census = labels.where(col("node") < chainNodes)
        .groupBy(col("component")).count()
      val bad = census
        .where(col("count") =!= ChainLen || col("component") >= chainNodes)
        .count()
      val got = census.count()
      require(bad == 0 && got == chains,
        s"chain census broken: $got components ($chains expected), " +
          s"$bad mis-sized or cross-linked")
      println(s"SINGLE $cores $nEdges $wall $iters $nComp $nNodes $dig")
    } finally spark.stop()
  }

  /** Diagnostic mode: run ONE CC measurement in THIS JVM with per-round
    * walls, changed-label counts, and a stage-level task listener
    * (duration skew, per-task shuffle-read skew, spill) — the instrument
    * for the round-7 convergence-tail finding, where the 20M ladder's
    * rounds 17-21 slowed 19→121 s while rounds 1-15 held ~17 s. A
    * growing max/avg task ratio on one stage per round is the skew
    * signature (the giant random-half component concentrating the
    * pointer-doubling join's `component` key); flat ratios with growing
    * spill would instead indict storage pressure.
    *
    * First 20M run's verdict (BENCH.md round 7): the visible stages of
    * the 114 s final round sum to ~34 s — the tail is NOT task
    * execution, so the instrument also reports per-round driver GC
    * delta, /dev/shm (spark.local.dir) free bytes, and job-boundary
    * offsets to split "inside jobs but between stages" from "outside
    * jobs entirely". */
  private def roundsMain(cores: Int, nEdges: Long): Unit = {
    materialize(nEdges)
    System.err.println(
      f"CALIB $cores ${HostCalibration.cpuCalibrationWall()}%.2f s")
    val shufflePartitions =
      sys.env.get("GRAFT_SHUFFLE_PARTITIONS").map(_.toInt).getOrElse(
        math.max(cores * 2, math.min(1024L, nEdges / 300000L).toInt))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-cc-rounds-$cores")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.local.dir", "/dev/shm/graft-spark-local")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val epoch = System.currentTimeMillis()
    // per-stage task stats: [nTasks, sumDurMs, maxDurMs, sumShufReadB,
    // maxTaskShufReadB, sumSpillDiskB]
    val stats =
      new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, Int, Long, Long)]() // (stageId, numTasks, submitMs, durMs)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, Long, Long)]() // (jobId, startMs, endMs)
    val jobStarts =
      new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val jobsInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val a = stats.computeIfAbsent(t.stageId, _ => new Array[Long](6))
          val sr = Option(t.taskMetrics)
            .map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L)
          val sp = Option(t.taskMetrics)
            .map(_.diskBytesSpilled).getOrElse(0L)
          a.synchronized {
            a(0) += 1; a(1) += t.taskInfo.duration
            a(2) = math.max(a(2), t.taskInfo.duration)
            a(3) += sr; a(4) = math.max(a(4), sr); a(5) += sp
          }
        }
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          val i = s.stageInfo
          done.add((i.stageId, i.numTasks,
            i.submissionTime.getOrElse(0L),
            i.completionTime.getOrElse(0L) -
              i.submissionTime.getOrElse(0L)))
        }
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobsInFlight.incrementAndGet()
          jobStarts.put(j.jobId, j.time)
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          jobsInFlight.decrementAndGet()
          val s = jobStarts.remove(j.jobId)
          jobs.add((j.jobId, if (s == null) 0L else s.longValue(), j.time))
        }
      })
    // poor-man's driver profiler: while NO job is in flight (the growing
    // inter-stage gaps), sample the main thread's stack and histogram the
    // deepest spark/graft frame — names the driver-side code burning the
    // convergence tail without attaching a real profiler
    val mainThread = Thread.currentThread()
    val frameCounts =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()
    val sampler = new Thread(() => {
      while (true) {
        if (jobsInFlight.get() == 0) {
          val st = mainThread.getStackTrace
          val frame = st.find(e =>
            e.getClassName.startsWith("org.apache.spark") ||
              e.getClassName.startsWith("graft"))
            .map(e => s"${e.getClassName}.${e.getMethodName}")
            .getOrElse(if (st.nonEmpty)
              s"${st.head.getClassName}.${st.head.getMethodName}" else "?")
          frameCounts.merge(frame, 1, (a, b) => a + b)
        }
        Thread.sleep(100)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val gcBeans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans
    def gcMs(): Long = {
      var t = 0L
      gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
      t
    }
    val shmStore = Files.getFileStore(Paths.get("/dev/shm"))
    var lastGc = gcMs()
    def drainStages(print: Boolean): Unit = {
      var s = done.poll()
      while (s != null) {
        val (sid, n, sub, dur) = s
        if (print && dur >= 500) {
          val a = stats.getOrDefault(sid, new Array[Long](6))
          val avgMs = if (a(0) > 0) a(1) / a(0) else 0L
          val avgRd = if (a(0) > 0) a(3) / a(0) else 0L
          println(f"  STAGE $sid%4d t0=${(sub - epoch) / 1000.0}%7.1fs " +
            f"tasks=$n%4d dur=${dur / 1000.0}%6.1fs " +
            f"maxTask=${a(2) / 1000.0}%6.1fs avgTask=${avgMs / 1000.0}%6.1fs " +
            f"maxRead=${a(4) / 1048576.0}%7.1fMB avgRead=${avgRd / 1048576.0}%7.1fMB " +
            f"spill=${a(5) / 1048576.0}%7.1fMB")
        }
        s = done.poll()
      }
      var j = jobs.poll()
      while (j != null) {
        val (jid, st, en) = j
        if (print && en - st >= 500)
          println(f"  JOB   $jid%4d t0=${(st - epoch) / 1000.0}%7.1fs " +
            f"dur=${(en - st) / 1000.0}%6.1fs")
        j = jobs.poll()
      }
      if (print) {
        val gc = gcMs()
        println(f"  HOST  gcDelta=${(gc - lastGc) / 1000.0}%.1fs " +
          f"shmFree=${shmStore.getUsableSpace / 1073741824.0}%.1fGB " +
          f"tNow=${(System.currentTimeMillis() - epoch) / 1000.0}%.1fs")
        lastGc = gc
        val top = {
          val b = Seq.newBuilder[(String, Int)]
          frameCounts.forEach((k, v) => b += ((k, v.intValue())))
          frameCounts.clear()
          b.result().sortBy(-_._2).take(5)
        }
        top.foreach { case (f, n) =>
          println(f"  DRIVER $n%4d samples  $f")
        }
      }
    }
    try {
      val warm = ConnectedComponents.run(spark.read.parquet(dir(nEdges / 10)))
      warm.count()
      org.apache.spark.sql.graftbridge.CheckpointBridge
        .unpersistLocalCheckpoint(warm)
      drainStages(print = false)
      val e = spark.read.parquet(dir(nEdges))
      val t0 = System.nanoTime()
      val (labels, iters) = ConnectedComponents.runCounted(e, maxIter = 40,
        onRound = (iter, changed, secs) => {
          println(f"ROUND $iter%2d changed=$changed%,d wall=$secs%.1f s")
          drainStages(print = true)
        })
      val wall = (System.nanoTime() - t0) / 1e9
      val (nComp, nNodes, dig) = digest(labels)
      println(s"SINGLE $cores $nEdges $wall $iters $nComp $nNodes $dig")
    } finally spark.stop()
  }

  private def runInChildJvm(cores: Int,
      nEdges: Long): (Double, Int, Long, Long, Long, Double) = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments
    val cmd = new java.util.ArrayList[String]()
    cmd.add(javaBin)
    jvmArgs.forEach(a => if (!a.startsWith("-agentlib")) cmd.add(a))
    cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
    cmd.add("graft.tools.CcBench"); cmd.add("single")
    cmd.add(cores.toString); cmd.add(nEdges.toString)
    val p = new ProcessBuilder(cmd).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream)
      .getLines().toList
    val rc = p.waitFor()
    val line = out.find(_.startsWith("SINGLE ")).getOrElse(
      sys.error(s"child JVM failed (rc=$rc):\n" +
        out.takeRight(30).mkString("\n")))
    val calib = out.find(_.startsWith(s"CALIB $cores"))
      .map(_.split(" ")(2).toDouble).getOrElse(-1.0)
    val Array(_, _, _, wall, iters, nc, nn, dg) = line.split(" ")
    (wall.toDouble, iters.toInt, nc.toLong, nn.toLong, dg.toLong, calib)
  }

  def main(args: Array[String]): Unit = {
    if (args.length >= 3 && args(0) == "single") {
      singleMain(args(1).toInt, args(2).toLong)
      return
    }
    if (args.length >= 3 && args(0) == "rounds") {
      roundsMain(args(1).toInt, args(2).toLong)
      return
    }
    val nEdges = if (args.nonEmpty) args(0).toLong else 20000000L
    val (lo, hi) =
      if (args.length >= 3) (args(1).toInt, args(2).toInt) else (8, 32)
    val rounds = if (args.length >= 4) args(3).toInt else 2

    materialize(nEdges)
    val los = Seq.newBuilder[(Double, Int, Long, Long, Long, Double)]
    val his = Seq.newBuilder[(Double, Int, Long, Long, Long, Double)]
    (1 to rounds).foreach { _ =>
      los += runInChildJvm(lo, nEdges)
      his += runInChildJvm(hi, nEdges)
    }
    val l = los.result(); val h = his.result()
    // partitioning invariance: rounds-to-convergence, component count,
    // node count and the full census digest all identical across legs
    val sigs = (l ++ h).map(r => (r._2, r._3, r._4, r._5)).distinct
    require(sigs.size == 1, s"nondeterminism across legs: $sigs")
    val (iters, nComp, nNodes, dig) = sigs.head

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val coreRatio = hi.toDouble / lo
    val pairedEffs = l.zip(h).map { case (a, b) => (a._1 / b._1) / coreRatio }
    val effMed = median(pairedEffs)
    val wallLo = l.map(_._1).min
    val wallHi = h.map(_._1).min
    val epsLo = nEdges / wallLo
    val epsHi = nEdges / wallHi
    val chains = nChains(nEdges)

    val json =
      f"""{"n_edges":$nEdges,"rounds_to_converge":$iters,"n_components":$nComp,"n_nodes":$nNodes,"census_digest":$dig,""" +
        f""""planted_chains":$chains,"local$lo":{"wall_sec":$wallLo%.2f,"edges_per_sec":$epsLo%.0f,"calib":[${l.map(r => f"${r._6}%.2f").mkString(",")}]},""" +
        f""""local$hi":{"wall_sec":$wallHi%.2f,"edges_per_sec":$epsHi%.0f,"calib":[${h.map(r => f"${r._6}%.2f").mkString(",")}]},""" +
        f""""speedup":${wallLo / wallHi}%.2f,"paired_efficiencies":[${pairedEffs.map(e => f"$e%.3f").mkString(",")}],""" +
        f""""scaling_efficiency_median_paired":$effMed%.3f}"""
    println(json)

    val note =
      f"""
         |## CcBench run (${java.time.Instant.now()})
         |
         |Data-dominated connected-components ladder: $nEdges%,d edges
         |($chains planted ${ChainLen}-node chains — 1023 diameter forces
         |$iters pointer-doubling rounds — plus an equal random half),
         |parquet input, paired fresh-child-JVM protocol as ScalingBench,
         |CPU calibration per leg. Chain census exact at both levels
         |($chains components of exactly $ChainLen); full component digest
         |identical across legs (components=$nComp, digest=$dig).
         |
         || metric | local[$lo] | local[$hi] | ratio |
         || --- | --- | --- | --- |
         || wall best (s) | $wallLo%.2f | $wallHi%.2f | ${wallLo / wallHi}%.2f× |
         || edges/s (best) | $epsLo%.0f | $epsHi%.0f | ${epsHi / epsLo}%.2f× |
         |
         |Per-pair efficiencies: ${pairedEffs.map(e => f"$e%.3f").mkString(" / ")}
         |(median **$effMed%.3f**); per-leg CPU calibrations lo=[${l.map(r => f"${r._6}%.2f").mkString(", ")}] hi=[${h.map(r => f"${r._6}%.2f").mkString(", ")}].
         |```json
         |$json
         |```
         |""".stripMargin
    Files.write(Paths.get("BENCH.md"), note.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}
