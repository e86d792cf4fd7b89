package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Entity-resolution benchmark: runs one workload closed-loop from one
  * driver thread for a fixed time, checks every operation's output and
  * prints one JSON result line. Started by run.py, which builds the engine
  * and sizes the JVM for the host.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --cores <n> --partitions <n> --work <dir>
  */
object Main {

  /** Resume calls per operation: resume is short, so more samples. */
  private val ResumesPerOp = 3

  /** Corpus builds during set-up; set-up time takes their median. */
  private val CorpusBuilds = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    require(Workload.Names.contains(workload),
      s"unknown workload $workload; expected one of ${Workload.Names.mkString(", ")}")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val cores = arg("cores").toInt
    val partitions = arg("partitions").toInt
    val work = arg("work")

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    try run(spark, workload, seed, seconds, traced, cores, work, jvmStartMs)
    finally spark.stop()
  }

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
      traced: Boolean, cores: Int, work: String, jvmStartMs: Long): Unit = {
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val (entities, hot) = Workload.corpusSize(name)
    val corpus = new Corpus(spark, s"$work/pages", entities, hot, seed)
    val corpusS = (1 to CorpusBuilds).map { _ =>
      val t0 = System.nanoTime(); corpus.build(); (System.nanoTime() - t0) / 1e9
    }
    val w = Workload(name, spark, work, corpus)
    val t0 = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = sessionS + Stats.median(corpusS) + warmS

    // Timed loop: closed loop, one operation at a time, until the timed
    // operations and resumes add up to `seconds` and the workload's minimum
    // number of operations is reached. Settling, host stamps and output
    // digests happen between them and do not count.
    val tally = new Tally
    val ops = ArrayBuffer[OpResult]()
    val resumes = ArrayBuffer[Double]()
    val stamps = ArrayBuffer[Host.Stamp]()
    var i = 0
    def measuredS = ops.map(_.wallS).sum + resumes.sum
    // stops early once three operations have failed
    while (i == 0 || ((measuredS < seconds || ops.size < w.minOps) && i < ops.size + 3)) {
      i += 1
      Host.settle(1000)
      stamps += Host.stamp()
      tally.run(s"op $i")(w.op()).foreach { op =>
        ops += op
        (1 to ResumesPerOp).foreach { k =>
          tally.run(s"op $i resume $k")(w.resume()).foreach { case (s, digest) =>
            resumes += s
            tally.check(s"op $i resume $k",
              if (digest == op.goldenDigest) None else Some("resumed golden differs from the run's"))
          }
        }
      }
      stamps += Host.stamp()
    }
    if (ops.isEmpty) tally.skipped("checks", "no operation succeeded")

    // Correctness checks, outside the timed windows.
    val ref = if (ops.isEmpty) None else tally.run("reference")(w.reference())
    ref.foreach { r =>
      tally.check("f1", Checks.f1Problem(r.f1))
      ops.zipWithIndex.foreach { case (op, k) =>
        tally.check(s"op ${k + 1}", Checks.sameRows("golden vs reference", r.goldenKey, op.goldenKey))
      }
    }

    val e2e = ops.map(_.wallS).toSeq
    val pagesN = corpus.size.toDouble
    val e2eMed = if (e2e.isEmpty) Double.NaN else Stats.median(e2e)
    val resumeMed = if (resumes.isEmpty) Double.NaN else Stats.median(resumes.toSeq)
    val (tailPct, tailS) = if (e2e.isEmpty) (0, Double.NaN) else Stats.tail(e2e)

    val metrics: Map[String, Double] =
      if (!traced) Map(
        "setup_s" -> setupS,
        "e2e_s" -> e2eMed,
        "pages_per_s" -> pagesN / e2eMed,
        "pairs_per_s" -> (if (ops.isEmpty) Double.NaN else Stats.median(ops.map(o => o.pairs / o.wallS).toSeq)),
        "f1" -> ref.map(_.f1.f1).getOrElse(Double.NaN),
        "resume_s" -> resumeMed,
        "write_bytes_per_page" ->
          (if (ops.isEmpty) Double.NaN else Stats.median(ops.map(_.bytes / pagesN).toSeq)))
      else ref.fold(Map.empty[String, Double])(r => tracedRun(spark, w, tally, r, cores, e2eMed + resumeMed))

    val detail = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cores" -> cores, "partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "corpus" -> Map("entities" -> entities, "hot_entities" -> hot, "pages" -> corpus.size),
      "setup" -> Map("session_s" -> sessionS, "corpus_build_s" -> corpusS, "warm_op_s" -> warmS),
      "op_wall_s" -> e2e, "op_pairs" -> ops.map(_.pairs), "resume_s" -> resumes,
      "e2e_tail" -> Map("percentile" -> tailPct, "value_s" -> tailS, "samples" -> e2e.size),
      "host" -> Map(
        "cpu_gops" -> stamps.map(_.cpuGops), "alloc_gbps" -> stamps.map(_.allocGbps)),
      "errors" -> tally.messages)
    val detailLine = Json(Map("detail" -> detail))
    println(detailLine)
    val resultDir = java.nio.file.Paths.get(work, "results")
    java.nio.file.Files.createDirectories(resultDir)
    java.nio.file.Files.write(resultDir.resolve(s"$name-seed$seed-trace${if (traced) 1 else 0}.json"),
      (detailLine + "\n" + Json(metrics) + "\n").getBytes("UTF-8"))

    val specs = if (traced) Metrics.PerLayer else Metrics.EndToEnd
    val out = specs.map(s => s.name -> Map("value" -> metrics.getOrElse(s.name, Double.NaN), "unit" -> s.unit))
    println(Json(scala.collection.immutable.ListMap(
      "correct" -> (tally.failed == 0),
      "attempted" -> tally.attempted,
      "failed" -> tally.failed,
      "metrics" -> scala.collection.immutable.ListMap(out: _*))))
  }

  /** One traced replay of the workload's operation and resume. Layers absent
    * from the workload's path report 0. */
  private def tracedRun(spark: SparkSession, w: Workload, tally: Tally, ref: Reference,
      cores: Int, untracedS: Double): Map[String, Double] = {
    val trace = new Trace(spark.sparkContext)
    spark.sparkContext.addSparkListener(trace)
    val extras = w.replay(trace, tally, ref)
    val tracedS = trace.sequencesS
    trace.drain(spark)
    spark.sparkContext.removeSparkListener(trace)
    val layers = Metrics.Layers.flatMap { l =>
      val s = trace.summary(l, cores)
      Seq(s"$l.wall_s" -> s.wallS, s"$l.task_cpu_s" -> s.taskCpuS, s"$l.busy_frac" -> s.busyFrac,
        s"$l.driver_only_s" -> s.driverOnlyS, s"$l.jobs" -> s.jobs.toDouble,
        s"$l.shuffle_mb" -> s.shuffleMb, s"$l.spill_mb" -> s.spillMb)
    }.toMap
    val sumWall = Metrics.Layers.map(l => layers(s"$l.wall_s")).sum
    Metrics.PerLayer.map(s => s.name -> 0.0).toMap ++ layers ++ extras ++ Map(
      "traced_e2e_s" -> tracedS,
      "untraced_s" -> (tracedS - sumWall),
      // Only the batch run and its resume have an untraced twin.
      "trace_overhead_s" -> (trace.sequenceS(Trace.Replay) - untracedS))
  }
}
