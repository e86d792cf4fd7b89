package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.mdm._
import graft.streaming.IncrementalMdm

/** A PageGen corpus written once as parquet. Every operation reads its input
  * pages from there, as a batch job reads its input table. */
final class Corpus(spark: SparkSession, dir: String, entities: Int, hot: Int, seed: Long) {
  private var pageCount = 0L

  def build(): Unit = {
    PageGen.pagesWithTruth(spark, entities, hot, seed).write.mode("overwrite").parquet(dir)
    pageCount = spark.read.parquet(dir).count()
  }

  def pages: DataFrame = spark.read.parquet(dir).select("url", "warc_ts", "html", "text", "lang")
  def truth: DataFrame = PageGen.truth(spark.read.parquet(dir))
  def size: Long = pageCount
}

/** One timed operation's accounting: wall time, scored pairs, bytes it left
  * on disk, and its golden output (key rows and a digest of all columns). */
final case class OpResult(wallS: Double, pairs: Long, bytes: Long,
    goldenKey: Seq[String], goldenDigest: String)

/** What the checks compare every operation against: the golden key rows of
  * a reference run and the pairwise F1 the checked run reached. */
final case class Reference(goldenKey: Seq[String], f1: Evaluate.PairwiseMetrics)

abstract class Workload(val spark: SparkSession, val work: String, val corpus: Corpus) {
  val cfg: MatchConfig = MatchConfig()

  /** Timed operations a run makes at least, however short `--seconds`. */
  def minOps: Int = 1

  /** Runs one operation from input pages to golden records. */
  def op(): OpResult

  /** One untimed operation before the timed loop, so that the JIT and
    * Spark's code generation have seen every stage once. */
  def warmUp(): Unit = { op(); resume() }

  /** Re-delivers the last operation's golden result; returns (wall seconds,
    * digest of the golden rows it delivered). */
  def resume(): (Double, String)

  /** The reference the operations are checked against, computed after the
    * timed loop. */
  def reference(): Reference

  /** Replays the operation layer by layer under `trace`; every call counts
    * as an operation in `tally` and its output is checked against `ref`.
    * Returns rows_out and layer-specific counters keyed by metric name. */
  def replay(trace: Trace, tally: Tally, ref: Reference): Map[String, Double]

  protected def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs one call of `name` under `t`; adds its output row count to
    * `rows` as `<name>.rows_out`. */
  protected def layer(t: Trace, rows: mutable.Map[String, Double], name: String)(
      body: => (DataFrame, Long)): DataFrame = {
    val (df, n) = t.layer(name)(body)
    rows(s"$name.rows_out") = rows.getOrElse(s"$name.rows_out", 0.0) + n
    df
  }

  protected def forced(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  protected def goldenOf(golden: DataFrame): (Seq[String], String) =
    Checks.goldenKey(golden) -> Checks.digest(Checks.goldenRows(golden))

  /** Size of the hottest block and the number of blocks that are
    * triangle-split into salt groups. */
  protected def blockStats(keys: DataFrame): Map[String, Double] = {
    val r = keys.groupBy("block_key").agg(count(lit(1)).as("n"))
      .agg(max("n"), sum(when(col("n") > cfg.maxBlockSize, 1L).otherwise(0L))).head()
    Map("candidates.max_block" -> r.getLong(0).toDouble,
      "candidates.salted_blocks" -> Option(r.get(1)).fold(0.0)(_.toString.toDouble))
  }
}

object Workload {
  val Names: Seq[String] = Seq("batch_skew", "batch_ckpt")

  /** Corpus sizes per workload: (entities, hot hub entities). */
  def corpusSize(name: String): (Int, Int) = name match {
    // ~120 hub entities give a hub block above MatchConfig.maxBlockSize (250),
    // so it is triangle-split into salt groups.
    case "batch_skew" => (300, 120)
    case "batch_ckpt" => (200, 0)
  }

  def apply(name: String, spark: SparkSession, work: String, corpus: Corpus): Workload =
    name match {
      case "batch_skew" => new BatchSkew(spark, work, corpus)
      case "batch_ckpt" => new BatchCkpt(spark, work, corpus)
    }
}

/** `Pipeline.run` in memory on a corpus with a hot hub domain; the golden
  * table is written to an output directory, which resume reads back. */
final class BatchSkew(spark: SparkSession, work: String, corpus: Corpus)
    extends Workload(spark, work, corpus) {
  private val out = s"$work/golden-out"
  private var last: Option[Pipeline.Result] = None

  /** Two operations fit a run here; with one, the run's median would swing
    * with whether a second one happened to start before `--seconds`. */
  override def minOps: Int = 2

  def op(): OpResult = {
    spark.catalog.clearCache()
    StoreStats.deleteRecursively(out)
    val (r, wall) = timed {
      val r = Pipeline.run(corpus.pages, cfg)
      r.golden.write.parquet(out)
      r
    }
    last = Some(r)
    val (key, dig) = goldenOf(spark.read.parquet(out))
    OpResult(wall, r.scored.count(), StoreStats.usage(out).bytes, key, dig)
  }

  def resume(): (Double, String) = {
    val (g, wall) = timed { val g = spark.read.parquet(out); g.count(); g }
    wall -> goldenOf(g)._2
  }

  def reference(): Reference = {
    val r = last.getOrElse(throw new IllegalStateException("no successful operation"))
    Reference(Checks.goldenKey(r.golden),
      Checks.f1(r.clean, corpus.truth, r.assignments, cfg))
  }

  def replay(t: Trace, tally: Tally, ref: Reference): Map[String, Double] = {
    spark.catalog.clearCache()
    StoreStats.deleteRecursively(out)
    val rows = mutable.Map[String, Double]()
    def layer(name: String)(body: => (DataFrame, Long)) = super.layer(t, rows, name)(body)
    // The calls Pipeline.run makes, in order, each forced; then one resume.
    val run = tally.run("traced batch run") {
      t.sequence(Trace.Replay) {
        val clean = layer("standardize")(forced(Standardize(corpus.pages)))
        val withSig = layer("signature")(forced(Blocking.withSignature(clean, cfg)
          .select(Scoring.attachColumns.map(col): _*)))
        val keys = layer("block_keys")(forced(Blocking.blockKeysFromSig(withSig, cfg)))
        val cands = layer("candidates")(forced(Pairs.candidates(keys, cfg)))
        val scored = layer("score")(forced(Scoring(Pairs.attach(cands, withSig), cfg)))
        val edges = scored
          .where(col("match_decision").isin("auto_merge", "human_review") &&
            col("combined_score") >= cfg.reviewThreshold)
          .select(col("record1_id").as("src"), col("record2_id").as("dst"))
        var rounds = 0
        val assignments = layer("cc") {
          val (a, it) = ConnectedComponents.applyWithStats(edges, clean.select("record_id"), cfg)
          rounds = it
          (a, a.count())
        }
        val golden = layer("golden")(forced(Golden(assignments, clean)))
        layer("sink") { golden.write.parquet(out); (golden, rows("golden.rows_out").toLong) }
        val back = tally.run("traced resume") {
          layer("resume") { val g = spark.read.parquet(out); (g, g.count()) }
        }
        (keys, edges, rounds, golden, back)
      }
    }
    run.foreach { case (keys, edges, rounds, golden, back) =>
      tally.check("traced batch run", Checks.sameRows("golden vs reference", ref.goldenKey,
        Checks.goldenKey(golden)))
      back.foreach(g => tally.check("traced resume", Checks.sameRows("resumed golden",
        Checks.goldenRows(golden), Checks.goldenRows(g))))
      val nEdges = edges.count()
      rows ++= blockStats(keys)
      rows ++= Map("cc.rounds" -> rounds.toDouble, "cc.edges" -> nEdges.toDouble,
        "score.edge_frac" -> nEdges.toDouble / math.max(1.0, rows("score.rows_out")))
    }
    rows.toMap
  }
}

/** `Pipeline.runCheckpointed` into a fresh `SnapshotStore` on a uniform
  * corpus, then resume calls on the completed store. */
final class BatchCkpt(spark: SparkSession, work: String, corpus: Corpus)
    extends Workload(spark, work, corpus) {
  private val storeDir = s"$work/store"
  private val streamDir = s"$work/stream-store"
  private var batchGoldenKey: Option[Seq[String]] = None

  /** The warm-up run is `Pipeline.run` on the same corpus: it warms the
    * stages both entry points share and gives the batch golden the
    * checkpointed runs are checked against. */
  override def warmUp(): Unit =
    batchGoldenKey = Some(Checks.goldenKey(Pipeline.run(corpus.pages, cfg).golden))

  def op(): OpResult = {
    spark.catalog.clearCache()
    StoreStats.deleteRecursively(storeDir)
    val (r, wall) = timed {
      val r = Pipeline.runCheckpointed(corpus.pages, new SnapshotStore(storeDir))
      r.golden.count()
      r
    }
    val pairs = new SnapshotStore(storeDir).manifest("scored")
      .flatMap(m => StoreStats.counters(m).get("row_count")).getOrElse(0L)
    val (key, dig) = goldenOf(r.golden)
    OpResult(wall, pairs, StoreStats.usage(storeDir).bytes, key, dig)
  }

  def resume(): (Double, String) = {
    val (g, wall) = timed {
      val g = Pipeline.runCheckpointed(corpus.pages, new SnapshotStore(storeDir)).golden
      g.count()
      g
    }
    wall -> goldenOf(g)._2
  }

  /** The batch golden from set-up; F1 of the last checkpointed run. */
  def reference(): Reference = {
    val store = new SnapshotStore(storeDir)
    Reference(batchGoldenKey.getOrElse(throw new IllegalStateException("no batch golden")),
      Checks.f1(store.read(spark, "standardize"), corpus.truth,
        store.read(spark, "clusters"), cfg))
  }

  def replay(t: Trace, tally: Tally, ref: Reference): Map[String, Double] = {
    spark.catalog.clearCache()
    StoreStats.deleteRecursively(storeDir)
    val rows = mutable.Map[String, Double]()
    def layer(name: String)(body: => (DataFrame, Long)) = super.layer(t, rows, name)(body)
    val store = new SnapshotStore(storeDir)
    def commit(body: => DataFrame): DataFrame =
      layer("commit") { val df = body; (df, 0L) }
    // The calls Pipeline.runCheckpointed makes on a fresh store, in order,
    // each forced; then one resume on the completed store.
    val run = tally.run("traced checkpointed run") {
      t.sequence(Trace.Replay) {
        val clean0 = layer("standardize")(forced(Standardize(corpus.pages)
          .withColumn("capture_date", to_date(col("warc_ts")))))
        val clean = commit(store.commit(clean0, "standardize", partitionBy = Seq("capture_date")))
        val withSig = layer("signature")(forced(Blocking.withSignature(clean, cfg)
          .select(Scoring.attachColumns.map(col): _*)))
        val keys = layer("block_keys")(forced(Blocking.blockKeysFromSig(withSig, cfg)))
        val cands = layer("candidates")(forced(Pairs.candidates(keys, cfg)))
        val nCands = rows("candidates.rows_out").toLong
        val scored0 = layer("score")(forced(Scoring(Pairs.attach(cands, withSig), cfg)))
        val scored = commit(store.commit(scored0, "scored",
          Map("candidates_generated" -> nCands) ++ Pairs.droppedBlockStats(keys, cfg)))
        val edges = scored
          .where(col("match_decision").isin("auto_merge", "human_review"))
          .select(col("record1_id").as("src"), col("record2_id").as("dst"))
        var rounds = 0
        val a0 = layer("cc") {
          val (a, it) = ConnectedComponents.applyWithStats(edges, clean.select("record_id"), cfg)
          rounds = it
          (a, a.count())
        }
        val assignments = commit(store.commit(a0, "clusters", Map("merge_edges" -> edges.count())))
        val golden0 = layer("golden")(forced(Golden(assignments, clean)))
        val golden = commit(store.commit(golden0, "golden"))
        val back = tally.run("traced resume") {
          layer("resume") {
            val g = Pipeline.runCheckpointed(corpus.pages, new SnapshotStore(storeDir)).golden
            (g, g.count())
          }
        }
        (keys, edges, rounds, golden, back)
      }
    }
    run.foreach { case (keys, edges, rounds, golden, back) =>
      tally.check("traced checkpointed run", Checks.sameRows("golden vs batch golden",
        ref.goldenKey, Checks.goldenKey(golden)))
      back.foreach(g => tally.check("traced resume", Checks.sameRows("resumed golden",
        Checks.goldenRows(golden), Checks.goldenRows(g))))
      val committed = store.committed().map(c => store.manifest(c._2).getOrElse(""))
      rows("commit.rows_out") = committed.flatMap(StoreStats.counters(_).get("row_count")).sum.toDouble
      val u = StoreStats.usage(storeDir)
      val nEdges = edges.count()
      rows ++= blockStats(keys)
      rows ++= Map("cc.rounds" -> rounds.toDouble, "cc.edges" -> nEdges.toDouble,
        "score.edge_frac" -> nEdges.toDouble / math.max(1.0, rows("score.rows_out")),
        "commit.bytes_mb" -> u.bytes / 1e6, "commit.files" -> u.files.toDouble,
        "commit.partition_dirs" -> u.partitionDirs.toDouble)
    }
    rows ++= microbatch(t, tally, ref)
    rows.toMap
  }

  /** The streaming entry point on the same corpus: its pages arrive as one
    * micro-batch into a fresh store. One micro-batch costs 20–55 s here, so
    * a second one (with history to read) does not fit the run's time limit.
    * The resulting golden table must equal the batch golden. */
  private def microbatch(t: Trace, tally: Tally, ref: Reference): Map[String, Double] = {
    StoreStats.deleteRecursively(streamDir)
    val store = new SnapshotStore(streamDir)
    val inc = new IncrementalMdm(store, cfg)
    val ok = tally.run("traced micro-batch") {
      t.sequence("microbatch")(t.layer("microbatch")(inc.processBatch(corpus.pages)))
    }
    if (ok.isEmpty) Map.empty
    else {
      tally.check("traced micro-batch", Checks.sameRows("stream golden vs batch golden",
        ref.goldenKey, Checks.goldenKey(inc.golden(spark))))
      val c = store.manifests("state").lastOption.map(m => StoreStats.counters(m._2))
        .getOrElse(Map.empty)
      Map(
        "microbatch.rows_out" -> c.getOrElse("rows_clean", 0L).toDouble,
        "microbatch.history_rows_scanned" -> c.getOrElse("history_rows_scanned", 0L).toDouble,
        "microbatch.pairs_scored" -> c.getOrElse("pairs_scored", 0L).toDouble,
        "microbatch.state_rows_written" ->
          c.collect { case (k, v) if k.startsWith("rows_") => v }.sum.toDouble,
        "microbatch.log_window_snapshots" ->
          StoreStats.logWindow(store.manifests("state"), IncrementalMdm.CompactEvery).toDouble,
        "microbatch.store_files" -> StoreStats.usage(streamDir).files.toDouble)
    }
  }
}
