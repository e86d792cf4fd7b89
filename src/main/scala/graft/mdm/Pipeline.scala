package graft.mdm

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.GraftFunctions

/** End-to-end MDM pipeline (reference lifecycle A, SURVEY.md §3):
  * standardize -> block -> pairs -> score -> cluster -> golden, each stage
  * optionally snapshot-committed for resume (north rule).
  */
object Pipeline {

  case class Result(
      clean: DataFrame,
      scored: DataFrame,
      assignments: DataFrame,
      golden: DataFrame)

  /** Run the full pipeline in memory (no snapshots). Reused stage outputs
    * are persisted MEMORY_AND_DISK (the reference caches its reused base
    * pool the same way, spark_data_generator.py:403). */
  def run(pages: DataFrame, cfg: MatchConfig = MatchConfig()): Result = {
    val spark = pages.sparkSession
    GraftFunctions.register(spark)

    val clean = Standardize(pages).persist(StorageLevel.MEMORY_AND_DISK)
    // signature computed ONCE; blocking and scoring both read it from here
    val withSig = Blocking.withSignature(clean, cfg)
      .select(Scoring.attachColumns.map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keys = Blocking.blockKeysFromSig(withSig, cfg)
    val cands = Pairs.candidates(keys, cfg)
    val attached = Pairs.attach(cands, withSig)
    val scored = Scoring(attached, cfg).persist(StorageLevel.MEMORY_AND_DISK)

    val assignments = ConnectedComponents(mergeEdges(scored), clean.select("record_id"), cfg)
    val golden = Golden(assignments, clean)
    Result(clean, scored, assignments, golden)
  }

  /** Run with per-stage snapshot commits + lineage counters; resumes from
    * the last committed stage if the store already holds snapshots. */
  def runCheckpointed(pages: DataFrame, store: SnapshotStore,
      cfg: MatchConfig = MatchConfig()): Result = {
    val spark = pages.sparkSession
    GraftFunctions.register(spark)

    // Clean-record snapshot is Hive-partitioned by capture date — the
    // reference's own scale advice (PARTITION BY DATE(processed_at),
    // batch_mdm_gcp/MDM_BATCH_PROCESSING.md:441-463; our recency column is
    // warc_ts per the north rule): incremental re-runs and time-scoped
    // audits prune to the touched dates at the parquet-directory level.
    val clean =
      if (store.has("standardize")) store.read(spark, "standardize")
      else store.commit(
        Standardize(pages).withColumn("capture_date", to_date(col("warc_ts"))),
        "standardize", partitionBy = Seq("capture_date"))

    // Lineage counters are observed inside the job that writes the scored
    // snapshot, so candidates and scoring each run once. A resume from a
    // committed `scored` has no such job and counts its edges instead.
    val (scored, mergeEdgeCount) =
      if (store.has("scored")) {
        val s = store.read(spark, "scored")
        (s, () => mergeEdges(s).count())
      } else {
        val withSig = Blocking.withSignature(clean, cfg)
          .select(Scoring.attachColumns.map(col): _*)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val keys = Blocking.blockKeysFromSig(withSig, cfg)
        val candObs = Observation()
        val edgeObs = Observation()
        val cands = Pairs.candidates(keys, cfg).observe(candObs, count(lit(1)).as("n"))
        val s = store.commit(
          Scoring(Pairs.attach(cands, withSig), cfg)
            .observe(edgeObs, count(when(isMergeEdge, lit(1))).as("n")),
          "scored",
          // dropped-block counters appear iff cfg.dropBlocksLargerThan is on
          Map("candidates_generated" -> observed(candObs)) ++ Pairs.droppedBlockStats(keys, cfg))
        withSig.unpersist()
        (s, () => observed(edgeObs))
      }

    val assignments =
      if (store.has("clusters")) store.read(spark, "clusters")
      else store.commit(ConnectedComponents(mergeEdges(scored), clean.select("record_id"), cfg),
        "clusters", Map("merge_edges" -> mergeEdgeCount()))

    val golden =
      if (store.has("golden")) store.read(spark, "golden")
      else store.commit(Golden(assignments, clean), "golden")

    Result(clean, scored, assignments, golden)
  }

  // Edges: decisions the reference clusters on (auto_merge + human_review,
  // bigquery_utils.py:645-653). Both imply combined_score >= reviewThreshold
  // because MatchConfig requires autoMergeThreshold >= reviewThreshold.
  private val isMergeEdge = col("match_decision").isin("auto_merge", "human_review")

  private def mergeEdges(scored: DataFrame): DataFrame =
    scored.where(isMergeEdge).select(col("record1_id").as("src"), col("record2_id").as("dst"))

  /** The `n` of an observation whose action has run. */
  private def observed(obs: Observation): Long = obs.get("n").asInstanceOf[Long]
}
