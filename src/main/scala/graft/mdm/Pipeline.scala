package graft.mdm

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.GraftFunctions

/** End-to-end MDM pipeline (reference lifecycle A, SURVEY.md §3):
  * standardize -> block -> pairs -> score -> cluster -> golden, each stage
  * optionally snapshot-committed for resume (north rule). The block -> pairs
  * -> score part is one chain, [[scoreChain]], shared by [[run]],
  * [[runCheckpointed]] and the scaling workload `Bench.scoreJob`.
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
    val scored = scoreChain(clean, cfg).scored.persist(StorageLevel.MEMORY_AND_DISK)

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
        val candObs = Observation()
        val edgeObs = Observation()
        val chain = scoreChain(clean, cfg, Some(candObs))
        val s = store.commit(
          chain.scored.observe(edgeObs, count(when(isMergeEdge, lit(1))).as("n")),
          "scored",
          // dropped-block counters appear iff cfg.dropBlocksLargerThan is on
          Map("candidates_generated" -> observed(candObs)) ++
            Pairs.droppedBlockStats(chain.keys, cfg))
        chain.withSig.unpersist()
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

  /** The score chain's frames. `withSig` is persisted; the caller
    * unpersists it once `scored` has been consumed. */
  private[graft] case class ScoreChain(withSig: DataFrame, keys: DataFrame, scored: DataFrame)

  /** clean -> scored candidate pairs. The signature is computed ONCE,
    * projected to [[Scoring.attachColumns]] and persisted; blocking and
    * scoring both read it. `candObs`, when given, counts the candidate pairs
    * (`n`) inside whichever action consumes `scored`. */
  private[graft] def scoreChain(clean: DataFrame, cfg: MatchConfig,
      candObs: Option[Observation] = None): ScoreChain = {
    val withSig = Blocking.withSignature(clean, cfg)
      .select(Scoring.attachColumns.map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keys = Blocking.blockKeysFromSig(withSig, cfg)
    val cands = Pairs.candidates(keys, cfg)
    val counted = candObs.fold(cands)(cands.observe(_, count(lit(1)).as("n")))
    ScoreChain(withSig, keys, Scoring(Pairs.attach(counted, withSig), cfg))
  }

  // Edges: decisions the reference clusters on (auto_merge + human_review,
  // bigquery_utils.py:645-653). Both imply combined_score >= reviewThreshold
  // because MatchConfig requires autoMergeThreshold >= reviewThreshold.
  // Batch and streaming (IncrementalMdm) cluster on this one definition.
  private val isMergeEdge = col("match_decision").isin("auto_merge", "human_review")

  private[graft] def mergeEdges(scored: DataFrame): DataFrame =
    scored.where(isMergeEdge).select(col("record1_id").as("src"), col("record2_id").as("dst"))

  /** The `n` of an observation whose action has run. */
  private def observed(obs: Observation): Long = obs.get("n").asInstanceOf[Long]
}
