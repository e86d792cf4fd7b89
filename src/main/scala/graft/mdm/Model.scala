package graft.mdm

import java.sql.Timestamp

/** Data model for the record-linkage pipeline (SURVEY.md §1, §7.1).
  *
  * Input row shape per BASELINE.json `input_hint`: an Iceberg-style table of
  * Common-Crawl-like web pages. The reference's customer schema
  * (`/root/reference/batch_mdm_gcp/spark_data_generator/spark_data_generator.py:65-89`)
  * maps onto it as documented in SURVEY.md §1.3: exact keys (email/phone) →
  * canonical url + content hash, company → normalized domain, fuzzy text →
  * token shingles of `text`, recency (`processed_at`) → `warc_ts`.
  */
case class PageRecord(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Standardized record (analogue of `customers_standardized`,
  * `/root/reference/batch_mdm_gcp/bigquery_utils.py:88-151`). `record_id` is
  * deterministic (sha2 of url+ts), never `uuid()` — resumability invariant.
  */
case class CleanPage(
    record_id: String,
    url: String,
    url_canon: String,
    domain: String,
    slug: String,
    warc_ts: Timestamp,
    text: String,
    text_md5: String,
    head: String, // first tokens, Levenshtein surface
    lang: String,
    n_tokens: Int)

/** Pipeline configuration.
  *
  * Strategy weights follow the reference ensemble shape
  * (`bigquery_utils.py:585-604`: .30 exact / .25 fuzzy / .20 vector /
  * .15 business / .10 ai) but are CALIBRATED (north_star: "calibrated
  * weighted-sum match rule") because the AI strategy is a deterministic stub
  * in this environment (SURVEY.md §7.5.6) — its weight is reallocated to the
  * text-evidence strategies. Decision thresholds are kept verbatim from the
  * reference: >=0.8 auto_merge, >=0.6 human_review, >0.3 potential
  * (`bigquery_utils.py:620-634`).
  */
case class MatchConfig(
    wExact: Double = 0.25,
    wFuzzy: Double = 0.35,
    wVector: Double = 0.25,
    wBusiness: Double = 0.15,
    wAi: Double = 0.0, // F8 stub: no LLM in env, mirrors streaming path degradation
    autoMergeThreshold: Double = 0.8, // bigquery_utils.py:622
    reviewThreshold: Double = 0.6, // bigquery_utils.py:624
    keepThreshold: Double = 0.3, // bigquery_utils.py:634
    // Blocking / LSH
    numHashes: Int = 16, // minhash signature length
    bands: Int = 8, // b bands x r rows; r = numHashes / bands
    shingleSize: Int = 3,
    // Skew control: blocks larger than this are triangle-split (SURVEY.md §4).
    // Sized so one cell holds ~2*cap members => ~2*cap^2 comparisons (~125k),
    // small enough that a hot key fans out across many tasks instead of
    // serializing on 2-3 giant ones.
    maxBlockSize: Int = 250,
    // Ceiling on salt groups per block: a block is split into at most
    // maxSaltGroups groups (ceil(size/maxBlockSize) otherwise), bounding the
    // replication factor (members are copied into <= maxSaltGroups cells).
    maxSaltGroups: Int = 64,
    // O5 cost cap (reference streaming_processor.py:118-131 block LIMIT):
    // blocks with MORE members than this are dropped entirely before pair
    // generation — the web-scale "stop-word block" rule: a key shared by
    // millions of records (empty-text band, parked-domain) carries no
    // discriminating evidence and only quadratic cost. None = exact/off
    // (default; the oracle-checked queries never drop).
    dropBlocksLargerThan: Option[Int] = None,
    // CC loop: lineage cut every `checkpointEvery` iterations (persist-only
    // in between); `checkpointDir` switches the cut from localCheckpoint
    // (executor-memory, local-mode default) to a reliable HDFS/object-store
    // checkpoint that survives executor loss on a real cluster. Default 1:
    // at small scale persist-chains replan deeper trees each round (measured
    // 9.0s -> 15.3s at ckEvery=3 on the sf0.1 chain graph); raise it on a
    // cluster where the checkpoint WRITE dominates a round.
    maxIterations: Int = 50,
    checkpointEvery: Int = 1,
    checkpointDir: Option[String] = None) {
  // Scoring.decision's bands nest: an edge (auto_merge or human_review)
  // always scores at least reviewThreshold.
  require(autoMergeThreshold >= reviewThreshold && reviewThreshold >= keepThreshold,
    s"thresholds must satisfy autoMerge ($autoMergeThreshold) >= review " +
      s"($reviewThreshold) >= keep ($keepThreshold)")
}

object MatchConfig {
  /** Reference-faithful weights (bigquery_utils.py:596-604) for comparison runs. */
  val referenceWeights: MatchConfig =
    MatchConfig(wExact = 0.30, wFuzzy = 0.25, wVector = 0.20, wBusiness = 0.15, wAi = 0.10)

  /** F11: the reference's 4-way STREAMING weight preset, kept verbatim
    * (streaming_processor.py:25-31 — no AI strategy in the hot path; vector
    * searches existing embeddings only). Decision thresholds are identical
    * to batch ("aligned with batch", streaming_processor.py:34-37). */
  val streaming: MatchConfig =
    MatchConfig(wExact = 0.33, wFuzzy = 0.28, wVector = 0.22, wBusiness = 0.17, wAi = 0.0)

  /** Production preset for web-scale corpora (VERDICT r3 next #7): the O5
    * stop-word-block cap ON — a block key shared by >100k records (empty-text
    * band, parked-domain template) carries no discriminating evidence, only
    * ~1e10 comparisons of cost — with the drop OBSERVABLE via
    * `Pairs.droppedBlockStats` lineage counters in the snapshot manifest.
    * Oracle/test runs keep the exact default (cap off): dropping is a
    * recall-vs-cost policy, not a semantics change, so it must be explicit. */
  val webScale: MatchConfig =
    MatchConfig(dropBlocksLargerThan = Some(100000))
}
