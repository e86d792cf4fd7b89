package graft.mdm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  test("generator is deterministic and respects the per-url text invariant") {
    val p1 = PageGen.pagesWithTruth(spark, 40)
    val p2 = PageGen.pagesWithTruth(spark, 40)
    assert(p1.exceptAll(p2).isEmpty && p2.exceptAll(p1).isEmpty)
    // invariant: text is a pure function of url
    val violations = p1.groupBy("url").agg(countDistinct("text").as("n"))
      .where(col("n") > 1).count()
    assert(violations == 0L)
  }

  test("end-to-end pipeline: golden count plausible, F1 >= 0.99 (BASELINE metric)") {
    val n = 120 // mirrors the reference demo scale: 120 seed -> 284 records
    val m = Evaluate.evalOnGenerated(spark, n)
    info(s"tp=${m.tp} fp=${m.fp} fn=${m.fn} precision=${m.precision} recall=${m.recall} f1=${m.f1}")
    assert(m.f1 >= 0.99, s"pairwise F1 ${m.f1} below 0.99 (p=${m.precision}, r=${m.recall})")
  }

  test("byte-identical text per url survives the pipeline (input_hint invariant)") {
    val pt = PageGen.pagesWithTruth(spark, 40)
    val pages = pt.select("url", "warc_ts", "html", "text", "lang")
    val res = Pipeline.run(pages)
    // every (url, text_md5) in clean matches the input's md5 for that url
    val in = pages.select(col("url"), md5(col("text")).as("h_in")).distinct()
    val out = res.clean.select(col("url"), col("text_md5").as("h_out")).distinct()
    val bad = in.join(out, Seq("url")).where(col("h_in") =!= col("h_out")).count()
    assert(bad == 0L)
    // and golden master_text is byte-identical to the chosen master record's input text
    val gbad = res.golden
      .join(in.withColumnRenamed("url", "u2"),
        md5(col("master_text")) === col("h_in"), "left_anti").count()
    assert(gbad == 0L, "golden master_text not byte-identical to any input text")
  }

  test("skewed hot domain still completes and stays correct") {
    val m = Evaluate.evalOnGenerated(spark, 80, hotEntities = 30,
      cfg = MatchConfig(maxBlockSize = 40)) // force triangle-splitting
    info(s"hot-domain f1=${m.f1} (p=${m.precision}, r=${m.recall})")
    assert(m.f1 >= 0.99)
  }

  test("snapshot pipeline resumes without recomputation and matches in-memory run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val pt = PageGen.pagesWithTruth(spark, 40)
    val pages = pt.select("url", "warc_ts", "html", "text", "lang")
    val store = new SnapshotStore(dir)
    val r1 = Pipeline.runCheckpointed(pages, store)
    val golden1 = r1.golden.orderBy("master_id").collect().map(_.toString)
    // resume: second run must reuse committed snapshots (same ids, same rows)
    val store2 = new SnapshotStore(dir)
    val r2 = Pipeline.runCheckpointed(pages, store2)
    val golden2 = r2.golden.orderBy("master_id").collect().map(_.toString)
    assert(golden1.sameElements(golden2))
    assert(store2.manifest("scored").exists(_.contains("candidates_generated")))
    // the clean snapshot is date-partitioned (reference PARTITION BY advice)
    val snapDirs = java.nio.file.Files.list(
      store2.latestFor("standardize").get.resolve("data")).iterator()
    assert(scala.jdk.CollectionConverters.IteratorHasAsScala(snapDirs).asScala
      .exists(_.getFileName.toString.startsWith("capture_date=")))
    // matches the in-memory pipeline: same golden, row-identical scored pairs
    val memRun = Pipeline.run(pages)
    val mem = memRun.golden.orderBy("master_id").collect().map(_.toString)
    assert(golden1.sameElements(mem))
    def scoredRows(r: Pipeline.Result) =
      r.scored.orderBy("record1_id", "record2_id").collect().map(_.toString)
    val scored1 = scoredRows(r1)
    assert(scored1.nonEmpty && scored1.sameElements(scoredRows(memRun)))
  }

  test("Bench.scoreJob scores as many pairs as Pipeline.run on the same pages") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scorejob").toString
    PageGen.pages(spark, 40).write.parquet(s"$dir/pages")
    val n = graft.Bench.scoreJob(spark, s"$dir/pages")
    assert(n > 0 && n == Pipeline.run(spark.read.parquet(s"$dir/pages")).scored.count())
  }

  test("checkpointed counters match recounts, and a resume from scored recounts merge_edges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-counters").toString
    val pages = PageGen.pagesWithTruth(spark, 40).select("url", "warc_ts", "html", "text", "lang")
    val cfg = MatchConfig()
    val store = new SnapshotStore(dir)
    val r = Pipeline.runCheckpointed(pages, store, cfg)
    def counter(s: SnapshotStore, stage: String, key: String): Long =
      s""""$key":(\\d+)""".r.findFirstMatchIn(s.manifest(stage).get).get.group(1).toLong

    Seq("standardize" -> r.clean, "scored" -> r.scored, "clusters" -> r.assignments,
        "golden" -> r.golden).foreach { case (stage, df) =>
      val stored = store.read(spark, stage)
      val n = stored.count()
      assert(counter(store, stage, "row_count") == n, stage)
      assert(counter(store, stage, "rows") == n, stage)
      assert(df.schema == stored.schema && df.count() == n, stage)
    }
    val withSig = Blocking.withSignature(r.clean, cfg).select(Scoring.attachColumns.map(col): _*)
    val cands = Pairs.candidates(Blocking.blockKeysFromSig(withSig, cfg), cfg).count()
    assert(cands > 0 && counter(store, "scored", "candidates_generated") == cands)
    val edges = r.scored.where(col("match_decision").isin("auto_merge", "human_review")).count()
    assert(edges > 0 && counter(store, "clusters", "merge_edges") == edges)
    val goldenRows = r.golden.count()

    // drop the stages after scored: the resume reads scored and counts its edges
    for (stage <- Seq("clusters", "golden")) {
      val snap = store.latestFor(stage).get
      scala.util.Using.resource(java.nio.file.Files.walk(snap)) { st =>
        st.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      }
    }
    val resumed = new SnapshotStore(dir)
    val r2 = Pipeline.runCheckpointed(pages, resumed, cfg)
    assert(counter(resumed, "clusters", "merge_edges") == edges)
    assert(r2.golden.count() == goldenRows)
  }

  test("MatchConfig rejects thresholds whose decision bands do not nest") {
    intercept[IllegalArgumentException](MatchConfig(autoMergeThreshold = 0.5, reviewThreshold = 0.6))
    intercept[IllegalArgumentException](MatchConfig(reviewThreshold = 0.2, keepThreshold = 0.3))
    MatchConfig(autoMergeThreshold = 0.6, reviewThreshold = 0.6, keepThreshold = 0.6)
  }
}
