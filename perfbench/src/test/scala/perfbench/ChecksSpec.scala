package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.mdm.{MatchConfig, PageGen, Pipeline}

/** Each correctness check must flag a deliberately corrupted output. */
class ChecksSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]").appName("perfbench-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private lazy val (pt, result) = {
    val pt = PageGen.pagesWithTruth(spark, 40, seed = 5L).cache()
    (pt, Pipeline.run(pt.select("url", "warc_ts", "html", "text", "lang")))
  }

  private lazy val golden = result.golden.cache()

  test("an unchanged golden table passes the key and row checks") {
    assert(Checks.sameRows("golden", Checks.goldenKey(golden), Checks.goldenKey(golden)).isEmpty)
    assert(Checks.digest(Checks.goldenRows(golden)) == Checks.digest(Checks.goldenRows(result.golden)))
  }

  test("the golden key check flags a lost, a renamed and a miscounted entity") {
    val want = Checks.goldenKey(golden)
    val victim = golden.orderBy("master_id").limit(1).select("master_id").head().getString(0)
    val dropped = golden.where(col("master_id") =!= victim)
    val renamed = golden.withColumn("canonical_url",
      when(col("master_id") === victim, lit("https://corrupt.example/x")).otherwise(col("canonical_url")))
    val miscounted = golden.withColumn("source_record_count",
      when(col("master_id") === victim, col("source_record_count") + 1).otherwise(col("source_record_count")))
    Seq(dropped, renamed, miscounted).foreach { bad =>
      val p = Checks.sameRows("golden", want, Checks.goldenKey(bad))
      assert(p.isDefined)
    }
    assert(Checks.sameRows("golden", want, Checks.goldenKey(dropped)).get.contains("missing"))
  }

  test("the row-identical check flags a change outside the key columns") {
    val victim = golden.orderBy("master_id").limit(1).select("master_id").head().getString(0)
    val edited = golden.withColumn("master_text",
      when(col("master_id") === victim, concat(col("master_text"), lit("!"))).otherwise(col("master_text")))
    assert(Checks.sameRows("golden", Checks.goldenKey(golden), Checks.goldenKey(edited)).isEmpty)
    assert(Checks.digest(Checks.goldenRows(edited)) != Checks.digest(Checks.goldenRows(golden)))
  }

  test("the F1 check passes the pipeline's clusters and flags merged or split ones") {
    val truth = PageGen.truth(pt)
    val cfg = MatchConfig()
    val good = Checks.f1(result.clean, truth, result.assignments, cfg)
    assert(Checks.f1Problem(good).isEmpty, s"F1 ${good.f1}")
    val allMerged = result.assignments.withColumn("cluster_id", lit("one"))
    assert(Checks.f1Problem(Checks.f1(result.clean, truth, allMerged, cfg)).isDefined)
    val allSplit = result.assignments.withColumn("cluster_id", col("record_id"))
    assert(Checks.f1Problem(Checks.f1(result.clean, truth, allSplit, cfg)).isDefined)
  }
}
