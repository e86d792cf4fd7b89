package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(5.0, 1.0), 50) == 1.0)
  }

  test("tail is the highest percentile with at least ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.tail(hundred) == (90, 90.0))
    // 25 samples: p60 ranks 15th (10 beyond); p61 ranks 16th (9 beyond)
    assert(Stats.tail((1 to 25).map(_.toDouble)) == (60, 15.0))
    // 11 samples: only p1..p9 rank first with 10 beyond
    assert(Stats.tail((1 to 11).map(_.toDouble)) == (9, 1.0))
  }

  test("tail falls back to the maximum, as percentile 100, with ten samples or fewer") {
    assert(Stats.tail(Seq(2.0, 7.0, 3.0)) == (100, 7.0))
    assert(Stats.tail((1 to 10).map(_.toDouble)) == (100, 10.0))
  }
}

class TallySpec extends AnyFunSuite {

  test("a thrown operation is attempted and failed, a good one only attempted") {
    val t = new Tally
    assert(t.run("ok")(1).contains(1))
    assert(t.run("boom")(throw new IllegalStateException("bad")).isEmpty)
    assert(t.attempted == 2 && t.failed == 1)
    assert(t.messages == Seq("boom: IllegalStateException: bad"))
  }

  test("a failed check turns an attempted operation into a failed one") {
    val t = new Tally
    t.run("op 1")(())
    t.run("op 2")(())
    t.check("op 1", None)
    t.check("op 2", Some("golden differs"))
    assert(t.attempted == 2 && t.failed == 1)
    assert(t.messages == Seq("op 2: golden differs"))
  }

  test("an operation that could not run counts as attempted and failed") {
    val t = new Tally
    t.skipped("checks", "no operation succeeded")
    assert(t.attempted == 1 && t.failed == 1)
  }
}

class TraceSpec extends AnyFunSuite {

  test("union length merges overlapping and nested job intervals") {
    assert(Trace.unionLength(Seq(0L -> 10L, 5L -> 15L, 20L -> 30L, 22L -> 25L)) == 25L)
    assert(Trace.unionLength(Seq(10L -> 10L, 3L -> 1L)) == 0L)
    assert(Trace.unionLength(Nil) == 0L)
  }
}

class StoreStatsSpec extends AnyFunSuite {

  private def m(id: Long, extra: String) =
    id -> s"""{"snapshot_id":$id,\n"stage":"state",\n"counters":{"rows_clean":5$extra}}"""

  test("manifest counters are parsed from the counters object and top-level fields") {
    val c = StoreStats.counters(
      """{"snapshot_id":3,"row_count":12,"counters":{"pairs_scored":40,"rows_keys":7}}""")
    assert(c("snapshot_id") == 3 && c("row_count") == 12 && c("pairs_scored") == 40 && c("rows_keys") == 7)
  }

  test("log window starts at the oldest latest full write of any rotation group") {
    // snapshot 0 is a full write; 1..3 rotate groups 1, 0, 1 with two groups
    val ms = Seq(m(0, ""), m(1, ""","compact_group":1"""), m(2, ""","compact_group":0"""),
      m(3, ""","compact_group":1"""), m(4, ""))
    assert(StoreStats.logWindow(ms, compactEvery = 2) == 3) // from snapshot 2
    // group 2 never rotated: the window reaches back to the full write
    assert(StoreStats.logWindow(ms, compactEvery = 3) == 5)
    assert(StoreStats.logWindow(ms :+ m(5, ""","compacted":1"""), compactEvery = 3) == 1)
    assert(StoreStats.logWindow(Nil, compactEvery = 8) == 0)
  }

  test("usage counts bytes, files and Hive partition directories") {
    val root = java.nio.file.Files.createTempDirectory("perfbench-usage")
    val part = java.nio.file.Files.createDirectories(root.resolve("snap-00000-x/data/capture_date=2024-01-01"))
    java.nio.file.Files.write(part.resolve("a.parquet"), Array.fill[Byte](10)(1))
    java.nio.file.Files.write(root.resolve("snap-00000-x/manifest.json"), Array.fill[Byte](5)(1))
    assert(StoreStats.usage(root.toString) == StoreStats.Usage(15, 2, 1))
    StoreStats.deleteRecursively(root.toString)
    assert(StoreStats.usage(root.toString) == StoreStats.Usage(0, 0, 0))
  }
}

class MetricsSpec extends AnyFunSuite {

  test("BENCHMARK.json declares exactly the metrics the benchmark prints") {
    val f = new java.io.File("../BENCHMARK.json")
    assume(f.exists, "BENCHMARK.json sits beside the benchmark directory")
    val json = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    def section(key: String): Seq[(String, String)] = {
      val start = json.indexOf(s""""$key"""")
      val body = json.substring(start, json.indexOf("]", start))
      """"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2)).toSeq
    }
    assert(section("end_to_end") == Metrics.EndToEnd.map(s => s.name -> s.unit))
    assert(section("per_layer") == Metrics.PerLayer.map(s => s.name -> s.unit))
  }
}
