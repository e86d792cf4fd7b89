package graft.mdm

import java.nio.file.Files
import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}
import scala.jdk.CollectionConverters._

class SnapshotStoreSpec extends SparkSpec with TimeLimits {
  // interrupts a commit stuck waiting for row counts whose job never ran
  implicit val signaler: Signaler = ThreadSignaler

  private def newStore() =
    new SnapshotStore(Files.createTempDirectory("graft-store").toString)

  private def rows(n: Int) = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong, i % 3)).toDF("id", "bucket")
  }

  private def counter(manifest: String, key: String): Long =
    s""""$key":(-?\\d+)""".r.findFirstMatchIn(manifest).map(_.group(1).toLong)
      .getOrElse(fail(s"no $key in $manifest"))

  test("empty commits record 0 rows and return; readPartAll skips the empty part") {
    // Empty in two ways: a local relation, and a filter the optimizer folds away.
    val empties = Seq(rows(0), rows(6).where(lit(false)))
    failAfter(Span(180, Seconds)) {
      for ((empty, i) <- empties.zipWithIndex) {
        val store = newStore()
        val plain = store.commit(empty, "plain")
        assert(plain.count() == 0L && plain.columns.toSeq == Seq("id", "bucket"), i)
        val parted = store.commit(empty, "parted", partitionBy = Seq("bucket"))
        assert(parted.count() == 0L && parted.columns.toSeq == Seq("id", "bucket"), i)
        for (stage <- Seq("plain", "parted"); key <- Seq("row_count", "rows"))
          assert(counter(store.manifest(stage).get, key) == 0L, s"$i $stage $key")

        for (n <- Seq(4, 5))
          store.commitMany(Seq("full" -> rows(n), "empty" -> empty), "many",
            partitionByPart = Map("empty" -> Seq("bucket")))
        store.manifests("many").map(_._2).zip(Seq(4L, 5L)).foreach { case (m, n) =>
          assert(counter(m, "rows_full") == n && counter(m, "rows_empty") == 0L, s"$i $m")
        }
        assert(store.readPartAll(spark, "many", "full").count() == 9L, i)
        intercept[IllegalArgumentException](store.readPartAll(spark, "many", "empty"))
      }
    }
  }

  test("manifests are JSON with a fixed field order and escaped strings") {
    val store = newStore()
    val stage = "odd \"stage\" name"
    val key = "k\"e\\y\t"
    store.commit(rows(3), stage, Map(key -> 7L))
    store.commitMany(Seq("a\"b" -> rows(2)), "many", Map("batch_seq" -> 0L))
    val single = new ObjectMapper().readTree(store.manifest(stage).get)
    assert(single.fieldNames().asScala.toSeq == Seq("snapshot_id", "parent_id", "stage",
      "row_count", "counters", "committed_at_epoch_ms"))
    assert(single.get("stage").asText == stage && single.get("parent_id").isNull)
    assert(single.get("row_count").asLong == 3L)
    assert(single.get("counters").fieldNames().asScala.toSeq == Seq(key, "rows"))
    val many = new ObjectMapper().readTree(store.manifest("many").get)
    assert(many.fieldNames().asScala.toSeq == Seq("snapshot_id", "parent_id", "stage",
      "parts", "counters", "committed_at_epoch_ms"))
    assert(many.get("parent_id").asLong == 0L && many.get("snapshot_id").asLong == 1L)
    assert(many.get("parts").elements().asScala.map(_.asText).toSeq == Seq("a\"b"))
    assert(many.get("counters").get("rows_a\"b").asLong == 2L)
    // the layout existing stores and their regex readers were written against
    val plain = newStore()
    plain.commit(rows(2), "s", Map("a" -> 1L))
    assert(plain.manifest("s").get.replaceAll("[0-9]{10,}", "T") ==
      "{\"snapshot_id\":0,\n\"parent_id\":null,\n\"stage\":\"s\",\n\"row_count\":2,\n" +
        "\"counters\":{\"a\":1,\"rows\":2},\n\"committed_at_epoch_ms\":T}")
  }

  test("commit returns the committed frame, with partition columns last") {
    val store = newStore()
    val df = rows(6).select(col("bucket"), col("id"), (col("id") * 2).as("twice"))
    val committed = store.commit(df, "s", partitionBy = Seq("bucket"))
    assert(committed.schema == store.read(spark, "s").schema)
    assert(committed.orderBy("id").collect().toSeq == store.read(spark, "s").orderBy("id").collect().toSeq)
    // a second commit of the stage resumes instead of writing
    assert(store.commit(rows(1), "s").count() == 6L && store.committed().size == 1)
  }
}
