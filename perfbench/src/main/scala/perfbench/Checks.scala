package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.mdm.{Blocking, Evaluate, MatchConfig}

/** Correctness checks on the program's outputs. Each returns None when the
  * output is correct and a one-line description of the defect otherwise. */
object Checks {

  val F1Floor = 0.99

  /** Golden rows projected on the columns the batch/stream and
    * checkpointed/in-memory equivalences are defined on, sorted. */
  def goldenKey(golden: DataFrame): Seq[String] =
    golden.select("master_id", "canonical_url", "source_record_count")
      .collect().map(_.toString).toSeq.sorted

  /** Every column of every golden row, sorted: for row-identical checks. */
  def goldenRows(golden: DataFrame): Seq[String] = {
    val cols = golden.columns.sorted
    golden.select(cols.map(c => col(c).cast("string").as(c)): _*)
      .collect().map(_.toSeq.mkString("\u0001")).toSeq.sorted
  }

  def digest(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** None when `got` equals `want`; otherwise the row counts and the first
    * row present in only one of them. */
  def sameRows(what: String, want: Seq[String], got: Seq[String]): Option[String] =
    if (want == got) None
    else {
      val onlyWant = want.diff(got).headOption.map(r => s"missing ${r.take(120)}")
      val onlyGot = got.diff(want).headOption.map(r => s"unexpected ${r.take(120)}")
      Some(s"$what: ${got.size} rows vs ${want.size} expected; " +
        (onlyWant ++ onlyGot).mkString("; "))
    }

  /** Pairwise F1 of `assignments` (record_id, cluster_id) against PageGen
    * truth on the candidate pairs at shared blocking keys. */
  def f1(clean: DataFrame, truth: DataFrame, assignments: DataFrame,
      cfg: MatchConfig): Evaluate.PairwiseMetrics = {
    val truthByRecord = clean.select("record_id", "url").join(truth, Seq("url"))
      .select("record_id", "entity_id")
    val labeled = Evaluate.labeledPairs(Blocking.blockKeys(clean, cfg), truthByRecord, cfg)
    Evaluate.pairwise(labeled, assignments.select("record_id", "cluster_id"))
  }

  def f1Problem(m: Evaluate.PairwiseMetrics): Option[String] =
    if (m.f1 >= F1Floor) None
    else Some(f"pairwise F1 ${m.f1}%.5f below $F1Floor (tp=${m.tp} fp=${m.fp} fn=${m.fn})")
}
