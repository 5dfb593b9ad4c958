package graft

import graft.queries.Artifacts

/** The build-once artifact registry: every entry memoizes per
  * (session, dir), evicts on `invalidate`, and carries the force steps
  * Bench's `builds` block times. */
class ArtifactSpec extends SparkSpec {

  test("every Artifacts.all entry memoizes per (session, dir) and invalidate rebuilds") {
    try Artifacts.all.foreach { a =>
      val what = a.forces.map(_._1).mkString("/")
      val first = a(spark, sf0001)
      assert(a(spark, sf0001) eq first, s"$what: a second apply must return " +
        "the cached instance — a fresh one means every consumer re-plans " +
        "(and re-builds) the artifact")
      a.invalidate(spark, sf0001)
      val rebuilt = a(spark, sf0001)
      assert(!(rebuilt eq first), s"$what: invalidate must drop the entry " +
        "so the next apply rebuilds — the scale harness relies on this " +
        "to unpin a swept dir's blocks")
      // Bench's build path: every force step runs against the cached
      // entry and never replaces it
      a.steps(spark, sf0001).foreach { case (_, force) => force() }
      assert(a(spark, sf0001) eq rebuilt, s"$what: a force step rebuilt it")
    } finally Artifacts.all.foreach(_.invalidate(spark, sf0001))
  }

  test("the force steps are Bench's builds keys, in order") {
    assert(Artifacts.all.flatMap(_.forces.map(_._1)) == Seq(
      "trading_pairs", "copurchase_pairs", "trading_rank_5it",
      "trading_rank_converged", "injected_shingles", "pq_codebooks_encode",
      "classifier_train_score", "classifier_heldout_eval",
      "export_doc_grain"))
  }
}
