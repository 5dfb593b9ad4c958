package graft.queries

import org.apache.spark.sql.SparkSession

/** A build-once shared artifact: the frames (or trained model) several
  * board queries read, built once per (session, dir) and held for the
  * session, so no consumer re-pays a construction another already paid.
  * A build's `localCheckpoint(eager = false)` cuts are not lazy under
  * AQE: a cut over a shuffle runs that shuffle when the build is
  * called. The named `forces` materialize the rest, and Bench times
  * each one as a `builds` entry before its sweep.
  *
  * Keyed by SparkSession REFERENCE identity — one live session per
  * process (Verify, Bench and the tests each run exactly one): a
  * cloned or new session over the same context builds its own entry
  * (its runtime confs may differ), and an entry for a stopped session
  * is unreachable garbage whose checkpointed blocks die with the
  * context. Entries assume the dir's parquet is immutable within a
  * session.
  *
  * An entry pins its checkpointed blocks for the session: per-query
  * checkpoints die with their query and the ContextCleaner unpersists
  * them after GC, but an entry's references live in the cache.
  * [[invalidate]] drops one. Entries pinned for two dirs slowed a
  * third dir's classifier build 6.9× (EXPLAIN.md "Round 11 (11)",
  * measured by a scale harness last present at commit c6c1c21). */
private[graft] abstract class Artifact[A <: AnyRef](
    val forces: (String, A => Unit)*) {
  protected def build(s: SparkSession, d: String): A

  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), A]

  def apply(s: SparkSession, d: String): A =
    cache.getOrElseUpdate((s, d), build(s, d))

  def invalidate(s: SparkSession, d: String): Unit = cache.remove((s, d))

  /** The force steps bound to (s, d); each builds the entry on first use. */
  def steps(s: SparkSession, d: String): Seq[(String, () => Unit)] =
    forces.map { case (name, force) => name -> (() => force(apply(s, d))) }
}

private[graft] object Artifacts {
  import TrainingQueries._

  /** Every shared artifact, in Bench's `builds` order (a later entry
    * may read an earlier one: TradingRank walks TradingPairs). */
  val all: Seq[Artifact[_ <: AnyRef]] = Seq(TradingPairs, CoPurchasePairs,
    TradingRank, InjectedShingles, ExtensionQueries.PqArtifact,
    ClassifierModel, ExportTier)
}
