package graft.publish

import graft.publish.Manifest.SplitEntry
import graft.queryast.{FieldResolver, QueryAst}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Physical delete-task execution — the janitor's delete path of the merge
  * executor (quickwit-indexing/src/actors/merge_executor.rs:290-456):
  * [[DeleteTaskPlanner]] decides WHICH stale splits face pending delete
  * queries; this executor applies them.
  *
  * Per stale split, with the pending tasks whose opstamp exceeds the
  * split's `delete_opstamp`:
  *  - count the docs matching ANY applicable delete query in ONE scan;
  *  - zero matches → the `bump_opstamp` arm: republish the SAME split id
  *    with `delete_opstamp = max(task opstamps)` and untouched files — a
  *    metadata-only update (`update_splits_delete_opstamp`, no rewrite);
  *  - otherwise the `delete_and_merge` arm: rewrite the split WITHOUT the
  *    matching docs into a new `delete-<opstamp>-…` split (stats
  *    recomputed during the same cached pass), `num_merge_ops + 1`, and
  *    publish staged+replaced atomically with an empty checkpoint delta.
  *
  * Crash safety mirrors [[MergeExecutor]]: data lands before the manifest
  * flips; the rewritten id is a pure function of (input id, opstamp) so a
  * rerun overwrites the same staged dir; replaced files become GC food.
  * A rerun after success finds `delete_opstamp` current everywhere and is
  * a no-op.
  */
object DeleteExecutor {

  /** A stored delete query (delete_task.proto's DeleteQuery analog). */
  final case class DeleteTask(opstamp: Long, query: QueryAst)

  final case class Result(rewritten: Seq[SplitEntry], bumped: Seq[SplitEntry],
                          deletedDocs: Long)

  def rewrittenSplitId(splitId: String, opstamp: Long): String =
    s"delete-$opstamp-$splitId"

  /** Apply `tasks` to every split whose `delete_opstamp` is behind them.
    * Execution shape: the stale splits are independent units of work (the
    * planner caps them at 1000 per run), so they run two at a time on
    * [[graft.util.FanOut]] threads created by this call (a lone split runs
    * on the caller); publishes serialize on the store's lock. Every split
    * runs to its end before a failure is thrown — the first in split
    * order, with the later ones suppressed — so the report reflects the
    * table's end state. */
  def run(tableDir: String, spark: SparkSession, tasks: Seq[DeleteTask],
          resolver: FieldResolver = FieldResolver(Set("text"), Seq("text"))): Result = {
    val store = new Manifest.Store(tableDir)
    val snap = store.currentSnapshot().getOrElse(Manifest.Snapshot(0L, Nil, Map.empty))
    if (tasks.isEmpty) return Result(Nil, Nil, 0L)
    val maxOpstamp = tasks.map(_.opstamp).max
    val stale = snap.splits.filter(_.deleteOpstamp < maxOpstamp)
    sealed trait Outcome
    final case class Rewrote(e: SplitEntry, docs: Long) extends Outcome
    final case class Bumped(e: SplitEntry) extends Outcome
    final case class Dropped(docs: Long) extends Outcome
    case object Raced extends Outcome
    val outcomes = graft.util.FanOut.all[Outcome]("delete-executor", 2)(stale.map { s => () =>
      val applicable = tasks.filter(_.opstamp > s.deleteOpstamp)
      val doomed = applicable.map(_.query.toColumn(resolver)).reduce(_ || _)
      val files = s.files.map(_.replaceFirst("^file:", ""))
      val df = spark.read.parquet(files: _*)
      // Probe pass: a predicate-column-pruned count of the DOOMED side.
      // The common case at scale — a query matching zero of a split's
      // docs — touches ONLY the predicate columns of the parquet scan
      // (a small fraction of a text-heavy split) and materializes
      // nothing. Only a partial match pays a full-width second read,
      // which the rewrite must do anyway to write the survivors.
      val matches = df.filter(doomed).count()
      if (matches == 0L) {
        // bump_opstamp: metadata-only republish of the same id
        val entry = s.copy(deleteOpstamp = maxOpstamp)
        store.publish(Seq(entry), Set(s.splitId), Checkpoint.Delta(Nil))
          .fold(_ => Raced, _ => Bumped(entry))
      } else if (matches == s.numDocs) {
        // every doc matched: drop the split outright — no empty split
        // is ever staged (the reference's whole-split delete arm)
        store.publish(Nil, Set(s.splitId), Checkpoint.Delta(Nil))
          .fold(_ => Raced, _ => Dropped(matches))
      } else {
        // survivors cached once: stats + sorted write share the scan
        val kept = df.filter(!doomed).persist()
        try {
          val newId = rewrittenSplitId(s.splitId, maxOpstamp)
          val outDir = s"$tableDir/data/$newId"
          val written = SplitStaging.writeSorted(kept, outDir)
          val stats = SplitStaging.stats(kept)
          // fieldRanges carry over UNCHANGED: the surviving rows are a
          // subset, so the recorded [min,max] is a superset of the true
          // range — skipping stays conservative, never lossy
          val entry = s.copy(
            splitId = newId,
            numDocs = stats.numDocs,
            uncompressedBytes = stats.bytes,
            timeRangeStartMicros = stats.minUs.getOrElse(s.timeRangeStartMicros),
            timeRangeEndMicros = stats.maxUs.getOrElse(s.timeRangeEndMicros),
            numMergeOps = s.numMergeOps + 1,
            deleteOpstamp = maxOpstamp,
            files = written)
          store.publish(Seq(entry), Set(s.splitId), Checkpoint.Delta(Nil))
            .fold(_ => Raced, _ => Rewrote(entry, matches))
        } finally kept.unpersist()
      }
    })
    Result(
      outcomes.collect { case Rewrote(e, _) => e },
      outcomes.collect { case Bumped(e) => e },
      outcomes.collect { case Rewrote(_, d) => d; case Dropped(d) => d }.sum)
  }
}
