package graft.publish

import graft.publish.Manifest.SplitEntry

/** StableLog merge policy + merge-time metadata combine — pure metadata
  * logic over manifest rows, ported as plain Scala (SURVEY.md §2.9 T6).
  *
  * Reference:
  *  - policy: quickwit-indexing/src/merge_policy/stable_log_merge_policy.rs:64-306
  *    — splits are bucketed into levels by num_docs; a level with ≥
  *    merge_factor (default 10, max 12) splits merges; splits with
  *    num_docs ≥ split_num_docs_target (10M) are *mature* and never merge.
  *  - defaults: quickwit-config/src/merge_policy_config.rs:81-99
  *  - combine: quickwit-indexing/src/actors/merge_executor.rs:184-263 —
  *    sum num_docs + sizes, union time ranges, min delete_opstamp,
  *    max(num_merge_ops)+1, union tags (see [[combineTags]]).
  */
object MergePolicy {

  final case class Config(
      mergeFactor: Int = 10,
      maxMergeFactor: Int = 12,
      minLevelNumDocs: Long = 100000L,
      splitNumDocsTarget: Long = 10000000L)

  def isMature(numDocs: Long, cfg: Config): Boolean = numDocs >= cfg.splitNumDocsTarget

  /** Level of a split by doc count: level 0 = [0, minLevel), then
    * [minLevel * 3^k, minLevel * 3^(k+1)) — the stable-log growth ladder
    * (stable_log_merge_policy.rs levels by num_docs; growth factor 3). */
  def level(numDocs: Long, cfg: Config): Int = {
    if (numDocs < cfg.minLevelNumDocs) 0
    else {
      var lvl = 1
      var bound = cfg.minLevelNumDocs * 3
      while (numDocs >= bound && bound < cfg.splitNumDocsTarget) { lvl += 1; bound *= 3 }
      lvl
    }
  }

  /** Plan merge operations: within each (partition_id, level) group of
    * immature splits, oldest-first, take batches of merge_factor..max while
    * enough remain. Returns groups of split ids to merge together. */
  def planMerges(splits: Seq[SplitEntry], cfg: Config = Config()): Seq[Seq[SplitEntry]] = {
    val candidates = splits.filterNot(s => isMature(s.numDocs, cfg))
    candidates
      .groupBy(s => (s.partitionId, level(s.numDocs, cfg)))
      .toSeq.sortBy(_._1)
      .flatMap { case (_, group) =>
        val sorted = group.sortBy(s => (s.timeRangeStartMicros, s.splitId))
        val batches = Seq.newBuilder[Seq[SplitEntry]]
        var rest = sorted
        while (rest.length >= cfg.mergeFactor) {
          val take = math.min(cfg.maxMergeFactor, rest.length)
          // don't leave a runt smaller than merge_factor unless unavoidable
          val n = if (rest.length - take > 0 && rest.length - take < cfg.mergeFactor &&
                      rest.length <= cfg.maxMergeFactor + cfg.mergeFactor) rest.length.min(cfg.maxMergeFactor)
                  else take
          batches += rest.take(n)
          rest = rest.drop(n)
        }
        batches.result()
      }
  }

  /** The policy's checkable output invariants — what a correct StableLog
    * plan must satisfy regardless of the exact batch assignment
    * (stable_log_merge_policy.rs invariants; VERDICT r2 next #6). Emitted
    * as booleans alongside the plan so the driver's oracle can gate them. */
  final case class PlanInvariants(
      sizesInBounds: Boolean,   // every batch size ∈ [merge_factor, max_merge_factor]
      allImmature: Boolean,     // no mature split ever merges
      sameLevel: Boolean,       // a batch never mixes partitions or levels
      sourcesDisjoint: Boolean, // no split appears in two batches
      leftoverOk: Boolean) {    // un-batched candidates per level < merge_factor
    def all: Boolean = sizesInBounds && allImmature && sameLevel && sourcesDisjoint && leftoverOk
  }

  def planInvariants(splits: Seq[SplitEntry], plan: Seq[Seq[SplitEntry]],
                     cfg: Config = Config()): PlanInvariants = {
    val planned = plan.flatten
    val ids = planned.map(_.splitId)
    val plannedIds = ids.toSet
    val leftovers = splits
      .filterNot(s => isMature(s.numDocs, cfg))
      .filterNot(s => plannedIds(s.splitId))
    PlanInvariants(
      sizesInBounds = plan.forall(b => b.size >= cfg.mergeFactor && b.size <= cfg.maxMergeFactor),
      allImmature = planned.forall(s => !isMature(s.numDocs, cfg)),
      sameLevel = plan.forall(b =>
        b.map(s => (s.partitionId, level(s.numDocs, cfg))).distinct.size == 1),
      sourcesDisjoint = ids.distinct.size == ids.size,
      leftoverOk = leftovers.groupBy(s => (s.partitionId, level(s.numDocs, cfg)))
        .values.forall(_.size < cfg.mergeFactor))
  }

  /** merge_executor.rs:184-263 metadata combine. */
  def combine(splits: Seq[SplitEntry], mergedSplitId: String): SplitEntry = {
    require(splits.nonEmpty)
    SplitEntry(
      splitId = mergedSplitId,
      partitionId = splits.head.partitionId,
      numDocs = splits.map(_.numDocs).sum,
      uncompressedBytes = splits.map(_.uncompressedBytes).sum,
      timeRangeStartMicros = splits.map(_.timeRangeStartMicros).min,
      timeRangeEndMicros = splits.map(_.timeRangeEndMicros).max,
      tags = combineTags(splits.map(_.tags)),
      termCardinality = -1L, // recomputed by the merge executor's re-index pass
      postingsCount = splits.map(_.postingsCount).sum,
      numMergeOps = splits.map(_.numMergeOps).max + 1,
      deleteOpstamp = splits.map(_.deleteOpstamp).min,
      files = splits.flatMap(_.files),
      // a fast-field range survives the merge only when EVERY input
      // carries it — a missing input range means the merged bound is
      // unknown and the field must stay unskippable
      fieldRanges = splits.map(_.fieldRanges).reduce { (a, b) =>
        a.keySet.intersect(b.keySet).map(f =>
          f -> (math.min(a(f)._1, b(f)._1), math.max(a(f)._2, b(f)._2))).toMap
      })
  }

  /** The union of the inputs' tags, except that a field's exhaustive `f!`
    * marker survives only when EVERY input carries it and the merged `f:`
    * values stay within [[graft.sources.TranscriptTable.TagValueCap]]. An
    * input without the marker may hold any value of `f` (it was written
    * without tagging `f`, or went over the cap), so a merged marker would
    * let tag pruning skip rows that match. */
  private def combineTags(tags: Seq[Seq[String]]): Seq[String] = {
    val union = tags.flatten.distinct
    def values(f: String) = union.count(_.startsWith(s"$f:"))
    union.filterNot { t =>
      t.endsWith("!") && {
        val f = t.dropRight(1)
        !tags.forall(_.contains(t)) ||
          values(f) > graft.sources.TranscriptTable.TagValueCap
      }
    }.sorted
  }
}
