package graft.publish

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => ScTest}
import graft.publish.Manifest.SplitEntry

/** StableLog merge-policy tests incl. ScalaCheck invariants, porting the
  * reference's proptest suite shape
  * (quickwit-indexing/src/merge_policy/mod.rs:170-300,
  *  stable_log_merge_policy.rs:376-…). */
class MergePolicySpec extends AnyFunSuite {

  private val cfg = MergePolicy.Config()

  private def split(id: String, docs: Long, pid: Long = 0L, t0: Long = 0L) = SplitEntry(
    splitId = id, partitionId = pid, numDocs = docs, uncompressedBytes = docs * 40,
    timeRangeStartMicros = t0, timeRangeEndMicros = t0 + 1000,
    tags = Seq(s"tag$id"), termCardinality = docs / 2, postingsCount = docs * 3,
    numMergeOps = 0, deleteOpstamp = 0L, files = Seq(s"$id.parquet"))

  test("maturity: splits at/over the doc target never merge") {
    assert(!MergePolicy.isMature(9999999L, cfg))
    assert(MergePolicy.isMature(10000000L, cfg))
    val mature = (0 until 20).map(i => split(s"m$i", 10000000L))
    assert(MergePolicy.planMerges(mature, cfg) === Seq.empty)
  }

  test("levels: 0 below minLevel, then ×3 ladder") {
    assert(MergePolicy.level(0L, cfg) === 0)
    assert(MergePolicy.level(99999L, cfg) === 0)
    assert(MergePolicy.level(100000L, cfg) === 1)
    assert(MergePolicy.level(299999L, cfg) === 1)
    assert(MergePolicy.level(300000L, cfg) === 2)
    assert(MergePolicy.level(900000L, cfg) === 3)
  }

  test("merge_factor splits of one level merge into one batch; fewer do not") {
    val nine = (0 until 9).map(i => split(s"s$i", 1000L))
    assert(MergePolicy.planMerges(nine, cfg) === Seq.empty)
    val ten = (0 until 10).map(i => split(s"s$i", 1000L))
    val plans = MergePolicy.planMerges(ten, cfg)
    assert(plans.map(_.size) === Seq(10))
  }

  test("different partitions and levels never mix in one batch") {
    val splits =
      (0 until 10).map(i => split(s"a$i", 1000L, pid = 0)) ++
      (0 until 10).map(i => split(s"b$i", 1000L, pid = 1)) ++
      (0 until 10).map(i => split(s"c$i", 150000L, pid = 0))
    val plans = MergePolicy.planMerges(splits, cfg)
    assert(plans.size === 3)
    plans.foreach { batch =>
      assert(batch.map(_.partitionId).distinct.size === 1)
      assert(batch.map(s => MergePolicy.level(s.numDocs, cfg)).distinct.size === 1)
    }
  }

  test("batches are oldest-first within a level") {
    val splits = (0 until 10).map(i => split(s"s$i", 1000L, t0 = (10 - i) * 1000L))
    val batch = MergePolicy.planMerges(splits, cfg).head
    val starts = batch.map(_.timeRangeStartMicros)
    assert(starts === starts.sorted)
  }

  test("combine: sums, time-range union, tag union, merge-op bump") {
    val a = split("a", 100L, t0 = 5000L).copy(numMergeOps = 2, deleteOpstamp = 7L)
    val b = split("b", 300L, t0 = 1000L).copy(numMergeOps = 1, deleteOpstamp = 3L)
    val m = MergePolicy.combine(Seq(a, b), "merged")
    assert(m.numDocs === 400L)
    assert(m.uncompressedBytes === a.uncompressedBytes + b.uncompressedBytes)
    assert(m.timeRangeStartMicros === 1000L && m.timeRangeEndMicros === 6000L)
    assert(m.tags === Seq("taga", "tagb"))
    assert(m.numMergeOps === 3) // max + 1 (merge_executor.rs:184-263)
    assert(m.deleteOpstamp === 3L)
    assert(m.postingsCount === a.postingsCount + b.postingsCount)
  }

  test("combine: a field's f! marker survives only when every input has it, within the cap") {
    def tagged(id: String, tags: String*) = split(id, 10L).copy(tags = tags)
    val user = tagged("a", "role!", "role:user")
    val asst = tagged("b", "role!", "role:assistant")
    assert(MergePolicy.combine(Seq(user, asst), "m").tags ===
      Seq("role!", "role:assistant", "role:user"))
    // an input without role tags may hold any role
    assert(MergePolicy.combine(Seq(user, tagged("c")), "m").tags === Seq("role:user"))
    // both exhaustive, but the merged values go over the cap
    val cap = graft.sources.TranscriptTable.TagValueCap
    def many(id: String, from: Int) =
      tagged(id, "tool!" +: (from until from + cap / 2 + 1).map(i => s"tool:t$i"): _*)
    assert(!MergePolicy.combine(Seq(many("d", 0), many("e", cap)), "m").tags.contains("tool!"))
  }

  test("property: every planned batch is within [mergeFactor, maxMergeFactor], disjoint, immature") {
    val small = MergePolicy.Config(mergeFactor = 3, maxMergeFactor = 4,
      minLevelNumDocs = 100L, splitNumDocsTarget = 10000L)
    val genSplit = for {
      docs <- Gen.choose(1L, 15000L)
      pid <- Gen.choose(0L, 2L)
      t0 <- Gen.choose(0L, 100000L)
      id <- Gen.uuid
    } yield split(id.toString, docs, pid, t0)
    val prop = Prop.forAll(Gen.listOf(genSplit)) { splits =>
      val plans = MergePolicy.planMerges(splits, small)
      val allIds = plans.flatten.map(_.splitId)
      plans.forall(b => b.size >= small.mergeFactor && b.size <= small.maxMergeFactor) &&
        allIds.distinct.size == allIds.size &&
        plans.flatten.forall(s => !MergePolicy.isMature(s.numDocs, small)) &&
        // planInvariants must agree with the direct recomputation above
        MergePolicy.planInvariants(splits, plans, small).all
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("planInvariants flags violations in corrupted plans") {
    val cfg = MergePolicy.Config(mergeFactor = 3, maxMergeFactor = 4,
      minLevelNumDocs = 100L, splitNumDocsTarget = 10000L)
    val splits = (0 until 8).map(i => split(s"s$i", 500L + i, 0L, i * 1000L))
    val plan = MergePolicy.planMerges(splits, cfg)
    assert(MergePolicy.planInvariants(splits, plan, cfg).all)
    // undersized batch
    assert(!MergePolicy.planInvariants(splits, Seq(splits.take(2)), cfg).sizesInBounds)
    // mature split in a batch
    val mature = split("big", 20000L, 0L, 0L)
    assert(!MergePolicy.planInvariants(splits :+ mature,
      Seq(splits.take(2) :+ mature), cfg).allImmature)
    // duplicate source across batches
    assert(!MergePolicy.planInvariants(splits,
      Seq(splits.take(3), splits.slice(2, 5)), cfg).sourcesDisjoint)
    // leftover group of >= mergeFactor unplanned candidates
    assert(!MergePolicy.planInvariants(splits, Seq(splits.take(4)), cfg).leftoverOk)
  }
}
