package graft.publish

import graft.SparkTestBase
import graft.model.TranscriptGen
import graft.queryast.QueryAst
import graft.sources.TranscriptTable
import org.apache.spark.sql.functions._

/** Physical delete-task execution (merge_executor.rs:290-456): the
  * bump_opstamp / delete_and_merge / whole-split-delete arms, idempotent
  * reruns, GC of replaced files. */
class DeleteExecutorSpec extends SparkTestBase {

  private def delta(from: Long, to: Long) =
    Checkpoint.Delta(Seq(Checkpoint.PartitionDelta("src", from, to)))

  private def build(dir: String): (TranscriptTable, Seq[graft.model.Turn]) = {
    import spark.implicits._
    val table = new TranscriptTable(dir, spark)
    val turns = TranscriptGen.turns(numConvs = 40, avgTurns = 5)
    val df = turns.toDS().toDF()
    table.append(df.filter(col("role") === "tool"), delta(-1, 1), numFiles = 1)
    table.append(df.filter(col("role") === "user"), delta(1, 2), numFiles = 1)
    table.append(df.filter(col("role").isin("assistant", "system")), delta(2, 3), numFiles = 1)
    (table, turns)
  }

  private def roles(table: TranscriptTable): Map[String, Long] =
    table.scan().groupBy("role").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("bump / rewrite / rerun-no-op arms") {
    val dir = tmpDir("delete-exec")
    val (table, turns) = build(dir)
    val byRole = turns.groupBy(_.role).view.mapValues(_.size.toLong).toMap

    val t5 = Seq(DeleteExecutor.DeleteTask(5L, QueryAst.Term("role", "assistant")))
    val res = DeleteExecutor.run(dir, spark, t5)
    // tool-only and user-only splits bump; the mixed split rewrites
    assert(res.bumped.size === 2 && res.rewritten.size === 1)
    assert(res.deletedDocs === byRole("assistant"))
    val snap = table.store.currentSnapshot().get
    assert(snap.splits.forall(_.deleteOpstamp === 5L))
    // bumped splits kept their ids AND files; the rewrite got a new id,
    // merge-op generation + recomputed stats
    assert(snap.splits.count(_.splitId.startsWith("delete-5-")) === 1)
    val rw = snap.splits.find(_.splitId.startsWith("delete-5-")).get
    assert(rw.numDocs === byRole("system") && rw.numMergeOps === 1)
    assert(roles(table) === byRole - "assistant")

    // rerun with the same tasks: every split's opstamp is current → no-op
    val res2 = DeleteExecutor.run(dir, spark, t5)
    assert(res2.rewritten.isEmpty && res2.bumped.isEmpty && res2.deletedDocs === 0L)
  }

  test("whole-split delete drops the split; GC reaps replaced files") {
    val dir = tmpDir("delete-drop")
    val (table, turns) = build(dir)
    val byRole = turns.groupBy(_.role).view.mapValues(_.size.toLong).toMap
    val filesBefore = table.store.currentSnapshot().get.splits.flatMap(_.files)

    DeleteExecutor.run(dir, spark,
      Seq(DeleteExecutor.DeleteTask(5L, QueryAst.Term("role", "assistant"))))
    val res = DeleteExecutor.run(dir, spark,
      Seq(DeleteExecutor.DeleteTask(9L, QueryAst.Term("role", "tool"))))
    // the tool-only split matched in FULL → dropped outright, not staged empty
    assert(res.rewritten.isEmpty && res.deletedDocs === byRole("tool"))
    val snap = table.store.currentSnapshot().get
    assert(!snap.splits.exists(_.splitId.contains("batch-1")) || roles(table).get("tool").isEmpty)
    assert(snap.splits.forall(_.deleteOpstamp === 9L))
    assert(roles(table) === byRole - "assistant" - "tool")

    // every file no longer referenced (original mixed split + tool split)
    // is GC food; live files survive both grace periods
    val live = snap.splits.flatMap(_.files).toSet
    val dead = filesBefore.filterNot(live).toSet
    assert(dead.nonEmpty)
    val now = System.currentTimeMillis()
    val g1 = GarbageCollect.run(dir, now + GarbageCollect.DefaultStagedGraceMillis + 1000)
    assert(g1.marked.toSet === dead)
    assert(roles(table) === byRole - "assistant" - "tool") // table unaffected
  }

  test("each stale split is scanned ONCE (filesystem byte count)") {
    import spark.implicits._
    val dir = tmpDir("delete-scan")
    // big enough that parquet footer/metadata re-reads are noise next to
    // the data pages (the 3-split fixture is ~11 KB — all footers)
    val table = new TranscriptTable(dir, spark)
    val df = TranscriptGen.turns(numConvs = 3000, avgTurns = 6).toDS().toDF()
    table.append(df.filter(col("role") === "tool"), delta(-1, 1), numFiles = 1)
    table.append(df.filter(col("role") === "user"), delta(1, 2), numFiles = 1)
    table.append(df.filter(col("role").isin("assistant", "system")), delta(2, 3), numFiles = 1)
    def fsBytesRead(): Long =
      org.apache.hadoop.fs.GlobalStorageStatistics.INSTANCE.get("file").getLong("bytesRead")
    val dataBytes = table.store.currentSnapshot().get.splits
      .flatMap(_.files).map(f => new java.io.File(f.replaceFirst("^file:", "")).length()).sum
    // the common case at scale: a query matching NOTHING in any split —
    // every split takes the bump arm via the predicate-column-pruned probe
    // count, which reads only the predicate column's pages, strictly less
    // than even ONE full scan of the split data.
    val b0 = fsBytesRead()
    val res = DeleteExecutor.run(dir, spark,
      Seq(DeleteExecutor.DeleteTask(5L, QueryAst.Term("role", "no_such_role"))))
    val read = fsBytesRead() - b0
    assert(res.bumped.size === 3 && res.rewritten.isEmpty)
    // column pruning must hold: the probe reads the predicate column only,
    // so total IO stays below one full-width scan (footers included)
    assert(read < dataBytes,
      s"read $read bytes for $dataBytes bytes of split data — probe not pruned?")
  }
}
