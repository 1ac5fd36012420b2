/** Atomic manifest commit — the metastore `publish_splits` analog.
  *
  * Reference: quickwit-indexing/src/actors/publisher.rs:101-150 publishes
  * staged splits + a checkpoint delta atomically; visibility flips at one
  * point. Here: snapshots are JSON files `metadata/snapshot-N.json`; commit
  * is write-temp + atomic rename of the next snapshot id; losers of a race
  * fail the rename (compare-and-swap by file existence). An Iceberg catalog
  * would replace this class one-for-one when its runtime jar is available
  * (none in this offline env).
  */
package graft.publish

import graft.util.Json
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

object Manifest {

  /** One published split file-group. Field names mirror SplitMetadata
    * (quickwit-metastore/src/split_metadata.rs:66-126). */
  final case class SplitEntry(
      splitId: String,
      partitionId: Long,
      numDocs: Long,
      uncompressedBytes: Long,
      timeRangeStartMicros: Long,
      timeRangeEndMicros: Long,
      tags: Seq[String],
      termCardinality: Long,
      postingsCount: Long,
      numMergeOps: Int,
      deleteOpstamp: Long,
      files: Seq[String],
      // per-fast-field [min, max] stats beyond the timestamp — what lets
      // CanSplitDoBetter skip splits for ANY fast-field sort, the way the
      // reference reads per-split column stats (leaf.rs:475-543). Absent
      // for a field ⇒ that split is never skippable on it.
      fieldRanges: Map[String, (Long, Long)] = Map.empty)

  final case class Snapshot(
      snapshotId: Long,
      splits: Seq[SplitEntry],
      checkpoint: Map[String, Long])

  private def splitJson(s: SplitEntry): String = {
    // bounds as STRINGS: the JSON reader parses numbers as Double, which
    // rounds i64 values beyond 2^53 (hash/id columns) and would make
    // generalized split skipping lossy after a manifest round-trip
    val ranges = s.fieldRanges.toSeq.sortBy(_._1)
      .map { case (f, (lo, hi)) => s"""${Json.quote(f)}:["$lo","$hi"]""" }.mkString("{", ",", "}")
    s"""{"split_id":${Json.quote(s.splitId)},"partition_id":${s.partitionId},"num_docs":${s.numDocs},""" +
      s""""uncompressed_docs_size_in_bytes":${s.uncompressedBytes},""" +
      s""""time_range_start":${s.timeRangeStartMicros},"time_range_end":${s.timeRangeEndMicros},""" +
      s""""tags":[${s.tags.map(Json.quote).mkString(",")}],""" +
      s""""term_cardinality":${s.termCardinality},"postings_count":${s.postingsCount},""" +
      s""""num_merge_ops":${s.numMergeOps},"delete_opstamp":${s.deleteOpstamp},""" +
      s""""field_ranges":$ranges,""" +
      s""""files":[${s.files.map(Json.quote).mkString(",")}]}"""
  }

  def toJson(snap: Snapshot): String = {
    val cp = snap.checkpoint.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.quote(k)}:$v" }.mkString("{", ",", "}")
    s"""{"snapshot_id":${snap.snapshotId},"checkpoint":$cp,"splits":[${snap.splits.map(splitJson).mkString(",")}]}"""
  }

  // Minimal JSON reader for our own snapshot format (no JSON lib beyond
  // Spark's shaded ones; keep it dependency-free and exact for round-trip).
  def fromJson(json: String): Snapshot = {
    val obj = Json.parse(json).asInstanceOf[Map[String, Any]]
    val splits = obj("splits").asInstanceOf[Seq[Any]].map { e =>
      val m = e.asInstanceOf[Map[String, Any]]
      SplitEntry(
        m("split_id").asInstanceOf[String],
        m("partition_id").asInstanceOf[Double].toLong,
        m("num_docs").asInstanceOf[Double].toLong,
        m("uncompressed_docs_size_in_bytes").asInstanceOf[Double].toLong,
        m("time_range_start").asInstanceOf[Double].toLong,
        m("time_range_end").asInstanceOf[Double].toLong,
        m("tags").asInstanceOf[Seq[Any]].map(_.asInstanceOf[String]),
        m("term_cardinality").asInstanceOf[Double].toLong,
        m("postings_count").asInstanceOf[Double].toLong,
        m("num_merge_ops").asInstanceOf[Double].toInt,
        m("delete_opstamp").asInstanceOf[Double].toLong,
        m("files").asInstanceOf[Seq[Any]].map(_.asInstanceOf[String]),
        // absent in pre-r4 snapshots — old manifests read back rangeless;
        // bounds are strings (see splitJson) for exact i64 round-trips
        m.get("field_ranges").map(_.asInstanceOf[Map[String, Any]].map {
          case (f, v) =>
            val ab = v.asInstanceOf[Seq[Any]].map(_.asInstanceOf[String].toLong)
            f -> (ab(0), ab(1))
        }).getOrElse(Map.empty))
    }
    val cp = obj("checkpoint").asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k -> v.asInstanceOf[Double].toLong }
    Snapshot(obj("snapshot_id").asInstanceOf[Double].toLong, splits, cp)
  }

  final class Store(tableDir: String) {
    private val metaDir: Path = Paths.get(tableDir, "metadata")

    def currentSnapshot(): Option[Snapshot] = {
      if (!Files.isDirectory(metaDir)) return None
      val ids = graft.util.Fs.list(metaDir).iterator
        .map(_.getFileName.toString)
        .collect { case n if n.startsWith("snapshot-") && n.endsWith(".json") =>
          n.stripPrefix("snapshot-").stripSuffix(".json").toLong }
        .toSeq
      if (ids.isEmpty) None
      else {
        val latest = metaDir.resolve(s"snapshot-${ids.max}.json")
        Some(fromJson(new String(Files.readAllBytes(latest), StandardCharsets.UTF_8)))
      }
    }

    /** publish_splits: atomically append new splits + advance checkpoint.
      * Exactly-once: the checkpoint delta is contiguity-checked against the
      * current snapshot; an already-applied delta is rejected (Overlap) so a
      * rerun of a committed batch is a no-op failure the caller treats as
      * "already published". `replaced` split ids are dropped (merge path). */
    def publish(staged: Seq[SplitEntry], replacedIds: Set[String],
                delta: Checkpoint.Delta): Either[String, Snapshot] = synchronized {
      Files.createDirectories(metaDir)
      val cur = currentSnapshot().getOrElse(Snapshot(0L, Nil, Map.empty))
      val cp = Checkpoint.SourceCheckpoint(cur.checkpoint)
      cp.tryApply(delta) match {
        case Left((p, reason)) => Left(s"incompatible checkpoint delta on $p: $reason")
        case Right(next) =>
          // split ids are unique — re-publishing a live one (a merge rerun
          // whose inputs somehow still look live, or an id collision) must
          // fail rather than shadow the published split (the metastore
          // rejects publishes of non-staged ids the same way). A staged id
          // that is simultaneously REPLACED is the in-place metadata-update
          // shape (delete-opstamp bump) and is allowed.
          val kept = cur.splits.filterNot(s => replacedIds.contains(s.splitId))
          val keptIds = kept.map(_.splitId).toSet
          staged.map(_.splitId).find(keptIds) match {
            case Some(dup) => Left(s"split $dup is already published")
            case None =>
              val snap = Snapshot(cur.snapshotId + 1, kept ++ staged, next.positions)
              commitSnapshot(snap)
          }
      }
    }

    /** Compare-and-swap commit of snapshot N: write-temp + hard-link to the
      * final name. POSIX `rename` silently REPLACES an existing target (so
      * an ATOMIC_MOVE-based commit lets both racers "win" and loses one
      * writer's batch); `link(2)` fails with EEXIST when the target exists —
      * exactly one concurrent committer of the same snapshot id succeeds,
      * across processes, and losers see a Left. */
    private[publish] def commitSnapshot(snap: Snapshot): Either[String, Snapshot] = {
      val tmp = metaDir.resolve(s".snapshot-${snap.snapshotId}.${java.util.UUID.randomUUID()}.tmp")
      val dst = metaDir.resolve(s"snapshot-${snap.snapshotId}.json")
      Files.write(tmp, toJson(snap).getBytes(StandardCharsets.UTF_8))
      try {
        Files.createLink(dst, tmp)
        Right(snap)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Left(s"lost commit race for snapshot ${snap.snapshotId}")
      } finally Files.deleteIfExists(tmp)
    }
  }
}
