package graft.sources

/** Ingest v2 replicated data plane — leader/follower persist with
  * replication-factor acks (quickwit-ingest/src/ingest_v2/replication.rs;
  * persist flow ingester.rs): the leader appends a batch to its local WAL,
  * replicates it to the follower over a seqno-ordered stream, and ACKS THE
  * CLIENT only after the follower confirmed — replication factor 2 means
  * ack-after-quorum, so every acked position exists on two nodes.
  *
  * Contract points mirrored from the reference's own test matrix
  * (replication.rs:1011-1454):
  *  - `init_replica` / `replicate` share one strictly monotonic
  *    `replication_seqno` per stream; an out-of-order request is rejected
  *    with the reference's exact error (replication.rs:504-509).
  *  - Routing guards: wrong leader/follower ids are internal errors with
  *    the reference's messages (replication.rs:492-502).
  *  - Unknown shard → `ShardNotFound` failure; closed shard → `ShardClosed`
  *    failure (test_replication_task_shard_closed) — failures, not
  *    exceptions: the response reports them per subrequest.
  *  - Truncation propagates leader → follower (follower lag truncation),
  *    so a promoted follower never re-serves positions the pipeline
  *    already consumed.
  *  - Failover: promoting the follower yields a WAL whose end position
  *    equals the last ACKED position — acked docs are never lost, unacked
  *    docs were never confirmed to the client (ingester.rs persist).
  *
  * Both WALs are [[IngestQueue]]s (the same 16 MiB-segment record log the
  * v1 queues use); "nodes" are directories, which is exactly the unit a
  * real deployment replicates.
  */
object Replication {

  sealed trait FailureReason { def label: String }
  case object ShardNotFound extends FailureReason { val label = "shard_not_found" }
  case object ShardClosed extends FailureReason { val label = "shard_closed" }

  final case class ReplicateSuccess(queueId: String, replicationPositionInclusive: Long)
  final case class ReplicateFailure(queueId: String, reason: FailureReason)
  final case class ReplicateResponse(followerId: String, successes: Seq[ReplicateSuccess],
                                     failures: Seq[ReplicateFailure], replicationSeqno: Long)

  /** The follower half: a replica ingester applying the leader's stream. */
  final class Follower(val wal: IngestQueue, val leaderId: String, val followerId: String) {

    private var expectedSeqno = 0L
    private val shards = scala.collection.mutable.Map.empty[String, Boolean] // id -> open
    private var positions = Map.empty[String, Long] // replication position per shard

    private def checkRouting(reqLeader: String, reqFollower: String): Unit = {
      if (reqLeader != leaderId) throw new IllegalArgumentException(
        s"routing error: expected leader ID `$leaderId`, got `$reqLeader`")
      if (reqFollower != followerId) throw new IllegalArgumentException(
        s"routing error: expected follower ID `$followerId`, got `$reqFollower`")
    }

    private def checkSeqno(seqno: Long): Unit = {
      if (seqno != expectedSeqno) throw new IllegalArgumentException(
        s"received out-of-order replication request: expected replication seqno " +
          s"`$expectedSeqno`, got `$seqno`")
      expectedSeqno += 1
    }

    /** init_replica (replication.rs:444-486): open the replica queue. */
    def initReplica(reqLeader: String, reqFollower: String, seqno: Long,
                    queueId: String): Long = synchronized {
      checkRouting(reqLeader, reqFollower)
      checkSeqno(seqno)
      wal.createQueue(queueId)
      shards(queueId) = true
      positions += queueId -> (wal.endPosition(queueId) - 1)
      seqno
    }

    /** replicate (replication.rs:488-686): apply one batch per subrequest;
      * per-shard failures report, they don't throw. A position GAP on an
      * open shard is a protocol violation (diverged replica), rejected for
      * the WHOLE request — and validated up front, before any subrequest is
      * applied, so a rejected request never leaves a partial batch behind. */
    def replicate(reqLeader: String, reqFollower: String, seqno: Long,
                  subrequests: Seq[(String, Long, Seq[String])]): ReplicateResponse =
      synchronized {
        checkRouting(reqLeader, reqFollower)
        checkSeqno(seqno)
        // Validation pass simulates position advancement so a request may
        // legally carry several contiguous batches for the same shard, and
        // a duplicated batch (same from-position twice) is caught as a gap.
        val sim = scala.collection.mutable.Map.empty[String, Long]
        subrequests.foreach { case (queueId, fromExclusive, docs) =>
          require(docs.nonEmpty, s"empty replicate batch for $queueId")
          if (shards.get(queueId).contains(true)) {
            val at = sim.getOrElse(queueId, positions(queueId))
            require(at == fromExclusive,
              s"replication gap on $queueId: at $at, batch from $fromExclusive")
            sim(queueId) = fromExclusive + docs.length
          }
        }
        val successes = Seq.newBuilder[ReplicateSuccess]
        val failures = Seq.newBuilder[ReplicateFailure]
        subrequests.foreach { case (queueId, _, docs) =>
          shards.get(queueId) match {
            case None => failures += ReplicateFailure(queueId, ShardNotFound)
            case Some(false) => failures += ReplicateFailure(queueId, ShardClosed)
            case Some(true) =>
              val (_, last) = wal.ingest(queueId, docs)
              positions += queueId -> last
              successes += ReplicateSuccess(queueId, last)
          }
        }
        ReplicateResponse(followerId, successes.result(), failures.result(), seqno)
      }

    /** Leader-driven truncation (the follower lags consumption; the leader
      * forwards `suggest_truncate` so replica segments are reclaimed too). */
    def truncate(queueId: String, upToInclusive: Long): Int = synchronized {
      wal.suggestTruncate(queueId, upToInclusive)
    }

    def closeShard(queueId: String): Unit = synchronized { shards(queueId) = false }

    /** Replica bootstrap during failover: open the replica queue with its
      * position floor aligned to the promoted leader's WAL — positions are
      * global per shard, so a replica opened mid-stream takes over the
      * leader's numbering (the same way the reference's replica stream
      * starts from the replication checkpoint, not from zero). */
    private[Replication] def initReplicaAt(reqLeader: String, reqFollower: String,
                                           seqno: Long, queueId: String,
                                           nextPosition: Long): Unit = synchronized {
      checkRouting(reqLeader, reqFollower)
      checkSeqno(seqno)
      wal.createQueue(queueId)
      wal.alignFloor(queueId, nextPosition)
      shards(queueId) = true
      positions += queueId -> (wal.endPosition(queueId) - 1)
    }

    /** Failover: the replica becomes a leader over its own WAL. Every
      * position it holds was leader-acked (ack-after-quorum), so the
      * promoted queue is contiguous with what clients observed. Each shard
      * is resynced onto `newFollower` (bootstrap + replay of the retained
      * records), restoring replication factor 2 before the first
      * post-failover persist. Closed shards stay closed on both nodes: the
      * new leader fails a persist to one before its WAL append. */
    def promote(newFollower: Follower): Leader = synchronized {
      val l = new Leader(wal, followerId, newFollower)
      shards.toSeq.sortBy(_._1).foreach { case (queueId, open) =>
        l.adoptShard(queueId, open)
        if (!open) newFollower.closeShard(queueId)
      }
      l
    }
  }

  /** The leader half: local persist + replicate + quorum ack. */
  final class Leader(val wal: IngestQueue, val leaderId: String, follower: Follower) {

    private var nextSeqno = 0L
    private val shards = scala.collection.mutable.Set.empty[String]
    // shards adopted closed at failover: persists fail without a WAL append
    private val closed = scala.collection.mutable.Set.empty[String]
    private val acked = scala.collection.mutable.Map.empty[String, Long]
    private def seqno(): Long = { val s = nextSeqno; nextSeqno += 1; s }

    /** Shard ids are NEVER reused (the reference's control plane always
      * mints fresh ids): re-opening a queue that already holds records —
      * e.g. one whose shard closed on a failed persist, leaving an
      * orphaned unacked record — would let the raw WAL end masquerade as
      * an acked position. */
    def openShard(queueId: String): Unit = synchronized {
      require(wal.endPosition(queueId) == 0,
        s"shard ids are never reused: $queueId already holds positions")
      wal.createQueue(queueId)
      follower.initReplica(leaderId, follower.followerId, seqno(), queueId)
      shards += queueId
      acked(queueId) = -1L
    }

    /** A promoted leader adopts an existing replica queue: its own WAL
      * already holds the acked records; the NEW follower is bootstrapped at
      * the retained floor and the retained records are replayed to it
      * SEGMENT-BY-SEGMENT — each file is read exactly once (no quadratic
      * re-reads), replay memory is bounded by the largest original persist
      * batch, and the replica's WAL keeps the leader's segment granularity
      * so later truncation can reclaim the resynced range in pieces. A
      * closed shard is resynced too, but never accepts a persist. */
    private[Replication] def adoptShard(queueId: String, open: Boolean): Unit = synchronized {
      wal.createQueue(queueId)
      val ranges = wal.segmentRanges(queueId)
      val floor = ranges.headOption.map(_._1).getOrElse(wal.endPosition(queueId))
      follower.initReplicaAt(leaderId, follower.followerId, seqno(), queueId, floor)
      ranges.foreach { case (from, to) =>
        val batch = wal.fetch(queueId, from - 1, (to - from + 1).toInt)
        follower.replicate(leaderId, follower.followerId, seqno(),
          Seq((queueId, from - 1, batch.map(_._2))))
      }
      if (open) shards += queueId else closed += queueId
      acked(queueId) = wal.endPosition(queueId) - 1 // retained ⇒ leader-acked
    }

    /** persist: local WAL append → replicate → ack. Returns the acked
      * position ONLY once the follower confirmed; a follower failure
      * surfaces to the caller, the batch is NOT acked, and the shard
      * CLOSES on the leader — the reference fails the persist subrequest
      * and closes the shard the same way (ingester.rs), routing clients to
      * another shard. The locally appended batch stays in the leader WAL
      * (positions are never reused) but [[ackedPosition]] never reports
      * it: acks are tracked explicitly, not derived from the raw end. */
    def persist(queueId: String, docs: Seq[String]): Long = synchronized {
      if (closed(queueId)) throw new IllegalStateException(
        s"replication failed on $queueId: ${ShardClosed.label} — batch not acked")
      require(shards.contains(queueId), s"unknown shard: $queueId")
      val fromExclusive = wal.endPosition(queueId) - 1
      val (_, last) = wal.ingest(queueId, docs)
      // ANY replication-stream failure closes the shard — a thrown gap /
      // routing / seqno error means the stream is diverged or broken, and
      // retrying the same shard would re-hit it forever (the reference
      // closes shards on replication stream failure and reroutes)
      val resp =
        try follower.replicate(leaderId, follower.followerId, seqno(),
          Seq((queueId, fromExclusive, docs)))
        catch {
          case scala.util.control.NonFatal(e) =>
            shards -= queueId
            throw new IllegalStateException(
              s"replication stream failed on $queueId — batch not acked", e)
        }
      resp.failures.headOption.foreach { f =>
        shards -= queueId
        throw new IllegalStateException(
          s"replication failed on ${f.queueId}: ${f.reason.label} — batch not acked")
      }
      val ackedPos = resp.successes.head.replicationPositionInclusive
      require(ackedPos == last,
        s"replica diverged on $queueId: leader at $last, follower at $ackedPos")
      acked(queueId) = last
      last
    }

    /** Consumption truncation propagates to the replica. */
    def suggestTruncate(queueId: String, upToInclusive: Long): Unit = synchronized {
      wal.suggestTruncate(queueId, upToInclusive)
      follower.truncate(queueId, upToInclusive)
    }

    /** Last position confirmed on BOTH nodes (−1 before the first ack). */
    def ackedPosition(queueId: String): Long = synchronized(acked.getOrElse(queueId, -1L))
  }
}
