package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Ingest v2 replication data plane, matrix ported from the reference's own
  * tests (replication.rs:809-1454: happy path, out-of-order seqno, routing
  * errors, shard closed / not found, truncation, failover). */
class ReplicationSpec extends AnyFunSuite {

  private def wal(): IngestQueue = new IngestQueue(
    java.nio.file.Files.createTempDirectory("repl-spec").toString)

  private def pair(): (Replication.Leader, Replication.Follower) = {
    val f = new Replication.Follower(wal(), "test-leader", "test-follower")
    (new Replication.Leader(wal(), "test-leader", f), f)
  }

  test("happy path: init seqnos 0,1,2; persist acks after quorum; positions advance") {
    val (leader, follower) = pair()
    leader.openShard("idx:0/src/01") // seqno 0
    leader.openShard("idx:0/src/02") // seqno 1
    leader.openShard("idx:1/src/01") // seqno 2
    assert(leader.persist("idx:0/src/01", Seq("d0", "d1")) === 1L)
    assert(leader.persist("idx:0/src/01", Seq("d2")) === 2L)
    assert(leader.persist("idx:0/src/02", Seq("e0")) === 0L)
    // both nodes hold the acked records at the same positions
    assert(leader.ackedPosition("idx:0/src/01") === 2L)
    assert(follower.wal.fetch("idx:0/src/01", -1L, 10).map(_._2) === Seq("d0", "d1", "d2"))
    assert(follower.wal.fetch("idx:0/src/02", -1L, 10).map(_._2) === Seq("e0"))
  }

  test("out-of-order replication seqno: the reference's exact error") {
    val (_, follower) = pair()
    follower.initReplica("test-leader", "test-follower", 0L, "q")
    val e = intercept[IllegalArgumentException] {
      follower.replicate("test-leader", "test-follower", 5L, Seq(("q", -1L, Seq("d"))))
    }
    assert(e.getMessage ===
      "received out-of-order replication request: expected replication seqno `1`, got `5`")
  }

  test("routing guards: wrong leader / wrong follower ids") {
    val (_, follower) = pair()
    val e1 = intercept[IllegalArgumentException] {
      follower.initReplica("bad-leader", "test-follower", 0L, "q")
    }
    assert(e1.getMessage === "routing error: expected leader ID `test-leader`, got `bad-leader`")
    val e2 = intercept[IllegalArgumentException] {
      follower.initReplica("test-leader", "bad-follower", 0L, "q")
    }
    assert(e2.getMessage ===
      "routing error: expected follower ID `test-follower`, got `bad-follower`")
  }

  test("shard not found / shard closed report as per-subrequest FAILURES") {
    val (_, follower) = pair()
    follower.initReplica("test-leader", "test-follower", 0L, "open-q")
    val r1 = follower.replicate("test-leader", "test-follower", 1L,
      Seq(("missing-q", -1L, Seq("d")), ("open-q", -1L, Seq("d"))))
    assert(r1.failures.map(f => (f.queueId, f.reason)) ===
      Seq(("missing-q", Replication.ShardNotFound)))
    assert(r1.successes.map(_.queueId) === Seq("open-q"))
    follower.closeShard("open-q")
    val r2 = follower.replicate("test-leader", "test-follower", 2L,
      Seq(("open-q", 0L, Seq("d2"))))
    assert(r2.failures.map(_.reason) === Seq(Replication.ShardClosed))
    assert(r2.successes.isEmpty)
    // a failed replication is NOT acked by the leader
    val (leader2, follower2) = pair()
    leader2.openShard("q")
    follower2.closeShard("q")
    intercept[IllegalStateException](leader2.persist("q", Seq("doc")))
  }

  test("truncation propagates to the follower; positions never rewind") {
    val (leader, follower) = pair()
    leader.openShard("q")
    leader.persist("q", Seq("a", "b")) // segment 0-1 on both WALs
    leader.persist("q", Seq("c"))      // segment 2
    // truncation is segment-granular (the mrecordlog contract): committed
    // through 1 ⇒ segment 0-1 is reclaimed on BOTH nodes, segment 2 stays
    leader.suggestTruncate("q", 1L)
    assert(leader.wal.fetch("q", -1L, 10).map(_._1) === Seq(2L))
    assert(follower.wal.fetch("q", -1L, 10).map(_._1) === Seq(2L))
    // positions continue past truncation on BOTH nodes
    assert(leader.persist("q", Seq("d")) === 3L)
  }

  test("failover: promoted follower holds every acked doc, contiguous positions") {
    val (leader, follower) = pair()
    leader.openShard("q1")
    leader.openShard("q2")
    leader.persist("q1", Seq("a", "b"))
    leader.persist("q2", Seq("x"))
    leader.persist("q1", Seq("c"))
    // the leader dies here; promote the replica
    val promoted = follower.promote(new Replication.Follower(wal(), "test-follower", "node-3"))
    assert(promoted.leaderId === "test-follower")
    assert(promoted.wal.fetch("q1", -1L, 10) === Seq((0L, "a"), (1L, "b"), (2L, "c")))
    assert(promoted.wal.fetch("q2", -1L, 10) === Seq((0L, "x")))
    assert(promoted.ackedPosition("q1") === 2L)
    assert(promoted.ackedPosition("q2") === 0L)
  }

  test("failover: promoted leader persists with replication factor restored") {
    val (leader, follower) = pair()
    leader.openShard("q")
    leader.persist("q", Seq("a", "b"))
    val node3 = new Replication.Follower(wal(), "test-follower", "node-3")
    val promoted = follower.promote(node3)
    // resync replayed the acked records onto the NEW follower at the same
    // positions, so the first post-failover persist acks through quorum
    assert(node3.wal.fetch("q", -1L, 10) === Seq((0L, "a"), (1L, "b")))
    assert(promoted.persist("q", Seq("c")) === 2L)
    assert(node3.wal.fetch("q", -1L, 10).map(_._2) === Seq("a", "b", "c"))
  }

  test("failover after truncation: resync starts at the retained floor, not zero") {
    val (leader, follower) = pair()
    leader.openShard("q")
    leader.persist("q", Seq("a", "b")) // segment 0-1
    leader.persist("q", Seq("c"))      // segment 2
    leader.suggestTruncate("q", 1L)    // both nodes drop segment 0-1
    val node3 = new Replication.Follower(wal(), "test-follower", "node-3")
    val promoted = follower.promote(node3)
    // only the retained record replays, at its ORIGINAL position
    assert(node3.wal.fetch("q", -1L, 10) === Seq((2L, "c")))
    assert(promoted.persist("q", Seq("d")) === 3L)
    assert(node3.wal.fetch("q", -1L, 10) === Seq((2L, "c"), (3L, "d")))
  }

  test("failover propagates closed shards; fully-truncated shards keep their floor") {
    val (leader, follower) = pair()
    leader.openShard("q")
    leader.persist("q", Seq("a"))
    leader.suggestTruncate("q", 0L) // nothing retained, floor = 1
    follower.closeShard("q")
    val node3 = new Replication.Follower(wal(), "test-follower", "node-3")
    val promoted = follower.promote(node3)
    // the promoted leader fails the closed shard, so the persist is NOT acked
    intercept[IllegalStateException](promoted.persist("q", Seq("b")))
    // the bootstrap still aligned the replica's floor past the truncated
    // range — positions would continue at 1, never rewind to 0
    assert(node3.wal.endPosition("q") === 1L)
    assert(node3.wal.fetch("q", -1L, 10).isEmpty)
  }

  test("a shard closed before failover gets no WAL record on the promoted leader") {
    val (leader, follower) = pair()
    leader.openShard("q")
    leader.openShard("live")
    leader.persist("q", Seq("a"))
    follower.closeShard("q")
    val promoted = follower.promote(new Replication.Follower(wal(), "test-follower", "node-3"))
    // failed before the local append: no orphaned record on the new leader
    intercept[IllegalStateException](promoted.persist("q", Seq("b")))
    assert(promoted.wal.fetch("q", -1L, 10).map(_._2) === Seq("a"))
    assert(promoted.ackedPosition("q") === 0L)
    // open shards keep persisting
    assert(promoted.persist("live", Seq("x")) === 0L)
  }

  test("a gap rejection applies NO subrequest (two-phase validation)") {
    val (_, follower) = pair()
    follower.initReplica("test-leader", "test-follower", 0L, "q1")
    follower.initReplica("test-leader", "test-follower", 1L, "q2")
    intercept[IllegalArgumentException] {
      follower.replicate("test-leader", "test-follower", 2L,
        Seq(("q1", -1L, Seq("a")), ("q2", 7L, Seq("z")))) // q2 gaps
    }
    // q1's batch was NOT partially applied before the q2 gap was detected
    assert(follower.wal.fetch("q1", -1L, 10).isEmpty)
  }

  test("one request may carry several CONTIGUOUS batches for one shard; a replayed batch is a gap") {
    val (_, follower) = pair()
    follower.initReplica("test-leader", "test-follower", 0L, "q")
    // two contiguous batches for q in ONE request: legal, both apply
    val r = follower.replicate("test-leader", "test-follower", 1L,
      Seq(("q", -1L, Seq("a")), ("q", 0L, Seq("b", "c"))))
    assert(r.successes.map(_.replicationPositionInclusive) === Seq(0L, 2L))
    assert(follower.wal.fetch("q", -1L, 10).map(_._2) === Seq("a", "b", "c"))
    // the same from-position twice in one request = a folded retry: gap,
    // and NOTHING applies (the second batch would land at the wrong offset)
    intercept[IllegalArgumentException] {
      follower.replicate("test-leader", "test-follower", 2L,
        Seq(("q", 2L, Seq("d")), ("q", 2L, Seq("d"))))
    }
    assert(follower.wal.fetch("q", -1L, 10).map(_._2) === Seq("a", "b", "c"))
  }

  test("a failed persist is never reported acked, and the shard closes") {
    val (leader, follower) = pair()
    leader.openShard("q")
    leader.persist("q", Seq("a"))
    assert(leader.ackedPosition("q") === 0L)
    follower.closeShard("q")
    intercept[IllegalStateException](leader.persist("q", Seq("b")))
    // the local WAL holds the unacked record (positions never reuse), but
    // the acked position did NOT advance past what the follower confirmed
    assert(leader.wal.fetch("q", -1L, 10).map(_._2) === Seq("a", "b"))
    assert(leader.ackedPosition("q") === 0L)
    // close-on-failure: the shard no longer accepts persists on this leader
    intercept[IllegalArgumentException](leader.persist("q", Seq("c")))
  }

  test("failover resync replays in bounded batches, preserving segment granularity") {
    val dir3 = java.nio.file.Files.createTempDirectory("repl-resync").toString
    val (leader, follower) = pair()
    leader.openShard("q")
    // 3 leader batches → 3 segments → the replay reads and ships each
    // segment once, reproducing the leader's batch granularity
    leader.persist("q", (0 until 4000).map(i => s"d$i"))
    leader.persist("q", (4000 until 8000).map(i => s"d$i"))
    leader.persist("q", (8000 until 9000).map(i => s"d$i"))
    val node3 = new Replication.Follower(new IngestQueue(dir3), "test-follower", "node-3")
    val promoted = follower.promote(node3)
    assert(promoted.ackedPosition("q") === 8999L)
    assert(node3.wal.endPosition("q") === 9000L)
    assert(node3.wal.fetch("q", 8997L, 10).map(_._2) === Seq("d8998", "d8999"))
    // more than one replayed segment: truncation on the replica can later
    // reclaim the resynced range in pieces, not all-or-nothing
    val segs = graft.util.Fs.list(java.nio.file.Paths.get(dir3, "q"))
      .count(_.getFileName.toString.startsWith("seg-"))
    assert(segs >= 2)
  }

  test("shard ids never reuse; empty replicate batches are rejected up front") {
    val (leader, follower) = pair()
    leader.openShard("q")
    leader.persist("q", Seq("a"))
    follower.closeShard("q")
    intercept[IllegalStateException](leader.persist("q", Seq("b"))) // closes q
    // re-opening the same id would let the orphaned unacked record at
    // position 1 masquerade as acked — rejected
    val e = intercept[IllegalArgumentException](leader.openShard("q"))
    assert(e.getMessage.contains("never reused"))
    // an empty batch fails validation BEFORE any subrequest applies
    val (_, f2) = pair()
    f2.initReplica("test-leader", "test-follower", 0L, "q")
    intercept[IllegalArgumentException] {
      f2.replicate("test-leader", "test-follower", 1L,
        Seq(("q", -1L, Seq("a")), ("q", 0L, Seq())))
    }
    assert(f2.wal.fetch("q", -1L, 10).isEmpty)
  }

  test("alignFloor guards: non-empty queue and rewinds are rejected") {
    val w = wal()
    w.createQueue("q")
    w.alignFloor("q", 5L)
    assert(w.endPosition("q") === 5L)
    intercept[IllegalArgumentException](w.alignFloor("q", 3L)) // rewind
    w.ingest("q", Seq("a"))
    intercept[IllegalArgumentException](w.alignFloor("q", 9L)) // non-empty
  }

  test("replication gap (diverged replica) is rejected, not silently applied") {
    val (_, follower) = pair()
    follower.initReplica("test-leader", "test-follower", 0L, "q")
    follower.replicate("test-leader", "test-follower", 1L, Seq(("q", -1L, Seq("a"))))
    val e = intercept[IllegalArgumentException] {
      follower.replicate("test-leader", "test-follower", 2L, Seq(("q", 5L, Seq("z"))))
    }
    assert(e.getMessage.contains("replication gap"))
  }
}
