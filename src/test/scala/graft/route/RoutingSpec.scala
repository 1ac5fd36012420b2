package graft.route

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}

/** Routing-expression DSL + partition assignment tests
  * (reference grammar: routing_expression/mod.rs:340-349; overflow cap:
  * indexer.rs:66,146-183). */
class RoutingSpec extends SparkTestBase {

  test("DSL parse: field, composite, hash_mod") {
    assert(Routing.parse("tenant") === Routing.Field("tenant"))
    assert(Routing.parse("tenant,app") ===
      Routing.Composite(Seq(Routing.Field("tenant"), Routing.Field("app"))))
    assert(Routing.parse("hash_mod(tenant, 50)") ===
      Routing.HashMod(Routing.Field("tenant"), 50L))
    assert(Routing.parse("hash_mod((tenant,app), 50)") ===
      Routing.HashMod(Routing.Composite(Seq(Routing.Field("tenant"), Routing.Field("app"))), 50L))
  }

  test("hash_mod bounds partition ids to [0, N)") {
    import spark.implicits._
    val df = (0 until 500).map(i => (s"t$i", s"a${i % 7}")).toDF("tenant", "app")
    val pids = df.select(Routing.parse("hash_mod((tenant,app), 16)").column.as("p"))
      .agg(min("p"), max("p")).collect()(0)
    assert(pids.getLong(0) >= 0L && pids.getLong(1) < 16L)
  }

  test("same routing-field value ⇒ same partition id (determinism)") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (s"t${i % 20}", i)).toDF("tenant", "x")
    val routed = Routing.withPartitionId(df, Routing.parse("tenant"), maxPartitions = 200)
    val distinctPerKey = routed.groupBy("tenant")
      .agg(countDistinct("partition_id").as("n"))
      .agg(max("n")).collect()(0).getLong(0)
    assert(distinctPerKey === 1L)
  }

  test("null routing field hashes a marker, does not drop rows") {
    import spark.implicits._
    val df = Seq(("a", 1), (null, 2), (null, 3)).toDF("tenant", "x")
    val routed = Routing.withPartitionId(df, Routing.parse("tenant"))
    assert(routed.count() === 3L)
    val nullPids = routed.filter(col("tenant").isNull)
      .select("partition_id").distinct().collect()
    assert(nullPids.length === 1) // both nulls land together
  }

  test("partition cap: ≤ maxPartitions distinct ids + OTHER; row count preserved") {
    import spark.implicits._
    val df = (0 until 2000).map(i => (s"key${i % 97}", i)).toDF("k", "x")
    val routed = Routing.withPartitionId(df, Routing.parse("k"), maxPartitions = 10)
    assert(routed.count() === 2000L)
    val pids = routed.select("partition_id").distinct().collect().map(_.getLong(0)).toSet
    assert(pids.size <= 11)
    assert(pids.contains(Routing.OtherPartitionId))
    assert((pids - Routing.OtherPartitionId).size === 10)
  }

  test("no overflow when distinct keys fit the cap") {
    import spark.implicits._
    val df = (0 until 100).map(i => (s"key${i % 5}", i)).toDF("k", "x")
    val routed = Routing.withPartitionId(df, Routing.parse("k"), maxPartitions = 10)
    val pids = routed.select("partition_id").distinct().collect().map(_.getLong(0)).toSet
    assert(pids.size === 5)
    assert(!pids.contains(Routing.OtherPartitionId))
  }

  test("cap path: cached variant scans the source once (filesystem byte count)") {
    import spark.implicits._
    val dir = tmpDir("route_scan")
    (0 until 20000).map(i => (s"k${i % 500}", i)).toDF("k", "v")
      .repartition(4).write.mode("overwrite").parquet(dir)
    def fsBytesRead(): Long =
      org.apache.hadoop.fs.GlobalStorageStatistics.INSTANCE.get("file").getLong("bytesRead")
    val expr = Routing.parse("k") // Field → cap path (not the hash_mod fast path)
    // baseline: plain variant, rank pass + consumer each scan the source
    val plain = spark.read.parquet(dir)
    val b0 = fsBytesRead()
    Routing.withPartitionId(plain, expr, maxPartitions = 16).count()
    val plainBytes = fsBytesRead() - b0
    // cached variant: rank materializes the cache, consumer replays it
    val cached = spark.read.parquet(dir)
    val b1 = fsBytesRead()
    Routing.withPartitionIdCached(cached, expr, maxPartitions = 16).count()
    val cachedBytes = fsBytesRead() - b1
    cached.unpersist()
    // plain reads the files twice; cached strictly less than 1.5 single
    // scans (footer reads make exact 1.0 too strict)
    assert(plainBytes > 0)
    assert(cachedBytes < plainBytes * 3 / 4,
      s"cached=$cachedBytes plain=$plainBytes — expected ~half")
  }

  test("property: routing determinism over arbitrary key sets") {
    import spark.implicits._
    val prop = Prop.forAll(Gen.nonEmptyListOf(Gen.alphaNumStr)) { keys =>
      val df = keys.flatMap(k => Seq(k, k)).toDF("k") // every key twice
      val routed = Routing.withPartitionId(df, Routing.parse("hash_mod(k, 32)"), 200)
      val bad = routed.groupBy("k").agg(countDistinct("partition_id").as("n"))
        .filter(col("n") > 1).count()
      bad == 0L
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }
}
