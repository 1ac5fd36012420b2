package graft.publish

import graft.SparkTestBase
import graft.model.TranscriptGen
import org.apache.spark.sql.functions._

/** Index-management CRUD arc (quickwit-index-management/src/index.rs) +
  * full index-config validation (quickwit-config/src/index_config/
  * serialize.rs:83-117) with the reference's exact rejection messages. */
class IndexServiceSpec extends SparkTestBase {

  private val ValidConfig =
    """{"index_id": "my-index",
      | "doc_mapping": {
      |   "mode": "dynamic",
      |   "timestamp_field": "ts",
      |   "field_mappings": [
      |     {"name": "text", "type": "text"},
      |     {"name": "ts", "type": "datetime", "fast": true}]},
      | "search_settings": {"default_search_fields": ["text"]},
      | "retention": {"period": "7 days"},
      | "indexing_settings": {"merge_policy": {"merge_factor": 10, "max_merge_factor": 12}}}""".stripMargin

  private def reject(json: String): String =
    intercept[IllegalArgumentException](IndexService.validateAndBuild(json)).getMessage

  test("validate_and_build: happy path — defaults, schedule prepend, period parse") {
    val cfg = IndexService.validateAndBuild(ValidConfig)
    assert(cfg.indexId === "my-index")
    assert(cfg.retention.get.periodMillis === 7L * 86400 * 1000)
    assert(cfg.retention.get.schedule === "@hourly") // default_schedule + prepend_at_char
    assert(cfg.docMapping.timestampField.contains("ts"))
    assert(cfg.sources === IndexService.DefaultSources)
    assert(IndexService.parseRetentionSchedule("daily") === "@daily")
    assert(IndexService.parseRetentionSchedule("0 0 * * *") === "0 0 * * *")
    assert(IndexService.parseRetentionPeriod("1 hour") === 3600000L)
    assert(IndexService.parseRetentionPeriod("2 weeks") === 14L * 86400 * 1000)
  }

  test("validate_and_build: reference rejection messages") {
    // validate_identifier (quickwit-config/src/lib.rs:107-118)
    assert(reject(ValidConfig.replace("my-index", "1bad")) ===
      "Index ID identifier `1bad` is invalid. identifiers must match the following " +
        "regular expression: `^[a-zA-Z][a-zA-Z0-9-_\\.]{2,254}$`")
    assert(reject(ValidConfig.replace("my-index", "ab")).contains("is invalid"))
    // retention period parse (index_config/mod.rs:242-249)
    assert(reject(ValidConfig.replace("7 days", "foo")) ===
      "failed to parse retention period `foo`")
    // retention schedule parse
    assert(reject(ValidConfig.replace(""""period": "7 days"""",
      """"period": "7 days", "schedule": "not a schedule %"""")) ===
      "failed to parse retention schedule `not a schedule %`")
    // retention without a timestamp field (serialize.rs:94-99)
    assert(reject(ValidConfig.replace(""""timestamp_field": "ts",""", "")) ===
      "failed to validate index config. the retention policy requires a timestamp " +
        "field, but the indexing settings do not declare one")
    // merge policy sanity (merge_policy_config.rs:159-164)
    assert(reject(ValidConfig.replace(""""max_merge_factor": 12""",
      """"max_merge_factor": 5""")) ===
      "index config merge policy `max_merge_factor` must be superior or equal " +
        "to `merge_factor`")
    // doc-mapper build failures surface (serialize.rs:105 build_doc_mapper)
    assert(reject(ValidConfig.replace(""""fast": true""", """"fast": false""")) ===
      "timestamp field `ts` should be a fast field")
  }

  private def delta(from: Long, to: Long, key: String = "src") =
    Checkpoint.Delta(Seq(Checkpoint.PartitionDelta(key, from, to)))

  private def ingest(svc: IndexService, id: String, n: Int, from: Long = -1L, to: Long = 1L,
                     sourceId: String = "src"): Unit = {
    import spark.implicits._
    val df = TranscriptGen.turns(numConvs = n, avgTurns = 3).toDS().toDF()
    svc.table(id).append(df, delta(from, to, sourceId), numFiles = 2)
  }

  test("source management: create/toggle/delete/reset-checkpoint with the reference errors") {
    val root = tmpDir("idx-src")
    val svc = new IndexService(root, spark)
    svc.createIndex(ValidConfig)
    // the three Quickwit-managed defaults are present and enabled
    assert(svc.listSources("my-index").map(_.sourceId) === IndexService.DefaultSources)
    assert(svc.listSources("my-index").forall(_.enabled))

    // validation: the reference's exact errors
    def rejectSrc(json: String): String =
      intercept[IllegalArgumentException](svc.createSource("my-index", json)).getMessage
    // the serde-level identifier check fires first for plainly-invalid ids
    // (serialize.rs:73-74); the "invalid source ID" wrap is create_source's
    // EXTRA check (index.rs:342-344), which only the serde-exempt RESERVED
    // ids can reach — a user can never create a Quickwit-managed id
    assert(rejectSrc("""{"source_id": "f", "source_type": "file", "params": {}}""")
      .startsWith("Source ID identifier `f` is invalid"))
    assert(rejectSrc("""{"source_id": "_sneaky", "source_type": "void", "params": {}}""")
      .startsWith("Source ID identifier `_sneaky` is invalid"))
    assert(rejectSrc("""{"source_id": "_ingest-api-source", "source_type": "void", "params": {}}""")
      === "invalid source ID: `_ingest-api-source`")
    assert(rejectSrc("""{"source_id": "my-file", "source_type": "file", "params": {}}""")
      === "source `my-file` of type `file` must contain a filepath")
    assert(rejectSrc(
      """{"source_id": "my-kin", "source_type": "kinesis", "desired_num_pipelines": 2,
        | "params": {}}""".stripMargin).startsWith(
      "Quickwit currently supports multiple pipelines only for GCP PubSub or Kafka sources"))
    assert(rejectSrc(
      """{"source_id": "my-k", "source_type": "kafka", "desired_num_pipelines": 0,
        | "params": {}}""".stripMargin)
      === "`desired_num_pipelines` must be strictly positive")

    // happy path: kafka source with 2 pipelines; duplicate → AlreadyExists
    val kafka = svc.createSource("my-index",
      """{"source_id": "kafka-source", "source_type": "kafka",
        | "desired_num_pipelines": 2, "max_num_pipelines_per_indexer": 2,
        | "params": {"topic": "t1"}}""".stripMargin)
    assert(kafka.enabled && kafka.desiredNumPipelines === 2)
    assert(intercept[IllegalArgumentException] {
      svc.createSource("my-index",
        """{"source_id": "kafka-source", "source_type": "kafka", "params": {}}""")
    }.getMessage === "source `my-index/kafka-source` already exist(s)")

    // toggle: mutation bool; managed sources refuse; unknown → NotFound
    assert(svc.toggleSource("my-index", "kafka-source", enable = false) === true)
    assert(svc.listSources("my-index").find(_.sourceId == "kafka-source").exists(!_.enabled))
    assert(svc.toggleSource("my-index", "kafka-source", enable = false) === false) // no-op
    assert(intercept[IllegalArgumentException] {
      svc.toggleSource("my-index", "_ingest-api-source", enable = false)
    }.getMessage === "source `_ingest-api-source` is managed by Quickwit, you cannot " +
      "enable or disable a source managed by Quickwit")
    assert(intercept[IllegalArgumentException] {
      svc.toggleSource("my-index", "nope-source", enable = true)
    }.getMessage === "source `my-index/nope-source` do(es) not exist")

    // checkpoint reset: ingest through the kafka source id, then reset
    ingest(svc, "my-index", n = 10, sourceId = "kafka-source")
    val store = new Manifest.Store(svc.indexDir("my-index"))
    assert(store.currentSnapshot().get.checkpoint.contains("kafka-source"))
    assert(svc.resetSourceCheckpoint("my-index", "kafka-source") === true)
    assert(!store.currentSnapshot().get.checkpoint.contains("kafka-source"))
    assert(svc.resetSourceCheckpoint("my-index", "kafka-source") === false) // already gone
    // the docs themselves stay — only the checkpoint resets (clear_index
    // is the one that drops splits)
    assert(store.currentSnapshot().get.splits.nonEmpty)

    // delete: removes the source AND its checkpoint; managed ones refuse
    ingest(svc, "my-index", n = 5, sourceId = "kafka-source")
    assert(store.currentSnapshot().get.checkpoint.contains("kafka-source"))
    svc.deleteSource("my-index", "kafka-source")
    assert(!svc.listSources("my-index").exists(_.sourceId == "kafka-source"))
    assert(!store.currentSnapshot().get.checkpoint.contains("kafka-source"))
    assert(intercept[IllegalArgumentException] {
      svc.deleteSource("my-index", "kafka-source")
    }.getMessage === "source `my-index/kafka-source` do(es) not exist")
    assert(intercept[IllegalArgumentException] {
      svc.deleteSource("my-index", "_ingest-cli-source")
    }.getMessage === "source `_ingest-cli-source` is managed by Quickwit, you cannot " +
      "delete a source managed by Quickwit")
  }

  test("source management: concurrent createSource calls of distinct ids all land") {
    val svc = new IndexService(tmpDir("idx-src-race"), spark)
    val threads = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      (1 to 5).foreach { round =>
        val id = s"race-index-$round"
        svc.createIndex(ValidConfig.replace("my-index", id))
        val start = new java.util.concurrent.CountDownLatch(1)
        val calls = (0 until threads).map { i =>
          pool.submit(() => {
            start.await()
            svc.createSource(id,
              s"""{"source_id": "void-$i", "source_type": "void", "params": {}}""")
          })
        }
        start.countDown()
        val failures = calls.flatMap(c => scala.util.Try(c.get()).failed.toOption)
        assert(failures.isEmpty, s"round $round: ${failures.map(_.getCause)}")
        val listed = svc.listSources(id).map(_.sourceId)
        assert(listed.toSet === (IndexService.DefaultSources ++ (0 until threads).map(i => s"void-$i")).toSet,
          s"round $round lost a source")
        assert(listed.size === IndexService.DefaultSources.size + threads)
      }
    } finally pool.shutdownNow()
  }

  test("source management: listSources writes nothing on an index without sources") {
    val svc = new IndexService(tmpDir("idx-src-read"), spark)
    svc.createIndex(ValidConfig)
    val path = java.nio.file.Paths.get(svc.indexDir("my-index"), "sources.json")
    assert(svc.listSources("my-index").map(_.sourceId) === IndexService.DefaultSources)
    assert(!java.nio.file.Files.exists(path))
    // the first mutation persists the defaults beside the new source
    svc.createSource("my-index", """{"source_id": "void-source", "source_type": "void", "params": {}}""")
    assert(java.nio.file.Files.exists(path))
    assert(svc.listSources("my-index").map(_.sourceId) ===
      IndexService.DefaultSources :+ "void-source")
  }

  test("create → ingest → describe → clear → re-ingest → delete") {
    val root = tmpDir("idx-svc")
    val svc = new IndexService(root, spark)
    val cfg = svc.createIndex(ValidConfig)
    assert(svc.exists("my-index") && svc.listIndexes() === Seq("my-index"))

    // re-create without overwrite is an error; with overwrite it resets
    val e = intercept[IllegalArgumentException](svc.createIndex(ValidConfig))
    assert(e.getMessage === "index `my-index` already exists")

    ingest(svc, "my-index", n = 20)
    val described = svc.describe("my-index").collect()(0)
    assert(described.getAs[Long]("num_splits") === 2L)
    assert(described.getAs[Long]("num_docs") > 0L)

    // clear: splits + files gone, index + config stay, checkpoint RESET
    val store = new Manifest.Store(svc.indexDir("my-index"))
    val filesBefore = store.currentSnapshot().get.splits.flatMap(_.files)
    val cleared = svc.clearIndex("my-index")
    assert(cleared.map(_.splitId).size === 2)
    assert(svc.exists("my-index"))
    assert(store.currentSnapshot().get.splits.isEmpty)
    assert(store.currentSnapshot().get.checkpoint.isEmpty) // reset_source_checkpoint
    assert(filesBefore.forall(f =>
      !java.nio.file.Files.exists(java.nio.file.Paths.get(f.replaceFirst("^file:", "")))))
    ingest(svc, "my-index", n = 5) // the SAME delta applies again post-reset

    // delete: dry run lists without deleting; real run removes everything
    val dry = svc.deleteIndex("my-index", dryRun = true)
    assert(dry.size === 2 && svc.exists("my-index"))
    val gone = svc.deleteIndex("my-index")
    assert(gone.size === 2)
    assert(!svc.exists("my-index") && svc.listIndexes().isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(svc.indexDir("my-index"))))
    intercept[IllegalArgumentException](svc.describe("my-index"))

    // overwrite path: create over a fresh index with data
    svc.createIndex(ValidConfig)
    ingest(svc, "my-index", n = 5)
    svc.createIndex(ValidConfig, overwrite = true)
    assert(new Manifest.Store(svc.indexDir("my-index")).currentSnapshot().isEmpty)
    assert(cfg.retention.nonEmpty)
  }
}
