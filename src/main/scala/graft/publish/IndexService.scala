package graft.publish

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Index-management CRUD arc — the lifecycle the reference's CLI drives
  * (quickwit-index-management/src/index.rs):
  *
  *  - create_index (index.rs:100-152): validate the FULL index config
  *    (quickwit-config/src/index_config/serialize.rs:83-117
  *    `validate_and_build`: identifier regex, retention policy + its
  *    timestamp-field requirement, doc-mapper build, merge-policy sanity),
  *    persist it, and register the three default sources the reference adds
  *    on every create (ingest-api, ingest v2, CLI — index.rs:126-147).
  *  - delete_index (index.rs:160-234): dry-run lists affected splits; the
  *    real run marks staged+published splits for deletion, deletes their
  *    files, then drops the index itself.
  *  - clear_index (index.rs:280-331): delete every split + files, reset all
  *    source checkpoints, but KEEP the index and its config.
  *  - describe: split statistics over the published metastore state
  *    (the CLI `index describe` surface, [[DescribeIndex]]).
  *
  * Spark-side shape: one directory per index under `rootDir`, each a
  * [[graft.sources.TranscriptTable]] (manifest CAS + split file groups) plus
  * the validated `index_config.json`. All operations are driver-side
  * metadata work of O(#splits) — file deletion is the only IO and is
  * per-split independent. Source mutations serialize on a per-index lock
  * that is a monitor inside one JVM; it does not cover two processes that
  * share a root.
  */
object IndexService {

  /** validate_identifier (quickwit-config/src/lib.rs:107-118). */
  private val IdentifierRegex = "^[a-zA-Z][a-zA-Z0-9-_\\.]{2,254}$".r

  def validateIdentifier(label: String, value: String): Unit =
    if (!IdentifierRegex.matches(value))
      throw new IllegalArgumentException(
        s"$label identifier `$value` is invalid. identifiers must match the following " +
          "regular expression: `^[a-zA-Z][a-zA-Z0-9-_\\.]{2,254}$`")

  /** humantime-style duration ("1 hour", "3 days", "2 weeks"…) → millis
    * (RetentionPolicy::retention_period, index_config/mod.rs:242-249). */
  def parseRetentionPeriod(s: String): Long = {
    val m = "^\\s*(\\d+)\\s*(second|minute|hour|day|week)s?\\s*$".r
    s.trim match {
      case m(n, unit) =>
        val mult = unit match {
          case "second" => 1000L
          case "minute" => 60L * 1000
          case "hour"   => 3600L * 1000
          case "day"    => 86400L * 1000
          case "week"   => 7L * 86400 * 1000
        }
        n.toLong * mult
      case _ => throw new IllegalArgumentException(
        s"failed to parse retention period `$s`")
    }
  }

  /** Evaluation schedule: `hourly`/`daily`/… get an `@` prepended
    * (prepend_at_char, index_config/mod.rs:283-293), `@shortcut` forms and
    * 5/6-field cron expressions are accepted. */
  def parseRetentionSchedule(s: String): String = {
    val t = s.trim
    val norm =
      if (t.nonEmpty && !t.startsWith("@") && t.forall(_.isLetter)) "@" + t else t
    val shortcuts = Set("@hourly", "@daily", "@weekly", "@monthly", "@yearly")
    val cronFields = norm.split("\\s+")
    val isCron = (cronFields.length == 5 || cronFields.length == 6) &&
      cronFields.forall(_.matches("[\\d*,/\\-]+"))
    if (shortcuts.contains(norm) || isCron) norm
    else throw new IllegalArgumentException(s"failed to parse retention schedule `$s`")
  }

  final case class RetentionPolicy(periodMillis: Long, schedule: String)

  /** The validated build product (IndexConfig, serialize.rs:108-116). */
  final case class IndexConfig(
      indexId: String,
      docMapping: graft.parse.MappingConfig.IndexDocMapping,
      retention: Option[RetentionPolicy],
      configJson: String,
      sources: Seq[String])

  /** One monitor per index directory (absolute, normalized), shared by every
    * service in this JVM: each read-modify-write of `sources.json` holds it. */
  private val sourceLocks = new ConcurrentHashMap[Path, AnyRef]()

  /** Default sources added on every create (index.rs:126-147). */
  val DefaultSources: Seq[String] = Seq("_ingest-api-source", "_ingest-source", "_ingest-cli-source")

  /** The two Quickwit-managed source ids the REST layer refuses to toggle
    * or delete (index_api/rest_handler.rs:762,813 — the ingest-v2
    * `_ingest-source` is deliberately NOT in the guard list there). */
  val ManagedSourceIds: Set[String] = Set("_ingest-api-source", "_ingest-cli-source")

  /** A per-index source entry (quickwit-config SourceConfig subset:
    * source_config/mod.rs:55-75 + serialize.rs validation). */
  final case class SourceConfig(sourceId: String, sourceType: String,
                                enabled: Boolean,
                                desiredNumPipelines: Int,
                                maxNumPipelinesPerIndexer: Int,
                                params: Map[String, Any])

  private val KnownSourceTypes = Set("file", "kafka", "kinesis", "pulsar",
    "gcp_pubsub", "ingest-api", "ingest-cli", "ingest", "vec", "void")

  /** SourceConfigForSerialization::validate_and_build
    * (source_config/serialize.rs:62-110): identifier check (reserved ids
    * exempt), strictly-positive pipeline counts, `file` requires a
    * filepath, multi-pipeline only for Kafka/GCP PubSub — each with the
    * reference's error. */
  def validateSourceConfig(json: String): SourceConfig = {
    val o = graft.util.Json.parse(json).asInstanceOf[Map[String, Any]]
    val sourceId = o.getOrElse("source_id",
      throw new IllegalArgumentException("source config is missing `source_id`"))
      .asInstanceOf[String]
    if (!DefaultSources.contains(sourceId)) validateIdentifier("Source ID", sourceId)
    val sourceType = o.getOrElse("source_type",
      throw new IllegalArgumentException("source config is missing `source_type`"))
      .asInstanceOf[String]
    if (!KnownSourceTypes.contains(sourceType))
      throw new IllegalArgumentException(s"unknown source type `$sourceType`")
    val desired = o.get("desired_num_pipelines").map(_.asInstanceOf[Double].toInt).getOrElse(1)
    if (desired <= 0)
      throw new IllegalArgumentException("`desired_num_pipelines` must be strictly positive")
    val maxPer = o.get("max_num_pipelines_per_indexer").map(_.asInstanceOf[Double].toInt).getOrElse(1)
    if (maxPer <= 0)
      throw new IllegalArgumentException("`max_num_pipelines_per_indexer` must be strictly positive")
    val params = o.get("params").map(_.asInstanceOf[Map[String, Any]]).getOrElse(Map.empty)
    if (sourceType == "file" && !params.contains("filepath"))
      throw new IllegalArgumentException(
        s"source `$sourceId` of type `file` must contain a filepath")
    if (!Set("kafka", "gcp_pubsub").contains(sourceType) && (desired > 1 || maxPer > 1))
      throw new IllegalArgumentException(
        "Quickwit currently supports multiple pipelines only for GCP PubSub or Kafka sources. " +
          "open an issue https://github.com/quickwit-oss/quickwit/issues if you need the " +
          "feature for other source types")
    SourceConfig(sourceId, sourceType,
      o.get("enabled").forall(_.asInstanceOf[Boolean]), desired, maxPer, params)
  }

  /** validate_and_build (serialize.rs:83-117): identifier → retention
    * (+ timestamp-field requirement) → doc-mapper build → merge policy. */
  def validateAndBuild(configJson: String): IndexConfig = {
    val obj = graft.util.Json.parse(configJson).asInstanceOf[Map[String, Any]]
    val indexId = obj.getOrElse("index_id",
      throw new IllegalArgumentException("index config is missing `index_id`"))
      .asInstanceOf[String]
    validateIdentifier("Index ID", indexId)

    val docMappingJson = obj.get("doc_mapping").map(graft.util.Json.render)
      .getOrElse(throw new IllegalArgumentException("index config is missing `doc_mapping`"))
    val searchSettings = obj.get("search_settings").map(_.asInstanceOf[Map[String, Any]])
      .getOrElse(Map.empty[String, Any])
    val defaultFields = searchSettings.get("default_search_fields")
      .map(_.asInstanceOf[Seq[Any]].map(_.asInstanceOf[String])).getOrElse(Nil)
    val compiled = graft.parse.MappingConfig.compileIndex(docMappingJson, defaultFields)

    val retention = obj.get("retention").map(_.asInstanceOf[Map[String, Any]]).map { r =>
      val period = parseRetentionPeriod(r.getOrElse("period",
        throw new IllegalArgumentException("retention policy is missing `period`"))
        .asInstanceOf[String])
      val schedule = parseRetentionSchedule(
        r.get("schedule").map(_.asInstanceOf[String]).getOrElse("hourly"))
      if (compiled.timestampField.isEmpty)
        throw new IllegalArgumentException(
          "failed to validate index config. the retention policy requires a timestamp " +
            "field, but the indexing settings do not declare one")
      RetentionPolicy(period, schedule)
    }

    obj.get("indexing_settings").map(_.asInstanceOf[Map[String, Any]])
      .flatMap(_.get("merge_policy")).map(_.asInstanceOf[Map[String, Any]]).foreach { mp =>
        val mf = mp.get("merge_factor").map(_.asInstanceOf[Double].toInt)
        val mmf = mp.get("max_merge_factor").map(_.asInstanceOf[Double].toInt)
        (mf, mmf) match {
          case (Some(a), Some(b)) if b < a =>
            throw new IllegalArgumentException(
              "index config merge policy `max_merge_factor` must be superior or equal " +
                "to `merge_factor`")
          case _ => ()
        }
      }

    IndexConfig(indexId, compiled, retention, configJson, DefaultSources)
  }
}

final class IndexService(rootDir: String, spark: SparkSession) {
  import IndexService._

  def indexDir(indexId: String): String = s"$rootDir/$indexId"
  private def configPath(indexId: String): Path =
    Paths.get(indexDir(indexId), "index_config.json")

  def exists(indexId: String): Boolean = Files.exists(configPath(indexId))

  def listIndexes(): Seq[String] = {
    val root = Paths.get(rootDir)
    if (!Files.isDirectory(root)) Nil
    else graft.util.Fs.list(root)
      .filter(p => Files.exists(p.resolve("index_config.json")))
      .map(_.getFileName.toString).sorted
  }

  // Memoized per index: TranscriptTable carries the leaf search cache, so a
  // fresh instance per call would silently defeat replayed-window hits.
  // Lookup and delete-time invalidation share one monitor — but the monitor
  // never covers file IO: deleteIndex marks the id as dying inside the
  // lock, deletes outside it, and unmarks when done, so a concurrent
  // table() on the dying id fails fast (the index is going away) instead
  // of re-caching an instance whose stale leaf cache a later re-creation
  // of the same id would serve, and lookups for UNRELATED indexes never
  // stall behind one index's file deletion.
  private val tables =
    scala.collection.mutable.Map.empty[String, graft.sources.TranscriptTable]
  private val dying = scala.collection.mutable.Set.empty[String]

  def table(indexId: String): graft.sources.TranscriptTable = tables.synchronized {
    // same not-found contract as every other operation (index.rs returns
    // IndexNotFound for unknown ids) — without it, ingest into a typo'd or
    // just-deleted id would silently mint a config-less index directory
    if (dying.contains(indexId) || !exists(indexId))
      throw new IllegalArgumentException(s"index not found: `$indexId`")
    tables.getOrElseUpdate(indexId,
      new graft.sources.TranscriptTable(indexDir(indexId), spark))
  }

  def loadConfig(indexId: String): IndexConfig = {
    if (!exists(indexId)) throw new IllegalArgumentException(s"index not found: `$indexId`")
    validateAndBuild(new String(Files.readAllBytes(configPath(indexId)), StandardCharsets.UTF_8))
  }

  /** create_index (index.rs:100-152). `overwrite` deletes an existing index
    * first (ignoring not-found); without it, re-creating is an error. */
  def createIndex(configJson: String, overwrite: Boolean = false): IndexConfig = {
    val cfg = validateAndBuild(configJson) // validate BEFORE touching state
    if (exists(cfg.indexId)) {
      if (!overwrite)
        throw new IllegalArgumentException(s"index `${cfg.indexId}` already exists")
      deleteIndex(cfg.indexId)
    }
    Files.createDirectories(Paths.get(indexDir(cfg.indexId)))
    Files.write(configPath(cfg.indexId), configJson.getBytes(StandardCharsets.UTF_8))
    cfg
  }

  /** One affected-split row: (split_id, num_docs, file). */
  final case class SplitInfo(splitId: String, numDocs: Long, files: Seq[String])

  private def splitInfos(indexId: String): Seq[SplitInfo] =
    new Manifest.Store(indexDir(indexId)).currentSnapshot()
      .map(_.splits.map(s => SplitInfo(s.splitId, s.numDocs, s.files)))
      .getOrElse(Nil)

  /** clear_index (index.rs:280-331): drop every split + its files and reset
    * every source checkpoint, keeping the index and config. The empty
    * snapshot commits through the same CAS as any publish. */
  def clearIndex(indexId: String): Seq[SplitInfo] = {
    if (!exists(indexId)) throw new IllegalArgumentException(s"index not found: `$indexId`")
    val store = new Manifest.Store(indexDir(indexId))
    val infos = splitInfos(indexId)
    store.currentSnapshot().foreach { snap =>
      store.commitSnapshot(Manifest.Snapshot(snap.snapshotId + 1, Nil, Map.empty))
        .left.foreach(e => throw new IllegalStateException(s"clear_index lost the commit race: $e"))
    }
    deleteFiles(infos)
    infos
  }

  /** delete_index (index.rs:160-234): dry-run returns the affected splits
    * without touching anything; the real run clears splits + files and then
    * removes the index directory (config included) — "rm -rf <index path>". */
  def deleteIndex(indexId: String, dryRun: Boolean = false): Seq[SplitInfo] = {
    if (!exists(indexId)) throw new IllegalArgumentException(s"index not found: `$indexId`")
    val infos = splitInfos(indexId)
    if (dryRun) return infos
    tables.synchronized { tables.remove(indexId); dying += indexId }
    try {
      deleteFiles(infos)
      // remove manifest snapshots, data dirs, config — bottom-up walk
      def rm(p: Path): Unit = {
        if (Files.isDirectory(p)) graft.util.Fs.list(p).foreach(rm)
        Files.deleteIfExists(p)
      }
      rm(Paths.get(indexDir(indexId)))
    } finally tables.synchronized { dying -= indexId }
    infos
  }

  // ---- source management ---------------------------------------------------
  // create/toggle/delete/reset-checkpoint over per-index source configs
  // (index_api/rest_handler.rs:700-830; metastore arms
  // index_metadata/mod.rs:103-139; validation source_config/serialize.rs).

  private def sourcesPath(indexId: String): Path =
    Paths.get(indexDir(indexId), "sources.json")

  /** Runs `f` holding the index's source lock: a read-modify-write of
    * `sources.json` under it cannot lose a concurrent writer's change made
    * in this JVM. The lock is a monitor inside one JVM: two processes that
    * share a root do not exclude each other, and one can lose the other's
    * change. */
  private def withSourcesLock[T](indexId: String)(f: => T): T =
    sourceLocks.computeIfAbsent(Paths.get(indexDir(indexId)).toAbsolutePath.normalize,
      _ => new Object).synchronized(f)

  /** Writes the source list to a temp file and moves it over `sources.json`,
    * so a reader sees the old list or the new one, never a truncated file. */
  private def writeSources(indexId: String, ss: Seq[SourceConfig]): Unit = {
    val json = graft.util.Json.render(ss.map(s => Map(
      "source_id" -> s.sourceId, "source_type" -> s.sourceType,
      "enabled" -> s.enabled,
      "desired_num_pipelines" -> s.desiredNumPipelines.toDouble,
      "max_num_pipelines_per_indexer" -> s.maxNumPipelinesPerIndexer.toDouble,
      "params" -> s.params)))
    val dst = sourcesPath(indexId)
    val tmp = Files.createTempFile(dst.getParent, ".sources-", ".tmp")
    try {
      Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  /** The index's sources. An index that never stored a list has the three
    * Quickwit-managed defaults (index.rs:126-147 registers them at create);
    * they are returned, not written — the first mutation persists them. */
  def listSources(indexId: String): Seq[SourceConfig] = {
    if (!exists(indexId)) throw new IllegalArgumentException(s"index not found: `$indexId`")
    if (!Files.exists(sourcesPath(indexId))) {
      val typeOf = Map("_ingest-api-source" -> "ingest-api",
        "_ingest-source" -> "ingest", "_ingest-cli-source" -> "ingest-cli")
      DefaultSources.map(id =>
        SourceConfig(id, typeOf(id), enabled = true, 1, 1, Map.empty))
    } else graft.util.Json.parse(
      new String(Files.readAllBytes(sourcesPath(indexId)), StandardCharsets.UTF_8))
      .asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[String, Any]]).map { m =>
        SourceConfig(m("source_id").asInstanceOf[String],
          m("source_type").asInstanceOf[String],
          m("enabled").asInstanceOf[Boolean],
          m("desired_num_pipelines").asInstanceOf[Double].toInt,
          m("max_num_pipelines_per_indexer").asInstanceOf[Double].toInt,
          m("params").asInstanceOf[Map[String, Any]])
      }
  }

  /** create_source (index.rs:333-365): the EXTRA identifier check runs
    * WITHOUT the reserved exemption — a user can never create `_`-prefixed
    * ids ("invalid source ID"); duplicates answer the metastore's
    * AlreadyExists ("already exist(s)", index_metadata/mod.rs:103-115). */
  def createSource(indexId: String, sourceConfigJson: String): SourceConfig = {
    val cfg = validateSourceConfig(sourceConfigJson)
    try validateIdentifier("Source ID", cfg.sourceId)
    catch { case _: IllegalArgumentException =>
      throw new IllegalArgumentException(s"invalid source ID: `${cfg.sourceId}`")
    }
    withSourcesLock(indexId) {
      val existing = listSources(indexId)
      if (existing.exists(_.sourceId == cfg.sourceId))
        throw new IllegalArgumentException(
          s"source `$indexId/${cfg.sourceId}` already exist(s)")
      writeSources(indexId, existing :+ cfg)
    }
    cfg
  }

  /** toggle_source (rest_handler.rs:749-775): Quickwit-managed sources
    * refuse with OperationNotAllowed; unknown ids answer NotFound; returns
    * whether a mutation occurred (enabled actually changed). */
  def toggleSource(indexId: String, sourceId: String, enable: Boolean): Boolean = {
    if (ManagedSourceIds.contains(sourceId))
      throw new IllegalArgumentException(
        s"source `$sourceId` is managed by Quickwit, you cannot enable or disable a source " +
          "managed by Quickwit")
    withSourcesLock(indexId) {
      val existing = listSources(indexId)
      val src = existing.find(_.sourceId == sourceId).getOrElse(
        throw new IllegalArgumentException(s"source `$indexId/$sourceId` do(es) not exist"))
      val mutated = src.enabled != enable
      if (mutated)
        writeSources(indexId, existing.map(s =>
          if (s.sourceId == sourceId) s.copy(enabled = enable) else s))
      mutated
    }
  }

  /** delete_source (rest_handler.rs:777-826 + index_metadata delete_source):
    * managed sources refuse; the source's checkpoint entry is removed with
    * it (checkpoint.remove_source). */
  def deleteSource(indexId: String, sourceId: String): Unit = {
    if (ManagedSourceIds.contains(sourceId))
      throw new IllegalArgumentException(
        s"source `$sourceId` is managed by Quickwit, you cannot delete a source managed by " +
          "Quickwit")
    withSourcesLock(indexId) {
      val existing = listSources(indexId)
      if (!existing.exists(_.sourceId == sourceId))
        throw new IllegalArgumentException(s"source `$indexId/$sourceId` do(es) not exist")
      // checkpoint FIRST, source list second: if the write never happens
      // (crash), a listed source with a reset checkpoint is a valid state —
      // the reverse order could leave a DELETED source whose checkpoint
      // survives (the reference removes both in one metastore mutation)
      resetSourceCheckpoint(indexId, sourceId)
      writeSources(indexId, existing.filterNot(_.sourceId == sourceId))
    }
  }

  /** reset_source_checkpoint (file_backed_index/mod.rs:491-493): drop the
    * source's checkpoint entry from the manifest — the next ingest from
    * that source starts from the beginning; no error for an unknown id
    * (reset_source returns a mutation bool). Commits through the same CAS
    * as any publish; a lost race RETRIES against the fresh snapshot (the
    * removal is key-local, so it composes with any concurrent publish). It
    * holds the source lock, so it never interleaves with a [[deleteSource]]. */
  def resetSourceCheckpoint(indexId: String, sourceId: String): Boolean =
    withSourcesLock(indexId)(resetCheckpoint(indexId, sourceId))

  private def resetCheckpoint(indexId: String, sourceId: String): Boolean = {
    if (!exists(indexId)) throw new IllegalArgumentException(s"index not found: `$indexId`")
    val store = new Manifest.Store(indexDir(indexId))
    val MaxRetries = 16
    var attempt = 0
    while (true) {
      store.currentSnapshot() match {
        case Some(snap) if snap.checkpoint.contains(sourceId) =>
          store.commitSnapshot(
            Manifest.Snapshot(snap.snapshotId + 1, snap.splits, snap.checkpoint - sourceId)) match {
            case Right(_) => return true
            case Left(e) =>
              attempt += 1
              if (attempt >= MaxRetries)
                throw new IllegalStateException(
                  s"reset_source_checkpoint kept losing the commit race: $e")
          }
        case _ => return false
      }
    }
    false // unreachable
  }

  /** CLI `index describe` over the current published splits. */
  def describe(indexId: String): org.apache.spark.sql.DataFrame = {
    if (!exists(indexId)) throw new IllegalArgumentException(s"index not found: `$indexId`")
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = new Manifest.Store(indexDir(indexId)).currentSnapshot()
      .map(_.splits.map(s =>
        (s.splitId, s.numDocs, s.uncompressedBytes, s.timeRangeStartMicros, s.timeRangeEndMicros)))
      .getOrElse(Nil)
    DescribeIndex.stats(
      rows.toDF("split_id", "num_docs", "bytes", "ts_start", "ts_end"),
      col("num_docs"), col("bytes"), col("ts_start"), col("ts_end"))
  }

  private def deleteFiles(infos: Seq[SplitInfo]): Unit =
    infos.flatMap(_.files).foreach { f =>
      Files.deleteIfExists(Paths.get(f.replaceFirst("^file:", "")))
    }
}
