package graft.parse

import graft.util.Json

/** Index-config `doc_mapping` JSON → [[MappingTree.DocMapping]] compiler —
  * the reference's user-facing configuration surface
  * (quickwit-config index_config + quickwit-doc-mapper
  * field_mapping_entry.rs / field_mapping_type.rs), so an existing index
  * config's `doc_mapping` section drives this engine's mapper unchanged.
  *
  * Reference semantics mirrored (error strings verbatim where the reference
  * defines them):
  *  - type ids: `text|i64|u64|f64|bool|ip|datetime|bytes|json|object` plus
  *    the `array<T>` wrapper (field_mapping_type.rs:96-121); unknown →
  *    "field `N` has an unknown type: `T`" (field_mapping_entry.rs:703-707);
  *  - field-name validation (default_doc_mapper/mod.rs:49-97): the
  *    `^[_\-a-zA-Z][_\.\-a-zA-Z0-9]{0,254}$` pattern, reserved names
  *    `_source`/`_dynamic`/`_field_presence`, empty / leading-dot /
  *    over-255 errors;
  *  - object entries carry nested `field_mappings` and must be non-empty
  *    ("object type must have at least one field mapping",
  *    field_mapping_entry.rs:646-649);
  *  - `fast` is rejected on `array<bytes>` (field_mapping_entry.rs:684-687);
  *  - numeric `coerce` defaults TRUE (QuickwitNumericOptions,
  *    field_mapping_entry.rs:99-110); datetime `input_formats` default
  *    `[rfc3339, unix_timestamp]` (QuickwitDateTimeOptions);
  *  - `mode` defaults to DYNAMIC (default_mapper_builder.rs:134-138).
  */
object MappingConfig {
  import MappingTree._

  private val ReservedNames = Seq("_source", "_dynamic", "_field_presence")
  private val NamePattern = "^[_\\-a-zA-Z][_.\\-a-zA-Z0-9]{0,254}$".r

  /** Parse the `doc_mapping` JSON object of an index config. */
  def fromJson(json: String): DocMapping = {
    val root = Json.parse(json).asInstanceOf[Map[String, Any]]
    val mode = root.getOrElse("mode", "dynamic") match {
      case "lenient" => Lenient
      case "strict"  => Strict
      case "dynamic" => Dynamic
      case other     => fail(s"unknown mode `$other`")
    }
    val mappings = root.getOrElse("field_mappings", Seq.empty)
      .asInstanceOf[Seq[Any]]
      .map(e => entry(e.asInstanceOf[Map[String, Any]]))
    DocMapping(mappings, mode,
      storeSource = root.getOrElse("store_source", false).asInstanceOf[Boolean],
      // dynamic_mapping.indexed: false ⇒ captured fields stored but not
      // searchable (default_search_fields scenario 0002 failing3)
      dynamicIndexed = root.get("dynamic_mapping")
        .map(_.asInstanceOf[Map[String, Any]]
          .getOrElse("indexed", true).asInstanceOf[Boolean])
        .getOrElse(true))
  }

  private def entry(o: Map[String, Any]): Mapping = {
    val name = o.getOrElse("name", fail("field name is empty")).asInstanceOf[String]
    validateName(name)
    val typeId = o.getOrElse("type", fail(s"field `$name` has no type"))
      .asInstanceOf[String]
    val (baseType, multi) =
      if (typeId.startsWith("array<") && typeId.endsWith(">"))
        (typeId.substring(6, typeId.length - 1), true)
      else (typeId, false)
    if (baseType == "object") {
      if (multi) fail(s"field `$name` has an unknown type: `$typeId`")
      val children = o.getOrElse("field_mappings", Seq.empty).asInstanceOf[Seq[Any]]
        .map(e => entry(e.asInstanceOf[Map[String, Any]]))
      if (children.isEmpty)
        fail("object type must have at least one field mapping")
      Node(name, children)
    } else {
      val typ: LeafType = baseType match {
        case "text"  => TText
        case "i64"   => TI64
        case "u64"   => TU64
        case "f64"   => TF64
        case "bool"  => TBool
        case "ip"    => TIpAddr
        case "bytes" =>
          def fmt(key: String): Boolean = o.get(key) match {
            case None | Some("base64") => false
            case Some("hex")           => true
            case Some(other) => fail(s"field `$name` has an unknown binary format: `$other`")
          }
          TBytes(hexInput = fmt("input_format"), hexOutput = fmt("output_format"))
        case "json"  => TJson
        case "datetime" =>
          TDateTime(o.get("input_formats")
            .map(_.asInstanceOf[Seq[Any]].map(_.asInstanceOf[String]))
            .getOrElse(Seq("rfc3339", "unix_timestamp")))
        case _ => fail(s"field `$name` has an unknown type: `$typeId`")
      }
      val fast = o.getOrElse("fast", false) == true
      if (typ.isInstanceOf[TBytes] && multi && fast)
        fail("fast field is not allowed for array<bytes>")
      Leaf(name, typ, multi = multi,
        coerce = o.getOrElse("coerce", true).asInstanceOf[Boolean],
        fast = fast,
        indexed = o.getOrElse("indexed", true).asInstanceOf[Boolean],
        tokenizer = o.get("tokenizer").map(_.asInstanceOf[String]))
    }
  }

  private def validateName(name: String): Unit = {
    if (ReservedNames.contains(name))
      fail(s"field name `$name` is reserved. the following fields are " +
        s"reserved for Quickwit internal usage: ${ReservedNames.mkString(", ")}")
    if (NamePattern.matches(name)) return
    if (name.isEmpty) fail("field name is empty")
    if (name.startsWith("."))
      fail(s"field name `$name` must not start with a dot `.`")
    if (name.length > 255)
      fail(s"field name `$name` is too long. field names must not be longer " +
        "than 255 characters")
    val c = name.head
    if (!((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')))
      fail(s"field name `$name` is invalid. field names must start with an " +
        "uppercase or lowercase ASCII letter, or an underscore `_`")
    fail(s"field name `$name` contains illegal characters. field names must " +
      "only contain uppercase and lowercase ASCII letters, digits, hyphens " +
      "`-`, periods `.`, and underscores `_`")
  }

  // ---- custom tokenizer entries (doc_mapping.tokenizers) -----------------
  /** Parse the `tokenizers` array of a doc_mapping config into registry
    * entries — the flat serde format of tokenizer_entry.rs:29-149 (`name` +
    * internally-tagged `type` + type-specific options + `filters`), with
    * `deny_unknown_fields` on the per-type options. */
  def tokenizersFromJson(json: String): Seq[graft.functions.TokenizerRegistry.TokenizerEntry] = {
    import graft.functions.TokenizerRegistry._
    val root = Json.parse(json).asInstanceOf[Map[String, Any]]
    root.getOrElse("tokenizers", Seq.empty).asInstanceOf[Seq[Any]].map { e =>
      val o = e.asInstanceOf[Map[String, Any]]
      val name = o("name").asInstanceOf[String]
      val known = Set("name", "type", "filters")
      def denyUnknown(allowed: Set[String]): Unit =
        o.keys.find(k => !known(k) && !allowed(k)).foreach(k =>
          fail(s"unknown field `$k`"))
      val typ = o.getOrElse("type", fail(s"missing field `type`")) match {
        case "simple"      => denyUnknown(Set.empty); Simple
        case "source_code" => denyUnknown(Set.empty); SourceCode
        case "multilang"   => denyUnknown(Set.empty); Multilang
        case "ngram" =>
          denyUnknown(Set("min_gram", "max_gram", "prefix_only"))
          Ngram(o("min_gram").asInstanceOf[Double].toInt,
            o("max_gram").asInstanceOf[Double].toInt,
            o.getOrElse("prefix_only", false).asInstanceOf[Boolean])
        case "regex" =>
          denyUnknown(Set("pattern"))
          Regex(o("pattern").asInstanceOf[String])
        case other => fail(s"unknown variant `$other`, expected one of " +
          "`ngram`, `regex`, `simple`, `source_code`, `multilang`")
      }
      val filters = o.getOrElse("filters", Seq.empty).asInstanceOf[Seq[Any]].map {
        case "remove_long"   => RemoveLong
        case "lower_caser"   => LowerCaser
        case "ascii_folding" => AsciiFolding
        case other => fail(s"unknown variant `$other`, expected one of " +
          "`remove_long`, `lower_caser`, `ascii_folding`")
      }
      TokenizerEntry(name, TokenizerConfig(typ, filters))
    }
  }

  // ---- index-level doc mapper (DefaultDocMapper builder) -----------------

  /** The fully-validated index-level mapper — the Spark analog of
    * `DefaultDocMapper` (default_mapper.rs:143-273): the mapping tree plus
    * the config knobs that drive downstream stages (timestamp filters / tag
    * pruning / partition routing), cross-validated against the tree.
    * `tagFields` is sorted and already includes tag-eligible partition-key
    * fields (the reference's BTreeSet + promotion, default_mapper.rs:243-248). */
  final case class IndexDocMapping(
      mapping: MappingTree.DocMapping,
      timestampField: Option[String],
      tagFields: Seq[String],
      partitionKey: Option[graft.route.Routing.RoutingExpr],
      maxNumPartitions: Int,
      indexFieldPresence: Boolean,
      defaultSearchFields: Seq[String],
      tokenizers: graft.functions.TokenizerRegistry.Registry)

  private val BuiltinTokenizers = Set("raw", "lowercase", "default", "whitespace",
    "source_code_default", "en_stem", "chinese_compatible", "multilang")

  /** Split a dotted field path on UNESCAPED dots; `\.` inside a segment is a
    * literal dot (the inverse of [[MappingTree.fieldName]] escaping). */
  def splitPath(path: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    while (i < path.length) {
      val c = path.charAt(i)
      if (c == '\\' && i + 1 < path.length && path.charAt(i + 1) == '.') { cur += '.'; i += 2 }
      else if (c == '.') { out += cur.result(); cur.clear(); i += 1 }
      else { cur += c; i += 1 }
    }
    out += cur.result()
    out.result()
  }

  /** Resolve a (possibly escaped) dotted path to its mapping entry
    * (mapping_tree.rs:359-377 `find_field_mapping_type`). */
  def findMapping(mappings: Seq[MappingTree.Mapping], path: String): Option[MappingTree.Mapping] = {
    def walk(ms: Seq[MappingTree.Mapping], segs: Seq[String]): Option[MappingTree.Mapping] =
      segs match {
        case Seq(last) => ms.find(_.name == last)
        case head +: rest => ms.collectFirst {
          case n: MappingTree.Node if n.name == head => n
        }.flatMap(n => walk(n.children, rest))
        case _ => None
      }
    walk(mappings, splitPath(path))
  }

  /** Compile + cross-validate a full `doc_mapping` config (+ the index
    * config's `search_settings.default_search_fields`) into an
    * [[IndexDocMapping]]. Error strings mirror the reference's builder
    * (default_mapper.rs:115-140 timestamp, :275-320 tags, :164-210
    * tokenizers, :213-229 default search fields, :241-248 partition key). */
  def compileIndex(json: String, defaultSearchFields: Seq[String] = Nil): IndexDocMapping = {
    val mapping = fromJson(json)
    val root = Json.parse(json).asInstanceOf[Map[String, Any]]

    def leafOf(path: String): Option[MappingTree.Leaf] =
      findMapping(mapping.fieldMappings, path) match {
        case Some(l: MappingTree.Leaf) => Some(l)
        case _                         => None
      }
    def effectiveTokenizer(l: MappingTree.Leaf): String = l.tokenizer.getOrElse("default")

    // -- timestamp field (validate_timestamp_field) --
    val timestampField = root.get("timestamp_field").map(_.asInstanceOf[String])
    timestampField.foreach { tf =>
      if (tf.startsWith(".") || tf.startsWith("\\."))
        fail(s"timestamp field `$tf` should not start with a `.`")
      if (tf.endsWith("."))
        fail(s"timestamp field `$tf` should not end with a `.`")
      leafOf(tf) match {
        case None =>
          fail(s"could not find timestamp field `$tf` in field mappings")
        case Some(l) => l.typ match {
          case MappingTree.TDateTime(_) =>
            if (l.multi) fail(s"timestamp field `$tf` should be single-valued")
            if (!l.fast) fail(s"timestamp field `$tf` should be a fast field")
          case _ => fail(s"timestamp field `$tf` should be a datetime field")
        }
      }
    }

    // -- custom tokenizers: duplicates + builtin collisions, then registry --
    val tokenizerEntries = tokenizersFromJson(json)
    tokenizerEntries.groupBy(_.name).foreach { case (n, es) =>
      if (es.size > 1) fail(s"duplicated custom tokenizer: `$n`")
    }
    tokenizerEntries.foreach { e =>
      if (BuiltinTokenizers(e.name))
        fail(s"custom tokenizer name `${e.name}` should be different from " +
          "built-in tokenizer's names")
    }
    val registry = new graft.functions.TokenizerRegistry.Registry(tokenizerEntries)
    val knownTokenizers = BuiltinTokenizers ++ tokenizerEntries.map(_.name)

    // -- every indexed text leaf must reference a known tokenizer
    //    (validate_fields_tokenizers) --
    def walkLeaves(ms: Seq[MappingTree.Mapping], path: Seq[String]): Seq[(String, MappingTree.Leaf)] =
      ms.flatMap {
        case l: MappingTree.Leaf => Seq(MappingTree.fieldName(path :+ l.name) -> l)
        case n: MappingTree.Node => walkLeaves(n.children, path :+ n.name)
      }
    val allLeaves = walkLeaves(mapping.fieldMappings, Nil)
    allLeaves.foreach { case (name, l) =>
      if (l.typ == MappingTree.TText && l.indexed && !knownTokenizers(effectiveTokenizer(l)))
        fail(s"unknown tokenizer `${effectiveTokenizer(l)}` for field `$name`")
    }

    // -- default search fields (builder :213-229): duplicates, then the
    //    SINGLE resolution walk shared with search-time binding
    //    (MappingTree.resolveSearchField — config acceptance and runtime
    //    resolution can never disagree) --
    val seenSearch = scala.collection.mutable.Set.empty[String]
    defaultSearchFields.foreach { f =>
      if (!seenSearch.add(f)) fail(s"duplicated default search field: `$f`")
      try MappingTree.resolveSearchField(mapping, f)
      catch { case e: IllegalArgumentException => fail(e.getMessage) }
    }

    // -- tag fields (validate_tag) --
    def validateTag(tag: String): Either[String, Unit] = {
      if (tag.startsWith(".") || tag.startsWith("\\."))
        return Left(s"tag field `$tag` should not start with a `.`")
      if (tag.endsWith("."))
        return Left(s"tag field `$tag` should not end with a `.`")
      leafOf(tag) match {
        case None => Left(s"unknown tag field: `$tag`")
        case Some(l) => l.typ match {
          case MappingTree.TText =>
            // an unindexed text field has no tokenizer at all — same error
            // the reference produces (tokenizer_opt = None != Some(raw))
            if (l.indexed && effectiveTokenizer(l) == "raw") Right(())
            else Left("tags collection is only allowed on text fields with the `raw` tokenizer")
          case MappingTree.TU64 | MappingTree.TI64 =>
            if (l.indexed) Right(())
            else Left(s"tag fields are required to be indexed. (`$tag` is not configured as indexed)")
          case other =>
            val typeName = other match {
              case MappingTree.TF64         => "f64"
              case MappingTree.TBool        => "bool"
              case MappingTree.TBytes(_, _) => "bytes"
              case MappingTree.TDateTime(_) => "date"
              case MappingTree.TIpAddr      => "ipaddr"
              case MappingTree.TJson        => "jsonobject"
              case _                        => "unknown"
            }
            Left(s"tags collection is not allowed on `$typeName` fields")
        }
      }
    }
    val declaredTags = root.getOrElse("tag_fields", Seq.empty).asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[String])
    declaredTags.foreach(t => validateTag(t).left.foreach(fail))

    // -- partition key: parse, then promote its tag-eligible fields to tags --
    val partitionKey = root.get("partition_key").map(_.asInstanceOf[String]).filter(_.nonEmpty)
      .map { pk =>
        try graft.route.Routing.parse(pk)
        catch {
          case _: Exception =>
            fail(s"failed to interpret the partition key: `$pk`")
        }
      }
    val promoted = partitionKey.toSeq.flatMap(_.fieldNames).filter(f => validateTag(f).isRight)
    val tagFields = (declaredTags ++ promoted).distinct.sorted

    val maxNumPartitions = root.get("max_num_partitions")
      .map(_.asInstanceOf[Double].toInt)
      .getOrElse(graft.route.Routing.DefaultMaxPartitions)
    if (maxNumPartitions <= 0)
      fail(s"invalid value: integer `$maxNumPartitions`, expected a nonzero u32")

    IndexDocMapping(
      mapping = mapping,
      timestampField = timestampField,
      tagFields = tagFields,
      partitionKey = partitionKey,
      maxNumPartitions = maxNumPartitions,
      indexFieldPresence = root.getOrElse("index_field_presence", false).asInstanceOf[Boolean],
      defaultSearchFields = defaultSearchFields,
      tokenizers = registry)
  }

  /** End-to-end config-driven stage: parse per the mapping tree, then assign
    * `partition_id` per the config's partition key + cap — the
    * doc-processor → indexing-router composition a user's index config
    * describes. No partition key ⇒ no routing column (single-partition
    * index, like the reference's default). */
  def applyIndexConfig(df: org.apache.spark.sql.DataFrame,
                       jsonCol: org.apache.spark.sql.Column,
                       idx: IndexDocMapping): org.apache.spark.sql.DataFrame = {
    val parsed = MappingTree.parse(df, jsonCol, idx.mapping)
    idx.partitionKey match {
      case Some(expr) =>
        graft.route.Routing.withPartitionId(parsed, expr, idx.maxNumPartitions)
      case None => parsed
    }
  }

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)
}
