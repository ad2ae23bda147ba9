package graft.pipeline

import scala.jdk.CollectionConverters._

/** Schema-directed config typing — the Scala rendering of the reference's
  * `cast` layer (pkg/cast/schema.go:18-73 declares the expected type per
  * key in a trie; mapper.go:107-140 converts each supplied value or gives
  * up with the key's expected type). Each module declares key -> type;
  * [[ParamSchema.validate]] converts every supplied param to its declared
  * type at CONFIG LOAD time, so a wrongly-typed value (`rps: "fast"`)
  * fails with the actor, key and expected type in the message instead of
  * a bare NumberFormatException at actor-construction time.
  *
  * Because env/cli providers keep RAW strings (like the reference's
  * providers), this layer is also what decides when a string becomes a
  * number: a string-typed param that happens to look numeric ("010",
  * "1.10", "2e5") stays a string.
  */
sealed abstract class ParamType(val label: String) {
  /** converted value, or None when `v` is not renderable as this type */
  def cast(v: Any): Option[Any]
}

object ParamType {
  case object PString extends ParamType("string") {
    def cast(v: Any): Option[Any] = v match {
      case s: String => Some(s)
      case n: java.lang.Number => Some(n.toString)
      case b: java.lang.Boolean => Some(b.toString)
      case _ => None
    }
  }
  case object PLong extends ParamType("int") {
    def cast(v: Any): Option[Any] = v match {
      case i: java.lang.Integer => Some(i.longValue)
      case l: java.lang.Long => Some(l.longValue)
      case s: java.lang.Short => Some(s.longValue)
      case b: java.lang.Byte => Some(b.longValue)
      case b: java.math.BigInteger if b.bitLength < 64 => Some(b.longValue)
      case s: String => s.trim.toLongOption
      case _ => None
    }
  }
  case object PDouble extends ParamType("float") {
    def cast(v: Any): Option[Any] = v match {
      case n: java.lang.Number => Some(n.doubleValue)
      case s: String => s.trim.toDoubleOption
      case _ => None
    }
  }
  case object PBool extends ParamType("bool") {
    def cast(v: Any): Option[Any] = v match {
      case b: java.lang.Boolean => Some(b.booleanValue)
      case s: String if s.equalsIgnoreCase("true") => Some(true)
      case s: String if s.equalsIgnoreCase("false") => Some(false)
      case _ => None
    }
  }
  /** list of strings; a plain string splits on commas — the env/cli
    * rendering of a YAML sequence. */
  case object PStringList extends ParamType("list<string>") {
    def cast(v: Any): Option[Any] = v match {
      case l: java.util.List[_] => Some(l.asScala.map(_.toString).toSeq)
      case sq: Seq[_] => Some(sq.map(_.toString))
      case s: String => Some(s.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case _ => None
    }
  }
}

object ParamSchema {
  import ParamType._

  /** Module param schemas — key NAME validation (a typo'd `treshold`
    * fails loudly) plus the declared type per key. `plugin:<fqcn>`
    * modules take arbitrary params and are exempt. */
  val Modules: Map[String, Map[String, ParamType]] = Map(
    "core.receiver" -> Map("path" -> PString, "format" -> PString,
      // comma-separated column list, split by the receiver itself
      "ts_nanos_to_micros" -> PString,
      "schema_from" -> PString, // streaming schema inference (Flowd --stream)
      "dedup_digest" -> PBool, // warc: drop repeated payload digests
      // warc: persisted digest index — the snapshot dedups against ALL
      // prior snapshots' digests (Warc.dedupByDigestIndexed), not just
      // within itself; subsumes dedup_digest
      "digest_index_path" -> PString,
      // network transport by URI scheme (receiver_factory.go:10-37):
      // tcp://[host]:port, udp://[host]:port, unix:///path,
      // http://[host]:port[/endpoint]; port 0 = ephemeral
      "bind" -> PString,
      "channel" -> PString, // push channel fed (default: actor name)
      "silent" -> PBool, // tcp: suppress per-record OK/THROTTLED replies
      "capacity" -> PLong, // channel buffer bound (default 65,536)
      "journal_dir" -> PString), // durable replayable channel journal
    "core.push_receiver" -> Map("channel" -> PString,
      "maxMsgsPerTrigger" -> PLong, "journal_dir" -> PString),
    "core.mux" -> Map.empty[String, ParamType],
    "core.router" -> Map("key" -> PString, "routes" -> PStringList,
      "dead_letter" -> PString),
    "core.replicator" -> Map("mode" -> PString,
      // ncopy mode: n jump-hash replicas over `buckets` peers keyed by
      // the `key` column (buckets defaults to the downstream count)
      "key" -> PString, "n" -> PLong, "buckets" -> PLong),
    "core.throttler" -> Map("algo" -> PString, "key" -> PString,
      "ts" -> PString, "rps" -> PDouble, "quota" -> PLong,
      "window" -> PString),
    "core.compressor" -> Map("codec" -> PString, "level" -> PLong,
      "column" -> PString),
    "core.decompressor" -> Map("codec" -> PString, "column" -> PString),
    "core.encoder_base64" -> Map("column" -> PString),
    "core.decoder_base64" -> Map("column" -> PString),
    "core.meta_parser" -> Map("column" -> PString, "meta" -> PString),
    "core.topk" -> Map("keys" -> PStringList, "order" -> PStringList,
      "k" -> PLong, "rank_name" -> PString),
    "core.upsert" -> Map("base" -> PString, "keys" -> PStringList,
      "version" -> PString, "delete_flag" -> PString),
    "llm.extract" -> Map("column" -> PString, "text_column" -> PString,
      "min_line_chars" -> PLong, "full_entities" -> PBool,
      "drop_noindex" -> PBool),
    "llm.main_content" -> Map("column" -> PString,
      "text_column" -> PString, "id" -> PString, "min_chars" -> PLong,
      "max_link_density_pm" -> PLong),
    "llm.gopher_filter" -> Map("column" -> PString,
      "annotate_only" -> PBool),
    "llm.c4_filter" -> Map("column" -> PString, "min_lines" -> PLong,
      "annotate_only" -> PBool),
    "llm.url_normalize" -> Map("column" -> PString,
      "out_column" -> PString, "dedup" -> PBool, "id" -> PString),
    "llm.dedup_paragraph" -> Map("column" -> PString, "id" -> PString,
      "separator" -> PString),
    "llm.quality_filter" -> Map("column" -> PString,
      "min_quality" -> PDouble, "score_column" -> PString),
    "llm.url_filter" -> Map("url_column" -> PString,
      "blocklist" -> PString, // comma-separated domains/hosts
      "blocklist_path" -> PString, "keywords" -> PString,
      "annotate_only" -> PBool, "host_column" -> PString,
      "domain_column" -> PString, "reason_column" -> PString),
    "llm.badwords_filter" -> Map("column" -> PString,
      "words" -> PString, // comma-separated word list
      "count_column" -> PString, "max_count" -> PLong,
      "annotate_only" -> PBool),
    "llm.curation_scorecard" -> Map("column" -> PString, "id" -> PString,
      "c4_min_lines" -> PLong, "clf_min_score" -> PLong,
      "lm_min_score_ppm" -> PLong, "annotate_only" -> PBool),
    "llm.langid" -> Map("column" -> PString, "lang_column" -> PString,
      "keep" -> PString, // comma-separated allowlist
      // classifier upgrade: labeled sample -> one-vs-rest hashed BoW;
      // model_path persists (with labeled_path) or loads (without)
      "labeled_path" -> PString, "labeled_text_column" -> PString,
      "label_column" -> PString, "labeled_id_column" -> PString,
      "buckets" -> PLong, "train_iters" -> PLong, "lr_ppm" -> PLong,
      "model_path" -> PString,
      // confidence gate: margin = best − second-best model score
      "margin_column" -> PString, "min_margin" -> PLong),
    "llm.bpe_encode" -> Map("column" -> PString, "num_merges" -> PLong,
      "merges_path" -> PString, "pieces_column" -> PString,
      "count_column" -> PString),
    "llm.unigram_encode" -> Map("column" -> PString, "em_iters" -> PLong,
      "vocab_path" -> PString, "pieces_column" -> PString,
      "count_column" -> PString, "id" -> PString),
    "llm.weighted_sample" -> Map("id" -> PString, "weight_column" -> PString,
      "k" -> PLong, "group" -> PString, "seed" -> PString),
    "llm.classifier" -> Map("column" -> PString, "buckets" -> PLong,
      "score_column" -> PString, "min_score" -> PLong,
      "label_column" -> PString, "id" -> PString,
      "train_iters" -> PLong, "lr_ppm" -> PLong,
      "model_path" -> PString),
    "llm.lm_score" -> Map("column" -> PString, "id" -> PString,
      "model_path" -> PString, "score_column" -> PString,
      "min_score_ppm" -> PLong, "tier_cutoffs_ppm" -> PString,
      "tier_column" -> PString, "keep_tiers" -> PString,
      "per_lang" -> PString),
    "llm.cut_dup_spans" -> Map("column" -> PString, "id" -> PString,
      "window" -> PLong),
    "llm.decontaminate_cut" -> Map("column" -> PString, "id" -> PString,
      "source_column" -> PString, "eval_value" -> PString,
      "window" -> PLong),
    "llm.dedup_exact" -> Map("column" -> PString, "id" -> PString),
    "llm.repetition_filter" -> Map("column" -> PString,
      "max_dup_ppm" -> PLong),
    "llm.dedup_near" -> Map("column" -> PString, "id" -> PString,
      "shingle_n" -> PLong, "threshold" -> PDouble,
      "distributed" -> PBool, "emit" -> PString,
      "collapse_exact" -> PBool),
    "llm.decontaminate" -> Map("column" -> PString, "id" -> PString,
      "source_column" -> PString, "eval_value" -> PString,
      "ngram_n" -> PLong, "min_shared" -> PLong, "bloom" -> PBool),
    "core.sink" -> Map("format" -> PString, "path" -> PString,
      "mode" -> PString, "partition_by" -> PStringList, "rows" -> PLong,
      // daemon-restart resume: pins the checkpoint of the pipeline's one
      // query (sinks naming different ones are refused); startStreaming
      // only, runStreamingOnce starts from a fresh checkpoint every run
      "checkpoint" -> PString,
      // sink transport by URI scheme (sink_head_factory.go:17-46):
      // tcp://host:port, udp://host:port, unix:///path, file://STDOUT
      // (console) or file:///path (raw column text)
      "bind" -> PString,
      "column" -> PString, // column written by a bind sink (default body)
      // daemon-path retry policy (sink.go:80-110 / buffer.go:33-93):
      // in-batch exponential backoff, dead-letter on exhaustion
      "max_attempts" -> PLong, "min_backoff_ms" -> PLong,
      "max_backoff_ms" -> PLong))

  /** Validate every actor's params against its module schema and return
    * the config with each value CONVERTED to its declared type. Unknown
    * keys and unconvertible values both fail here — config-load time —
    * with the module, key and expected type named. */
  def validate(cfg: PipelineConfig): PipelineConfig = {
    val actors = cfg.actors.map { case (name, a) =>
      Modules.get(a.module) match {
        case None => name -> a // plugin:<fqcn>: arbitrary params
        case Some(schema) =>
          val unknown = a.params.keySet -- schema.keySet
          require(unknown.isEmpty,
            s"${a.name}: unknown param(s) ${unknown.toSeq.sorted.mkString(", ")}" +
              s" for ${a.module} (known: ${schema.keys.toSeq.sorted.mkString(", ")})")
          val typed = a.params.map { case (k, v) =>
            val t = schema(k)
            k -> t.cast(v).getOrElse(throw new IllegalArgumentException(
              s"${a.name}.$k: expected ${t.label} for ${a.module}, " +
                s"got '$v' (${v.getClass.getSimpleName})"))
          }
          name -> a.copy(params = typed)
      }
    }
    // cross-field rules: misconfiguration must fail HERE, loudly — the
    // daemon sink path retries write failures with backoff and
    // dead-letters exhausted batches, which is the right discipline for
    // transient I/O but would repeat-and-swallow a config error forever
    actors.values.foreach { a =>
      // format rules apply only to format-dispatched sinks: the sink
      // dispatch (PipelineCompiler.writeSink) ignores `format` entirely
      // when `bind` is present, so a bind sink carrying a stray format
      // must still load — the param is never read
      if (a.module == "core.sink" && !a.params.contains("bind")) {
        a.params.get("format").foreach(f => require(
          Set("parquet", "json", "csv", "console", "memory", "noop",
            "wet")(f.toString),
          s"${a.name}: unknown sink format '$f'"))
        if (a.params.get("format").exists(f =>
            f == "parquet" || f == "json" || f == "csv" || f == "wet"))
          require(a.params.contains("path"),
            s"${a.name}: format '${a.params("format")}' sink needs a path")
      }
    }
    cfg.copy(actors = actors)
  }
}
