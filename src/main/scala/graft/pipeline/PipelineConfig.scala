package graft.pipeline

import scala.jdk.CollectionConverters._

/** Pipeline config model + YAML parser, mirroring the reference's config
  * shape (pkg/types/cfg.go:5-54; the examples directory's YAML files):
  *
  * {{{
  * system:
  *   maxprocs: 4
  * actors:
  *   src:   {module: core.receiver, params: {path: ".../events.parquet"}}
  *   route: {module: core.router,   params: {key: "event_type", routes: [a, b]}}
  *   out:   {module: core.sink,     params: {format: console}}
  * pipeline:
  *   src:   {connect: [route]}
  *   route: {connect: [out]}
  * }}}
  *
  * Parsing uses snakeyaml (on the Spark classpath); values are validated
  * at parse time, the Scala rendering of the reference's `cast` schema
  * layer (SURVEY §1.2 maps the cast/trie machinery to config-parse-time
  * typing).
  */
final case class ActorDef(name: String, module: String, params: Map[String, Any])
final case class PipelineConfig(system: Map[String, Any],
                                actors: Map[String, ActorDef],
                                edges: Map[String, Seq[String]]) {
  def downstream(name: String): Seq[String] = edges.getOrElse(name, Nil)
  def upstream(name: String): Seq[String] =
    edges.collect { case (from, tos) if tos.contains(name) => from }.toSeq
  def receivers: Seq[String] = actors.keys.filter(upstream(_).isEmpty).toSeq.sorted
  def sinks: Seq[String] = actors.keys.filter(downstream(_).isEmpty).toSeq.sorted
}

object PipelineConfig {

  def parse(yaml: String): PipelineConfig = {
    val root = new org.yaml.snakeyaml.Yaml()
      .load[java.util.Map[String, Any]](yaml)
    require(root != null, "empty pipeline config")
    fromNested(root.asScala.map { case (k, v) => k.toString -> (v: Any) }.toMap)
  }

  /** Build from a merged dotted-key map (the [[ConfigRepository]] output:
    * YAML + env + cli layered by weight) — re-nests and then runs the
    * same validation as [[parse]]. Key segments un-escape the literal-dot
    * sentinel [[ConfigRepository.escapeSegment]] applied at flatten time,
    * and a key that is simultaneously a scalar and a prefix of deeper
    * keys (a typo'd override like FLOW_SYSTEM_MAXPROCS_X under the scalar
    * system.maxprocs) fails loudly instead of silently shadowing either
    * side. */
  def fromFlat(flat: Map[String, Any]): PipelineConfig = {
    def nest(entries: Map[String, Any]): Map[String, Any] = {
      val (leaves, deeper) = entries.partition(!_._1.contains('.'))
      val nested = deeper.groupBy(_._1.takeWhile(_ != '.')).map { case (h, kvs) =>
        h -> nest(kvs.map { case (k, v) => k.drop(h.length + 1) -> v })
      }
      val conflicts = leaves.keySet.intersect(nested.keySet)
      require(conflicts.isEmpty,
        s"config key(s) ${conflicts.toSeq.sorted.mkString(", ")} set both as a " +
          "scalar and as a prefix of deeper keys — check for a typo'd override")
      (leaves ++ nested).map { case (k, v) =>
        ConfigRepository.unescapeSegment(k) -> v
      }
    }
    fromNested(nest(flat))
  }

  private def fromNested(m: Map[String, Any]): PipelineConfig = {
    def asMap(v: Any): Map[String, Any] = v match {
      case null => Map.empty
      case sm: Map[_, _] =>
        sm.map { case (k, value) => k.toString -> (value: Any) }.toMap
      case j: java.util.Map[_, _] =>
        j.asScala.map { case (k, value) => k.toString -> (value: Any) }.toMap
      case other => throw new IllegalArgumentException(s"expected mapping, got $other")
    }

    val system = asMap(m.getOrElse("system", null))
    val actorsRaw = asMap(m.getOrElse("actors", null))
    require(actorsRaw.nonEmpty, "config declares no actors")
    val actors = actorsRaw.map { case (name, v) =>
      val am = asMap(v)
      val module = am.getOrElse("module",
        throw new IllegalArgumentException(s"actor $name: missing module")).toString
      name -> ActorDef(name, module, asMap(am.getOrElse("params", null)))
    }

    val pipelineRaw = asMap(m.getOrElse("pipeline", null))
    val edges = pipelineRaw.map { case (from, v) =>
      val conn = asMap(v).getOrElse("connect", null) match {
        case null => Nil
        case l: java.util.List[_] => l.asScala.map(_.toString).toSeq
        case sq: Seq[_] => sq.map(_.toString)
        case s: String => Seq(s)
        case other => throw new IllegalArgumentException(s"$from.connect: $other")
      }
      from -> conn
    }

    // referential integrity (pipeline.go:120-150 builds edges only between
    // declared actors)
    (edges.keys ++ edges.values.flatten).foreach { n =>
      require(actors.contains(n), s"pipeline references undeclared actor '$n'")
    }

    val cfg = PipelineConfig(system, actors, edges)
    validateDag(cfg)
    // schema-directed typing at LOAD time (the reference's cast layer):
    // unknown param names and unconvertible values fail here, and every
    // value — including raw env/cli strings — lands as its declared type
    ParamSchema.validate(cfg)
  }

  /** Kahn toposort with cycle detection — the same validation the
    * reference runs at start (pkg/util/data/topology.go:57-101, cycle
    * check at :76). Returns actors in topological order (receivers
    * first). */
  def toposort(cfg: PipelineConfig): Seq[String] = {
    val inDeg = scala.collection.mutable.Map(
      cfg.actors.keys.map(n => n -> cfg.upstream(n).size).toSeq: _*)
    val queue = scala.collection.mutable.Queue(
      inDeg.collect { case (n, 0) => n }.toSeq.sorted: _*)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      out += n
      cfg.downstream(n).foreach { d =>
        inDeg(d) -= 1
        if (inDeg(d) == 0) queue.enqueue(d)
      }
    }
    require(out.size == cfg.actors.size,
      s"pipeline has a cycle among: ${cfg.actors.keySet -- out.toSet}")
    out.toSeq
  }

  private def validateDag(cfg: PipelineConfig): Unit = {
    toposort(cfg)
    require(cfg.receivers.nonEmpty, "pipeline has no receiver (source) actor")
  }

  /** Graphviz DOT rendering — parity with the reference's
    * /pipeline/describe admin endpoint (web/app/agent/graphviz.go:31,
    * template util/explain/graphiviz_pipeline.go:12-24). An edge a batch
    * run materializes (its downstream reads the input more than once,
    * [[PipelineCompiler.readsInputTwice]]) is drawn dashed and labelled
    * `materialized`; edges out of receivers stay plain, since a receiver
    * scan is already a plan leaf. */
  def toDot(cfg: PipelineConfig): String = {
    val nodes = cfg.actors.values.toSeq.sortBy(_.name).map { a =>
      s"""  "${a.name}" [label="${a.name}\\n${a.module}"];"""
    }
    def materialized(from: String, to: String): Boolean =
      PipelineCompiler.readsInputTwice(cfg.actors(to)) &&
        !Set("core.receiver", "core.push_receiver")(cfg.actors(from).module)
    val edges = cfg.edges.toSeq.sortBy(_._1).flatMap { case (from, tos) =>
      tos.map { to =>
        val attrs = if (materialized(from, to)) """ [style=dashed, label="materialized"]""" else ""
        s"""  "$from" -> "$to"$attrs;"""
      }
    }
    ("digraph pipeline {" +: (nodes ++ edges) :+ "}").mkString("\n")
  }
}
