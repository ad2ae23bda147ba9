package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark driver JVM. `run.py` generates the inputs, starts this main
  * with one or more workloads (separated by `--and`, run in order in this
  * JVM), and reads back the `PERFBENCH {json}` line it prints last: one
  * result object per workload.
  *
  *   perfbench.Main <relay|index_xo|curate> --work <dir> --seconds <s>
  *     --traced <0|1> [workload options] [--and <workload> ...]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val specs = args.foldLeft(List(List.empty[String])) {
      case (acc, "--and") => Nil :: acc
      case (cur :: rest, a) => (cur :+ a) :: rest
      case (Nil, a) => List(List(a))
    }.reverse
    val ctxs = specs.map(spec =>
      spec.head -> new Ctx(spec.tail.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap))
    val results = Out()
    ctxs.foreach { case (workload, ctx) =>
      val out = workload match {
        case "relay" => Relay.run(ctx)
        case "index_xo" => IndexXo.run(ctx)
        case "curate" => Curate.run(ctx)
        case other => sys.error(s"unknown workload $other")
      }
      out("peak_rss_mb") = Ctx.vmHwmMb
      results(workload) = out
    }
    if (ctxs.exists(_._2.traced)) {
      val spanFile = s"${ctxs.head._2.work}/spans.jsonl"
      Spans.write(spanFile)
      results("span_file") = spanFile
      results("self_s") = Spans.selfSeconds
    }
    println("PERFBENCH " + Json(results))
    System.out.flush()
    // Spark's non-daemon threads must not hold the JVM open
    sys.exit(0)
  }
}

final class Ctx(opts: Map[String, String]) {
  val work: String = opts("work")
  val seconds: Double = opts("seconds").toDouble
  val traced: Boolean = opts.getOrElse("traced", "0") == "1"
  def opt(k: String): String = opts(k)

  val listener = new CallListener
  private var current: SparkSession = _
  def spark: SparkSession = current
  val calls = new Calls(current, listener)

  /** The shipping session, as `Flowd` builds it. */
  def startSession(): SparkSession = {
    current = GraftSession.get()
    current
  }

  /** From here on, timed calls also collect Spark and file-system
    * counters (the counting file system itself comes in through the
    * traced JVM's spark.hadoop.fs.file.impl property). */
  def trace(): Unit = {
    current.sparkContext.addSparkListener(listener)
    calls.tracing = true
  }

  def untrace(): Unit = {
    current.sparkContext.removeSparkListener(listener)
    calls.tracing = false
  }

  /** `Ctx.Setups` set-ups, the first timed from JVM start, the others
    * from their own start; all but the last are torn down. Returns the
    * last set-up's value and every sample. */
  def setups[T](setup: () => T, teardown: T => Unit): (T, Seq[Double]) = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var result: Option[T] = None
    val samples = (1 to Ctx.Setups).map { r =>
      val t0 = if (r == 1) jvmStart else System.currentTimeMillis()
      val v = Spans.timed("setup")(setup())._1
      val s = (System.currentTimeMillis() - t0) / 1000.0
      if (r < Ctx.Setups) teardown(v) else result = Some(v)
      s
    }
    (result.get, samples)
  }
}

object Ctx {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 5

  def vmHwmMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong / 1024.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1).max(0))
  }
}

/** Minimal JSON rendering for the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

object Out {
  def apply(): mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
}
