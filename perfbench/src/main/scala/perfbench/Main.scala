package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.SparkSession

/** One check of an op's output: `expected = None` means the summary step
  * supplies it (closed forms and pinned hashes live in `perfbench/expected.json`). */
final case class Check(name: String, observed: Any, expected: Option[Any] = None)

/** Appends one JSON object per line to the records file that `run.py` summarizes. */
final class Recorder(path: String) {
  private val out = new PrintWriter(new File(path), StandardCharsets.UTF_8)

  def emit(fields: (String, Any)*): Unit = synchronized {
    out.println(Json.obj(fields: _*)); out.flush()
  }

  def close(): Unit = out.close()
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case c: Check => obj("name" -> c.name, "observed" -> c.observed, "expected" -> c.expected)
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** What a workload gets: the session, its seed, its checked-in input
  * tables, its scratch directory and the op/setup timers that write records. */
final class Ctx(val spark: SparkSession, seed: Long, val seconds: Double, val data: String,
                val work: String, val trace: Option[Tracer], rec: Recorder) {
  val rng = new scala.util.Random(seed)
  private val lastS = scala.collection.concurrent.TrieMap.empty[String, Double]

  /** Seconds of the last successful op or sample named `name`. */
  def lastMeasured(name: String): Double = lastS(name)

  def secs(ns: Long): Double = ns / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, secs(System.nanoTime() - t0))
  }

  /** A set-up step: its time goes into `setup_s`. */
  def setup[A](name: String)(body: => A): A = {
    val (a, s) = timed(body)
    rec.emit("kind" -> "setup", "name" -> name, "s" -> s)
    a
  }

  /** One op: `body` is timed, `check` runs after the clock stops. A throw
    * in either records the op as failed with no time, and a warm-up op is
    * recorded like a measured one, so a failing warm-up fails the run. */
  def op[A](name: String, warmup: Boolean = false, values: => Map[String, Double] = Map.empty)
           (body: => A)(check: A => Seq[Check]): Option[A] = {
    val t0 = System.nanoTime()
    try {
      val a = body
      val s = secs(System.nanoTime() - t0)
      lastS(name) = s
      val checks = check(a)
      rec.emit("kind" -> "op", "name" -> name, "warmup" -> warmup, "s" -> s,
        "checks" -> checks, "values" -> values, "error" -> None)
      Some(a)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] op $name failed: $e")
        e.printStackTrace()
        rec.emit("kind" -> "op", "name" -> name, "warmup" -> warmup, "s" -> None,
          "checks" -> Nil, "values" -> Map.empty, "error" -> e.toString)
        None
    }
  }

  /** A sample derived from several ops (e.g. a whole serving pass). */
  def record(name: String, warmup: Boolean, s: Double): Unit = {
    lastS(name) = s
    rec.emit("kind" -> "sample", "name" -> name, "warmup" -> warmup, "s" -> s)
  }

  private var tracing = false

  /** The tracer once tracing has started; ops before that run untraced. */
  def traced: Option[Tracer] = if (tracing) trace else None

  /** Listen and record spans from here on, until [[stopTracing]]. */
  def startTracing(): Tracer = {
    val t = trace.getOrElse(sys.error("not a traced run"))
    if (!tracing) { t.start(); tracing = true }
    t
  }

  def stopTracing(): Unit = if (tracing) { trace.foreach(_.stop()); tracing = false }
}

object Main {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val data = new File(arg(args, "data")).getAbsolutePath
    val work = new File(arg(args, "work")).getAbsolutePath
    val rec = new Recorder(arg(args, "out"))
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    rec.emit("kind" -> "setup", "name" -> "session", "s" -> (System.nanoTime() - t0) / 1e9)
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, seed, seconds, data, work, tracer, rec)
    try {
      workload match {
        case "etl_small" => Etl.run(ctx)
        case "serve_mutate" => ServeMutate.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      tracer.foreach { t =>
        t.layerMetrics.foreach { case (k, v) => rec.emit("kind" -> "layer", "name" -> k, "value" -> v) }
        t.writeSpans(s"$work/spans.jsonl")
      }
    } finally {
      rec.close()
      spark.stop()
    }
  }
}
