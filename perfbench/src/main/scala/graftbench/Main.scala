package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload against the graft library
  * over inputs generated by gen.py, and writes raw measurements
  * (`result.json`, plus `spans.jsonl` when traced) for run.py to check
  * and summarize.
  *
  * Run sizes (op, pass counts) come with the inputs.
  *
  *   graftbench.Main <workload> <workDir> <trace 0|1>
  */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(workload, work, traceArg) = args
    val out = new Result
    val spark = session(work)
    val listener = new EngineListener
    if (traceArg == "1") {
      spark.sparkContext.addSparkListener(listener)
      Trace.start(spark.sparkContext)
      Region.listener = Some(listener)
    }
    out("cores") = Runtime.getRuntime.availableProcessors()
    try workload match {
      case "lakehouse_txn" => LakehouseTxn.run(spark, work, out)
      case "analytic_scan" => AnalyticScan.run(spark, work, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      if (Trace.enabled) {
        listener.drain()
        writeTrace(new File(work, "spans.jsonl"), listener)
        out("recorder_ms") = Trace.recorderNs.get / 1e6
      }
      out("peak_rss_mb") = peakRssMb()
      out.write(new File(work, "result.json"))
      spark.stop()
    }
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.sql.GraftSparkSessionExtensions")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** VmHWM of this JVM: its peak resident set. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Total bytes of regular files under `dir`, Hadoop .crc side files excluded. */
  def dirBytes(dir: File): Long =
    if (!dir.exists()) 0L
    else {
      val s = java.nio.file.Files.walk(dir.toPath)
      try s.filter(p => java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally s.close()
    }

  private def writeTrace(f: File, l: EngineListener): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try {
      Trace.all.foreach { s =>
        w.println(Json.render(Map("type" -> "span", "id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "attrs" -> s.attrs)))
      }
      l.jobs.synchronized(l.jobs.toList).foreach { j =>
        w.println(Json.render(Map("type" -> "job", "id" -> j.id, "group" -> j.group,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs)))
      }
    } finally w.close()
  }
}

/** The timed region: its bounds on both clocks spans and Spark jobs use,
  * and the engine counters accumulated inside it. Harness bookkeeping the
  * region must do between two calls runs in [[untimed]], whose time is
  * left out of `elapsed_s`.
  */
object Region {
  var listener: Option[EngineListener] = None
  private var t0 = 0L
  private var untimedNs = 0L
  private var before = Map.empty[String, Long]

  def begin(out: Result): Unit = {
    listener.foreach { l => l.drain(); before = l.counters }
    out("setup_s") = Main.sinceJvmStart()
    out("timed_start_ms") = System.currentTimeMillis()
    untimedNs = 0L
    t0 = System.nanoTime()
    out("timed_start_ns") = t0
  }

  def untimed[T](f: => T): T = {
    val s = System.nanoTime()
    try f finally untimedNs += System.nanoTime() - s
  }

  def end(out: Result): Unit = {
    val t1 = System.nanoTime()
    out("timed_end_ns") = t1
    out("timed_end_ms") = System.currentTimeMillis()
    out("elapsed_s") = (t1 - t0 - untimedNs) / 1e9
    out("untimed_s") = untimedNs / 1e9
    listener.foreach { l =>
      l.drain()
      val after = l.counters
      out("engine_timed") = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
    }
  }
}

/** One-line description of a failure, for the result file. */
object Errors {
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)
}

/** Raw result fields, written as one JSON object. */
final class Result {
  private val fields = mutable.LinkedHashMap.empty[String, Any]
  def update(k: String, v: Any): Unit = fields(k) = v
  def write(f: File): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.print(Json.render(fields.toMap)) finally w.close()
  }
}

/** Minimal JSON writer/reader for the harness's own files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case a: Array[_] => render(a.toSeq)
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row => render(r.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  /** Parse one JSON document into Scala maps, lists, BigInt/Double, String. */
  def parse(s: String): Any = {
    import org.json4s._
    def conv(v: JValue): Any = v match {
      case JObject(fs) => fs.map { case (k, x) => k -> conv(x) }.toMap
      case JArray(xs) => xs.map(conv)
      case JInt(i) => i.toLong
      case JLong(l) => l
      case JDouble(d) => d
      case JDecimal(d) => d.toDouble
      case JString(x) => x
      case JBool(b) => b
      case _ => null
    }
    conv(org.json4s.jackson.JsonMethods.parse(s))
  }

  def lines(f: File): Seq[Map[String, Any]] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(parse(_).asInstanceOf[Map[String, Any]]).toVector
    finally src.close()
  }
}
