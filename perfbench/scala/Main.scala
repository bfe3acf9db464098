package graftbench

import java.io.{File, FileInputStream, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. `setUp` does everything a user pays
  * before the first operation (engine objects, server bind and warm-up for
  * the server); `measure` runs the timed operations until `seconds` have
  * passed.
  */
trait Workload {
  def setUp(spark: SparkSession): Unit
  def measure(seconds: Double, trace: Option[Tracer]): Map[String, Any]
  def tearDown(): Unit = ()
  /** Whether a traced run alternates untraced and traced quarters (for
    * the tracing overhead); `merge` then joins two quarters' results. A
    * workload that compares traced and untraced operations inside one
    * phase says no and is never merged.
    */
  def splitForTrace: Boolean = false
  def merge(a: Map[String, Any], b: Map[String, Any]): Map[String, Any] =
    throw new UnsupportedOperationException("merge")
  /** Per-layer metrics from the traced phase. */
  def layers(phase: Map[String, Any], tracer: Tracer): Map[String, Double]
}

/** What a traced phase records: spans from the benchmark's own calls into
  * each layer, plus Spark's counters from listeners the benchmark
  * registers itself.
  */
final class Tracer(val spark: SparkSession) {
  val spans = new Spans
  val jobs = new SparkCounters
  val phases = new QueryPhases
  val stream = new StreamProgress
  spark.sparkContext.addSparkListener(jobs)
  spark.streams.addListener(stream)

  /** Sessions whose actions report Catalyst phase times. */
  def watch(session: SparkSession): Unit = session.listenerManager.register(phases)

  def stop(): Unit = {
    Listeners.drain(spark)
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(stream)
  }
}

object Main {
  def session(cfg: Config): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${cfg.cpus}]")
      .appName("graft-perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cfg.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(cfg: Config): Workload = cfg.workload match {
    case "http_navigational" => new HttpWorkload(cfg)
    case "pipeline_ingest" => new PipelineIngestWorkload(cfg)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The benchmark's launcher may be killed; do not outlive it. */
  def exitWithParent(pid: Long): Unit = {
    val watch = new Thread(() => {
      while (java.lang.ProcessHandle.of(pid).filter(_.isAlive).isPresent)
        Thread.sleep(1000)
      Runtime.getRuntime.halt(3)
    }, "parent-watch")
    watch.setDaemon(true)
    watch.start()
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val cfg = Config.load(args(0))
    exitWithParent(cfg("parent_pid").toLong)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val out = mutable.LinkedHashMap[String, Any]()
    val code =
      try {
        // set-up: process start to the first timed operation
        val spark = session(cfg)
        val wl = workload(cfg)
        wl.setUp(spark)
        val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
        if (cfg.trace) {
          val tracer = new Tracer(spark)
          val phase =
            if (wl.splitForTrace) {
              // untraced and traced quarters in turn, so neither half gets
              // the run's warmer end
              val q = (0 until 4).map(b =>
                wl.measure(cfg.seconds / 4, if (b % 2 == 1) Some(tracer) else None))
              out("untraced") = wl.merge(q(0), q(2))
              wl.merge(q(1), q(3))
            } else wl.measure(cfg.seconds, Some(tracer))
          tracer.stop()
          out("traced") = phase
          out("layers") = wl.layers(phase, tracer)
          out("spans") = tracer.spans.all.map(s => Map("id" -> s.id, "name" -> s.name,
            "parent" -> s.parent, "req" -> s.req, "start_ms" -> s.startMs,
            "end_ms" -> s.endMs, "dur_ms" -> s.durNs / 1e6))
        } else out("untraced") = wl.measure(cfg.seconds, None)
        out("peak_rss_mb") = peakRssMb()
        out("setup_s") = setupS
        wl.tearDown()
        spark.stop()
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          out("error") = String.valueOf(e)
          1
      }
    val w = new PrintWriter(new File(cfg.result), UTF_8.name)
    try w.print(Json(out.toMap)) finally w.close()
    // GraftServer.stop() leaves its request thread pool running (non-daemon
    // threads), so the JVM would not exit on its own after main returns
    System.exit(code)
  }
}

final case class Config(props: java.util.Properties) {
  def apply(k: String): String =
    Option(props.getProperty(k)).getOrElse(throw new NoSuchElementException(k))
  def workload: String = apply("workload")
  def seconds: Double = apply("seconds").toDouble
  def trace: Boolean = apply("trace") == "1"
  def cpus: Int = apply("cpus").toInt
  def work: String = apply("work")
  def data: String = apply("data")
  def result: String = apply("result")
  def lines(k: String): Vector[String] = {
    val src = scala.io.Source.fromFile(apply(k), UTF_8.name)
    try src.getLines().filter(_.nonEmpty).toVector finally src.close()
  }
}

object Config {
  def load(path: String): Config = {
    val p = new java.util.Properties()
    val in = new java.io.InputStreamReader(new FileInputStream(path), UTF_8)
    try p.load(in) finally in.close()
    Config(p)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case p: Product => apply(p.productElementNames.zip(p.productIterator).toMap)
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
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  def mb(bytes: Double): Double = bytes / (1 << 20)
  /** Memory and disk held by cached RDD blocks (the staged frames). */
  def cachedMb(spark: SparkSession): Double =
    mb(spark.sparkContext.getRDDStorageInfo.map(i => (i.memSize + i.diskSize).toDouble).sum)
}
