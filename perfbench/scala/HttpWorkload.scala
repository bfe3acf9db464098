package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.{Graft, GraftServer}

/** `http_navigational`: a closed loop of `clients` connections against a
  * GraftServer over loopback. Each client sends its next request only after
  * the previous reply arrived. Requests are taken in order from the seeded
  * URL list, so the drawn mix does not depend on timing.
  *
  * In a traced phase each client, after its HTTP request, replays the same
  * query in-process through the public functions the server calls (parse,
  * `Graft.query`, the renderer), so the layers can be timed; the replay
  * keeps at most `clients` operations in flight, as in the untraced loop.
  */
final class HttpWorkload(cfg: Config) extends Workload {
  private val urls = cfg.lines("urls").map { l => val a = l.split("\t", 2); (a(0), a(1)) }
  private val warm = cfg.lines("warmup")
  private val clients = cfg("clients").toInt
  private val next = new AtomicInteger(0)
  private val bodyDir = new java.io.File(cfg.work, "bodies")
  private val seenBodies = ConcurrentHashMap.newKeySet[String]()
  private var spark: SparkSession = _
  private var server: GraftServer = _
  private var base: String = _

  final case class Req(i: Int, client: Int, latMs: Double, status: Int,
      bytes: Int, sha: String, staged: Int)
  final case class Replay(i: Int, latMs: Double, group: String, session: Int,
      startMs: Long, endMs: Long, parseMs: Double, queryMs: Double,
      renderMs: Double, bytes: Int)

  /** Server bind, then every warm-up request once, from `clients`
    * connections: the first request of each query shape pays its code
    * generation.
    */
  def setUp(s: SparkSession): Unit = {
    spark = s
    server = new GraftServer(Graft(s, cfg.data), 0).start()
    base = s"http://127.0.0.1:${server.boundPort}"
    val pending = new java.util.concurrent.ConcurrentLinkedQueue[String](warm.asJava)
    val failed = new ConcurrentLinkedQueue[String]()
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        val c = client()
        var u = pending.poll()
        while (u != null) {
          val code = try get(c, u).statusCode catch { case e: Exception => -1 }
          if (code != 200) failed.add(s"$u: HTTP $code")
          u = pending.poll()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (!failed.isEmpty)
      throw new IllegalStateException(s"warm-up failed: ${failed.asScala.mkString("; ")}")
  }

  override def tearDown(): Unit = server.stop()

  override def splitForTrace: Boolean = true

  override def merge(a: Map[String, Any], b: Map[String, Any]): Map[String, Any] = {
    def seq(m: Map[String, Any], k: String) = m(k).asInstanceOf[Seq[Any]]
    Map("wall_s" -> (a("wall_s").asInstanceOf[Double] + b("wall_s").asInstanceOf[Double]),
      "requests" -> (seq(a, "requests") ++ seq(b, "requests")),
      "replays" -> (seq(a, "replays") ++ seq(b, "replays")))
  }

  private def client(): HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()

  /** Percent-encode everything but unreserved characters and `/`; the
    * server decodes %XX escapes back to the query text.
    */
  private def encode(text: String): String =
    text.getBytes(UTF_8).map { b =>
      val c = (b & 0xff).toChar
      if (c.isLetterOrDigit && c < 128 || "-_.~/".indexOf(c) >= 0) c.toString
      else f"%%${b & 0xff}%02X"
    }.mkString

  private def get(c: HttpClient, url: String): HttpResponse[Array[Byte]] =
    c.send(HttpRequest.newBuilder(URI.create(base + encode(url)))
        .timeout(Duration.ofSeconds(120)).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())

  private def sha(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-1").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString

  /** Keep one copy of every distinct body for the oracle check. */
  private def keep(h: String, body: Array[Byte]): Unit =
    if (seenBodies.add(h)) {
      bodyDir.mkdirs()
      java.nio.file.Files.write(new java.io.File(bodyDir, h).toPath, body)
    }

  def measure(seconds: Double, trace: Option[Tracer]): Map[String, Any] = {
    val reqs = new ConcurrentLinkedQueue[Req]()
    val replays = new ConcurrentLinkedQueue[Replay]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val errors = new ConcurrentLinkedQueue[String]()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        try {
          val http = client()
          val replay = trace.map { t =>
            val rs = spark.newSession()
            t.watch(rs)
            (rs, Graft(rs, cfg.data))
          }
          var i = next.getAndIncrement()
          while (System.nanoTime() < deadline && i < urls.size) {
            val url = urls(i)._2
            val s0 = System.nanoTime()
            val r = get(http, url)
            val lat = (System.nanoTime() - s0) / 1e6
            val body = r.body
            val h = sha(body)
            keep(h, body)
            reqs.add(Req(i, c, lat, r.statusCode, body.length, h,
              graft.operators.Staging.liveCount))
            for (t <- trace; (rs, g) <- replay)
              replays.add(replayOne(t, rs, g, i, url, lat))
            i = next.getAndIncrement()
          }
        } catch { case e: Throwable => errors.add(String.valueOf(e)) }
      }, s"bench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    if (!errors.isEmpty) throw new IllegalStateException(errors.asScala.mkString("; "))
    val rs = reqs.asScala.toSeq.sortBy(_.i)
    Map(
      "wall_s" -> wall,
      "requests" -> rs.map(r => Map("i" -> r.i, "client" -> r.client,
        "lat_ms" -> r.latMs, "status" -> r.status, "bytes" -> r.bytes,
        "sha" -> r.sha, "staged" -> r.staged)),
      "replays" -> replays.asScala.toSeq.sortBy(_.i))
  }

  /** Replay `url` in-process, timing each public call the server makes. */
  private def replayOne(t: Tracer, rs: SparkSession, g: Graft, i: Int,
      url: String, latMs: Double): Replay = {
    val sc = rs.sparkContext
    val group = s"replay-$i"
    sc.setJobGroup(group, "benchmark replay", interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    var parseMs, queryMs, renderMs = 0.0
    var bytes = 0
    try t.spans("replay", req = i) { root =>
      val (_, fmt) = t.spans("lang.parse", root, i) { _ =>
        val s0 = System.nanoTime()
        val r = graft.lang.Parser.parseCommand(url)
        parseMs = (System.nanoTime() - s0) / 1e6
        r
      }
      val text = fmt.fold(url)(f => url.stripSuffix(s"/:$f"))
      val df = t.spans("lang.plan", root, i) { _ =>
        val s0 = System.nanoTime()
        val d = g.query(text)
        queryMs = (System.nanoTime() - s0) / 1e6
        d
      }
      t.spans("render", root, i) { _ =>
        val s0 = System.nanoTime()
        val body = fmt.getOrElse("txt") match {
          case "json" => g.toJson(df)
          case "csv" => g.toCsv(df)
          case _ => g.toText(df)
        }
        renderMs = (System.nanoTime() - s0) / 1e6
        bytes = body.getBytes(UTF_8).length
      }
    } finally sc.clearJobGroup()
    Replay(i, latMs, group, System.identityHashCode(rs), startMs,
      System.currentTimeMillis(), parseMs, queryMs, renderMs, bytes)
  }

  def layers(phase: Map[String, Any], t: Tracer): Map[String, Double] = {
    val reps = phase("replays").asInstanceOf[Seq[Replay]]
    val reqs = phase("requests").asInstanceOf[Seq[Map[String, Any]]]
    val work = t.jobs.attribute(reps.map(r => OpWindow(r.group, r.startMs, r.endMs)))
    val actions = t.phases.all
    final case class Parts(optimize: Double, physical: Double, plan: Double,
        renderSelf: Double, overhead: Double)
    val parts = reps.zip(work).map { case (r, w) =>
      val acts = actions.filter(a => a.session == r.session &&
        a.planEndMs >= r.startMs && a.planEndMs <= r.endMs)
      val opt = acts.map(_.optimizeMs.toDouble).sum
      val phys = acts.map(_.physicalMs.toDouble).sum
      Parts(opt, phys,
        // Graft.query parses the text again before planning it
        plan = math.max(0.0, r.queryMs - r.parseMs),
        renderSelf = r.renderMs - opt - phys - w.busyMs,
        overhead = r.latMs - (r.parseMs + r.queryMs + r.renderMs))
    }
    Map(
      "lang.parse_ms" -> Stats.median(reps.map(_.parseMs)),
      "lang.plan_ms" -> Stats.median(parts.map(_.plan)),
      "catalyst.optimize_ms" -> Stats.median(parts.map(_.optimize)),
      "catalyst.physical_ms" -> Stats.median(parts.map(_.physical)),
      "render.ms" -> Stats.median(parts.map(_.renderSelf)),
      "render.kb" -> Stats.median(reps.map(_.bytes / 1024.0)),
      "server.overhead_ms" -> Stats.median(parts.map(_.overhead)),
      "staging.frames" -> reqs.map(_("staged").asInstanceOf[Int].toDouble).maxOption.getOrElse(0.0)
    ) ++ SparkWork.perOp(work)
  }
}

object SparkWork {
  /** Spark execution metrics per operation: busy time as a median, work
    * counts as means over the operations.
    */
  def perOp(ws: Seq[Work]): Map[String, Double] = {
    val n = math.max(ws.size, 1).toDouble
    def mean(f: Work => Double) = ws.map(f).sum / n
    Map(
      "spark.exec_ms" -> Stats.median(ws.map(_.busyMs.toDouble)),
      "spark.jobs" -> mean(_.jobs),
      "spark.stages" -> mean(_.stages),
      "spark.tasks" -> mean(_.tasks.toDouble),
      "spark.task_run_s" -> mean(_.taskRunMs / 1e3),
      "spark.task_cpu_s" -> mean(_.taskCpuNs / 1e9),
      "spark.gc_s" -> mean(_.gcMs / 1e3),
      "spark.input_mb" -> mean(w => Stats.mb(w.inputBytes)),
      "spark.shuffle_read_mb" -> mean(w => Stats.mb(w.shuffleReadBytes)),
      "spark.shuffle_write_mb" -> mean(w => Stats.mb(w.shuffleWriteBytes)),
      "spark.spill_mb" -> mean(w => Stats.mb(w.spillBytes)))
  }
}
