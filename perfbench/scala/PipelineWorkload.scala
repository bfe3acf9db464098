package graftbench

import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.operators.Staging

/** The operator half of `pipeline_ingest`, a batch job. One caller runs
  * the operator keys over the corpus in the seeded key order of each pass,
  * writing every key's output (the user's action; checked afterwards).
  * The benchmark releases the staged frames after every key, so each call
  * pays for its own staging. The job starts in a fresh JVM and is not
  * warmed up: the first pass pays class loading, JIT and code generation,
  * as every run of a batch job does.
  */
final class PipelineWorkload(cfg: Config) extends Workload {
  private val orders = cfg.lines("passes").map(_.split(',').toSeq)
  private val keys = orders.head.sorted
  private var spark: SparkSession = _
  private var pass = 0

  final case class Op(pass: Int, key: String, out: String, startMs: Long,
      endMs: Long, wallS: Double, staged: Int, cachedMb: Double, releaseMs: Double)

  def setUp(s: SparkSession): Unit = {
    spark = s
    new graft.model.Tables(s, cfg.data).documents.schema
  }

  private def runKey(p: Int, key: String, t: Option[Tracer]): Op = {
    val out = s"${cfg.work}/out/p$p/$key"
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def call(): Unit = SparkEntry.queries(key)(spark, cfg.data)
      .write.mode("overwrite").parquet(out)
    t match {
      case Some(tr) => tr.spans(s"operators.$key", req = p)(_ => call())
      case None => call()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val staged = Staging.liveCount
    val cached = Stats.cachedMb(spark)
    val r0 = System.nanoTime()
    t match {
      case Some(tr) => tr.spans("staging.release", req = p)(_ => Staging.releaseAll())
      case None => Staging.releaseAll()
    }
    Op(p, key, out, startMs, endMs, wall, staged, cached, (System.nanoTime() - r0) / 1e6)
  }

  def measure(seconds: Double, trace: Option[Tracer]): Map[String, Any] = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val passes = Seq.newBuilder[Map[String, Any]]
    // whole passes only, at least one
    var first = true
    while (first || System.nanoTime() < deadline) {
      first = false
      val p = pass
      pass += 1
      val order = orders(p % orders.size)
      val s0 = System.nanoTime()
      val ops = order.map(k => runKey(p, k, trace))
      passes += Map("pass" -> p, "wall_s" -> (System.nanoTime() - s0) / 1e9,
        "ops" -> ops)
    }
    Map("wall_s" -> (System.nanoTime() - t0) / 1e9, "passes" -> passes.result(),
      "oracle_sql" -> keys.map(k => k -> SparkEntry.oracleSql(k)).toMap)
  }

  def layers(phase: Map[String, Any], t: Tracer): Map[String, Double] = {
    val ops = phase("passes").asInstanceOf[Seq[Map[String, Any]]]
      .flatMap(_("ops").asInstanceOf[Seq[Op]])
    val work = t.jobs.attribute(ops.map(o => OpWindow(null, o.startMs, o.endMs)))
    val byKey = ops.zip(work).groupBy(_._1.key)
    val perKey = keys.flatMap { k =>
      val xs = byKey.getOrElse(k, Seq.empty)
      val n = math.max(xs.size, 1).toDouble
      Seq(
        s"operators.$k.wall_s" -> Stats.median(xs.map(_._1.wallS)),
        s"operators.$k.jobs" -> xs.map(_._2.jobs.toDouble).sum / n,
        s"operators.$k.tasks" -> xs.map(_._2.tasks.toDouble).sum / n,
        s"operators.$k.shuffle_mb" -> xs.map(x =>
          Stats.mb(x._2.shuffleReadBytes + x._2.shuffleWriteBytes)).sum / n)
    }
    val n = math.max(ops.size, 1).toDouble
    perKey.toMap ++ Map(
      "staging.frames" -> ops.map(_.staged.toDouble).sum / n,
      "staging.cached_mb" -> ops.map(_.cachedMb).sum / n,
      "staging.release_ms" -> Stats.median(ops.map(_.releaseMs))
    ) ++ SparkWork.perOp(work)
  }
}
