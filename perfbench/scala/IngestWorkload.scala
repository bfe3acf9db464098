package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.{IncrementalDedup, IndexMaintenance, Retrieval, Staging}
import graft.streaming.CorpusIngest

/** The ingest half of `pipeline_ingest`: the write path beside reads.
  * Arrival files land one at a time in a watched directory; each is
  * drained by `CorpusIngest.runIngestAvailableNow` on one checkpoint, which
  * keeps the dedup index, the postings, positions and term-stats stores
  * current and auto-compacts them past a file threshold. After each drain
  * a burst of `Retrieval.topKFromIndex` searches queries the growing
  * postings store.
  *
  * Each measured phase ingests the whole arrival sequence into fresh
  * stores, so the final survivor set can be checked against the oracle.
  * Like a scheduled AvailableNow job, nothing is warmed up for it.
  */
final class IngestWorkload(cfg: Config) extends Workload {
  private val arrivals = cfg.lines("arrivals").map { l =>
    val a = l.split("\t"); (a(0), a(1).toLong, a(2).toLong) // file, docs, text bytes
  }
  private val searches = cfg.lines("searches").map(_.split(' ').toSeq)
  private val compactFiles = cfg("compact_files").toInt
  private var spark: SparkSession = _
  private var phaseNo = 0
  private var searchNo = 0

  final case class Drain(arrival: Int, docs: Long, textBytes: Long, startMs: Long,
      endMs: Long, wallS: Double, staged: Int, compactions: Int, postingsFiles: Long)
  final case class Search(i: Int, terms: String, startMs: Long, endMs: Long,
      planMs: Double, execMs: Double, latMs: Double, staged: Int,
      cachedMb: Double, releaseMs: Double, checked: Boolean, ok: Boolean,
      traced: Boolean)

  private final class Stores(root: String) {
    val src = s"$root/src"; val idx = s"$root/idx"; val sink = s"$root/sink"
    val ckpt = s"$root/ckpt"; val postings = s"$root/postings"
    val positions = s"$root/positions"; val terms = s"$root/terms"
    new File(src).mkdirs()
    /** (root, probe store) of each auto-compacted family */
    val families = Seq(idx -> "bands", postings -> "postings",
      positions -> "positions", terms -> "terms")
  }

  private def drain(st: Stores): Unit =
    CorpusIngest.runIngestAvailableNow(spark, st.src, st.idx, st.sink, st.ckpt,
      jaccardThreshold = 1.0,
      params = IncrementalDedup.Params(3, 16, 1),
      canonicalize = true,
      maintain = CorpusIngest.IndexSuite(postingsPath = Some(st.postings),
        positionsPath = Some(st.positions), termStatsPath = Some(st.terms)),
      autoCompact = IndexMaintenance.AutoCompactPolicy(fileThreshold = compactFiles))

  /** Make `file` visible to the stream: copy under a hidden name, then
    * rename, with an mtime after every earlier arrival.
    */
  private def arrive(st: Stores, file: String, n: Int): Unit = {
    val name = new File(file).getName
    val tmp = new File(st.src, s".$name")
    Files.copy(new File(file).toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
    tmp.setLastModified(1_000_000_000_000L + n * 1000L)
    Files.move(tmp.toPath, new File(st.src, name).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  def setUp(s: SparkSession): Unit = {
    spark = s
    graft.functions.VectorFunctions.ensureRegistered(s)
  }

  private def survivors(st: Stores): DataFrame =
    spark.read.parquet(st.sink).select("doc_id", "text")

  def measure(seconds: Double, trace: Option[Tracer]): Map[String, Any] = {
    val phase = phaseNo
    phaseNo += 1
    val st = new Stores(s"${cfg.work}/phase-$phase")
    val t0 = System.nanoTime()
    val drains = Seq.newBuilder[Drain]
    val found = Seq.newBuilder[Search]
    def span[A](name: String)(f: => A): A =
      trace.fold(f)(_.spans(name, req = phase)(_ => f))
    arrivals.zipWithIndex.foreach { case ((file, docs, bytes), n) =>
      arrive(st, file, n)
      val before = st.families.map { case (r, s) => IndexMaintenance.storeDataFiles(spark, r, s) }
      val startMs = System.currentTimeMillis()
      val d0 = System.nanoTime()
      span("streaming.drain")(drain(st))
      val wall = (System.nanoTime() - d0) / 1e9
      val endMs = System.currentTimeMillis()
      val staged = Staging.liveCount
      val after = st.families.map { case (r, s) => IndexMaintenance.storeDataFiles(spark, r, s) }
      drains += Drain(n, docs, bytes, startMs, endMs, wall, staged,
        before.zip(after).count { case (b, a) => a < b }, after(1))
      // the burst gets an equal share of the phase's time, at least 8 searches
      val burstEnd = t0 + (seconds * 1e9 * (n + 1) / arrivals.size).toLong
      var k = 0
      while (k < 8 || System.nanoTime() < burstEnd) {
        val terms = searches(searchNo % searches.size)
        val i = searchNo
        searchNo += 1
        // in a traced phase every other search runs without spans, for the
        // tracing overhead
        val traced = trace.isDefined && i % 2 == 0
        def span[A](name: String)(f: => A): A =
          if (traced) trace.get.spans(name, req = phase)(_ => f) else f
        val sMs = System.currentTimeMillis()
        val q0 = System.nanoTime()
        val df = span("retrieval.plan")(Retrieval.topKFromIndex(spark, st.postings, terms, 10))
        val q1 = System.nanoTime()
        val rows = span("retrieval.exec")(df.collect())
        val q2 = System.nanoTime()
        val eMs = System.currentTimeMillis()
        val live = Staging.liveCount
        val cached = Stats.cachedMb(spark)
        val r0 = System.nanoTime()
        span("retrieval.release")(Staging.releaseAll())
        val relMs = (System.nanoTime() - r0) / 1e6
        // the first search after the last drain is checked against a scan
        // of the survivors (untimed)
        val checked = k == 0 && n == arrivals.size - 1
        val ok = !checked || {
          val want = Retrieval.bm25TopK(survivors(st), "doc_id", "text", terms, 10).collect()
          Staging.releaseAll()
          want.toSeq == rows.toSeq
        }
        found += Search(i, terms.mkString(" "), sMs, eMs, (q1 - q0) / 1e6,
          (q2 - q1) / 1e6, (q2 - q0) / 1e6, live, cached, relMs, checked, ok, traced)
        k += 1
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val out = s"${cfg.work}/survivors-$phase.txt"
    val ids = survivors(st).select(col("doc_id")).collect().map(_.getLong(0)).sorted
    Files.write(new File(out).toPath, ids.mkString("\n").getBytes("UTF-8"))
    val bytes = st.families.map { case (r, _) => dirBytes(new File(r)) }.sum
    Map("wall_s" -> wall, "drains" -> drains.result(), "searches" -> found.result(),
      "survivors" -> out, "kept" -> ids.length.toLong, "index_bytes" -> bytes)
  }

  private def dirBytes(f: File): Long =
    if (f.isFile) { if (f.getName.startsWith(".")) 0L else f.length }
    else Option(f.listFiles).fold(0L)(_.map(dirBytes).sum)

  def layers(phase: Map[String, Any], t: Tracer): Map[String, Double] = {
    val drains = phase("drains").asInstanceOf[Seq[Drain]]
    val found = phase("searches").asInstanceOf[Seq[Search]].filter(_.traced)
    val work = t.jobs.attribute(
      drains.map(d => OpWindow(null, d.startMs, d.endMs)) ++
        found.map(s => OpWindow(null, s.startMs, s.endMs)))
    val (dWork, sWork) = work.splitAt(drains.size)
    val batches = t.stream.all
    def dur(b: t.stream.Batch, k: String) = b.durations.getOrElse(k, 0L).toDouble
    val nS = math.max(found.size, 1).toDouble
    val textBytes = drains.map(_.textBytes).sum.toDouble
    Map(
      "streaming.drain_s" -> Stats.median(drains.map(_.wallS)),
      "streaming.add_batch_ms" -> Stats.median(batches.map(dur(_, "addBatch"))),
      "streaming.commit_ms" -> Stats.median(batches.map(b =>
        dur(b, "walCommit") + dur(b, "commitOffsets"))),
      "streaming.jobs_per_batch" -> dWork.map(_.jobs).sum.toDouble / math.max(batches.size, 1),
      "streaming.kept_frac" ->
        phase("kept").asInstanceOf[Long].toDouble / drains.map(_.docs).sum,
      "index.files" -> drains.lastOption.fold(0.0)(_.postingsFiles.toDouble),
      "index.bytes_per_input_byte" ->
        phase("index_bytes").asInstanceOf[Long] / math.max(textBytes, 1.0),
      "index.compactions" -> drains.map(_.compactions).sum.toDouble,
      "retrieval.plan_ms" -> Stats.median(found.map(_.planMs)),
      "retrieval.exec_ms" -> Stats.median(found.map(_.execMs)),
      "retrieval.jobs" -> sWork.map(_.jobs).sum / nS,
      "retrieval.input_mb" -> sWork.map(w => Stats.mb(w.inputBytes)).sum / nS,
      // topKFromIndex stages a frame that only the caller's releaseAll frees
      "retrieval.staged_frames" -> found.map(_.staged.toDouble).sum / nS,
      "retrieval.cached_mb" -> found.map(_.cachedMb).sum / nS,
      "retrieval.release_ms" -> Stats.median(found.map(_.releaseMs)))
  }
}
