package graftbench

import org.apache.spark.sql.SparkSession

/** `pipeline_ingest`: one batch job in a fresh JVM. It runs the operator
  * keys over the corpus ([[PipelineWorkload]]), then drains the arrival
  * files through the streaming ingest with searches after each drain
  * ([[IngestWorkload]]). Each half gets half of the measured time; both
  * run their whole unit of work (a pass, the arrival sequence) at least
  * once. A traced run is one phase; its searches alternate between traced
  * and untraced, which gives the tracing overhead without running the
  * batch twice.
  */
final class PipelineIngestWorkload(cfg: Config) extends Workload {
  private val pipeline = new PipelineWorkload(cfg)
  private val ingest = new IngestWorkload(cfg)

  def setUp(spark: SparkSession): Unit = {
    pipeline.setUp(spark)
    ingest.setUp(spark)
  }

  def measure(seconds: Double, trace: Option[Tracer]): Map[String, Any] = {
    val t0 = System.nanoTime()
    val p = pipeline.measure(seconds / 2, trace)
    val i = ingest.measure(seconds / 2, trace)
    Map("wall_s" -> (System.nanoTime() - t0) / 1e9, "pipeline" -> p, "ingest" -> i)
  }

  def layers(phase: Map[String, Any], t: Tracer): Map[String, Double] = {
    def part(k: String) = phase(k).asInstanceOf[Map[String, Any]]
    ingest.layers(part("ingest"), t) ++ pipeline.layers(part("pipeline"), t)
  }
}
