package webdocbench

import org.apache.spark.sql.DataFrame

object Workload {
  /** what a workload hands back for reporting: the set-up times, the raw
    * bytes of its generated input, the input rows (the per-layer probes cut
    * their blocks from them), its main table, its compression ratio, and
    * extra figures printed beside the metrics */
  final case class Outcome(setupS: Seq[Double], rawBytes: Long, input: DataFrame,
                           partitions: Int, table: String, probeUrl: String,
                           probeRange: (Long, Long), ratio: Double,
                           details: Seq[(String, (Double, String))])

  /** warc_ts bounds of the generated rows [from, from + n) */
  def idRange(from: Long, n: Long): (Long, Long) =
    (Gen.BaseMicros + from * Gen.StepMicros, Gen.BaseMicros + (from + n) * Gen.StepMicros)

  val names = Seq("ingest", "scan", "lifecycle")

  def run(name: String, ctx: Ctx, seconds: Int): Outcome = name match {
    case "ingest" => Ingest.run(ctx, seconds)
    case "scan" => Scan.run(ctx, seconds)
    case "lifecycle" => Lifecycle.run(ctx, seconds)
  }
}
