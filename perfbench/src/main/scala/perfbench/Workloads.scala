package perfbench

import graft.SparkEntry

/** The benchmark's query sets, by short key (`q01` for
  * `q01_pricing_summary`). README.md says why each set was chosen. */
object Workloads {
  private val shortKeys: Map[String, Seq[String]] = Map(
    // Six queries of the frozen round-2 board q01-q72: a watermark join,
    // a pivot, a window, a rollup and two readers (fixed width, CSV). Per-
    // query fixed costs (table open, Catalyst, job launch) dominate.
    "etl_board" -> Seq("q03", "q09", "q21", "q33", "q39", "q42"),
    // The CPU-dense near-duplicate chain at three of the hand-placed scan
    // spreads: winnow (q119), prefix Jaccard (q121) and containment (q154).
    // Execution and eager builder jobs dominate.
    "dedup_cpu" -> Seq("q119", "q121", "q154"),
    // AvailableNow streaming runs (aggregate, dedup) plus write round trips
    // (schema evolution, ORC): state stores, checkpoints, file writes.
    "stream_write" -> Seq("q90", "q96", "q103", "q145"),
  )

  def names: Seq[String] = shortKeys.keys.toSeq.sorted

  /** Full query names of a workload, in a fixed canonical order. */
  def queries(workload: String): Seq[String] = {
    val byShort = SparkEntry.queries.keys
      .map(n => n.takeWhile(_ != '_') -> n).toMap
    shortKeys.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
      .map(k => byShort.getOrElse(k,
        throw new IllegalStateException(s"no query with key $k")))
  }

  /** Prints the full query names of the given workloads, one per line. */
  def main(args: Array[String]): Unit =
    args.toSeq.flatMap(queries).distinct.foreach(println)
}
