package perfbench

import graft.queries.{QueryDef, Registry}

/** The workloads: named lists from the engine's query catalog. Why each
  * was chosen, and which layer metrics should move on it, is in
  * perfbench/README.md. */
object Workloads {
  val lists: Map[String, Seq[String]] = Map(
    // CPU- and shuffle-heavy text kernels and bloom-sketch dedup, plus a
    // sketch table staged once per run and a pipeline fan-out whose
    // shared upstream is persisted
    "curation" -> Seq("q_dedup_incremental", "q_text_tokens",
      "q_agg_sketch_union", "q_pipe_fanout"),
    // AvailableNow micro-batches: state-store commits, checkpoint writes,
    // per-batch replanning
    "streaming" -> Seq("q_stream_tumbling", "q_stream_dedup"),
  )

  def apply(name: String): Seq[QueryDef] = {
    val names = lists.getOrElse(name, sys.error(
      s"unknown workload '$name' (known: ${lists.keys.toSeq.sorted.mkString(", ")})"))
    val byName = Registry.all.map(q => q.name -> q).toMap
    names.map(n => byName.getOrElse(n, sys.error(s"no query '$n' in the catalog")))
  }
}
