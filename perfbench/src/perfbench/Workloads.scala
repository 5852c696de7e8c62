package perfbench

/** The benchmark's workloads: the tables each one reads (loaded once during
  * set-up) and the catalog queries one pass runs. `osv5m-etl` also runs the
  * image step at the start of every pass. */
case class Workload(name: String, tables: Seq[String], queries: Seq[String],
                    imageStep: Boolean = false)

object Workloads {
  val all: Seq[Workload] = Seq(
    // The paper's pipeline: image ETL, metadata ETL, positional join.
    Workload("osv5m-etl", Seq("orders", "customer"),
      Seq("q72_osv5m_clean", "q10_positional_join"),
      imageStep = true),
    // Stateful streaming dedup: the semantic scrub gate, two micro-batches
    // through transformWithState on the RocksDB state store. It reads no
    // table, so its set-up is the session alone.
    Workload("stream-scrub", Nil, Seq("q215_semantic_scrub_stream")))

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (one of ${all.map(_.name).mkString(", ")})"))
}
