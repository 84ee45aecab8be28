package graft.perfbench

/** A closed-loop workload: `clients` callers, each running every query of
  * `queries` once per pass and sending the next only after the previous
  * one returned. A pass ends when every client has finished its list. */
final case class Workload(name: String, clients: Int, queries: Seq[String])

object Workloads {
  /** The hourly ingest -> clean -> gate -> stage -> star-load job: writes
    * beside reads, many short queries bound by fixed per-query cost. */
  val etlStar = Workload("etl_star", 1, Seq(
    "json_extract_events", "csv_roundtrip", "clean_pipeline", "dq_report",
    "staged_partitioned_write", "fact_orders", "merge_changelog"))

  /** Read-only analyst traffic: scan, shuffle and join, with two clients
    * planning concurrently on one driver. */
  val dashboard = Workload("dashboard", 2, Seq(
    "q1_pricing_summary", "q5_nation_revenue", "q6_forecast_revenue",
    "q21_waiting_suppliers", "skew_join", "bloom_join"))

  /** The LLM-data path: driver loops that start jobs while the frame is
    * built, per-row vector and shingle kernels, checkpoints. */
  val curation = Workload("curation", 1, Seq(
    "dedup_semantic", "dedup_minhash", "hop_distance", "sim_topk"))

  val all: Seq[Workload] = Seq(etlStar, dashboard, curation)

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))

  /** The order in which `client` runs `queries` in pass `pass`: a
    * Fisher-Yates shuffle seeded from (seed, pass, client), so one seed
    * always gives the same orders and every query runs exactly once. */
  def order(queries: Seq[String], seed: Long, pass: Int, client: Int): Seq[String] = {
    val mixed = seed * 0x9E3779B97F4A7C15L + pass * 0xBF58476D1CE4E5B9L +
      client * 0x94D049BB133111EBL
    val rng = new java.util.SplittableRandom(mixed)
    val a = queries.toArray
    for (i <- a.indices.reverse if i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}
