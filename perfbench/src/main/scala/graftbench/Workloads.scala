package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The workloads: which registered queries each pass runs, how many
  * closed-loop clients drive them, how many untimed passes warm them up,
  * which tables they read, and whether the pass also runs the on-disk
  * vector-store cycle. Ops are named by
  * their `SparkEntry.queries` key; the short ids below are resolved by
  * prefix (`q2` → `q2_filter_project`). */
final case class Workload(
    name: String,
    clients: Int,
    warmPasses: Int,
    queries: Seq[String],
    tables: Seq[String],
    storeCycle: Boolean)

object Workloads {

  val all: Seq[Workload] = Seq(
    Workload("chat_serve", clients = 2, warmPasses = 2,
      queries = Seq(
        // filters, $in, regex search, pagination, $group, latest-per-thread
        "q2", "q6", "q7", "q8", "q11", "q12", "q28", "q37",
        // token counting and cost
        "t1", "t22",
        // brute-force and LSH retrieval, fetch by id
        "s1", "s2", "v6"),
      tables = Seq("orders", "customer", "part", "events", "documents", "embeddings"),
      storeCycle = false),
    Workload("corpus_prep", clients = 2, warmPasses = 1,
      // dedup (exact, MinHash, embedding), quality, BPE, CC; the store
      // cycle writes the corpus's chunk index and deletes from it
      queries = Seq("d1", "d3", "d5", "t8", "t30", "g4"),
      tables = Seq("documents", "embeddings"),
      storeCycle = true))

  def named(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))

  type Query = (SparkSession, String) => DataFrame

  /** Resolve short ids against the registry; every id must match exactly
    * one registered query. */
  def resolve(ids: Seq[String], registry: Map[String, Query]): Seq[(String, Query)] =
    ids.map { id =>
      registry.keys.filter(_.startsWith(id + "_")).toSeq match {
        case Seq(full) => full -> registry(full)
        case found => throw new IllegalArgumentException(
          s"op '$id' matches ${found.size} registered queries: ${found.sorted.mkString(", ")}")
      }
    }
}
