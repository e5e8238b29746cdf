package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's owner table is the only place shared-state attribution is
  * written down: every state name used in `src/main` needs exactly one
  * owner row, and every lane the table names must be a real lane. */
class StateOwnersSpec extends AnyFunSuite {

  private val sources: Seq[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toList
    finally files.close()
  }

  private val call = """SharedState\.(?:frame|getOrBuild)(?:\[[^\]]*\])?\(""".r
  private val namedCall =
    """SharedState\.(?:frame|getOrBuild)(?:\[[^\]]*\])?\(\s*[\w.]+,\s*"([^"]+)"""".r

  /** State names passed as literals at the registry's call sites. */
  private val declared: Set[String] =
    sources.flatMap(namedCall.findAllMatchIn(_).map(_.group(1))).toSet

  test("every state name in src/main has exactly one owner row") {
    assert(sources.map(call.findAllMatchIn(_).size).sum ==
      sources.map(namedCall.findAllMatchIn(_).size).sum,
      "a SharedState call site passes its state name as a non-literal")
    assert(declared.nonEmpty)
    for (name <- declared)
      assert(Bench.stateOwners.count(_.states.contains(name)) == 1, name)
    assert(Bench.stateOwners.flatMap(_.states).toSet == declared)
  }

  test("every lane named in the table is a SparkEntry lane") {
    val lanes = Bench.stateOwners.flatMap(_.lanes).toSet
    assert(lanes.size == 31)
    assert(lanes -- SparkEntry.queries.keySet == Set.empty)
  }

  test("the owners are the eleven lanes that pay a shared build") {
    assert(Bench.stateOwners.map(_.lane).sorted == Seq(
      "q_curation", "q_triangle_count", "q_bpe_merges", "q_cov_matrix",
      "q_vec_clusters", "q_cf_similarity", "q_table_profile",
      "q_dedup_editdist", "q_vec_pq", "q_vec_rpq", "q_curation_incr").sorted)
  }
}
