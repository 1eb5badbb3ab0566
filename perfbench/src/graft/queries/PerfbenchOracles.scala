package graft.queries

import graft.scale.Dedup

/** The library's DuckDB replay of MinHash-LSH near-duplicate detection
  * is package-private to `graft.queries`; the benchmark's output check
  * of `Dedup.nearDuplicates` runs the same replay on its own input. */
object PerfbenchOracles {
  /** `Dedup.nearDuplicates(documents, "doc_id", "text", minJaccard, p,
    * maxBucket)` as DuckDB SQL over a `documents` view: rows
    * `(id_a, id_b, jaccard)`. */
  def nearDuplicatesSql(p: Dedup.MinHashParams, minJaccard: Double,
      maxBucket: Option[Int]): String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
       |  FROM documents),
       |${MinhashOracle.cteChain("t", p, minJaccard, maxBucket)}
       |SELECT id_a, id_b, jaccard FROM verified_min""".stripMargin
}
