package perfbench

import java.io.File

import graft.scale.{Bpe, Curation, Dedup, Retrieval, Similarity, TextStats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `corpus_curation`: the LLM-data pipeline over KB-sized documents.
  *
  * GenScale documents (3× words per document, about 1 KB each) and embeddings, plus
  * seeded near-duplicates: a seeded tenth of the documents is copied
  * under new ids with one seeded word prepended, so the dedup, LSH and
  * connected-components stages have clusters to find. One pass runs
  * the q130 curation chain, a standalone near-duplicate detection, PQ
  * top-k similarity, BM25 retrieval, BPE encoding with merges trained
  * in setup, and a text-statistics projection to the noop sink.
  *
  * Each pass writes the output of every stage but the projection under
  * `out/<stage>/pass=<i>`, for the DuckDB checks: the registered q130
  * and q149 oracles, the library's MinHash-LSH replay, an independent
  * BM25 in SQL and per-document invariants of the BPE encoding. */
final class Corpus(spark: SparkSession, trace: Trace, seed: Long, tiny: Boolean)
    extends Workload {
  import Corpus._

  private val mult = if (tiny) 0.01 else 0.03

  private var dir: File = _
  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var vecQueries: DataFrame = _
  private var merges: DataFrame = _
  private var termQueries: Seq[(Long, Seq[String])] = Nil
  private var nDocs = 0L
  private var maxGenId = 0L

  private def path(p: String) = new File(dir, p).getAbsolutePath

  def setup(d: File): Unit = {
    dir = d
    dir.mkdirs()
    graft.GenScale.generate(spark, path("gen"), mult, DocWords,
      Some(Set("documents", "embeddings")))
    val gen = spark.read.parquet(path("gen/documents.parquet"))
    val maxId = gen.agg(max("doc_id")).head().getLong(0)
    maxGenId = maxId
    // seeded samples of fixed size, so every seed curates as many documents
    val rnd = new scala.util.Random(seed)
    def sample(ids: Seq[Long], frac: Int): Seq[Long] =
      rnd.shuffle(ids.sorted).take(math.max(1, ids.size / frac))
    val genIds = gen.select("doc_id").collect().map(_.getLong(0)).toSeq
    val vocab = typedLit(Vocab)
    val planted = gen
      .filter(col("doc_id").isin(sample(genIds, 10): _*))
      .withColumn("doc_id", col("doc_id") + lit(maxId + 1))
      .withColumn("text", concat(element_at(vocab,
        (pmod(xxhash64(col("doc_id"), lit(seed), lit(1)), lit(Vocab.size)) + 1)
          .cast("int")), lit(" "), col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    gen.unionByName(planted).repartition(4)
      .write.parquet(path("in/documents.parquet"))
    spark.read.parquet(path("gen/embeddings.parquet"))
      .write.parquet(path("in/embeddings.parquet"))
    docs = spark.read.parquet(path("in/documents.parquet"))
    vecs = spark.read.parquet(path("in/embeddings.parquet"))
    nDocs = docs.count()
    val queryIds = sample(vecs.select("vec_id").collect().map(_.getLong(0)).toSeq, 40).sorted
    vecQueries = vecs.filter(col("vec_id").isin(queryIds: _*))
    termQueries = (1 to 16).map(q =>
      (q.toLong, Seq.fill(2 + rnd.nextInt(2))(Vocab(rnd.nextInt(Vocab.size))).distinct))
    merges = Bpe.train(
      docs.filter(col("doc_id").isin(
        sample(docs.select("doc_id").collect().map(_.getLong(0)).toSeq, 8): _*)),
      "text", NMerges).localCheckpoint()
    new File(path("out")).mkdirs()
    def sql(name: String, text: String): Unit =
      java.nio.file.Files.writeString(new File(path(s"out/$name.sql")).toPath, text)
    sql("curation", registeredOracle("q130_curation_v2"))
    sql("dedup", graft.queries.PerfbenchOracles.nearDuplicatesSql(
      CurationParams, MinJaccard, Some(MaxBucket)))
    sql("similarity", similarityOracle(queryIds))
  }

  def op(i: Int): Long = {
    pass(i)
    nDocs
  }

  private def curation(): DataFrame = Curation.curateV2(
    corpus = docs.filter(col("doc_id") % 50 =!= 0),
    bench = docs.filter(col("doc_id") % 50 === 0),
    embeddings = vecs, idCol = "doc_id", textCol = "text", langCol = "lang",
    minQuality = 0.5, minJaccard = MinJaccard, p = CurationParams,
    semK = 8, semIters = 2, semMinCosine = 0.9, semMaxNeighbors = 16,
    unitTokens = 3, decontamN = 5, tau = 0.7, budgetDocs = 150L,
    packBudget = 512L, packShards = 4, maxBucket = Some(MaxBucket))

  /** One pass: every stage's output but the projection's is written
    * out for the checks. */
  private def pass(i: Int): Unit = {
    def save(stage: String, df: DataFrame): Unit =
      df.write.parquet(path(s"out/$stage/pass=$i"))
    trace.span("scale.curation")(save("curation", curation()))
    trace.span("scale.dedup")(save("dedup", Dedup.nearDuplicates(
      docs, "doc_id", "text", MinJaccard, CurationParams, Some(MaxBucket))))
    trace.span("scale.similarity")(save("similarity",
      Similarity.pqTopK(vecs, vecQueries, "vec_id", "embedding", k = TopK, dim = 64)))
    trace.span("scale.retrieval")(save("retrieval",
      Retrieval.bm25Queries(docs, "doc_id", "text", termQueries, k = TopK)))
    trace.span("scale.bpe")(save("bpe",
      Bpe.encode(docs, "doc_id", "text", merges, NMerges)))
    trace.span("functions") {
      docs.select(col("doc_id"), TextStats.qualityScore(col("text")).as("q"),
        TextStats.langId(col("text")).as("lang_id"),
        graft.functions.Simhash.sigCol(Dedup.tokenSet(col("text")), 64, true)
          .as("simhash"))
        .write.format("noop").mode("overwrite").save()
    }
  }

  def finish(): Map[String, Any] = Map(
    "dir" -> dir.getAbsolutePath, "docs" -> nDocs, "max_gen_id" -> maxGenId,
    "top_k" -> TopK,
    "term_queries" -> termQueries.map { case (q, ts) => Map("id" -> q, "terms" -> ts) })
}

object Corpus {
  /** The q130 MinHash parameters (its oracle replays exactly these). */
  val CurationParams: Dedup.MinHashParams =
    Dedup.MinHashParams(k = 64, bands = 16, shingle = 3, reproducible = true)
  val NMerges = 64
  /** GenScale's words-per-document multiplier: about 1 KB per document. */
  val DocWords = 3
  /** GenScale's document vocabulary. */
  val Vocab: Seq[String] = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  val MinJaccard = 0.7
  val MaxBucket = 1000
  /** Rows per query of the similarity and retrieval stages. */
  val TopK = 10

  def registeredOracle(name: String): String = graft.SparkEntry.registry
    .find(_.name == name).flatMap(_.oracle).map(_())
    .getOrElse(sys.error(s"$name has no registered oracle"))

  /** q149's oracle replays `Similarity.pqTopK` with this workload's
    * parameters (dim 64, m 8, ksub 16, k 10) for the queries
    * `vec_id < 5`; here it is pointed at the seeded query set. */
  def similarityOracle(queryIds: Seq[Long]): String = {
    val sql = registeredOracle("q149_ann_pq")
    val from = "FROM e WHERE vec_id < 5)"
    require(sql.split(java.util.regex.Pattern.quote(from), -1).length == 2,
      "q149's oracle no longer selects its queries as expected")
    require(sql.contains(s"rank <= $TopK"), "q149's oracle no longer keeps the top 10")
    sql.replace(from, s"FROM e WHERE vec_id IN (${queryIds.mkString(", ")}))")
  }
}
