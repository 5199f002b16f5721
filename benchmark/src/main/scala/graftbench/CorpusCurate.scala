package graftbench

import java.io.File

import graft.functions.TextFunctions
import graft.ml.{Ann, Curate, Perplexity, QualityClassifier}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** `corpus_curate`: one batch curation pass per op, in stage order:
  * `Curate.curate` (language, length, repetition, exact dedup, PII),
  * perplexity, quality classifier, then semantic retrieval (IVF-PQ
  * build + write, reranked kNN for a fixed query batch). Each stage's
  * output is persisted and materialized before the next stage reads it,
  * so each span holds one stage's work.
  *
  * Fuzzy MinHash dedup is left to `stream_ingest`, which runs the same
  * `Dedup` verify and components code per batch. This workload is not
  * in BENCHMARK.json: one cold pass takes about 30 s on a 4-core host,
  * too long for the gated run budget; run it by hand for the `ml` layer.
  */
final class CorpusCurate(spark: SparkSession, data: String, dir: File, tr: Tracer) extends Workload {
  /** Perplexity ceiling: planted in-vocabulary docs score below 11, so
    * the gate keeps them all (its cost is measured, not its selectivity).
    */
  val MaxPpl = 100.0
  /** Quality floor: spam scored at most 0.496 and clean docs at least
    * 0.508 on seed 2 (60 iterations).
    */
  val MinQuality = 0.502
  val K = 10
  val QualityIters = 60

  private def json(name: String, schema: String): DataFrame =
    spark.read.schema(schema).json(s"$data/$name.jsonl")
      .repartition(spark.sparkContext.defaultParallelism).persist(StorageLevel.MEMORY_ONLY)
  private lazy val docs = json("docs", "doc_id BIGINT, text STRING")
  private lazy val reference = json("reference", "doc_id BIGINT, text STRING")
  private lazy val positives = json("positives", "doc_id BIGINT, text STRING")
  private lazy val negatives = json("negatives", "doc_id BIGINT, text STRING")
  private lazy val vectors = json("vectors", "vec_id BIGINT, embedding ARRAY<FLOAT>")
  private lazy val queries = json("queries", "vec_id BIGINT, embedding ARRAY<FLOAT>")
  private lazy val expected = scala.io.Source.fromFile(s"$data/survivors.txt", "UTF-8")
    .getLines().map(_.toLong).toSeq.sorted.mkString(",")

  private val cfg = Curate.Config(maxDupLineFrac = 0.5, maxTopNgramCharShare = 0.3)
  private var survivorCount = 0L
  private var untimed = 0L
  private var lastIndex: File = _
  private val knn = scala.collection.mutable.Map.empty[Int, Map[Long, Set[Long]]]

  def itemsPerOp: Long = Gen.CurateDocs
  def untimedNs: Long = untimed

  /** None: a curation job makes one pass per application, so users pay
    * the cold (JIT, codegen) cost of the first pass every time.
    */
  override def warmUp(): Unit = ()

  def setUp(): Unit = {
    Seq(docs, reference, positives, negatives, vectors, queries).foreach(_.count())
  }

  private def stage(name: String)(df: => DataFrame): DataFrame = tr("ml", name) {
    val p = df.persist(StorageLevel.MEMORY_ONLY)
    p.count()
    p
  }

  def op(i: Int): Map[String, String] = {
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { held += df; df }
    try {
      val curated = keep(stage("ml.curate")(Curate.curate(docs, "doc_id", "text", cfg)))
      val ppl = tr("ml", "ml.ppl_train")(Perplexity.collectModel(Perplexity.train(reference, "text")))
      val fluent = keep(stage("ml.ppl_filter")(
        curated.filter(Perplexity.pplColumn(col("text"), ppl) <= MaxPpl)))
      val clf = tr("ml", "ml.quality_train")(QualityClassifier.train(positives, negatives, "text", iters = QualityIters))
      val good = keep(stage("ml.quality_filter")(
        QualityClassifier.filterByQuality(fluent, "text", clf, MinQuality)))
      val survivors = good.select("doc_id").collect().map(_.getLong(0)).sorted
      survivorCount = survivors.length
      val leaked = {
        val t0 = System.nanoTime()
        try curated.filter(col("text").rlike(TextFunctions.piiPatterns.head._1)).count()
        finally untimed += System.nanoTime() - t0
      }
      // The quantizers are memoized per corpus plan inside one JVM; an
      // op-specific no-op filter gives every op its own plan, so each op
      // trains like the one pass a curation job makes per corpus.
      val corpus = vectors.filter(col("vec_id") =!= lit(-1L - i))
      val index = new File(dir, s"pq$i")
      val (cents, cbs, idx) = tr("ml", "ml.ann_build") {
        val cents = Ann.trainCentroids(corpus, "embedding", nList = 16)
        val cbs = Ann.trainPq(corpus, "embedding", cents, m = 8)
        val idx = keep(Ann.buildPqIndex(corpus, "vec_id", "embedding", cents, cbs)
          .persist(StorageLevel.MEMORY_ONLY))
        Ann.writePqIndex(idx, index.getPath, cents, cbs)
        (cents, cbs, idx)
      }
      val found = tr("ml", "ml.ann_query") {
        Ann.pqKnnRerank(idx, queries, corpus, "vec_id", "embedding", cents, cbs, k = K, nProbe = 16)
          .select("query_id", "neighbour_id").collect()
      }
      knn(i) = found.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      if (lastIndex != null) Gen.deleteTree(lastIndex)
      lastIndex = index
      Map("survivors" -> survivors.mkString(","), "pii_leaked" -> leaked.toString)
    } finally held.foreach(_.unpersist())
  }

  /** Exact cosine top-k of the query batch (cached per seed). */
  private lazy val exact: Map[Long, Set[Long]] = {
    val cache = new File(data, "exact_knn.txt")
    if (!cache.isFile) {
      val rows = Ann.exactCosineKnn(vectors, queries, "vec_id", "embedding", K).collect()
        .map(r => s"${r.getLong(0)}\t${r.getLong(1)}")
      java.nio.file.Files.write(cache.toPath, rows.mkString("\n").getBytes("UTF-8"))
    }
    scala.io.Source.fromFile(cache, "UTF-8").getLines().map(_.split("\t"))
      .map(p => p(0).toLong -> p(1).toLong).toSeq.groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
  }

  /** Recall@K floor: the reranked PQ kNN with every list probed
    * measured 0.96 on seed 1; the floor leaves a margin for other seeds.
    */
  val RecallFloor = 0.9

  def recall(i: Int): Double = {
    val got = knn.getOrElse(i, Map.empty)
    exact.map { case (q, want) => (got.getOrElse(q, Set.empty) intersect want).size }.sum.toDouble /
      exact.values.map(_.size).sum
  }

  def wrongOps(answers: Seq[Option[Map[String, String]]]): Seq[Int] = {
    val want = Map("survivors" -> expected, "pii_leaked" -> "0")
    val wrong = Check.failedOps((_: Int) => want, answers)
    (wrong ++ answers.indices.filter(i => recall(i) < RecallFloor)).distinct.sorted
  }

  /** PQ index bytes per byte of raw float32 embeddings. */
  def storedBytesPerInputByte: Double = {
    def bytes(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(bytes).sum else f.length
    bytes(lastIndex).toDouble / (Gen.CurateVectors.toLong * Gen.VectorDim * 4)
  }

  def layerMetrics(): Map[String, Double] = {
    val ppl = Perplexity.collectModel(Perplexity.train(reference, "text"))
    val clf = QualityClassifier.train(positives, negatives, "text", iters = QualityIters)
    Map(
      "ml.ppl_ns_per_row" -> Probes.nsPerRow(docs, Perplexity.pplColumn(col("text"), ppl)),
      "ml.quality_prob_ns_per_row" -> Probes.nsPerRow(docs, QualityClassifier.prob(col("text"), clf)),
      "ml.survivors" -> survivorCount.toDouble,
      "ml.ann_recall_at_10" -> Stats.median(knn.keys.filter(_ >= 0).toSeq.map(recall))) ++
      Probes.textKernels(docs)
  }

  override def record: Map[String, Any] = Map(
    "ann_recall_at_10" -> knn.keys.filter(_ >= 0).toSeq.sorted.map(recall))

  def close(): Unit = Seq(docs, reference, positives, negatives, vectors, queries).foreach(_.unpersist())
}
