package graftbench

import java.io.File

import graft.ml.Dedup
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** `stream_ingest`: micro-batches through `Streams.dedupIngestBatch` at
  * its default threshold, inside `foreachBatch`, against a MinHash index
  * built in set-up and growing on disk with every append. One op is one
  * batch, timed from its release (`addData`) to its commit
  * (`processAllAvailable` returning); the next batch is released only
  * then.
  */
final class StreamIngest(spark: SparkSession, data: String, dir: File, tr: Tracer) extends Workload {
  import spark.implicits._

  private val indexDir = new File(dir, "index")
  private lazy val batches: Array[Array[(Long, String)]] = {
    val df = spark.read.schema("batch INT, doc_id BIGINT, text STRING").json(s"$data/batches.jsonl")
    df.collect().groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.map(r => (r.getLong(1), r.getString(2))).sortBy(_._1)).toArray
  }
  private lazy val expected: Map[Int, String] =
    scala.io.Source.fromFile(s"$data/survivors.txt", "UTF-8").getLines()
      .map(_.split("\t")).map(p => p(0).toInt -> p(1)).toMap

  private var stream: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  @volatile private var survivors: Seq[Long] = Nil
  @volatile private var ingestStartMs = 0L
  @volatile private var ingestNs = 0L
  private var indexBytes0 = 0L
  private var ingestedBytes = 0L
  private var survivorCount = 0L

  def itemsPerOp: Long = Gen.IngestBatchDocs
  def untimedNs: Long = 0L

  def setUp(): Unit = {
    val base = spark.read.schema("doc_id BIGINT, text STRING").json(s"$data/base.jsonl")
    val idx = Dedup.minhashIndex(base, "doc_id", "text")
    Dedup.writeMinhashIndex(idx, indexDir.getPath)
    idx.release()
    implicit val ctx: SQLContext = spark.sqlContext
    stream = MemoryStream[(Long, String)]
    val ingest = Streams.dedupIngestBatch(indexDir.getPath, "doc_id", "text")
    query = stream.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", new File(dir, "checkpoint").getPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // runs on the query's thread; the op records it as its child
        ingestStartMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        survivors = ingest(batch).select("doc_id").as[Long].collect().toSeq
        ingestNs = System.nanoTime() - t0
      }.start()
  }

  override def warmUp(): Unit = {
    (0 until Main.WarmOps).foreach(batch)
    indexBytes0 = bytes(indexDir)
  }

  private def batch(b: Int): Seq[Long] = {
    require(b < batches.length, s"ran out of pre-generated batches ($b)")
    survivors = Nil
    stream.addData(batches(b).toSeq)
    query.processAllAvailable()
    survivors
  }

  def op(i: Int): Map[String, String] = {
    val b = i + Main.WarmOps // the first batches are the warm-up
    val got = tr("streaming", "streaming.release_to_commit") {
      val s = batch(b)
      tr.nested("streaming", "streaming.dedup_ingest_batch", ingestStartMs, ingestNs)
      s
    }
    ingestedBytes += batches(b).map(_._2.getBytes("UTF-8").length.toLong).sum
    survivorCount += got.size
    Map("survivors" -> got.sorted.mkString(","))
  }

  def wrongOps(answers: Seq[Option[Map[String, String]]]): Seq[Int] =
    Check.failedOps((i: Int) => Map("survivors" -> expected(i + Main.WarmOps)), answers)

  private def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(bytes).sum else f.length

  private def files(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(files).sum else 1L

  def storedBytesPerInputByte: Double = (bytes(indexDir) - indexBytes0).toDouble / ingestedBytes

  def layerMetrics(): Map[String, Double] =
    Map(
      "streaming.index_files" -> files(indexDir).toDouble,
      "streaming.index_bytes" -> bytes(indexDir).toDouble,
      "streaming.survivors" -> survivorCount.toDouble) ++
      Probes.textKernels(batches.flatten.toSeq.toDF("doc_id", "text"))

  override def record: Map[String, Any] =
    Map("index_files" -> files(indexDir), "index_bytes" -> bytes(indexDir))

  def close(): Unit = if (query != null) query.stop()
}
