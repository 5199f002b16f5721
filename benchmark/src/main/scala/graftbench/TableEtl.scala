package graftbench

import java.io.File

import graft.Tab
import graft.operators.Filters.Criterion
import graft.sources.Readers.CsvOptions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** `table_etl`: tablite's own use, through `Tab` only. One op is a full
  * pass: typed CSV import, then filter, join, lookup, groupby, pivot,
  * sort and imputation on the persisted import, then save to parquet,
  * reload and export to CSV. Each step is timed through one action that
  * evaluates all its output columns: the [[Check.digest]] aggregate, or
  * the noop sink for the sort (an aggregate over a sort lets Catalyst
  * drop the sort).
  */
final class TableEtl(spark: SparkSession, data: String, dir: File, tr: Tracer) extends Workload {
  private val orders = s"$data/orders.csv"
  private var products: Tab = _
  private var stores: Tab = _
  private var untimed = 0L
  private var lastSaved: File = _
  private val sortedHeads = scala.collection.mutable.Map.empty[Int, Seq[String]]

  def itemsPerOp: Long = Gen.EtlRows
  /** A third pass: after two, the next pass still reads about a fifth
    * slower than the ones after it.
    */
  override def warmOps: Int = 3
  def untimedNs: Long = untimed

  private def untimedCall[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally untimed += System.nanoTime() - t0
  }

  def setUp(): Unit = {
    products = Tab(Tab.fromFile(spark, s"$data/products.csv").df.persist(StorageLevel.MEMORY_ONLY))
    stores = Tab(Tab.fromFile(spark, s"$data/stores.csv").df.persist(StorageLevel.MEMORY_ONLY))
    products.df.count()
    stores.df.count()
  }

  private val sortKeys = Seq(("delivery_date", true), ("row_id", false))

  def op(i: Int): Map[String, String] = {
    val got = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def d(name: String, df: => DataFrame): Unit =
      got(name) = tr("operators", s"operators.$name")(Check.digest(df)).toString
    val t = tr("sources", "sources.csv_import_typed") {
      val df = Tab.fromFile(spark, orders).df.persist(StorageLevel.MEMORY_ONLY)
      got("import") = Check.digest(df).toString
      Tab(df)
    }
    try {
      d("filter", t.filter(Seq(Criterion.cv("volume", ">", 1.25), Criterion.cv("bit", "==", 1)))._1.df)
      d("join", t.join(products, Seq("product_id"), Seq("product_id")).df)
      d("lookup", t.lookup(stores, col("l.store_id") === col("r.store_id"), "rank").df)
      d("groupby", t.groupby(Seq("store_id", "code"),
        Seq(("volume", "Sum"), ("units", "Max"), ("row_id", "Count"))).df)
      d("pivot", t.pivot(Seq("code"), Seq("temperature"), Seq(("volume", "Sum")), valuesAsRows = false).df)
      val sorted = t.sorted(sortKeys)
      tr("operators", "operators.sort")(Probes.noop(sorted.df))
      untimedCall { sortedHeads(i) = head(sorted.df) }
      val imputed = t.imputation(Seq("volume"), "mean")
      d("impute", imputed.df)
      val saved = new File(dir, s"pass$i.parquet")
      tr("sources", "sources.parquet_save")(imputed.save(saved.getPath))
      val loaded = tr("sources", "sources.parquet_load") {
        val l = Tab.load(spark, saved.getPath)
        got("reload") = Check.digest(l.df).toString
        l
      }
      val csv = new File(dir, s"pass$i.csv")
      tr("sources", "sources.csv_export")(loaded.toCsv(csv.getPath))
      untimedCall {
        got("export") = Check.digest(spark.read.schema(Reference.ordersSchema)
          .option("header", "true").csv(csv.getPath)).toString
        if (lastSaved != null) Gen.deleteTree(lastSaved)
        lastSaved = saved
        Gen.deleteTree(csv)
      }
    } finally t.df.unpersist()
    got.toMap
  }

  private def head(df: DataFrame): Seq[String] = df.limit(50).collect().map(_.mkString("|")).toSeq

  /** The same answers by plain Spark SQL over a schema-typed CSV read. */
  private object Reference {
    val ordersSchema = "row_id BIGINT, order_id BIGINT, delivery_date DATE, store_id BIGINT, " +
      "bit BIGINT, product_id BIGINT, code STRING, category STRING, temperature STRING, " +
      "`group` STRING, volume DOUBLE, units DOUBLE"

    def answers(): (Map[String, String], Seq[String]) = {
      def csv(name: String, schema: String) =
        spark.read.schema(schema).option("header", "true").csv(s"$data/$name.csv")
          .createOrReplaceTempView(name)
      csv("orders", ordersSchema)
      csv("products", "product_id BIGINT, brand STRING, price DOUBLE")
      csv("stores", "store_id BIGINT, rank BIGINT, region STRING")
      def q(sql: String) = Check.digest(spark.sql(sql)).toString
      val cols = "row_id, order_id, delivery_date, store_id, bit, product_id, code, category, " +
        "temperature, `group`"
      val imputed = s"SELECT $cols, coalesce(volume, (SELECT avg(volume) FROM orders)) AS volume, " +
        "units FROM orders"
      val temps = spark.sql("SELECT DISTINCT temperature FROM orders WHERE temperature IS NOT NULL " +
        "ORDER BY temperature").collect().map(_.getString(0))
      val pivotCols = temps.map(v => s"sum(IF(temperature = '$v', volume, NULL))").mkString(", ")
      val a = Map(
        "import" -> q("SELECT * FROM orders"),
        "filter" -> q("SELECT * FROM orders WHERE volume > 1.25 AND bit = 1"),
        "join" -> q("SELECT o.*, p.product_id, p.brand, p.price FROM orders o JOIN products p " +
          "ON o.product_id = p.product_id"),
        "lookup" -> q(s"SELECT o.*, s.store_id, s.rank, s.region FROM orders o LEFT JOIN " +
          "(SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY store_id ORDER BY rank, region) " +
          "AS rn FROM stores) WHERE rn = 1) s ON o.store_id = s.store_id"),
        "groupby" -> q("SELECT store_id, code, sum(volume), max(units), count(1) FROM orders " +
          "GROUP BY store_id, code"),
        "pivot" -> q(s"SELECT code, $pivotCols FROM orders GROUP BY code"),
        "impute" -> q(imputed),
        "reload" -> q(imputed),
        "export" -> q(imputed))
      val sortHead = spark.sql("SELECT * FROM orders ORDER BY delivery_date DESC, row_id LIMIT 50")
        .collect().map(_.mkString("|")).toSeq
      (a, sortHead)
    }
  }

  def wrongOps(answers: Seq[Option[Map[String, String]]]): Seq[Int] = {
    val cache = new File(data, "reference.txt")
    val (want, sortHead) =
      if (cache.isFile) {
        val ls = scala.io.Source.fromFile(cache, "UTF-8").getLines().toSeq
        val (a, s) = ls.span(_ != "--")
        (a.map(_.split("\t", 2)).map(p => p(0) -> p(1)).toMap, s.drop(1))
      } else {
        val (a, s) = Reference.answers()
        val text = (a.map { case (k, v) => s"$k\t$v" }.toSeq :+ "--") ++ s
        java.nio.file.Files.write(cache.toPath, text.mkString("\n").getBytes("UTF-8"))
        (a, s)
      }
    val wrong = Check.failedOps((_: Int) => want, answers)
    val unsorted = answers.indices.filter(i => !sortedHeads.get(i).contains(sortHead))
    (wrong ++ unsorted).distinct.sorted
  }

  def storedBytesPerInputByte: Double = {
    val files = Option(lastSaved.listFiles()).getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
    files.map(_.length).sum.toDouble / new File(orders).length
  }

  def layerMetrics(): Map[String, Double] = {
    // raw (untyped) import beside the typed one: the difference is the
    // type inference cost
    val raw = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      Check.digest(Tab.fromFile(spark, orders, CsvOptions(guessDatatypes = false)).df)
      (System.nanoTime() - t0) / 1e9
    }
    val typed = Stats.median(tr.byName("sources.csv_import_typed").map(_.durS))
    val op = Stats.median(tr.byName("op").map(_.durS))
    Map(
      "sources.csv_import_raw_s" -> Stats.median(raw),
      "sources.csv_import_raw_frac" -> Stats.median(raw) / op,
      "functions.type_inference_s" -> (typed - Stats.median(raw)),
      "functions.type_inference_frac" -> (typed - Stats.median(raw)) / op,
      "sources.output_bytes_per_input_byte" -> storedBytesPerInputByte) ++
      Probes.textKernels(spark.read.text(orders).toDF("text"))
  }

  def close(): Unit = {
    if (products != null) products.df.unpersist()
    if (stores != null) stores.df.unpersist()
  }
}
