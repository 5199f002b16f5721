package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

/** Seeded input generation for the three workloads.
  *
  * Plain JVM code with no Spark and no graft calls, so a change to the
  * library can never change the inputs it is measured on. The same
  * seed writes byte-identical files. Each generator also writes the
  * planted truth the correctness checks compare against.
  *
  * Run: `Gen <workload> <seed> <dir>`; the directory appears atomically
  * (written under a temporary name, then renamed).
  */
object Gen {

  // ---- sizes (also stated in benchmark/layers.json) -------------------
  val EtlRows = 100000
  val EtlProducts = 27001          // product ids 3000..30000
  val EtlStores = 1000             // store ids 50000..50999
  val CurateDocs = 4000
  val CurateVectors = 6000
  val CurateQueries = 50
  val VectorDim = 32
  val VectorClusters = 40
  val IngestBaseDocs = 3000
  val IngestBatchDocs = 300
  val IngestBatches = 40

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Gen <workload> <seed> <dir>")
    val Array(workload, seedS, dirS) = args
    val seed = seedS.toLong
    val dir = new File(dirS)
    val tmp = new File(dir.getParentFile, dir.getName + ".tmp")
    deleteTree(tmp)
    tmp.mkdirs()
    workload match {
      case "table_etl" => tableEtl(seed, tmp)
      case "corpus_curate" => corpusCurate(seed, tmp)
      case "stream_ingest" => streamIngest(seed, tmp)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    deleteTree(dir)
    Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def writer(f: File): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)

  private def withWriter(f: File)(body: BufferedWriter => Unit): Unit = {
    val w = writer(f)
    try body(w) finally w.close()
  }

  // ---- table_etl -------------------------------------------------------

  /** tablite's `synthetic_order_data` 12-column shape: ints, ISO dates,
    * categorical strings, the literal "None", floats written as text.
    * Floats are multiples of 1/128 (volume) and 1/8 (units): exact in
    * binary, so sums and means do not depend on summation order and the
    * reference answers can be compared by hash.
    */
  def tableEtl(seed: Long, dir: File): Unit = {
    val r = new SplittableRandom(seed * 1000003L + 1)
    val temps = Array("None", "0°", "6°", "21°")
    val groups = Array("ABC", "XYZ", "")
    withWriter(new File(dir, "orders.csv")) { w =>
      w.write("row_id,order_id,delivery_date,store_id,bit,product_id,code,category,temperature,group,volume,units\n")
      val day0 = java.time.LocalDate.of(2021, 7, 29)
      var i = 1
      while (i <= EtlRows) {
        val sb = new java.lang.StringBuilder(96)
        sb.append(i).append(',')
          .append(r.nextLong(18778628504L, 2277772117505L)).append(',')
          .append(day0.plusDays(r.nextInt(151)).toString).append(',')
          .append(50000 + r.nextInt(EtlStores)).append(',')
          .append(r.nextInt(2)).append(',')
          .append(3000 + r.nextInt(EtlProducts)).append(',')
          .append('C').append(1 + r.nextInt(5)).append('-').append(1 + r.nextInt(5)).append(',')
          .append(('A' + r.nextInt(6)).toChar).append(('A' + r.nextInt(6)).toChar)
          .append(('A' + r.nextInt(6)).toChar).append(',')
          .append(temps(r.nextInt(4))).append(',')
          .append(groups(r.nextInt(3))).append(',')
        // 5% null volume: the imputation target
        if (r.nextInt(20) != 0) sb.append((1 + r.nextInt(320)) / 128.0)
        sb.append(',').append((1 + r.nextInt(200)) / 8.0).append('\n')
        w.write(sb.toString)
        i += 1
      }
    }
    // product dimension for the join: 80% of product ids exist
    withWriter(new File(dir, "products.csv")) { w =>
      w.write("product_id,brand,price\n")
      var p = 3000
      while (p <= 30000) {
        if (r.nextInt(5) != 0)
          w.write(s"$p,B${r.nextInt(40)},${(1 + r.nextInt(4000)) / 16.0}\n")
        p += 1
      }
    }
    // store dimension for the lookup: every store id, two regions rows
    // per store so the lookup's first-match rule matters
    withWriter(new File(dir, "stores.csv")) { w =>
      w.write("store_id,rank,region\n")
      var s = 50000
      while (s < 50000 + EtlStores) {
        w.write(s"$s,${r.nextInt(100)},R${r.nextInt(12)}\n")
        w.write(s"$s,${100 + r.nextInt(100)},R${r.nextInt(12)}\n")
        s += 1
      }
    }
  }

  // ---- text model shared by corpus_curate and stream_ingest -------------

  /** Fixed (seed-independent) vocabularies: the language the corpus is
    * written in does not change with the seed, only which docs are drawn.
    */
  object Lang {
    // stopwords unique to one language profile in TextFunctions.langProfiles
    val stop: Map[String, Array[String]] = Map(
      "en" -> Array("the", "and", "is", "of", "to", "in", "that", "it", "for", "was"),
      "de" -> Array("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von"),
      "es" -> Array("el", "los", "las", "y", "un"),
      "fr" -> Array("le", "les", "est", "et", "des", "une", "dans"))
    val langs: Array[String] = Array("en", "de", "es", "fr")
    private val syll: Map[String, Array[String]] = Map(
      "en" -> Array("ba", "ter", "ing", "son", "ly", "wa", "rk", "ble", "com", "pre"),
      "de" -> Array("sch", "ung", "ken", "ber", "lich", "gen", "hau", "keit", "ver", "zen"),
      "es" -> Array("ci", "on", "ado", "mer", "ra", "que", "ta", "dor", "pue", "lla"),
      "fr" -> Array("eau", "ment", "oir", "re", "tion", "ais", "lle", "vou", "quo", "che"))
    private val spamSyll = Array("xx", "zap", "wow", "buy", "fre", "kli", "bonu", "pri", "zzt", "hot")

    private def words(sy: Array[String], n: Int, salt: Long): Array[String] = {
      val r = new SplittableRandom(salt)
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < n) {
        val k = 2 + r.nextInt(3)
        seen += (0 until k).map(_ => sy(r.nextInt(sy.length))).mkString
      }
      seen.toArray
    }
    val content: Map[String, Array[String]] =
      langs.zipWithIndex.map { case (l, i) => l -> words(syll(l), 1500, 77L + i) }.toMap
    val spam: Array[String] = words(spamSyll, 300, 991L)

    /** Zipf(1.0) rank sampler over `n` items. */
    final class Zipf(n: Int) {
      private val cdf = {
        val w = (1 to n).map(1.0 / _)
        val s = w.sum
        w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
      }
      def sample(r: SplittableRandom): Int = {
        val u = r.nextDouble()
        val i = java.util.Arrays.binarySearch(cdf, u)
        math.min(if (i >= 0) i else -i - 1, n - 1)
      }
    }
    val zipfContent = new Zipf(1500)
    val zipfSpam = new Zipf(300)
  }

  /** A document of `nWords` words in `lang` (35% stopwords, the rest
    * Zipf-drawn content or spam words), in lines of 8-20 words.
    */
  def prose(r: SplittableRandom, lang: String, nWords: Int, spam: Boolean = false): String = {
    val stop = Lang.stop(lang)
    val sb = new java.lang.StringBuilder(nWords * 7)
    var line = 0
    var lineLen = 8 + r.nextInt(13)
    var i = 0
    while (i < nWords) {
      if (i > 0) sb.append(if (line == lineLen) { line = 0; lineLen = 8 + r.nextInt(13); ".\n" } else " ")
      val w =
        if (r.nextInt(100) < 35) stop(r.nextInt(stop.length))
        else if (spam) Lang.spam(Lang.zipfSpam.sample(r))
        else Lang.content(lang)(Lang.zipfContent.sample(r))
      sb.append(w)
      line += 1
      i += 1
    }
    sb.append('.').toString
  }

  /** Near-duplicate: replaces `edits` non-stopword words, keeping word
    * 3-shingle Jaccard with the source far above the 0.7 dedup threshold.
    */
  def edit(r: SplittableRandom, text: String, lang: String, edits: Int): String = {
    val toks = text.split(" ", -1)
    val stop = Lang.stop(lang).toSet
    var done = 0
    var tries = 0
    while (done < edits && tries < 100) {
      val i = r.nextInt(toks.length)
      val t = toks(i)
      val w = Lang.content(lang)(r.nextInt(Lang.content(lang).length))
      if (!t.contains('\n') && !t.contains('.') && !stop.contains(t) && w != t) {
        toks(i) = w
        done += 1
      }
      tries += 1
    }
    toks.mkString(" ")
  }

  private val cjk = "的一是不了人我在有他这中大来上国个到说们为子和你地出道也时年得就那要下以生会自着去之过家学对可她里后小么心多天而能好都然没日于起还发成事只作当想看用"

  def jsonString(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 16).append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def docLine(id: Long, text: String): String =
    s"""{"doc_id":$id,"text":${jsonString(text)}}""" + "\n"

  /** One good document: 60-140 words, one in five carrying PII. */
  private def goodDoc(r: SplittableRandom, lang: String): String = {
    val base = prose(r, lang, 60 + r.nextInt(81))
    r.nextInt(10) match {
      case 0 => base + s" contact ${Lang.content(lang)(r.nextInt(50))}.${r.nextInt(999)}@example.org."
      case 1 => base + s" call +1 555 ${100 + r.nextInt(900)} ${1000 + r.nextInt(9000)}."
      case _ => base
    }
  }

  // ---- corpus_curate -----------------------------------------------------

  /** Doc mix (shares of `CurateDocs`): 62% good singletons, 12% in
    * near-dup clusters of 2-4 one-word edits, 5% exact copies, and 21%
    * planted bad docs split over four kinds: foreign script, too short,
    * repetitive lines and spam vocabulary (low quality). Ids are
    * shuffled, so a copy's id may be below its source's: the survivor of
    * each exact-copy group is its minimum id, as exact dedup defines it.
    */
  def corpusCurate(seed: Long, dir: File): Unit = {
    val r = new SplittableRandom(seed * 1000003L + 2)
    final case class D(text: String, group: Int, kind: String)
    val docs = scala.collection.mutable.ArrayBuffer.empty[D]
    var g = 0
    def lang() = Lang.langs(r.nextInt(4))
    val n = CurateDocs
    while (docs.size < n * 62 / 100) { docs += D(goodDoc(r, lang()), g, "good"); g += 1 }
    while (docs.size < n * 74 / 100) {
      val l = lang()
      val src = goodDoc(r, l)
      val k = 2 + r.nextInt(3)
      val texts = scala.collection.mutable.LinkedHashSet(src)
      while (texts.size < k) texts += edit(r, src, l, 1)
      texts.foreach(t => docs += D(t, g, "near"))
      g += 1
    }
    val goods = docs.filter(_.kind == "good").toIndexedSeq
    while (docs.size < n * 79 / 100) {
      val d = goods(r.nextInt(goods.size))
      docs += D(d.text, d.group, "exact")
    }
    val bad = Seq("foreign", "short", "repetitive", "spam")
    while (docs.size < n) {
      val kind = bad(r.nextInt(bad.size))
      val l = lang()
      val stop = Lang.stop(l)
      val text = kind match {
        case "foreign" => (0 until 20 + r.nextInt(40)).map(_ =>
          (0 until 1 + r.nextInt(3)).map(_ => cjk.charAt(r.nextInt(cjk.length))).mkString).mkString(" ")
        case "short" => (0 until 2 + r.nextInt(2)).map(_ => stop(r.nextInt(stop.length))).mkString(" ")
        case "repetitive" =>
          val line = prose(r, l, 12)
          Seq.fill(8 + r.nextInt(8))(line).mkString("\n")
        case "spam" => prose(r, l, 60 + r.nextInt(100), spam = true)
      }
      docs += D(text, g, kind)
      g += 1
    }
    // shuffle → ids
    val order = (0 until docs.size).toArray
    var i = order.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t; i -= 1 }
    val withIds = order.zipWithIndex.map { case (di, pos) => (pos.toLong + 1, docs(di)) }
    withWriter(new File(dir, "docs.jsonl")) { w => withIds.foreach { case (id, d) => w.write(docLine(id, d.text)) } }
    withWriter(new File(dir, "kinds.txt")) { w =>
      withIds.foreach { case (id, d) => w.write(s"$id\t${d.kind}\t${d.group}\n") }
    }
    // exact copies collapse to their minimum id; near-duplicates are
    // distinct texts and all survive this pass (fuzzy dedup is measured
    // by stream_ingest)
    val survivors = withIds.filter { case (_, d) => d.kind == "good" || d.kind == "near" || d.kind == "exact" }
      .groupBy(_._2.text).values.map(_.map(_._1).min).toArray.sorted
    withWriter(new File(dir, "survivors.txt")) { w => survivors.foreach(id => w.write(s"$id\n")) }
    // perplexity reference: fresh text over the same vocabularies, spam
    // included, so the perplexity gate keeps every planted in-vocabulary
    // doc and the quality gate alone rejects spam
    withWriter(new File(dir, "reference.jsonl")) { w =>
      (1 to 3000).foreach(k => w.write(docLine(k, prose(r, lang(), 120, spam = k % 5 == 0))))
    }
    // quality classifier training sets: clean prose vs spam prose
    withWriter(new File(dir, "positives.jsonl")) { w =>
      (1 to 1500).foreach(k => w.write(docLine(k, prose(r, lang(), 100))))
    }
    withWriter(new File(dir, "negatives.jsonl")) { w =>
      (1 to 1500).foreach(k => w.write(docLine(k, prose(r, lang(), 100, spam = true))))
    }
    // clustered unit embeddings + a fixed query batch drawn near them
    val centers = Array.fill(VectorClusters)(unit(Array.fill(VectorDim)(r.nextDouble() * 2 - 1)))
    def vec(): Array[Double] = {
      val c = centers(r.nextInt(VectorClusters))
      unit(c.map(_ + 0.35 * gauss(r)))
    }
    def vecLine(id: Long, v: Array[Double]): String =
      s"""{"vec_id":$id,"embedding":[${v.map(x => f"$x%.6f").mkString(",")}]}""" + "\n"
    withWriter(new File(dir, "vectors.jsonl")) { w => (1 to CurateVectors).foreach(k => w.write(vecLine(k, vec()))) }
    withWriter(new File(dir, "queries.jsonl")) { w =>
      (1 to CurateQueries).foreach(k => w.write(vecLine(1000000000L + k, vec())))
    }
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def gauss(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())

  // ---- stream_ingest -----------------------------------------------------

  /** A base corpus of unique good docs (indexed in set-up) and batches of
    * `IngestBatchDocs` docs: 55% fresh, 10% edited copies of a fresh doc
    * of the same batch, 25% edited copies of base docs and 10% exact
    * copies of fresh docs of earlier batches. The fresh docs are the
    * planted survivors: every copy has a higher id than its source, so
    * the min-id rule drops exactly the copies.
    */
  def streamIngest(seed: Long, dir: File): Unit = {
    val r = new SplittableRandom(seed * 1000003L + 3)
    def lang() = Lang.langs(r.nextInt(4))
    val base = Array.fill(IngestBaseDocs) { val l = lang(); (l, goodDoc(r, l)) }
    withWriter(new File(dir, "base.jsonl")) { w =>
      base.zipWithIndex.foreach { case ((_, t), i) => w.write(docLine(i + 1L, t)) }
    }
    val earlier = scala.collection.mutable.ArrayBuffer.empty[String]
    val sv = writer(new File(dir, "survivors.txt"))
    withWriter(new File(dir, "batches.jsonl")) { w =>
      (0 until IngestBatches).foreach { b =>
        val fresh = Array.fill(IngestBatchDocs * 55 / 100) { val l = lang(); (l, goodDoc(r, l)) }
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        out ++= fresh.map(_._2)
        while (out.size < IngestBatchDocs * 65 / 100) {
          val (l, t) = fresh(r.nextInt(fresh.length)); out += edit(r, t, l, 1)
        }
        while (out.size < IngestBatchDocs * 90 / 100) {
          val (l, t) = base(r.nextInt(base.length)); out += edit(r, t, l, 1)
        }
        val pool = if (earlier.nonEmpty) earlier else out.take(fresh.length)
        while (out.size < IngestBatchDocs) out += pool(r.nextInt(pool.size))
        val id0 = (b + 1).toLong * 1000000L
        // fresh docs take the lowest ids of the batch
        out.zipWithIndex.foreach { case (t, j) =>
          w.write(s"""{"batch":$b,"doc_id":${id0 + j},"text":${jsonString(t)}}""" + "\n")
        }
        sv.write(s"$b\t${fresh.indices.map(j => id0 + j).mkString(",")}\n")
        earlier ++= fresh.map(_._2)
      }
    }
    sv.close()
  }
}
