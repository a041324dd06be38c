package graft.perfbench

import java.util.Locale

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generation. Every input the benchmark hands the engine
  * is built here from a seed, so the same seed gives the same inputs and
  * the engine only ever sees the generated frames.
  */
object Gen {

  /** The corpus vocabulary: 30 pipeline words plus "the" and "a", which
    * the quality gate scores as stopwords.
    */
  val vocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  private val langs = Array("en", "en", "en", "en", "zh", "zh", "es", "es",
    "fr", "fr", "de")

  /** Sources `src18` and `src19` form the held-out eval split. */
  val evalSources: Seq[String] = Seq("src18", "src19")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** `n` documents with ids `idBase until idBase + n`, drawn from
    * `contentSeed`. About 3% are exact copies of an earlier document of
    * the same draw and 4% near copies (one word swapped), so exact and
    * near dedup both have work to do. Ids are assigned in draw order.
    */
  def corpus(contentSeed: Long, n: Int, idBase: Long = 0L): Array[Doc] = {
    val r = new java.util.Random(contentSeed)
    val out = new Array[Doc](n)
    var i = 0
    while (i < n) {
      val id = idBase + i
      val roll = r.nextInt(100)
      val text =
        if (i > 10 && roll < 3) out(r.nextInt(i)).text
        else if (i > 10 && roll < 7) {
          val w = out(r.nextInt(i)).text.split(" ")
          w(r.nextInt(w.length)) = "dup"
          w.mkString(" ")
        } else {
          val len = 8 + r.nextInt(90)
          Array.fill(len)(vocab(r.nextInt(vocab.length))).mkString(" ")
        }
      out(i) = Doc(id, text, langs(r.nextInt(langs.length)), s"src${id % 20}")
      i += 1
    }
    out
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def docRow(d: Doc): Row =
    Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)

  /** A small in-memory frame (an arrival slice, a takedown set). */
  def docsFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map(docRow), 1), docSchema)

  /** Write a corpus to parquet once and read it back, the way a corpus
    * reaches a pipeline in practice.
    */
  def docsParquet(spark: SparkSession, docs: Seq[Doc], path: String,
      parts: Int): DataFrame = {
    spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map(docRow), parts), docSchema)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  val dim = 64
  private val nClusters = 16

  /** Unit-scale cluster centres shared by every embedding of one content
    * seed, so the IVF cells have structure to find.
    */
  final class Embedder(contentSeed: Long) {
    private val centres: Array[Array[Float]] = {
      val r = new java.util.Random(contentSeed * 31L + 7L)
      Array.fill(nClusters)(Array.fill(dim)(r.nextGaussian().toFloat))
    }
    def apply(docId: Long): Array[Float] = {
      val r = new java.util.Random(contentSeed ^ (docId * 0x9E3779B97F4A7C15L))
      val c = centres(r.nextInt(nClusters))
      Array.tabulate(dim)(j => c(j) + 0.45f * r.nextGaussian().toFloat)
    }
  }

  val embSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def embFrame(spark: SparkSession, ids: Seq[Long], emb: Embedder,
      parts: Int = 1): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      ids.map(id => Row(id, emb(id).toSeq)), parts), embSchema)

  /** Exact squared-L2 k nearest neighbours of `q` among `vecs` (id =
    * index), ties by id — the brute-force truth ANN recall is scored
    * against.
    */
  def exactKnn(q: Array[Float], vecs: Array[Array[Float]], k: Int,
      exclude: Long): Seq[Long] =
    vecs.indices.iterator.map(_.toLong).filter(_ != exclude).map { id =>
      val v = vecs(id.toInt)
      var d = 0.0
      var j = 0
      while (j < dim) { val x = v(j).toDouble - q(j); d += x * x; j += 1 }
      (d, id)
    }.toSeq.sorted.take(k).map(_._2)

  // ---- weather ----

  val cities: Seq[(String, String)] = Seq(
    "New York" -> "US", "London" -> "GB", "Tokyo" -> "JP", "Paris" -> "FR",
    "Sydney" -> "AU", "Mumbai" -> "IN", "Delhi" -> "IN", "Bengaluru" -> "IN",
    "Chennai" -> "IN", "Kolkata" -> "IN", "Moscow" -> "RU", "Beijing" -> "CN",
    "Shanghai" -> "CN", "Los Angeles" -> "US", "Chicago" -> "US",
    "Toronto" -> "CA", "Mexico City" -> "MX", "Sao Paulo" -> "BR",
    "Buenos Aires" -> "AR", "Cairo" -> "EG", "Lagos" -> "NG",
    "Nairobi" -> "KE", "Johannesburg" -> "ZA", "Dubai" -> "AE",
    "Istanbul" -> "TR", "Madrid" -> "ES", "Rome" -> "IT", "Berlin" -> "DE",
    "Amsterdam" -> "NL", "Stockholm" -> "SE", "Oslo" -> "NO",
    "Helsinki" -> "FI", "Warsaw" -> "PL", "Prague" -> "CZ", "Vienna" -> "AT",
    "Budapest" -> "HU", "Bucharest" -> "RO", "Athens" -> "GR",
    "Lisbon" -> "PT", "Dublin" -> "IE", "Edinburgh" -> "GB",
    "Brussels" -> "BE", "Zurich" -> "CH", "Geneva" -> "CH",
    "Copenhagen" -> "DK", "Singapore" -> "SG", "Hong Kong" -> "HK",
    "Seoul" -> "KR", "Bangkok" -> "TH", "Kyiv" -> "UA")

  private val conditions = Array(
    "Clear" -> "clear sky", "Clouds" -> "broken clouds",
    "Clouds" -> "overcast clouds", "Rain" -> "light rain",
    "Mist" -> "mist", "Drizzle" -> "light intensity drizzle",
    "Snow" -> "light snow", "Thunderstorm" -> "thunderstorm")

  /** Epoch second of batch 0; batches are 5 minutes apart, the
    * reference scheduler's cadence.
    */
  val epoch0 = 1756900800L
  def batchTime(batch: Int): Long = epoch0 + 300L * batch

  /** One OpenWeather-shaped nested JSON document per city for `batch`.
    * Temperatures follow a per-city base plus seeded noise, so the
    * lag features carry signal the models can fit.
    */
  def weatherBatch(seed: Long, batch: Int): Seq[String] = {
    val r = new java.util.Random(seed * 1000003L + batch)
    cities.zipWithIndex.map { case ((city, cc), ci) =>
      val base = -5.0 + (ci * 37 % 45)
      val temp = base + 6.0 * math.sin(batch / 12.0 + ci) + r.nextGaussian()
      val (main, desc) = conditions(
        (if (temp < 0) 6 else 0) + r.nextInt(if (temp < 0) 2 else 6))
      String.format(Locale.ROOT,
        "{\"name\":\"%s\",\"dt\":%d,\"sys\":{\"country\":\"%s\"}," +
          "\"main\":{\"temp\":%.2f,\"feels_like\":%.2f,\"humidity\":%d," +
          "\"pressure\":%d},\"weather\":[{\"main\":\"%s\"," +
          "\"description\":\"%s\"}],\"wind\":{\"speed\":%.2f}}",
        city, Long.box(batchTime(batch)), cc, Double.box(temp),
        Double.box(temp - 1.5 + r.nextDouble()),
        Int.box(30 + r.nextInt(65)), Int.box(990 + r.nextInt(40)),
        main, desc, Double.box(r.nextDouble() * 12.0))
    }
  }
}
