package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input helpers shared by the workloads. The same seed gives
  * the same inputs; the program sees only the files written from them.
  * The corpus has the value shapes of the repository's test data
  * (`documents`, `embeddings`). */
object Gen {

  val Words: Array[String] = ("join hash row batch scan column customer filter small " +
    "slow merge order vector line table data agg value key stream window a " +
    "spark part group big sort query fast the").split(" ")
  val Langs: Array[(String, Double)] =
    Array("en" -> 0.44, "zh" -> 0.15, "es" -> 0.145, "de" -> 0.14, "fr" -> 0.125)

  private def pickLang(r: SplittableRandom): String = {
    var u = r.nextDouble(); var i = 0
    while (i < Langs.length - 1 && u >= Langs(i)._2) { u -= Langs(i)._2; i += 1 }
    Langs(i)._1
  }

  /** Document `id`'s text: 10–99 words, every 12th document a light
    * edit of an earlier one (the near-duplicate families the dedup
    * queries look for). */
  def docText(r: SplittableRandom, id: Long, earlier: Long => String): String =
    if (id >= 12 && id % 12 == 0) {
      val base = earlier(r.nextLong(id)).split(" ")
      val i = r.nextInt(base.length)
      base.updated(i, "dup").mkString(" ")
    } else Array.fill(10 + r.nextInt(90))(Words(r.nextInt(Words.length))).mkString(" ")

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true)),
    StructField("label", IntegerType)))

  /** `n` documents and their 64-d unit embeddings (10 label clusters). */
  def corpus(seed: Long, n: Int): (Seq[Row], Seq[Row]) = {
    val r = new SplittableRandom(seed)
    val texts = new Array[String](n)
    val docs = (0 until n).map { i =>
      texts(i) = docText(r, i.toLong, j => texts(j.toInt))
      Row(i.toLong, texts(i), pickLang(r), s"src${i % 20}", texts(i).length.toLong)
    }
    val centers = Array.fill(10, 64)(r.nextDouble() * 2 - 1)
    val embs = (0 until n).map { i =>
      val label = r.nextInt(10)
      val v = centers(label).map(c => c + (r.nextDouble() * 2 - 1) * 0.6)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
    (docs, embs)
  }

  val EventTypes: Array[String] = Array("view", "click", "purchase", "signup", "error")

  def writeLines(path: String, lines: Seq[String]): Long = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    Files.size(p)
  }

  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)
}
