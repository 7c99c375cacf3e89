package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Hashing

/** Seeded generators for the curation tables, `documents` and
  * `embeddings`, in the catalog's schema.
  *
  * Every value is a pure function of (seed, table, row id), so a table
  * is identical at any partition count or core count.
  *  - A document's words come from the fixture vocabulary (its observed
  *    frequencies, `data/vocab_sf0.1.tsv`) with probability
  *    [[HeadShare]], else from a Zipf tail of synthetic words, so
  *    keyword and stopword queries still match while unrelated
  *    documents rarely share a shingle.
  *  - A stated share of rows ([[NearDupShare]]) are planted near
  *    duplicates: a copy of an earlier row with one word changed, or
  *    with a little noise added, so candidate pairs come mainly from
  *    them.
  *  - `doc_id` and `vec_id` are unique (the pair operators assume it).
  */
object Inputs {

  /** Share of document words drawn from the fixture vocabulary. */
  val HeadShare = 0.5
  /** Distinct synthetic tail words and their Zipf exponent. */
  val TailWords = 50000
  val TailExponent = 1.1
  /** Planted near-duplicate share of documents and of embeddings. */
  val NearDupShare = 0.05
  val EmbeddingDim = 64

  final case class Planted(docs: Long, vecs: Long)

  /** Reads the fixture vocabulary: (word, count), most frequent first. */
  def vocabulary(path: String): Seq[(String, Long)] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val Array(w, n) = l.split("\t")
        w -> n.toLong
      }

  /** Writes both tables under `dir/<name>.parquet`. Returns the planted
    * near-duplicate counts.
    */
  def write(spark: SparkSession, dir: String, seed: Long, docs: Int, vecs: Int,
            vocab: Seq[(String, Long)], parts: Int): Planted = {
    documents(spark, seed, docs, vocab, parts)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    embeddings(spark, seed, vecs, parts)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Planted(plantedCount(seed, "doc", docs), plantedCount(seed, "vec", vecs))
  }

  /** Planted-duplicate rule shared by both curation tables: row i > 0 is
    * a near copy of an earlier row with probability [[NearDupShare]].
    */
  def isPlanted(seed: Long, kind: String, i: Long): Boolean =
    i > 0 && h01(seed, kind, "dup", i) < NearDupShare

  def plantedCount(seed: Long, kind: String, n: Int): Long =
    (0L until n).count(i => isPlanted(seed, kind, i)).toLong

  private def h(seed: Long, parts: Any*): Long =
    Hashing.xxhash64(parts.mkString(s"$seed:", ":", ""))

  private def h01(seed: Long, parts: Any*): Double =
    (h(seed, parts: _*) >>> 11).toDouble / (1L << 53).toDouble

  /** The original a planted row copies (always an earlier, unplanted row). */
  def sourceOf(seed: Long, kind: String, i: Long): Long = {
    var j = math.floorMod(h(seed, kind, "src", i), i)
    while (isPlanted(seed, kind, j)) j = math.floorMod(h(seed, kind, "src", j), j)
    j
  }

  private final class Sampler(vocab: Seq[(String, Long)]) extends Serializable {
    private val words = vocab.map(_._1).toArray
    private val cum = vocab.map(_._2.toDouble).scanLeft(0.0)(_ + _).tail.toArray
    private val tailCum = (1 to TailWords).map(r => math.pow(r, -TailExponent))
      .scanLeft(0.0)(_ + _).tail.toArray

    private def search(cdf: Array[Double], x: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, x * cdf.last)
      math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
    }

    def word(seed: Long, doc: Long, k: Int): String =
      if (h01(seed, "head", doc, k) < HeadShare) words(search(cum, h01(seed, "hw", doc, k)))
      else "t" + search(tailCum, h01(seed, "tw", doc, k))

    def text(seed: Long, doc: Long): String = {
      val n = 10 + math.floorMod(h(seed, "len", doc), 91L).toInt
      (0 until n).map(word(seed, doc, _)).mkString(" ")
    }
  }

  /** Text of document i: fresh, or an earlier document with one word
    * replaced (the planted near duplicate).
    */
  private def docText(s: Sampler, seed: Long, i: Long): String =
    if (!isPlanted(seed, "doc", i)) s.text(seed, i)
    else {
      val words = s.text(seed, sourceOf(seed, "doc", i)).split(" ")
      val k = math.floorMod(h(seed, "edit", i), words.length.toLong).toInt
      words(k) = s.word(seed, i, 1000)
      words.mkString(" ")
    }

  def documents(spark: SparkSession, seed: Long, n: Int,
                vocab: Seq[(String, Long)], parts: Int): DataFrame = {
    import spark.implicits._
    val sampler = new Sampler(vocab)
    val langs = Array("en", "en", "en", "en", "en", "en", "en", "en",
      "zh", "zh", "zh", "de", "de", "de", "fr", "fr", "fr", "es", "es", "es")
    spark.range(0, n, 1, parts).as[Long].map { i =>
      val text = docText(sampler, seed, i)
      (i, text, langs(math.floorMod(h(seed, "lang", i), langs.length.toLong).toInt),
        s"src${i % 20}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def gaussianUnit(seed: Long, i: Long): Array[Double] = {
    val v = Array.tabulate(EmbeddingDim) { d =>
      val a = math.max(h01(seed, "g1", i, d), 1e-12)
      val b = h01(seed, "g2", i, d)
      math.sqrt(-2 * math.log(a)) * math.cos(2 * math.Pi * b)
    }
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / norm)
  }

  private def vector(seed: Long, i: Long): Array[Float] = {
    val v =
      if (!isPlanted(seed, "vec", i)) gaussianUnit(seed, i)
      else {
        val base = gaussianUnit(seed, sourceOf(seed, "vec", i))
        val noise = gaussianUnit(seed, i)
        val mixed = base.zip(noise).map { case (a, b) => a + 0.05 * b }
        val norm = math.sqrt(mixed.map(x => x * x).sum)
        mixed.map(_ / norm)
      }
    v.map(_.toFloat)
  }

  def embeddings(spark: SparkSession, seed: Long, n: Int, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, parts).as[Long].map { i =>
      (i, vector(seed, i), math.floorMod(h(seed, "label", i), 10L).toInt)
    }.toDF("vec_id", "embedding", "label")
  }
}
