package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Seeded near-duplicate document corpus in the `documents.parquet`
  * schema (`doc_id`, `text`, `lang`, `source`, `n_chars`).
  *
  * Texts are words drawn from a small vocabulary, 10 to 95 words long.
  * About `dupShare` of the documents are copies of an earlier original
  * document: one in six of those is exact, the rest perturbed by
  * replacing, dropping or inserting a few words — the near-duplicates
  * the MinHash pipelines find. */
object CorpusGen {

  final case class Doc(docId: Long, text: String, lang: String,
      source: String, nChars: Long)

  private val vocab = Array(
    "a", "the", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "value", "vector", "window", "index", "shard", "token", "plan", "stage",
    "task", "node", "page", "cache", "log", "event", "time", "map", "reduce",
    "shuffle", "spill", "file", "block")
  private val langs = Array("en", "en", "en", "en", "zh", "es", "de", "fr",
    "zh", "es", "de", "fr")

  def docs(rng: java.util.Random, n: Int, dupShare: Double): IndexedSeq[Doc] = {
    // copies are made of originals only, so near-duplicate clusters are
    // stars of a few documents and their sizes vary little from seed to
    // seed (copies of copies grow chains whose length varies widely)
    val originals = mutable.ArrayBuffer.empty[Array[String]]
    (0 until n).map { i =>
      val words =
        if (originals.size > 10 && rng.nextDouble() < dupShare) {
          val src = originals(rng.nextInt(originals.size))
          if (rng.nextInt(6) == 0) src
          else {
            val w = src.toBuffer
            (0 until 1 + rng.nextInt(3)).foreach { _ =>
              rng.nextInt(3) match {
                case 0 => w(rng.nextInt(w.size)) = vocab(rng.nextInt(vocab.length))
                case 1 if w.size > 12 => w.remove(rng.nextInt(w.size))
                case _ => w.insert(rng.nextInt(w.size), vocab(rng.nextInt(vocab.length)))
              }
            }
            w.toArray
          }
        } else {
          val w = Array.fill(10 + rng.nextInt(86))(vocab(rng.nextInt(vocab.length)))
          originals += w
          w
        }
      val text = words.mkString(" ")
      Doc(i.toLong, text, langs(rng.nextInt(langs.length)), s"src${i % 20}",
        text.length.toLong)
    }
  }

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Writes `docs` as the single parquet file `<dir>/documents.parquet`. */
  def writeParquet(spark: SparkSession, docs: Seq[Doc], dir: Path): Path = {
    import org.apache.spark.sql.Row
    val rows = docs.map(d => Row(d.docId, d.text, d.lang, d.source, d.nChars))
    val tmp = dir.resolve("_documents_tmp")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .head
    val out = dir.resolve("documents.parquet")
    Files.move(part.toPath, out, StandardCopyOption.REPLACE_EXISTING)
    graft.queries.DedupOps.deleteRecursively(tmp.toFile)
    out
  }

  /** A fresh corpus directory holding a copy of `corpus`: a path no
    * session memo has seen. */
  def freshCopy(corpus: Path, dir: Path): Path = {
    Files.createDirectories(dir)
    Files.copy(corpus, dir.resolve("documents.parquet"))
    dir
  }
}
