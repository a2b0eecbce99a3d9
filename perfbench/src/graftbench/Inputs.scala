package graftbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.io.File

/** Seeded input generator. Documents follow the shape of the
  * `documents.parquet` test table (doc_id, text, lang, source,
  * n_chars): lower-case text over a small vocabulary, so that GloVe
  * training and the medallion normalisation behave as on that table.
  * Each document leans on one of a few topics, which gives the
  * embeddings neighbourhoods worth retrieving; a few documents are
  * exact copies (silver dedup removes them) or near copies (the
  * MinHash report finds them). Same seed, same bytes. */
object Inputs {

  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch", "delta", "index", "chunk", "model",
    "lake", "answer", "token", "shard", "commit", "graph")
  val Topics = 6
  val Langs = IndexedSeq("en", "en", "en", "zh", "es", "fr", "de")
  val Sources = 20

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** `n` documents with ids `firstId ..`, drawn from `rng`. Copies
    * refer only to documents of the same draw. */
  def docs(rng: java.util.Random, firstId: Long, n: Int): IndexedSeq[Doc] = {
    val out = IndexedSeq.newBuilder[Doc]
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until n).foreach { i =>
      val r = rng.nextDouble()
      val text =
        if (i > 10 && r < 0.02) texts(rng.nextInt(texts.length))
        else if (i > 10 && r < 0.07) {
          val w = texts(rng.nextInt(texts.length)).split(' ')
          w(rng.nextInt(w.length)) = Vocab(rng.nextInt(Vocab.length))
          w.mkString(" ")
        } else {
          val topic = rng.nextInt(Topics)
          val len = 8 + rng.nextInt(88)
          Seq.fill(len) {
            if (rng.nextDouble() < 0.6) Vocab((topic * 7 + rng.nextInt(7)) % Vocab.length)
            else Vocab(rng.nextInt(Vocab.length))
          }.mkString(" ")
        }
      texts += text
      out += Doc(firstId + i, text, Langs(rng.nextInt(Langs.length)),
        s"src${rng.nextInt(Sources)}")
    }
    out.result()
  }

  /** An 8-word window of `text`, starting at a seeded offset. */
  def question(rng: java.util.Random, text: String): String = {
    val w = text.split(' ')
    val start = rng.nextInt(math.max(1, w.length - 7))
    w.slice(start, start + 8).mkString(" ")
  }

  private val Schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Write `docs` as `<dir>/documents.parquet`, one file, the layout
    * `graft.Tables.documents` reads. Returns the file's size in bytes. */
  def write(spark: SparkSession, docs: Seq[Doc], dir: String): Long = {
    val rows = docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong))
    val tmp = s"$dir/.tmp-documents"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new Path(tmp)).map(_.getPath)
      .find(_.getName.startsWith("part-")).get
    val target = new Path(s"$dir/documents.parquet")
    fs.delete(target, false)
    require(fs.rename(part, target), s"cannot move $part to $target")
    fs.delete(new Path(tmp), true)
    // the checksum sidecar would sit beside the file as a second input
    new File(dir, ".documents.parquet.crc").delete()
    new File(dir, "documents.parquet").length()
  }
}
