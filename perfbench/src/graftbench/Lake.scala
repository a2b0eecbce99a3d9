package graftbench

import graft.Tables
import graft.operators.{Chunker, Dedup, Embedder, Glove, GloveTextEncoder, Medallion, Quality}
import graft.sources.{DeltaSource, GraphAnnIndex}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** One lake under `root`, driven through the modules' public calls in
  * the order of `Runbook.runWithTraining`, extended by the index and
  * answer stages. Zone names match the runbook's, so a lake can be
  * compared with the one the runbook writes. Every stage forces its
  * output: a Delta commit, an index write or a `collect`. */
final class Lake(spark: SparkSession, t: Tracer, val root: String) {
  import Lake._

  val bronze = s"$root/bronze"
  val silver = s"$root/silver"
  val gold = s"$root/gold"
  val model = s"$root/model"
  val embeddings = s"$root/embeddings_trained"
  val index = s"$root/index"
  val cursor = s"$root/_silver_cursor"
  val tables: Seq[String] = Seq(bronze, silver, gold, model, embeddings)

  /** vec_id → (doc_id, chunk_idx): the id map a serving process holds
    * beside the index. [[loadIds]] reads it after every index write. */
  var ids: Vector[(Long, Long)] = Vector.empty
  private var encoder: GloveTextEncoder = _

  private def read(path: String): DataFrame =
    t.span("DeltaSource.read")(DeltaSource.readDelta(spark, path))

  private val docCols = Seq("doc_id", "source", "content", "content_length").map(col)

  /** bronze → silver → gold → model → embeddings → index over the
    * `documents.parquet` in `inputDir`. */
  def build(inputDir: String, nbits: Int): Unit = {
    t.span("Medallion.bronze") {
      DeltaSource.writeDelta(Medallion.bronze(Tables.documents(spark, inputDir)).select(docCols: _*), bronze)
    }
    t.span("Medallion.silver") {
      DeltaSource.writeDelta(Medallion.silverDedup(Medallion.silverNormalize(read(bronze)))
        .select(docCols: _*), silver)
    }
    t.span("Chunker.gold")(DeltaSource.writeDelta(chunks(read(silver)), gold))
    t.span("Glove.train") {
      DeltaSource.writeDelta(Glove.trainedVectors(read(silver).withColumnRenamed("content", "text")), model)
    }
    t.span("Embedder.embed") {
      encoder = loadEncoder()
      DeltaSource.writeDelta(embed(read(gold)), embeddings)
    }
    t.span("GraphAnnIndex.build") {
      GraphAnnIndex.buildAndSave(withIds(read(embeddings), 0L), index, nbits = nbits, dim = Glove.Dim)
    }
    // the base commit is consumed: later batches drain only what lands after it
    DeltaSource.followChangesCheckpointed(spark, bronze, cursor)((_, _) => ())
  }

  /** Land one batch of new documents (ids in [lo, hi]) through the
    * incremental path: bronze append → change-feed silver merge →
    * gold and embeddings for the new documents only, model frozen →
    * index append. */
  def land(inputDir: String, lo: Long, hi: Long, batchId: String): Unit = {
    val isNew = col("doc_id").between(lo, hi)
    t.span("Medallion.bronze") {
      DeltaSource.writeDelta(Medallion.bronze(Tables.documents(spark, inputDir)).select(docCols: _*),
        bronze, overwrite = false)
    }
    t.span("Medallion.silver")(Medallion.incrementalSilver(spark, bronze, silver, cursor))
    t.span("Chunker.gold")(DeltaSource.writeDelta(chunks(read(silver).where(isNew)), gold, overwrite = false))
    t.span("Embedder.embed") {
      if (encoder == null) encoder = loadEncoder()
      DeltaSource.writeDelta(embed(read(gold).where(isNew)), embeddings, overwrite = false)
    }
    t.span("GraphAnnIndex.append") {
      GraphAnnIndex.appendIncremental(withIds(read(embeddings).where(isNew), ids.length.toLong),
        index, incrementId = Some(batchId))
    }
  }

  /** Silver, gold and embeddings recomputed in one pass over bronze,
    * with the frozen model: what the incremental path must have built.
    * The base (doc_ids below `firstBatchId`) goes through silverNormalize
    * and silverDedup, as [[build]] commits it; the batches go through
    * silverNormalize alone, since `incrementalSilver` documents its
    * result as identical to normalizing the full bronze snapshot and
    * merging on doc_id. */
  def recomputed(firstBatchId: Long): Seq[(String, DataFrame)] = {
    val b = DeltaSource.readDelta(spark, bronze)
    val isBase = col("doc_id") < firstBatchId
    val s = Medallion.silverDedup(Medallion.silverNormalize(b.where(isBase))).select(docCols: _*)
      .unionByName(Medallion.silverNormalize(b.where(!isBase)).select(docCols: _*))
    val g = chunks(s)
    Seq(silver -> s, gold -> g, embeddings -> embed(g))
  }

  /** The reference's data-quality and duplicate queries over silver. */
  def report(): Long = {
    val rows = t.span("Quality.report") {
      val s = read(silver)
      Seq(Quality.recordCounts(s), Quality.lengthStats(s, "content"),
        Quality.wordFrequency(s, "content"), Quality.duplicateAnalysis(s, "content"))
        .map(_.collect().length).sum
    }
    rows + t.span("Dedup.nearDup") {
      Dedup.nearDupClusters(Dedup.minhashLshPairs(read(silver), "content", "doc_id"))
        .collect().length
    }
  }

  /** Question texts → vectors, through the lake's trained model. */
  def encode(questions: Seq[(Long, String)]): Seq[(Long, Array[Float])] = t.span("Embedder.embed") {
    if (encoder == null) encoder = loadEncoder()
    val df = spark.createDataFrame(java.util.Arrays.asList(
      questions.map { case (id, q) => Row(id, q) }: _*), QuestionSchema)
    Embedder.embed(df, "text", Seq("query_id"), encoder).collect().toSeq.map { r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray
    }
  }

  /** Top-10 answers of each query vector: query id → vec_ids by rank. */
  def search(qvs: Seq[(Long, Array[Float])], dir: String = index): Map[Long, Seq[Long]] =
    t.span("GraphAnnIndex.search") {
    t.count(qvs.length)
    val q = spark.createDataFrame(java.util.Arrays.asList(
      qvs.map { case (id, v) => Row(id, v.toSeq) }: _*), QueryVecSchema)
    GraphAnnIndex.search(spark, dir, q, k = K).collect().toSeq
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (id, rs) => id -> rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("neighbor_id")) }
  }

  /** The gold chunks behind `hits`: (doc_id, chunk_idx) → chunk text. */
  def fetch(hits: Seq[Long]): Map[(Long, Long), String] = t.span("DeltaSource.fetch") {
    val keys = hits.distinct.map(h => ids(h.toInt))
    if (keys.isEmpty) Map.empty
    else {
      val pred = keys.map { case (d, c) => col("doc_id") === d && col("chunk_idx") === c }
        .reduce(_ || _)
      read(gold).where(pred).select("doc_id", "chunk_idx", "chunk").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    }
  }

  /** Answer questions end to end: encode → search → fetch. Returns
    * each question's ranked vec_ids, its vector, and whether every hit
    * was found in gold. */
  def ask(questions: Seq[(Long, String)]): Seq[Answer] = {
    val qvs = encode(questions)
    val hits = search(qvs)
    val all = hits.values.flatten.toSeq
    val found = fetch(all)
    qvs.map { case (id, v) =>
      val h = hits.getOrElse(id, Nil)
      Answer(id, v, h, h.forall(x => found.contains(ids(x.toInt))))
    }
  }

  /** Read [[ids]] back from embeddings after an index write, outside
    * every span: vec_ids follow (doc_id, chunk_idx) order, and each
    * batch's doc_ids exceed all earlier ones, so the sorted keys are the
    * map the index writes used. The new vectors are credited to the
    * latest index span. Returns every embedding by vec_id, the
    * exact-search reference for recall. */
  def loadIds(): IndexedSeq[Array[Float]] = {
    val rows = DeltaSource.readDelta(spark, embeddings).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Float](2).toArray).sortBy(_._1)
    t.countLast(if (ids.isEmpty) "GraphAnnIndex.build" else "GraphAnnIndex.append", rows.length - ids.length)
    ids = rows.map(_._1).toVector
    rows.map(_._2).toVector
  }

  private def loadEncoder(): GloveTextEncoder = {
    val rows = read(model).collect()
    val vecs = rows.groupBy(_.getAs[String]("word")).map { case (w, rs) =>
      w -> rs.sortBy(_.getAs[Long]("dim")).map(_.getAs[Double]("weight"))
    }
    GloveTextEncoder(vecs, Glove.Dim)
  }

  private def chunks(silverDf: DataFrame): DataFrame =
    Chunker.fixedStride(silverDf, "content")
      .select(col("doc_id"), col("source"), col("chunk_idx"), col("chunk"), col("chunk_length"))

  private def embed(goldDf: DataFrame): DataFrame =
    Embedder.embed(goldDf, "chunk", Seq("doc_id", "chunk_idx"), encoder)

  /** The embeddings with their vec_ids: the frame the index is built from. */
  def indexed(): DataFrame = withIds(DeltaSource.readDelta(spark, embeddings), 0L)

  /** Dense vec_ids from `offset`, in (doc_id, chunk_idx) order: the
    * graph index links u to u/2, so ids must be dense. */
  private def withIds(emb: DataFrame, offset: Long): DataFrame =
    emb.withColumn("vec_id",
      (row_number().over(Window.orderBy(col("doc_id"), col("chunk_idx"))) - 1 + offset).cast("long"))
}

object Lake {
  val K = 10

  final case class Answer(queryId: Long, vector: Array[Float], hits: Seq[Long], inGold: Boolean)

  private val QuestionSchema = StructType(Seq(
    StructField("query_id", LongType), StructField("text", StringType)))
  private val QueryVecSchema = StructType(Seq(
    StructField("query_id", LongType), StructField("qv", ArrayType(FloatType, containsNull = true))))

  /** Order-free content hash of a Delta table. */
  def contentHash(spark: SparkSession, table: String): String =
    contentHash(DeltaSource.readDelta(spark, table))

  /** Order-free content hash of a frame: row count and the sum of
    * per-row 64-bit hashes over every column. */
  def contentHash(df: DataFrame): String = {
    val cols: Seq[Column] = df.columns.toSeq.sorted.map(col)
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast("decimal(38,0)")), lit(0)).cast("string"))
      .collect().head
    s"${r.getLong(0)} rows, hash sum ${r.getString(1)}"
  }
}
