package graftbench

import graft.GraftSession
import graft.operators.Runbook
import graft.sources.{DeltaSource, GraphAnnIndex}
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** The lakehouse-to-RAG benchmark. One process, one client thread,
  * Spark on `local[<nproc>]` through `GraftSession.getOrCreate`.
  *
  * Usage: graftbench.Main <incr|ask> <seed> <seconds> <trace 0|1> <workDir> <resultFile>
  *
  * Both workloads set up by building a lake and its index from raw
  * documents (the cold path), then run a closed loop (see
  * perfbench/README.md):
  *  - incr: one 50-document batch landed on the lake, then questions
  *    about the batch;
  *  - ask:  32-question batches, then single questions.
  *
  * The result file holds every end-to-end and per-layer metric, the
  * input sizes, the sample counts and the output checks. */
object Main {

  // ---- sizes: fixed, so every seed does the same amount of work ----
  val BaseDocs = 300
  val BatchDocs = 50
  val BatchQuestions = 3
  val MaxBatchQuestions = 16
  val AskBatch = 32
  val ProbeQuestions = 64
  /** The batch's first doc_id, clear of the base's. */
  val BatchFirstId = 1000000L
  val CleanPauseMs = 50L

  /** LSH bits for the graph index, sized from the largest corpus an
    * index of the run will hold (the index planes freeze at build). */
  def nbits(vectors: Long): Int = {
    var b = 4
    while ((1L << b) < vectors / 48.0 && b < 24) b += 1
    b
  }

  def main(argv: Array[String]): Unit = {
    require(argv.length == 6,
      "usage: graftbench.Main <incr|ask> <seed> <seconds> <trace 0|1> <workDir> <resultFile>")
    val Array(workload, seed, seconds, trace, work, out) = argv
    require(Set("incr", "ask")(workload), s"unknown workload $workload")
    val nproc = Runtime.getRuntime.availableProcessors()
    val started = System.nanoTime()
    val spark = GraftSession.getOrCreate(s"local[$nproc]", nproc)
    val sessionS = (System.nanoTime() - started) / 1e9
    // process start to a ready session: the first part of setup_s
    val startupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val run = new Run(spark, new Tracer(spark.sparkContext, trace == "1"), workload,
      seed.toLong, seconds.toDouble, work, nproc)
    val result = try run.execute(sessionS, startupS) finally spark.stop()
    Files.write(Paths.get(out), Json.render(result).getBytes(StandardCharsets.UTF_8))
  }
}

/** One benchmark run: set-up, timed loop, output checks, metrics. */
final class Run(spark: SparkSession, t: Tracer, workload: String, seed: Long,
                seconds: Double, work: String, nproc: Int) {
  import Main._

  private val rng = new java.util.Random(seed)
  private var attempted = 0
  private var failed = 0
  private val checks = ArrayBuffer.empty[Json.Obj]
  private var setupWorkS = 0.0
  private val opS = ArrayBuffer.empty[Double]
  private val askS = ArrayBuffer.empty[Double]
  private val recalls = ArrayBuffer.empty[Double]
  private var nextQuery = -1L
  private var sizes: Seq[(String, Any)] = Nil
  private var lakeBytes = 0L
  private var rawBytes = 0L
  private var writtenBytes = 0L
  private var landedBytes = 0L
  private var timed = 0
  /** Delta add and remove actions per timed request, or per set-up
    * where the loop writes nothing. */
  private var deltaFiles = (0.0, 0.0)
  private var deltaFilesFrom = "loop"

  // ---- bookkeeping ----

  private val marks = ArrayBuffer.empty[(String, Any)]

  /** Note on stderr and in the result how far the run has come:
    * seconds since process start. */
  private def mark(phase: String): Unit = {
    val s = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    marks += phase -> s
    System.err.println(f"graftbench: $phase at $s%.1f s")
  }

  private def secondsOf(body: => Unit): Double = {
    val s = System.nanoTime()
    body
    (System.nanoTime() - s) / 1e9
  }

  /** Run one timed operation; a failure counts and yields no timing. */
  private def op(request: String, root: String)(body: => Unit): Option[Double] = {
    attempted += 1
    t.request = request
    try Some(secondsOf(t.span(root)(body)))
    catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"graftbench: $request failed")
        e.printStackTrace()
        None
    } finally t.request = "check"
  }

  private def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"graftbench: check failed: $name $detail")
    }
    checks += Json.obj("name" -> name, "ok" -> ok, "detail" -> detail)
  }

  /** Drop cached tables and persisted RDDs between requests, collect
    * garbage, and give Spark's cleaner a moment to delete what the
    * collection released, so no request pays for its predecessor. */
  private def clean(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
    Thread.sleep(CleanPauseMs)
  }

  private def dir(name: String): String = new File(work, name).getAbsolutePath

  private def newQuestions(texts: Seq[String], n: Int): Seq[(Long, String)] =
    Seq.fill(n) {
      val id = nextQuery
      nextQuery -= 1
      id -> Inputs.question(rng, texts(rng.nextInt(texts.length)))
    }

  /** Recall of `answers` against exact search over `vecs`. Not timed. */
  private def score(answers: Seq[Lake.Answer], vecs: IndexedSeq[Array[Float]]): Unit =
    answers.foreach { a =>
      val exact = vecs.map(Stats.cosine6(a.vector, _))
      recalls += Stats.tieAwareRecall(exact, a.hits.map(h => exact(h.toInt)), Lake.K)
    }

  private def inputDocs(name: String, docs: Seq[Inputs.Doc]): (String, Long) = {
    val d = dir(s"in/$name")
    new File(d).mkdirs()
    d -> Inputs.write(spark, docs, d)
  }

  private def lakeHashes(tables: Seq[String]): Seq[String] =
    tables.map(Lake.contentHash(spark, _))

  // ---- the run ----

  def execute(sessionS: Double, startupS: Double): Json.Obj = {
    new File(work).mkdirs()
    mark("inputs")
    workload match {
      case "incr" => incr()
      case "ask" => ask()
    }
    mark("end")
    t.drain()
    if (t.enabled) {
      // the lake is fresh, so no memo or index fingerprint may turn a
      // training or an index build into a cache hit
      Seq("Glove.train", "GraphAnnIndex.build").foreach { n =>
        val jobs = t.spans.filter(s => s.request == "setup" && s.name == n).map(t.counters(_).jobs).sum
        check(s"set-up: $n ran Spark jobs", jobs >= 1, s"$jobs jobs")
      }
    }
    result(sessionS, startupS + setupWorkS)
  }

  /** Set-up work, traced under request "setup". Its time counts in
    * `setup_s`; input generation and the benchmark's own bookkeeping
    * between set-up steps do not. */
  private def setUp(body: => Unit): Unit = {
    clean()
    t.request = "setup"
    setupWorkS += secondsOf(t.span("setup")(body))
    t.request = "check"
  }

  /** Bronze → … → index over the base. Returns the vectors by vec_id. */
  private def buildBase(lake: Lake, in: String, bits: Int): IndexedSeq[Array[Float]] = {
    mark("setup")
    setUp(lake.build(in, bits))
    lake.loadIds()
  }

  private def incr(): Unit = {
    val base = Inputs.docs(rng, 0L, BaseDocs)
    val batch = Inputs.docs(rng, BatchFirstId, BatchDocs)
    val (baseIn, baseBytes) = inputDocs("base", base)
    val (batchIn, batchBytes) = inputDocs("batch", batch)
    val bits = nbits((BaseDocs + BatchDocs) * 3L)
    val warm = newQuestions(base.map(_.text), BatchQuestions)
    val questions = newQuestions(batch.map(_.text), MaxBatchQuestions).iterator
    val probe = newQuestions((base ++ batch).map(_.text), ProbeQuestions)
    val lake = new Lake(spark, t, dir("lake"))
    buildBase(lake, baseIn, bits)
    setUp(lake.ask(warm))
    val versions0 = lake.tables.map(DeltaSource.latestVersion(spark, _).getOrElse(-1L))
    rawBytes = baseBytes

    mark("loop")
    val loopStart = System.nanoTime()
    clean()
    val before = Stats.listing(new File(lake.root))
    val landed = op("batch-1", "incr.land")(lake.land(batchIn, BatchFirstId, BatchFirstId + BatchDocs - 1, "batch-1"))
    landed.foreach { s =>
      opS += s
      timed += 1
      writtenBytes = Stats.bytesWritten(before, Stats.listing(new File(lake.root)))
      landedBytes = batchBytes
      rawBytes += batchBytes
    }
    val vecs = lake.loadIds()
    // questions about the batch: at least BatchQuestions, more while time remains
    val answers = ArrayBuffer.empty[Lake.Answer]
    var asked = 0
    while (landed.isDefined && questions.hasNext &&
           (asked < BatchQuestions || (System.nanoTime() - loopStart) / 1e9 < seconds)) {
      clean()
      op(s"batch-1-ask-$asked", "incr.ask")(answers ++= lake.ask(Seq(questions.next()))).foreach(askS += _)
      asked += 1
    }
    mark("checks")
    val fa = lake.tables.zip(versions0).map { case (tb, v) => DeltaLog.actions(tb, v) }
    deltaFiles = (fa.map(_._1).sum.toDouble, fa.map(_._2).sum.toDouble)
    lakeBytes = Stats.bytesOnDisk(Stats.listing(new File(lake.root)))
    if (landed.isEmpty) return
    score(answers.toSeq, vecs)
    check("every hit is a gold chunk", answers.forall(_.inGold),
      s"${answers.count(!_.inGold)} answers with a hit missing from gold")

    // the incremental path must build what one pass over bronze builds
    lake.recomputed(BatchFirstId).foreach { case (table, df) =>
      val (h, r) = (Lake.contentHash(spark, table), Lake.contentHash(df))
      check(s"${new File(table).getName} after the batch equals a recompute over bronze", h == r, s"$h vs $r")
    }
    // appendIncremental's documented guarantee: the grown index answers
    // as one rebuilt over base and batch at the same nbits
    mark("index check")
    val rebuilt = dir("rebuilt-index")
    GraphAnnIndex.buildAndSave(lake.indexed(), rebuilt, nbits = bits, dim = graft.operators.Glove.Dim)
    val qv = lake.encode(probe)
    val grown = lake.search(qv)
    val fresh = lake.search(qv, rebuilt)
    val differ = qv.count { case (id, _) => grown.get(id) != fresh.get(id) }
    check("the grown index answers as a rebuild over base and batch", differ == 0,
      s"$differ of ${qv.length} probe answers differ")
    score(qv.map { case (id, v) => Lake.Answer(id, v, grown.getOrElse(id, Nil), inGold = true) }, vecs)
    sizes = Seq("base_docs" -> BaseDocs, "batch_docs" -> BatchDocs,
      "docs" -> (BaseDocs + BatchDocs), "chunks" -> lake.ids.length, "vectors" -> lake.ids.length,
      "raw_bytes" -> rawBytes, "batch_questions" -> asked, "probe_questions" -> ProbeQuestions)
  }

  private def ask(): Unit = {
    val base = Inputs.docs(rng, 0L, BaseDocs)
    val (baseIn, baseBytes) = inputDocs("base", base)
    val texts = base.map(_.text)
    val bits = nbits(BaseDocs * 3L)
    val warm = newQuestions(texts, AskBatch)
    val lake = new Lake(spark, t, dir("lake"))
    val vecs = buildBase(lake, baseIn, bits)
    var reportRows = 0L
    setUp {
      reportRows = lake.report()
      lake.ask(warm)
    }
    deltaFiles = lake.tables.map(DeltaLog.actions(_, -1L))
      .foldLeft((0.0, 0.0)) { case ((a, r), (x, y)) => (a + x, r + y) }
    deltaFilesFrom = "setup"
    val before = Stats.listing(new File(lake.root))
    // every question the loop can ask, drawn before the first timed call
    val pool = newQuestions(texts, 2000).iterator

    mark("loop")
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    val answers = ArrayBuffer.empty[Lake.Answer]
    // batches first: they run the same calls as a single ask, so the
    // singles that follow meet a warmer JIT
    var batches = 0
    while (batches == 0 || elapsed < seconds / 2) {
      clean()
      op(s"ask-$timed", "ask.batch")(answers ++= lake.ask(pool.take(AskBatch).toSeq)).foreach(opS += _)
      timed += 1
      batches += 1
    }
    def single(q: (Long, String)): Option[Lake.Answer] = {
      clean()
      var a: Option[Lake.Answer] = None
      op(s"ask-$timed", "ask.single") { a = lake.ask(Seq(q)).headOption }.foreach(askS += _)
      timed += 1
      answers ++= a
      a
    }
    // the first question is asked again last: its answer must not change
    val first = pool.next()
    val firstAnswer = single(first)
    while (elapsed < seconds) single(pool.next())
    val again = single(first)
    mark("checks")
    check("a repeated question gets the identical ordered answer",
      firstAnswer.isDefined && firstAnswer.map(_.hits) == again.map(_.hits),
      s"${firstAnswer.map(_.hits)} then ${again.map(_.hits)}")

    score(answers.toSeq, vecs)
    check("every hit is a gold chunk", answers.forall(_.inGold),
      s"${answers.count(!_.inGold)} answers with a hit missing from gold")
    val after = Stats.listing(new File(lake.root))
    check("serving writes nothing under the lake", Stats.bytesWritten(before, after) == 0)
    check("the report returned rows", reportRows > 0, s"$reportRows rows")
    mark("runbook check")
    // the runbook over the same raw input is the reference for every zone
    val ref = dir("runbook")
    Runbook.runWithTraining(spark, baseIn, ref)
    val refHashes = lakeHashes(Seq("bronze", "silver", "gold", "model", "embeddings_trained")
      .map(z => s"$ref/$z"))
    val mine = lakeHashes(lake.tables)
    check("every zone equals the runbook's", mine == refHashes,
      s"lake ${mine.mkString("; ")} vs runbook ${refHashes.mkString("; ")}")
    lakeBytes = Stats.bytesOnDisk(after)
    rawBytes = baseBytes
    sizes = Seq("docs" -> BaseDocs, "chunks" -> lake.ids.length, "vectors" -> lake.ids.length,
      "raw_bytes" -> baseBytes, "single_asks" -> askS.length, "batch_asks" -> opS.length,
      "questions_per_batch" -> AskBatch)
  }

  // ---- metrics ----

  private def result(sessionS: Double, setupS: Double): Json.Obj = {
    def m(v: Double, unit: String) = Json.obj("value" -> v, "unit" -> unit)
    val ok = opS.nonEmpty && askS.nonEmpty && recalls.nonEmpty
    val tail = if (askS.nonEmpty) Stats.tail(askS.toSeq) else Stats.Tail(Double.NaN, 0, 0, 0)
    def median(xs: ArrayBuffer[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs.toSeq)
    val e2e = if (!ok) Json.obj() else Json.obj(
      "setup_s" -> m(setupS, "s"),
      "op_s" -> m(median(opS), "s"),
      "ask_p50_s" -> m(median(askS), "s"),
      "recall_at_10" -> m(recalls.sum / recalls.length, "ratio"),
      "space_amp" -> m(lakeBytes.toDouble / rawBytes, "ratio"))
    val layers = if (t.enabled) perLayer() else (Json.obj(), Json.obj())
    Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> t.enabled,
      "correct" -> (failed == 0 && ok), "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> e2e,
      "per_layer" -> layers._1,
      "provenance" -> Json.obj(
        "nproc" -> nproc, "spark_master" -> spark.sparkContext.master,
        "spark_version" -> spark.version, "scala_version" -> scala.util.Properties.versionNumberString,
        "java_version" -> System.getProperty("java.version"),
        "driver_heap_bytes" -> Runtime.getRuntime.maxMemory()),
      "sizes" -> Json.Obj(sizes),
      "samples" -> Json.obj("setup_s" -> 1, "op_s" -> opS.length, "ask_s" -> askS.length,
        "recall_questions" -> recalls.length),
      "detail" -> Json.obj(
        "session_s" -> sessionS, "marks_s" -> Json.Obj(marks.toSeq),
        "error_rate" -> (if (attempted == 0) Double.NaN else failed.toDouble / attempted),
        "ask_tail_s" -> tail.value, "ask_tail_percentile" -> tail.percentile,
        "ask_tail_beyond" -> tail.beyond,
        "ask_batch_qps" -> (if (workload == "ask") AskBatch / median(opS) else Double.NaN),
        "write_amp" -> (if (landedBytes == 0) Double.NaN else writtenBytes.toDouble / landedBytes),
        "op_samples_s" -> opS, "ask_samples_s" -> askS,
        "lake_bytes" -> lakeBytes, "raw_bytes" -> rawBytes,
        "written_bytes" -> writtenBytes, "landed_bytes" -> landedBytes,
        "trace" -> layers._2),
      "checks" -> checks,
      "spans" -> (if (t.enabled) t.spans.map(s => Json.obj("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "request" -> s.request, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "seconds" -> s.seconds, "items" -> s.items)) else Nil))
  }

  /** Per-layer metrics from the spans: per timed request, or per set-up
    * for a layer that only set-up runs. A layer the workload never runs
    * (the index append on `ask`) reads 0, since every per-layer metric
    * is printed; the result file's `layer_source` names it "not run". */
  private def perLayer(): (Json.Obj, Json.Obj) = {
    val spans = t.spans.toSeq
    val self = Stats.selfTimes(spans.map(s => (s.id, s.parent, s.startNs, s.endNs)))
    val loop = spans.filter(s => LoopRequest.findPrefixOf(s.request).isDefined)
    val setup = spans.filter(_.request.startsWith("setup"))
    val requests = math.max(1, timed)
    val out = ArrayBuffer.empty[(String, Any)]
    def put(name: String, v: Double, unit: String) =
      out += name -> Json.obj("value" -> v, "unit" -> unit)
    /** The spans named `name` the metric rests on, and what to divide by. */
    def chosen(name: String): (Seq[Span], Int) = {
      val inLoop = loop.filter(_.name == name)
      if (inLoop.nonEmpty) (inLoop, requests)
      else (setup.filter(_.name == name), 1)
    }
    def source(name: String): String =
      if (loop.exists(_.name == name)) "loop" else if (setup.exists(_.name == name)) "setup" else "not run"
    LayerSpans.foreach { name =>
      val (use, per) = chosen(name)
      val cs = use.map(t.counters)
      def sum(f: Counters => Long) = cs.map(f).sum.toDouble / per
      put(s"$name.wall_s", use.map(s => self(s.id)).sum / per, "s")
      put(s"$name.calls", use.length.toDouble / per, "count")
      put(s"$name.jobs", sum(_.jobs), "count")
      put(s"$name.tasks", sum(_.tasks), "count")
      put(s"$name.cpu_s", sum(_.cpuNs) / 1e9, "s")
      put(s"$name.gc_s", sum(_.gcMs) / 1e3, "s")
      put(s"$name.shuffle_bytes", sum(_.shuffleBytes), "bytes")
      put(s"$name.spill_bytes", sum(_.spillBytes), "bytes")
      put(s"$name.out_bytes", sum(_.outBytes), "bytes")
    }
    // a write's tail after its last Spark job: the Delta commit; from
    // set-up's writes where the loop writes nothing
    def writes(ss: Seq[Span]) = ss.filter(s => WriteSpans(s.name) && t.counters(s).outBytes > 0)
    val loopWrites = writes(loop)
    val (written, writesPer) = if (loopWrites.nonEmpty) (loopWrites, requests) else (writes(setup), 1)
    val commitTail = written.map { s =>
      val c = t.counters(s)
      if (c.lastJobEndMs > 0) math.max(0L, s.endMs - c.lastJobEndMs) / 1e3 else 0.0
    }.sum
    put("DeltaSource.commit_s", commitTail / writesPer, "s")
    put("DeltaSource.files_added", deltaFiles._1, "count")
    put("DeltaSource.files_removed", deltaFiles._2, "count")
    def perItem(name: String, f: Counters => Long, unit: String, metric: String): Unit = {
      val (use, _) = chosen(name)
      val items = use.map(_.items).sum
      put(metric, if (items == 0) 0.0 else use.map(s => f(t.counters(s))).sum.toDouble / items, unit)
    }
    perItem("GraphAnnIndex.search", _.jobs, "count", "GraphAnnIndex.search.jobs_per_query")
    perItem("GraphAnnIndex.append", _.outBytes, "bytes", "GraphAnnIndex.append.out_bytes_per_vector")
    perItem("GraphAnnIndex.build", _.shuffleBytes, "bytes", "GraphAnnIndex.build.shuffle_bytes_per_vector")
    // share of the set-up build and of each batch that the layer spans' self times cover
    val parent = spans.map(s => s.id -> s.parent).toMap
    def rootOf(id: Int): Int = if (parent(id) == -1) id else rootOf(parent(id))
    val layerSelf = spans.filter(s => LayerSpans.contains(s.name))
      .groupBy(s => rootOf(s.id)).map { case (r, ss) => r -> ss.map(s => self(s.id)).sum }
    val coverage = spans.filter(s => CoveredRoots(s.name))
      .map(r => layerSelf.getOrElse(r.id, 0.0) / r.seconds)
    (Json.Obj(out.toSeq), Json.obj(
      "requests" -> timed,
      "layer_source" -> Json.Obj(LayerSpans.map(n => n -> source(n)) ++
        Seq("DeltaSource.commit_s" -> (if (loopWrites.nonEmpty) "loop" else "setup"),
          "DeltaSource.files" -> deltaFilesFrom)),
      "stage_coverage_min" -> (if (coverage.isEmpty) Double.NaN else coverage.min),
      "stage_coverage_median" -> (if (coverage.isEmpty) Double.NaN else Stats.median(coverage))))
  }

  private val LoopRequest = "(batch|ask)-".r
  private val CoveredRoots = Set("setup", "incr.land")
  private val LayerSpans = Seq("Medallion.bronze", "Medallion.silver", "Chunker.gold",
    "Glove.train", "Embedder.embed", "GraphAnnIndex.build", "GraphAnnIndex.append",
    "GraphAnnIndex.search", "DeltaSource.read", "DeltaSource.fetch", "Quality.report",
    "Dedup.nearDup")
  private val WriteSpans = Set("Medallion.bronze", "Medallion.silver", "Chunker.gold",
    "Glove.train", "Embedder.embed")
}

/** Add and remove actions a Delta table's log committed after a
  * version, read straight from `_delta_log`. */
object DeltaLog {
  def actions(table: String, after: Long): (Long, Long) = {
    val log = new File(table, "_delta_log")
    val commits = Option(log.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.matches("\\d{20}\\.json") && f.getName.take(20).toLong > after)
    commits.foldLeft((0L, 0L)) { case ((a, r), f) =>
      val lines = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8).split('\n')
      (a + lines.count(_.startsWith("{\"add\"")), r + lines.count(_.startsWith("{\"remove\"")))
    }
  }
}
