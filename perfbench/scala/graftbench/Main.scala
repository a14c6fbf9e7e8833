package graftbench

import scala.collection.mutable

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark driver JVM: runs one workload against graft's public
  * functions, times each operation, and writes the raw measurements
  * (op latencies, outputs to verify, spans and per-job listener records)
  * to a JSON file. `perfbench/run.py` launches it, verifies the outputs
  * and derives the metrics.
  *
  * A run has a warm-up, a set-up phase (`SetupReps` repetitions of the
  * workload's set-up, each timed; the workload may warm up between them,
  * untimed), then timed phases. Untraced runs have one
  * timed phase of `seconds`; traced runs split `seconds` into an untraced
  * half and a traced half, so the tracing overhead is measured in the
  * same process on the same inputs.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, inputs: String, work: String, out: String,
      cpus: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("inputs"), m("work"), m("out"), m("cpus").toInt)
  }

  /** setup_s reports the median of this many set-ups. */
  val SetupReps = 3

  /** Storage blocks (cached RDD partitions) held by the session now. */
  def cachedBlocks(sc: SparkContext): Int =
    sc.getRDDStorageInfo.map(_.numCachedPartitions).sum

  private def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    finally src.close()
  }

  /** One timed operation's record; `fields` holds workload outputs. */
  final class Op(val index: Int, val phase: String, val kind: String) {
    var ms = 0.0
    var error: Option[String] = None
    val fields = mutable.LinkedHashMap.empty[String, Any]
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.default.parallelism", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyMs = System.currentTimeMillis()
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark.sparkContext, enabled = false)
    val bench: Workload = a.workload match {
      case "train" => new TrainWorkload(spark, a, tracer, listener)
      case "corpus" => new CorpusWorkload(spark, a, tracer, listener)
      case "search" => new SearchWorkload(spark, a, tracer, listener)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // JIT and codegen warm-up first: a process pays it once, whatever it
    // sets up, so it stays outside setup_s (like input generation)
    val w0 = System.nanoTime()
    bench.warmup()
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = (1 to SetupReps).map { rep =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      bench.setup(rep)
      val s = (System.nanoTime() - t0) / 1e9
      bench.afterSetup(rep)
      s
    }

    val timedStartMs = System.currentTimeMillis()
    val ops = mutable.ArrayBuffer.empty[Op]
    val phases =
      if (a.trace) Seq("untraced" -> a.seconds / 2, "traced" -> a.seconds / 2)
      else Seq("untraced" -> a.seconds)
    var rssKb = 0L
    phases.foreach { case (phase, secs) =>
      tracer.enabled = phase == "traced"
      val t0 = System.nanoTime()
      var n = 0
      // at least `minOps` ops per phase, and whole rounds of the op
      // stream, so every phase has the stream's mix
      while (n < bench.minOps || (System.nanoTime() - t0) / 1e9 < secs ||
          n % bench.opsPerRound != 0) {
        val op = new Op(ops.length, phase, bench.nextKind(ops.length))
        tracer.op = op.index
        bench.beforeOp(op)
        val s = System.nanoTime()
        try tracer.span(s"op.${op.kind}")(bench.run(op))
        catch {
          case e: Throwable =>
            op.error = Some(e.toString.take(300))
            System.err.println(s"[graftbench] op ${op.index} failed:")
            e.printStackTrace()
        }
        op.ms = (System.nanoTime() - s) / 1e6
        BenchBus.drain(spark.sparkContext)
        bench.afterOp(op)
        // storage blocks the program still caches after the op, once the
        // benchmark has released its own persists (a leak shows as a count)
        if (tracer.enabled)
          op.fields("cached_blocks_after_op") = cachedBlocks(spark.sparkContext)
        ops += op
        n += 1
      }
      rssKb = peakRssKb()
    }
    tracer.enabled = false
    val timedEndMs = System.currentTimeMillis()
    // live heap after the timed phase: what the session still holds
    System.gc()
    val heapLiveKb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1024
    BenchBus.drain(spark.sparkContext)
    val checks = bench.verify(ops.toSeq)

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload,
      "seed" -> a.seed,
      "cpus" -> a.cpus,
      "ready_ms" -> readyMs,
      "setup_reps_s" -> setupS,
      "warmup_s" -> warmupS,
      "setup_phase_s" -> (timedStartMs - readyMs) / 1000.0,
      "timed_end_ms" -> timedEndMs,
      "peak_rss_kb" -> rssKb,
      "heap_live_kb" -> heapLiveKb,
      "facts" -> bench.facts,
      "checks" -> checks,
      "ops" -> ops.map { o =>
        mutable.LinkedHashMap[String, Any]("index" -> o.index,
          "phase" -> o.phase, "kind" -> o.kind, "ms" -> o.ms,
          "error" -> o.error) ++ o.fields
      })
    out("jobs") = listener.snapshot().map(j => mutable.LinkedHashMap[String, Any](
      "id" -> j.id, "span" -> j.span, "site" -> j.site, "execution" -> j.execution,
      "start" -> j.start, "end" -> j.end, "tasks" -> j.tasks, "gc_ms" -> j.gcMs,
      "result_bytes" -> j.resultBytes, "shuffle_bytes" -> j.shuffleBytes,
      "spill_bytes" -> j.spillBytes, "input_records" -> j.inputRecords))
    if (a.trace)
      out("spans") = tracer.spans.map(s => mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start" -> s.start, "end" -> s.end))
    val w = new java.io.PrintWriter(a.out, "UTF-8")
    try w.write(Json.render(out)) finally w.close()
    spark.stop()
  }
}

/** A workload: set-up, the op stream, and JVM-side output checks. */
abstract class Workload(val spark: SparkSession, val args: Main.Args,
    val tracer: Tracer, val listener: JobListener) {
  /** Values the checks and metrics need besides the ops (sizes, ...). */
  val facts = mutable.LinkedHashMap.empty[String, Any]
  /** Session-side set-up: input registration (and index builds). */
  def setup(rep: Int): Unit
  /** Untimed work after set-up repetition `rep`. */
  def afterSetup(rep: Int): Unit = ()
  /** Untimed runs of the op path, before set-up. */
  def warmup(): Unit
  def nextKind(i: Int): String
  /** Ops in one round of the stream; a timed phase runs whole rounds. */
  def opsPerRound: Int = 1
  /** Fewest ops in a timed phase. */
  def minOps: Int = 1
  def beforeOp(op: Main.Op): Unit = ()
  def run(op: Main.Op): Unit
  def afterOp(op: Main.Op): Unit = ()
  /** Checks that need Spark (run after every timed phase). */
  def verify(ops: Seq[Main.Op]): Seq[Map[String, Any]] = Nil

  def span[A](name: String)(body: => A): A = tracer.span(name)(body)

  protected def input(name: String): String = s"${args.inputs}/$name"
}

// ---------------------------------------------------------------- train

class TrainWorkload(spark: SparkSession, a: Main.Args, t: Tracer,
    l: JobListener) extends Workload(spark, a, t, l) {
  import graft.pipeline.Pipeline
  import graft.relational.Staging
  import graft.train.DistributedTrainer

  val label = "cover_type"
  /** Reference staging: integer columns widen to doubles, label kept. */
  val stagingSpec = Staging.StagingSpec(labelColumn = Some(label))
  val trainFraction = 0.75
  private var monitored = mutable.ArrayBuffer.empty[(Int, Double)]

  def config(seed: Long) = Pipeline.PipelineConfig(
    staging = stagingSpec,
    encoder = graft.encode.Encoder.EncoderSpec(featureDim = 10),
    train = DistributedTrainer.TrainConfig(hidden = Seq(200, 200),
      classes = 7, labelCol = label, iterations = 3, initialStep = 0.15,
      schedule = Seq(0.5, 1.0), seed = seed,
      monitor = (i, loss) => monitored += ((i, loss))),
    trainFraction = trainFraction, seed = seed)

  private def trainSplit(raw: DataFrame): Array[DataFrame] =
    Staging.stage(raw, stagingSpec)
      .randomSplit(Array(trainFraction, 1.0 - trainFraction), args.seed)

  /** Rows in each schedule stage's sample: the rows one gradient job of
    * that stage runs forward and backward.
    */
  private def stageRows: Seq[Long] = {
    val train = trainSplit(spark.read.parquet(input("covtype.parquet")))(0)
    config(args.seed).train.schedule.map(f =>
      if (f >= 1.0) train.count() else train.sample(f, args.seed).count())
  }

  def setup(rep: Int): Unit = {
    val raw = spark.read.parquet(input("covtype.parquet"))
    facts("rows") = raw.count()
    facts("schedule_stages") = config(args.seed).train.schedule.length
  }

  /** One whole untimed op on the same table: the op's plans compile and
    * its code loads. Its loss trajectory is the one every timed op must
    * reproduce (same seed, same trajectory).
    */
  def warmup(): Unit = {
    val op = new Main.Op(-1, "warmup", "pipeline")
    beforeOp(op)
    run(op)
    facts("reference_loss_history") = op.fields("loss_history")
  }

  def nextKind(i: Int): String = "pipeline"

  override def beforeOp(op: Main.Op): Unit = {
    spark.catalog.clearCache()
    monitored = mutable.ArrayBuffer.empty
    // the op's jobs are those from here to the next op's first job
    op.fields("first_job") = listener.snapshot().lastOption.map(_.id + 1).getOrElse(0)
  }

  def run(op: Main.Op): Unit = {
    val raw = span("sources.scan")(spark.read.parquet(input("covtype.parquet")))
    val p0 = System.nanoTime()
    val res = span("pipeline.run")(Pipeline.run(spark, raw, config(args.seed)))
    op.fields("pipeline_ms") = (System.nanoTime() - p0) / 1e6
    val test = span("relational.stage")(trainSplit(raw)(1))
    val s0 = System.nanoTime()
    val scored = span("encode.score")(
      DistributedTrainer.predictionReport(spark, test, res.trainResult.state,
        res.trainResult.net, label, Int.MaxValue)
        .select(col("label"), col("prediction")).collect())
    op.fields("score_ms") = (System.nanoTime() - s0) / 1e6
    val correct = scored.count { r =>
      val pred = r.getSeq[Double](1)
      pred.indexOf(pred.max) == r.getInt(0) - 1
    }
    val majority =
      if (scored.isEmpty) 0 else scored.groupBy(_.getInt(0)).values.map(_.length).max
    op.fields ++= Seq("score_rows" -> scored.length, "score_correct" -> correct,
      "score_majority" -> majority,
      "loss_history" -> res.trainResult.lossHistory, "monitor" -> monitored.toSeq)
  }

  /** Rows per schedule stage, for examples/s (counted after the timed
    * phases, so no timing includes them).
    */
  override def verify(ops: Seq[Main.Op]): Seq[Map[String, Any]] = {
    facts("stage_rows") = stageRows
    Nil
  }
}

// --------------------------------------------------------------- corpus

class CorpusWorkload(spark: SparkSession, a: Main.Args, t: Tracer,
    l: JobListener) extends Workload(spark, a, t, l) {
  import graft.llm.{Decontaminate, Dedup, SeqPack, TextAnalysis}
  import graft.relational.Sampling

  val threshold = 0.7
  val chunkLen = 2048L
  /** Token budget per source: unequal on purpose, so the sampler's
    * cut lands at a different rank in every source.
    */
  val budgets: Map[String, Long] =
    (0 until 8).map(i => s"src$i" -> (10000L + 2000L * i)).toMap
  private val held = mutable.ArrayBuffer.empty[DataFrame]

  private def keep(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist()
    held += p
    (p, p.count())
  }

  def setup(rep: Int): Unit = {
    val docs = spark.read.parquet(input("corpus.parquet"))
    facts("docs") = docs.count()
    facts("bench_docs") = spark.read.parquet(input("bench.parquet")).count()
    facts ++= Seq("threshold" -> threshold, "chunk_len" -> chunkLen, "budgets" -> budgets)
  }

  /** One untimed pass over the whole corpus. Its outputs (near-dup
    * pairs, decontaminated ids) are the ones the checks re-verify, and
    * every timed pass must reproduce its counts.
    */
  def warmup(): Unit = {
    val op = new Main.Op(-1, "warmup", "pass")
    beforeOp(op)
    run(op)
    afterOp(op)
  }

  def nextKind(i: Int): String = "pass"

  override def beforeOp(op: Main.Op): Unit = spark.catalog.clearCache()

  private def release(): Unit = { held.foreach(_.unpersist()); held.clear() }

  def run(op: Main.Op): Unit = {
    val docs = span("sources.scan")(spark.read.parquet(input("corpus.parquet")))
    pass(docs, Some(op))
  }

  /** exact dedup → quality filter → near-dup pairs → components →
    * decontamination → token-budget mixture sample → sequence packing.
    * Each stage's output is materialized in its own span.
    */
  private def pass(docs: DataFrame, op: Option[Main.Op]): Unit = {
    val bench = spark.read.parquet(input("bench.parquet"))
    val (exact, nExact) = span("llm.exact_dedup")(keep(
      docs.join(Dedup.exactClusters(docs, "doc_id", "text")
        .filter(col("id") === col("cluster_id"))
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")))
    // the cascade's verdicts are materialized before the filter applies
    // them: a filter on `keep` straight over the cascade is pushed below
    // its projection, inlining the token split into the bigram lambda
    // (one regex pass per token, O(len²) per document)
    val (quality, nQuality) = span("llm.quality_filter") {
      val (verdicts, _) = keep(TextAnalysis.qualityCascade(exact, "doc_id", "text")
        .select(col("id").as("doc_id"), col("keep")))
      keep(exact.join(verdicts.filter(col("keep")).select("doc_id"),
        Seq("doc_id"), "left_semi"))
    }
    val (pairs, nPairs) = span("llm.neardup")(keep(
      Dedup.nearDupPairs(quality, "doc_id", "text", threshold = threshold)))
    val (distinct, nDistinct) = span("llm.components")(keep(
      quality.join(Dedup.connectedComponents(quality, "doc_id", pairs, "id_a", "id_b")
        .filter(col("id") === col("component")).select(col("id").as("doc_id")),
        Seq("doc_id"), "left_semi")))
    val (clean, nClean) = span("llm.decontaminate")(keep(
      distinct.join(Decontaminate.contaminationReport(distinct, bench,
        "doc_id", "text", k = 8).select(col("id").as("doc_id")),
        Seq("doc_id"), "left_anti")))
    val (sampled, nSampled) = span("relational.sample")(keep(
      Sampling.mixtureSampleByBudget(
        clean.withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long")),
        "source", "doc_id", "n_tokens", budgets)))
    val chunks = span("llm.pack")(
      SeqPack.packChunks(sampled, "doc_id", "n_tokens",
        floor(col("doc_id") / 1000), chunkLen)
        .agg(count(lit(1)), sum(col("n_tokens"))).collect().head)
    op.foreach { o =>
      o.fields ++= Seq("exact_survivors" -> nExact, "quality_kept" -> nQuality,
        "neardup_pairs" -> nPairs, "component_reps" -> nDistinct,
        "clean" -> nClean, "sampled" -> nSampled,
        "chunks" -> chunks.getLong(0), "packed_tokens" -> chunks.getLong(1))
      // everything below reads the pass's outputs for the checks and the
      // trace, outside the op's timed region (run() has returned)
      pendingOutputs = Some((quality, pairs, clean))
    }
  }

  private var pendingOutputs: Option[(DataFrame, DataFrame, DataFrame)] = None
  private var firstOutputsTaken = false

  override def afterOp(op: Main.Op): Unit = {
    pendingOutputs.foreach { case (quality, pairs, clean) =>
      if (!firstOutputsTaken) {
        facts("pairs") = pairs.select("id_a", "id_b", "jaccard").collect()
          .map(r => Seq(r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        facts("clean_ids") = clean.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        firstOutputsTaken = true
      }
      if (tracer.enabled) op.fields("neardup_candidates") = candidateCount(quality)
    }
    pendingOutputs = None
    release()
  }

  /** LSH candidate pairs of the same banding `nearDupPairs` runs (the
    * default 64 hashes / 16 bands over the quality-filtered docs):
    * distinct pairs sharing a band bucket of size 2..1000. Traced runs
    * only; the precision metric is pairs / candidates.
    */
  private def candidateCount(quality: DataFrame): Long = {
    val buckets = quality
      .select(col("doc_id"), explode(Dedup.bandHashes(col("text"))).as("band"))
      .groupBy("band").agg(collect_list("doc_id").as("ids"))
      .filter(size(col("ids")).between(2, 1000))
    buckets.select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b")).distinct().count()
  }
}

// --------------------------------------------------------------- search

/** One op of the generated `search` stream. */
final case class StreamOp(op: Int, kind: String, batch: Int,
    vec: Array[Double], terms: Seq[String])

class SearchWorkload(spark: SparkSession, a: Main.Args, t: Tracer,
    l: JobListener) extends Workload(spark, a, t, l) {
  import graft.llm.{IndexManifest, Similarity, Vocabulary}

  val k = 10
  val buckets = 16
  val nprobe = 4
  var ivfRoot = ""
  var bm25Root = ""
  var centroids: Array[Array[Double]] = Array.empty
  var radii: Array[Double] = Array.empty
  var ivfAppends = 0
  var bm25Appends = 0
  private var ops: Array[StreamOp] = Array.empty
  private lazy val ivfDeltas = spark.read.parquet(input("ivf_appends.parquet"))
  private lazy val bm25Deltas = spark.read.parquet(input("bm25_appends.parquet"))

  /** Builds both disk indexes into fresh roots named by `tag`. */
  private def build(emb: DataFrame, docs: DataFrame, tag: String): Unit = {
    ivfRoot = s"${args.work}/index/ivf-$tag"
    bm25Root = s"${args.work}/index/bm25-$tag"
    centroids = Similarity.kmeansCentroids(emb, "embedding", "vec_id",
      Similarity.cellsFor(emb.count()))
    Similarity.writeIvfIndex(
      Similarity.ivfIndex(emb, "embedding", "vec_id", centroids), ivfRoot)
    radii = Similarity.cellRadii(Similarity.readIvfIndex(spark, ivfRoot), centroids)
    Vocabulary.writeBm25Index(docs, "doc_id", "text", bm25Root, buckets)
    ivfAppends = 0
    bm25Appends = 0
  }

  def setup(rep: Int): Unit = {
    ops = readOps()
    build(spark.read.parquet(input("embeddings.parquet")),
      spark.read.parquet(input("documents.parquet")), rep.toString)
    facts("k") = k
    // readiness: the fresh index answers its first read during set-up
    query(ops.head, None)
  }

  /** The op stream only: the first set-up is the cold one, and the op
    * path warms up on its index (`afterSetup`).
    */
  def warmup(): Unit = ops = readOps()

  private def readOps(): Array[StreamOp] = {
    val src = scala.io.Source.fromFile(input("ops.tsv"), "UTF-8")
    try src.getLines().map { line =>
      val f = line.split("\t", -1)
      StreamOp(f(0).toInt, f(1), f(2).toInt, f(3).split(",").map(_.toDouble),
        f(4).split(" ").toSeq)
    }.toArray
    finally src.close()
  }

  /** One append of each kind on the first set-up's indexes (each
    * set-up's readiness query warms the query path); later set-ups build
    * fresh roots, so the timed phase never sees these appends.
    */
  override def afterSetup(rep: Int): Unit = if (rep == 1) {
    val appends = ops.indices.filter(i => nextKind(i) != "query")
    Seq("ivf_append", "bm25_append").foreach { kind =>
      val i = appends.find(i => nextKind(i) == kind).get
      run(new Main.Op(i, "warmup", kind))
    }
  }

  /** The op stream is generated: kind per position, seeded. */
  def nextKind(i: Int): String = ops(i % ops.length).kind

  /** A round: the stream up to and including its second append, so a
    * round holds one append of each kind.
    */
  override def opsPerRound: Int =
    ops.indices.filter(i => nextKind(i) != "query")(1) + 1

  def run(op: Main.Op): Unit = {
    val r = ops(op.index % ops.length)
    op.fields("op") = r.op
    op.kind match {
      case "query" => query(r, Some(op))
      case "ivf_append" =>
        span("llm.ivf_append") {
          Similarity.appendIvfIndex(
            ivfDeltas.filter(col("batch") === r.batch),
            "embedding", "vec_id", ivfRoot, centroids)
          // exact serving needs radii that cover the appended members
          radii = Similarity.cellRadii(Similarity.readIvfIndex(spark, ivfRoot), centroids)
        }
        ivfAppends += 1
      case "bm25_append" =>
        span("llm.bm25_append")(Vocabulary.appendBm25Index(
          bm25Deltas.filter(col("batch") === r.batch),
          "doc_id", "text", bm25Root, buckets))
        bm25Appends += 1
    }
  }

  /** One hybrid lookup: IVF top-k for the vector and BM25 top-k for the
    * terms of the same request.
    */
  private def query(r: StreamOp, op: Option[Main.Op]): Unit = {
    val t0 = System.nanoTime()
    val knn = span("llm.ivf_probe")(Similarity.topKIvfExact(
      Similarity.readIvfIndex(spark, ivfRoot), r.vec, centroids, radii, k, nprobe)
      .collect())
    val t1 = System.nanoTime()
    val bm = span("llm.bm25_probe")(Vocabulary.bm25Disk(spark, bm25Root, r.terms,
      topK = k, buckets = buckets).collect())
    val t2 = System.nanoTime()
    op.foreach { o =>
      o.fields ++= Seq("knn_ms" -> (t1 - t0) / 1e6, "bm25_ms" -> (t2 - t1) / 1e6,
        "ivf_appends" -> ivfAppends, "bm25_appends" -> bm25Appends,
        "knn" -> knn.map(x => Seq(x.getLong(0), x.getDouble(1))).toSeq,
        "bm25" -> bm.map(x => Seq(x.getLong(0), x.getDouble(1))).toSeq)
    }
  }

  override def afterOp(op: Main.Op): Unit = {
    if (tracer.enabled && op.kind == "query") {
      val t0 = System.nanoTime()
      IndexManifest.current(ivfRoot)
      IndexManifest.current(bm25Root)
      op.fields("manifest_resolve_ms") = (System.nanoTime() - t0) / 2e6
    }
  }

  /** Sampled BM25 answers against in-memory `Vocabulary.bm25` over the
    * documents visible when the query ran (base + appended batches).
    */
  override def verify(ops: Seq[Main.Op]): Seq[Map[String, Any]] = {
    val docs = spark.read.parquet(input("documents.parquet"))
    val sampled = ops.filter(o => o.kind == "query" && o.error.isEmpty)
      .zipWithIndex.filter(_._2 % 5 == 0).map(_._1)
    facts("index_files") = Seq(ivfRoot, bm25Root).map { root =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    }.sum
    sampled.map { o =>
      val r = this.ops(o.index % this.ops.length)
      val seen = o.fields("bm25_appends").asInstanceOf[Int]
      val visible = docs.unionByName(
        bm25Deltas.filter(col("batch") < seen).drop("batch"))
      val want = Vocabulary.bm25(visible, "doc_id", "text",
        r.terms, topK = k)
        .collect().map(x => Seq(x.getLong(0), x.getDouble(1))).toSeq
      Map[String, Any]("op" -> o.index, "name" -> "bm25_vs_in_memory",
        "want" -> want)
    }
  }
}
