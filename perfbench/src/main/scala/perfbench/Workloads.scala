package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SizeEstimator

import graft.curie.Converter
import graft.fixtures.{MiniOntology, Transcripts}
import graft.ground.{Grounder, MentionDetector}
import graft.icelite.Icelite
import graft.model.Turn
import graft.operators.{CorpusHygiene, DedupOps, GraphStandardizer, LiteralMappings,
  RetrievalOps, SimilarityOps, TextOps}
import graft.pipeline.{KgPipeline, RunMetrics}
import graft.sources.OboGraphReader

import Workload.median

/** A named metric value, printed as `name value unit`. */
final case class Reading(name: String, value: Double, unit: String)

/**
 * One workload: `setup` generates its inputs and prepares what the program
 * needs before the timed loop; `iterate` is one call sequence of the closed
 * loop; `iterateTraced` is the same work with a span around every call into
 * a layer (where a step has to be timed on its own, the library call is
 * rebuilt from its public steps and checked against the library's result).
 */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: String,
                        val nproc: Int) {
  /** Failed output checks, one message each. */
  val failures = mutable.ArrayBuffer[String]()
  var checks = 0L
  protected def expect(ok: Boolean, what: => String): Unit = {
    checks += 1
    if (!ok) failures += what
  }

  def setup(): Unit
  /** One iteration; returns a fingerprint of its outputs that every
    * iteration of the run must repeat exactly. */
  def iterate(): String
  def iterateTraced(tr: SpanTrace): String = iterate()
  /** Checks run once after the untraced loop (not timed). */
  def finalChecks(): Unit = ()
  /** The workload's own end-to-end readings from the untraced iterations. */
  def readings(iterS: Seq[Double]): Seq[Reading]
  /** Per-layer readings from a finished trace (`iters` traced iterations). */
  def layers(tr: SpanTrace, iters: Int): Seq[Reading]
  /** Spark-free probes that run once, traced, after the traced loop. */
  def traceProbes(tr: SpanTrace): Unit = ()

  /** Per-call samples behind the workload's own readings; cleared after
    * the warm-up. */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  protected def record(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v
  protected def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally record(name, (System.nanoTime() - t0) / 1e9)
  }
  protected def med(name: String): Double = median(samples.getOrElse(name, Nil).toSeq)

  /**
   * `KgPipeline.prepare` under the trace: the library call first (its span
   * counts the jobs `prepare` costs), then the same context rebuilt from the
   * public steps with a span around each; the rebuilt context must equal
   * the library's. Returns the rebuilt context; the library's is released.
   */
  protected def tracedPrepare(tr: SpanTrace, path: String, converter: Converter,
                              prefix: Option[String],
                              extraLexicon: Option[DataFrame] = None): KgPipeline.OntologyContext = {
    val lib = tr.span("pipeline.prepare") {
      KgPipeline.prepare(spark, path, converter, prefix, extraLexicon)
    }
    val graphs = tr.span("sources.read") { OboGraphReader.readGraphs(spark, path) }
    val (nodes, edges) = tr.span("operators.standardize") {
      val ne = KgPipeline.standardizeGraphs(graphs, converter, prefix)
      ne._1.count(); ne._2.count()
      ne
    }
    val lexicon = tr.span("operators.lexicon") {
      val own = LiteralMappings.fromNodes(nodes, prefix.getOrElse("ONT"))
      val l = extraLexicon.fold(own)(x => own.unionByName(x))
      l.count()
      l
    }
    val canonical = tr.span("pipeline.xref_merge") {
      KgPipeline.xrefCanonicalMap(nodes, prefix,
        Some(GraphStandardizer.equivalentNodeEdges(graphs, converter)))
    }
    val grounder = tr.span("ground.build") { Grounder.build(lexicon, canonical) }
    val bc = tr.span("ground.broadcast") { spark.sparkContext.broadcast(grounder) }
    record("patterns", grounder.automaton.patterns.length.toDouble)
    record("automaton_bytes", SizeEstimator.estimate(grounder.automaton).toDouble)
    expect(lib.canonical == canonical, s"$path: rebuilt canonical map differs")
    expect(lib.grounder.value.automaton.patterns.sameElements(grounder.automaton.patterns),
      s"$path: rebuilt automaton patterns differ")
    lib.release()
    KgPipeline.OntologyContext(nodes, edges, bc, canonical)
  }

  /** Per-layer readings of the ontology side, medians over [[tracedPrepare]]
    * calls. */
  protected def ontologyLayers(tr: SpanTrace): Seq[Reading] = {
    def self(name: String): Double = median(tr.named(name).map(tr.selfS))
    Seq(
      Reading("sources.read_s", self("sources.read"), "s"),
      Reading("operators.standardize_s", self("operators.standardize"), "s"),
      Reading("operators.lexicon_s", self("operators.lexicon"), "s"),
      Reading("pipeline.xref_merge_s", self("pipeline.xref_merge"), "s"),
      Reading("ground.build_s", self("ground.build"), "s"),
      Reading("ground.broadcast_s", self("ground.broadcast"), "s"),
      Reading("ground.patterns", med("patterns"), "count"),
      Reading("ground.automaton_bytes", med("automaton_bytes"), "bytes"),
      Reading("pipeline.prepare_jobs", median(tr.named("pipeline.prepare").map(_.jobs.toDouble)), "count"))
  }

  protected def countSig(df: DataFrame, cols: String*): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(cols.map(col): _*))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  protected def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }

  protected def treeBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      var n = 0L
      Files.walk(root).filter(Files.isRegularFile(_)).forEach(f => n += Files.size(f))
      n
    }
  }
}

object Workload {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def apply(name: String, spark: SparkSession, seed: Long, work: String, nproc: Int): Workload =
    name match {
      case "detect_bucketed"    => new DetectBucketed(spark, seed, work, nproc)
      case "prepare_sweep"      => new PrepareSweep(spark, seed, work, nproc)
      case "materialize_resume" => new MaterializeResume(spark, seed, work, nproc)
      case "curate_corpus"      => new CurateCorpus(spark, seed, work, nproc)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** Fixture ontology plus a seeded lexicon, prepared once. */
trait KgContext { self: Workload =>
  val LexiconSingles = 500
  val LexiconPairs = 15000
  var ctx: KgPipeline.OntologyContext = _
  var ontPath: String = _
  var lexicon: DataFrame = _

  def prepareContext(): Unit = {
    ontPath = MiniOntology.writeTo(s"$work/fixtures")
    lexicon = Gen.lexicon(spark, seed, LexiconSingles, LexiconPairs)
    ctx = KgPipeline.prepare(spark, ontPath, extraLexicon = Some(lexicon))
  }
}

/** Steady-state product path: fused detection over conv_id-bucketed parquet. */
final class DetectBucketed(spark: SparkSession, seed: Long, work: String, nproc: Int)
  extends Workload(spark, seed, work, nproc) with KgContext {

  val Convs = 8000L
  val corpusPath = s"$work/corpus_bucketed"
  var input: DataFrame = _
  var turns = 0L
  var kernel: Seq[(Int, Double)] = Nil

  override def setup(): Unit = {
    Gen.writeCorpus(spark, seed, Convs, buckets = 4 * nproc, bucketed = true, corpusPath)
    input = spark.read.parquet(corpusPath)
    turns = input.count()
    prepareContext()
  }

  private def pass(tr: Trace): String = {
    val res = tr.span("pipeline.runPrepared") {
      KgPipeline.runPrepared(spark, input, ctx, inputConvPartitioned = true)
    }
    val (n, sig) = tr.span("plans.detect") { countSig(res.triples, "subj", "pred", "obj") }
    val m = res.metrics
    if (m.turnsProcessed.value > 0)
      record("empty_turn_ratio", m.emptyTurns.value.toDouble / m.turnsProcessed.value)
    s"$n/$sig"
  }

  override def iterate(): String = pass(NoTrace)

  override def iterateTraced(tr: SpanTrace): String = {
    tr.span("plans.scan_floor") { input.agg(sum(octet_length(col("text")))).collect() }
    pass(tr)
  }

  /** On a sampled slice of conversations, the fused path equals the windowed
    * reference path detect → topCandidates → mentionTriples. */
  override def finalChecks(): Unit = {
    import spark.implicits._
    val slice = input.filter(pmod(xxhash64(col("conv_id")), lit(50)) === 0)
    val fused = KgPipeline.runPrepared(spark, slice, ctx, inputConvPartitioned = true)
      .triples.filter(col("subj").startsWith("turn:"))
    val reference = KgPipeline.canonicalize(
      MentionDetector.mentionTriples(MentionDetector.topCandidates(
        MentionDetector.detect(slice.as[Turn], ctx.grounder))), ctx.canonical).distinct()
    val f = countSig(fused, "subj", "pred", "obj")
    val r = countSig(reference, "subj", "pred", "obj")
    expect(f._1 > 0 && f == r, s"fused slice $f != windowed reference $r")
  }

  override def readings(iterS: Seq[Double]): Seq[Reading] = Seq(
    Reading("turns_per_s", turns / median(iterS), "1/s"),
    Reading("passes", iterS.size.toDouble, "count"))

  /** The set-up's `prepare`, traced step by step (the ontology-side layers
    * behind `setup_s`), then the kernel probe. */
  override def traceProbes(tr: SpanTrace): Unit = {
    tracedPrepare(tr, ontPath, MiniOntology.converter, Some("PATO"), Some(lexicon)).release()
    kernelProbe(tr)
  }

  /** Aho-Corasick scan of in-memory UTF-8 turns, no Spark: aggregate MB/s at
    * 1..nproc threads, each thread scanning the whole sample. */
  private def kernelProbe(tr: SpanTrace): Unit = tr.span("ground.kernel") {
    val texts = input.select("text").limit(40000).collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    val bytes = texts.map(_.numBytes.toLong).sum
    val automaton = ctx.grounder.value.automaton
    def scanAll(): Long = {
      val sc = automaton.newScanner()
      var hits = 0L
      val f = (_: Int, _: Int, _: Int) => hits += 1
      texts.foreach(t => sc.scan(t, f))
      hits
    }
    val expected = scanAll()
    val t0 = System.nanoTime()
    var reps = 0
    while (System.nanoTime() - t0 < 3e8.toLong) { scanAll(); reps += 1 }
    kernel = (1 to nproc).map { threads =>
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val pool = (1 to threads).map(_ => new Thread(() => (1 to reps).foreach(_ => got.add(scanAll()))))
      val s0 = System.nanoTime()
      pool.foreach(_.start()); pool.foreach(_.join())
      val sec = (System.nanoTime() - s0) / 1e9
      got.forEach(h => expect(h == expected, s"kernel scan hits $h != $expected"))
      threads -> threads * reps * bytes / 1e6 / sec
    }
  }

  override def layers(tr: SpanTrace, iters: Int): Seq[Reading] = Seq(
    Reading("ground.kernel_mb_s_1t", kernel.head._2, "MB/s"),
    Reading("ground.kernel_mb_s_nt", kernel.last._2, "MB/s"),
    Reading("plans.detect_s", median(tr.named("plans.detect").map(tr.selfS)), "s"),
    Reading("plans.scan_floor_s", median(tr.named("plans.scan_floor").map(tr.selfS)), "s"),
    Reading("plans.empty_turn_ratio", med("empty_turn_ratio"), "ratio")) ++
    ontologyLayers(tr) ++
    kernel.map { case (t, mb) => Reading(s"ground.kernel_mb_s_${t}t_sweep", mb, "MB/s") }
}

/** Bulk sweep: prepare + a small batch + release, per generated ontology. */
final class PrepareSweep(spark: SparkSession, seed: Long, work: String, nproc: Int)
  extends Workload(spark, seed, work, nproc) {

  val Sizes = Seq(300, 1000, 3000)
  val BatchConvs = 210L
  val converter = Gen.converter(Sizes.size)
  var onts: Seq[Gen.PlantedOntology] = Nil
  var batch: DataFrame = _

  override def setup(): Unit = {
    val dir = Paths.get(s"$work/ontologies")
    Files.createDirectories(dir)
    onts = Sizes.zipWithIndex.map { case (n, k) => Gen.ontology(dir, k, n, seed) }
    val batchPath = s"$work/batch"
    Transcripts.synthetic(spark, BatchConvs, seed = seed)
      .write.mode("overwrite").parquet(batchPath)
    batch = spark.read.parquet(batchPath)
  }

  private def checkContext(o: Gen.PlantedOntology, ctx: KgPipeline.OntologyContext): Unit = {
    val g = ctx.grounder.value
    expect(g.automaton.patterns.length == o.patterns,
      s"${o.prefix}: ${g.automaton.patterns.length} patterns, planted ${o.patterns}")
    expect(ctx.canonical.size == o.canonicalSize,
      s"${o.prefix}: canonical map ${ctx.canonical.size}, planted ${o.canonicalSize}")
    val whole = g.ground(o.probeText)
      .filter(m => m.start == 0 && m.surface == graft.ground.AhoCorasick.normalize(o.probeText))
    val got = whole.headOption.map(m => s"${m.prefix}:${m.id}").getOrElse("none")
    expect(got == o.probeCurie, s"${o.prefix}: '${o.probeText}' grounds to $got, planted ${o.probeCurie}")
  }

  override def iterate(): String = {
    val fp = onts.map { o =>
      val ctx = timed("prepare") { KgPipeline.prepare(spark, o.path, converter, Some(o.prefix)) }
      checkContext(o, ctx)
      val out = countSig(KgPipeline.runPrepared(spark, batch, ctx).triples, "subj", "pred", "obj")
      ctx.release()
      s"${o.prefix}=${out._1}/${out._2}"
    }
    fp.mkString(",")
  }

  /** Each ontology's context comes from [[tracedPrepare]]; the loop checks
    * that the batch outputs equal the library iterations'. */
  override def iterateTraced(tr: SpanTrace): String = {
    val fp = onts.map { o =>
      val ctx = tracedPrepare(tr, o.path, converter, Some(o.prefix))
      checkContext(o, ctx)
      val out = tr.span("pipeline.batch") {
        countSig(KgPipeline.runPrepared(spark, batch, ctx).triples, "subj", "pred", "obj")
      }
      ctx.release()
      s"${o.prefix}=${out._1}/${out._2}"
    }
    fp.mkString(",")
  }

  override def readings(iterS: Seq[Double]): Seq[Reading] = Seq(
    Reading("prepare_s_p50", med("prepare"), "s"),
    Reading("prepare_n", samples.get("prepare").fold(0)(_.size).toDouble, "count"),
    Reading("sweep_s", median(iterS), "s"))

  override def layers(tr: SpanTrace, iters: Int): Seq[Reading] = ontologyLayers(tr)
}

/** Icelite path: fresh materializing run over un-bucketed input, then resume. */
final class MaterializeResume(spark: SparkSession, seed: Long, work: String, nproc: Int)
  extends Workload(spark, seed, work, nproc) with KgContext {

  val Convs = 1500L
  val corpusPath = s"$work/corpus_flat"
  val Tag = "bench"
  var input: DataFrame = _
  var turns = 0L
  var iter = 0

  override def setup(): Unit = {
    Gen.writeCorpus(spark, seed, Convs, buckets = 2 * nproc, bucketed = false, corpusPath)
    input = spark.read.parquet(corpusPath)
    turns = input.count()
    prepareContext()
  }

  private def freshRoot(): Icelite = {
    iter += 1
    val root = s"$work/icelite/run-$iter"
    deleteTree(root)
    new Icelite(root)
  }

  private def edgesOf(ic: Icelite, id: Long): (Long, Long) =
    countSig(ic.readSnapshot(spark, "kg_edges", Some(id)), "subj", "pred", "obj")

  private val RowCount = """"row_count":(\d+)""".r

  /** kg_edges row count from the snapshot manifest: no Spark job, so the
    * timed iteration holds only the two pipeline runs. */
  private def rowCount(ic: Icelite, id: Long): Long =
    RowCount.findFirstMatchIn(ic.manifestJson("kg_edges", id)).get.group(1).toLong

  /** Fresh run then resume through `run`; the resume must not write a new
    * mentions_top snapshot. Returns the two kg_edges snapshot ids. */
  private def freshAndResume(ic: Icelite, run: Boolean => Long): (Long, Long) = {
    val fresh = run(true)
    val mentions = ic.currentSnapshotId("mentions_top")
    val resumed = run(false)
    expect(ic.currentSnapshotId("mentions_top") == mentions,
      s"resume wrote a new mentions_top snapshot (${ic.currentSnapshotId("mentions_top")} vs $mentions)")
    (fresh, resumed)
  }

  private def libraryRun(ic: Icelite)(fresh: Boolean): Long =
    timed(if (fresh) "fresh" else "resume") {
      KgPipeline.runPrepared(spark, input, ctx, Some(ic), Tag)
    }.snapshotId.get

  override def iterate(): String = {
    val ic = freshRoot()
    val (fresh, resumed) = freshAndResume(ic, libraryRun(ic))
    val fp = s"${rowCount(ic, fresh)}/${rowCount(ic, resumed)}"
    deleteTree(ic.root)
    fp
  }

  /** kg_edges count and signature of a library fresh run; its resume must
    * reproduce them. */
  private lazy val libraryEdges: (Long, Long) = {
    val ic = freshRoot()
    val (fresh, resumed) = freshAndResume(ic, libraryRun(ic))
    val a = edgesOf(ic, fresh)
    val b = edgesOf(ic, resumed)
    expect(a == b, s"resumed kg_edges $b != fresh $a")
    deleteTree(ic.root)
    a
  }

  override def finalChecks(): Unit = { val _ = libraryEdges }

  /** `runPrepared` with an Icelite root, rebuilt from its public steps. The
    * salted repartition is forced once on its own so its cost shows; the
    * rebuilt kg_edges must equal the library run's. */
  private def rebuiltRun(tr: SpanTrace, ic: Icelite, fresh: Boolean): Long = {
    val metrics = new RunMetrics(spark)
    val turnsDf = input
      .withColumn("salt", pmod(col("turn_idx"), lit(KgPipeline.SaltBuckets)))
      .repartition(col("conv_id"), col("salt"))
      .sortWithinPartitions(col("conv_id"), col("turn_idx"))
      .drop("salt")
    val slim = MentionDetector.slim(turnsDf)
    if (fresh) tr.span("pipeline.repartition") { countSig(slim.toDF(), "conv_id", "turn_idx", "text") }
    val top = MentionDetector.detectTopSlim(slim, ctx.grounder, Some(metrics)).toDF()
    val ontologyTriples = KgPipeline.canonicalize(ctx.edges.select("subj", "pred", "obj"), ctx.canonical)
      .dropDuplicates("subj", "pred", "obj")
    val topSnap = tr.span(if (fresh) "icelite.materialize" else "icelite.read_snapshot") {
      ic.materialize(spark, "mentions_top", s"$Tag/mentions")(top)
    }
    val all = KgPipeline.canonicalize(MentionDetector.mentionTriples(topSnap, dedup = false), ctx.canonical)
      .unionByName(ontologyTriples)
      .dropDuplicates("subj", "pred", "obj")
    val nodeTable = ctx.nodes.select(col("prefix"), col("id"), col("curie"), col("label"), col("deprecated"))
    tr.span("icelite.write_nodes") { ic.writeSnapshot(nodeTable, "kg_nodes", s"$Tag/nodes") }
    tr.span("icelite.write_edges") { ic.writeSnapshot(all, "kg_edges", s"$Tag/edges") }
  }

  /** The rebuilt run and its resume must reproduce the library's kg_edges. */
  override def iterateTraced(tr: SpanTrace): String = {
    val ic = freshRoot()
    val (fresh, resumed) = freshAndResume(ic, isFresh =>
      tr.span(if (isFresh) "pipeline.fresh" else "pipeline.resume") { rebuiltRun(tr, ic, isFresh) })
    record("bytes_written", treeBytes(ic.root).toDouble)
    for (id <- Seq(fresh, resumed)) {
      val e = edgesOf(ic, id)
      expect(e == libraryEdges, s"rebuilt kg_edges $e != library $libraryEdges")
    }
    val fp = s"${rowCount(ic, fresh)}/${rowCount(ic, resumed)}"
    deleteTree(ic.root)
    fp
  }

  override def readings(iterS: Seq[Double]): Seq[Reading] = Seq(
    Reading("materialize_turns_per_s", turns / med("fresh"), "1/s"),
    Reading("resume_s", med("resume"), "s"))

  override def layers(tr: SpanTrace, iters: Int): Seq[Reading] = {
    def self(name: String) = median(tr.named(name).map(tr.selfS))
    val fresh = tr.subtree("pipeline.fresh").filter(_.name != "pipeline.repartition")
    val icelite = tr.all.filter(_.name.startsWith("icelite."))
    val skews = tr.named("icelite.materialize").flatMap(_.stageSkews)
    Seq(
      Reading("pipeline.repartition_s", self("pipeline.repartition"), "s"),
      Reading("pipeline.shuffle_bytes", fresh.map(_.shuffleWriteBytes.toDouble).sum / iters, "bytes"),
      Reading("pipeline.task_skew", if (skews.isEmpty) 1.0 else skews.max, "ratio"),
      Reading("icelite.materialize_s", self("icelite.materialize"), "s"),
      Reading("icelite.write_nodes_s", self("icelite.write_nodes"), "s"),
      Reading("icelite.write_edges_s", self("icelite.write_edges"), "s"),
      Reading("icelite.read_snapshot_s", self("icelite.read_snapshot"), "s"),
      Reading("icelite.bytes_written", med("bytes_written"), "bytes"),
      Reading("icelite.jobs", icelite.map(_.jobs.toDouble).sum / iters, "count"))
  }
}

/** Corpus operators: hygiene, BM25, BPE training and the IVF-PQ index. */
final class CurateCorpus(spark: SparkSession, seed: Long, work: String, nproc: Int)
  extends Workload(spark, seed, work, nproc) {

  val Docs = 2000
  val Vectors = 4000
  val Queries = 20
  val Merges = 10
  val docsPath = s"$work/documents"
  val vecPath = s"$work/vectors"
  var planted: Gen.PlantedDocs = _
  var queries: DataFrame = _
  var annQueries: DataFrame = _

  override def setup(): Unit = {
    planted = Gen.documents(spark, seed, Docs, docsPath)
    Gen.vectors(spark, seed, Vectors, vecPath)
    val docs = spark.read.parquet(docsPath)
    queries = docs.filter(pmod(xxhash64(col("doc_id"), lit(seed)), lit(Docs / Queries)) === 0)
      .orderBy("doc_id").limit(Queries)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(split(DedupOps.normText(col("text")), " "), 1, 6)).as("qtext"))
      .localCheckpoint()
    annQueries = spark.read.parquet(vecPath).filter(col("vec_id") < Queries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      .localCheckpoint()
  }

  private def hashRows(rows: Seq[Any]): Int = scala.util.hashing.MurmurHash3.seqHash(rows)

  private def run(tr: Trace): String = {
    val docs = spark.read.parquet(docsPath)
    val emb = spark.read.parquet(vecPath)
    val clean = timed("hygiene") {
      tr.span("operators.hygiene") { countSig(CorpusHygiene.clean(docs), "doc_id", "text") }
    }
    val bm25 = timed("bm25") {
      tr.span("operators.bm25") {
        RetrievalOps.bm25TopK(docs.select("doc_id", "text"), queries, k = 10)
          .orderBy("query_id", "rank").collect().map(_.toString).toSeq
      }
    }
    val merges = timed("bpe") {
      tr.span("operators.bpe_merge") { TextOps.learnBpeMerges(docs, Merges)._1 }
    }
    val ann = timed("ann") {
      val index = tr.span("operators.ivf_train") { SimilarityOps.trainIvf(emb, nLists = 8) }
      val books = tr.span("operators.pq_train") { SimilarityOps.trainPq(emb, m = 2, k = 8, dim = 64) }
      tr.span("operators.ann_query") {
        SimilarityOps.annTopKIvfPqExact(emb, annQueries, index, books, k = 5, nprobe = 4, shortlist = 64)
          .orderBy("query_id", "rank").select("query_id", "vec_id", "rank").collect().map(_.toString).toSeq
      }
    }
    expect(merges.size == Merges, s"learned ${merges.size} BPE merges, asked $Merges")
    s"${clean._1}/${clean._2}/${hashRows(bm25)}/${hashRows(merges)}/${hashRows(ann)}"
  }

  override def iterate(): String = run(NoTrace)

  /** Hygiene stages timed on their own, then the library calls as untraced. */
  override def iterateTraced(tr: SpanTrace): String = {
    val docs = spark.read.parquet(docsPath)
    tr.span("operators.exact_dedup") { DedupOps.exactDedup(docs).count() }
    tr.span("operators.minhash") {
      val cand = DedupOps.minhashCandidates(docs, k = 16, bands = 8).count()
      val verified = DedupOps.minhashNearDuplicates(docs, 0.8, k = 16, bands = 8).count()
      record("candidate_yield", if (cand == 0) 0.0 else verified.toDouble / cand)
    }
    run(tr)
  }

  /** Every planted exact duplicate is gone after hygiene. */
  override def finalChecks(): Unit = {
    val survivors = CorpusHygiene.clean(spark.read.parquet(docsPath))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val left = planted.exactDupIds.intersect(survivors)
    expect(left.isEmpty, s"${left.size} planted exact duplicates survived hygiene, e.g. ${left.take(3)}")
    val nearGone = planted.nearDupIds.count(id => !survivors(id)).toDouble / planted.nearDupIds.size
    println(f"perfbench near_dup_removed_frac $nearGone%.4f ratio")
  }

  override def readings(iterS: Seq[Double]): Seq[Reading] = Seq(
      Reading("hygiene_docs_per_s", Docs / med("hygiene"), "1/s"),
      Reading("bm25_batch_s", med("bm25"), "s"),
      Reading("bpe_merge_s", med("bpe") / Merges, "s"),
      Reading("ann_index_s", med("ann"), "s"))

  override def layers(tr: SpanTrace, iters: Int): Seq[Reading] = {
    def self(name: String) = median(tr.named(name).map(tr.selfS))
    def jobs(name: String) = tr.named(name).map(_.jobs.toDouble).sum / math.max(1, tr.named(name).size)
    Seq(
      Reading("operators.exact_dedup_s", self("operators.exact_dedup"), "s"),
      Reading("operators.minhash_s", self("operators.minhash"), "s"),
      Reading("operators.minhash_candidate_yield", med("candidate_yield"), "ratio"),
      Reading("operators.hygiene_s", self("operators.hygiene"), "s"),
      Reading("operators.hygiene_jobs", jobs("operators.hygiene"), "count"),
      Reading("operators.bm25_s", self("operators.bm25"), "s"),
      Reading("operators.bm25_jobs", jobs("operators.bm25"), "count"),
      Reading("operators.bpe_merge_s", self("operators.bpe_merge") / Merges, "s"),
      Reading("operators.ivf_train_s", self("operators.ivf_train"), "s"),
      Reading("operators.pq_train_s", self("operators.pq_train"), "s"),
      Reading("operators.ann_query_s", self("operators.ann_query"), "s"))
  }
}
