package graft.perfbench

import graft.llm.{LlmOps, StreamingIngest}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** Workload `llm`: the ingest gate, then the heavy read side.
  *
  * Phase 1 drains a seeded document stream through `StreamingIngest.start`
  * with AvailableNow — minhash, fluency and semantic gates, the ANN
  * append, and a compaction after the second. Set-up builds the base
  * corpus's minhash index, ANN cell table and fluency LM. The stream is
  * pre-written as files of [[PerFile]] docs carrying the planted shares of
  * [[Gen.Shares]]; every planted doc must be dropped and every fresh doc
  * admitted exactly once, into the corpus and into both indexes.
  *
  * Traced runs then run one query per heavy family once
  * ([[QueryPhase.heavy]]) for the per-family layer figures.
  */
final class IngestWorkload(ctx: Ctx) extends Workload {
  val BaseDocs = 1000
  val PerFile = 600
  val CompactEvery = 2
  val MinHashThreshold = 0.6
  val FluencyThreshold = 0.05
  val SemanticThreshold = 0.95
  /** each epoch costs seconds of fixed work, so two files already fill a
    * run; the second is where near copies of the first are caught
    */
  val Files = 2

  private var base: IndexedSeq[Gen.Doc] = IndexedSeq.empty
  private var stream: IndexedSeq[IndexedSeq[Gen.Doc]] = IndexedSeq.empty
  private val buildMs = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  private def timed(name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    ctx.tracer.span(name)(body)
    buildMs(name) = (System.nanoTime() - t0) / 1e6
    Main.log(f"$name ${buildMs(name)}%.0f ms")
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))

  private def frame(docs: Seq[Gen.Doc]) = ctx.spark.createDataFrame(
    ctx.spark.sparkContext.parallelize(
      docs.map(d => Row(d.id, d.text, d.emb.toSeq, d.label)), ctx.cores), docSchema)

  private def start(dir: String, src: String, out: String, ckp: String,
      hook: Long => Unit) =
    StreamingIngest.start(ctx.spark, src, s"$dir/mh", out, ckp,
      threshold = MinHashThreshold, compactEvery = CompactEvery,
      annIndexDir = Some(s"$dir/ann"), semanticThreshold = Some(SemanticThreshold),
      lmDir = Some(s"$dir/lm"), fluencyThreshold = Some(FluencyThreshold),
      epochHook = hook)

  def prepare(ctx: Ctx, dir: String): Unit = {
    base = Gen.baseCorpus(ctx.seed, BaseDocs)
    stream = Gen.arriving(ctx.seed, base, Files, PerFile)
    val corpus = frame(base).cache()
    corpus.count()
    timed("setup.build_minhash") { LlmOps.buildMinHashIndex(corpus, s"$dir/mh") }
    timed("setup.build_ann") {
      LlmOps.buildAnnIndex(corpus, s"$dir/ann", idCol = "doc_id")
    }
    timed("setup.build_lm") { LlmOps.buildFluencyModel(corpus, s"$dir/lm") }
    corpus.unpersist()
    stream.zipWithIndex.foreach { case (docs, f) =>
      Gen.writeDocs(s"$dir/staging", s"$dir/src", f"d$f%04d.parquet", docs)
    }
  }

  def measure(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    val rep = ctx.report
    val hooks = ArrayBuffer.empty[(Long, Long, Long)] // (epoch, ns, ms)
    val winStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val q = start(dir, s"$dir/src", s"$dir/out", s"$dir/ckp",
      e => hooks.synchronized {
        hooks += ((e, System.nanoTime(), System.currentTimeMillis())); Main.log(s"epoch $e")
      })
    val threw = try { q.awaitTermination(); None } catch { case t: Throwable => Some(t) }
    val t1 = System.nanoTime()
    val winEndMs = System.currentTimeMillis()
    val arrived = stream.flatten
    rep.attempt(arrived.size + stream.size)
    threw.foreach(t => rep.fail(1, s"ingest stream threw ${t.getClass.getSimpleName}: ${t.getMessage}"))
    rep.fail(stream.size - hooks.size, "epochs that never reached the commit hook")

    // ---- correctness. Expected admissions follow the gates' rules: the
    // minhash rule (LshSpec) over base ∪ admitted-so-far, file by file;
    // word salad fails the fluency bar and paraphrases the semantic gate
    // by construction. The corpus and both indexes must hold exactly them.
    val idx = new LshSpec.Index
    base.foreach(d => idx.add(LshSpec.sig(d.text)))
    val expect = scala.collection.mutable.HashSet.empty[Long]
    var escapes = 0
    stream.foreach { docs =>
      val admit = docs.map(d => d -> LshSpec.sig(d.text)).filter { case (d, sg) =>
        !idx.isNearDup(sg, MinHashThreshold) && d.kind != Gen.Kind.Salad && d.kind != Gen.Kind.Paraphrase
      }
      admit.foreach { case (d, sg) =>
        expect += d.id; idx.add(sg)
        if (!d.fresh) escapes += 1
      }
    }
    val kind = arrived.map(d => d.id -> d.kind).toMap
    def ids(path: String, col: String): Seq[Long] =
      spark.read.parquet(path).select(col).collect().map(_.getLong(0)).toSeq
    val outIds = ids(s"$dir/out", "doc_id")
    val outSet = outIds.toSet
    outIds.filterNot(expect).groupBy(kind).foreach { case (k, v) =>
      rep.fail(v.size, s"$k docs admitted against the gates' rules") }
    expect.filterNot(outSet).groupBy(kind).foreach { case (k, v) =>
      rep.fail(v.size, s"$k docs dropped against the gates' rules") }
    rep.fail(outIds.size - outSet.size, "duplicate docs in the corpus")
    Seq(s"$dir/mh/signatures" -> "doc_id", s"$dir/ann/cells" -> "vec_id").foreach { case (p, c) =>
      val inIdx = ids(p, c).filter(outSet)
      rep.fail(inIdx.size - inIdx.distinct.size, s"admitted ids indexed twice in $p")
      rep.fail(outSet.size - inIdx.distinct.size, s"admitted ids missing from $p")
    }
    val planted = arrived.count(!_.fresh)
    rep.info("lsh_escapes", escapes.toDouble, "count", planted,
      "planted near copies the minhash rule itself misses (admitted as expected)")
    rep.info("planted_recall", (planted - escapes).toDouble / math.max(planted, 1), "ratio", planted)

    // ---- end-to-end figures
    val hs = hooks.synchronized(hooks.toList).sortBy(_._1)
    // an epoch's interval runs from the previous epoch's commit hook (the
    // first epoch's from the stream start) to its own
    val intervals = (t0 +: hs.map(_._2)).zip(hs.map(_._2)).map { case (a, b) => (b - a) / 1e6 }
    rep.end("latency_p50_ms", Stats.median(intervals), "ms", intervals.size,
      "median epoch interval: the previous epochHook (stream start for the first) to this one")
    // the epochs' progress events reach the listener asynchronously
    def progress = ctx.progress.all._1.filter(p => p.startMs >= winStartMs && p.rows > 0).sortBy(_.batchId)
    val deadline = System.nanoTime() + 10000000000L
    while (progress.size < hs.size && System.nanoTime() < deadline) Thread.sleep(10)
    val ours = progress
    rep.fail(hs.size - ours.size, "epochs whose progress event never arrived")
    def d(p: ctx.progress.Progress, k: String) = p.durations.getOrElse(k, 0L)
    // foreachBatch starts after the offset, WAL, batch and planning phases
    val epochs = ours.flatMap { p =>
      hs.find(_._1 == p.batchId).map { case (_, _, hookMs) =>
        val addStart = p.startMs + d(p, "latestOffset") + d(p, "walCommit") +
          d(p, "getBatch") + d(p, "queryPlanning")
        (p, addStart, hookMs)
      }
    }
    val gate = epochs.map { case (_, a, h) => (h - a).toDouble }
    rep.end("latency_tail_ms", if (gate.isEmpty) Double.NaN else gate.max, "ms", gate.size,
      "slowest epoch's gate write: foreachBatch start to epochHook")
    val rate = arrived.size / ((t1 - t0) / 1e9)
    rep.end("throughput_per_s", rate, "1/s", arrived.size,
      "arriving docs / stream start to drained, compaction included")
    Gen.Kind.values.foreach(k => rep.info(s"docs.$k", arrived.count(_.kind == k).toDouble, "count", arrived.size))

    // ---- per layer
    def filesUnder(p: String): Seq[java.io.File] =
      org.apache.commons.io.FileUtils.listFiles(new java.io.File(p), null, true)
        .toArray(Array.empty[java.io.File]).toSeq.filter(_.getName.endsWith(".parquet"))
    val idxFiles = filesUnder(s"$dir/mh") ++ filesUnder(s"$dir/ann")
    rep.per("ingest.index_files", idxFiles.size.toDouble, "count", 1)
    rep.per("ingest.index_bytes", idxFiles.map(_.length.toDouble).sum, "bytes", 1)
    rep.per("ingest.kept_ratio", outSet.size / math.max(arrived.size.toDouble, 1.0), "ratio", arrived.size)
    rep.per("setup.build_minhash_ms", buildMs.getOrElse("setup.build_minhash", 0.0), "ms", 1)
    rep.per("setup.build_ann_ms", buildMs.getOrElse("setup.build_ann", 0.0), "ms", 1)
    rep.per("setup.build_lm_ms", buildMs.getOrElse("setup.build_lm", 0.0), "ms", 1)
    rep.end("peak_rss_mb", Main.peakRssMb, "MB", 1, "VmHWM of the benchmark JVM")
    if (ctx.tracer.enabled) {
      val compact = epochs.collect {
        case (p, a, h) if p.batchId % CompactEvery == CompactEvery - 1 =>
          (d(p, "addBatch") - (h - a)).toDouble
      }
      val (jobs, _, _) = ctx.engine.window(winStartMs, winEndMs)
      val jobsPer = epochs.map { case (_, a, h) => jobs.count(j => j.startMs >= a && j.startMs <= h).toDouble }
      rep.per("ingest.gate_write_ms", Stats.median(gate), "ms", gate.size, "foreachBatch start to epochHook")
      rep.per("ingest.jobs_per_epoch", Stats.median(jobsPer), "count", jobsPer.size)
      rep.per("ingest.compact_ms", Stats.median(compact), "ms", compact.size, "addBatch after epochHook, compacting epochs")
      rep.per("ingest.planning_ms", Stats.median(ours.map(d(_, "queryPlanning").toDouble)), "ms", ours.size)
      rep.per("ingest.commit_ms", Stats.median(ours.map(d(_, "commitOffsets").toDouble)), "ms", ours.size)
      Engine.metrics(ctx, winStartMs, winEndMs)
      // the read side of the stored layer, in traced runs only
      new QueryPhase(ctx, QueryPhase.heavy, 1).measure()
    }
  }
}
