package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{col, count, lit, shiftright, struct, sum, to_json, xxhash64}
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** A closed-loop client running one pass over registered
  * `SparkEntry.queries` on the bundled sf0.01 tables, each query written
  * to the noop sink, in an order the seed permutes. `queries` maps each
  * name to its family; each runs `repeats` times in the pass, and the
  * first run of a query in the session pays its own planning and code
  * generation.
  *
  * Every execution carries an order-independent digest of its result
  * (`Dataset.observe`, no extra job), checked against
  * `data/query_hashes.json`, recorded from a run whose `graft.Verify` dump
  * passed `tools/localverify.py` on the same tables.
  */
final class QueryPhase(ctx: Ctx, queries: Seq[(String, String)], repeats: Int) {
  private val family = queries.toMap
  private def refPath = Paths.get(new java.io.File(ctx.data).getParent, "query_hashes.json")

  /** Run `name` into the noop sink; returns its result digest: row count
    * and the sums of the low and high halves of each row's xxhash64 over
    * its JSON form.
    */
  def run(name: String): String = {
    val df = SparkEntry.queries(name)(ctx.spark, ctx.data)
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)))
    val obs = Observation(s"digest_$name")
    df.observe(obs, count(lit(1)).as("n"), sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"),
        sum(shiftright(h, 32)).as("hi"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    s"${m("n")}:${Option(m("lo")).getOrElse(0L)}:${Option(m("hi")).getOrElse(0L)}"
  }

  /** Runs the pass; fills query_p50_ms, query_tail_ms, query_pass_s and,
    * traced, the per-family layer metrics. Returns each execution's wall ms.
    */
  def measure(): Seq[(String, Double)] = {
    val rep = ctx.report
    val tr = ctx.tracer
    val ref: Map[String, String] =
      if (!Files.exists(refPath)) Map.empty
      else "\"([a-z0-9_]+)\"\\s*:\\s*\"([0-9:-]+)\"".r
        .findAllMatchIn(Files.readString(refPath)).map(m => m.group(1) -> m.group(2)).toMap
    val r = new Gen.Rng(Gen.mix(ctx.seed, 5L))
    val order = Seq.fill(repeats)(queries.map(_._1)).flatten.toArray
    (order.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val walls = ArrayBuffer.empty[(String, Double)]
    val winStartMs = System.currentTimeMillis()
    val p0 = System.nanoTime()
    order.foreach { n =>
      val t0 = System.nanoTime()
      rep.attempt(1)
      try {
        val d = tr.span(s"query.$n")(run(n))
        if (!ref.get(n).contains(d)) rep.fail(1, s"$n digest $d, reference ${ref.getOrElse(n, "missing")}")
      } catch { case t: Throwable => rep.fail(1, s"$n threw ${t.getClass.getSimpleName}: ${t.getMessage}") }
      walls += ((n, (System.nanoTime() - t0) / 1e6))
      ctx.spark.sqlContext.clearCache()
    }
    val passS = (System.nanoTime() - p0) / 1e9
    val winEndMs = System.currentTimeMillis()
    rep.info("query_p50_ms", Stats.median(walls.map(_._2).toSeq), "ms", walls.size,
      s"${queries.size} queries × $repeats, seeded order")
    val (tail, pct) = Stats.tail(walls.map(_._2).toSeq)
    rep.info("query_tail_ms", tail, "ms", walls.size, s"p$pct")
    rep.info("query_pass_s", passS, "s", walls.size)

    // ---- per layer: query families, attributed by each query's time span
    if (tr.enabled) {
      val (jobs, stages, plans) = ctx.engine.window(winStartMs, winEndMs + 1)
      val toMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
      val spans = tr.all.filter(s => s.name.startsWith("query.") && family.contains(s.name.stripPrefix("query.")))
        .map(s => (family(s.name.stripPrefix("query.")), s.startNs / 1000000L + toMs,
          s.endNs / 1000000L + toMs, (s.endNs - s.startNs) / 1e6))
      queries.map(_._2).distinct.foreach { f =>
        val fs = spans.filter(_._1 == f)
        def in(ms: Long) = fs.exists { case (_, a, b, _) => ms >= a && ms <= b }
        val js = jobs.filter(j => in(j.startMs))
        val ids = js.flatMap(_.stages).toSet
        val ss = stages.filter(s => ids(s.id))
        rep.per(s"query.$f.wall_ms", fs.map(_._4).sum, "ms", fs.size)
        rep.per(s"query.$f.plan_ms", plans.filter(p => in(p.startMs)).map(_.planMs).sum, "ms", fs.size)
        rep.per(s"query.$f.jobs", js.size.toDouble, "count", fs.size)
        rep.per(s"query.$f.cpu_ms", ss.map(_.cpuNs).sum / 1e6, "ms", fs.size)
        rep.per(s"query.$f.shuffle_bytes", ss.map(s => (s.shuffleRead + s.shuffleWrite).toDouble).sum, "bytes", fs.size)
      }
    }
    walls.toSeq
  }
}

object QueryPhase {
  /** every control-plane and CDC query: driver planning and per-query floor */
  def interactive: Seq[(String, String)] =
    SparkEntry.queries.keys.filter(n => n.startsWith("cp_") || n.startsWith("cdc_")).toSeq.sorted
      .map(n => n -> n.takeWhile(_ != '_'))

  /** one query per heavy family: executor CPU and shuffle */
  val heavy: Seq[(String, String)] = Seq(
    "q5_nation_revenue" -> "rel", "mm_payload_near" -> "mm",
    "llm_curate_funnel" -> "curate", "llm_dedup_minhash" -> "dedup",
    "llm_ann_recall_pq_lloyd" -> "ann", "llm_fluency_idx" -> "stored",
    "llm_fluency_lang" -> "lang")
}
