package graft.perfbench

import graft.cdc.{CdcView, ListenerManager, Pipeline, StatusBoard, Streaming, WebhookSink}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer

/** Workload `cdc`: a fleet of live listeners, one per core, started through
  * [[ListenerManager.startActive]]. Each is `Streaming.routed(spec)
  * .writeStream` with a processing-time trigger of 0 (a new epoch as soon
  * as the last one commits) and `foreachBatch(WebhookSink.deliver(cfg))`
  * — `Streaming.start` with only the trigger swapped — posting to its own
  * path on an in-process [[Receiver]].
  *
  * Phase 1 drains a pre-written backlog in a few large files (a restart
  * after downtime). Phase 2 is an open loop: one file of [[PerFile]]
  * events per tenant per tick, each event due at its tick. In phase 2 the
  * receiver turns faulty for tenant 0 only, with the reference retry and
  * backoff defaults on both sides: one outage long enough to exhaust the
  * sink's 3 attempts, so the epoch aborts uncommitted, the manager
  * restarts the runner from the checkpoint and the epoch replays; then,
  * from [[OutageMs]] after the outage ends, a seeded 1 % of 503s.
  * The other tenants never see a fault: any duplicate there is an error.
  *
  * Traced runs add phase 3, with the listeners stopped: the control plane,
  * one client running every `cp_*` and `cdc_*` query twice
  * ([[QueryPhase.interactive]]), for the per-family layer figures.
  */
final class CdcWorkload(ctx: Ctx) extends Workload {
  import CdcWorkload.FileMeta
  val PerFile = 100
  val TickMs = 1000L
  val tenants: Int = ctx.cores
  val BacklogFiles = 3
  val BacklogPerFile = 800
  val Flaky = 0
  /** outlasts the sink's 3 attempts (at 0, 1 and 3 s), but not the abort
    * plus the manager's 1 s restart backoff, so the replay finds the
    * receiver up again
    */
  val OutageMs = 3500L
  /** one POST in 100 (1 %) of the flaky tenant's gets a 503 */
  val RejectEvery = 100
  /** warm-up files per listener: enough small epochs to compile the
    * steady phase's path before it is measured
    */
  val WarmFiles = 8
  val WarmClient = 1000

  private val files = ArrayBuffer.empty[FileMeta]
  private val events = ArrayBuffer.empty[Gen.Event]
  private val nextOrdinal = Array.fill(tenants)(0L)

  private def src(dir: String, c: Int) = s"$dir/src$c"
  private def ckp(dir: String, c: Int) = s"$dir/ckp$c"

  private def writeFile(dir: String, c: Int, index: Int, n: Int, steady: Boolean): FileMeta = {
    val evs = Gen.events(ctx.seed, c, index, nextOrdinal(c), n)
    Gen.writeEvents(s"$dir/staging", src(dir, c), f"f$index%05d.parquet", evs)
    val m = FileMeta(c, nextOrdinal(c), n, steady)
    nextOrdinal(c) += n
    files += m
    events ++= evs
    m
  }

  /** `Streaming.start` with only the trigger swapped: a new epoch as soon
    * as the last one commits.
    */
  private def listen(id: String, srcDir: String, ckpDir: String,
      deliver: (DataFrame, Long) => Unit): StreamingQuery =
    Streaming.routed(ctx.spark, Streaming.PipelineSpec(id, srcDir, ckpDir))
      .writeStream
      .queryName(StatusBoard.queryName(id))
      .option("checkpointLocation", ckpDir)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (b: DataFrame, e: Long) => deliver(b, e) }
      .start()

  def prepare(ctx: Ctx, dir: String): Unit = {
    // warm-up: the steady phase's path (one listener per core, small
    // files, a new epoch per file or two) on ids, paths and a receiver the
    // measured run never uses
    val warm = new Receiver(tenants * WarmFiles * PerFile * 2 + 4096)
    try {
      def file(c: Int, k: Int): Unit = Gen.writeEvents(s"$dir/staging", s"$dir/warm/src$c",
        f"w$k%03d.parquet", Gen.events(ctx.seed, WarmClient + c, k, k.toLong * PerFile, PerFile))
      (0 until tenants).foreach(file(_, 0))
      val qs = (0 until tenants).map(c => listen(s"warm$c", s"$dir/warm/src$c", s"$dir/warm/ckp$c",
        WebhookSink.deliver(WebhookSink.Config(warm.url(s"/warm$c"))) _))
      (1 until WarmFiles).foreach { k =>
        Thread.sleep(TickMs / 4)
        (0 until tenants).foreach(file(_, k))
      }
      val done = awaitConsumed((0 until tenants).map(c => s"warm$c"), WarmFiles, 60000L)
      qs.foreach(_.stop())
      if (!done) sys.error("warm-up files not consumed within 60 s")
    } finally warm.close()
    for (c <- 0 until tenants; f <- 0 until BacklogFiles)
      writeFile(dir, c, f, BacklogPerFile, steady = false)
  }

  /** Files consumed by listener `id`'s live query, from its last progress. */
  private def consumed(id: String): Long =
    ctx.spark.streams.active.find(_.name == StatusBoard.queryName(id))
      .flatMap(q => Option(q.lastProgress))
      .flatMap(p => p.sources.headOption.map(_.endOffset))
      .flatMap(o => "\"logOffset\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(o).map(_.group(1).toLong + 1))
      .getOrElse(0L)

  private def awaitConsumed(ids: Seq[String], files: Int, timeoutMs: Long): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline) {
      if (ids.forall(consumed(_) >= files)) return true
      Thread.sleep(10)
    }
    false
  }

  private def fleetIds = (0 until tenants).map(c => s"c$c")

  def measure(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val rep = ctx.report
    val ticks = math.max(4, (ctx.seconds * 1000L / TickMs).toInt)
    // the outage opens halfway through the flaky tenant's second or third
    // steady file (seeded), so the aborted epoch has delivered part of it
    val r = new Gen.Rng(Gen.mix(ctx.seed, 77L))
    val outageFile = 1 + r.nextInt(2)
    val outageAt = Array(Gen.eventId(Flaky, BacklogFiles * BacklogPerFile + outageFile * PerFile + PerFile / 2) * 4)
    val capacity = (events.size + ticks * tenants * PerFile) * 2 + 10000
    val recv = new Receiver(capacity, s"/hook/c$Flaky", RejectEvery, r.nextInt(RejectEvery),
      outageAt, OutageMs)
    val subscribes = new AtomicInteger(0)
    val alerts = new AtomicInteger(0)
    val mgr = new ListenerManager(onAlert = _ => alerts.incrementAndGet())
    def subscribe(id: String): StreamingQuery = {
      val c = id.stripPrefix("c").toInt
      subscribes.incrementAndGet()
      val d = WebhookSink.deliver(WebhookSink.Config(recv.url(s"/hook/$id"))) _
      val deliver: (DataFrame, Long) => Unit =
        if (tr.enabled) (b, e) => tr.span("sink.deliver")(d(b, e)) else d
      tr.span("lifecycle.subscribe")(listen(id, src(dir, c), ckp(dir, c), deliver))
    }
    import spark.implicits._
    val fleet = (0 until tenants).map(c => (s"c$c", true)).toDF("client_id", "is_active")
    fleet.cache().count()

    // ---- phase 1: drain the backlog
    val t1 = System.nanoTime()
    files.foreach(_.dueNs = t1)
    val winStartMs = System.currentTimeMillis()
    mgr.startActive(fleet)(subscribe)
    if (!awaitConsumed(fleetIds, BacklogFiles, 120000L)) rep.fail(1, "backlog not drained within 120 s")

    // ---- phase 2: open-loop generator, one file per tenant per tick;
    // tenant c's ticks are offset by c/tenants of a tick
    recv.arm()
    val t2 = System.nanoTime() + 50000000L
    var lagMaxNs = 0L
    val tickNs = TickMs * 1000000L
    for (k <- 0 until ticks; c <- 0 until tenants) {
      val due = t2 + k * tickNs + c * tickNs / tenants
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      lagMaxNs = math.max(lagMaxNs, System.nanoTime() - due)
      writeFile(dir, c, BacklogFiles + k, PerFile, steady = true).dueNs = due
    }
    if (!awaitConsumed(fleetIds, BacklogFiles + ticks, 60000L))
      rep.fail(1, "steady-phase files not consumed within 60 s of the last tick")
    val winEndMs = System.currentTimeMillis()
    mgr.stopAll()
    spark.streams.active.foreach(_.stop())
    val (ids, atNs, hashes) = recv.receipts
    recv.close()

    // ---- correctness: received payloads vs the DuckDB-checked payload path
    val expected: Map[Long, Int] = {
      val evDf = spark.createDataFrame(spark.sparkContext.parallelize(
        events.toSeq.map(e => Row(e.eventId, e.ts, e.userId, e.eventType, e.value, e.props)), 1),
        Streaming.eventsSchema)
      WebhookSink.payloadJson(Pipeline.deliveries(CdcView.fromEvents(evDf)))
        .collect().map(r => r.getString(0).stripPrefix("R").toLong ->
          java.util.Arrays.hashCode(r.getString(1).getBytes("UTF-8"))).toMap
    }
    val first = scala.collection.mutable.HashMap.empty[Long, Long]
    val dups = Array.fill(tenants)(0L)
    var wrongBody = 0L
    var unexpected = 0L
    ids.indices.foreach { i =>
      val id = ids(i)
      expected.get(id) match {
        case None => unexpected += 1
        case Some(h) =>
          if (h != hashes(i)) wrongBody += 1
          first.get(id) match {
            case Some(at) => dups(tenantOf(id)) += 1; first(id) = math.min(at, atNs(i))
            case None => first(id) = atNs(i)
          }
      }
    }
    rep.attempt(expected.size)
    rep.fail(expected.keySet.count(id => !first.contains(id)), "expected payloads never received")
    rep.fail(unexpected, "received payloads not in the expected set")
    rep.fail(wrongBody, "payload bodies that differ from payload_json")
    if (recv.overflowed) rep.fail(1, "receiver capacity exceeded")
    rep.fail(dups.indices.filter(_ != Flaky).map(dups(_)).sum, "duplicate deliveries to a healthy tenant")
    // the flaky tenant must have gone through retry, abort, restart and replay
    if (recv.outagesOpened.get() < outageAt.length) rep.fail(1, "the flaky tenant's outage never opened")
    if (subscribes.get() - tenants < 1) rep.fail(1, "the flaky tenant's listener was never restarted")
    if (dups(Flaky) == 0) rep.fail(1, "no payload of the flaky tenant was delivered twice")

    // ---- end-to-end figures
    val fileOf: Map[Long, FileMeta] =
      first.keys.map(id => id -> files.find(_.covers(id / 4)).get).toMap
    val backlogAt = first.collect { case (id, at) if !fileOf(id).steady => at }
    val drainS = ((if (backlogAt.isEmpty) t1 else backlogAt.max) - t1) / 1e9
    val backlogEvents = files.filterNot(_.steady).map(_.n.toLong).sum
    val lat = first.toSeq.collect { case (id, at) if fileOf(id).steady =>
      (tenantOf(id), (at - fileOf(id).dueNs) / 1e6) }
    val healthyLat = lat.collect { case (c, l) if c != Flaky => l }
    val flakyLat = lat.collect { case (c, l) if c == Flaky => l }
    // healthy tenants' backlog at each due time: files due minus files whose
    // payloads all arrived; it must not grow from the first to the last quarter
    val steadyFiles = files.filter(f => f.steady && f.tenant != Flaky).toList
    val byFile = first.toSeq.groupBy { case (id, _) => fileOf(id) }
    val doneAt = steadyFiles.map(f => byFile.get(f).map(_.map(_._2).max).getOrElse(f.dueNs))
    val dues = steadyFiles.map(_.dueNs).sorted
    val backlog = dues.map(t => dues.count(_ <= t) - doneAt.count(_ <= t))
    val q = math.max(1, backlog.size / 4)
    val growth = Stats.median(backlog.takeRight(q).map(_.toDouble)) -
      Stats.median(backlog.take(q).map(_.toDouble))
    val grew = growth > tenants - 1
    if (grew) rep.fail(1, f"healthy tenants' steady-phase backlog grew by $growth%.1f files")
    val p50 = Stats.median(healthyLat)
    rep.end("latency_p50_ms", if (grew) Double.NaN else p50, "ms", healthyLat.size,
      "steady phase, healthy tenants: first receipt minus due time")
    // the flaky tenant's tail is its recovery from the outage
    val (tail, tailPct) = Stats.tail(flakyLat)
    rep.end("latency_tail_ms", if (grew) Double.NaN else tail, "ms", flakyLat.size,
      s"steady phase, flaky tenant, p$tailPct")
    val drainRate = backlogEvents / math.max(drainS, 1e-9)
    rep.end("throughput_per_s", drainRate, "1/s", backlogEvents,
      "backlog source events / listener start to last backlog payload received")
    val (htail, hpct) = Stats.tail(healthyLat)
    rep.info("healthy_delivery_tail_ms", htail, "ms", healthyLat.size, s"p$hpct")
    rep.info("flaky_delivery_p50_ms", Stats.median(flakyLat), "ms", flakyLat.size)
    val flakyUnique = expected.keys.count(id => tenantOf(id) == Flaky)
    rep.info("duplicate_ratio", dups(Flaky).toDouble / math.max(flakyUnique, 1), "ratio", flakyUnique,
      "flaky tenant: receipts beyond the first / unique expected payloads")
    rep.info("backlog_growth_files", growth, "count", backlog.size)
    rep.info("outages_opened", recv.outagesOpened.get().toDouble, "count", outageAt.length)
    rep.info("restarts", (subscribes.get() - tenants).toDouble, "count", 1)

    // ---- per layer
    rep.per("sink.posts", recv.posts.get().toDouble, "count", 1)
    rep.per("sink.rejected", recv.rejected.get().toDouble, "count", 1)
    rep.per("sink.useful_post_ratio", first.size / math.max(recv.posts.get().toDouble, 1.0),
      "ratio", recv.posts.get(), "unique payloads / POSTs received")
    rep.per("sink.receiver_busy_ms", recv.busyNs.get() / 1e6, "ms", recv.posts.get())
    rep.per("lifecycle.subscribes", subscribes.get().toDouble, "count", 1)
    rep.per("lifecycle.replayed_payloads", dups.sum.toDouble, "count", 1)
    rep.per("lifecycle.alerts", alerts.get().toDouble, "count", 1)
    rep.per("cdc.backlog_max_files", if (backlog.isEmpty) 0.0 else backlog.max.toDouble, "count", backlog.size)
    rep.per("cdc.ckpt_bytes", (0 until tenants).map(c =>
      org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(ckp(dir, c)))).sum.toDouble,
      "bytes", tenants)
    rep.end("peak_rss_mb", Main.peakRssMb, "MB", 1, "VmHWM of the benchmark JVM")
    rep.per("gen.lag_max_ms", lagMaxNs / 1e6, "ms", ticks * tenants)
    rep.per("gen.events", events.size.toDouble, "count", 1)
    if (tr.enabled) {
      val (prog, term) = ctx.progress.all
      val ours = prog.filter(p => p.name.startsWith("listener-") && p.startMs >= winStartMs)
      val data = ours.filter(_.rows > 0)
      def med(k: String) = Stats.median(data.map(_.durations.getOrElse(k, 0L).toDouble))
      rep.per("cdc.latest_offset_ms", med("latestOffset"), "ms", data.size)
      rep.per("cdc.get_batch_ms", med("getBatch"), "ms", data.size)
      rep.per("cdc.planning_ms", med("queryPlanning"), "ms", data.size)
      rep.per("cdc.add_batch_ms", med("addBatch"), "ms", data.size)
      rep.per("cdc.wal_commit_ms", med("walCommit"), "ms", data.size)
      rep.per("cdc.commit_offsets_ms", med("commitOffsets"), "ms", data.size)
      rep.per("cdc.trigger_ms", med("triggerExecution"), "ms", data.size)
      rep.per("cdc.epochs", data.size.toDouble, "count", data.size)
      rep.per("cdc.rows_per_epoch", Stats.median(data.map(_.rows.toDouble)), "count", data.size)
      val deliver = tr.named("sink.deliver")
      rep.per("sink.deliver_ms", Stats.median(deliver.map(s => (s.endNs - s.startNs) / 1e6)), "ms", deliver.size)
      val failed = term.filter(t => t.failed && t.name.startsWith("listener-"))
      // restart gap: a failed run's termination to the next data-bearing epoch of that listener
      val gaps = failed.flatMap { t =>
        data.filter(p => p.name == t.name && p.startMs >= t.atMs).map(_.startMs).sorted
          .headOption.map(s => (s - t.atMs).toDouble)
      }
      rep.per("lifecycle.failed_runs", failed.size.toDouble, "count", 1)
      rep.per("lifecycle.restart_gap_ms", Stats.median(gaps), "ms", gaps.size)
      Engine.metrics(ctx, winStartMs, winEndMs)
      // phase 3, traced runs only: the control plane reads (listeners stopped)
      new QueryPhase(ctx, QueryPhase.interactive, 2).measure()
    }
  }

  private def tenantOf(payloadId: Long): Int = (payloadId / 4 / 100000000L).toInt
}

object CdcWorkload {
  /** One events file of a tenant: its event ordinals and when it was due. */
  final case class FileMeta(tenant: Int, first: Long, n: Int, steady: Boolean) {
    var dueNs: Long = 0L
    def covers(eventId: Long): Boolean =
      eventId >= Gen.eventId(tenant, first) && eventId < Gen.eventId(tenant, first + n)
  }
}
