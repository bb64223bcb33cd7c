package graft.perfbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Seeded input generators. Every value derives from the workload seed
  * and the position of the value (client, file, row), never from time or
  * thread order, so the same seed yields byte-identical files.
  *
  * Files are written with the parquet-mr example writer — generating load
  * costs no Spark job — into a staging directory and then renamed into
  * the source directory, so a stream never lists a half-written file.
  */
object Gen {

  /** SplitMix64: small, fast, and identical on every JVM. */
  final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextGaussian(): Double = {
      val u = math.max(nextDouble(), 1e-300)
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * nextDouble())
    }
  }

  def mix(a: Long, b: Long): Long = new Rng(a * 0x632BE59BD9B4E019L ^ b).nextLong()

  private val conf = new Configuration()

  /** Write `rows` with the parquet-mr writer to `staging`, then rename the
    * data file atomically into `dir` as `name`.
    */
  def writeParquet(schema: MessageType, staging: String, dir: String,
      name: String, rows: Iterator[SimpleGroupFactory => Group]): Unit = {
    Files.createDirectories(Paths.get(staging))
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(staging, name)
    val w = ExampleParquetWriter.builder(new Path(tmp.toUri))
      .withConf(conf).withType(schema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val f = new SimpleGroupFactory(schema)
    try rows.foreach(r => w.write(r(f))) finally w.close()
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  // ------------------------------------------------------------------ CDC

  val EventsSchema: MessageType = MessageTypeParser.parseMessageType(
    """message events {
      |  required int64 event_id; required int64 ts; required int64 user_id;
      |  required binary event_type (UTF8); required double value;
      |  required binary props (UTF8);
      |}""".stripMargin)

  private val EventTypes = Array("click", "view", "purchase", "error", "signup")
  private val Jan1Ns = 1704067200000000000L // 2024-01-01T00:00Z
  private val MonthNs = 29L * 86400L * 1000000000L

  /** One change event; `eventId` is unique across every client of a run. */
  final case class Event(eventId: Long, ts: Long, userId: Long,
      eventType: String, value: Double, props: String)

  /** Event ids of client `c` start at c·1e8, so payload ids (id·4+i) never
    * collide across clients.
    */
  def eventId(client: Int, ordinal: Long): Long = client * 100000000L + ordinal

  /** `n` events of client `c` starting at `ordinal`, drawn from (seed, c, file). */
  def events(seed: Long, client: Int, file: Int, ordinal: Long, n: Int): Seq[Event] = {
    val r = new Rng(mix(mix(seed, client.toLong), file.toLong))
    (0 until n).map { i =>
      Event(eventId(client, ordinal + i), Jan1Ns + (r.nextLong() >>> 1) % MonthNs,
        r.nextInt(100).toLong, EventTypes(r.nextInt(EventTypes.length)),
        r.nextInt(100000) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  def writeEvents(staging: String, dir: String, name: String, evs: Seq[Event]): Unit =
    writeParquet(EventsSchema, staging, dir, name, evs.iterator.map { e => (f: SimpleGroupFactory) =>
      f.newGroup().append("event_id", e.eventId).append("ts", e.ts)
        .append("user_id", e.userId).append("event_type", e.eventType)
        .append("value", e.value).append("props", e.props)
    })

  // -------------------------------------------------------------- documents

  val DocsSchema: MessageType = MessageTypeParser.parseMessageType(
    """message docs {
      |  required int64 doc_id; required binary text (UTF8);
      |  required group embedding (LIST) { repeated group list { required float element; } }
      |  required int32 label;
      |}""".stripMargin)

  val Dim = 32
  val Cells = 16
  val Vocab = 1000
  val Successors = 5
  /** The language every fluent doc is drawn from: a fixed first-order
    * Markov chain (each word has [[Successors]] successors), so the
    * reference LM built on the base corpus scores chain text near
    * 1/Successors and uniform word salad near zero.
    */
  private val words: Array[String] = {
    val r = new Rng(7L)
    val cons = "bcdfghjklmnprstvz"; val vow = "aeiou"
    Array.tabulate(Vocab) { i =>
      val sb = new StringBuilder
      (0 until 2 + r.nextInt(2)).foreach { _ =>
        sb += cons(r.nextInt(cons.length)); sb += vow(r.nextInt(vow.length))
      }
      sb.append(i % 10).toString
    }
  }
  private val next: Array[Array[Int]] = {
    val r = new Rng(11L)
    Array.fill(Vocab)(Array.fill(Successors)(r.nextInt(Vocab)))
  }

  /** Planted kinds; only fresh docs are meant to pass every gate. */
  object Kind extends Enumeration {
    val Fresh, ExactBase, NearBase, NearArriving, Paraphrase, Salad = Value
  }
  final case class Doc(id: Long, text: String, emb: Array[Float], label: Int,
      kind: Kind.Value) {
    def fresh: Boolean = kind == Kind.Fresh
  }

  private def chainText(r: Rng): String = {
    val n = 100 + r.nextInt(41)
    var w = r.nextInt(Vocab)
    val sb = new StringBuilder(words(w))
    (1 until n).foreach { _ => w = next(w)(r.nextInt(Successors)); sb += ' '; sb ++= words(w) }
    sb.toString
  }
  private def saladText(r: Rng): String =
    Seq.fill(100 + r.nextInt(41))(words(r.nextInt(Vocab))).mkString(" ")
  /** One appended token: a shingle edit that keeps Jaccard ≥ 0.99. */
  private def nearText(r: Rng, t: String): String = t + " " + words(r.nextInt(Vocab))
  private def randomVec(r: Rng): Array[Float] = Array.fill(Dim)(r.nextGaussian().toFloat)
  private def nearVec(r: Rng, v: Array[Float]): Array[Float] =
    v.map(x => (x + 0.03 * r.nextGaussian()).toFloat)

  def baseCorpus(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = new Rng(mix(seed, -1L))
    (0 until n).map(i => Doc(i.toLong, chainText(r), randomVec(r), r.nextInt(Cells), Kind.Fresh))
  }

  /** Per-file planted shares, in permille of the file (the rest is fresh). */
  val Shares: Seq[(Kind.Value, Int)] = Seq(
    Kind.ExactBase -> 80, Kind.NearBase -> 80, Kind.NearArriving -> 80,
    Kind.Paraphrase -> 80, Kind.Salad -> 80)

  /** The arriving stream: `files` files of `perFile` docs. Near copies of
    * arriving docs copy a fresh doc of an EARLIER file, so only the index
    * append makes them catchable; in file 0 those slots are fresh docs.
    */
  def arriving(seed: Long, base: IndexedSeq[Doc], files: Int, perFile: Int)
      : IndexedSeq[IndexedSeq[Doc]] = {
    val out = IndexedSeq.newBuilder[IndexedSeq[Doc]]
    val admittedSoFar = scala.collection.mutable.ArrayBuffer.empty[Doc]
    var nextId = base.size.toLong
    (0 until files).foreach { f =>
      val r = new Rng(mix(seed, f.toLong))
      val kinds = Shares.flatMap { case (k, pm) => Seq.fill(perFile * pm / 1000)(k) }
      val slots = (kinds ++ Seq.fill(perFile - kinds.size)(Kind.Fresh)).toArray
      // seeded shuffle of the slots within the file
      (slots.length - 1 to 1 by -1).foreach { i =>
        val j = r.nextInt(i + 1); val t = slots(i); slots(i) = slots(j); slots(j) = t
      }
      val docs = slots.toIndexedSeq.map { k0 =>
        val k = if (k0 == Kind.NearArriving && admittedSoFar.isEmpty) Kind.Fresh else k0
        val id = nextId; nextId += 1
        k match {
          case Kind.Fresh => Doc(id, chainText(r), randomVec(r), r.nextInt(Cells), k)
          case Kind.ExactBase =>
            val b = base(r.nextInt(base.size)); Doc(id, b.text, randomVec(r), r.nextInt(Cells), k)
          case Kind.NearBase =>
            val b = base(r.nextInt(base.size))
            Doc(id, nearText(r, b.text), randomVec(r), r.nextInt(Cells), k)
          case Kind.NearArriving =>
            val a = admittedSoFar(r.nextInt(admittedSoFar.size))
            Doc(id, nearText(r, a.text), randomVec(r), r.nextInt(Cells), k)
          case Kind.Paraphrase =>
            val b = base(r.nextInt(base.size)); Doc(id, chainText(r), nearVec(r, b.emb), b.label, k)
          case _ => Doc(id, saladText(r), randomVec(r), r.nextInt(Cells), k)
        }
      }
      admittedSoFar ++= docs.filter(_.fresh)
      out += docs
    }
    out.result()
  }

  def writeDocs(staging: String, dir: String, name: String, docs: Seq[Doc]): Unit =
    writeParquet(DocsSchema, staging, dir, name, docs.iterator.map { d => (f: SimpleGroupFactory) =>
      val g = f.newGroup().append("doc_id", d.id).append("text", d.text)
      val l = g.addGroup("embedding")
      d.emb.foreach(x => l.addGroup("list").append("element", x))
      g.append("label", d.label)
    })
}
