package graft.perfbench

/** The minhash gate's documented rule, restated without Spark: word
  * trigram shingles, 56-bit md5-prefix shingle hashes mod 2^31-1, twelve
  * affine minima in four bands of three, and an exact Jaccard verify over
  * the hashed shingle sets. A doc is a near duplicate when it shares a
  * band with an indexed doc and their Jaccard reaches the threshold. The
  * benchmark's ingest check compares the live gate with this rule, so a
  * near copy the rule itself misses is expected to be admitted (and is
  * counted as an LSH escape), while any other difference is an error.
  */
object LshSpec {
  import graft.functions.MinHashSigs.{MersenneP, NumHashes, affineA, affineB}

  final case class Sig(gs: Set[Long], bands: Seq[(Long, Long, Long)])

  private def h56(s: String): Long = {
    val b = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    (0 until 7).foldLeft(0L)((acc, i) => (acc << 8) | (b(i) & 0xffL))
  }

  def sig(text: String): Sig = {
    val toks = text.split(" ", -1)
    val shingles = (0 until math.max(toks.length - 2, 1))
      .map(i => toks.slice(i, i + 3).mkString(" ")).distinct
    val gs = shingles.map(h56(_) % MersenneP).toSet
    val mins = (1 to NumHashes).map(j => gs.iterator.map(g => (affineA(j) * g + affineB(j)) % MersenneP).min)
    Sig(gs, mins.grouped(3).map(b => (b(0), b(1), b(2))).toSeq)
  }

  /** An index of signatures, bucketed by band like the stored band table. */
  final class Index {
    private val byBand = scala.collection.mutable.HashMap.empty[(Int, (Long, Long, Long)), List[Sig]]
    def add(s: Sig): Unit = s.bands.zipWithIndex.foreach { case (b, i) =>
      byBand((i, b)) = s :: byBand.getOrElse((i, b), Nil)
    }
    /** Does `doc` share a band with an indexed doc at Jaccard ≥ threshold? */
    def isNearDup(doc: Sig, threshold: Double): Boolean =
      doc.bands.zipWithIndex.iterator.flatMap { case (b, i) => byBand.getOrElse((i, b), Nil) }
        .exists { o =>
          val inter = doc.gs.count(o.gs.contains)
          inter.toDouble / (doc.gs.size + o.gs.size - inter) >= threshold
        }
  }
}
